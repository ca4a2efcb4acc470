package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.SparkTestBase

/** Trigger-time check-batching (VERDICT r3 stretch #8): the sink must
  * observe EXACTLY the reference batching policy's flush boundaries —
  * the triggering message closes (and belongs to) its batch, leftovers
  * flush at end of input, flushes arrive in ascending batch order.
  */
class CheckBatchingSpec extends SparkTestBase {
  import spark.implicits._

  private def delivered(df: DataFrame, check: String,
                        cap: Int = 4096): (Long, Seq[(Long, Seq[Long])]) = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    val n = CheckBatching.deliver(df, check, tmpDir("cbspool"),
      (b, k) => buf += k ->
        b.select("seq").collect().map(_.getLong(0)).sorted.toSeq,
      maxBatches = cap)
    (n, buf.toSeq)
  }

  test("trigger closes its batch; tail flushes; ascending flush order") {
    val df = Seq(
      (1L, "a"), (2L, "FLUSH"), (3L, "b"), (4L, "c"), (5L, "FLUSH"),
      (6L, "d")).toDF("seq", "v")
    val (n, batches) = delivered(df, """this.v == "FLUSH"""")
    assert(n == 3)
    assert(batches == Seq(
      0L -> Seq(1L, 2L),       // trigger 2 closes batch 0, included
      1L -> Seq(3L, 4L, 5L),   // trigger 5 closes batch 1
      2L -> Seq(6L)))          // end-of-input flushes the tail
  }

  test("no trigger = one whole-input flush; trigger on the last row leaves no tail") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("seq", "v")
    assert(delivered(df, """this.v == "X"""") ==
      (1L, Seq(0L -> Seq(1L, 2L))))
    val df2 = Seq((1L, "a"), (2L, "FLUSH")).toDF("seq", "v")
    assert(delivered(df2, """this.v == "FLUSH"""") ==
      (1L, Seq(0L -> Seq(1L, 2L))))
  }

  test("the flush-count cap is loud") {
    val df = (1L to 10L).map(i => (i, "FLUSH")).toDF("seq", "v")
    val e = intercept[IllegalArgumentException](
      delivered(df, """this.v == "FLUSH"""", cap = 3))
    assert(e.getMessage.contains("flushes"))
  }

  test("batching.check on a YAML output wraps the sink; flush ids stay distinct") {
    // parse: file output with batching.check → CheckBatched wrapper
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val parsed = graft.dsl.PipelineConfig.parseSink(mapper.readTree(
      """{"file": {"path": "/tmp/x", "codec": "jsonl",
        |  "batching": {"check": "this.v == \"FLUSH\""}}}""".stripMargin))
    val wrapped = parsed match {
      case graft.sinks.Sink.CheckBatched(inner, check, _, _, _) =>
        assert(check.contains("FLUSH"))
        assert(inner.isInstanceOf[graft.sinks.Sink.TextDir])
        true
      case other => fail(s"expected CheckBatched, got $other")
    }
    assert(wrapped)
    // delivery through the wrapper: a recording inner sink sees the
    // reference's boundaries with parent*MaxFlushes+k ids
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    val rec = new graft.sinks.Sink {
      def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        seen += id -> b.select("seq").collect().map(_.getLong(0)).sorted.toSeq
    }
    val df = Seq((1L, "a"), (2L, "FLUSH"), (3L, "b")).toDF("seq", "v")
    graft.sinks.Sink.CheckBatched(rec, """this.v == "FLUSH"""").write(df, 7L)
    val m = CheckBatching.MaxFlushes
    assert(seen.toSeq == Seq(
      (7L * m + 0) -> Seq(1L, 2L),
      (7L * m + 1) -> Seq(3L)))
  }

  test("a frame without the order column is a LOUD error, not partition-order cuts (r4 ADVICE)") {
    val df = Seq(("a", 1L), ("FLUSH", 2L)).toDF("v", "n")
    val e = intercept[IllegalArgumentException](
      CheckBatching.withBatchIds(df, """this.v == "FLUSH""""))
    assert(e.getMessage.contains("order column"))
    // naming the real order column works without a `seq`
    val ids = CheckBatching.withBatchIds(df, """this.v == "FLUSH"""",
        orderCol = "n")
      .select("n", CheckBatching.BatchCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids == Map(1L -> 0L, 2L -> 0L))
    // a structurally unusable order column is rejected at the driver
    // (structs can't order; fractional doubles truncate into ties),
    // and a null order VALUE errors at runtime — none may silently
    // degrade to partition-order cuts (r5 review)
    import org.apache.spark.sql.functions.{struct => fstruct, col => fcol}
    val structs = Seq(("a", 1L)).toDF("v", "n").withColumn("o", fstruct($"n"))
    val e2 = intercept[IllegalArgumentException](
      CheckBatching.withBatchIds(structs, "this.v", orderCol = "o"))
    assert(e2.getMessage.contains("truncate into ties"))
    val doubles = Seq(("a", 1.2), ("b", 1.9)).toDF("v", "d")
    intercept[IllegalArgumentException](
      CheckBatching.withBatchIds(doubles, "this.v", orderCol = "d"))
    // fractional numeric STRINGS hit the purpose-built per-row raise,
    // not a generic cast error or a silent tie (r5 review)
    val fracStr = Seq(("a", "1.2"), ("b", "1.9")).toDF("v", "s")
    val e3 = intercept[Exception](
      CheckBatching.withBatchIds(fracStr, "this.v", orderCol = "s").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e3).exists(_.contains("non-integral string")))
    // integral strings past the 64-bit range hit the same raise, not a
    // generic cast overflow or a misleading "null" error; the range's
    // ends still order
    Seq("9223372036854775808", "-9223372036854775809", "1" * 20).foreach { big =>
      val e4 = intercept[Exception](CheckBatching.withBatchIds(
        Seq(("a", "1"), ("b", big)).toDF("v", "s"), "this.v", orderCol = "s").collect())
      assert(msgs(e4).exists(_.contains("outside the 64-bit range")), s"$big: ${msgs(e4)}")
    }
    val ends = CheckBatching.withBatchIds(
        Seq(("FLUSH", "-9223372036854775808"), ("b", "9223372036854775807")).toDF("v", "s"),
        """this.v == "FLUSH"""", orderCol = "s")
      .select("v", CheckBatching.BatchCol).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ends == Map("FLUSH" -> 0L, "b" -> 1L))
    val withNull = Seq(("a", java.lang.Long.valueOf(1L)), ("b", null))
      .toDF("v", "seq")
    intercept[Exception](
      CheckBatching.withBatchIds(withNull, "this.v").collect())
    // timestamps order by MICROSECONDS: same-second rows must not tie
    // (a plain long cast truncates to seconds — r5 review)
    val ts = Seq(("a", "2024-01-01 00:00:00.1"), ("FLUSH", "2024-01-01 00:00:00.2"),
        ("b", "2024-01-01 00:00:00.3")).toDF("v", "t")
      .withColumn("t", fcol("t").cast("timestamp"))
    val cuts = CheckBatching.withBatchIds(ts, """this.v == "FLUSH"""", orderCol = "t")
      .select("v", CheckBatching.BatchCol).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cuts == Map("a" -> 0L, "FLUSH" -> 0L, "b" -> 1L))
    // the YAML surface names the order column
    val mapper2 = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val p2 = graft.dsl.PipelineConfig.parseSink(mapper2.readTree(
      """{"file": {"path": "/tmp/x", "codec": "jsonl",
        |  "batching": {"check": "this.v", "order": "n", "max_flushes": 7}}}""".stripMargin))
    p2 match {
      case graft.sinks.Sink.CheckBatched(_, _, _, mf, oc) =>
        assert(mf == 7 && oc == "n")
      case other => fail(s"expected CheckBatched, got $other")
    }
    // bad max_flushes is a parse-time error, not a runtime cap-0 death
    intercept[IllegalArgumentException](graft.dsl.PipelineConfig.parseSink(
      mapper2.readTree("""{"file": {"path": "/tmp/x", "codec": "jsonl",
        | "batching": {"check": "this.v", "max_flushes": "plenty"}}}""".stripMargin)))
  }

  test("two concurrent deliveries under one spool root do not interfere (r4 VERDICT #8)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir("cb-shared")
    def sinkFor(buf: scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]) =
      new graft.sinks.Sink {
        def write(b: DataFrame, id: Long): Unit = buf.synchronized {
          buf += id -> b.select("seq").collect().map(_.getLong(0)).sorted.toSeq
        }
      }
    val bufA = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    val bufB = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    val dfA = Seq((1L, "a"), (2L, "FLUSH"), (3L, "b")).toDF("seq", "v")
    val dfB = Seq((10L, "FLUSH"), (11L, "c"), (12L, "FLUSH")).toDF("seq", "v")
    val sA = graft.sinks.Sink.CheckBatched(sinkFor(bufA),
      """this.v == "FLUSH"""", spoolRoot = Some(root))
    val sB = graft.sinks.Sink.CheckBatched(sinkFor(bufB),
      """this.v == "FLUSH"""", spoolRoot = Some(root))
    // same parent batch id from both writers — only the per-call nonce
    // keeps their spools apart
    val f = Future(sA.write(dfA, 7L))
    sB.write(dfB, 7L)
    Await.result(f, 120.seconds)
    val stride = CheckBatching.MaxFlushes.toLong
    assert(bufA.sortBy(_._1).toSeq ==
      Seq((7L * stride) -> Seq(1L, 2L), (7L * stride + 1) -> Seq(3L)))
    assert(bufB.sortBy(_._1).toSeq ==
      Seq((7L * stride) -> Seq(10L), (7L * stride + 1) -> Seq(11L, 12L)))
  }

  test("empty input flushes nothing (and does not crash the spool read)") {
    val df = Seq((1L, "a")).toDF("seq", "v").filter("seq < 0")
    val (n, batches) = delivered(df, """this.v == "FLUSH"""")
    assert(n == 0L && batches.isEmpty)
  }

  test("batching config misuse is loud: non-check fields, unsupported outputs") {
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    // count/byte_size/period are trigger settings, not sink config
    val e1 = intercept[IllegalArgumentException](
      graft.dsl.PipelineConfig.parseSink(mapper.readTree(
        """{"file": {"path": "/tmp/x", "batching": {"count": 100}}}""")))
    assert(e1.getMessage.contains("TRIGGER"))
    // outputs that cannot re-cut flushes reject batching outright
    val e2 = intercept[IllegalArgumentException](
      graft.dsl.PipelineConfig.parseSink(mapper.readTree(
        """{"drop": {"batching": {"check": "this.x"}}}""")))
    assert(e2.getMessage.contains("does not support"))
    // spool parses through to the wrapper
    val parsed = graft.dsl.PipelineConfig.parseSink(mapper.readTree(
      """{"file": {"path": "/tmp/x",
        |  "batching": {"check": "this.x", "spool": "/shared/spool"}}}""".stripMargin))
    assert(parsed.asInstanceOf[graft.sinks.Sink.CheckBatched]
      .spoolRoot.contains("/shared/spool"))
  }

  test("an explicit spool root is cleaned up after delivery") {
    val root = tmpDir("cbspoolroot")
    val df = Seq((1L, "a"), (2L, "FLUSH")).toDF("seq", "v")
    val rec = new graft.sinks.Sink {
      def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit = b.count()
    }
    graft.sinks.Sink.CheckBatched(rec, """this.v == "FLUSH"""", Some(root))
      .write(df, 1L)
    val leftovers = new java.io.File(root).listFiles()
    assert(leftovers == null || leftovers.isEmpty,
      s"spool dirs left behind: ${Option(leftovers).toSeq.flatten.mkString(",")}")
  }

  test("numeric check over a larger frame matches the exclusive-prefix rule") {
    val df = (1L to 400L).map(i => (i, i)).toDF("seq", "n")
    val (n, batches) = delivered(df, "this.n % 100 == 0")
    assert(n == 4)
    assert(batches.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(batches(0)._2 == (1L to 100L))
    assert(batches(3)._2 == (301L to 400L))
  }
}
