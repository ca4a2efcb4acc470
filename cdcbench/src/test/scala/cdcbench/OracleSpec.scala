package cdcbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dsl.PipelineConfig
import graft.engine.CdcEngine
import graft.engine.CdcEngine.ReplayConfig
import graft.gen.EventLogGen
import graft.gen.EventLogGen.GenConfig
import graft.oracle.FoldOracle

/** The benchmark's final-state oracle against the library's sequential
  * fold oracle, and against a replayed lake with one corrupted row.
  */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: Path = _
  private val gen = GenConfig(seed = 7L, events = 6000L, repos = 12, pathsPerRepo = 40,
    rowsPerFile = 500L)

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("cdcbench-oracle")
    spark = Main.session(2, work)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Host.deleteRecursively(work)
  }

  /** The oracle's canonical row, built from a fold-oracle row. */
  private def foldRow(fr: FoldOracle.FinalRow): Oracle.Row = {
    val tokens = java.util.regex.Pattern.compile(Oracle.TokenPattern).matcher(fr.content)
    var n = 0
    while (tokens.find()) n += 1
    val sha = FoldOracle.rowSha256(fr.content)
    val canonical = Seq(fr.repo, fr.path, fr.commit, fr.lang.toLowerCase, sha, sha,
      fr.sizeBytes.fold("null")(_.toString), n.toString).mkString("\u0001")
    Oracle.Row(fr.repo, fr.path, FoldOracle.rowSha256(canonical))
  }

  test("expected state equals the sequential fold oracle row for row") {
    val log = work.resolve("fold-log").toString
    EventLogGen.writeLog(spark, gen, log)
    val folded = FoldOracle.replay(spark, log).values.map(foldRow).toArray
      .sortBy(r => (r.repo, r.path))
    val expected = Oracle.rows(Oracle.expected(spark, log))
    assert(folded.nonEmpty)
    val v = Oracle.compare(folded, expected)
    assert(v.ok, v.toString)
  }

  test("a replayed lake passes, and one corrupted row fails it") {
    val log = work.resolve("lake-log").toString
    EventLogGen.writeLog(spark, gen, log)
    val pipeline = PipelineConfig.parse(Main.StandardPipelineYaml).transform
    val lake = CdcEngine.replayToEnd(spark, ReplayConfig(log, work.resolve("lake").toString,
      work.resolve("ckpt").toString, maxFilesPerTrigger = Some(4)), pipeline)
    val expected = Oracle.rows(Oracle.expected(spark, log))
    val clean = Oracle.compare(expected, Oracle.rows(Oracle.actual(lake.read(spark))))
    assert(clean.ok, clean.toString)

    // rewrite one live row with a newer event whose content differs
    val victim = lake.read(spark).orderBy("repo", "path").limit(1)
      .withColumn("content", concat(col("content"), lit(" ")))
      .withColumn("op", lit("upsert"))
      .withColumn("seq", lit(gen.events + 1))
    lake.merge(victim, lake.snapshot().lastCommittedBatchId + 1)
    val corrupted = Oracle.compare(expected, Oracle.rows(Oracle.actual(lake.read(spark))))
    assert(!corrupted.ok)
    assert(corrupted.rowMismatches == 1)
    assert(corrupted.actualRows == corrupted.expectedRows)
    assert(corrupted.actualDigest != corrupted.expectedDigest)
  }
}
