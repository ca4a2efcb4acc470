package cdcbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.lake.LakeTable

/** One workload cycle: replay into a fresh lake and checkpoint, then
  * full and single-repo reads, then compactions.
  */
object Cycle {
  /** Each kind of read repeats at least this often and for at least
    * [[ReadSeconds]], so cheap reads get enough samples for a median.
    */
  val Reads = 3
  val ReadSeconds = 1.0

  def repeated(f: => Unit): Seq[Double] = {
    val t0 = System.nanoTime()
    val times = ArrayBuffer.empty[Double]
    while (times.size < Reads || (System.nanoTime() - t0) / 1e9 < ReadSeconds)
      times += Host.seconds(f)._2
    times.toSeq
  }

  /** Compaction runs once per identical copy of the replayed lake (the
    * lake itself is the last), so the cycle can report a median.
    */
  val Compactions = 5

  final case class Outcome(dir: Path, run: Replay.Run, scanS: Seq[Double], repoS: Seq[Double],
                           compactS: Seq[Double], writeAmp: Double) {
    def ops: Long = run.batches.size + scanS.size + repoS.size + compactS.size
  }

  /** The workload's replay: the open loop, or a bulk replay. */
  def replay(spark: SparkSession, wl: Workload, setup: Setup, dir: Path,
             progress: Replay.ProgressLog, seconds: Int): Replay.Run =
    if (wl.openLoop) {
      // the open loop consumes its files, so it moves copies
      val staged = Files.createDirectories(dir.resolve("staged"))
      val files = setup.log.files.map(f => Files.copy(f, staged.resolve(f.getFileName)))
      Replay.openLoop(spark, wl, Log(staged, files, setup.log.events), dir,
        setup.pipeline, progress, seconds)
    } else Replay.bulk(spark, wl, setup.log, dir, setup.pipeline, progress)

  def apply(spark: SparkSession, wl: Workload, setup: Setup, dir: Path,
            progress: Replay.ProgressLog, seconds: Int): Outcome = {
    val run = replay(spark, wl, setup, dir, progress, seconds)
    // data files are never deleted before compaction (no vacuum), so
    // this is every byte the replay's commits wrote
    val writeAmp = Host.treeBytes(Paths.get(run.lake.root, "data")).toDouble / setup.logBytes
    val scans = repeated(Main.noop(run.lake.read(spark)))
    val repos = repeated(Main.noop(run.lake.readRepos(spark, Seq(Workloads.HotRepo))))
    val copies = (1 until Compactions).map { i =>
      val copy = dir.resolve(s"lake-copy-$i")
      Host.copyTree(Paths.get(run.lake.root), copy)
      new LakeTable(copy.toString, Workloads.LakeBuckets, 0L, wl.mergeOnRead)
    } :+ run.lake
    // threshold 0 rewrites every bucket, so compaction does the same
    // work on every workload (a copy-on-write merge leaves few or no
    // fat buckets at the default threshold)
    val compacts = copies.map(lake => Host.seconds(lake.compact(spark, 0))._2)
    Outcome(dir, run, scans, repos, compacts, writeAmp)
  }

  /** Final-state check of each cycle's lake against the oracle. */
  def check(spark: SparkSession, setup: Setup, cycles: Seq[Outcome]): Seq[Boolean] = {
    val expected = Oracle.rows(Oracle.expected(spark, setup.log.dir.toString))
    cycles.map { c =>
      try {
        val v = Oracle.compare(expected, Oracle.rows(Oracle.actual(c.run.lake.read(spark))))
        if (!v.ok) System.err.println(s"final-state mismatch in ${c.dir}: $v")
        v.ok
      } catch { case NonFatal(e) => e.printStackTrace(); false }
    }
  }
}

/** The end-to-end run: cycles back to back for the measuring window
  * (the open loop's one cycle is the window), then the checks.
  */
object Untraced {

  def run(spark: SparkSession, wl: Workload, setup: Setup, a: Main.Args,
          progress: Replay.ProgressLog): Result = {
    val cycles = ArrayBuffer[Cycle.Outcome]()
    var failedCycles = 0
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    try {
      do cycles += Cycle(spark, wl, setup, a.work.resolve(s"cycle-${cycles.size}"), progress, a.seconds)
      while (!wl.openLoop && System.nanoTime() < deadline)
    } catch { case NonFatal(e) => e.printStackTrace(); failedCycles = 1 }
    require(cycles.nonEmpty, "no cycle completed")
    Main.log("window done")
    val checks = Cycle.check(spark, setup, cycles.toSeq)
    Main.log("checked")
    cycles.foreach { c =>
      Host.deleteRecursively(c.dir)
      Main.log(f"cycle: ${c.run.eventsPerSec}%.0f events/s, batches " +
        c.run.batches.map(_.seconds("triggerExecution")).mkString(" ") + " s")
    }

    val batches = cycles.flatMap(_.run.batches)
    val fresh = cycles.flatMap(_.run.freshnessS)
    Result(
      attempted = cycles.map(_.ops).sum + checks.size + failedCycles,
      failed = checks.count(!_) + failedCycles,
      metrics = ListMap(
        "events_per_sec" -> (Stats.median(cycles.map(_.run.eventsPerSec).toSeq), "events/s"),
        "batch_p50_s" -> (Stats.median(batches.map(_.seconds("triggerExecution")).toSeq), "s"),
        "freshness_p50_s" -> (Stats.quantile(fresh.toSeq, 0.5), "s"),
        "freshness_p90_s" -> (Stats.quantile(fresh.toSeq, 0.9), "s"),
        "scan_read_p50_s" -> (Stats.median(cycles.flatMap(_.scanS).toSeq), "s"),
        "repo_read_p50_s" -> (Stats.median(cycles.flatMap(_.repoS).toSeq), "s"),
        "compact_s" -> (Stats.median(cycles.flatMap(_.compactS).toSeq), "s"),
        "cpu_us_per_event" -> (Stats.median(cycles.map(c => c.run.cpuS * 1e6 / c.run.events).toSeq), "us"),
        "write_amp" -> (Stats.median(cycles.map(_.writeAmp).toSeq), "ratio"),
        "peak_rss_mb" -> (Host.peakRssMb(), "MB"),
        "setup_s" -> (setup.setupS, "s")))
  }
}
