package cdcbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.engine.CdcEngine
import graft.engine.CdcEngine.ReplayConfig
import graft.lake.LakeTable

/** One replay of a change log through the public engine API, with the
  * per-batch timings the Structured Streaming progress API reports.
  */
object Replay {

  /** One micro-batch that admitted data. `startMs` is the trigger's
    * wall-clock start; `durMs` is the progress `durationMs` map
    * (latestOffset, getBatch, queryPlanning, addBatch, walCommit,
    * commitOffsets, triggerExecution).
    */
  final case class Batch(id: Long, startMs: Long, durMs: Map[String, Long], inputRows: Long) {
    def endMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
    def seconds(k: String): Double = durMs.getOrElse(k, 0L) / 1000.0
  }

  /** Collects the progress of every query of the session. */
  final class ProgressLog extends StreamingQueryListener {
    private val batches = new ConcurrentHashMap[UUID, Vector[Batch]]()
    private val ended = ConcurrentHashMap.newKeySet[UUID]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
        batches.merge(p.runId, Vector(b), (a, x) => a ++ x)
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ended.add(e.runId)

    /** Batches of a terminated run, once its last event has arrived. */
    def batchesOf(runId: UUID, timeoutMs: Long = 60000L): Seq[Batch] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!ended.contains(runId)) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"no termination event for query run $runId")
        Thread.sleep(5)
      }
      batches.getOrDefault(runId, Vector.empty).sortBy(_.id)
    }
  }

  /** A finished replay. Freshness is, per log file, the time from when
    * it was due to when the batch that committed it completed; in a
    * bulk replay every file is due when the query starts. Durations are
    * steal-adjusted with the replay's stolen share (see [[Host.Interval]]).
    */
  final case class Run(
      runId: UUID,
      lake: LakeTable,
      logDir: String,
      events: Long,
      wallS: Double,
      cpuS: Double,
      batches: Seq[Batch],
      fileBatch: Map[String, Long],
      freshnessS: Seq[Double],
      backlogFilesMax: Int,
      arrivalLateS: Seq[Double]) {
    def eventsPerSec: Double = events / wallS
  }

  /** The six workload-defining fields; everything else stays default. */
  def config(wl: Workload, logDir: String, dir: Path,
             filesPerTrigger: Int = Workloads.FilesPerTrigger): ReplayConfig = ReplayConfig(
    logDir = logDir,
    lakeRoot = dir.resolve("lake").toString,
    checkpointDir = dir.resolve("ckpt").toString,
    maxFilesPerTrigger = if (wl.openLoop) None else Some(filesPerTrigger),
    mergeOnRead = wl.mergeOnRead,
    lakeBuckets = Workloads.LakeBuckets)

  /** Bulk replay of a whole log: every file is due at query start. */
  def bulk(spark: SparkSession, wl: Workload, log: Log, dir: Path,
           pipeline: DataFrame => DataFrame, progress: ProgressLog,
           filesPerTrigger: Int = Workloads.FilesPerTrigger): Run = {
    val cfg = config(wl, log.dir.toString, dir, filesPerTrigger)
    val cpu0 = Host.processCpuNs()
    val t0 = System.currentTimeMillis()
    val m0 = Host.mark()
    val q = CdcEngine.replay(spark, cfg, pipeline)
    q.awaitTermination()
    val wall = Host.since(m0)
    val cpu = (Host.processCpuNs() - cpu0) / 1e9
    val due = log.files.map(f => f.getFileName.toString -> t0).toMap
    finish(q.runId, cfg, log, wall, cpu, due, due, progress)
  }

  /** Open loop: files move into the watched directory on a fixed
    * schedule while the engine runs with a trigger that starts the next
    * batch as soon as the previous one ends.
    */
  def openLoop(spark: SparkSession, wl: Workload, staged: Log, dir: Path,
               pipeline: DataFrame => DataFrame, progress: ProgressLog,
               seconds: Int): Run = {
    val watch = Files.createDirectories(dir.resolve("incoming"))
    val cfg = config(wl, watch.toString, dir)
    val intervalMs = seconds * 1000.0 / staged.files.size
    val cpu0 = Host.processCpuNs()
    val m0 = Host.mark()
    val q = CdcEngine.replay(spark, cfg, pipeline, Trigger.ProcessingTime(0L))
    val start = System.currentTimeMillis() + 500L // lets the first empty trigger pass
    val due = staged.files.indices.map(i => start + (i * intervalMs).toLong)
    val arrived = staged.files.zip(due).map { case (f, d) =>
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Files.move(f, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    // processAllAvailable alone can return on a trigger that listed the
    // directory just before the last move. Once every file is admitted,
    // it returns only after the admitting batch has committed.
    val deadline = System.currentTimeMillis() + 120000L
    while (admittedFiles(cfg.checkpointDir).size < staged.files.size) {
      if (q.exception.isDefined || System.currentTimeMillis() > deadline)
        throw q.exception.getOrElse(new IllegalStateException("open loop did not drain"))
      Thread.sleep(20)
    }
    q.processAllAvailable()
    q.stop()
    val wall = Host.since(m0)
    val cpu = (Host.processCpuNs() - cpu0) / 1e9
    val names = staged.files.map(_.getFileName.toString)
    finish(q.runId, cfg, Log(watch, staged.files.map(f => watch.resolve(f.getFileName)), staged.events),
      wall, cpu, names.zip(due).toMap, names.zip(arrived).toMap, progress)
  }

  private def finish(runId: UUID, cfg: ReplayConfig, log: Log, wall: Host.Interval, cpu: Double,
                     dueMs: Map[String, Long], arrivedMs: Map[String, Long],
                     progress: ProgressLog): Run = {
    val rawBatches = progress.batchesOf(runId)
    val fileBatch = admittedFiles(cfg.checkpointDir)
    val endOf = rawBatches.map(b => b.id -> b.endMs).toMap
    val keep = 1.0 - wall.stolen
    val freshness = dueMs.toSeq.map { case (f, d) => (endOf(fileBatch(f)) - d) / 1000.0 * keep }
    val batches = rawBatches.map(b => b.copy(durMs = b.durMs.map { case (k, v) => k -> math.round(v * keep) }))
    Main.log(f"replay: ${log.events / wall.wallS}%.0f events/s raw, stolen share ${wall.stolen}%.3f, " +
      "batches (triggerExecution/addBatch ms) " +
      rawBatches.map(b => s"${b.durMs.getOrElse("triggerExecution", 0L)}/${b.durMs.getOrElse("addBatch", 0L)}").mkString(" "))
    // files that had arrived but were not yet in a committed batch when
    // each batch started
    val backlog = rawBatches.map { b =>
      arrivedMs.count { case (f, a) => a <= b.startMs && fileBatch(f) >= b.id }
    }
    val late = dueMs.toSeq.map { case (f, d) => (arrivedMs(f) - d) / 1000.0 }
    Run(runId, new LakeTable(cfg.lakeRoot, cfg.lakeBuckets, cfg.lakeMaxRecordsPerFile, cfg.mergeOnRead),
      log.dir.toString, log.events, wall.seconds, cpu, batches, fileBatch,
      freshness, if (backlog.isEmpty) 0 else backlog.max, late)
  }

  /** File name → id of the batch that admitted it, from the file
    * source's log in the checkpoint (`sources/0`).
    */
  def admittedFiles(checkpointDir: String): Map[String, Long] = {
    val dir = Paths.get(checkpointDir, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    Host.listFiles(dir).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1)) // first line is the log version
      .filter(_.startsWith("{"))
      .map { line =>
        val j = org.json4s.jackson.JsonMethods.parse(line)
        val path = (j \ "path").extract[String]
        Paths.get(new java.net.URI(path)).getFileName.toString -> (j \ "batchId").extract[Long]
      }.toMap
  }
}

/** A generated change log on disk. */
final case class Log(dir: Path, files: Seq[Path], events: Long) {
  def bytes: Long = files.map(Files.size).sum
}
