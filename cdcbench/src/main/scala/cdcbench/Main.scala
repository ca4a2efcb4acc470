package cdcbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dsl.PipelineConfig
import graft.gen.EventLogGen
import graft.model.Model

/** CDC replay benchmark harness.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --out <dir> [--source <digest>] [--events <n>]`
  *
  * Untraced (`--trace 0`) it repeats the workload's cycle — replay,
  * reads, compaction — for `--seconds`, checks every resulting lake
  * against [[Oracle]], and prints the end-to-end metrics. Traced
  * (`--trace 1`) it prints the per-layer metrics of [[Traced]] and
  * writes the spans file into `--out`. The last stdout line is the
  * result object; the line before it is the host fingerprint.
  * `--events` shrinks the workload's log; the build uses it to run the
  * harness once at smoke size for its class-data archive.
  */
object Main {

  /** The standard per-row pipeline of the replay path: sha256 of the
    * content, a token count, a lower-cased language and a filter.
    */
  val StandardPipelineYaml: String =
    """pipeline:
      |  processors:
      |    - mutation: |
      |        root.content_sha = this.content.hash("sha256")
      |        root.n_tokens = this.content.re_find_all("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").size()
      |        root.lang = this.lang.lowercase()
      |    - filter: this.n_tokens > 0
      |""".stripMargin

  /** Cores of the measured session: the workloads are sized for it. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path, sourceDigest: String,
                        events: Option[Long] = None)

  def parseArgs(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath,
      kv.getOrElse("source", "unknown"), kv.get("events").map(_.toLong))
    require(a.seconds >= 1, "--seconds must be at least 1")
    require(a.events.forall(_ >= Workloads.LogFiles), s"--events must be at least ${Workloads.LogFiles}")
    a
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      // shuffle width stays at the 4-core value so the 1-core baseline
      // of the traced run executes the same plan
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"cdcbench +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val wl = Workloads.byName(a.workload, a.seconds)
    run(a, a.events.fold(wl)(n => wl.copy(events = n))).foreach(println)
  }

  /** One run; returns the host fingerprint line and the result line. */
  def run(a: Args, wl: Workload): Seq[String] = {
    Files.createDirectories(a.work)
    val steal0 = Host.stealSeconds()
    val spark = session(Cores, a.work)
    val diskBefore = Host.diskMbps(a.work)
    // taken now: the traced run ends on a session of its own
    val hostBase = Host.fingerprint(spark, a.workload, a.seed, a.sourceDigest)
    log("session up")
    val progress = new Replay.ProgressLog
    spark.streams.addListener(progress)
    try {
      val setup = Setup.prepare(spark, wl, a.seed, a.work, progress)
      log(f"set up: setup_s=${setup.setupS}%.2f")
      val result =
        if (a.trace) Traced.run(spark, wl, setup, a, progress)
        else Untraced.run(spark, wl, setup, a, progress)
      log("measured")
      val diskAfter = Host.diskMbps(a.work)
      val host = hostBase ++ Seq("host.disk_mbps" -> Seq(diskBefore, diskAfter),
        "host.cpu_steal_s" -> (Host.stealSeconds() - steal0))
      result.spans.foreach { spans =>
        Files.createDirectories(a.out)
        Files.writeString(a.out.resolve(s"spans-${a.workload}-seed${a.seed}.json"),
          Json(ListMap("host" -> host, "spans" -> spans)) + "\n")
      }
      val metrics = result.metrics ++ (if (a.trace) ListMap(
        "host.disk_mbps_before" -> (diskBefore, "MB/s"),
        "host.disk_mbps_after" -> (diskAfter, "MB/s")) else ListMap.empty)
      Seq("host " + Json(host), Json(ListMap(
        "correct" -> (result.failed == 0),
        "attempted" -> result.attempted,
        "failed" -> result.failed,
        "metrics" -> metrics.map { case (k, (v, unit)) => k -> ListMap("value" -> v, "unit" -> unit) })))
    } finally SparkSession.active.stop()
  }
}

/** What a run reports: ops attempted and failed (an op is one batch,
  * read, compaction or final-state check), metrics by name as (value,
  * unit), and, for a traced run, its spans.
  */
final case class Result(attempted: Long, failed: Long,
                        metrics: ListMap[String, (Double, String)],
                        spans: Option[Seq[Map[String, Any]]] = None)

/** The generated log and compiled pipeline a run measures with, and
  * the set-up timings. Writing the log and compiling the pipeline is
  * repeated [[Setup.Repetitions]] times; then an untimed bulk replay of
  * a sample of the log, one read of each kind and a compaction warm up,
  * so the timed cycles do not measure JIT compilation. `setupS` is the
  * median repetition plus the warm-up, so work moved out of the timed
  * window shows here.
  */
final case class Setup(log: Log, logBytes: Long, pipeline: DataFrame => DataFrame,
                       setupS: Double, genS: Double, compileS: Double)

object Setup {
  val Repetitions = 3

  /** The warm-up replays one log file in this many: it runs every code
    * path of the timed replay, reads and compaction, on less data.
    */
  val WarmStride = 4

  def prepare(spark: SparkSession, wl: Workload, seed: Long, work: Path,
              progress: Replay.ProgressLog): Setup = {
    val reps = (0 until Repetitions).map { r =>
      val logDir = work.resolve(s"log-$r")
      val (_, genS) = Host.seconds(EventLogGen.writeLog(spark, wl.gen(seed), logDir.toString))
      val (pipeline, compileS) = Host.seconds {
        val p = PipelineConfig.parse(Main.StandardPipelineYaml).transform
        p(spark.read.schema(Model.eventSchemaWidest).parquet(logDir.toString))
          .queryExecution.optimizedPlan
        p
      }
      Main.log(f"set-up $r: gen=$genS%.2f compile=$compileS%.2f")
      (logDir, pipeline, genS, compileS)
    }
    reps.init.foreach(r => Host.deleteRecursively(r._1))
    val (logDir, pipeline, _, _) = reps.last
    val log = Log(logDir, Host.listFiles(logDir).filter(_.toString.endsWith(".parquet")), wl.events)
    // the warm-up replays every WarmStride-th file in bulk, even for the
    // open loop, admitting as many batches as the full replay does
    val warmDir = work.resolve("warm")
    val (_, warmS) = Host.seconds {
      val warmLog = Files.createDirectories(warmDir.resolve("log"))
      val sample = log.files.zipWithIndex.collect {
        case (f, i) if i % WarmStride == 0 => Files.copy(f, warmLog.resolve(f.getFileName))
      }
      val run = Replay.bulk(spark, wl.copy(arrivalEventsPerSec = 0.0),
        Log(warmLog, sample, wl.events * sample.size / log.files.size), warmDir, pipeline, progress,
        filesPerTrigger = math.max(1, Workloads.FilesPerTrigger / WarmStride))
      Main.noop(run.lake.read(spark))
      Main.noop(run.lake.readRepos(spark, Seq(Workloads.HotRepo)))
      run.lake.compact(spark, 0)
    }
    Host.deleteRecursively(warmDir)
    Main.log(f"warm-up: $warmS%.2f")
    Setup(log, log.bytes, pipeline, Stats.median(reps.map(r => r._3 + r._4)) + warmS,
      Stats.median(reps.map(_._3)), Stats.median(reps.map(_._4)))
  }
}
