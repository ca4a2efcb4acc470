package cdcbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption => O}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Host-side measurements and small helpers shared by the harness. */
object Host {

  /** Every duration the benchmark reports is wall time with the CPU
    * capacity the hypervisor stole from this machine during it taken
    * out: `wall × (1 − stolen share)`. Steal is time the host gave to
    * other guests; it moves with their load, not with this code, and
    * on a shared host it swings run-to-run wall times by 20% or more.
    * The raw wall time and the share go to the progress log, and the
    * run's total steal to the fingerprint line.
    */
  final case class Interval(wallS: Double, stolen: Double) {
    def seconds: Double = wallS * (1.0 - stolen)
  }

  final case class Mark(ns: Long, stealS: Double)

  def mark(): Mark = Mark(System.nanoTime(), stealSeconds())

  def since(m: Mark): Interval = {
    val wall = (System.nanoTime() - m.ns) / 1e9
    val share = if (wall > 0) (stealSeconds() - m.stealS) / (machineCpus * wall) else 0.0
    Interval(wall, math.min(math.max(share, 0.0), 0.9))
  }

  def seconds[A](f: => A): (A, Double) = {
    val m = mark()
    val r = f
    (r, since(m).seconds)
  }

  /** CPU time of the whole process, the local executors included. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set size of this process, from /proc (VmHWM). */
  def peakRssMb(): Double = procStatusKb("VmHWM") / 1024.0

  private def procStatusKb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** Disk probe: write `mb` MB, fsync, read it back; MB/s moved. A
    * diagnostic printed next to the metrics, never a gate.
    */
  def diskMbps(dir: Path, mb: Int = 32): Double = {
    val p = dir.resolve("disk-probe.bin")
    val buf = new Array[Byte](1 << 20)
    new java.util.Random(7L).nextBytes(buf)
    val (_, sec) = seconds {
      val ch = java.nio.channels.FileChannel.open(p, O.CREATE, O.TRUNCATE_EXISTING, O.WRITE)
      try {
        var i = 0
        while (i < mb) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
        ch.force(true)
      } finally ch.close()
      val in = Files.newInputStream(p)
      try { while (in.read(buf) >= 0) () } finally in.close()
    }
    Files.deleteIfExists(p)
    2.0 * mb / sec
  }

  /** What every output line is stamped with: the host, the runtime and
    * the inputs. Figures from other hosts are history, not baselines.
    */
  def fingerprint(spark: SparkSession, workload: String, seed: Long,
                  sourceDigest: String): Map[String, Any] = {
    val conf = spark.conf
    def c(k: String) = conf.getOption(k).getOrElse("")
    Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> memTotalMb(),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_version" -> spark.version,
      "spark_master" -> spark.sparkContext.master,
      "spark_conf" -> Map(
        "spark.sql.shuffle.partitions" -> c("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> c("spark.sql.adaptive.enabled"),
        "spark.sql.parquet.compression.codec" -> c("spark.sql.parquet.compression.codec")),
      "git_commit" -> gitCommit(),
      "source_sha256" -> sourceDigest)
  }

  private def memTotalMb(): Double =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** HEAD of the enclosing git checkout, if it is one. */
  private def gitCommit(): String = {
    val git = Paths.get(".git")
    if (!Files.isDirectory(git)) "none"
    else {
      val head = Files.readString(git.resolve("HEAD")).trim
      if (!head.startsWith("ref: ")) head
      else {
        val ref = git.resolve(head.stripPrefix("ref: "))
        if (Files.exists(ref)) Files.readString(ref).trim
        else Files.readAllLines(git.resolve("packed-refs")).asScala
          .find(_.endsWith(" " + head.stripPrefix("ref: ")))
          .map(_.split(" ")(0)).getOrElse("unknown")
      }
    }
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    } finally s.close()
  }

  /** CPU seconds the hypervisor gave to other guests (steal), summed
    * over this machine's CPUs, from /proc/stat (USER_HZ = 100).
    */
  def stealSeconds(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  /** CPUs the machine-wide steal counter covers. */
  lazy val machineCpus: Int =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.count(_.matches("cpu[0-9]+ .*"))

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Order statistics over samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the flat result and span records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in output: $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.result()
  }
}
