package cdcbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from outside the program, around the calls into each
  * layer: name, start, end and parent, kept in memory and written out
  * when the run ends.
  *
  * Each span runs its Spark jobs under a job group of its own, so the
  * [[TaskListener]] can attribute executor work to it; a streaming
  * query's jobs carry the query's run id as their group and are
  * attributed through [[alias]].
  */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val name: String, val parent: Option[Int], val startNs: Long) {
    var endNs: Long = startNs
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  val listener = new TaskListener
  sc.addSparkListener(listener)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val groupOf = scala.collection.mutable.Map.empty[Int, String]
  private val origin = System.nanoTime()

  def span[A](name: String)(f: Span => A): A = {
    val s = new Span(spans.size, name, open.headOption.map(_.id), System.nanoTime())
    spans += s
    open = s :: open
    val group = s"cdcbench-span-${s.id}"
    groupOf(s.id) = group
    sc.setJobGroup(group, name)
    try f(s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attribute jobs of another group (a streaming run id) to a span. */
  def alias(s: Span, group: String): Unit = groupOf(s.id) = group

  /** Executor work of a span's own jobs (children excluded). */
  def work(s: Span): TaskListener.Agg = {
    listener.drain(sc)
    listener.agg(groupOf(s.id))
  }

  def records(): Seq[Map[String, Any]] = {
    listener.drain(sc)
    spans.toSeq.map { s =>
      val w = listener.agg(groupOf(s.id))
      val childNs = spans.filter(_.parent.contains(s.id)).map(c => c.endNs - c.startNs).sum
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "self_s" -> (s.endNs - s.startNs - childNs) / 1e9,
        "executor_cpu_s" -> w.cpuNs / 1e9, "tasks" -> w.tasks,
        "shuffle_read_bytes" -> w.shuffleRead, "shuffle_write_bytes" -> w.shuffleWrite,
        "spill_bytes" -> w.spill, "gc_s" -> w.gcMs / 1e3,
        "task_skew_max" -> (if (w.skews.isEmpty) 1.0 else w.skews.max)) ++ s.attrs
    }
  }
}

/** Task metrics per job group, task-time skew per stage, and the peak
  * of cached block bytes, from the listener bus.
  */
final class TaskListener extends SparkListener {
  import TaskListener.Agg

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val byGroup = new ConcurrentHashMap[String, Agg]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var cached = 0L
  @volatile var cachedPeakBytes = 0L
  private val ended = ConcurrentHashMap.newKeySet[String]()

  def agg(group: String): Agg = byGroup.computeIfAbsent(group, _ => new Agg)

  def resetCachedPeak(): Unit = cachedPeakBytes = cached

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.JobGroupKey)))
      .getOrElse("none")
    jobGroup.put(e.jobId, g)
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach(ended.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrDefault(e.stageId, "none"))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    Option(stageTaskMs.remove(id)).filter(_.size >= 2).foreach { ms =>
      val median = Stats.median(ms.map(_.toDouble).toSeq)
      if (median > 0) agg(stageGroup.getOrDefault(id, "none")).skews += ms.max / median
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockId.name}@${info.blockManagerId.executorId}"
      val size = info.memSize + info.diskSize
      if (info.storageLevel.isValid && size > 0) blocks.put(key, size) else blocks.remove(key)
      cached = blocks.values.asScala.sum
      cachedPeakBytes = math.max(cachedPeakBytes, cached)
    }
  }

  /** Waits until every event posted before now has been delivered: the
    * bus is FIFO, so once a sentinel job's end arrives, so has the rest.
    */
  def drain(sc: SparkContext): Unit = {
    val group = s"cdcbench-drain-${System.nanoTime()}"
    val prev = Option(sc.getLocalProperty(TaskListener.JobGroupKey))
    val prevDesc = sc.getLocalProperty(TaskListener.JobDescriptionKey)
    sc.setJobGroup(group, "drain listener bus")
    try sc.parallelize(Seq(1), 1).count()
    finally prev.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, prevDesc))
    val deadline = System.currentTimeMillis() + 30000L
    while (!ended.contains(group) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    byGroup.remove(group)
  }
}

object TaskListener {
  // SparkContext's names for these local properties are private
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescriptionKey = "spark.job.description"

  final class Agg {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val skews = ArrayBuffer.empty[Double]
  }
}
