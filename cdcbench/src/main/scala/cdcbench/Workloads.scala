package cdcbench

import graft.gen.EventLogGen.GenConfig

/** One benchmark workload: the shape of the generated change log, the
  * lake mode it is replayed into and, for the open loop, the fixed
  * arrival rate. Every log has [[Workloads.LogFiles]] files and a
  * replay admits [[Workloads.FilesPerTrigger]] of them per trigger, so
  * a bulk replay is 2 micro-batches.
  */
final case class Workload(
    name: String,
    events: Long,
    repos: Int,
    pathsPerRepo: Int,
    mergeOnRead: Boolean = false,
    arrivalEventsPerSec: Double = 0.0) {

  def openLoop: Boolean = arrivalEventsPerSec > 0

  def gen(seed: Long): GenConfig = GenConfig(
    seed = seed, events = events, repos = repos, pathsPerRepo = pathsPerRepo,
    rowsPerFile = math.max(1L, events / Workloads.LogFiles))
}

object Workloads {
  val LogFiles = 64
  val FilesPerTrigger = 32
  val LakeBuckets = 16

  /** The generator puts the most probability mass on repo index 0
    * (inverse-CDF `floor(N * u^alpha)`), so this is the hottest repo of
    * every log.
    */
  val HotRepo = "repo-00000"

  /** Events per key is what separates the two replay regimes. Hot key:
    * ~40 events hit each of 1.6k keys, the table stays small, and
    * pipeline expressions plus LWW dominate. Wide key: 2M possible keys,
    * nearly every event is a new key, and the copy-on-write merge
    * rewrites a growing table.
    */
  private val hotKey = Workload("replay_hotkey", events = 64000L, repos = 40, pathsPerRepo = 40)
  private val wideKey = Workload("replay_widekey", events = 32000L, repos = 2000, pathsPerRepo = 1000)

  /** The open loop replays hot-key files at a fixed rate, about a third
    * of the ~12k events/s a bulk hot-key replay sustains at `local[4]`
    * on a 4-core host, for the run's whole measuring window.
    */
  val TailEventsPerSec = 4000.0

  def byName(name: String, seconds: Int): Workload = name match {
    case "replay_hotkey" => hotKey
    case "replay_widekey" => wideKey
    case "lake_mor" => wideKey.copy(name = name, mergeOnRead = true)
    case "tail_freshness" =>
      hotKey.copy(name = name, events = (TailEventsPerSec * seconds).toLong,
        arrivalEventsPerSec = TailEventsPerSec)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names: Seq[String] = Seq("replay_hotkey", "replay_widekey", "lake_mor", "tail_freshness")
}
