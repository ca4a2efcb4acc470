package cdcbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.dsl.PipelineConfig
import graft.engine.Lww
import graft.lake.LakeTable
import graft.model.Model

/** The traced run: where a workload's time goes, layer by layer.
  *
  *  1. An untraced replay of the log at `local[4]`, after the set-up's
  *     warm-up: the base for the tracing overhead and for parallel
  *     efficiency.
  *  2. The workload's cycle with the [[Tracer]] on: the streaming replay
  *     (progress `durationMs` per batch, executor work by job group),
  *     the lake's commits, reads and compaction.
  *  3. A layer-by-layer replay of the same batches in the engine's
  *     order — scan, + pipeline, + `Lww.dedupe`, + persist/count, then
  *     `LakeTable.merge` — into a lake of its own. Each step runs the
  *     steps before it again, so a layer's self time is the difference
  *     to the previous step. `engine.unattributed_s` is the engine's
  *     summed `addBatch` minus steps 4 and 5, so the self times plus it
  *     add up to `addBatch` by construction.
  *  4. One-processor pipelines through the same DSL, for the token
  *     counter and sha256 alone.
  *  5. The final-state check of both lakes.
  *  6. A bulk replay on a `local[1]` session: `engine.parallel_eff` is
  *     events/s at 4 cores over 4 × events/s at 1 core, the single-host
  *     stand-in for scaling from N to 4N executors.
  */
object Traced {

  private def onePipeline(expr: String): DataFrame => DataFrame =
    PipelineConfig.parse(
      s"pipeline:\n  processors:\n    - mutation: |\n        $expr\n").transform

  val TokCountPipeline: DataFrame => DataFrame = onePipeline(
    """root.n_tokens = this.content.re_find_all("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").size()""")
  val Sha256Pipeline: DataFrame => DataFrame = onePipeline(
    """root.content_sha = this.content.hash("sha256")""")

  def run(spark: SparkSession, wl: Workload, setup: Setup, a: Main.Args,
          progress: Replay.ProgressLog): Result = {
    var attempted = 0L
    var failed = 0L
    def op(ok: => Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

    // 1. an untraced bulk replay, the 4-core base
    val plain = Replay.bulk(spark, wl, setup.log, a.work.resolve("plain"), setup.pipeline, progress)
    plain.batches.foreach(_ => op(true))
    Main.log(f"plain replay ${plain.wallS}%.2f s")

    // 2. the traced cycle
    val tracer = new Tracer(spark.sparkContext)
    val listener = tracer.listener
    listener.resetCachedPeak()
    val dir = a.work.resolve("traced")
    val (run, replaySpan) = tracer.span("engine.replay") { s =>
      val r = Cycle.replay(spark, wl, setup, dir, progress, a.seconds)
      tracer.alias(s, r.runId.toString)
      (r, s)
    }
    val cachedPeak = listener.cachedPeakBytes
    val replayWork = tracer.work(replaySpan)
    run.batches.foreach(_ => op(true))
    Main.log(f"traced replay ${run.wallS}%.2f s")
    val commits = commitStats(run.lake)

    // (snapshot + file listing seconds, data files, manifest refs)
    val reads = (1 to Cycle.Reads).map { _ =>
      tracer.span("lake.read") { s =>
        val ((refs, files), metaS) = Host.seconds {
          val snap = run.lake.snapshot()
          (snap.manifests.size, run.lake.files(snap.version).size)
        }
        s.attrs ++= Seq("snapshot_read_s" -> metaS, "files" -> files, "manifest_refs" -> refs)
        Main.noop(run.lake.read(spark))
        op(true)
        (metaS, files, refs)
      }
    }
    val vBefore = run.lake.currentVersion()
    tracer.span("lake.compact")(_ => run.lake.compact(spark, 0))
    op(true)
    val (added, removed) = run.lake.fileDiff(vBefore, run.lake.currentVersion())
    val compactedReadS = Stats.median((1 to Cycle.Reads).map { _ =>
      op(true)
      tracer.span("lake.read_compacted")(_ => Host.seconds(Main.noop(run.lake.read(spark)))._2)
    })

    // 3, 4. layer by layer, and the one-processor pipelines
    val layers = tracer.span("layers") { _ =>
      layerByLayer(spark, wl, setup, run, a.work.resolve("layers"), tracer)
    }
    layers.batches.foreach(_ => op(true))
    Main.log("layers done")

    // 5. final state of the traced and the layered lakes
    val expected = Oracle.rows(Oracle.expected(spark, setup.log.dir.toString))
    Seq(run.lake, layers.lake).foreach { lake =>
      op(Oracle.compare(expected, Oracle.rows(Oracle.actual(lake.read(spark)))).ok)
    }
    val spans = tracer.records()
    spark.sparkContext.removeSparkListener(listener)
    Seq("plain", "traced", "layers").foreach(d => Host.deleteRecursively(a.work.resolve(d)))

    // 6. the single-core baseline, on a fresh session
    spark.stop()
    val one = Main.session(1, a.work)
    val progress1 = new Replay.ProgressLog
    one.streams.addListener(progress1)
    val single = Replay.bulk(one, wl, setup.log, a.work.resolve("single"), setup.pipeline, progress1)
    op(true)
    Main.log(f"single-core replay ${single.wallS}%.2f s")
    Host.deleteRecursively(a.work.resolve("single"))

    val b = run.batches
    def dur(k: String) = b.map(_.seconds(k)).sum
    val applyS = dur("addBatch")
    val materialized = layers.materializeS + layers.mergeS
    Result(attempted, failed, ListMap(
      "gen.write_log_s" -> (setup.genS, "s"),
      "dsl.compile_s" -> (setup.compileS, "s"),
      "engine.scan_s" -> (layers.scanS, "s"),
      "dsl.pipeline_self_s" -> (layers.pipelineS - layers.scanS, "s"),
      "functions.tokcount_s" -> (layers.tokcountS - layers.scanS, "s"),
      "functions.sha256_s" -> (layers.sha256S - layers.scanS, "s"),
      "engine.lww_self_s" -> (layers.lwwS - layers.pipelineS, "s"),
      "engine.materialize_self_s" -> (layers.materializeS - layers.lwwS, "s"),
      "lake.merge_s" -> (layers.mergeS, "s"),
      "engine.scan_passes" -> (b.map(_.inputRows).sum.toDouble / run.events, "count"),
      "engine.dedup_ratio" -> (layers.winners.toDouble / layers.events, "count"),
      "engine.apply_batch_s" -> (applyS, "s"),
      "engine.unattributed_s" -> (applyS - materialized, "s"),
      "engine.trigger_overhead_s" -> (dur("triggerExecution") - applyS, "s"),
      "engine.query_planning_s" -> (dur("queryPlanning"), "s"),
      "engine.latest_offset_s" -> (dur("latestOffset"), "s"),
      "engine.get_batch_s" -> (dur("getBatch"), "s"),
      "engine.wal_commit_s" -> (dur("walCommit"), "s"),
      "engine.commit_offsets_s" -> (dur("commitOffsets"), "s"),
      "engine.backlog_files_max" -> (run.backlogFilesMax.toDouble, "count"),
      "engine.arrival_late_p90_s" -> (Stats.quantile(run.arrivalLateS, 0.9), "s"),
      "engine.cached_peak_bytes" -> (cachedPeak.toDouble, "bytes"),
      "engine.executor_cpu_s" -> (replayWork.cpuNs / 1e9, "s"),
      "engine.gc_s" -> (replayWork.gcMs / 1e3, "s"),
      "engine.shuffle_read_bytes" -> (replayWork.shuffleRead.toDouble, "bytes"),
      "engine.shuffle_write_bytes" -> (replayWork.shuffleWrite.toDouble, "bytes"),
      "engine.spill_bytes" -> (replayWork.spill.toDouble, "bytes"),
      "engine.task_skew_max" -> (if (replayWork.skews.isEmpty) 1.0 else replayWork.skews.max, "ratio"),
      "engine.task_skew_p50" -> (if (replayWork.skews.isEmpty) 1.0 else Stats.median(replayWork.skews.toSeq), "ratio"),
      "engine.parallel_eff" -> (plain.eventsPerSec / (Main.Cores * single.eventsPerSec), "ratio"),
      "lake.files_rewritten" -> (commits.rewritten, "count"),
      "lake.files_pruned" -> (commits.pruned, "count"),
      "lake.prune_hit_rate" -> (commits.pruneHitRate, "ratio"),
      "lake.bytes_written" -> (commits.bytes, "bytes"),
      "lake.snapshot_read_s" -> (Stats.median(reads.map(_._1)), "s"),
      "lake.read_files" -> (reads.head._2.toDouble, "count"),
      "lake.manifest_refs" -> (reads.head._3.toDouble, "count"),
      "lake.compact_files_in" -> (removed.size.toDouble, "count"),
      "lake.compact_files_out" -> (added.size.toDouble, "count"),
      "lake.scan_read_compacted_s" -> (compactedReadS, "s"),
      "trace.overhead_ratio" -> (run.wallS / plain.wallS, "ratio")),
      Some(spans))
  }

  /** Per-commit means over a replay's snapshot chain, from the manifest
    * file diff of each commit: files rewritten (removed), files of the
    * touched buckets left in place (pruned), and data bytes added.
    */
  final case class CommitStats(rewritten: Double, pruned: Double, pruneHitRate: Double, bytes: Double)

  def commitStats(lake: LakeTable): CommitStats = {
    val per = (1L to lake.currentVersion()).map { v =>
      val (added, removed) = lake.fileDiff(v - 1, v)
      val touched = added.map(_.bucket).toSet
      val before = lake.filesOf(lake.snapshot(v - 1), touched).size
      val bytes = added.map(f => Files.size(Paths.get(lake.root, f.path))).sum
      (removed.size.toDouble, (before - removed.size).toDouble, bytes.toDouble)
    }
    val n = math.max(per.size, 1)
    val rewritten = per.map(_._1).sum
    val pruned = per.map(_._2).sum
    CommitStats(rewritten / n, pruned / n,
      if (rewritten + pruned > 0) pruned / (rewritten + pruned) else 1.0, per.map(_._3).sum / n)
  }

  /** Cumulative step times summed over batches, and the layered lake. */
  final case class Layers(lake: LakeTable, batches: Seq[Long], events: Long, winners: Long,
                          scanS: Double, pipelineS: Double, lwwS: Double, materializeS: Double,
                          mergeS: Double, tokcountS: Double, sha256S: Double)

  def layerByLayer(spark: SparkSession, wl: Workload, setup: Setup, run: Replay.Run,
                   dir: Path, tracer: Tracer): Layers = {
    val lake = new LakeTable(dir.resolve("lake").toString, Workloads.LakeBuckets, 0L, wl.mergeOnRead)
    lake.initIfNeeded(StructType(Model.eventSchemaWidest.fields.filterNot(f => f.name == "seq" || f.name == "op")))
    val byBatch = run.fileBatch.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (id, fs) => id -> fs.map(f => s"${run.logDir}/${f._1}").sorted }
    def timed(name: String)(f: => Unit): Double = tracer.span(name)(_ => Host.seconds(f)._2)
    val per = byBatch.map { case (batchId, files) =>
      tracer.span(s"batch-$batchId") { _ =>
        val src = spark.read.schema(Model.eventSchemaWidest).parquet(files: _*)
        val events = src.count()
        val scan = timed("engine.scan")(Main.noop(src))
        val pipe = timed("dsl.pipeline")(Main.noop(setup.pipeline(src)))
        val lww = timed("engine.lww")(Main.noop(Lww.dedupe(setup.pipeline(src), Model.keyCols, "seq")))
        var winners: DataFrame = null
        var n = 0L
        val mat = timed("engine.materialize") {
          winners = Lww.dedupe(setup.pipeline(src), Model.keyCols, "seq").persist()
          n = winners.count()
        }
        val merge = timed("lake.merge") {
          lake.merge(winners, batchId, countHint = Some(n),
            precomputedWinners = Some(winners.select((Model.keyCols :+ "seq").map(col): _*)))
        }
        winners.unpersist()
        val tok = timed("functions.tokcount")(Main.noop(TokCountPipeline(src)))
        val sha = timed("functions.sha256")(Main.noop(Sha256Pipeline(src)))
        (batchId, events, n, scan, pipe, lww, mat, merge, tok, sha)
      }
    }
    Layers(lake, per.map(_._1), per.map(_._2).sum, per.map(_._3).sum,
      per.map(_._4).sum, per.map(_._5).sum, per.map(_._6).sum, per.map(_._7).sum,
      per.map(_._8).sum, per.map(_._9).sum, per.map(_._10).sum)
  }
}
