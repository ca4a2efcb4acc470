package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** From-scratch Iceberg-style lake table (SURVEY.md §7 M2).
  *
  * The sandbox ships no Iceberg/Delta jars, so the "Iceberg table" of
  * the north rule is implemented from first principles, following the
  * published Iceberg spec's concepts (snapshot chain, manifest file
  * list with per-file column stats, schema ids, atomic commit), not
  * its code:
  *
  *   root/
  *     meta/v%08d.json           -- immutable snapshot chain
  *     meta/manifests/m%08d-b%04d.json -- immutable per-bucket manifests
  *     data/c%08d/bucket=N/      -- data files of commit N (parquet)
  *
  * Metadata is TWO-LEVEL (the Iceberg snapshot → manifest-list →
  * manifest pattern): a snapshot holds only `ManifestRef`s — (bucket,
  * path, fileCount, rows) — and the per-file stats live in immutable
  * per-bucket manifest JSONs. A commit therefore writes O(touched
  * buckets) manifest bytes + an O(buckets) snapshot, never the whole
  * file list: at 10^10 events / ~10^5-10^6 data files an inline file
  * list would make every micro-batch commit rewrite and re-read
  * ~100 MB of JSON on the driver. Copy-on-write merges fold each
  * touched bucket to a single new ref; merge-on-read merges APPEND one
  * ref per bucket written (zero manifest reads per commit) and
  * compaction folds the accumulated refs back to one per bucket.
  * Manifest files are immutable and shared across snapshots (rollback
  * and time travel copy refs); vacuum deletes the unreferenced ones.
  *
  * - Atomic commit: snapshot JSON is written to a temp file then moved
  *   into place with ATOMIC_MOVE; the highest v*.json is current.
  *   Multi-writer protocol: the refuse-to-replace version-file move
  *   is the commit CAS (a real multi-driver deployment would CAS
  *   through a catalog service; the protocol is identical). A merge
  *   that loses the race REBASES its metadata onto the new head and
  *   retries — see [[LakeTable!.commitOptimistic]] — so N concurrent
  *   streams can feed one table; only a copy-on-write bucket overlap
  *   (or a raced rebucket) is a hard [[LakeTable.ConcurrentCommitException]].
  *   Maintenance ops (`compact`/`rebucket`/`zorder`) still commit
  *   non-rebasing: a raced maintenance commit surfaces as the CAS
  *   error and is simply re-run.
  * - Exactly-once: each snapshot records `lastCommittedBatchId` (the
  *   default writer) plus a per-writer `fences` map; a merge whose
  *   batchId <= its writer's fence is a no-op (idempotent fencing,
  *   the Delta/Iceberg txnAppId/txnVersion pattern, one fence per
  *   concurrent stream).
  * - Layout: data files are hash-bucketed by repo
  *   (`pmod(xxhash64(repo), buckets)`) and CLUSTERED by (repo, path)
  *   within each written file (sortWithinPartitions before every
  *   write), with file size bounded by `maxRecordsPerFile`. The
  *   manifest records per-file min/max `repo` (read straight from the
  *   parquet footers, Iceberg-manifest style) plus row counts.
  * - Copy-on-write at FILE granularity: a merge rewrites only the
  *   files whose [minRepo, maxRepo] range intersects the batch's
  *   update-key repos; every other file of a touched bucket survives
  *   the commit untouched. Bucket-granularity CoW rewrote the whole
  *   table per batch once every bucket was warm (16 Zipf-hot buckets
  *   at 10^10 events); file granularity bounds the rewrite to
  *   O(updated key ranges), independent of table size. At 100 TB the
  *   knobs are `buckets` (merge write parallelism, equality-prune fan)
  *   and `maxRecordsPerFile` (CoW rewrite quantum): size them so one
  *   file ≈ 128-512 MB and buckets ≈ executor count.
  * - Schema evolution: add-column and int→long / float→double widening
  *   produce a new schema id; old files are never rewritten — they are
  *   read under the widest schema (Spark 4 parquet readers perform the
  *   widening promotion).
  * - Rows carry a hidden `_seq` column (the change's total order) so
  *   last-writer-wins stays correct even if a batch arrives with
  *   lower-seq events than already applied.
  */
final class LakeTable(val root: String, val buckets: Int = 16,
                      val maxRecordsPerFile: Long = 0L,
                      val mergeOnRead: Boolean = false) {
  import LakeTable._

  private val metaDir = Paths.get(root, "meta")
  private val manifestDir = metaDir.resolve("manifests")
  private val dataDir = Paths.get(root, "data")

  def initIfNeeded(schema: StructType): Unit = {
    Files.createDirectories(metaDir)
    Files.createDirectories(dataDir)
    if (currentVersion() < 0) {
      writeSnapshot(Snapshot(
        version = 0, schemaId = 0, schemaJson = schema.json,
        lastCommittedBatchId = -1L, buckets = buckets, manifests = Nil,
        lineage = Nil, mor = mergeOnRead))
    }
  }

  // ------------------------------------------------------------------
  // manifests (second metadata level)
  // ------------------------------------------------------------------

  /** Manifests are immutable once written, so caching by path is
    * always sound; the cache makes repeated read-path loads (and the
    * same-commit write→read) metadata-free. Crude size bound: cleared
    * wholesale past 512 entries (manifests are per-bucket small).
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[DataFileMeta]]()

  /** Winner-write task count. 8 tasks saturate this sandbox's single
    * disk (round-2 profile: merge.write is I/O-bound, more writers
    * only fragment files), but a real cluster's aggregate write
    * bandwidth grows with executors — so grow with `defaultParallelism`
    * past the 8-task floor while never exceeding the bucket/touched
    * fan. On local[32] this evaluates to the measured 8, keeping the
    * bench profile; on a 1000-executor cluster it scales out.
    */
  private def writeTasks(spark: SparkSession, fan: Int): Int =
    math.max(1, math.min(fan,
      math.max(8, spark.sparkContext.defaultParallelism / 4)))

  /** Short random suffix for commit-scoped artifact names (data dirs,
    * manifests). Two writers racing the same version MUST NOT share
    * file names — the loser of the snapshot CAS rebases its metadata,
    * but its already-written files keep their paths (paths in
    * manifests are opaque; only snapshot version numbers are ordered).
    */
  private def nonce(): String =
    java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)

  private def writeManifest(version: Long, bucket: Int,
                            files: Seq[DataFileMeta]): ManifestRef = {
    implicit val fmt: Formats = DefaultFormats
    Files.createDirectories(manifestDir)
    val name = f"m$version%08d-b$bucket%04d-${nonce()}.json"
    val tmp = Files.createTempFile(manifestDir, ".tmp-m", ".json")
    Files.writeString(tmp, Serialization.write(files))
    Files.move(tmp, manifestDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val rel = s"meta/manifests/$name"
    // same bound as loadManifest: a long MoR replay writes one manifest
    // per touched bucket per commit — unconditional puts would grow the
    // driver cache without bound (ADVICE r2)
    if (manifestCache.size > 512) manifestCache.clear()
    manifestCache.put(rel, files.toVector)
    ManifestRef(bucket, rel, files.size, files.map(f => math.max(f.rows, 0L)).sum)
  }

  private def loadManifest(ref: ManifestRef): Seq[DataFileMeta] = {
    val cached = manifestCache.get(ref.path)
    if (cached != null) return cached
    implicit val fmt: Formats = DefaultFormats
    val v = JsonMethods.parse(Files.readString(Paths.get(root, ref.path)))
      .extract[Seq[DataFileMeta]].toVector
    if (manifestCache.size > 512) manifestCache.clear()
    manifestCache.put(ref.path, v)
    v
  }

  /** File entries of the given buckets only — the merge's metadata
    * read is O(touched buckets), not O(table).
    */
  def filesOf(s: Snapshot, wanted: Set[Int]): Seq[DataFileMeta] =
    s.manifests.filter(r => wanted.contains(r.bucket)).flatMap(loadManifest)

  def allFiles(s: Snapshot): Seq[DataFileMeta] = s.manifests.flatMap(loadManifest)

  /** Full file listing of a version (read path / tests / tools). */
  def files(version: Long = currentVersion()): Seq[DataFileMeta] =
    allFiles(snapshot(version))

  // ------------------------------------------------------------------
  // snapshot chain
  // ------------------------------------------------------------------

  def currentVersion(): Long =
    if (!Files.isDirectory(metaDir)) -1L
    else listDir(metaDir)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong)
      .foldLeft(-1L)(math.max)

  def snapshot(version: Long = currentVersion()): Snapshot = {
    require(version >= 0, s"lake at $root has no snapshot")
    val txt = Files.readString(metaDir.resolve(f"v$version%08d.json"))
    implicit val fmt: Formats = DefaultFormats
    JsonMethods.parse(txt).extract[Snapshot]
  }

  private def writeSnapshot(s: Snapshot): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val target = metaDir.resolve(f"v${s.version}%08d.json")
    if (Files.exists(target))
      throw new IllegalStateException(
        s"commit CAS lost: $target already exists (a concurrent writer committed this version)")
    val tmp = Files.createTempFile(metaDir, ".tmp-v", ".json")
    Files.writeString(tmp, Serialization.writePretty(s))
    // the ATOMIC_MOVE is the linearization point of the commit
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  def schema(): StructType =
    DataType.fromJson(snapshot().schemaJson).asInstanceOf[StructType]

  private def fenceOf(s: Snapshot, writerId: String): Long =
    if (writerId == DefaultWriter) s.lastCommittedBatchId
    else s.fences.getOrElse(writerId, -1L)

  /** Buckets whose manifest-ref sets differ between two snapshots —
    * the commit-conflict granularity (manifest paths are immutable, so
    * a ref-path symmetric diff IS the changed-bucket set; metadata
    * only, no manifest is opened).
    */
  private def changedBuckets(a: Snapshot, b: Snapshot): Set[Int] = {
    val ap = a.manifests.map(r => r.path -> r.bucket).toMap
    val bp = b.manifests.map(r => r.path -> r.bucket).toMap
    (ap.keySet.diff(bp.keySet).map(ap) ++ bp.keySet.diff(ap.keySet).map(bp)).toSet
  }

  /** Test seam: runs once at the head of every optimistic commit,
    * between a merge's plan/write phase and its snapshot CAS — the
    * window a concurrent writer's commit lands in.
    */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Optimistic snapshot commit — Iceberg's concurrency model over
    * the filesystem CAS ([[writeSnapshot]]'s refuse-to-replace move).
    * The loser of a version race does NOT redo its (expensive) data
    * write; it rebases METADATA onto the new head and retries:
    *
    *  - append-only commits (MoR merges) always rebase — two appends
    *    commute, per-key order is LWW-resolved by `seq` on read;
    *  - copy-on-write commits rebase iff the interleaved commits
    *    touched DISJOINT buckets (the CoW rewrite's read set is
    *    bucket-contained, so disjointness proves the rewrite is still
    *    current); overlap throws [[ConcurrentCommitException]] — the
    *    caller's batch must re-run against the new head;
    *  - a raced rebucket always conflicts (the bucket function itself
    *    changed under the writer);
    *  - schema evolution composes: the committed schema is
    *    evolve(head's, mine), and files written under the narrower
    *    pre-race schema read correctly under the evolved one (the
    *    normal schema-evolution read path).
    *
    * Returns the committed lineage (re-stamped with the version the
    * commit actually landed at, which a rebase shifts), or None iff
    * `(writerId, batchId)` turns out to be already committed at the
    * new head (a zombie retry) — the caller treats that as the
    * idempotent fence. Per-writer fences make the fence
    * correct under N concurrent streams: each writer's batch sequence
    * fences independently (`fences` map; the default writer stays on
    * `lastCommittedBatchId` for pre-multi-writer snapshots).
    */
  private def commitOptimistic(base: Snapshot, touched: Set[Int],
      myRefs: Seq[ManifestRef], appendOnly: Boolean, batchId: Long,
      writerId: String, mySchema: StructType,
      lineage: Seq[LineageEntry]): Option[Seq[LineageEntry]] = {
    beforeCommitHook()
    var head = base
    var attempts = 0
    while (true) {
      val headSchema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      val outSchema = evolve(headSchema, mySchema)
      val schemaId =
        if (outSchema.json == head.schemaJson) head.schemaId else head.schemaId + 1
      val manifests = ((if (appendOnly) head.manifests
        else head.manifests.filterNot(r => touched.contains(r.bucket))) ++ myRefs)
        .sortBy(r => (r.bucket, r.path))
      val v = head.version + 1
      val myLineage = lineage.map(_.copy(snapshotVersion = v))
      val next = Snapshot(
        version = v,
        schemaId = schemaId,
        schemaJson = outSchema.json,
        lastCommittedBatchId =
          if (writerId == DefaultWriter) batchId else head.lastCommittedBatchId,
        buckets = head.buckets,
        manifests = manifests,
        lineage = myLineage,
        mor = head.mor,
        fences =
          if (writerId == DefaultWriter || writerId == MaintenanceWriter) head.fences
          else head.fences.updated(writerId, batchId))
      try { writeSnapshot(next); return Some(myLineage) }
      catch {
        case e: IllegalStateException =>
          attempts += 1
          if (attempts > MaxCommitRetries) throw e
          val newHead = snapshot()
          if (writerId != MaintenanceWriter &&
              batchId <= fenceOf(newHead, writerId)) return None
          if (newHead.buckets != head.buckets)
            throw new ConcurrentCommitException(
              s"commit v$v lost the race to a rebucket " +
                s"(${head.buckets} -> ${newHead.buckets} buckets); re-run the batch")
          if (!appendOnly) {
            val overlap = changedBuckets(head, newHead).intersect(touched)
            if (overlap.nonEmpty)
              throw new ConcurrentCommitException(
                s"concurrent commit rewrote bucket(s) ${overlap.toSeq.sorted.mkString(",")} " +
                  "this merge also rewrote; copy-on-write output is stale — re-run the batch")
          }
          head = newHead
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------------------
  // read path
  // ------------------------------------------------------------------

  /** Current table contents (user-facing: tombstones and internal
    * columns hidden).
    */
  def read(spark: SparkSession): DataFrame = {
    val s = snapshot()
    resolve(readSnapshot(spark, s), s)
      .filter(col(OpCol) === "upsert").drop(SeqCol, OpCol)
  }

  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val s = snapshot(version)
    resolve(readSnapshot(spark, s), s)
      .filter(col(OpCol) === "upsert").drop(SeqCol, OpCol)
  }

  /** Manifest-level file diff between two snapshots: the data files
    * `(added, removed)` going vFrom → vTo, by path. Metadata cost is
    * O(buckets whose manifest REFS differ) — refs shared between the
    * snapshots point at immutable identical manifests and are never
    * opened, so a poll after one small commit opens only that commit's
    * touched buckets' manifests, not the table's.
    */
  def fileDiff(vFrom: Long, vTo: Long): (Seq[DataFileMeta], Seq[DataFileMeta]) = {
    val sFrom = snapshot(vFrom); val sTo = snapshot(vTo)
    val fromRefSet = sFrom.manifests.map(_.path).toSet
    val toRefSet = sTo.manifests.map(_.path).toSet
    val toDiff = sTo.manifests.filterNot(r => fromRefSet.contains(r.path))
    val fromDiff = sFrom.manifests.filterNot(r => toRefSet.contains(r.path))
    // a surviving file can move between manifests across a CoW fold
    // (pruned files are re-listed in the bucket's new manifest), so the
    // diff is at FILE granularity within the differing refs' buckets;
    // files never change bucket (bucket = f(repo)), so the membership
    // checks only need the peer snapshot's SAME-bucket manifests
    val fromPeer = filesOf(sFrom, toDiff.map(_.bucket).toSet).map(_.path).toSet
    val toPeer = filesOf(sTo, fromDiff.map(_.bucket).toSet).map(_.path).toSet
    val added = toDiff.flatMap(loadManifest).filterNot(f => fromPeer.contains(f.path))
    val removed = fromDiff.flatMap(loadManifest).filterNot(f => toPeer.contains(f.path))
    (added, removed)
  }

  /** Changelog between two snapshots (the Delta CDF / Iceberg
    * incremental-read pattern, downstream-consumer facing): one row
    * per key whose WINNER changed between `vFrom` and `vTo`, carrying
    * the vTo winner's data plus `_change` ("upsert" | "delete").
    * Definition is state-based (winner differs), so it is invariant
    * to how many intermediate batches, compactions, or rollbacks lie
    * between the versions — compaction-only commits produce an empty
    * changelog. Unchanged keys never appear; a key deleted in the
    * window appears once as a delete carrying the tombstone's seq.
    *
    * INCREMENTAL: the scan is driven by [[fileDiff]], never a full
    * snapshot read (the r2 top scale gap — two O(table) scans per
    * ChangeFeed poll).
    *
    *  - CoW: a changed winner can only live in a file ADDED in the
    *    window (merges rewrite every file a winner displaces), and an
    *    unchanged row in an added file was carried forward from a
    *    REMOVED file — so `added ⟕̸ removed` on (key, seq) is exactly
    *    the winner diff, reading only those files.
    *  - MoR: winners resolve across files, so candidate keys come from
    *    the added files and both sides resolve over manifest-pruned
    *    reads of the candidate repos' key ranges — O(candidate ranges),
    *    falling back to full resolve past [[LakeTable.PruneRepoCap]].
    */
  def changesBetween(spark: SparkSession, vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"changesBetween: $vFrom > $vTo")
    val sFrom = snapshot(vFrom); val sTo = snapshot(vTo)
    val (added, removed) = fileDiff(vFrom, vTo)
    val diffed =
      if (!sTo.mor) {
        val to = readFiles(spark, sTo, added)
        val from = readFiles(spark, sFrom, removed)
          .select(col("repo"), col("path"), col(SeqCol))
        // winner changed ⇔ the vTo winner's (key, seq) is absent at
        // vFrom (seq is globally unique per row version)
        to.join(from, Seq("repo", "path", SeqCol), "left_anti")
      } else {
        val cand = readFiles(spark, sTo, added)
          .select(col("repo"), col("path")).distinct()
        val candRepos = readFiles(spark, sTo, added).select(col("repo"))
          .distinct().limit(PruneRepoCap + 1).collect().map(_.getString(0))
        val toState = resolve(candPrunedRead(spark, sTo, candRepos), sTo)
          .join(cand, Seq("repo", "path"), "left_semi")
        val fromKeyed = resolve(candPrunedRead(spark, sFrom, candRepos), sFrom)
          .select(col("repo"), col("path"), col(SeqCol))
        toState.join(fromKeyed, Seq("repo", "path", SeqCol), "left_anti")
      }
    diffed.withColumn("_change", col(OpCol)).drop(OpCol)
  }

  /** MoR changelog scans (shared by [[changesBetween]] and
    * [[changelog]]): files of `s` pruned to the candidate repos
    * (manifest-level bucket + range skipping), with the repo set ALSO
    * pushed into the scan so parquet dictionary / repo-bloom row-group
    * skipping engages inside the kept files. Over-cap candidate sets
    * (the truncated `limit(PruneRepoCap + 1)` collect) fall back to a
    * full unfiltered scan. LWW resolves per (repo, path), so a
    * whole-repo filter never drops a row the resolve needs.
    */
  private def candPrunedRead(spark: SparkSession, s: Snapshot,
                             candRepos: Array[String]): DataFrame = {
    val files =
      if (candRepos.length > PruneRepoCap) allFiles(s)
      else {
        val wanted = candRepos.map(r => bucketOfRepo(r, s.buckets)).toSet
        val sorted = candRepos.sortWith(ubCompare(_, _) < 0)
        filesOf(s, wanted).filter(f => rangeIntersects(f, sorted))
      }
    val df = readFiles(spark, s, files)
    if (candRepos.length > PruneRepoCap) df
    else df.filter(col("repo").isin(candRepos.toIndexedSeq: _*))
  }

  /** Pre/post-image changelog between two snapshots — the Delta-CDF
    * `_change_type` shape (reference: Delta Lake change data feed;
    * Flink retract streams use the same algebra). One or two rows per
    * key whose winner changed in the window:
    *
    *   - key absent at vFrom, live at vTo  → `insert` (vTo row)
    *   - live at both, winner differs      → `update_preimage` (vFrom
    *     row) + `update_postimage` (vTo row)
    *   - live at vFrom, tombstoned at vTo  → `delete` (vFrom row —
    *     the pre-image, which is what a downstream retraction needs)
    *
    * This is what incremental DERIVED-table maintenance consumes
    * ([[MaterializedAgg]]): each row applies as a signed delta
    * (insert/postimage +1, delete/preimage −1), so a downstream
    * aggregate updates in O(changes) without rescanning the base
    * table. Like [[changesBetween]] the scan is [[fileDiff]]-driven:
    * post-images live only in the window's ADDED files and pre-images
    * only in its REMOVED files (CoW rewrites the old winner's file
    * when displacing it), so a poll costs O(commit), never O(table).
    */
  def changelog(spark: SparkSession, vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"changelog: $vFrom > $vTo")
    val sFrom = snapshot(vFrom); val sTo = snapshot(vTo)
    val (added, removed) = fileDiff(vFrom, vTo)
    // post = winner-changed rows at vTo (tombstones included);
    // preSrc = the vFrom winners that could have been displaced. CoW
    // snapshots hold exactly one row per key, so the removed files ARE
    // the pre-image source; MoR resolves over the same pruned read as
    // changesBetween. Keys in preSrc that did not change winner drop
    // out in the post⟕pre join below.
    val (post, preSrc) =
      if (!sTo.mor) {
        val to = readFiles(spark, sTo, added)
        val fromRows = readFiles(spark, sFrom, removed)
        (to.join(fromRows.select(col("repo"), col("path"), col(SeqCol)),
          Seq("repo", "path", SeqCol), "left_anti"), fromRows)
      } else {
        val addedRows = readFiles(spark, sTo, added)
        val cand = addedRows.select(col("repo"), col("path")).distinct()
        val candRepos = addedRows.select(col("repo"))
          .distinct().limit(PruneRepoCap + 1).collect().map(_.getString(0))
        val fromState = resolve(candPrunedRead(spark, sFrom, candRepos), sFrom)
        val toState = resolve(candPrunedRead(spark, sTo, candRepos), sTo)
          .join(cand, Seq("repo", "path"), "left_semi")
        (toState.join(fromState.select(col("repo"), col("path"), col(SeqCol)),
          Seq("repo", "path", SeqCol), "left_anti"), fromState)
      }
    // pre-image rows were read under the vFrom schema; across a
    // schema-evolution boundary they lack columns added since (and may
    // carry narrower types) — conform them to the vTo shape so the
    // pre/post image structs line up (missing columns null-backfill,
    // exactly like an evolved snapshot read)
    val pre = conformTo(preSrc,
      org.apache.spark.sql.types.StructType(post.schema.fields), Nil)
    // classify: one key-join of the two O(changes) frames, then each
    // row explodes into its CDF image rows in a single projection
    val dataCols = post.columns.filterNot(_ == OpCol).toSeq // user cols + _seq
    val preCols = Seq(col("repo"), col("path")) ++
      pre.columns.filterNot(c => c == "repo" || c == "path")
        .map(c => col(c).as(s"_pre_$c"))
    val j = post.join(pre.select(preCols: _*), Seq("repo", "path"), "left")
    val postLive = col(OpCol) === "upsert"
    val preLive = col(s"_pre_$OpCol") === "upsert"
    def img(pre: Boolean, change: String) = struct(
      dataCols.map { c =>
        (if (!pre || c == "repo" || c == "path") col(c) else col(s"_pre_$c")).as(c)
      } :+ lit(change).as("_change"): _*)
    j.select(explode(
        when(postLive && preLive,
          array(img(pre = true, "update_preimage"), img(pre = false, "update_postimage")))
          .when(postLive, array(img(pre = false, "insert")))
          .when(preLive, array(img(pre = true, "delete")))
          // tombstone of a key never live at vFrom: no CDF rows
          .otherwise(lit(null))).as("_r"))
      .select(col("_r.*"))
  }

  /** MoR read-side LWW resolution: one row per key, max `_seq` wins
    * (tombstones included — the caller filters them). Keys never span
    * buckets (bucket = f(repo)), so the aggregate shuffles at most
    * the delta-burdened keys; after compaction it is a near-no-op.
    * CoW snapshots resolve to themselves, so this is identity there.
    */
  private def resolve(df: DataFrame, s: Snapshot): DataFrame =
    if (!s.mor) df
    else df.groupBy(col("repo"), col("path"))
      .agg(max_by(struct(df.columns.map(col): _*), col(SeqCol)).as("w"))
      .select(col("w.*"))

  private[lake] def readInternal(spark: SparkSession): DataFrame =
    readSnapshot(spark, snapshot())

  private def readSnapshot(spark: SparkSession, s: Snapshot): DataFrame =
    readFiles(spark, s, allFiles(s))

  /** Read a specific file subset under the snapshot's (widest) schema. */
  private def readFiles(spark: SparkSession, s: Snapshot,
                        fs: Seq[DataFileMeta]): DataFrame = {
    val sch = internalSchema(DataType.fromJson(s.schemaJson).asInstanceOf[StructType])
    if (fs.isEmpty) spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
    else spark.read.schema(sch).parquet(fs.map(f => s"$root/${f.path}"): _*)
  }

  private def internalSchema(user: StructType): StructType = user
    .add(StructField(SeqCol, LongType, nullable = false))
    .add(StructField(OpCol, StringType, nullable = false))

  /** Manifest-level pruning: files relevant to the given repos. Two
    * stages, both before Spark ever lists a file (SURVEY.md §4):
    * bucket pruning (hash equality) then file skipping on the
    * manifest's per-file min/max repo range — the Iceberg
    * manifest-stats pattern.
    */
  def scanFiles(repos: Seq[String]): Seq[DataFileMeta] = {
    val snap = snapshot()
    val wanted = repos.map(r => bucketOfRepo(r, snap.buckets)).toSet
    val sorted = repos.toArray.sortWith(ubCompare(_, _) < 0)
    // bucket pruning happens at the MANIFEST level — unwanted buckets'
    // file lists are never even loaded
    filesOf(snap, wanted).filter(f => rangeIntersects(f, sorted))
  }

  def readRepos(spark: SparkSession, repos: Seq[String]): DataFrame = {
    val s = snapshot()
    val sch = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
    val files = scanFiles(repos)
    if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
    else resolve(
        spark.read.schema(internalSchema(sch))
          .parquet(files.map(f => s"$root/${f.path}"): _*)
          .filter(col("repo").isin(repos: _*)), s)
      .filter(col(OpCol) === "upsert")
      .drop(SeqCol, OpCol)
  }

  // ------------------------------------------------------------------
  // merge (the exactly-once CDC apply)
  // ------------------------------------------------------------------

  /** MERGE a micro-batch of change rows into the table.
    *
    * `updates` must carry: the data columns (any evolution-compatible
    * subset/superset of the table schema), `op` ("upsert"|"delete")
    * and `seq` (LONG). It SHOULD be pre-deduplicated to one row per
    * (repo, path) — the merge's own LWW makes extra duplicates
    * harmless, just wasteful.
    *
    * Returns per-bucket lineage rows for the commit ([] on a fenced
    * no-op replay).
    *
    * @param precomputedWinners optional pre-aggregated LWW winner key
    *   frame `(repo, path, seq)` (one row per surviving key, `seq` =
    *   winning order value). When given, the merge's key collect is a
    *   plain select of this small frame instead of an aggregate over
    *   the updates. The collected keys pick the rewrite files, and
    *   their smallest seq prunes the existing-side LWW probe to the
    *   files whose manifest `maxSeq` could beat a winner — none, in a
    *   seq-ordered replay, so the rewrite files are scanned once, by
    *   the write.
    */
  def merge(updates: DataFrame, batchId: Long,
            countHint: Option[Long] = None,
            precomputedWinners: Option[DataFrame] = None,
            writerId: String = DefaultWriter): Seq[LineageEntry] = synchronized {
    val spark = updates.sparkSession
    val snap = graft.util.Prof("merge.snapshot_read") { snapshot() }
    if (batchId <= fenceOf(snap, writerId)) return Nil // idempotent fence

    val oldSchema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val updDataSchema = StructType(updates.schema.fields
      .filterNot(f => f.name == "op" || f.name == "seq"))
    val newSchema = evolve(oldSchema, updDataSchema)
    val b = snap.buckets
    val upd = conformTo(updates, newSchema, Seq("op", "seq"))
      .withColumn(SeqCol, col("seq")).drop("seq")
      .withColumn(OpCol, col("op")).drop("op")
      .withColumn(BucketCol, bucketExpr(col("repo"), b))

    val winnersKeyed = precomputedWinners.map(w =>
      w.select(col("repo"), col("path"), col("seq").as(SeqCol)))

    // ---- merge-on-read: append-only commit, NO existing-side I/O ----
    // Per-batch cost is O(batch) regardless of how many files the
    // batch's key ranges intersect — the write-optimized half of the
    // Hudi/Paimon MoR trade (readers pay a per-key LWW resolve until
    // compaction folds the deltas). Only the batch's own LWW runs
    // here; out-of-order seqs against existing rows resolve on read.
    if (snap.mor) {
      val keys = Seq("repo", "path")
      val allCols = newSchema.fieldNames.toSeq ++ Seq(SeqCol, OpCol, BucketCol)
      val updCount = countHint.getOrElse(upd.count())
      val winnerRows =
        if (updCount <= BroadcastKeyLimit) {
          val winnerKeys = winnersKeyed.getOrElse(
            upd.groupBy(keys.map(col): _*).agg(max(col(SeqCol)).as(SeqCol)))
          upd.join(broadcast(winnerKeys), keys :+ SeqCol)
            .select(allCols.map(col): _*)
        } else
          upd.groupBy(col("repo"), col("path"))
            .agg(max_by(struct(allCols.map(col): _*), col(SeqCol)).as("w"))
            .select(col("w.*"))
      val commitVersion = snap.version + 1
      val outDir = s"$root/" + f"data/c$commitVersion%08d-${nonce()}"
      graft.util.Prof("merge.write") {
        writeData(winnerRows
          .repartition(writeTasks(upd.sparkSession, b), col(BucketCol))
          .sortWithinPartitions(col(BucketCol), col("repo"), col("path")), outDir)
      }
      val newFiles = graft.util.Prof("merge.manifest") { manifestEntries(outDir) }
      val lineage = newFiles.groupBy(_.bucket).map { case (bk, fs) =>
        LineageEntry(batchId, bk, fs.size, commitVersion)
      }.toSeq.sortBy(_.bucket)
      val committedLineage = graft.util.Prof("merge.snapshot_commit") {
        // append-only at the metadata level too: one new manifest ref
        // per bucket written, NO existing manifest is read or rewritten
        // — which is also why a raced commit ALWAYS rebases here
        val newRefs = newFiles.groupBy(_.bucket).toSeq.sortBy(_._1)
          .map { case (bk, fs) =>
            writeManifest(commitVersion, bk, fs.sortBy(_.path)) }
        commitOptimistic(snap, touched = Set.empty, myRefs = newRefs,
          appendOnly = true, batchId = batchId, writerId = writerId,
          mySchema = newSchema, lineage = lineage)
      }
      return committedLineage.getOrElse(Nil)
    }

    // which FILES does this batch touch? One driver-side collect of the
    // winner keys (repo, path, seq) serves three pruning tiers:
    //  - the distinct repos pick the touched buckets and, via the
    //    manifest's per-file repo ranges, the copy-on-write rewrite set;
    //  - the (repo, path) pairs add PATH-range file skipping inside hot
    //    repos (the Zipf regime, where every file of the hot repo shares
    //    minRepo == maxRepo and repo ranges cannot discriminate);
    //  - the smallest winner seq prunes the LWW probe (below).
    // With precomputed winners the collect is a plain select of the
    // small key frame; otherwise one aggregate of the updates. Past
    // PrunePairCap keys pruning falls back to repo ranges, past
    // PruneRepoCap to bucket granularity.
    val keys = Seq("repo", "path")
    val keySrc = winnersKeyed.getOrElse(
      upd.groupBy(keys.map(col): _*).agg(max(col(SeqCol)).as(SeqCol)))
    val updCount = countHint.getOrElse(upd.count())
    val updKeys: Array[(String, String, Long)] = graft.util.Prof("merge.prune_keys") {
      val q = keySrc.select(col("repo"), col("path"), col(SeqCol).cast(LongType))
      // the row count bounds the key count: under the cap a plain
      // collect is one job, where a limit takes in scale-up rounds
      val capped = (if (updCount <= PrunePairCap) q else q.limit(PrunePairCap + 1))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (capped.length > PrunePairCap) null else capped
    }
    val updRepos: Array[String] =
      if (updKeys != null) updKeys.map(_._1).distinct
      else {
        val capped = keySrc.select(col("repo")).distinct()
          .limit(PruneRepoCap + 1).collect().map(_.getString(0))
        if (capped.length > PruneRepoCap) null else capped
      }
    val pathsByRepo: Map[String, Array[String]] =
      if (updKeys == null) Map.empty
      else updKeys.groupBy(_._1).map { case (r, ks) =>
        r -> ks.map(_._2).sortWith(ubCompare(_, _) < 0)
      }
    val touched: Set[Int] =
      if (updRepos != null) updRepos.map(r => bucketOfRepo(r, b)).toSet
      else keySrc.select(bucketExpr(col("repo"), b).as(BucketCol))
        .distinct().collect().map(_.getInt(0)).toSet
    // only the touched buckets' manifests are ever loaded; untouched
    // buckets survive the commit as unopened manifest REFS (re-read
    // from the head snapshot inside the optimistic commit)
    val inTouched = filesOf(snap, touched)
    val (rewriteFiles, prunedFiles) =
      if (updRepos == null) (inTouched, Seq.empty[DataFileMeta])
      else {
        val byBucket = updRepos.groupBy(r => bucketOfRepo(r, b))
          .map { case (k, v) => k -> v.sortWith(ubCompare(_, _) < 0) }
        inTouched.partition(f => rangeIntersects(f, byBucket(f.bucket)) &&
          (updKeys == null || pathRangeIntersects(f, pathsByRepo)))
      }

    def scan(fs: Seq[DataFileMeta]): DataFrame =
      if (fs.isEmpty) emptyDf(spark, newSchema)
      else conformTo(
        spark.read
          .schema(internalSchema(oldSchema))
          .parquet(fs.map(f => s"$root/${f.path}"): _*),
        newSchema, Seq(SeqCol, OpCol))
        .withColumn(BucketCol, bucketExpr(col("repo"), b))
    val existing = scan(rewriteFiles)

    // Last-writer-wins over (existing ∪ updates). `seq` is globally
    // unique so the winner is deterministic. Losing delete events
    // become nothing; WINNING deletes are kept as tombstone rows
    // (filtered on read) — dropping them would let an out-of-order
    // lower-seq upsert in a later batch resurrect a deleted key.
    //
    // Physical strategy: a micro-batch is small relative to the table,
    // so the default path never shuffles existing rows at all —
    //  1. the winner keys are the collected (repo, path, seq) rows, as
    //     a local relation: defensively LWW-ed updates (or the caller's
    //     precomputed winners), broadcast without re-reading a cache;
    //  2. PROBE: an existing row can only beat a winner if its `_seq`
    //     is at least the winner's, so only the rewrite files whose
    //     manifest `maxSeq` is unknown or ≥ the smallest winner seq are
    //     read, for their max `_seq` per winner key (broadcast
    //     semi-join + small aggregate). In a seq-ordered replay no file
    //     qualifies: the probe is an empty relation, and Catalyst drops
    //     it with its shuffle and broadcasts. Out-of-order batches
    //     still probe every file that could beat them;
    //  3. updates win where the probed seq is absent or lower;
    //  4. existing rows whose key has a winning update drop out via a
    //     broadcast anti-join; everything else is untouched and flows
    //     file-aligned (bucket dirs) straight to the writer — the one
    //     scan of the rewrite files.
    // Falls back to the full shuffled max_by aggregate when the
    // update-key set is too large to broadcast.
    val allCols = newSchema.fieldNames.toSeq ++ Seq(SeqCol, OpCol, BucketCol)
    val winners =
      if (updCount <= BroadcastKeyLimit) {
        val winnerKeys =
          if (updKeys == null) keySrc
          else spark.createDataFrame(
            java.util.Arrays.asList(updKeys.map { case (r, p, q) =>
              org.apache.spark.sql.Row(r, p, q) }: _*),
            StructType(Seq(StructField("repo", StringType),
              StructField("path", StringType), StructField(SeqCol, LongType))))
        val probeFiles =
          if (updKeys == null || updKeys.isEmpty) rewriteFiles
          else {
            val lo = updKeys.iterator.map(_._3).min
            rewriteFiles.filter(_.maxSeq.forall(_ >= lo))
          }
        val probe = if (probeFiles.size == rewriteFiles.size) existing else scan(probeFiles)
        val exSeq = probe
          .join(broadcast(winnerKeys.select(keys.map(col): _*)), keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(max(col(SeqCol)).as("_ex_seq"))
        val winFinal = winnerKeys
          .join(broadcast(exSeq), keys, "left")
          .filter(col("_ex_seq").isNull || col(SeqCol) > col("_ex_seq"))
          .select((keys :+ SeqCol).map(col): _*)
        val updWin = upd.join(broadcast(winFinal), keys :+ SeqCol)
        val kept = existing
          .join(broadcast(winFinal.select(keys.map(col): _*)), keys, "left_anti")
        kept.select(allCols.map(col): _*).unionByName(
          updWin.select(allCols.map(col): _*)
            .repartition(writeTasks(upd.sparkSession, touched.size), col(BucketCol)))
      } else {
        val combined = existing.select(allCols.map(col): _*)
          .unionByName(upd.select(allCols.map(col): _*))
        combined
          .groupBy(col("repo"), col("path"))
          .agg(max_by(struct(allCols.map(col): _*), col(SeqCol)).as("w"))
          .select(col("w.*"))
          .repartition(math.max(touched.size, 1), col(BucketCol))
      }

    // write the rewritten files copy-on-write; in the broadcast path
    // the kept side is already file-aligned per bucket dir, so no
    // global shuffle precedes the write. sortWithinPartitions is a
    // LOCAL sort (no shuffle) that keeps files clustered by
    // (repo, path) so their manifest ranges stay tight and prunable.
    val commitVersion = snap.version + 1
    val outDir = s"$root/" + f"data/c$commitVersion%08d-${nonce()}"
    graft.util.Prof("merge.write") {
      writeData(winners.sortWithinPartitions(col(BucketCol), col("repo"), col("path")), outDir)
    }

    val newFiles = graft.util.Prof("merge.manifest") { manifestEntries(outDir) }

    val lineage = newFiles.groupBy(_.bucket).map { case (bk, fs) =>
      LineageEntry(batchId, bk, fs.size, commitVersion)
    }.toSeq.sortBy(_.bucket)

    val committedLineage = graft.util.Prof("merge.snapshot_commit") {
      // each touched bucket folds to ONE new manifest (its surviving
      // pruned files + this commit's files); untouched refs are reused
      // — re-resolved from the head on a rebase, which is safe exactly
      // when the raced commits stayed out of `touched`
      val newRefs = (prunedFiles ++ newFiles).groupBy(_.bucket)
        .toSeq.sortBy(_._1).map { case (bk, fs) =>
          writeManifest(commitVersion, bk, fs.sortBy(_.path)) }
      commitOptimistic(snap, touched = touched, myRefs = newRefs,
        appendOnly = false, batchId = batchId, writerId = writerId,
        mySchema = newSchema, lineage = lineage)
    }
    committedLineage.getOrElse(Nil)
  }

  // ------------------------------------------------------------------
  // maintenance
  // ------------------------------------------------------------------

  /** Compact buckets whose file count exceeds `maxFilesPerBucket`:
    * rewrite just those buckets (one file-aligned scan, no shuffle —
    * coalesced per bucket at write), commit a new snapshot. The CoW
    * merge bounds per-commit file growth, but a long run of small
    * update batches still accretes files; this is the OPTIMIZE step
    * an operator schedules between replay windows. Rewritten files
    * come out re-clustered by (repo, path) with fresh manifest
    * ranges, restoring merge-time file pruning to full strength.
    */
  def compact(spark: SparkSession, maxFilesPerBucket: Int = 8): Option[Long] = synchronized {
    val snap = snapshot()
    // fat-bucket detection is metadata-free: per-ref fileCount sums
    val counts = snap.manifests.groupBy(_.bucket).view
      .mapValues(_.map(_.fileCount).sum)
    val fat = counts.filter(_._2 > maxFilesPerBucket).keySet.toSet
    if (fat.isEmpty) return None
    val sch = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val fatFiles = filesOf(snap, fat)
    val commitVersion = snap.version + 1
    val outDir = s"$root/" + f"data/c$commitVersion%08d-${nonce()}"
    // range-partition on (bucket, repo, path) rather than hash on
    // bucket alone: the dynamic partitionBy write routes rows to
    // bucket dirs regardless of task layout, so a fat bucket compacts
    // across the whole cluster (not one task per bucket — at 100 TB a
    // single bucket can be TBs), while ranges keep each output file
    // key-clustered with tight manifest min/max repo stats. Task count
    // is sized from the manifest row stats so small tables keep the
    // one-task-per-bucket (= one output file) shape; only genuinely
    // large rewrites fan out past the bucket count.
    val totalRows =
      if (fatFiles.forall(_.rows >= 0)) fatFiles.map(_.rows).sum else -1L
    val targetRowsPerTask = math.max(maxRecordsPerFile, 1L << 22)
    val parallelism =
      if (totalRows < 0) math.max(fat.size, 1)
      else math.max(fat.size,
        math.min(((totalRows + targetRowsPerTask - 1) / targetRowsPerTask).toInt,
          spark.sparkContext.defaultParallelism * 4))
    val raw = spark.read.schema(internalSchema(sch))
      .parquet(fatFiles.map(f => s"$root/${f.path}"): _*)
    // MoR: compaction is where the read-side LWW debt is paid down —
    // fold the bucket's deltas to one row per key. Keys never span
    // buckets, and fat buckets are rewritten whole, so the fold is
    // complete. WINNING tombstones survive the fold (dropping them
    // would let a late lower-seq upsert resurrect a deleted key).
    val folded = resolve(raw, snap)
    val bucketed = folded.withColumn(BucketCol, bucketExpr(col("repo"), snap.buckets))
    // one-task-per-bucket (hash, deterministic file counts) unless the
    // row volume genuinely needs fanning out past the bucket count —
    // range sampling is nondeterministic, so only large rewrites use it
    val partitioned =
      if (parallelism <= fat.size) bucketed.repartition(math.max(fat.size, 1), col(BucketCol))
      else bucketed.repartitionByRange(parallelism, col(BucketCol), col("repo"), col("path"))
    val rewritten = partitioned
      .sortWithinPartitions(col(BucketCol), col("repo"), col("path"))
    writeData(rewritten, outDir)
    val newFiles = manifestEntries(outDir)
    val newRefs = newFiles.groupBy(_.bucket).toSeq.sortBy(_._1)
      .map { case (bk, fs) => writeManifest(commitVersion, bk, fs.sortBy(_.path)) }
    // compaction races ongoing ingest: rebase like any CoW commit —
    // safe iff the interleaved commits stayed out of the compacted
    // (fat) buckets; an overlap (e.g. a raced MoR append whose delta
    // the fold would silently drop) is a loud conflict, re-run compact
    val lineage = newFiles.groupBy(_.bucket).map { case (bk, fs) =>
      LineageEntry(-1L, bk, fs.size, commitVersion)
    }.toSeq.sortBy(_.bucket)
    commitOptimistic(snap, touched = fat, myRefs = newRefs,
      appendOnly = false, batchId = -1L, writerId = MaintenanceWriter,
      mySchema = sch, lineage = lineage)
      .map(_.headOption.map(_.snapshotVersion).getOrElse(currentVersion()))
  }

  /** Change the table's bucket count — the growth escape hatch for a
    * creation-time choice (a layout sized for 10^8 events starves at
    * 10^10: merge parallelism, prune fan, and commit metadata all key
    * off `buckets`). Iceberg calls this partition-spec evolution; here
    * the full table is rewritten once under the new bucket function
    * (rebucket is THE rare whole-table operation, so it also folds any
    * MoR delta debt on the way through), committed as one snapshot —
    * older snapshots keep their own bucket count, so time travel and
    * `changesBetween` across the boundary stay correct (every reader
    * derives bucketing from ITS snapshot, never from the latest).
    * A rebucket window in `changesBetween` degrades to the full
    * (key, seq) diff — correct, just not file-pruned; rebucket is an
    * admin-cadence operation, not a per-batch one.
    */
  def rebucket(spark: SparkSession, newBuckets: Int): Long = synchronized {
    val snap = snapshot()
    require(newBuckets > 0, s"rebucket: bucket count must be positive, got $newBuckets")
    require(newBuckets != snap.buckets,
      s"rebucket: table already has ${snap.buckets} buckets")
    val sch = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val all = allFiles(snap)
    val commitVersion = snap.version + 1
    val outDir = s"$root/" + f"data/c$commitVersion%08d-${nonce()}"
    val folded =
      if (all.isEmpty) emptyDf(spark, sch).drop(BucketCol)
      else resolve(spark.read.schema(internalSchema(sch))
        .parquet(all.map(f => s"$root/${f.path}"): _*), snap)
    val bucketed = folded
      .withColumn(BucketCol, bucketExpr(col("repo"), newBuckets))
    // same parallelism policy as compact: one task per bucket unless
    // the row volume needs fanning out (range-partitioned, key-sorted)
    val totalRows = if (all.forall(_.rows >= 0)) all.map(_.rows).sum else -1L
    val targetRowsPerTask = math.max(maxRecordsPerFile, 1L << 22)
    val parallelism =
      if (totalRows < 0) newBuckets
      else math.max(newBuckets,
        math.min(((totalRows + targetRowsPerTask - 1) / targetRowsPerTask).toInt,
          spark.sparkContext.defaultParallelism * 4))
    val partitioned =
      if (parallelism <= newBuckets) bucketed.repartition(newBuckets, col(BucketCol))
      else bucketed.repartitionByRange(parallelism, col(BucketCol), col("repo"), col("path"))
    writeData(partitioned
      .sortWithinPartitions(col(BucketCol), col("repo"), col("path")), outDir)
    val newFiles = manifestEntries(outDir)
    val newRefs = newFiles.groupBy(_.bucket).toSeq.sortBy(_._1)
      .map { case (bk, fs) => writeManifest(commitVersion, bk, fs.sortBy(_.path)) }
    writeSnapshot(snap.copy(
      version = commitVersion,
      buckets = newBuckets,
      manifests = newRefs.sortBy(r => (r.bucket, r.path)),
      lineage = newFiles.groupBy(_.bucket).map { case (bk, fs) =>
        LineageEntry(-1L, bk, fs.size, commitVersion)
      }.toSeq.sortBy(_.bucket)))
    commitVersion
  }

  /** Z-ORDER clustering rewrite (Delta `OPTIMIZE ZORDER` / Iceberg
    * sort-order analog): rewrite the whole table with rows ordered by
    * the interleaved-bit z-value of `zcols`, so every output file
    * covers a small HYPERCUBE of the z-column space instead of a thin
    * full-width slice — parquet footer min/max stats on EVERY z
    * column then skip row groups/files for multi-column predicates,
    * which a single-column sort only gives the leading column.
    *
    * Column ordinals: numerics scale by global min/max into 16-bit
    * cells (one aggregate pass, driver-literalized); strings use
    * their first-7-byte big-endian prefix (Iceberg's truncate
    * transform) — lexicographic locality, documented skew caveat vs
    * range-id cells. Bucket routing (repo → bucket) is untouched, so
    * merge/prune semantics are identical; within buckets the (repo,
    * path) manifest ranges widen — the documented z-order tradeoff:
    * multi-dim scan locality bought with single-key range width.
    * Admin-cadence whole-table rewrite like [[rebucket]]; folds MoR
    * debt on the way through. `tasks` > 0 pins the rewrite fan
    * (otherwise the compact/rebucket row-volume policy applies).
    */
  def zorder(spark: SparkSession, zcols: Seq[String], tasks: Int = -1): Long = synchronized {
    require(zcols.nonEmpty && zcols.size <= 4,
      s"zorder: 1-4 columns, got ${zcols.size}")
    val snap = snapshot()
    val sch = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    zcols.foreach(c => require(sch.fieldNames.contains(c),
      s"zorder: column '$c' not in table schema ${sch.fieldNames.mkString(",")}"))
    val all = allFiles(snap)
    val commitVersion = snap.version + 1
    val outDir = s"$root/" + f"data/c$commitVersion%08d-${nonce()}"
    val folded =
      if (all.isEmpty) emptyDf(spark, sch).drop(BucketCol)
      else resolve(spark.read.schema(internalSchema(sch))
        .parquet(all.map(f => s"$root/${f.path}"): _*), snap)
    // per-column ordinal: numeric/temporal → double; string → first-7-
    // byte big-endian prefix (monotone in byte order, < 2^56)
    def ordinal(name: String): Column = sch(name).dataType match {
      case StringType =>
        conv(rpad(substring(hex(encode(col(name), "UTF-8")), 1, 14), 14, "0"),
          16, 10).cast("double")
      case _ => col(name).cast("double")
    }
    // one pass for the global [min, max] of every ordinal
    val aggs = zcols.flatMap(c => Seq(min(ordinal(c)), max(ordinal(c))))
    val stats = folded.agg(aggs.head, aggs.tail: _*).head()
    val ranges = zcols.indices.map { i =>
      (Option(stats.get(2 * i)).fold(0.0)(_.asInstanceOf[Double]),
        Option(stats.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double]))
    }
    // per-column min/max cell, bits interleaved column-major per
    // level: z = Σ_bit Σ_col ((cell_c >> bit) & 1) << (bit*k + c) — a
    // literal-unrolled pure projection, one codegen stage. Cell width
    // is capped so the interleaved value never reaches the long's
    // SIGN bit (k=4 → 15 bits/col = 60 bits): a sign-bit z would sort
    // the top half of the space BEFORE the bottom
    val k = zcols.size
    val bitsPerCol = math.min(16, 63 / k)
    val cellMax = ((1L << bitsPerCol) - 1).toDouble
    val cells = zcols.zip(ranges).map { case (c, (lo, hi)) =>
      if (hi <= lo) lit(0L)
      else least(greatest(
        floor((ordinal(c) - lit(lo)) / lit(hi - lo) * cellMax), lit(0.0)),
        lit(cellMax)).cast("long")
    }
    val z = (0 until bitsPerCol).flatMap(bit => cells.zipWithIndex.map { case (cell, ci) =>
      shiftleft(shiftright(cell, bit).bitwiseAND(lit(1L)), bit * k + ci)
    }).reduce((a, b) => a.bitwiseOR(b))
    val bucketed = folded.withColumn(BucketCol, bucketExpr(col("repo"), snap.buckets))
      .withColumn("_z", z)
    val totalRows = if (all.forall(_.rows >= 0)) all.map(_.rows).sum else -1L
    val targetRowsPerTask = math.max(maxRecordsPerFile, 1L << 22)
    val parallelism =
      if (tasks > 0) tasks // pinned fan is honored verbatim
      else if (totalRows < 0) snap.buckets
      else math.max(snap.buckets,
        math.min(((totalRows + targetRowsPerTask - 1) / targetRowsPerTask).toInt,
          spark.sparkContext.defaultParallelism * 4))
    val partitioned =
      if (tasks <= 0 && parallelism <= snap.buckets)
        bucketed.repartition(math.max(snap.buckets, 1), col(BucketCol))
      else bucketed.repartitionByRange(math.max(parallelism, 1),
        col(BucketCol), col("_z"))
    writeData(partitioned
      .sortWithinPartitions(col(BucketCol), col("_z"))
      .drop("_z"), outDir)
    val newFiles = manifestEntries(outDir)
    val newRefs = newFiles.groupBy(_.bucket).toSeq.sortBy(_._1)
      .map { case (bk, fs) => writeManifest(commitVersion, bk, fs.sortBy(_.path)) }
    writeSnapshot(snap.copy(
      version = commitVersion,
      manifests = newRefs.sortBy(r => (r.bucket, r.path)),
      lineage = newFiles.groupBy(_.bucket).map { case (bk, fs) =>
        LineageEntry(-1L, bk, fs.size, commitVersion)
      }.toSeq.sortBy(_.bucket)))
    commitVersion
  }

  /** All snapshot versions currently on disk, ascending. */
  def versions(): Seq[Long] =
    if (!Files.isDirectory(metaDir)) Nil
    else listDir(metaDir)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong)
      .sorted

  // ------------------------------------------------------------------
  // named refs (Iceberg refs analog): tags + branch pointers, WAP
  // ------------------------------------------------------------------

  private val refsDir = metaDir.resolve("refs")
  private def refPath(name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"ref name '$name' (allowed: letters, digits, . _ -)")
    refsDir.resolve(s"$name.json")
  }

  /** All named refs: name → (kind, version). */
  def refs(): Map[String, (String, Long)] =
    if (!Files.isDirectory(refsDir)) Map.empty
    else listDir(refsDir).filter(_.getFileName.toString.endsWith(".json"))
      .map { p =>
        implicit val fmt: Formats = DefaultFormats
        val r = JsonMethods.parse(Files.readString(p)).extract[LakeRef]
        r.name -> (r.kind, r.version)
      }.toMap

  def refVersion(name: String): Option[Long] = refs().get(name).map(_._2)

  /** Immutable named snapshot pointer (Iceberg tag): time travel by
    * name, and [[expireSnapshots]] retention protection. Refuses to
    * overwrite any existing ref.
    */
  def tag(name: String, version: Long = currentVersion()): Unit = synchronized {
    val p = refPath(name)
    require(version >= 0 && Files.exists(metaDir.resolve(f"v$version%08d.json")),
      s"tag $name: no snapshot v$version")
    if (Files.exists(p))
      throw new IllegalStateException(s"ref '$name' already exists (tags are immutable)")
    writeRef(LakeRef(name, "tag", version), p, replace = false)
  }

  /** Move a branch pointer forward — the publish step of
    * write-audit-publish. Writers keep committing snapshots to the
    * linear chain (staged, invisible to ref readers); audits run
    * against explicit versions ([[readVersion]]); `publish` then
    * fast-forwards the named pointer to the audited version, which is
    * the ONLY operation consumers reading through [[readRef]] observe
    * — Iceberg's WAP cherry-pick collapsed onto a linear chain.
    * Fast-forward only: a backward move is a rollback, which this
    * engine expresses as a forward commit ([[rollback]]) — publish
    * after it. Creates the branch at first use.
    */
  def publish(name: String = "main", version: Long = currentVersion()): Long = synchronized {
    val p = refPath(name)
    require(version >= 0 && Files.exists(metaDir.resolve(f"v$version%08d.json")),
      s"publish $name: no snapshot v$version")
    refs().get(name).foreach { case (kind, cur) =>
      if (kind == "tag")
        throw new IllegalStateException(s"ref '$name' is a tag (immutable); publish needs a branch")
      require(version >= cur,
        s"publish $name: fast-forward only (at v$cur, got v$version); rollback() then publish")
    }
    writeRef(LakeRef(name, "branch", version), p, replace = true)
    version
  }

  /** Read the table as of a named ref — the consumer side of WAP. */
  def readRef(spark: SparkSession, name: String): DataFrame = {
    val v = refVersion(name).getOrElse(
      throw new NoSuchElementException(s"lake at $root has no ref '$name'"))
    readVersion(spark, v)
  }

  def dropRef(name: String): Boolean = synchronized {
    Files.deleteIfExists(refPath(name))
  }

  private def writeRef(r: LakeRef, target: Path, replace: Boolean): Unit = {
    Files.createDirectories(refsDir)
    implicit val fmt: Formats = DefaultFormats
    val tmp = Files.createTempFile(refsDir, ".tmp-r", ".json")
    Files.writeString(tmp, Serialization.writePretty(r))
    if (replace)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    else Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Roll the table back to an earlier snapshot by committing a NEW
    * snapshot whose content (schema, file list, batch fence) is that
    * of `toVersion` — the Iceberg `rollback_to_snapshot` pattern: the
    * chain only moves forward, so time travel across the rollback
    * still works and no data file is touched. The batch-id fence
    * reverts with the state, so a re-replay of the rolled-back batches
    * is accepted again (that is the point of a rollback).
    */
  def rollback(toVersion: Long): Long = synchronized {
    val cur = currentVersion()
    require(toVersion >= 0 && toVersion <= cur, s"rollback: no snapshot v$toVersion")
    val target = snapshot(toVersion)
    val v = cur + 1
    writeSnapshot(target.copy(version = v))
    v
  }

  /** Expire all but the newest `keepLast` snapshots: their meta files
    * are deleted, ending time travel to them. Data files they
    * reference are NOT touched here — files shared with retained
    * snapshots must survive; [[vacuum]] afterwards deletes the ones
    * no retained snapshot references. Returns the expired versions.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = synchronized {
    require(keepLast >= 1, "expireSnapshots: keepLast must be >= 1")
    val vs = versions()
    // ref'd versions (tags AND branch heads) are retention-protected,
    // like Iceberg's — a tagged audit point outlives the keepLast
    // window until the ref is dropped
    val pinned = refs().values.map(_._2).toSet
    val doomed = vs.dropRight(keepLast).filterNot(pinned.contains)
    doomed.foreach(v => Files.deleteIfExists(metaDir.resolve(f"v$v%08d.json")))
    doomed
  }

  /** Garbage-collect data files referenced by NO remaining snapshot
    * (orphans left behind by copy-on-write rewrites, compaction, and
    * aborted writes, once the snapshots that referenced them expire).
    * Empty commit/bucket directories are removed too. Metadata-only:
    * the referenced set comes from the snapshot chain, no data scan.
    * Returns the deleted file paths (relative to the table root).
    */
  /** @param minAgeMs orphan retention window: files younger than this
    *   are NEVER swept, because under the multi-writer protocol a
    *   concurrent merge has a window where its data files and
    *   manifests exist on disk but its snapshot CAS has not landed —
    *   an age-0 vacuum racing that window would delete a live commit's
    *   files (the Delta `VACUUM ... RETAIN 0 HOURS` footgun). The 0
    *   default preserves single-writer behavior; set it above the
    *   longest plausible merge wall time when other writers may be
    *   active.
    */
  def vacuum(minAgeMs: Long = 0L): Seq[String] = synchronized {
    val snaps = versions().map(snapshot(_))
    val refManifests: Set[String] = snaps.flatMap(_.manifests.map(_.path)).toSet
    val referenced: Set[String] = snaps.flatMap(s => allFiles(s).map(_.path)).toSet
    val deleted = Seq.newBuilder[String]
    val now = System.currentTimeMillis()
    def oldEnough(p: Path): Boolean =
      minAgeMs <= 0L || (now - Files.getLastModifiedTime(p).toMillis) >= minAgeMs
    // manifests unreferenced by every retained snapshot are orphans too
    if (Files.isDirectory(manifestDir)) listDir(manifestDir).foreach { p =>
      val rel = Paths.get(root).relativize(p).toString
      if (p.getFileName.toString.endsWith(".json") && !refManifests.contains(rel)
          && oldEnough(p)) {
        Files.delete(p); manifestCache.remove(rel); deleted += rel
      }
    }
    // two passes per dir: referenced parquet anywhere below keeps the
    // dir (and its marker files — _SUCCESS etc.); otherwise the whole
    // subtree including markers is an orphan and goes
    def sweep(dir: Path): Boolean = {
      val (dirs, plain) = listDir(dir).partition(Files.isDirectory(_))
      val liveBelow = dirs.map(sweep).count(identity) > 0
      val liveHere = plain.exists { p =>
        val rel = Paths.get(root).relativize(p).toString
        rel.endsWith(".parquet") && referenced.contains(rel)
      }
      var keptYoung = false
      plain.foreach { p =>
        val rel = Paths.get(root).relativize(p).toString
        val keep =
          if (rel.endsWith(".parquet")) referenced.contains(rel)
          else liveHere || liveBelow
        if (!keep && oldEnough(p)) { Files.delete(p); deleted += rel }
        else if (!keep) keptYoung = true
      }
      val live = liveHere || liveBelow || keptYoung
      if (!live && dir != dataDir) Files.delete(dir)
      live
    }
    if (Files.isDirectory(dataDir)) { sweep(dataDir); () }
    deleted.result()
  }

  // ------------------------------------------------------------------
  // helpers
  // ------------------------------------------------------------------

  private def writeData(df: DataFrame, outDir: String): Unit = {
    val w = df.write.mode("overwrite")
      // parquet bloom filter on the point-lookup key: the standard
      // reader's row-group filter probes it for eq/in predicates
      // (readRepos / changesBetween key reads), skipping row groups
      // whose min/max range intersects but whose membership misses —
      // the case range stats can't prune (wide-range MoR delta files,
      // compacted bucket files). Adaptively sized (parquet-mr 1.13+),
      // capped so manifest-scale file counts stay cheap to store.
      .option("parquet.bloom.filter.enabled#repo", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option("parquet.bloom.filter.max.bytes", LakeTable.RepoBloomMaxBytes.toString)
      .partitionBy(BucketCol)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .parquet(outDir)
  }

  /** Manifest rows for every parquet file under a fresh commit dir:
    * per-file min/max repo + row count, read straight from the parquet
    * footers (metadata-only; no data re-scan — the Iceberg
    * manifest-building pattern).
    */
  private def manifestEntries(outDir: String): Seq[DataFileMeta] = {
    val files = listParquet(Paths.get(outDir))
    if (files.isEmpty) return Nil
    // footer reads are independent small I/Os; reading them serially
    // on the driver adds a per-commit fixed cost that grows with files
    // written (measured ~0.3-0.7 s/batch) — fan them out on a bounded
    // pool instead
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(files.size, 8))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[DataFileMeta]] =
        files.map { p =>
          new java.util.concurrent.Callable[DataFileMeta] {
            def call(): DataFileMeta = {
              val rel = Paths.get(root).relativize(p).toString
              val bucket = p.getParent.getFileName.toString.stripPrefix(s"$BucketCol=").toInt
              val st = FooterStats.repoStats(p)
              DataFileMeta(rel, bucket, st.minRepo, st.maxRepo, st.rows,
                st.minPath, st.maxPath, st.maxSeq)
            }
          }: java.util.concurrent.Callable[DataFileMeta]
        }.asJava
      pool.invokeAll(tasks).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        internalSchema(schema))
      .withColumn(BucketCol, bucketExpr(col("repo"), buckets))

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { val b = Seq.newBuilder[Path]; s.forEach(p => b += p); b.result() }
    finally s.close()
  }

  private def listParquet(dir: Path): Seq[Path] =
    listDir(dir).flatMap { p =>
      if (Files.isDirectory(p)) listParquet(p)
      else if (p.getFileName.toString.endsWith(".parquet")) Seq(p)
      else Nil
    }.sortBy(_.toString)

  /** Project `df` onto `target` (+ passthrough cols), adding missing
    * columns as nulls and applying widening casts.
    */
  private def conformTo(df: DataFrame, target: StructType, passthrough: Seq[String]): DataFrame = {
    val present = df.schema.fieldNames.toSet
    val cols = target.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ passthrough.filter(present.contains).map(col)
    df.select(cols.toIndexedSeq: _*)
  }
}

object LakeTable {
  val SeqCol = "_seq"
  val OpCol = "_op"
  val BucketCol = "_bucket"

  /** Above this many update rows the merge falls back from the
    * broadcast (no-table-shuffle) strategy to the shuffled aggregate —
    * a micro-batch key set beyond this would strain the driver/executor
    * broadcast memory.
    */
  val BroadcastKeyLimit: Long = 8000000L

  /** Cap on the per-row-group repo bloom filter (adaptive sizing picks
    * the smallest candidate that fits the observed NDV under this).
    * 128 KiB ≈ 100k repos/row-group at ~1% fpp — beyond that the
    * filter saturates and degrades to "maybe", never to wrong skips.
    */
  val RepoBloomMaxBytes: Int = 128 * 1024

  /** Max distinct update repos collected driver-side for file-level
    * CoW pruning (~20 MB of strings); beyond it the merge degrades to
    * bucket-granularity rewrite rather than risk the driver heap.
    */
  val PruneRepoCap: Int = 500000

  /** Max distinct (repo, path) pairs collected for path-level file
    * skipping (~2 strings per pair); beyond it pruning degrades to
    * repo ranges only.
    */
  val PrunePairCap: Int = 200000

  /** One data file: manifest entry with Iceberg-style column stats.
    * `minRepo`/`maxRepo` bound the repos in the file under UNSIGNED
    * UTF-8 byte order (parquet's BINARY sort order — comparisons must
    * use [[ubCompare]], not String.compareTo); None = stats
    * unavailable, treated as intersecting everything (conservative).
    */
  final case class DataFileMeta(path: String, bucket: Int,
                                minRepo: Option[String] = None,
                                maxRepo: Option[String] = None,
                                rows: Long = -1L,
                                // path-range stats: only usable for
                                // pruning when minRepo == maxRepo (a
                                // multi-repo file's path range spans
                                // per-repo path spaces)
                                minPath: Option[String] = None,
                                maxPath: Option[String] = None,
                                // largest `_seq` in the file: the merge
                                // skips its LWW probe over files whose
                                // rows all predate the batch. None =
                                // unknown (pre-stat manifests), probed
                                maxSeq: Option[Long] = None)
  final case class LineageEntry(batchId: Long, bucket: Int, filesWritten: Int, snapshotVersion: Long)

  /** Pointer to one immutable per-bucket manifest file, with the
    * summary stats (file count, row sum) that let compaction and
    * planning reason about a bucket WITHOUT opening its manifest.
    * A bucket may have several refs (MoR appends one per commit);
    * CoW merges and compaction fold a bucket back to a single ref.
    */
  final case class ManifestRef(bucket: Int, path: String, fileCount: Int, rows: Long)

  /** Named snapshot pointer (`meta/refs/<name>.json`): kind "tag"
    * (immutable) or "branch" (fast-forward pointer — WAP publish).
    */
  final case class LakeRef(name: String, kind: String, version: Long)

  final case class Snapshot(
      version: Long,
      schemaId: Int,
      schemaJson: String,
      lastCommittedBatchId: Long,
      buckets: Int,
      manifests: Seq[ManifestRef],
      lineage: Seq[LineageEntry],
      // merge-on-read table property (fixed at init, carried by every
      // snapshot; json4s fills the default for pre-MoR snapshots):
      // true = merges append winner rows only and readers resolve LWW
      mor: Boolean = false,
      // per-writer idempotence fences (Iceberg txnAppId/txnVersion,
      // one per concurrent stream): writerId → last committed batchId.
      // The default writer keeps using `lastCommittedBatchId` so
      // pre-multi-writer snapshots stay readable unchanged.
      fences: Map[String, Long] = Map.empty)

  /** A concurrent commit rewrote state this merge also rewrote (CoW
    * bucket overlap, or a bucket-count change raced in). The merge's
    * copy-on-write output is stale — the caller must re-run it against
    * the new head. Disjoint-bucket and append-only (MoR) commits never
    * throw this; they rebase and retry internally.
    */
  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  val DefaultWriter = "default"
  /** Sentinel writer for maintenance commits (compact): no batch to
    * fence, and the commit must PRESERVE every stream's fence.
    */
  val MaintenanceWriter = ""
  val MaxCommitRetries = 5

  /** Unsigned UTF-8 byte-order comparison — the order parquet binary
    * stats are computed under. All range pruning goes through this so
    * a non-ASCII repo name can never be wrongly pruned.
    */
  def ubCompare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0; val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Does file `f` possibly contain any of `sortedRepos` (sorted by
    * [[ubCompare]])? Missing stats → true (conservative: rewrite).
    */
  def rangeIntersects(f: DataFileMeta, sortedRepos: Array[String]): Boolean =
    (f.minRepo, f.maxRepo) match {
      case (Some(lo), Some(hi)) =>
        // first repo >= lo, via binary search in unsigned order
        var l = 0; var r = sortedRepos.length
        while (l < r) {
          val m = (l + r) >>> 1
          if (ubCompare(sortedRepos(m), lo) < 0) l = m + 1 else r = m
        }
        l < sortedRepos.length && ubCompare(sortedRepos(l), hi) <= 0
      case _ => true
    }

  /** Second-tier file skipping for SINGLE-repo files (minRepo ==
    * maxRepo): does any updated path of that repo fall in the file's
    * [minPath, maxPath]? Multi-repo files and missing stats → true
    * (conservative: rewrite). Callers must have already established
    * repo-range intersection, so the repo lookup hits by construction.
    */
  def pathRangeIntersects(f: DataFileMeta,
                          pathsByRepo: Map[String, Array[String]]): Boolean =
    (f.minRepo, f.maxRepo, f.minPath, f.maxPath) match {
      case (Some(r0), Some(r1), Some(pLo), Some(pHi)) if r0 == r1 =>
        pathsByRepo.get(r0) match {
          case Some(paths) =>
            var l = 0; var r = paths.length
            while (l < r) {
              val m = (l + r) >>> 1
              if (ubCompare(paths(m), pLo) < 0) l = m + 1 else r = m
            }
            l < paths.length && ubCompare(paths(l), pHi) <= 0
          case None => true
        }
      case _ => true
    }

  def bucketExpr(repo: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(repo), lit(buckets.toLong)).cast("int")

  /** Driver-side twin of [[bucketExpr]] for manifest pruning: Spark's
    * xxhash64 with default seed 42 over a UTF-8 string.
    */
  def bucketOfRepo(repo: String, buckets: Int): Int =
    math.floorMod(XxHash64Util.hash(repo.getBytes("UTF-8")), buckets.toLong).toInt

  /** Schema evolution: union of fields; conflicting primitive types
    * resolve by widening (int→long, float→double); anything else is an
    * error (the lake refuses lossy evolution).
    */
  def evolve(current: StructType, incoming: StructType): StructType = {
    val byName = current.fields.map(f => f.name -> f).toMap
    val widened = current.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case Some(in) if in.dataType != f.dataType =>
          StructField(f.name, widen(f.dataType, in.dataType), nullable = true)
        case _ => f
      }
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    StructType(widened ++ added)
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (ShortType, IntegerType) | (IntegerType, ShortType) => IntegerType
    case (ShortType, LongType) | (LongType, ShortType) => LongType
    case _ => throw new IllegalArgumentException(
      s"unsupported schema evolution: $a -> $b")
  }
}

/** Spark-compatible xxhash64 (seed 42) over raw bytes, driver-side.
  * Needed so manifest-level bucket pruning agrees bit-for-bit with the
  * executor-side `xxhash64(repo)` bucketing expression.
  */
object XxHash64Util {
  def hash(bytes: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L)
}

/** Metadata-only parquet footer reader for manifest stats. */
object FooterStats {
  final case class RepoStats(rows: Long, minRepo: Option[String], maxRepo: Option[String],
                             minPath: Option[String] = None, maxPath: Option[String] = None,
                             maxSeq: Option[Long] = None)

  /** One Hadoop configuration for every footer read: building one
    * parses the default resources, which costs more than the footer
    * read itself, and a commit reads one footer per file written.
    * Footer reads never mutate it.
    */
  private val conf = new org.apache.hadoop.conf.Configuration()

  /** min/max of the `repo` AND `path` columns, max of `_seq` and the
    * total row count from the file's footer (column-chunk statistics;
    * parquet-mr writes UTF8 binary stats under the UNSIGNED
    * lexicographic order). Any anomaly — missing/empty stats,
    * truncation, unexpected types — degrades that column to None,
    * which the pruner treats as "intersects everything" and the merge
    * as "may hold a newer row".
    */
  def repoStats(p: java.nio.file.Path): RepoStats = {
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var rows = 0L
        val lo = Array[String](null, null)
        val hi = Array[String](null, null)
        val ok = Array(true, true)
        val names = Array("repo", "path")
        var seqHi = Long.MinValue
        var seqOk = true
        reader.getFooter.getBlocks.forEach { blk =>
          rows += blk.getRowCount
          val saw = Array(false, false)
          var sawSeq = false
          blk.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            val i = names.indexOf(name)
            if (i >= 0) {
              saw(i) = true
              val s = cc.getStatistics
              if (s == null || s.isEmpty || !s.hasNonNullValue) ok(i) = false
              else (s.genericGetMin, s.genericGetMax) match {
                case (a: org.apache.parquet.io.api.Binary, z: org.apache.parquet.io.api.Binary) =>
                  val as = a.toStringUsingUTF8; val zs = z.toStringUsingUTF8
                  if (lo(i) == null || LakeTable.ubCompare(as, lo(i)) < 0) lo(i) = as
                  if (hi(i) == null || LakeTable.ubCompare(zs, hi(i)) > 0) hi(i) = zs
                case _ => ok(i) = false
              }
            } else if (name == LakeTable.SeqCol) {
              sawSeq = true
              val s = cc.getStatistics
              if (s == null || s.isEmpty || !s.hasNonNullValue) seqOk = false
              else s.genericGetMax match {
                case z: java.lang.Long => seqHi = math.max(seqHi, z.longValue)
                case _ => seqOk = false
              }
            }
          }
          (0 to 1).foreach(i => if (!saw(i)) ok(i) = false)
          if (!sawSeq) seqOk = false
        }
        def rng(i: Int): (Option[String], Option[String]) =
          if (ok(i) && lo(i) != null) (Some(lo(i)), Some(hi(i))) else (None, None)
        val (rLo, rHi) = rng(0); val (pLo, pHi) = rng(1)
        RepoStats(rows, rLo, rHi, pLo, pHi,
          if (seqOk && seqHi != Long.MinValue) Some(seqHi) else None)
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) => RepoStats(-1L, None, None)
    }
  }
}
