package cdcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Independent final-state oracle for a replayed lake.
  *
  * It applies the standard pipeline with Spark built-ins only — `sha2`,
  * `regexp_count`, `lower`, a filter — then keeps the max-`seq` event
  * per key and drops deletes. It shares no code with graft's `dsl`,
  * `functions`, `engine` or `lake` packages, and it evaluates with the
  * session's extra optimizer rules switched off, so a fault in any of
  * them cannot make the oracle agree with a wrong lake.
  */
object Oracle {

  /** The token pattern of the standard pipeline. */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Widest change-event schema of the generated log. */
  val EventSchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("op", StringType),
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType), StructField("size_bytes", LongType)))

  /** Expected final table, one row per live key, with the content
    * itself replaced by its sha256 (`content_sha256`).
    *
    * The pipeline's filter keeps an event iff its content has a token.
    * The token pattern's classes cover every character but whitespace,
    * so that is `content rlike '\\S'`; the full `regexp_count` then runs
    * on the surviving winners only.
    */
  def expected(spark: SparkSession, logDir: String): DataFrame = {
    val events = spark.read.schema(EventSchema).parquet(logDir)
      .filter(col("content").rlike("\\S"))
    val latest = Window.partitionBy(col("repo"), col("path")).orderBy(col("seq").desc)
    val winners = events.select(col("repo"), col("path"), col("seq"), col("op"))
      .withColumn("_rank", row_number().over(latest))
      .filter(col("_rank") === 1 && col("op") === "upsert")
      .select(col("seq"))
    events.join(winners, "seq")
      .withColumn("content_sha256", sha2(col("content"), 256))
      .withColumn("content_sha", col("content_sha256"))
      .withColumn("n_tokens", regexp_count(col("content"), lit(TokenPattern)))
      .withColumn("lang", lower(col("lang")))
      .drop("content", "seq", "op")
  }

  /** A lake's user-visible table in the oracle's shape. */
  def actual(table: DataFrame): DataFrame =
    table.withColumn("content_sha256", sha2(col("content"), 256)).drop("content")

  /** One row of a final state: its key and the sha256 of its canonical
    * form (every column, content entering as sha256(content)).
    */
  final case class Row(repo: String, path: String, digest: String)

  def rows(state: DataFrame): Array[Row] = withoutExtraRules(state.sparkSession) {
    val canonical = concat_ws("\u0001",
      col("repo"), col("path"), col("commit"), col("lang"),
      col("content_sha256"), col("content_sha"),
      coalesce(col("size_bytes").cast("string"), lit("null")),
      col("n_tokens").cast("string"))
    state.select(col("repo"), col("path"), sha2(canonical, 256)).collect()
      .map(r => Row(r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(r => (r.repo, r.path))
  }

  /** sha256 over the sorted per-row digests: the whole-state invariant. */
  def stateDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(s"${r.repo}\u0001${r.path}\u0001${r.digest}\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  final case class Verdict(expectedRows: Int, actualRows: Int, rowMismatches: Int,
                           expectedDigest: String, actualDigest: String) {
    def ok: Boolean = expectedRows == actualRows && rowMismatches == 0 &&
      expectedDigest == actualDigest
  }

  /** Row count, per-row digest and whole-state digest of `actual`
    * against `expected` (both from [[rows]]).
    */
  def compare(expected: Array[Row], actual: Array[Row]): Verdict = {
    val want = expected.iterator.map(r => (r.repo, r.path) -> r.digest).toMap
    val got = actual.iterator.map(r => (r.repo, r.path) -> r.digest).toMap
    val mismatches = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    Verdict(expected.length, actual.length, mismatches, stateDigest(expected), stateDigest(actual))
  }

  private def withoutExtraRules[A](spark: SparkSession)(f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    try f finally spark.experimental.extraOptimizations = saved
  }
}
