package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delimited-text sources with the reference's parse semantics.
  *
  * The reference reads Hive `\u0001`-delimited text and naive-split CSV
  * (BulkImporterFromText.java:54, BulkImporterFromCSVText.java:54) and
  * silently drops any record that does not split into exactly `arity`
  * fields (BulkImporterFromText.java:56,68-70). Here:
  *   - `strictCsv` is the correct default (RFC-4180 via Spark's CSV reader,
  *     quoted commas handled, PERMISSIVE corrupt-record quarantine);
  *   - `naiveSplit` is the documented compat mode reproducing the
  *     reference's observable skip behavior (2.11% of the sample CSV);
  *   - both return `(kept, rejected)` so bad records land in a quarantine
  *     sink instead of vanishing into task logs — at 100 TB a silent 2%
  *     drop is a data-loss incident, not a log line.
  */
object Delimited {

  /** Positional schema `c0..c{n-1}`, all nullable strings (SURVEY.md §1.2 —
    * everything in the reference is stringly typed). */
  def positionalSchema(arity: Int): StructType =
    StructType((0 until arity).map(i => StructField(s"c$i", StringType, nullable = true)))

  /** RFC-4180 CSV (the correct default the reference lacked). */
  def strictCsv(spark: SparkSession, path: String, arity: Int): DataFrame =
    spark.read
      .schema(positionalSchema(arity))
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Reference-compat parse: split each raw line on `delim` with NO quoting,
    * keep records with exactly `arity` tokens, quarantine the rest.
    * `delim` is a regex (escape as needed); `split(.., -1)` keeps trailing
    * empty fields like Java's `String.split` with the reference's behavior
    * on the sample data. Returns (kept-with-positional-columns, rejectedRawLines). */
  def naiveSplit(spark: SparkSession, path: String, delim: String,
                 arity: Int): (DataFrame, DataFrame) =
    naiveSplitLines(spark.read.text(path), delim, arity)

  /** [[naiveSplit]] over an existing single-column `value` lines frame —
    * the shared core, so a streaming micro-batch (foreachBatch hands over
    * exactly such a frame) parses identically to the batch path. */
  def naiveSplitLines(raw: DataFrame, delim: String,
                      arity: Int): (DataFrame, DataFrame) = {
    val fields = naiveFields(raw, delim, arity)
    val fits = col(TokenCount) === arity
    (fields.where(fits).select((0 until arity).map(i => col(s"c$i")): _*),
      fields.where(!fits).select(col("value")))
  }

  /** Token count column of [[naiveFields]]. */
  val TokenCount = "__graft_tokens"

  /** The one naive tokenization: each raw line's `value`, its token count
    * ([[TokenCount]]) and its first `arity` tokens as `c0..` (null past
    * the line's end). Splitting it by the token count gives
    * [[naiveSplitLines]]; the naive-split loads also build their
    * quarantine from it in one pass (`BulkLoad.naiveLines`). */
  def naiveFields(raw: DataFrame, delim: String, arity: Int): DataFrame = {
    val tokens = raw.select(col("value"), split(col("value"), delim, -1).as("t"))
    tokens.select(col("value") +: size(col("t")).as(TokenCount) +:
      (0 until arity).map(i => get(col("t"), lit(i)).as(s"c$i")): _*)
  }

  /** The Hive text field separator (`\u0001`, no quoting) — the
    * reference text path (BulkImporterFromText.java:54). */
  val HiveDelimiter = "\u0001"
}
