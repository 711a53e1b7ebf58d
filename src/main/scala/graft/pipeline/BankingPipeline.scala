package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._
import graft.functions.RunStamp
import graft.schema.{BankSchema, Thresholds}

/** Processed + error outputs of a staged run (the reference's main output
  * and flattened `error_records` stream, bp.py:341-383).
  */
final case class EtlResult(processed: DataFrame, errors: DataFrame) {
  /** The reference's 4-way error Flatten (U1, bp.py:368-372) keyed by
    * stage: here the single pass already unifies them; this re-splits by
    * `error_type` and re-unions — exposed so callers can address
    * per-stage error streams like the reference's tagged outputs.
    */
  def errorStreamsByStage: Map[String, DataFrame] =
    Seq("parsing_error", "data_validation", "segmentation_error",
      "preparation_error")
      .map(t => t -> errors.where(col("error_type") === t)).toMap
}

/** End-to-end composition of the four stages over raw CSV lines or an
  * already-typed frame, plus the single split into (processed, errors).
  */
object BankingPipeline {

  /** Full pipeline from raw CSV text lines (one string column).
    * @param keep passthrough columns present in `lines` to carry into both
    *             outputs (e.g. a host-table key for deterministic order)
    */
  def fromLines(lines: DataFrame, lineCol: String = "value",
                minAge: Int = Thresholds.MinValidAge,
                maxAge: Int = Thresholds.MaxValidAge,
                keep: Seq[String] = Nil): EtlResult =
    split(stagesAfterParse(Parse(lines, lineCol, keep), minAge, maxAge), keep)

  /** Full pipeline from a typed 17-column frame (testdata hosting); any
    * extra columns named in `keep` ride along into both outputs.
    */
  def fromTyped(df: DataFrame,
                minAge: Int = Thresholds.MinValidAge,
                maxAge: Int = Thresholds.MaxValidAge,
                keep: Seq[String] = Nil): EtlResult =
    split(stagesAfterParse(Parse.fromTyped(df), minAge, maxAge), keep)

  def stagesAfterParse(staged: DataFrame, minAge: Int, maxAge: Int): DataFrame =
    Prepare(Segment(ValidateEnrich(staged, minAge, maxAge)))

  /** A header line, identified structurally: the full 17-column header
    * shape — all column names in order, case-insensitive, tolerating the
    * UCI distribution's "-quoting and stray whitespace. Matching the
    * whole shape (not just a leading `age` token) means a malformed
    * mid-file DATA row that happens to start with "age" still reaches
    * the parsing_error channel, like the reference's positional
    * skip_header_lines=1 would. Shared by the batch reader and the
    * streaming ingest path so the rule cannot drift between them.
    *
    * The shape match (a regex replace, a lowercase and a compare) runs
    * only on lines that pass a cheap guard: the first character that is
    * not a quote or whitespace must be `a` or `A`. The guard is an exact
    * necessary condition: the shape match strips exactly those characters
    * (the regex class `[\"\s]`: quote, space, tab, newline, vertical tab,
    * form feed, carriage return) wherever they stand, so that character
    * leads the stripped line, and only `a` and `A` lowercase to the
    * header's leading `a`. It never changes the result; it skips the
    * costly part for data rows, which lead with a digit.
    */
  private val headerShape: String =
    BankSchema.inputFields.map(_.name).mkString(";")

  private val headerStripped = "\" \t\n\u000B\f\r"

  def isHeaderLine(line: Column): Column =
    substring(ltrim(line, headerStripped), 1, 1).isin("a", "A") &&
      lower(regexp_replace(line, "[\"\\s]", "")) === headerShape

  /** Read the reference's native input: semicolon CSV file, 1 header line
    * (bp.py:345). Kept as a raw-text read so malformed lines reach the
    * parse stage's error channel instead of being dropped by the reader.
    */
  def readCsvLines(spark: SparkSession, path: String): DataFrame = {
    // Drop headers by predicate, not position: no ordering assumption
    // (limit(1) on a multi-split read can return an arbitrary row), one
    // header per file part is handled (Beam's skip_header_lines=1 is per
    // file), and the read stays a single shuffle-free stage.
    spark.read.text(path).where(!isHeaderLine(col("value")))
  }

  /** One split at the very end (SURVEY.md §4.3a): both branches share the
    * same narrow plan; Catalyst collapses each side to scan+project+filter.
    */
  def split(staged: DataFrame, keep: Seq[String] = Nil): EtlResult = {
    val processed = staged.where(Stage.ok)
      .select((keep ++ BankSchema.outputColumns).map(col): _*)
    val errors = staged.where(!Stage.ok).select(
      keep.map(col) ++ Seq(
      // Parse errors carry the raw line (bp.py:151); later stages carry the
      // record rendered as JSON (documented divergence from Python dict-repr,
      // SURVEY.md §2.3 V3).
      when(col(Stage.ErrType) === "parsing_error", col(Stage.Raw))
        .otherwise(to_json(struct(BankSchema.inputColumns.map(col): _*)))
        .as("raw_data"),
      col(Stage.ErrMsg).as("error_message"),
      col(Stage.ErrType).as("error_type"),
      RunStamp.now().as("timestamp")): _*)
    EtlResult(processed, errors)
  }

  /** U1 union-all of error streams (bag semantics, bp.py:368-372). */
  def unionErrors(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_.unionByName(_))

  /** K1/K2 text sinks: the reference writes `str(dict)` lines with a
    * `.json` suffix (bp.py:375-383); we emit real JSON (documented
    * improvement, SURVEY.md §2.7).
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K3 BigQuery-style get-or-create sink -> parquet table with append
    * semantics (SURVEY.md §2.7).
    */
  def writeTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)
}
