package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.schema.Thresholds

/** CLI options contract of the reference (`BankingBatchOptions`,
  * bp.py:87-96): required --input_path/--output_table/--error_table,
  * optional --stats_table (accepted, unused — vestigial in the reference
  * too, bp.py:94), --min_age/--max_age with the reference defaults.
  *
  * Divergence by design (SURVEY.md §3.1): the reference silently REWRITES
  * gs:// paths to a developer-machine path (bp.py:336-339); we reject
  * them instead.
  */
final case class EtlConfig(
  inputPath: String,
  outputTable: String,
  errorTable: String,
  statsTable: Option[String] = None,
  minAge: Int = Thresholds.MinValidAge,
  maxAge: Int = Thresholds.MaxValidAge)

object EtlConfig {
  private val Options = Seq("input_path", "output_table", "error_table",
    "stats_table", "min_age", "max_age")

  /** Strict: every argument is a known `--option` followed by its value.
    * An unknown or repeated option, an option without a value, a
    * non-integer age bound and an empty age range each fail with an
    * IllegalArgumentException that names the option, instead of being
    * dropped or running with a default.
    */
  def parse(args: Seq[String]): EtlConfig = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
    @annotation.tailrec
    def pairs(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: tail =>
          if (!k.startsWith("--")) bad(s"expected an --option, got '$k'")
          val name = k.drop(2)
          if (!Options.contains(name)) bad(s"unknown option $k " +
            s"(known: ${Options.map("--" + _).mkString(", ")})")
          if (acc.contains(name)) bad(s"option $k is given twice")
          tail match {
            case v :: more if !v.startsWith("--") => pairs(more, acc + (name -> v))
            case _ => bad(s"option $k has no value")
          }
      }
    val kv = pairs(args.toList, Map.empty)
    def req(k: String) = kv.getOrElse(k, bad(s"--$k is required"))
    def age(k: String, default: Int): Int = kv.get(k).fold(default)(v =>
      v.trim.toIntOption.getOrElse(bad(s"--$k must be an integer, got '$v'")))
    val cfg = EtlConfig(
      inputPath = req("input_path"),
      outputTable = req("output_table"),
      errorTable = req("error_table"),
      statsTable = kv.get("stats_table"),
      minAge = age("min_age", Thresholds.MinValidAge),
      maxAge = age("max_age", Thresholds.MaxValidAge))
    require(!cfg.inputPath.startsWith("gs://"),
      "gs:// input paths are not supported (the reference silently " +
        "rewrote them to a local developer path; we reject instead)")
    if (cfg.minAge > cfg.maxAge) bad(s"--min_age ${cfg.minAge} must not " +
      s"exceed --max_age ${cfg.maxAge}")
    cfg
  }
}

/** Batch entry point: the reference's `run_pipeline` (bp.py:318-385) as a
  * spark-submit main. Reads the semicolon CSV, runs the 4-stage pipeline,
  * writes processed + flattened error streams.
  */
object RunBankingEtl {
  def main(args: Array[String]): Unit = {
    val cfg = EtlConfig.parse(args.toSeq)
    val builder = SparkSession.builder()
      .appName("graft-banking-etl")
      .config("spark.sql.session.timeZone", "UTC")
    // Under spark-submit the master comes from the launcher; standalone
    // runs (dev, tests) fall back to all local cores.
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .getOrCreate()
    run(spark, cfg)
    spark.stop()
  }

  def run(spark: SparkSession, cfg: EtlConfig): EtlResult = {
    val lines = BankingPipeline.readCsvLines(spark, cfg.inputPath)
    val res = BankingPipeline.fromLines(lines,
      minAge = cfg.minAge, maxAge = cfg.maxAge)
    BankingPipeline.writeTable(res.processed, cfg.outputTable)
    BankingPipeline.writeTable(res.errors, cfg.errorTable)
    res
  }
}
