package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{BankingPipeline, EtlConfig, RunBankingEtl}

/** File-in/file-out end-to-end over the checked-in boundary fixture:
  * covers S1 (text source + header skip), S2 (CLI options), the full
  * stage stack, and K1-K3 sinks.
  */
class EndToEndSpec extends SparkSpec {

  private def fixturePath: String =
    getClass.getResource("/bank_fixture.csv").getPath

  test("S1: header line is dropped, all 50 data rows flow through") {
    val lines = BankingPipeline.readCsvLines(spark, fixturePath)
    assert(lines.count() == 50)
    val res = BankingPipeline.fromLines(lines)
    assert(res.processed.count() + res.errors.count() == 50)
  }

  test("fixture error paths: 4 parse errors + 2 validation errors") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    val byType = res.errors.groupBy("error_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("parsing_error" -> 4L, "data_validation" -> 2L))
  }

  test("quoted semicolon and case/space normalization survive the file path") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    val jobs = res.processed.select("job").distinct()
      .collect().map(_.getString(0)).toSet
    assert(jobs.contains("tech;nician"))
    assert(jobs.contains("management"))
  }

  test("S2/K1-K3: CLI config end-to-end writes parquet tables") {
    val out = Files.createTempDirectory("graft-e2e").toString
    val cfg = EtlConfig.parse(Seq(
      "--input_path", fixturePath,
      "--output_table", s"$out/processed",
      "--error_table", s"$out/errors",
      "--min_age", "18", "--max_age", "100"))
    RunBankingEtl.run(spark, cfg)
    val processed = spark.read.parquet(s"$out/processed")
    val errors = spark.read.parquet(s"$out/errors")
    assert(processed.count() == 44 && errors.count() == 6)
    assert(processed.columns.contains("customer_segment"))
    // Append semantics (the reference's get-or-create + append sink)
    RunBankingEtl.run(spark, cfg)
    val appended = spark.read.parquet(s"$out/processed")
    assert(appended.count() == 88)
    // _batch_id is fresh per row and per run: 88 distinct, none null.
    val ids = appended.select("_batch_id").collect().map(_.getString(0))
    assert(ids.length == 88 && !ids.contains(null) && ids.distinct.length == 88)
    // Every stamp is set in both tables.
    val stamps = Seq("_ingestion_timestamp", "_processing_timestamp",
      "processing_timestamp")
    assert(stamps.forall(c => appended.where(col(c).isNull).count() == 0))
    val appendedErrors = spark.read.parquet(s"$out/errors")
    assert(appendedErrors.count() == 12 &&
      appendedErrors.where(col("timestamp").isNull).count() == 0)
  }

  test("S2: custom age bounds are honored") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath),
      minAge = 30, maxAge = 49)
    val ages = res.processed.select("age").collect().map(_.getInt(0))
    assert(ages.nonEmpty && ages.forall(a => a >= 30 && a <= 49))
  }

  test("S2: gs:// paths are rejected, not silently rewritten") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "gs://bucket/x.csv",
        "--output_table", "t", "--error_table", "e"))
    }
    assert(e.getMessage.contains("gs://"))
  }

  test("S2: missing required option names itself") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.parse(Seq("--input_path", "x.csv"))
    }
    assert(e.getMessage.contains("--output_table"))
  }

  private val required = Seq("--input_path", "in.csv",
    "--output_table", "t", "--error_table", "e")

  private def parseError(args: String*): String =
    intercept[IllegalArgumentException](EtlConfig.parse(args)).getMessage

  test("S2: an unknown option is rejected by name, not ignored") {
    val msg = parseError(required ++ Seq("--max_agee", "60"): _*)
    assert(msg.contains("unknown option --max_agee"))
  }

  test("S2: an option without a value is rejected by name") {
    assert(parseError(required :+ "--min_age": _*)
      .contains("option --min_age has no value"))
    assert(parseError("--input_path", "--output_table", "t",
      "--error_table", "e").contains("option --input_path has no value"))
  }

  test("S2: a non-integer age bound is rejected by name") {
    assert(parseError(required ++ Seq("--min_age", "x"): _*)
      .contains("--min_age must be an integer, got 'x'"))
    assert(parseError(required ++ Seq("--max_age", "6.5"): _*)
      .contains("--max_age must be an integer, got '6.5'"))
  }

  test("S2: min_age above max_age is rejected") {
    assert(parseError(required ++ Seq("--min_age", "60", "--max_age", "18"): _*)
      .contains("--min_age 60 must not exceed --max_age 18"))
    val cfg = EtlConfig.parse(required ++ Seq("--min_age", "30", "--max_age", "30"))
    assert(cfg.minAge == 30 && cfg.maxAge == 30)
  }

  test("S2: a repeated option or a bare argument is rejected") {
    assert(parseError(required ++ Seq("--error_table", "e2"): _*)
      .contains("option --error_table is given twice"))
    assert(parseError(required :+ "stray": _*)
      .contains("expected an --option, got 'stray'"))
  }

  test("scoring breakpoints from fixture match the reference tables") {
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    val rec = res.processed
      .select("pdays", "rfm_scores").where(col("previous") === 0)
      .collect().map(r => r.getInt(0) ->
        r.getString(1).split("\"recency\": ")(1).takeWhile(_.isDigit).toInt)
      .toMap
    val expected = Map(-1 -> 1, 0 -> 5, 7 -> 5, 8 -> 4, 30 -> 4, 31 -> 3,
      90 -> 3, 91 -> 2, 180 -> 2, 181 -> 1)
    expected.foreach { case (p, want) =>
      assert(rec.get(p).contains(want), s"pdays=$p want recency=$want got ${rec.get(p)}")
    }
  }

  test("K1/K2: json sink writes real JSON lines (reference wrote dict repr)") {
    val out = java.nio.file.Files.createTempDirectory("graft-json").toString
    val res = BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath))
    BankingPipeline.writeJson(res.errors, s"$out/errors")
    val lines = spark.read.text(s"$out/errors").collect().map(_.getString(0))
    assert(lines.length == 6)
    lines.foreach { l =>
      val parsed = spark.range(1).select(
        from_json(lit(l), org.apache.spark.sql.types.StructType.fromDDL(
          "raw_data STRING, error_message STRING, error_type STRING, timestamp TIMESTAMP"))).head().getStruct(0)
      assert(parsed != null && parsed.getString(2) != null) // valid JSON, typed
    }
  }
}
