package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.debug._
import graft.pipeline.{BankingPipeline, EtlConfig, EtlResult, RunBankingEtl}
import graft.schema.BankSchema

/** The ETL compiles once per JVM: per-run values (stamps, the uuid seed)
  * reach generated code as references, so rebuilding the pipeline yields
  * the same Java source and Spark's codegen cache serves every later run.
  */
class CodegenReuseSpec extends SparkSpec {

  private def fixturePath: String =
    getClass.getResource("/bank_fixture.csv").getPath

  private def code(df: DataFrame): Seq[String] =
    df.queryExecution.debug.codegenToSeq().map(_._2)

  private def assertSameCode(build: => EtlResult): Unit = {
    val (a, b) = (build, build)
    for ((x, y) <- Seq(a.processed -> b.processed, a.errors -> b.errors)) {
      val (cx, cy) = (code(x), code(y))
      assert(cx.nonEmpty)
      assert(cx == cy)
    }
  }

  test("two builds of fromLines generate identical Java for both outputs") {
    assertSameCode(BankingPipeline.fromLines(
      BankingPipeline.readCsvLines(spark, fixturePath)))
  }

  test("two builds of fromTyped generate identical Java for both outputs") {
    val rows = java.util.Arrays.asList(
      Row(42, "admin", "married", "tertiary", "no", 1500.5, "yes", "no",
        "cellular", 5, "may", 300, 2, -1, 0, "unknown", "no"),
      Row(150, "admin", "married", "tertiary", "no", 1500.5, "yes", "no",
        "cellular", 5, "may", 300, 2, -1, 0, "unknown", "no"))
    // A file-backed frame, as testdata hosting is: the optimizer folds
    // projections over a local relation, so no code would be generated.
    val dir = Files.createTempDirectory("graft-typed").resolve("t").toString
    spark.createDataFrame(rows, BankSchema.inputSchema).write.parquet(dir)
    assertSameCode(BankingPipeline.fromTyped(spark.read.parquet(dir)))
  }

  test("a second RunBankingEtl.run in one session compiles nothing") {
    val out = Files.createTempDirectory("graft-reuse").toString
    def run(i: Int): Unit = RunBankingEtl.run(spark,
      EtlConfig(fixturePath, s"$out/processed$i", s"$out/errors$i"))
    run(0)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0)
    assert(spark.read.parquet(s"$out/processed1").count() == 44)
  }
}
