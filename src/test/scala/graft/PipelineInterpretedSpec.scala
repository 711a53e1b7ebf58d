package graft

import org.scalatest.Outcome

/** Every PipelineSpec case again with whole-stage codegen off and every
  * expression interpreted: the per-run stamp and uuid expressions must
  * give the same outputs (uuid uniqueness included) through their `eval`
  * paths as through generated code.
  */
class PipelineInterpretedSpec extends PipelineSpec {
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  override def withFixture(test: NoArgTest): Outcome = {
    val saved = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try super.withFixture(test)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
