package graft.functions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, RandomUUIDGenerator}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

// Per-run values (the ETL's timestamps and its `_batch_id` uuid seed)
// reach generated code through the generated class's `references` array,
// not as spliced Java literals. Spark caches compiled classes by their
// Java source; a literal that differs per run (`current_timestamp()`
// becomes a per-query timestamp literal, `uuid()` inlines its per-query
// seed) makes every run's source new, so every run pays the Janino
// compiles again and HotSpot restarts each fresh class in the
// interpreter. With the values passed as references, every ETL run in a
// JVM after the first reuses the same compiled classes.

/** A timestamp fixed at construction. Not foldable, so ConstantFolding
  * cannot turn it back into an inlined `Literal`; deterministic, so the
  * optimizer may still move or prune it like any pure expression.
  */
case class RunStamp(micros: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runStamp", java.lang.Long.valueOf(micros),
      "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "graft_run_stamp"
}

object RunStamp {
  /** Column API: the timestamp taken now, when this column is built. */
  def now(): Column =
    Bridge.column(RunStamp(DateTimeUtils.instantToMicros(Instant.now())))
}

/** Spark's `Uuid` with its seed passed as a reference: a version-4 uuid
  * per row from a generator seeded `seed + partitionIndex`.
  */
case class RunUuid(seed: Long) extends LeafExpression with Nondeterministic {
  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  override def stateful: Boolean = true

  @transient private[this] var generator: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    generator = RandomUUIDGenerator(seed + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any =
    generator.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RandomUUIDGenerator].getName
    val gen = ctx.addMutableState(cls, "runUuidGen", forceInline = true)
    val ref = ctx.addReferenceObj("runUuidSeed", java.lang.Long.valueOf(seed),
      "java.lang.Long")
    ctx.addPartitionInitializationStatement(
      s"$gen = new $cls($ref.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = $gen.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "graft_run_uuid"
}

object RunUuid {
  /** Column API: a fresh uuid per row, seeded when this column is built. */
  def fresh(): Column = Bridge.column(RunUuid(scala.util.Random.nextLong()))
}
