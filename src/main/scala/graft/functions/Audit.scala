package graft.functions

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp fixed when the expression is built, read by generated code
  * through `references` instead of being inlined in the Java source.
  *
  * `current_timestamp()` is replaced by a literal at optimization
  * (ComputeCurrentTime) and codegen inlines that literal, so each run of
  * the same transform emits different source and misses Spark's
  * generated-class cache: about 2 classes per silver or gold write and
  * 8–10 per SCD2 merge were recompiled on every refresh. Here the source
  * is the same for every value, so a repeated pass reuses its classes.
  * The expression must stay non-foldable: ConstantFolding would otherwise
  * turn it back into an inlined literal. */
case class AuditTime(micros: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType
  override def prettyName: String = "audit_time"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("auditMicros", java.lang.Long.valueOf(micros))
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

/** The `created_at`/`updated_at` audit columns of every silver, SCD2 and
  * gold table. Each call takes the time once, when the frame is built, so
  * both columns of a row (and every row of one frame) carry one value.
  * The engine is batch-only, as the reference is: a streaming query
  * built once would stamp every micro-batch with the time it was built. */
object Audit {
  /** The current time as a non-null timestamp column ([[AuditTime]]). */
  def now(): Column =
    ColumnBridge.column(AuditTime(DateTimeUtils.instantToMicros(Instant.now())))

  /** `df` with `created_at` and `updated_at` appended, both [[now]]. */
  def stamped(df: DataFrame): DataFrame = {
    val t = now()
    df.withColumn("created_at", t).withColumn("updated_at", t)
  }
}
