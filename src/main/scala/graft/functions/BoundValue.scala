package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.DataType

/** A value fixed for one batch (a micro-batch's timestamp, a table's
  * high-watermark, a pipeline run's ingest stamp), bound BY REFERENCE:
  * `graft_bind(<literal>)`.
  *
  * A literal is inlined into generated code, so a value that changes
  * on every batch makes every batch's code new: Spark's codegen cache
  * keys on the code text (and the class loader), and each new value
  * costs a Janino compile on the driver and another on the executor
  * threads. This expression is not foldable, so no optimizer rule
  * turns it back into a literal, and its generated code reads the
  * value from the plan's reference array (`ctx.addReferenceObj`, as
  * [[MinhashSig]] reads itself): two batches that differ only in the
  * value generate the same code and share one compiled class.
  *
  * It is deterministic: the value is fixed for the expression's
  * lifetime, so filters on it still move through the plan like
  * filters on a literal. It is not a literal, so a data source is
  * never offered a filter on it: a parquet scan skips no row group on
  * it.
  */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = value == null

  override def prettyName: String = "graft_bind"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null)
      ev.copy(code = code"", isNull = TrueLiteral,
        value = JavaCode.defaultLiteral(dataType))
    else {
      val ref = ctx.addReferenceObj("boundValue", value, CodeGenerator.boxedType(dataType))
      ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
        isNull = FalseLiteral)
    }

  override def sql: String = s"$prettyName(${Literal(value, dataType).sql})"
}

object BoundValue {

  /** `value` (any literal column: `lit(ts)`, `lit(date)`) bound by
    * reference. The session must have the graft functions
    * ([[GraftFunctions.register]]).
    */
  def of(value: Column): Column = call_function("graft_bind", value)

  /** What `graft_bind` resolves to: its one argument must fold to a
    * value at plan time.
    */
  private[functions] def build(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : BoundValue = {
    require(args.length == 1, s"graft_bind requires exactly 1 argument, got ${args.length}")
    require(args.head.foldable, s"graft_bind needs a literal, got ${args.head}")
    BoundValue(args.head.eval(), args.head.dataType)
  }

  /** Streaming's per-batch timestamp, bound by reference. Micro-batch
    * execution rewrites `current_timestamp()` / `current_date()` /
    * `localtimestamp()` into a [[CurrentBatchTimestamp]], which it turns
    * into a literal after the optimizer; this rule, run inside the
    * optimizer, binds the same value ([[CurrentBatchTimestamp.toLiteral]])
    * first, so consecutive batches generate the same code.
    */
  object BindBatchTimestamp extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressionsWithPruning(_.containsPattern(CURRENT_LIKE)) {
        case t: CurrentBatchTimestamp =>
          val l = t.toLiteral
          BoundValue(l.value, l.dataType)
      }
  }

  /** Add [[BindBatchTimestamp]] to the session's optimizer, once. A
    * streaming query clones its session when it starts, so install
    * before `start()`.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(BindBatchTimestamp))
      spark.experimental.extraOptimizations = rules :+ BindBatchTimestamp
  }
}
