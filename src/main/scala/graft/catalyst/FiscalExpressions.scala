package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType}

/** Native Catalyst expressions for the 13-4 retail calendar — the
  * `fiscal_period(date)` / `fiscal_week(date)` registered functions
  * SURVEY.md §7.4 calls for. Semantically identical to the Column-level
  * forms in graft.cube.FiscalCalendar (property-tested against them),
  * but usable from SQL text and codegen'd as straight integer
  * arithmetic on the date's epoch-day — no expression-tree interpretive
  * overhead in the hot path.
  *
  * Day-of-year from epoch days without a calendar object: with
  * `y = floor((400·d + 146527) / 146097)`-style civil-calendar math the
  * JVM's LocalDate is still the clearest correct form for the
  * interpreted path; the generated code calls the same static helper so
  * both paths share one implementation.
  */
object FiscalMath {
  /** 1-based day-of-year for an epoch day. */
  def dayOfYear(epochDay: Int): Int =
    java.time.LocalDate.ofEpochDay(epochDay.toLong).getDayOfYear

  def fiscalPeriod(epochDay: Int): Int =
    math.min(13, (dayOfYear(epochDay) - 1) / 28 + 1)

  def fiscalWeek(epochDay: Int): Int =
    math.min(53, (dayOfYear(epochDay) - 1) / 7 + 1)
}

abstract class FiscalUnary extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DateType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires DATE input, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  protected def javaCall: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.FiscalMath.$javaCall($c)")
}

case class FiscalPeriodExpr(child: Expression) extends FiscalUnary {
  override protected def nullSafeEval(input: Any): Any =
    FiscalMath.fiscalPeriod(input.asInstanceOf[Int])
  override protected def javaCall: String = "fiscalPeriod"
  override protected def withNewChildInternal(newChild: Expression): FiscalPeriodExpr =
    copy(child = newChild)
  override def prettyName: String = "fiscal_period"
}

case class FiscalWeekExpr(child: Expression) extends FiscalUnary {
  override protected def nullSafeEval(input: Any): Any =
    FiscalMath.fiscalWeek(input.asInstanceOf[Int])
  override protected def javaCall: String = "fiscalWeek"
  override protected def withNewChildInternal(newChild: Expression): FiscalWeekExpr =
    copy(child = newChild)
  override def prettyName: String = "fiscal_week"
}

/** Register on an existing session (tests, notebooks). */
object FiscalFunctions {
  val kernels: Seq[Kernel] = Seq(
    Kernel("fiscal_period", classOf[FiscalPeriodExpr], c => FiscalPeriodExpr(c.head)),
    Kernel("fiscal_week", classOf[FiscalWeekExpr], c => FiscalWeekExpr(c.head)))

  def register(spark: SparkSession): Unit = Kernel.register(spark, kernels)
}

/** `spark.sql.extensions=graft.catalyst.GraftExtensions` — session-build
  * injection for cluster deployments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    FiscalFunctions.kernels.foreach(k => ext.injectFunction((k.id, k.info, k.build)))
}
