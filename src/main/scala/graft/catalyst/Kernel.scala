package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** A SQL function backed by a native Catalyst expression: its name, the
  * expression class `DESCRIBE FUNCTION` reports, and the builder from
  * call arguments.
  */
final case class Kernel(name: String, cls: Class[_ <: Expression],
    build: Seq[Expression] => Expression) {
  def id: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
}

object Kernel {
  /** Registers `kernels` on the session. A name the registry already
    * holds is kept unless `replace` is set, so query paths can register
    * constant kernels on every call and the session still binds them
    * once (no "replaced a previously registered function" per call).
    */
  def register(spark: SparkSession, kernels: Seq[Kernel],
      replace: Boolean = false): Unit = {
    val registry = spark.sessionState.functionRegistry
    kernels.foreach { k =>
      if (replace || !registry.functionExists(k.id))
        registry.registerFunction(k.id, k.info, k.build)
    }
  }
}
