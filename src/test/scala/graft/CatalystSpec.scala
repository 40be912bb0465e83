package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.catalyst.{FiscalFunctions, FiscalWeekExpr}
import graft.cube.FiscalCalendar
import graft.multimodal.MediaFunctions
import graft.similarity.LshFunctions

/** Native fiscal-calendar expressions: SQL-registered, codegen'd, and
  * property-checked against the Column-level implementations over a
  * multi-year date range (incl. leap years and week-53 folding).
  */
class CatalystSpec extends SparkSpec {

  test("fiscal_period/fiscal_week registered expressions match the Column forms") {
    FiscalFunctions.register(spark)
    val dim = FiscalCalendar.dateDim(spark, "1999-01-01", "2002-12-31") // incl. leap 2000
    val both = dim.select(
      col("cal_date"),
      col("fiscal_period"),
      col("fiscal_week"),
      expr("fiscal_period(cal_date)").as("native_period"),
      expr("fiscal_week(cal_date)").as("native_week"))
    val diffs = both.filter(
      col("fiscal_period") =!= col("native_period") ||
        col("fiscal_week") =!= col("native_week"))
    assert(diffs.count() == 0)
    assert(both.count() == 1461)
  }

  test("native expressions handle nulls and SQL text directly") {
    FiscalFunctions.register(spark)
    val r = spark.sql(
      "SELECT fiscal_period(DATE'2025-12-31') p13, fiscal_week(DATE'2025-01-07') w1, fiscal_period(CAST(NULL AS DATE)) np")
      .collect()(0)
    assert(r.getInt(0) == 13)
    assert(r.getInt(1) == 1)
    assert(r.isNullAt(2))
  }

  test("fiscal_week is registered as FiscalWeekExpr") {
    FiscalFunctions.register(spark)
    assert(spark.sessionState.functionRegistry.lookupFunction(
      FunctionIdentifier("fiscal_week")).get.getClassName == classOf[FiscalWeekExpr].getName)
  }

  test("constant kernels register once per session") {
    val registry = spark.sessionState.functionRegistry
    Seq[(SparkSession => Unit, String)](
      (FiscalFunctions.register, "fiscal_period"),
      (LshFunctions.register, "lsh_band_hashes"),
      (MediaFunctions.register, "jpeg_sof")).foreach { case (register, name) =>
      register(spark)
      val first = registry.lookupFunction(FunctionIdentifier(name)).get
      register(spark)
      assert(registry.lookupFunction(FunctionIdentifier(name)).get eq first, name)
    }
  }
}
