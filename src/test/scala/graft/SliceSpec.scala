package graft

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, LocalDateTime}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import graft.cube.{DateWindow, FiscalCalendar}
import graft.etl.{Pipeline, SpecLoader}
import graft.ops.Orchestrator
import graft.ops.Orchestrator.{Fiscal, Full, Rolling}

/** The slice an orchestrated sync pushes below its aggregate: the literal
  * window a rolling slice becomes, and sales_channel's TY/LY split under
  * a slice.
  */
class SliceSpec extends SparkSpec {
  import spark.implicits._

  /** The sf0.01 directory beside the specs' own scale factor. */
  private val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-slice")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The latest date of `c`, as `to_date` reads it. */
  private def aggregateMax(df: DataFrame, c: String): Option[LocalDate] =
    Option(df.agg(max(to_date(col(c)))).head().getDate(0)).map(_.toLocalDate)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a rolling source scans its fact once, with no anchor join") {
    val out = Orchestrator.source(spark, sfDir, "inventory", Rolling(14))
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = plan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => s
    }
    assert(scans.size == 1, plan)
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, plan)
  }

  test("the window keeps exactly the rows within `days` of the anchor for TIMESTAMP, " +
      "TIMESTAMP_NTZ and DATE") {
    // 23:30 UTC on the 10th is the 9th in Los Angeles; 02:00 wall clock
    // on the 9th is the 8th there if read as a UTC instant
    val instants = Seq("2024-03-01T12:00:00Z", "2024-03-03T07:59:59Z", "2024-03-10T07:30:00Z")
      .map(Instant.parse)
    val walls = Seq("2024-02-24T00:00:00", "2024-02-25T23:59:59", "2024-03-09T02:00:00")
      .map(LocalDateTime.parse)
    val dates = Seq("2024-02-20", "2024-02-21", "2024-03-09").map(LocalDate.parse)
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      Seq("TIMESTAMP" -> instants.toDF("d"), "TIMESTAMP_NTZ" -> walls.toDF("d"),
          "DATE" -> dates.toDF("d")).foreach { case (what, df) =>
        val anchor = aggregateMax(df, "d").get
        Seq(1, 8, 14).foreach { days =>
          val w = DateWindow.Days(anchor.minusDays(days - 1L), anchor,
            java.time.ZoneId.of("America/Los_Angeles"))
          val want = df.filter(datediff(lit(anchor), to_date(col("d"))) < days)
          assert(sorted(Orchestrator.applySlice(df, "d", w)) == sorted(want), s"$what, $days days")
        }
      }
    }
  }

  test("sliced sales_channel equals the unsliced rows of its slice's dates, LY included") {
    val spec = SpecLoader.fromResource("sales_channel")
    val persisted = Seq.newBuilder[DataFrame]
    def rows(df: DataFrame): Seq[String] = sorted(df.drop("lastrefreshed"))
    try {
      val unsliced = Pipeline.compile(spec, PipelineQueries.salesChannelAgg(spark, sf001,
        onPersist = persisted += _))
      val anchor = aggregateMax(Tables.lineitem(spark, sf001), "l_shipdate").get
      val fy = FiscalCalendar.fiscalYearAnchored(lit(anchor.minusDays(200)))
      val y = spark.range(1).select(fy).head().getInt(0)
      val d = to_date(col("calendar_date"))
      Seq(
        Rolling(14) -> (d >= lit(anchor.minusDays(13)) && d <= lit(anchor)),
        Fiscal(y, None) -> (FiscalCalendar.fiscalYearAnchored(d) === y)
      ).foreach { case (slice, dates) =>
        val want = unsliced.filter(dates)
        assert(want.filter(col("ly_net_sales_usd").isNotNull).count() > 0,
          s"$slice: no LY rows to compare")
        val got = Orchestrator.source(spark, sf001, "sales_channel", slice, persisted += _)
        assert(rows(got) == rows(want), slice)
      }
    } finally persisted.result().foreach(_.unpersist())
  }

  test("an empty window keeps nothing; a full one keeps every row") {
    val df = Seq(LocalDate.parse("2024-01-01")).toDF("d")
    assert(Orchestrator.applySlice(df, "d", DateWindow.All).count() == 1)
    withTempDir { tmp =>
      Seq.empty[(Long, LocalDate)].toDF("l_orderkey", "l_shipdate")
        .write.parquet(tmp.resolve("lineitem.parquet").toString)
      val w = Orchestrator.window(spark, tmp.toString, "inventory", Rolling(14))
      assert(Orchestrator.applySlice(df, "d", w).count() == 0)
    }
    assert(Orchestrator.window(spark, sfDir, "inventory", Full) == DateWindow.All)
  }
}
