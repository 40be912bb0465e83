package graft

/** Dev tool: dump formatted physical plans for named queries.
  *
  * Args: query names (default: one sample). With `--out <dir>` each
  * plan is written to `<dir>/<name><suffix>.txt` (suffix from
  * `--suffix`, default empty) instead of stdout — the optimization
  * rounds' before/after plan evidence. `--all` expands to every
  * registered query. Data dir and core count come from the same env
  * vars as Bench (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`) so the
  * captured plans match the benched configuration.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    var out: Option[String] = None
    var suffix = ""
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--out" => out = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--all" => names ++= Queries.all.map(_.name); i += 1
        case n => names += n; i += 1
      }
    }
    if (names.isEmpty) names += "q01_pricing_summary"
    val spark = Session.start(Session.Bench)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { n =>
      val df = Queries.byName(n).query(spark, dir)
      out match {
        case Some(d) =>
          val w = new java.io.PrintWriter(s"$d/$n$suffix.txt")
          try w.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally w.close()
          System.err.println(s"[explain] wrote $d/$n$suffix.txt")
        case None =>
          println(s"========== $n ==========")
          df.explain("formatted")
      }
      spark.catalog.clearCache() // drop per-query persists (e11/q05)
    }
    spark.stop()
  }
}
