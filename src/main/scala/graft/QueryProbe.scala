package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only single-query timing probe for the optimization rounds:
  * `runMain graft.QueryProbe <name> [<name> ...] [--runs N]` times each
  * named query with the EXACT bench discipline (same session conf, same
  * noop sink, prepare untimed, cache cleared between runs) and prints
  * per-run seconds plus the executed-plan scan/shuffle/spill rollup —
  * so a candidate plan change can be measured in isolation, on a quiet
  * window, without paying a full 91-query suite per iteration. Never
  * part of the artifact path; the published numbers remain Bench's.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    var runs = 3
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--runs" => runs = args(i + 1).toInt; i += 2
        case n => names += n; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.start(Session.Bench)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val metricSums = new java.util.concurrent.atomic.AtomicReference(Map.empty[String, Long])
    spark.listenerManager.register(new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = {
        val m = ops.Ops.planMetrics(qe)
        metricSums.updateAndGet(cur => (cur.keySet ++ m.keySet).iterator
          .map(k => k -> (cur.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap)
        ()
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    })

    names.foreach { name =>
      val q = Queries.byName(name)
      q.prepare.foreach(p => p(spark, sfDir))
      metricSums.set(Map.empty)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        q.query(spark, sfDir).write.mode("overwrite").format("noop").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      Thread.sleep(200)
      val m = metricSums.get()
      def mib(k: String): Long = m.getOrElse(k, 0L) / (1024 * 1024)
      println(f"[probe] $name%-28s runs=[${times.map(t => f"$t%.2f").mkString("/")}] " +
        f"min=${times.min}%.3f scan=${mib("filesSize")}MiB " +
        f"shuffle=${mib("shuffleBytesWritten")}MiB spill=${mib("spillSize")}MiB " +
        f"shufRecords=${m.getOrElse("shuffleRecordsWritten", 0L)}")
    }
    spark.stop()
  }
}
