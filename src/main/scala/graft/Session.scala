package graft

import org.apache.spark.sql.SparkSession

/** The one place a [[SparkSession]] is built. Every entry point picks one
  * of two postures; both run `local[cpus]` with a `cpus`-wide shuffle,
  * UTC session time, no UI and WARN logging.
  */
object Session {
  sealed trait Posture

  /** The query-suite posture: Bench, Verify, Explain, QueryProbe,
    * LshAuditProbe and the specs. Shuffles stay pinned to the core count.
    */
  case object Bench extends Posture

  /** The posture the CLI ships (Runner) and the scale harness measures
    * (ScaleCheck): shuffles start 16× wide and AQE coalesces them down to
    * byte-sized partitions. At production scale a core-count-pinned
    * shuffle holds GBs per partition and sort-spills. At CLI scale AQE
    * coalesces most shuffles straight back down, but not all of them:
    * a cached frame keeps the width it was planned with, because the
    * cache plans without AQE's final-stage coalescing (each later write
    * of it runs, and writes files from, that many tasks), so
    * `Orchestrator.source` coalesces its frame to the cores. An exchange
    * that repartitions by number is never coalesced by AQE either, so
    * those (`Tables.fanOut`/`fanOutBy`, the csv fixture in
    * `SourceQueries`) ask for `defaultNumShufflePartitions`, the cores,
    * under both postures.
    * The advisory target stays at Spark's default: it should track the
    * deployment's per-task memory (ScaleCheck sets its own measured
    * local target).
    */
  case object Deploy extends Posture

  val InitialPartitionNum = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The confs a posture sets at `cpus` cores. */
  def confs(posture: Posture, cpus: Int): Map[String, String] = {
    val bench = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    posture match {
      case Bench => bench
      case Deploy => bench + (InitialPartitionNum -> (cpus * 16).toString)
    }
  }

  def start(posture: Posture, cpus: Int = Session.cpus,
      appName: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
    confs(posture, cpus).foreach { case (k, v) => builder.config(k, v) }
    appName.foreach(builder.appName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
