package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, tests are
  * plan-level so they don't interfere).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A pid that verifiably BELONGED to a real process and is now dead —
    * for fabricating a crashed writer's stamped lock/pending state.
    */
  def deadPid(): Long = {
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val pid = p.pid()
    // the handle may linger an instant after waitFor on some JVMs
    var spins = 0
    while (ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false) && spins < 100) {
      Thread.sleep(10); spins += 1
    }
    pid
  }
}

object SparkSpec {
  val cpus = 4
  lazy val session: SparkSession = Session.start(Session.Bench, cpus)
}
