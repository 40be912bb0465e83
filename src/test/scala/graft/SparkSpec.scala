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

  /** What a writer that died before its publish leaves in store table
    * `table`: a commit dir no manifest names (a copy of a live one).
    */
  def strayCommit(table: String): org.apache.hadoop.fs.Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = graft.dedup.StoreGuard.tableLocation(spark, table)
    val fs = loc.getFileSystem(conf)
    val src = fs.listStatus(loc).map(_.getPath).find(_.getName.startsWith("commit=")).get
    val dst = new org.apache.hadoop.fs.Path(loc, s"commit=c-stray${System.nanoTime()}")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf), s"copy $src")
    dst
  }

  /** A fresh JVM's view of store `name`: its catalog entries dropped
    * (they are EXTERNAL, the files stay) and re-registered from disk.
    */
  def freshRegistration(store: graft.dedup.BandedStore, name: String): Unit = {
    (store.dataTables(name) :+ store.metaTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    store.ensureRegistered(spark, name)
  }
}

object SparkSpec {
  val cpus = 4
  lazy val session: SparkSession = Session.start(Session.Bench, cpus)
}
