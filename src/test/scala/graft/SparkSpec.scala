package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, tests are
  * plan-level so they don't interfere).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** What a writer from version `base` that died before its publish
    * leaves in store table `table`: a commit dir no manifest names (a
    * copy of a live one).
    */
  def strayCommit(table: String, base: Int): org.apache.hadoop.fs.Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = graft.dedup.StoreGuard.tableLocation(spark, table)
    val fs = loc.getFileSystem(conf)
    val src = fs.listStatus(loc).map(_.getPath).find(_.getName.startsWith("commit=")).get
    val dst = new org.apache.hadoop.fs.Path(loc, s"commit=c-v$base-stray${System.nanoTime()}")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf), s"copy $src")
    dst
  }

  /** Publish store `name`'s next version as a second JVM would: the
    * newest manifest's lines under another writer tag, `edit`ed. Returns
    * the version published.
    */
  def foreignPublish(store: graft.dedup.BandedStore, name: String,
      edit: Seq[String] => Seq[String] = identity): Int = {
    import graft.sinks.ManifestLog
    val dir = store.guard(name).manifestDir(spark)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = store.snapshot(spark, name).version
    ManifestLog.publish(fs, dir, v + 1, edit(ManifestLog.read(fs, dir, v)
      .map(l => if (l.startsWith("writer\t")) "writer\tfeedf00d" else l)))
    v + 1
  }

  /** Run `f` while a second JVM publishes store `name`'s next version
    * ([[foreignPublish]]) as soon as `f` starts its first write into one
    * of the store's data tables: a writer inside `f` that read the store
    * before then loses its publish.
    */
  def withRacingPublish[A](store: graft.dedup.BandedStore, name: String)(f: => A): A =
    withRacing(store, name)(foreignPublish(store, name))(f)

  /** Run `f`, and run `race` as soon as `f` plans its first write into
    * one of store `name`'s data tables. `race` runs from an optimizer
    * rule on the planning thread, and every other write into those
    * tables waits in its planning until `race` is done, so it always
    * runs after `f` read the store and while none of `f`'s writes is in
    * flight; the writes `race` makes itself pass.
    */
  def withRacing[A](store: graft.dedup.BandedStore, name: String)(race: => Unit)(f: => A): A = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val tables = store.dataTables(name).map(_.toLowerCase).toSet
    val racer = new java.util.concurrent.atomic.AtomicReference[Thread](null)
    val raced = new java.util.concurrent.CountDownLatch(1)
    val rule = new org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val intoStore = plan.exists {
          case w: InsertIntoHadoopFsRelationCommand =>
            w.catalogTable.exists(t => tables(t.identifier.table.toLowerCase))
          case _ => false
        }
        if (intoStore) {
          if (racer.compareAndSet(null, Thread.currentThread)) try race finally raced.countDown()
          else if (racer.get ne Thread.currentThread) raced.await()
        }
        plan
      }
    }
    val ex = spark.experimental
    val before = ex.extraOptimizations
    ex.extraOptimizations = before :+ rule
    try {
      val r = f
      assert(racer.get != null, s"f wrote nothing into store '$name'")
      r
    } finally ex.extraOptimizations = before
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
