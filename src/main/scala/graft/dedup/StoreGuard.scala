package graft.dedup

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.sinks.ManifestLog

/** Commit protocol of a mutable table store (the signature store, the
  * embedding store). Every store table is partitioned by `commit`. A
  * mutation writes its rows into a fresh `commit=c-v<base>-<uuid>`
  * partition of each table it touches, then publishes one manifest
  * naming every table's live commits, and that manifest alone decides
  * what the store contains — the Delta log design `sinks/VersionedTable`
  * uses, through the same [[ManifestLog]], and its optimistic
  * concurrency control (Kung & Robinson, TODS 1981):
  *
  *  - a mutation publishes to the version its inputs came from (its
  *    `base`) + 1; when another writer took that version first, it
  *    deletes its commit and fails with "concurrent commit";
  *  - readers see the catalog partitions [[sync]] made from a manifest.
  *    A writer that dies before its publish leaves commit dirs no
  *    manifest names: nothing reads them, and the first publish past
  *    their base deletes them, as such a writer can no longer win;
  *  - a [[snapshot]] is a manifest version and its commits, and
  *    [[rollback]] republishes that list. A publish that replaces a
  *    table (build, retune, reband, compact) empties the older
  *    manifests: no rollback can cross it. Each emptied file stays as a
  *    tombstone, so its version stays taken and a writer still working
  *    from an older version loses its publish.
  *
  * The manifests, which also carry the audit-alert [[streak]], live
  * beside the meta table's directory, so no table rewrite deletes them.
  */
private[graft] final case class StoreGuard(metaTable: String, tables: Seq[String]) {
  import StoreGuard._

  private def fs(spark: SparkSession): FileSystem =
    tableLocation(spark, metaTable).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `<meta-dir>.manifest`: a sibling of the meta table's directory. */
  private[graft] def manifestDir(spark: SparkSession): Path = {
    val m = tableLocation(spark, metaTable)
    new Path(m.getParent, m.getName + ".manifest")
  }

  private[graft] def commitDir(spark: SparkSession, table: String, commit: String): Path =
    new Path(tableLocation(spark, table), s"commit=$commit")

  /** Newest published manifest version (0 = no store on disk). */
  def version(spark: SparkSession): Int =
    ManifestLog.currentVersion(fs(spark), manifestDir(spark))

  /** Version `v`'s manifest; `None` once a replacing publish pruned it
    * (a tombstone, or a file an older engine deleted).
    */
  private def manifestAt(spark: SparkSession, v: Int): Option[Manifest] =
    if (v == 0) Some(Manifest.Empty)
    else
      try Some(ManifestLog.read(fs(spark), manifestDir(spark), v))
        .filter(_.nonEmpty).map(Manifest.parse)
      catch { case _: java.io.FileNotFoundException => None }

  /** The newest version and its manifest. A replacing publish prunes
    * the versions below it right after it lands, so a read that a newer
    * version overtook may have seen a pruned file and is read again.
    */
  @annotation.tailrec
  private def current(spark: SparkSession): (Int, Manifest) = {
    val v = version(spark)
    val m = scala.util.Try(manifestAt(spark, v))
    if (version(spark) != v) current(spark)
    else (v, m.get.getOrElse(sys.error(s"newest manifest v$v of store '$metaTable' is empty")))
  }

  def snapshot(spark: SparkSession): BandedStore.Snapshot = {
    val (v, m) = current(spark)
    BandedStore.Snapshot(v, m.commits)
  }

  /** Whether the streaming batch `tag` (flag root, batch id) is in the
    * store: the newest manifest records it or a later batch of the same
    * stream.
    */
  def committed(spark: SparkSession, tag: (String, Long)): Boolean =
    current(spark)._2.batches.get(tag._1).exists(_ >= tag._2)

  private def registryKey(spark: SparkSession): (String, String) =
    (spark.sparkContext.applicationId, manifestDir(spark).toString)

  /** The version whose commits [[sync]] last made this application's
    * catalog partitions: what an ingest's or reband's store joins read.
    */
  def registered(spark: SparkSession): Int =
    registeredVersions.getOrElse(registryKey(spark),
      sys.error(s"store '$metaTable' is not registered in this session — ensureRegistered first"))

  /** Make each declared table's catalog partitions exactly the newest
    * manifest's commits for it, and its size statistic their data bytes:
    * the planner sizes a partitioned table without statistics as
    * unbounded and never broadcasts it, so the store joins would shuffle
    * the batch side where the unpartitioned tables were broadcast.
    * Records the synced version as [[registered]].
    */
  def sync(spark: SparkSession): Unit = {
    val (f, (v, m)) = (fs(spark), current(spark))
    tables.filter(spark.catalog.tableExists).foreach { t =>
      val have = spark.sessionState.catalog.listPartitions(TableIdentifier(t))
        .map(_.spec("commit")).toSet
      val want = m.of(t).toSet
      def parts(cs: Set[String]): Seq[String] =
        cs.toSeq.sorted.map(c => s"PARTITION (`commit` = '$c')")
      if ((have -- want).nonEmpty)
        spark.sql(s"ALTER TABLE `$t` DROP IF EXISTS ${parts(have -- want).mkString(", ")}")
      if ((want -- have).nonEmpty)
        spark.sql(s"ALTER TABLE `$t` ADD IF NOT EXISTS ${parts(want -- have).mkString(" ")}")
      val bytes = m.of(t).flatMap(c => f.listStatus(commitDir(spark, t, c)))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")).map(_.getLen).sum
      spark.sessionState.catalog.alterTableStats(TableIdentifier(t),
        Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(BigInt(bytes))))
    }
    registeredVersions.put(registryKey(spark), v)
  }

  /** Delete the commit dirs the newest manifest (version P) does not
    * name whose base is below P (a writer from P may still win), and the
    * temp manifests older than P's. What a racing publish hides from the
    * sweep, the next one deletes.
    */
  private def sweep(spark: SparkSession): Unit =
    try {
      val (f, (v, m)) = (fs(spark), current(spark))
      // P pruned since the read: its mtime is the prune's, not the publish's
      val published = Some(f.getFileStatus(ManifestLog.path(manifestDir(spark), v)))
        .filter(_.getLen > 0).fold(0L)(_.getModificationTime)
      def ls(p: Path) = if (f.exists(p)) f.listStatus(p).toSeq else Nil
      val stray = tables.flatMap { t =>
        val live = m.of(t).toSet
        ls(tableLocation(spark, t)).map(_.getPath).filter(_.getName match {
          case CommitDir(id) => !live(id) && baseOf(id) < v
          case _ => false
        })
      } ++ ls(manifestDir(spark)).filter(st => st.getPath.getName.startsWith("tmp-manifest-") &&
        st.getModificationTime < published).map(_.getPath)
      stray.foreach(f.delete(_, true))
    } catch { case _: java.io.FileNotFoundException => () }

  private def publish(spark: SparkSession, v: Int, m: Manifest): Unit =
    ManifestLog.publish(fs(spark), manifestDir(spark), v, m.lines)

  /** One mutation from version `base`. `write` puts its rows into the
    * fresh commit `c.id` of the tables it touches and marks, with
    * `c.replace`, the tables whose earlier commits the mutation drops;
    * then one manifest publishes the result as version `base` + 1,
    * tagged with the streaming `batch` if there is one; replacing the
    * meta table resets the streak, and a build that writes no data
    * leaves an empty store, which holds no streaming batch. `onPublished`
    * runs right after the publish, then the sweep. A failure before the
    * publish, a lost race included, deletes this mutation's commit and
    * re-registers the store (`reregister`) from the newest manifest.
    */
  def mutate[A](spark: SparkSession, base: Int, batch: Option[(String, Long)],
      onPublished: () => Unit, reregister: () => Unit)(write: Commit => A): A = {
    val prev = manifestAt(spark, base).getOrElse(
      sys.error(s"concurrent commit: a later publish pruned version $base of '$metaTable'"))
    val c = new Commit(s"c-v$base-${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val out =
      try {
        val r = write(c)
        val commits = tables.map { t =>
          t -> ((if (c.replaced(t)) Nil else prev.of(t)) ++
            Seq(c.id).filter(id => fs(spark).exists(commitDir(spark, t, id))))
        }.filter(_._2.nonEmpty).toMap
        val empty = tables.forall(c.replaced) && commits.keySet == Set(metaTable)
        val next = Manifest(commits, processTag,
          (if (empty) Map.empty[String, Long] else prev.batches) ++ batch,
          if (c.replaced(metaTable)) 0 else prev.streak)
        publish(spark, base + 1, next)
        r
      } catch {
        case e: Throwable =>
          try {
            tables.foreach { t =>
              fs(spark).delete(commitDir(spark, t, c.id), true)
              // entries are EXTERNAL: dropping one keeps its files
              spark.sql(s"DROP TABLE IF EXISTS `$t`")
            }
            reregister()
          } catch { case a: Throwable => e.addSuppressed(a) }
          throw e
      }
    sync(spark)
    onPublished()
    sweep(spark)
    // a publish that replaced a table ends every rollback to an older
    // snapshot (its commits are gone), so no older manifest is needed;
    // each is emptied, not deleted, so no late writer can publish into
    // its version and be read by nobody
    if (c.replaced.nonEmpty) fs(spark).listStatus(manifestDir(spark))
      .filter(st => st.getLen > 0 && ManifestLog.versionOf(st.getPath.getName).exists(_ <= base))
      .foreach(st => fs(spark).create(st.getPath, true).close())
    out
  }

  /** Republish `snap`'s commits as the version after the one it checks,
    * undoing what this process published since the snapshot. A no-op
    * when this process published nothing since. Refuses when a commit
    * of the snapshot is gone (a build, compact or reband since dropped
    * it), when a later version was pruned (by such a publish), or when
    * another process also published since (rolling back would drop that
    * writer's work).
    */
  def rollback(spark: SparkSession, snap: BandedStore.Snapshot): Unit = {
    val (v, cur) = current(spark)
    val missing = for {
      (t, cs) <- snap.commits.toSeq; c <- cs
      p = commitDir(spark, t, c) if !fs(spark).exists(p)
    } yield p
    if (missing.nonEmpty)
      sys.error(s"cannot roll back store '$metaTable': ${missing.size} snapshot " +
        s"commit(s) no longer exist (e.g. ${missing.head}) — a build, compact or " +
        "reband ran since the snapshot was taken, and rollback can only undo " +
        "appends, not restore deleted files; rebuild the store from the source " +
        "corpus instead")
    val later = ((snap.version + 1) to v).map(ver => ver -> manifestAt(spark, ver))
    later.collectFirst { case (ver, None) => ver }
      .foreach(ver => sys.error(s"cannot roll back store '$metaTable': version " +
        s"$ver after the snapshot was pruned by a later build, compact or reband, " +
        "so what it published cannot be checked; rebuild the store from the " +
        "source corpus instead"))
    val (mine, foreign) = later.flatMap(_._2).partition(_.writer == processTag)
    if (mine.nonEmpty) {
      foreign.headOption.foreach(m => sys.error(s"stale snapshot for store '$metaTable': " +
        s"a later version was published by another process (${m.writer}) since the " +
        "snapshot was taken — rolling back would drop that writer's commits"))
      if (cur.commits != snap.commits) {
        publish(spark, v + 1, cur.copy(commits = snap.commits, writer = processTag))
        sync(spark)
        sweep(spark)
      }
    }
  }

  /** Drop the store: catalog entries, table dirs, manifests. */
  def drop(spark: SparkSession): Unit = {
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      fs(spark).delete(tableLocation(spark, t), true)
    }
    fs(spark).delete(manifestDir(spark), true)
    registeredVersions.remove(registryKey(spark))
  }

  /** The durable audit-alert breach streak of the newest manifest. The
    * production cadence is one fresh JVM per daily `Runner
    * --corpus-ingest`, where a process-lifetime counter would never
    * reach "K breaches in a row".
    */
  def streak(spark: SparkSession): Int = current(spark)._2.streak

  /** Set the streak to `f` of the newest one and return the new value,
    * with a streak-only publish: it changes no commit, so it neither
    * syncs nor sweeps, and an unchanged streak publishes nothing. On a
    * lost race it re-reads and re-applies `f`, so no update is lost.
    */
  @annotation.tailrec
  def updateStreak(spark: SparkSession, f: Int => Int): Int = {
    val (v, m) = current(spark)
    require(v > 0, s"no store '$metaTable' on disk at ${manifestDir(spark)}")
    val n = f(m.streak)
    val lost = n != m.streak &&
      (try { publish(spark, v + 1, m.copy(writer = processTag, streak = n)); false }
       catch { case _: RuntimeException if version(spark) > v => true })
    if (lost) updateStreak(spark, f)
    else {
      // the catalog partitions still hold version v's commits
      if (n != m.streak) registeredVersions.replace(registryKey(spark), v, v + 1)
      n
    }
  }
}

private[graft] object StoreGuard {

  /** A mutation in progress: the commit its rows go into, and the
    * tables whose earlier commits it replaces.
    */
  final class Commit private[StoreGuard] (val id: String) {
    private[StoreGuard] val replaced = scala.collection.mutable.Set.empty[String]
    def replace(table: String): Unit = replaced += table
  }

  /** One published store state: each table's live commits in commit
    * order, the process tag of its publisher, each stream's last
    * committed batch (flag root → batch id) and the audit streak. Lines
    * are tab-separated; a manifest without a `streak` line reads 0.
    */
  private final case class Manifest(commits: Map[String, Seq[String]], writer: String,
      batches: Map[String, Long], streak: Int) {
    def of(t: String): Seq[String] = commits.getOrElse(t, Nil)
    def lines: Seq[String] = Seq(s"writer\t$writer", s"streak\t$streak") ++
      batches.toSeq.sorted.map { case (root, b) => s"batch\t$b\t$root" } ++
      commits.toSeq.sortBy(_._1).flatMap { case (t, cs) => cs.map(c => s"commit\t$t\t$c") }
  }

  private object Manifest {
    val Empty: Manifest = Manifest(Map.empty, "", Map.empty, 0)
    def parse(lines: Seq[String]): Manifest = lines.foldLeft(Empty) { (m, l) =>
      l.split("\t", 3) match {
        case Array("writer", w) => m.copy(writer = w)
        case Array("streak", n) => m.copy(streak = n.toInt)
        case Array("batch", b, root) => m.copy(batches = m.batches + (root -> b.toLong))
        case Array("commit", t, c) => m.copy(commits = m.commits + (t -> (m.of(t) :+ c)))
        case _ => sys.error(s"corrupt store manifest line: $l")
      }
    }
  }

  /** One tag per JVM: marks the manifests this process published. */
  private val processTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** [[StoreGuard.registered]], per (application, manifest dir). */
  private val registeredVersions = scala.collection.concurrent.TrieMap.empty[(String, String), Int]

  private val CommitDir = raw"commit=(.+)".r
  private val Based = raw"c-v(\d+)-.*".r

  /** The version a commit was written from: `c-v<base>-<uuid>`, and 0 for
    * the `c-<uuid>` commits of stores written before bases were named.
    */
  private def baseOf(commit: String): Int =
    commit match { case Based(b) => b.toInt; case _ => 0 }

  /** Default warehouse location of a store table (per-process catalog,
    * durable dir — the one path every store mutator keys off).
    */
  def tableLocation(spark: SparkSession, table: String): Path =
    new Path(spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))

  /** Parquet data files under a store table's location, every commit
    * included — the number maintenance exists to bound.
    */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0
    else {
      val it = fs.listFiles(loc, true)
      var n = 0
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }
}
