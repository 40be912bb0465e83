package graft.dedup

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.sinks.ManifestLog

/** Single-writer discipline and commit protocol of a mutable table
  * store (the signature store, the embedding store). Every store table
  * is partitioned by `commit`. A mutation writes its rows into a fresh
  * `commit=c-<uuid>` partition of each table it touches, then publishes
  * one manifest naming every table's live commits, and that manifest
  * alone decides what the store contains — the Delta log design
  * `sinks/VersionedTable` uses, through the same [[ManifestLog]]:
  *
  *  - readers see the newest manifest: [[sync]] makes its commits, and
  *    only those, the tables' catalog partitions. A writer that dies
  *    before its publish leaves commit dirs no manifest names; nothing
  *    reads them, and [[recover]] deletes them;
  *  - a [[snapshot]] is a manifest version and its commits, and
  *    [[rollback]] republishes that list. A publish that replaces a
  *    table (build, retune, reband, compact) deletes the older
  *    manifests: no rollback can cross it;
  *  - the lock file (atomic createNewFile, stamped with its owner)
  *    serialises writers: a second concurrent writer fails fast. It is
  *    reentrant per thread, so a caller can bracket snapshot → ingest →
  *    publish → rollback-on-failure as one critical section.
  *
  * The manifests, the lock and the audit-streak file live beside the
  * meta table's directory, so no table rewrite can delete them.
  */
private[graft] final case class StoreGuard(metaTable: String, tables: Seq[String]) {
  import StoreGuard._

  private def fs(spark: SparkSession): FileSystem =
    tableLocation(spark, metaTable).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `<meta-dir><suffix>`: a sibling of the meta table's directory. */
  private def sibling(spark: SparkSession, suffix: String): Path = {
    val m = tableLocation(spark, metaTable)
    new Path(m.getParent, m.getName + suffix)
  }
  private def lockPath(spark: SparkSession) = sibling(spark, ".lock")
  private def streakPath(spark: SparkSession) = sibling(spark, ".streak")
  private[graft] def manifestDir(spark: SparkSession): Path = sibling(spark, ".manifest")

  private[graft] def commitDir(spark: SparkSession, table: String, commit: String): Path =
    new Path(tableLocation(spark, table), s"commit=$commit")

  /** Newest published manifest version (0 = no store on disk). */
  def version(spark: SparkSession): Int =
    ManifestLog.currentVersion(fs(spark), manifestDir(spark))

  private def manifestAt(spark: SparkSession, v: Int): Manifest =
    if (v == 0) Manifest.Empty
    else Manifest.parse(ManifestLog.read(fs(spark), manifestDir(spark), v))

  private def current(spark: SparkSession): (Int, Manifest) = {
    val v = version(spark)
    (v, manifestAt(spark, v))
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

  /** Make each declared table's catalog partitions exactly the newest
    * manifest's commits for it, and its size statistic their data bytes:
    * the planner sizes a partitioned table without statistics as
    * unbounded and never broadcasts it, so the store joins would shuffle
    * the batch side where the unpartitioned tables were broadcast.
    */
  def sync(spark: SparkSession): Unit = {
    val (f, m) = (fs(spark), current(spark)._2)
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
  }

  /** Delete everything in the tables' directories that the newest
    * manifest does not name (a dead or failed writer's commit, the
    * commits a publish dropped) and any stray temp manifest. The caller
    * holds the lock. Returns how many commit dirs went.
    */
  private def sweep(spark: SparkSession): Int = {
    val (f, m) = (fs(spark), current(spark)._2)
    def ls(p: Path): Seq[Path] = if (f.exists(p)) f.listStatus(p).map(_.getPath).toSeq else Nil
    val stray = tables.flatMap { t =>
      val live = m.of(t).map(c => s"commit=$c").toSet
      ls(tableLocation(spark, t)).filterNot(p => live(p.getName))
    } ++ ls(manifestDir(spark)).filter(_.getName.startsWith("tmp-manifest-"))
    stray.foreach(f.delete(_, true))
    stray.count(_.getName.startsWith("commit="))
  }

  private def publish(spark: SparkSession, v: Int, m: Manifest): Unit =
    ManifestLog.publish(fs(spark), manifestDir(spark), v, m.lines)

  /** One mutation as the store's single writer. `write` puts its rows
    * into the fresh commit `c.id` of the tables it touches and marks,
    * with `c.replace`, the tables whose earlier commits the mutation
    * drops; then one manifest publishes the result, tagged with the
    * streaming `batch` if there is one. `onPublished` runs right after
    * the publish, and the dropped commits are deleted last. A failure
    * before the publish deletes this mutation's commit and re-registers
    * the store (`reregister`) from the manifest it left untouched.
    */
  def mutate[A](spark: SparkSession, batch: Option[(String, Long)],
      onPublished: () => Unit, reregister: () => Unit)(write: Commit => A): A =
    locked(spark) {
      val (v, prev) = current(spark)
      val c = new Commit(s"c-${java.util.UUID.randomUUID().toString.replace("-", "")}")
      val out =
        try {
          val r = write(c)
          val next = Manifest(tables.map { t =>
            t -> ((if (c.replaced(t)) Nil else prev.of(t)) ++
              Seq(c.id).filter(id => fs(spark).exists(commitDir(spark, t, id))))
          }.filter(_._2.nonEmpty).toMap, processTag, prev.batches ++ batch)
          publish(spark, v + 1, next)
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
      // snapshot (its commits are gone), so no older manifest is needed
      if (c.replaced.nonEmpty) fs(spark).listStatus(manifestDir(spark))
        .filter(st => ManifestLog.versionOf(st.getPath.getName).exists(_ <= v))
        .foreach(st => fs(spark).delete(st.getPath, false))
      out
    }

  /** Republish `snap`'s commits. Refuses when a commit of the snapshot
    * is gone (a build, compact or reband since dropped it), when a later
    * version was pruned (by such a publish), or when a later version was
    * published by another process (rolling back would drop that
    * writer's work).
    */
  def rollback(spark: SparkSession, snap: BandedStore.Snapshot): Unit = locked(spark) {
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
    val later = (snap.version + 1) to v
    later.find(ver => !fs(spark).exists(ManifestLog.path(manifestDir(spark), ver)))
      .foreach(ver => sys.error(s"cannot roll back store '$metaTable': version " +
        s"$ver after the snapshot was pruned by a later build, compact or reband, " +
        "so what it published cannot be checked; rebuild the store from the " +
        "source corpus instead"))
    later.map(manifestAt(spark, _)).find(_.writer != processTag)
      .foreach(m => sys.error(s"stale snapshot for store '$metaTable': a later " +
        s"version was published by another process (${m.writer}) since the " +
        "snapshot was taken — rolling back would drop that writer's commits"))
    if (cur.commits != snap.commits) {
      publish(spark, v + 1, cur.copy(commits = snap.commits, writer = processTag))
      sync(spark)
      sweep(spark)
    }
  }

  /** Crash recovery: delete the commit dirs no manifest names — what a
    * writer that died before its publish left — under a lock this call
    * claims (or this thread already holds), after discharging a lock
    * whose owner is verifiably dead (a live or unverifiable owner fails
    * fast, see [[dischargeDeadLock]]), then release the lock. Returns
    * whether anything was recovered.
    */
  def recover(spark: SparkSession): Boolean = {
    val discharged = !heldLocks.get.contains(lockPath(spark).toString) &&
      dischargeDeadLock(spark, strict = true)
    locked(spark)(sweep(spark) > 0) || discharged
  }

  /** Drop the store: catalog entries, table dirs, manifests, streak. */
  def drop(spark: SparkSession): Unit = locked(spark) {
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      fs(spark).delete(tableLocation(spark, t), true)
    }
    fs(spark).delete(manifestDir(spark), true)
    clearStreak(spark)
  }

  /** The store's durable consecutive-breach streak (the audit-alert
    * counter). Durable because the production cadence is one fresh JVM
    * per daily `Runner --corpus-ingest`: a process-lifetime counter
    * would reset every run and "K breaches in a row" would be
    * unreachable. Read-modify-written inside the ingest's critical
    * section. Absent or garbled reads as 0.
    */
  def readStreak(spark: SparkSession): Int = readText(spark, streakPath(spark))
    .flatMap(_.trim.toIntOption).getOrElse(0)

  def writeStreak(spark: SparkSession, n: Int): Unit = {
    val out = fs(spark).create(streakPath(spark), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  def clearStreak(spark: SparkSession): Unit = { fs(spark).delete(streakPath(spark), false); () }

  /** Text of `p`, `None` when it is absent (or vanishes mid-read). */
  private def readText(spark: SparkSession, p: Path): Option[String] =
    try {
      val in = fs(spark).open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Release a crashed writer's lock unconditionally (manual step). */
  def unlock(spark: SparkSession): Unit = { fs(spark).delete(lockPath(spark), false); () }

  /** The stamped owner of the current lock: `None` when there is no lock
    * or it carries no parseable stamp (a pre-stamp writer, an external
    * tool, or a writer dead inside the create→stamp window).
    */
  def lockOwner(spark: SparkSession): Option[LockOwner] =
    readText(spark, lockPath(spark)).flatMap(s => parseOwner(s.trim))

  /** Discharge the store's lock only when its stamped owner is
    * verifiably dead (same host, pid gone): the writer can then never
    * release it itself, and discharging cannot break mutual exclusion.
    * True when a dead lock was discharged, false when there is no lock.
    * A lock that cannot be proven dead (live pid, foreign host, no
    * stamp) fails fast when `strict` — for callers that need the lock
    * next — and is left alone (false) otherwise.
    */
  def dischargeDeadLock(spark: SparkSession, strict: Boolean): Boolean = {
    val p = lockPath(spark)
    if (!fs(spark).exists(p)) return false
    def refuse(why: String): Boolean =
      if (strict) sys.error(s"store '$metaTable' is locked ($p) and the lock " +
        s"cannot be safely discharged: $why — verify the writer is dead, then " +
        "unlock(...) manually")
      else false
    lockOwner(spark) match {
      case None =>
        refuse("the lock carries no owner stamp. Every claim path in this " +
          "engine version stamps, so an unstamped lock is either (a) a PRE-STAMP " +
          "LEGACY store's — taken by an older engine version; confirm no " +
          "old-version writer is running, then unlock(...) — or (b) a writer " +
          "dead inside the two-FS-call create→stamp window — its pid is gone, so " +
          "after ruling out (a), unlock(...) is safe; to tell them apart: a " +
          "legacy writer holds the lock for its whole mutation (minutes), a " +
          "crashed-mid-claim lock never gains a stamp however long you re-probe")
      case Some(o) if o.host != localHost =>
        refuse(s"owner pid ${o.pid} lives on host '${o.host}' — liveness is not " +
          s"checkable from '$localHost'")
      case Some(o) if pidAlive(o.pid) =>
        refuse(s"owner pid ${o.pid} on this host is STILL ALIVE (a live ingest, " +
          "build, or maintenance sweep)")
      case Some(_) =>
        fs(spark).delete(p, false)
        true
    }
  }

  /** Run `f` as the store's single writer. Reentrant within a thread;
    * a concurrent writer fails fast instead of interleaving commits.
    */
  def locked[A](spark: SparkSession)(f: => A): A = {
    val p = lockPath(spark)
    val key = p.toString
    if (heldLocks.get.contains(key)) return f
    val lfs = fs(spark)
    lfs.mkdirs(p.getParent) // first-ever build: the warehouse dir may not exist yet
    if (!lfs.createNewFile(p))
      sys.error(s"store '$metaTable' is locked by a concurrent writer ($p); if " +
        "that writer crashed, recover(...) deletes its unpublished commits and " +
        "releases the lock")
    // stamp the claim with this writer's identity so a later process can
    // tell a dead predecessor's lock from a live writer's. A writer dead
    // between the claim and the stamp leaves an unstamped lock, which
    // dischargers treat as not verifiably dead.
    stampLock(lfs, p)
    heldLocks.get += key
    try f finally { heldLocks.get -= key; lfs.delete(p, false) }
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
    * order, the process tag of its publisher, and each stream's last
    * committed batch (flag root → batch id). Lines are tab-separated.
    */
  private final case class Manifest(commits: Map[String, Seq[String]], writer: String,
      batches: Map[String, Long]) {
    def of(t: String): Seq[String] = commits.getOrElse(t, Nil)
    def lines: Seq[String] = s"writer\t$writer" +:
      (batches.toSeq.sorted.map { case (root, b) => s"batch\t$b\t$root" } ++
        commits.toSeq.sortBy(_._1).flatMap { case (t, cs) => cs.map(c => s"commit\t$t\t$c") })
  }

  private object Manifest {
    val Empty: Manifest = Manifest(Map.empty, "", Map.empty)
    def parse(lines: Seq[String]): Manifest = lines.foldLeft(Empty) { (m, l) =>
      l.split("\t", 3) match {
        case Array("writer", w) => m.copy(writer = w)
        case Array("batch", b, root) => m.copy(batches = m.batches + (root -> b.toLong))
        case Array("commit", t, c) => m.copy(commits = m.commits + (t -> (m.of(t) :+ c)))
        case _ => sys.error(s"corrupt store manifest line: $l")
      }
    }
  }

  /** A stamped lock's owner identity, as written at acquisition. */
  final case class LockOwner(pid: Long, host: String, proc: String, epochMs: Long)

  /** One tag per JVM: tells apart two processes that recycle a pid, and
    * marks the manifests this process published.
    */
  private val processTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private[dedup] lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "localhost" }

  private[dedup] def pidAlive(pid: Long): Boolean =
    ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)

  /** Stamp a freshly claimed lock file with this writer's identity: one
    * overwrite-create of the claimed file.
    */
  private[dedup] def stampLock(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p, true)
    try out.write(ownerStamp.getBytes("UTF-8")) finally out.close()
  }

  /** The stamp [[StoreGuard.locked]] writes into a claimed lock file. */
  private[graft] def ownerStamp: String =
    s"pid=${ProcessHandle.current().pid()} host=$localHost " +
      s"proc=$processTag epoch=${System.currentTimeMillis()}"

  /** Stamp text for an arbitrary pid — test seam for fabricating a dead
    * or live foreign writer's lock without forking a real writer.
    */
  private[graft] def ownerStampFor(pid: Long): String =
    s"pid=$pid host=$localHost proc=deadbeef epoch=${System.currentTimeMillis()}"

  private val OwnerRe =
    raw"pid=(\d+) host=(\S+) proc=([0-9a-f]+) epoch=(\d+)".r

  private[graft] def parseOwner(s: String): Option[LockOwner] = s match {
    case OwnerRe(pid, host, proc, epoch) =>
      Some(LockOwner(pid.toLong, host, proc, epoch.toLong))
    case _ => None
  }

  /** Lock paths held by the CURRENT thread (reentrancy). */
  private val heldLocks = ThreadLocal.withInitial[scala.collection.mutable.Set[String]](
    () => scala.collection.mutable.Set.empty[String])

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
