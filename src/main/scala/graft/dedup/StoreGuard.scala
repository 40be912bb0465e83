package graft.dedup

import org.apache.spark.sql.SparkSession

/** Single-writer discipline for a mutating, append-only table store
  * (the signature store, the embedding store): every mutator runs under
  * an atomic lock file, every completed mutation bumps a generation
  * marker, and an in-flight ingest persists its pre-ingest snapshot so
  * a writer that DIES can be recovered from a fresh process. Extracted
  * from [[SignatureStore]] so every store pays the same guarantees:
  *
  *  - the lock file (atomic createNewFile, the VersionedTable rename
  *    idiom) serializes ingest/rollback/build/drop — a second
  *    concurrent writer fails fast, never interleaves. The lock and
  *    pending file live as SIBLINGS of the meta table dir so a
  *    build/drop reset cannot delete a held lock. The lock is REENTRANT
  *    per thread, so a caller can bracket snapshot → ingest → publish →
  *    rollback-on-failure as one critical section;
  *  - a generation marker (`_gen-<n>-<uuid>`, an empty `_`-prefixed
  *    file in the meta dir, invisible to parquet readers) is bumped by
  *    every completed mutation; [[rollback]] refuses when the on-disk
  *    generation moved past the snapshot AND this JVM did not write it
  *    (undoing a foreign writer's completed work would corrupt it),
  *    while the undo-own-trial-ingest pattern keeps working;
  *  - [[writePending]]/[[clearPending]] persist the pre-ingest snapshot
  *    for the ingest's duration; [[recover]] restores a dead writer's
  *    store from it and releases the lock.
  */
private[graft] final case class StoreGuard(metaTable: String, tables: Seq[String]) {
  import StoreGuard.{GenRe, heldLocks, ownGens, tableLocation}

  private def metaLoc(spark: SparkSession): org.apache.hadoop.fs.Path =
    tableLocation(spark, metaTable)

  /** `<meta-dir><suffix>`: a sibling of the meta dir, so no table
    * rewrite can delete it (the lock, pending and streak files).
    */
  private[graft] def sibling(spark: SparkSession, suffix: String): org.apache.hadoop.fs.Path = {
    val m = metaLoc(spark)
    new org.apache.hadoop.fs.Path(m.getParent, m.getName + suffix)
  }
  private def lockPath(spark: SparkSession) = sibling(spark, ".lock")
  private def pendingPath(spark: SparkSession) = sibling(spark, ".pending")

  /** Current (generation, uuid) marker of the store, if any. */
  private def genMarker(spark: SparkSession): Option[(Int, String)] = {
    val loc = metaLoc(spark)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) None
    else fs.listStatus(loc).map(_.getPath.getName).collectFirst {
      case GenRe(n, u) => (n.toInt, u)
    }
  }

  def bumpGen(spark: SparkSession): Unit = {
    val loc = metaLoc(spark)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = genMarker(spark).map(_._1).getOrElse(0) + 1
    fs.listStatus(loc).map(_.getPath)
      .filter(p => GenRe.pattern.matcher(p.getName).matches())
      .foreach(fs.delete(_, false))
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    fs.createNewFile(new org.apache.hadoop.fs.Path(loc, s"_gen-$next-$uuid"))
    ownGens.add(uuid); ()
  }

  /** Persist the pre-ingest snapshot, stamped with THIS writer's owner
    * identity on a `#owner` header line (same stamp as the lock): a
    * later discharger must be able to tell WHOSE mid-mutation state a
    * pending file is — a commit marker proves only the MARKER WRITER's
    * mutation committed, and treating a foreign dead writer's pending
    * as that predecessor's moot residue would silently keep its partial
    * appends while destroying the rollback snapshot
    * ([[dischargeCommitted]] arbitrates on this stamp).
    */
  def writePending(spark: SparkSession, snap: Set[String]): Unit = {
    val p = pendingPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((s"#owner ${StoreGuard.ownerStamp}\n" + snap.mkString("\n"))
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The stamped owner of the current pending file, if present and
    * stamped (pre-stamp writers and fabricated states read as `None`).
    */
  def pendingOwner(spark: SparkSession): Option[StoreGuard.LockOwner] = {
    val p = pendingPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      try {
        val in = fs.open(p)
        val first = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().nextOption().getOrElse("")
        finally in.close()
        if (first.startsWith("#owner ")) StoreGuard.parseOwner(first.stripPrefix("#owner ").trim)
        else None
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  def clearPending(spark: SparkSession): Unit = {
    val p = pendingPath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false); ()
  }

  private def streakPath(spark: SparkSession) = sibling(spark, ".streak")

  /** The store's DURABLE consecutive-breach streak (the audit-alert
    * counter) — a tiny sidecar next to the meta dir, like the lock and
    * pending files. Durable because the verified production cadence is
    * one fresh JVM per daily `Runner --corpus-ingest` (cron): a
    * process-lifetime counter resets every run and "K breaches in a
    * row" is unreachable. Read-modify-written inside the ingest's
    * single-writer critical section, so there is no concurrent-writer
    * window. Absent/garbled reads as 0.
    */
  def readStreak(spark: SparkSession): Int = {
    val p = streakPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
      s.toIntOption.getOrElse(0)
    } catch { case _: java.io.FileNotFoundException => 0 }
  }

  def writeStreak(spark: SparkSession, n: Int): Unit = {
    val p = streakPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  def clearStreak(spark: SparkSession): Unit = {
    val p = streakPath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false); ()
  }

  /** Whether an in-flight ingest's pending snapshot exists on disk —
    * the durable proof that a (possibly dead) writer holds the store
    * mid-mutation. Dischargers key off this so they never delete a
    * lock that is NOT recovery state (e.g. a live maintenance writer's,
    * which writes no pending file).
    */
  def pendingExists(spark: SparkSession): Boolean = {
    val p = pendingPath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Release a crashed writer's lock (manual step; [[recover]] does
    * this AND restores the pre-ingest snapshot in one call).
    */
  def unlock(spark: SparkSession): Unit = {
    val p = lockPath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false); ()
  }

  /** The stamped owner of the current lock file: `Some(owner)` when the
    * lock exists and carries a parseable stamp, `None` when it exists
    * unstamped (a pre-stamp writer, an external tool, or a writer dead
    * inside the two-call create→stamp window). Throws nothing; absence
    * of the lock itself is [[lockExists]]'s job.
    */
  def lockOwner(spark: SparkSession): Option[StoreGuard.LockOwner] = {
    val p = lockPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      // the owner may release between the exists probe and the open —
      // a vanished lock is simply "no owner", not an error
      try {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                finally in.close()
        StoreGuard.parseOwner(s)
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  def lockExists(spark: SparkSession): Boolean = {
    val p = lockPath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether the current lock's stamped owner is VERIFIABLY dead:
    * same host, pid no longer alive. A live pid, a foreign host, or a
    * missing stamp all answer false — deadness that cannot be proven
    * is treated as life.
    */
  def lockOwnerDead(spark: SparkSession): Boolean =
    lockOwner(spark).exists(StoreGuard.ownerDead)

  /** Discharge the store's lock ONLY when its stamped owner is
    * verifiably dead — the safe form of a forced unlock. Every lock
    * this engine takes is stamped with (pid, host, process-uuid, epoch)
    * at acquisition, so deadness is checkable: same host + pid no
    * longer alive ⇒ the writer can never release its own lock and the
    * discharge cannot break mutual exclusion. Returns true when a dead
    * lock was discharged, false when there is no lock at all.
    *
    * `strict` decides what happens when the lock CANNOT be proven dead
    * (live pid, foreign host, or an unstamped lock): `strict = true`
    * fails fast with an actionable message — for callers that need the
    * lock next (the streaming plain-run arm) and must not crash-loop
    * silently; `strict = false` leaves the lock alone and returns
    * false — for best-effort cleanup where a live foreign writer is a
    * legitimate state (the committed-replay arm).
    */
  def dischargeDeadLock(spark: SparkSession, strict: Boolean): Boolean = {
    val p = lockPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    def refuse(why: String): Boolean =
      if (strict) sys.error(s"store '$metaTable' is locked ($p) and the lock " +
        s"cannot be safely discharged: $why — verify the writer is dead, then " +
        "unlock(...) manually")
      else false
    lockOwner(spark) match {
      case None =>
        refuse("the lock carries no owner stamp. Every claim path in this " +
          "engine version stamps (ingest, build, maintenance, recovery, " +
          "discharge), so an unstamped lock is either (a) a PRE-STAMP LEGACY " +
          "store's — taken by an older engine version; confirm no old-version " +
          "writer is running, then unlock(...) — or (b) a writer dead inside " +
          "the two-FS-call create→stamp window — its pid is gone, so after " +
          "ruling out (a), unlock(...) is safe; to tell them apart: a legacy " +
          "writer holds the lock for its whole mutation (minutes), a " +
          "crashed-mid-claim lock never gains a stamp however long you re-probe")
      case Some(o) if o.host != StoreGuard.localHost =>
        refuse(s"owner pid ${o.pid} lives on host '${o.host}' — liveness is not " +
          s"checkable from '${StoreGuard.localHost}'")
      case Some(o) if StoreGuard.pidAlive(o.pid) =>
        refuse(s"owner pid ${o.pid} on this host is STILL ALIVE (a live ingest, " +
          "build, or maintenance sweep)")
      case Some(_) =>
        fs.delete(p, false)
        true
    }
  }

  /** Run `f` as the store's single writer. Reentrant within a thread —
    * composite units (snapshot → ingest → publish → rollback-on-fail)
    * take the lock once and the inner mutators join it. A concurrent
    * writer fails FAST with recovery instructions instead of
    * interleaving appends.
    */
  def locked[A](spark: SparkSession)(f: => A): A = {
    val p = lockPath(spark)
    val key = p.toString
    if (heldLocks.get.contains(key)) return f
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent) // first-ever build: the warehouse dir may not exist yet
    if (!fs.createNewFile(p))
      sys.error(s"store '$metaTable' is locked by a concurrent writer ($p); " +
        "if that writer crashed, recover(...) restores the store and releases the lock")
    // stamp the freshly-claimed lock with this writer's identity (pid,
    // host, process uuid, epoch) so a LATER process can tell a dead
    // predecessor's lock from a live foreign writer's and discharge
    // only the former ([[dischargeDeadLock]]). The stamp is written to
    // a temp sibling and RENAMED over the claimed lock: on the local
    // FS (where these stores live) rename is the POSIX atomic replace,
    // so the lock file never vanishes mid-stamp. Filesystem atomicity
    // assumption, stated plainly: on FileSystems that REFUSE renames
    // onto an existing destination (HDFS, object stores) the rename
    // returns false and the fallback is plain overwrite-create — no
    // worse than the pre-stamp behavior, and on those stores the
    // createNewFile claim itself is already the weaker primitive, so
    // single-writer deployments there should front the store with a
    // real lock service rather than lean on this file protocol.
    // A writer dead between the claim and the stamp landing leaves an
    // unstamped lock, which dischargers treat as NOT verifiably dead —
    // fail-safe, at the cost of a manual unlock for that window.
    StoreGuard.stampLock(fs, p)
    heldLocks.get += key
    try f finally { heldLocks.get -= key; fs.delete(p, false) }
  }

  /** File-level snapshot of the store: every file currently under its
    * tables' locations (one flat listStatus each — the lock/pending
    * files are siblings, so the listing is pure store state). Because
    * mutators only ever APPEND files, snapshot + [[rollback]] is a
    * cheap undo: O(#files) driver-side listings, no data copied.
    */
  def snapshot(spark: SparkSession): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.flatMap { t =>
      val loc = tableLocation(spark, t)
      val fs = loc.getFileSystem(conf)
      if (!fs.exists(loc)) Nil
      else fs.listStatus(loc).map(_.getPath.toString).toSeq
    }.toSet
  }

  /** Undo every append since `snap`: delete files not in the snapshot,
    * restore its generation marker, refresh the tables' cached
    * listings. Refuses a STALE snapshot (see class doc).
    */
  def rollback(spark: SparkSession, snap: Set[String]): Unit =
    locked(spark) { doRollback(spark, snap, trusted = false) }

  /** `trusted = true` ([[recover]] only): the pending file proved the
    * post-snapshot appends belong to a writer that died — skip the
    * foreign-generation gate. Caller holds the lock.
    */
  private def doRollback(spark: SparkSession, snap: Set[String], trusted: Boolean): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!trusted) {
      genMarker(spark).foreach { case (n, uuid) =>
        val markerInSnap = snap.exists(_.endsWith(s"_gen-$n-$uuid"))
        if (!markerInSnap && !ownGens.contains(uuid))
          sys.error(s"stale snapshot for store '$metaTable': generation $n ($uuid) " +
            "was written by another process since the snapshot was taken — " +
            "rolling back would delete that writer's appends")
      }
      // the snapshot+rollback contract is APPEND-ONLY undo: it can only
      // delete files added since the snapshot, never restore files that
      // were deleted. A build/drop/reset since the snapshot deleted the
      // snapshot's data files — "rolling back" across it would delete
      // the rebuilt files too and silently EMPTY the store (the ownGens
      // gate alone misses this: the destructive bump was ours). Gen
      // markers are exempt — a legitimate bump deletes the old marker
      // and the restore loop below re-creates it from its name.
      val missing = tables.flatMap { t =>
        val loc = tableLocation(spark, t)
        val fs = loc.getFileSystem(conf)
        val present: Set[String] =
          if (!fs.exists(loc)) Set.empty
          else fs.listStatus(loc).map(_.getPath.toString).toSet
        snap.filter(_.startsWith(loc.toString + "/"))
          .filterNot(present.contains)
          .filterNot(s => GenRe.pattern.matcher(
            new org.apache.hadoop.fs.Path(s).getName).matches())
      }
      if (missing.nonEmpty)
        sys.error(s"cannot roll back store '$metaTable': ${missing.size} snapshot " +
          s"file(s) no longer exist (e.g. ${missing.head}) — a build/drop/reset ran " +
          "since the snapshot was taken, and rollback can only undo appends, not " +
          "restore deleted files; rebuild the store from the source corpus instead")
    }
    tables.foreach { t =>
      val loc = tableLocation(spark, t)
      val fs = loc.getFileSystem(conf)
      if (fs.exists(loc)) {
        val added = fs.listStatus(loc).map(_.getPath)
          .filterNot(p => snap.contains(p.toString))
        if (added.nonEmpty) {
          // recursive: an ABORTED append leaves a non-empty _temporary
          // staging dir — a non-recursive delete would throw on it,
          // abort the rollback partway, and mask the original failure
          added.foreach(fs.delete(_, true))
          spark.catalog.refreshTable(t)
        }
        // restore the snapshot's generation marker (the only snap file
        // a bump DELETES — data appends never touch old files); markers
        // are empty, their names carry the state
        snap.filter(_.startsWith(loc.toString)).foreach { s =>
          val p = new org.apache.hadoop.fs.Path(s)
          if (GenRe.pattern.matcher(p.getName).matches() && !fs.exists(p))
            fs.createNewFile(p)
        }
      }
    }
    // the store now IS the snapshot, so any pending file referencing it
    // is moot — clearing it HERE (not in ingest's failure path) means a
    // crash during a compensating rollback still leaves the pending
    // authorization on disk for recover() to finish the job, instead of
    // reporting a half-rolled-back store as clean
    clearPending(spark)
  }

  /** [[recover]] gated on owner arbitration — the form AUTOMATED
    * callers (the streaming replay arms) must use. `recover` itself
    * trusts the pending file as proof of a DEAD writer and leaves the
    * "is it actually dead?" judgment to the operator; an automated
    * caller has no operator, and a pending file can equally belong to
    * a LIVE writer mid-ingest (a manual run or maintenance racing the
    * stream) — recovering it would roll back its in-flight appends.
    * So: no pending → false (nothing to do); pending + no lock, or
    * pending + a lock whose stamped owner is verifiably dead → recover
    * as usual; pending + a live or unverifiable owner → fail FAST with
    * instructions instead of destroying a live writer's work.
    */
  def recoverArbitrated(spark: SparkSession): Boolean = {
    if (!pendingExists(spark)) return false
    if (lockExists(spark) && !lockOwnerDead(spark))
      sys.error(s"store '$metaTable' has an in-flight ingest (pending snapshot " +
        "present) whose lock owner cannot be verified dead — refusing automatic " +
        "recovery: a LIVE writer's in-flight appends would be rolled back. " +
        "If the writer is confirmed dead, run recover(...) manually.")
    recover(spark)
  }

  /** Crash recovery: when a writer DIED mid-ingest it left the lock and
    * its persisted pre-ingest snapshot behind — restore the store to
    * that snapshot (the pending file is the on-disk authorization that
    * those appends belong to the dead writer, so the staleness gate is
    * bypassed), then release the lock. Returns whether anything was
    * recovered; a no-op (false) when there is no pending ingest —
    * WITHOUT touching the lock, which may belong to a live build/drop
    * that writes no pending file (a writer that died in build/drop is
    * released with an explicit [[unlock]]).
    *
    * The rollback runs UNDER the dead writer's still-present lock (it
    * is never released-then-reacquired), so no third writer can slip in
    * and have its fresh appends deleted mid-recovery. The operator owns
    * the "is it actually dead?" judgment — files alone cannot
    * distinguish a dead writer from a slow one, and recovering a LIVE
    * ingest deletes its in-flight appends.
    */
  def recover(spark: SparkSession): Boolean = {
    val p = pendingPath(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    // EXCLUSION BEFORE THE SNAPSHOT READ. The earlier shape read the
    // snapshot first and ignored the claim's outcome, which left a
    // window: between the caller's dead-writer judgment and the
    // restore, a FRESH writer can claim the free lock and overwrite
    // the pending with its own snapshot — the old order then rolled
    // the store back over that live writer's in-flight ingest and
    // deleted its lock on the way out. Claim the lock if free AND STAMP
    // IT (r16 verdict: a bare createNewFile claim reads as
    // `lockOwner = None` to a concurrent recoverer, which then passed
    // the live-owner check and proceeded — two rollbacks interleaving,
    // and the laggard's finally-unlock firing after a fresh writer
    // claimed, the fixed TOCTOU resurfacing through the unstamped
    // path; a recoverer that crashes mid-rollback now also leaves a
    // STAMPED lock a successor can discharge as dead, keeping note
    // 30's "every lock the engine takes is stamped" true).
    //
    // When the claim loses, the surviving lock's STAMP arbitrates:
    //  - our own stamp → the reentrant case, proceed under it;
    //  - a verifiably DEAD same-host owner → the normal crashed-ingest
    //    state; its lock fences everyone else, restore under it;
    //  - a foreign-host stamp → liveness is not checkable from here;
    //    the operator's dead-writer judgment keeps its authority
    //    (recover() is the operator-judgment form; recoverArbitrated
    //    is the automated gate, and it refuses this state);
    //  - a verifiably LIVE same-host owner → objective proof against
    //    the caller's judgment (a concurrent recoverer, a live
    //    ingest) — fail fast before touching anything;
    //  - NO stamp → either a claimer inside its two-call create→stamp
    //    window or a legacy/external bare lock: re-probe once after a
    //    short grace (a live claimer's stamp lands in microseconds;
    //    the grace is generous), then REFUSE — since every engine
    //    claim path stamps, a persistently unstamped lock is not
    //    verifiably anything, and the fail-safe reading of
    //    "unverifiable" is life (the dischargeDeadLock rule). The
    //    grace loop also re-tries the claim, so a lock that simply
    //    vanished (its owner released) is claimed cleanly instead of
    //    refused.
    val lp = lockPath(spark)
    var claimed = false
    var fenced = false // proceeding under a self/dead/foreign-host stamp
    var graced = false
    while (!claimed && !fenced) {
      if (fs.createNewFile(lp)) {
        StoreGuard.stampLock(fs, lp); claimed = true
        StoreGuard.onRecoverClaimed()
      }
      else lockOwner(spark) match {
        case Some(o) if StoreGuard.ownerIsSelf(o) => fenced = true
        case Some(o) if StoreGuard.ownerDead(o) => fenced = true
        case Some(o) if o.host != StoreGuard.localHost => fenced = true
        case Some(o) =>
          sys.error(s"store '$metaTable' lock is held by a verifiably LIVE " +
            s"writer (pid ${o.pid}) — refusing recovery: rolling back would " +
            "delete its in-flight appends")
        case None if !graced =>
          graced = true; Thread.sleep(StoreGuard.stampGraceMs)
        case None =>
          sys.error(s"store '$metaTable' lock ($lp) carries no owner stamp — " +
            "refusing recovery: every lock this engine takes is stamped at " +
            "acquisition, so an unstamped lock is either a pre-stamp legacy " +
            "store's (old engine version — safe to unlock(...) manually once " +
            "you confirm no old-version writer is running) or an external " +
            "tool's; liveness cannot be verified either way, and recovering " +
            "over a live writer would delete its in-flight appends")
      }
    }
    // re-read under exclusion: the pending may have been cleared (its
    // writer completed and released) or rewritten since the caller's
    // probe — the snapshot that counts is the one the lock now fences.
    // EVERYTHING after a successful claim runs inside one try: a
    // failure anywhere (the pending open, the snapshot read, the
    // rollback itself) must release the lock, or a claimed-then-thrown
    // path would strand it (pre-widen, a failed open leaked the claim).
    try {
      if (!fs.exists(p)) { if (claimed) unlock(spark); false }
      else {
        val in = fs.open(p)
        val snap =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).filterNot(_.startsWith("#")).toSet // "#owner" header
          finally in.close()
        // the lock (ours or the dead writer's) excludes every other
        // writer — keep it in place while restoring, release only when
        // the store is whole (doRollback also clears the pending file)
        doRollback(spark, snap, trusted = true)
        unlock(spark)
        true
      }
    } catch {
      // release only a lock THIS CALL created (ADVICE r17): when we
      // proceeded FENCED under a dead/foreign-host/self stamp, a
      // transient failure here (the pending open, the snapshot read)
      // must leave that lock in place for a clean retry — deleting a
      // fence this process doesn't own while the pending remains would
      // reopen the exact fresh-writer-overwrites-pending window this
      // arbitration exists to close
      case e: Throwable => if (claimed) unlock(spark); throw e
    }
  }

  /** Discharge a dead writer's recovery state WITHOUT rolling back —
    * for a caller holding durable proof (a commit marker) that ITS OWN
    * mutation fully committed. The marker only proves the MARKER
    * WRITER's batch committed: the pending/lock found NOW may equally
    * belong to a LATER foreign writer (a manual ingest racing the
    * stream) that died mid-mutation, whose partial appends must be
    * ROLLED BACK, not silently adopted with the rollback snapshot
    * destroyed. The pending file's owner stamp arbitrates:
    *
    *  - pending stamped by the SAME process that wrote the marker ⇒
    *    the writer died between its marker and its pending clear —
    *    moot residue, discharged (lock-agree gated: the lock must be
    *    absent or verifiably dead, a live lock keeps everything);
    *  - pending stamped by a DIFFERENT process ⇒ a foreign writer's
    *    mid-mutation state: verifiably dead ⇒ [[recover]] rolls its
    *    partial appends back to its own snapshot (taken AFTER the
    *    marker writer's commit, which therefore survives); live or
    *    unverifiable ⇒ left entirely alone — deadness that cannot be
    *    proven is treated as life;
    *  - pending unstamped, or marker owner unknown (legacy states from
    *    pre-stamp writers) ⇒ the pre-stamp lock-agree behavior.
    *
    * No-op when nothing is pending — a replay of a cleanly completed
    * batch must never touch a lock some other writer may hold.
    */
  def dischargeCommitted(spark: SparkSession,
      markerOwner: Option[StoreGuard.LockOwner]): Unit = {
    if (!pendingExists(spark)) return
    // EXCLUSION BEFORE ARBITRATION. Every judgment below reads state a
    // concurrent fresh writer could be rewriting — the pre-claim shape
    // had two TOCTOU windows: (a) "no lock" probed true, a fresh
    // writer claims and writes ITS pending, then clearPending deletes
    // that live writer's rollback authorization and unlock deletes its
    // lock; (b) dischargeDeadLock removed the dead lock FIRST, opening
    // the same window before the pending clear. So: claim the lock if
    // free; losing the claim to a live-or-unverifiable owner means a
    // real writer is mid-flight — this replay's discharge is
    // best-effort, leave everything. A verifiably DEAD owner's
    // surviving lock is itself the fence; proceed under it.
    val lp = lockPath(spark)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claimed = fs.createNewFile(lp)
    // stamp the claim (the locked() idiom): a concurrent recoverer or
    // discharger must read this claim as a live stamped owner and
    // refuse/defer, not as an ambiguous bare file — and a discharger
    // that dies mid-arbitration must leave a lock a successor can
    // verify dead (r16 verdict #2)
    if (claimed) StoreGuard.stampLock(fs, lp)
    if (!claimed && !lockOwnerDead(spark)) return
    // re-read under exclusion: the state that counts is the fenced one
    if (!pendingExists(spark)) { if (claimed) unlock(spark); return }
    val pOwner = pendingOwner(spark)
    val foreign = (pOwner, markerOwner) match {
      case (Some(p), Some(m)) =>
        !(p.pid == m.pid && p.host == m.host && p.proc == m.proc)
      case _ => false
    }
    if (foreign) {
      // a foreign pending is a DIFFERENT writer's mid-mutation state:
      // verifiably dead ⇒ roll its partial appends back to its own
      // snapshot (recover proceeds under the lock held here and
      // releases it when the store is whole); live or unverifiable ⇒
      // left entirely alone — release only a claim WE made (a dead
      // predecessor's lock stays with its pending, operator state)
      if (pOwner.exists(StoreGuard.ownerDead)) { recover(spark); () }
      else if (claimed) unlock(spark)
    } else {
      // the marker writer's own post-commit residue (or an unstamped
      // legacy state under a discharged/dead lock): clear the pending
      // FIRST, while the lock still fences out fresh writers, then
      // discharge the lock
      clearPending(spark)
      unlock(spark)
    }
  }
}

private[graft] object StoreGuard {
  private val GenRe = raw"_gen-(\d+)-([0-9a-f]+)".r

  /** A stamped lock's owner identity, as written at acquisition. */
  final case class LockOwner(pid: Long, host: String, proc: String, epochMs: Long)

  /** One uuid per JVM — distinguishes two writer processes that happen
    * to recycle a pid (and identifies "our own" locks in diagnostics).
    */
  private val processTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private[dedup] lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "localhost" }

  private[dedup] def pidAlive(pid: Long): Boolean =
    ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)

  /** Whether a stamped owner is VERIFIABLY dead: same host, pid no
    * longer alive. A foreign host answers false — not checkable here.
    */
  private[graft] def ownerDead(o: LockOwner): Boolean =
    o.host == localHost && !pidAlive(o.pid)

  /** Whether a stamped owner is THIS process (pid AND per-JVM uuid —
    * pid alone can be a recycled predecessor's).
    */
  private[graft] def ownerIsSelf(o: LockOwner): Boolean =
    o.pid == ProcessHandle.current().pid() && o.proc == processTag

  /** Test seam: invoked right after [[StoreGuard.recover]] claims AND
    * stamps a free lock, before any restore work — lets a spec observe
    * that the claim carries this process's stamp on disk (the
    * crashed-recoverer contract: a recoverer that dies mid-rollback
    * leaves a STAMPED lock a successor can verify dead and discharge,
    * instead of an unstamped one every discharger refuses). Observation
    * only — the hook must not throw.
    */
  private[graft] var onRecoverClaimed: () => Unit = () => ()

  /** Grace before re-probing an unstamped lock in [[StoreGuard.recover]]'s
    * lost-claim arbitration: a live claimer's stamp lands two FS calls
    * after its claim (microseconds on the local FS), so 250 ms is
    * generous without stalling operator-driven recovery.
    */
  private[dedup] val stampGraceMs = 250L

  /** Stamp a freshly-claimed lock file with this writer's identity via
    * temp-sibling + atomic rename (the [[locked]] idiom — see the
    * filesystem-atomicity note there). EVERY claim path must stamp —
    * locked(), recover()'s claim, dischargeCommitted()'s claim — so
    * that note 30's contract ("every lock the engine takes is stamped")
    * holds and a concurrent recoverer/discharger always sees a live
    * stamped owner, never an ambiguous bare file (the r16 verdict's
    * resurfaced TOCTOU: two recoverers both reading the other's bare
    * claim as `lockOwner = None` and proceeding concurrently).
    */
  private[dedup] def stampLock(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + ".stamp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(ownerStamp.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) {
      val out2 = fs.create(p, true)
      try out2.write(ownerStamp.getBytes("UTF-8")) finally out2.close()
      fs.delete(tmp, false)
    }
  }

  /** The stamp [[StoreGuard.locked]] writes into a claimed lock file. */
  private[graft] def ownerStamp: String =
    s"pid=${ProcessHandle.current().pid()} host=$localHost " +
      s"proc=$processTag epoch=${System.currentTimeMillis()}"

  /** Stamp text for an arbitrary pid — test seam for fabricating a dead
    * or live foreign writer's lock without forking a real ingest.
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

  /** Generation uuids written by THIS process — the "was that bump
    * ours?" test rollback uses to allow undoing its own trial ingest.
    */
  private val ownGens = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Lock paths held by the CURRENT thread (reentrancy). */
  private val heldLocks = ThreadLocal.withInitial[scala.collection.mutable.Set[String]](
    () => scala.collection.mutable.Set.empty[String])

  /** Default warehouse location of a store table (per-process catalog,
    * durable dir — the one path every store mutator keys off).
    */
  def tableLocation(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))

  /** Drop a store table from the catalog AND clear its default
    * warehouse location (the session catalog is per-process but the
    * warehouse dir is durable — `saveAsTable` refuses to CREATE over an
    * orphaned location).
    */
  def resetTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Staged-swap state machine shared by every REBUILD-class bucketed
    * table rewrite ([[compactTable]], the embedding store's reband):
    * stage a COMPLETE replacement under the `staged` sibling table,
    * reset the live table, atomically rename the staging over its
    * location, and re-declare the bucketed catalog entry. Returns true
    * when a swap ran (fresh or resumed), false when neither `needed`
    * nor a pending resume applied. One implementation so a crash-window
    * fix can never land in one copy and miss the other.
    *
    * Crash safety: the staged table is written completely before the
    * original is touched; the only window without a live table dir is
    * between the reset and the rename (two driver-side FS calls). A
    * writer that died in that window left the staged dir as the SOLE
    * copy — a re-run detects (staged data present, table data absent)
    * and resumes at the swap instead of re-staging, because the entry
    * reset would otherwise delete that only copy. The table side is
    * judged by DATA FILES, not dir existence: a crashed-swap recovery
    * path (ensureRegistered's missing-dir fallback) may have re-created
    * the table dir EMPTY via CREATE TABLE ... LOCATION, and reading
    * that husk as "table present" would strand the staged copy forever
    * (the store would silently read empty). A HALF-written staging can
    * never coexist with an empty table dir (the reset runs only after
    * the staged write completes), so staged-data + no-table-data is
    * unambiguous.
    */
  def stagedSwap(spark: SparkSession, table: String, staged: String,
      bucketCol: String, buckets: Int, needed: => Boolean)
      (stage: String => Unit): Boolean = {
    val (src, dst) = (tableLocation(spark, staged), tableLocation(spark, table))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFilesAt(p: org.apache.hadoop.fs.Path): Int =
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val resumingSwap = dataFilesAt(src) > 0 && dataFilesAt(dst) == 0
    if (!resumingSwap && !needed) {
      // no swap this run, but the live table holds data — any staged
      // sibling (either suffix) is a dead writer's pre-reset leftover,
      // not a sole copy; drop it now so it can never be adopted later
      // by the sole-copy heuristic after an unrelated crashed swap
      // empties the table dir
      if (dataFilesAt(dst) > 0) clearStagedSiblings(spark, table)
      return false
    }
    if (!resumingSwap) {
      resetTable(spark, staged) // a dead writer's half-written staging
      stage(staged)
      resetTable(spark, table) // content now lives ONLY in the staged dir
    } else if (fs.exists(dst)) {
      fs.delete(dst, true) // the recovery husk: rename must create dst fresh
    }
    require(fs.rename(src, dst), s"staged swap failed: rename $src -> $dst refused")
    // fs.rename returns TRUE when dst exists by nesting src INSIDE it —
    // the reset deleted dst, but verify anyway (the IvfIndex publish rule)
    require(!fs.exists(new org.apache.hadoop.fs.Path(dst, src.getName)),
      s"staged swap nested $src inside $dst — dst existed at rename time")
    // catalog: the staged entry now points at a moved dir (its drop is
    // metadata-only); the table is re-declared over the swapped files
    // with the same bucket spec so reads keep their shuffle-free joins
    spark.sql(s"DROP TABLE IF EXISTS `$staged`")
    spark.sql(s"DROP TABLE IF EXISTS `$table`") // belt: a stale pre-swap entry
    val cols = spark.read.parquet(dst.toString).schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"CREATE TABLE `$table` ($cols) USING parquet " +
      s"CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`) INTO $buckets BUCKETS " +
      s"LOCATION '$dst'")
    // the table now holds the swapped data, so a lingering staged
    // sibling of the OTHER suffix family (a compactor dead between its
    // reset and rename, later superseded by this reband — or vice
    // versa) is stale content: delete it, or a future crashed swap
    // that empties the table dir would let the sole-copy resume adopt
    // outdated bands
    clearStagedSiblings(spark, table)
    true
  }

  /** Staged-sibling suffixes every REBUILD-class rewrite stages under —
    * extend when a new [[stagedSwap]] caller introduces one, so
    * completed swaps keep cleaning ALL families.
    */
  private val StagedSuffixes = Seq("__compacting", "__rebanding")

  /** Drop any staged sibling of `table` (both suffix families), catalog
    * entry and directory. Call ONLY when the live table holds data —
    * with an empty table dir a staged sibling may be a dead writer's
    * SOLE copy, which [[stagedSwap]]'s resume path must adopt, not lose.
    */
  private def clearStagedSiblings(spark: SparkSession, table: String): Unit =
    StagedSuffixes.foreach(suf => resetTable(spark, table + suf))

  /** Rewrite a bucketed store table's files down to ~`buckets` files
    * WITHOUT changing content — the maintenance answer to bucket-aligned
    * daily appends (a year of ingests is ~365 files per bucket with no
    * remediation). One read + one bucketed write through a staged
    * sibling table, then an atomic directory swap: the I/O is exactly
    * the 2×|table| a compaction must pay, with no executor-storage pin
    * of the store, so the shape holds at any store size. The caller
    * holds the store's single-writer lock and bumps the generation
    * marker once ALL its tables are swapped (compaction deletes old
    * files, so it is a non-append mutation: earlier snapshots become
    * non-rollbackable, which rollback's missing-file refusal enforces).
    * Staging, crash windows, and the catalog re-declare are
    * [[stagedSwap]]'s contract.
    */
  def compactTable(spark: SparkSession, table: String, bucketCol: String,
      buckets: Int): Unit = {
    stagedSwap(spark, table, s"${table}__compacting", bucketCol, buckets,
        // already at the write-time floor (one file per bucket per
        // write) — nothing to compact, and skipping keeps the
        // empty-store edge (a zero-file bucketed write stages no
        // readable parquet) out entirely
        needed = dataFileCount(spark, table) > buckets) { staged =>
      // read the RAW parquet dir, not the catalog table: a bucketed
      // scan reports HashPartitioning(bucketCol, buckets), which lets
      // the planner drop the repartition below as redundant — while the
      // actual scan partitions are SIZE-grouped file splits (many small
      // appended files → few tasks, each spanning many buckets), so the
      // bucketed writer would emit tasks×buckets files and the
      // "compaction" would INCREASE nothing but still miss the floor.
      // A raw read has unknown partitioning: the bucket-aligned shuffle
      // survives and each task writes exactly one bucket file.
      BandedStore.writeBucketed(spark.read.parquet(tableLocation(spark, table).toString),
        staged, bucketCol, buckets)
    }
    ()
  }

  /** Parquet data files currently under a store table's location —
    * the number maintenance exists to bound.
    */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0
    else fs.listStatus(loc).count(s => s.isFile && !s.getPath.getName.startsWith("_"))
  }
}
