package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The skeleton of an incremental banded corpus store: a one-row meta
  * table plus bucketed data tables, one of them the `band_key`-bucketed
  * LSH candidate index, mutated by a single writer under [[StoreGuard]].
  * [[SignatureStore]] (MinHash bands, exact-Jaccard verify) and
  * [[graft.similarity.EmbeddingStore]] (sign-bit bands, exact-cosine
  * verify) extend it; everything here is the same for both, and what
  * differs (signatures, pair verification, the audit's shape, the
  * geometry maintenance) stays in the store.
  *
  * Lifecycle: `build` once over history → `ingest` per batch →
  * [[compact]] (or a rebuild) in the maintenance window. Every mutator
  * runs inside [[locked]]; an ingest persists its pre-ingest snapshot
  * (the pending file) for the whole mutation, so a fresh process can
  * restore the store via [[recover]] after the writer died.
  *
  * The ingest contract both stores keep (the tail is
  * [[commitIngest]]): one flag row per batch item, (id, is_dup,
  * dup_of), resolved in two steps —
  *  1. an item that near-dups ANY stored item is a duplicate (`dup_of` =
  *     the smallest matching stored id);
  *  2. the remaining items are banded against each other and resolved
  *     to connected components ([[Dedup.clusters]]) — each component's
  *     min-id member survives, the rest carry `dup_of` = that id.
  * An item that only near-dups a step-1 duplicate is NOT removed:
  * similarity is not transitive, and its content is no longer
  * represented by any surviving item. Survivors are appended, so the
  * next batch dedupes against them. Every stage is O(batch): the store
  * side of both store joins is read on its bucket key and never
  * reshuffles, and nothing rewrites or rescans the history.
  *
  * The ingest's hooks:
  *  - `onAudit` receives the batch's bucket-occupancy audit before any
  *    append (the orchestrated and streaming cadences file it in their
  *    run reports);
  *  - `onFlags` receives the checkpointed flag frame AFTER it is final
  *    but BEFORE any append mutates the store — a caller that persists
  *    flags here (the streaming ingest log) gets "flags before appends"
  *    ordering, so a crash mid-append leaves flags a rollback-then-rerun
  *    reproduces identically;
  *  - `onCommitted` runs after the appends and the generation bump,
  *    BEFORE the pending file clears — the one point where "this ingest
  *    fully happened" can be marked durably with no window against the
  *    crash-recovery authorization (marker present + pending present
  *    reads as committed; marker absent + pending present rolls back).
  * An exception mid-ingest (including during the appends) can leave
  * partial appends behind: callers that must preserve the store take a
  * [[snapshot]] first and [[rollback]] on failure, which restores it
  * bit-for-bit.
  */
trait BandedStore {

  /** What the store holds, for messages and maintenance labels. */
  def kind: String

  /** The id column of the batch's flag rows. */
  def idCol: String

  /** The per-batch audit sidecar's file name in a streaming flag partition. */
  def auditFile: String

  /** The call that creates an empty store, named in the not-on-disk error. */
  protected def initCall: String

  protected def metaSuffix: String

  /** Fallback schema of the meta table (a table with no data files has
    * nothing to infer a schema from).
    */
  protected def metaSchema: String

  /** The bucketed data tables: (table suffix, bucket column, fallback
    * schema). Every table shares the store's bucket count, pinned in
    * the meta row.
    */
  protected def layout: Seq[(String, String, String)]

  def metaTable(name: String): String = name + metaSuffix

  /** The bucketed data tables of store `name`, in [[layout]] order. */
  def dataTables(name: String): Seq[String] = layout.map(name + _._1)

  protected def allTables(name: String): Seq[String] = dataTables(name) :+ metaTable(name)

  private[graft] def guard(name: String): StoreGuard =
    StoreGuard(metaTable(name), allTables(name))

  protected def bucketsOf(spark: SparkSession, name: String): Int =
    spark.table(metaTable(name)).head().getAs[Int]("buckets")

  /** Crash recovery — see [[StoreGuard.recover]]. */
  def recover(spark: SparkSession, name: String): Boolean =
    guard(name).recover(spark)

  /** Owner-arbitrated crash recovery for automated callers — see
    * [[StoreGuard.recoverArbitrated]].
    */
  def recoverArbitrated(spark: SparkSession, name: String): Boolean =
    guard(name).recoverArbitrated(spark)

  /** Discharge a dead writer's recovery state WITHOUT rolling back, on
    * the durable proof of a commit marker stamped `markerOwner` — see
    * [[StoreGuard.dischargeCommitted]] and [[graft.streaming.CorpusStream]].
    */
  def dischargeCommitted(spark: SparkSession, name: String,
      markerOwner: Option[StoreGuard.LockOwner] = None): Unit =
    guard(name).dischargeCommitted(spark, markerOwner)

  /** Release a crashed writer's lock — see [[StoreGuard.unlock]]. */
  def unlock(spark: SparkSession, name: String): Unit =
    guard(name).unlock(spark)

  /** Discharge the store's lock only when its stamped owner is
    * verifiably dead — see [[StoreGuard.dischargeDeadLock]].
    */
  def dischargeDeadLock(spark: SparkSession, name: String,
      strict: Boolean): Boolean =
    guard(name).dischargeDeadLock(spark, strict)

  /** Run `f` as the store's single writer — see [[StoreGuard.locked]]. */
  def locked[A](spark: SparkSession, name: String)(f: => A): A =
    guard(name).locked(spark)(f)

  /** File-level snapshot of the store — see [[StoreGuard.snapshot]]. */
  def snapshot(spark: SparkSession, name: String): Set[String] =
    guard(name).snapshot(spark)

  /** Undo every append since `snap` — see [[StoreGuard.rollback]]
    * (stale-snapshot refusal, generation-marker restore, recursive
    * delete of aborted `_temporary` staging dirs).
    */
  def rollback(spark: SparkSession, name: String, snap: Set[String]): Unit =
    guard(name).rollback(spark, snap)

  /** Durable audit-alert breach streak — see [[StoreGuard.readStreak]]. */
  def readAuditStreak(spark: SparkSession, name: String): Int =
    guard(name).readStreak(spark)
  def writeAuditStreak(spark: SparkSession, name: String, n: Int): Unit =
    guard(name).writeStreak(spark, n)
  def clearAuditStreak(spark: SparkSession, name: String): Unit =
    guard(name).clearStreak(spark)

  /** Re-register the store's tables from their durable warehouse
    * locations into THIS session's catalog. The catalog is per-process
    * (in-memory) while the bucketed table dirs are durable, so a store
    * built by yesterday's JVM is invisible to today's until re-declared
    * — exactly the daily Runner-CLI cadence (`--corpus-init` one day,
    * `--corpus-ingest` the next). Schemas come from the parquet files
    * when any exist and fall back to the store's canonical layout for
    * a still-empty table (a freshly initialized store has no data
    * files to infer from); the bucket spec is re-declared from the
    * meta row so re-registered reads keep their shuffle-free bucketed
    * joins. No-op when the tables are already registered.
    */
  def ensureRegistered(spark: SparkSession, name: String): Unit = {
    if (allTables(name).forall(spark.catalog.tableExists)) return
    val metaP = StoreGuard.tableLocation(spark, metaTable(name))
    require(metaP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(metaP),
      s"no $kind store '$name' on disk at $metaP — $initCall it first")
    def register(t: String, bucketCol: Option[String], fallback: String,
        buckets: => Int): Unit =
      if (!spark.catalog.tableExists(t)) {
        val p = StoreGuard.tableLocation(spark, t)
        val cols =
          // UNABLE_TO_INFER_SCHEMA: a freshly initialized store has no
          // data files. PATH_NOT_FOUND: a compactor died between its
          // entry reset and the swap — the data lives in the staged
          // `__compacting` sibling and the table dir is gone. Register
          // over the canonical layout in both cases so maintenance can
          // reach compact()'s resume-at-the-swap branch (refusing here
          // would leave the store unreadable until an operator
          // hand-renamed the staged dir).
          try spark.read.parquet(p.toString).schema.fields
            .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
          catch { case e: Exception if e.getMessage != null &&
              (e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
               e.getMessage.contains("PATH_NOT_FOUND") ||
               e.getMessage.contains("Path does not exist")) => fallback }
        val cluster = bucketCol
          .map(c => s"CLUSTERED BY (`$c`) SORTED BY (`$c`) INTO $buckets BUCKETS")
          .getOrElse("")
        spark.sql(s"CREATE TABLE `$t` ($cols) USING parquet $cluster LOCATION '$p'")
      }
    register(metaTable(name), None, metaSchema, 0)
    lazy val buckets = bucketsOf(spark, name)
    layout.foreach { case (suffix, c, schema) =>
      register(name + suffix, Some(c), schema, buckets)
    }
  }

  /** Maintenance compaction: rewrite each bucketed table down to
    * ~`buckets` files WITHOUT changing content ([[StoreGuard.compactTable]];
    * a year of daily ingests is ~365 files per bucket otherwise), under
    * the single-writer lock, then bump the generation once: compaction
    * deletes old files, so pre-compaction snapshots become
    * non-rollbackable (rollback refuses them loudly).
    */
  def compact(spark: SparkSession, name: String): Unit = locked(spark, name) {
    val buckets = bucketsOf(spark, name)
    layout.foreach { case (suffix, c, _) =>
      StoreGuard.compactTable(spark, name + suffix, c, buckets)
    }
    guard(name).bumpGen(spark)
  }

  /** The store's routine monthly maintenance (the sweep and `Runner
    * --maintain-store`): [[compact]]. Returns a line for the report
    * when the maintenance did more than compact.
    */
  def maintain(spark: SparkSession, name: String): Option[String] = {
    compact(spark, name)
    None
  }

  /** Build store `name` once per JVM and data dir ([[graft.OncePerJvm]])
    * and return its post-build snapshot — the query suite's
    * build-once/ingest-many stores, rolled back to that snapshot after
    * every ingest. The snapshot is taken inside the build, so it can
    * never go stale against a rebuild under the same name.
    */
  private[graft] def builtOnce(spark: SparkSession, name: String, slug: String)
      (build: => Unit): Set[String] = {
    graft.OncePerJvm(name, slug) {
      build
      BandedStore.builtSnaps.put(name, snapshot(spark, name)); ()
    }
    BandedStore.builtSnaps.getOrElseUpdate(name, snapshot(spark, name))
  }

  /** Drop the store's tables and their locations (idempotent). */
  def drop(spark: SparkSession, name: String): Unit = locked(spark, name) {
    allTables(name).foreach(StoreGuard.resetTable(spark, _))
    guard(name).clearPending(spark) // a dropped store has nothing to recover
    guard(name).clearStreak(spark) // ...and no audit history either
  }

  /** Persist the pre-ingest snapshot for the mutation's duration, so a
    * fresh process can [[recover]] the store if this writer dies.
    */
  protected def beginIngest(spark: SparkSession, name: String): Unit =
    guard(name).writePending(spark, snapshot(spark, name))

  /** The ingest tail from the two dedup steps to the commit: assemble
    * the flags from `histDup` (id, hist_dup_of) and the survivors'
    * components `comp` (doc_id, cluster, is_rep), hand them to
    * `onFlags`, append the keepers — `keepers(keepIds)` lists
    * (frame, table, bucket column), written concurrently through
    * [[Overlap.overlappedAll]] — then bump the generation, call
    * `onCommitted` and clear the pending file. `onStage` times "flags"
    * and "appends".
    */
  protected def commitIngest(spark: SparkSession, name: String, buckets: Int,
      ids: DataFrame, histDup: DataFrame, comp: DataFrame,
      onStage: (String, Double) => Unit, onFlags: DataFrame => Unit,
      onCommitted: () => Unit)
      (keepers: DataFrame => Seq[(DataFrame, String, String)]): DataFrame = {
    val flags = BandedStore.staged(onStage, "flags") {
      ids
        .join(histDup, Seq(idCol), "left")
        .join(comp.select(col("doc_id").as(idCol), col("cluster"), col("is_rep")),
          Seq(idCol), "left")
        .select(col(idCol),
          (col("hist_dup_of").isNotNull || col("is_rep") === false).as("is_dup"),
          coalesce(col("hist_dup_of"),
            when(col("is_rep") === false, col("cluster"))).as("dup_of"))
        .localCheckpoint(true) // returned to the caller — must not pin the cache manager
    }
    onFlags(flags) // before any append
    val keepIds = flags.filter(!col("is_dup")).select(idCol)
    BandedStore.staged(onStage, "appends") {
      Overlap.overlappedAll(keepers(keepIds).map { case (df, t, c) =>
        () => BandedStore.writeBucketed(df, t, c, buckets, "append")
      })
    }
    guard(name).bumpGen(spark) // completed mutation — stale snapshots now refuse
    onCommitted() // durable "fully happened" mark, still under the pending authorization
    // pending clears ONLY on success (or when a rollback completes —
    // StoreGuard.doRollback clears it): a live failure keeps the
    // authorization on disk until the caller's compensating rollback
    // finishes, so a crash DURING that rollback is still recoverable
    guard(name).clearPending(spark)
    flags
  }
}

object BandedStore {

  private val builtSnaps = scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  /** A store's per-ingest audit, as the run reports file it. */
  trait Audit { def json: String }

  /** The one bucketed store write. It repartitions onto the bucket key
    * first: Spark's bucketed writer emits one file per (task,
    * bucket-present-in-task), so writing straight from a W-way shuffle
    * produces up to W×buckets near-empty files PER WRITE — a
    * small-files problem that compounds with every append and taxes
    * every later store read and file listing. The repartition uses the
    * same Murmur3 hash family as the bucket spec, so each task holds
    * exactly one bucket: `buckets` files per write, at the cost of one
    * extra |input| shuffle.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, mode: String = "overwrite"): Unit =
    saveBucketed(df.repartition(buckets, col(bucketCol)), table, bucketCol, buckets, mode)

  /** [[writeBucketed]]'s save alone, for a frame that is already
    * hash-partitioned on the bucket key into `buckets` (a pinned
    * repartition read twice) or empty.
    */
  def saveBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** `band:band_hash`, the LSH candidate join key every band table is
    * bucketed by.
    */
  def bandKey: org.apache.spark.sql.Column = concat_ws(":", col("band"), col("band_hash"))

  /** Run `f` and report its wall time to `onStage` under `label`. */
  private[graft] def staged[A](onStage: (String, Double) => Unit, label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    onStage(label, (System.nanoTime() - t0) / 1e9)
    r
  }
}
