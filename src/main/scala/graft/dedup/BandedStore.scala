package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The skeleton of an incremental banded corpus store: a one-row meta
  * table plus bucketed data tables, one of them the (id, `band_key`)
  * LSH candidate index bucketed by `band_key`, whose writers commit
  * through [[StoreGuard]]. A data table holds only the columns the
  * store's reads use.
  * [[SignatureStore]] (MinHash bands, exact-Jaccard verify) and
  * [[graft.similarity.EmbeddingStore]] (sign-bit bands, exact-cosine
  * verify) extend it; everything here is the same for both, and what
  * differs (signatures, pair verification, the audit's shape, the
  * geometry maintenance) stays in the store.
  *
  * Lifecycle: `build` once over history → `ingest` per batch →
  * [[compact]] (or a rebuild) in the maintenance window. Every table is
  * partitioned by `commit` and keeps its bucket spec; each mutation
  * writes fresh commits and publishes one manifest ([[StoreGuard]]) as
  * the version it read + 1, so an unpublished commit is never read and
  * of two racing writers the later publish fails.
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
  *    but BEFORE any append — a caller that persists flags here (the
  *    streaming ingest log) gets "flags before commit" ordering, so a
  *    crash before the publish leaves flags a re-run reproduces;
  *  - `onCommitted` runs right after the publish;
  *  - `batchTag` (flag root, batch id) is recorded in the published
  *    manifest, which is how a streaming replay knows the batch is in.
  * A caller that must undo a completed ingest takes a [[snapshot]]
  * first and [[rollback]]s to it.
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

  /** Columns of the meta table. */
  protected def metaSchema: String

  /** The bucketed data tables: (table suffix, bucket column, columns).
    * Every table shares the store's bucket count, pinned in the meta row.
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

  /** Whether the streaming batch `tag` (flag root, batch id) is committed
    * — see [[StoreGuard.committed]].
    */
  def committed(spark: SparkSession, name: String, tag: (String, Long)): Boolean =
    guard(name).committed(spark, tag)

  /** Runs `f` and takes no lock: every mutation publishes optimistically
    * ([[StoreGuard]]). perfbench's traced ingest still calls it.
    */
  def locked[A](spark: SparkSession, name: String)(f: => A): A = f

  /** The published manifest version and its live commits. */
  def snapshot(spark: SparkSession, name: String): BandedStore.Snapshot =
    guard(name).snapshot(spark)

  /** Republish `snap`'s commits — see [[StoreGuard.rollback]]. */
  def rollback(spark: SparkSession, name: String, snap: BandedStore.Snapshot): Unit =
    guard(name).rollback(spark, snap)

  /** Durable audit-alert breach streak — see [[StoreGuard.streak]]. */
  def readAuditStreak(spark: SparkSession, name: String): Int =
    guard(name).streak(spark)
  def writeAuditStreak(spark: SparkSession, name: String, n: Int): Unit =
    guard(name).updateStreak(spark, _ => n)
  def clearAuditStreak(spark: SparkSession, name: String): Unit =
    writeAuditStreak(spark, name, 0)

  /** Register the store's tables in THIS session's catalog and make
    * their partitions the newest manifest's commits. The catalog is
    * per-process (in-memory) while the tables and the manifest are
    * durable, so a store built by yesterday's JVM is invisible to
    * today's until declared — the daily Runner-CLI cadence. Tables are
    * declared from [[layout]] with the bucket count of the meta row, so
    * re-registered reads keep their shuffle-free bucketed joins. The
    * partition sync runs on every call, so a long-running process sees
    * what another JVM published, and its next ingest publishes on top of
    * the version synced.
    */
  def ensureRegistered(spark: SparkSession, name: String): Unit = {
    val g = guard(name)
    require(g.version(spark) > 0,
      s"no $kind store '$name' on disk at ${g.manifestDir(spark)} — $initCall it first")
    declare(spark, name, None)
  }

  /** Declare the store's tables where this session has no entry and
    * sync their partitions. A build passes its bucket count (`rebuild`):
    * every entry is dropped first — the files stay, every entry is
    * EXTERNAL — so a changed count takes effect.
    */
  protected def declare(spark: SparkSession, name: String, rebuild: Option[Int]): Unit = {
    def create(t: String, cols: String, cluster: => String): Unit =
      if (!spark.catalog.tableExists(t)) {
        val loc = StoreGuard.tableLocation(spark, t)
        // CREATE ... LOCATION logs a stack trace for a missing dir
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(loc)
        spark.sql(s"CREATE TABLE `$t` ($cols, `commit` STRING) USING parquet " +
          s"PARTITIONED BY (`commit`) $cluster LOCATION '$loc'")
      }
    if (rebuild.isDefined) allTables(name).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    create(metaTable(name), metaSchema, "")
    guard(name).sync(spark)
    lazy val buckets = rebuild.getOrElse(bucketsOf(spark, name))
    layout.foreach { case (suffix, c, cols) =>
      create(name + suffix, cols, s"CLUSTERED BY (`$c`) SORTED BY (`$c`) INTO $buckets BUCKETS")
    }
    guard(name).sync(spark)
  }

  /** One mutation of store `name` from version `base` — see
    * [[StoreGuard.mutate]].
    */
  protected def mutate[A](spark: SparkSession, name: String, base: Int,
      batchTag: Option[(String, Long)] = None, onCommitted: () => Unit = () => ())
      (write: StoreGuard.Commit => A): A = {
    val g = guard(name)
    g.mutate(spark, base, batchTag, onCommitted,
      () => if (g.version(spark) > 0) ensureRegistered(spark, name))(write)
  }

  /** Write `row` as commit `commit` of the meta table — raw parquet (the
    * meta table is not bucketed), so its columns land as given.
    */
  protected def writeMeta(spark: SparkSession, name: String, row: DataFrame,
      commit: String): Unit =
    row.write.parquet(guard(name).commitDir(spark, metaTable(name), commit).toString)

  /** Replace the meta row with `row` as it stands: how specs fabricate
    * a store pinned by an older engine.
    */
  private[graft] def pinMeta(spark: SparkSession, name: String, row: DataFrame): Unit =
    mutate(spark, name, guard(name).version(spark)) { c =>
      c.replace(metaTable(name))
      writeMeta(spark, name, row, c.id)
    }

  /** Maintenance compaction: rewrite each data table holding more than
    * one commit into one commit of ~`buckets` files WITHOUT changing
    * content (a year of daily ingests is ~365 files per bucket
    * otherwise), all in one publish as the version after the snapshot it
    * rewrites. Pre-compaction snapshots then refuse to roll back: their
    * commits are gone.
    */
  def compact(spark: SparkSession, name: String): Unit = {
    val snap = snapshot(spark, name)
    val live = snap.commits
    val todo = layout.filter { case (suffix, _, _) => live.getOrElse(name + suffix, Nil).size > 1 }
    if (todo.nonEmpty) {
      val buckets = bucketsOf(spark, name)
      mutate(spark, name, snap.version) { c =>
        todo.foreach { case (suffix, bucketCol, _) =>
          val t = name + suffix
          c.replace(t)
          // read the RAW commit dirs, not the catalog table: a bucketed
          // scan reports HashPartitioning(bucketCol, buckets), which lets
          // the planner drop writeBucketed's repartition as redundant
          // while the scan's tasks are size-grouped file splits spanning
          // many buckets — the rewrite would then miss the file floor
          BandedStore.writeBucketed(spark.read.parquet(
            live(t).map(guard(name).commitDir(spark, t, _).toString): _*),
            t, bucketCol, buckets, c.id)
        }
      }
    }
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
      (build: => Unit): BandedStore.Snapshot = {
    graft.OncePerJvm(name, slug) {
      build
      BandedStore.builtSnaps.put(name, snapshot(spark, name)); ()
    }
    BandedStore.builtSnaps.getOrElseUpdate(name, snapshot(spark, name))
  }

  /** Drop the store's tables and manifests (idempotent). */
  def drop(spark: SparkSession, name: String): Unit = guard(name).drop(spark)

  /** The ingest tail from the two dedup steps to the commit: assemble
    * the flags from `histDup` (id, hist_dup_of) and the survivors'
    * components `comp` (doc_id, cluster, is_rep), hand them to
    * `onFlags`, then append the keepers as one commit —
    * `keepers(keepIds)` lists (frame, table, bucket column), written
    * concurrently through [[Overlap.overlappedAll]] — published with
    * `batchTag` as the version after `base`, the one the ingest's store
    * joins read, and call `onCommitted`. `onStage` times "flags" and
    * "appends".
    *
    * `histDup` and `comp` partition the batch: every item is either a
    * history dup or a survivor with one component row. So the flags are
    * their union, and no join back to the batch ids is needed.
    */
  protected def commitIngest(spark: SparkSession, name: String, base: Int, buckets: Int,
      histDup: DataFrame, comp: DataFrame,
      onStage: (String, Double) => Unit, onFlags: DataFrame => Unit,
      onCommitted: () => Unit, batchTag: Option[(String, Long)])
      (keepers: DataFrame => Seq[(DataFrame, String, String)]): DataFrame = {
    val flags = BandedStore.staged(onStage, "flags") {
      histDup.select(col(idCol), lit(true).as("is_dup"), col("hist_dup_of").as("dup_of"))
        .unionByName(comp.select(col("doc_id").as(idCol), (!col("is_rep")).as("is_dup"),
          when(!col("is_rep"), col("cluster")).as("dup_of")))
        .localCheckpoint(true) // returned to the caller — must not pin the cache manager
    }
    onFlags(flags) // before any append
    val keepIds = flags.filter(!col("is_dup")).select(idCol)
    mutate(spark, name, base, batchTag, onCommitted) { c =>
      BandedStore.staged(onStage, "appends") {
        Overlap.overlappedAll(keepers(keepIds).map { case (df, t, bucketCol) =>
          () => BandedStore.writeBucketed(df, t, bucketCol, buckets, c.id)
        })
      }
    }
    flags
  }
}

object BandedStore {

  private val builtSnaps = scala.collection.concurrent.TrieMap.empty[String, Snapshot]

  /** A store's published state: the manifest version and each table's
    * live commits.
    */
  final case class Snapshot(version: Int, commits: Map[String, Seq[String]])

  /** A store's per-ingest audit, as the run reports file it. */
  trait Audit { def json: String }

  /** The one bucketed store write: `df` lands as commit `commit` of
    * `table`. It repartitions onto the bucket key first: Spark's
    * bucketed writer emits one file per (task, bucket-present-in-task),
    * so writing straight from a W-way shuffle produces up to W×buckets
    * near-empty files PER WRITE — a small-files problem that compounds
    * with every append and taxes every later store read and file
    * listing. The repartition uses the same Murmur3 hash family as the
    * bucket spec, so each task holds exactly one bucket: `buckets`
    * files per write, at the cost of one extra |input| shuffle.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, commit: String): Unit =
    saveBucketed(df.repartition(buckets, col(bucketCol)), table, commit)

  /** [[writeBucketed]]'s insert alone, for a frame that is already
    * hash-partitioned on the bucket key into the table's bucket count
    * (a pinned repartition read twice) or empty. Columns are matched by
    * name; the table's bucket spec drives the write.
    */
  def saveBucketed(df: DataFrame, table: String, commit: String): Unit = {
    val cols = df.sparkSession.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .dataSchema.fieldNames.toSeq
    df.select(cols.map(col) :+ lit(commit).as("commit"): _*)
      .write.mode("append").insertInto(table)
  }

  /** `band:band_hash` of a signature row, the LSH candidate join key
    * every band table stores and is bucketed by.
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
