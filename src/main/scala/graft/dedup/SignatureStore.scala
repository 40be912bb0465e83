package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Overlap.{overlapped, overlapped2}

/** Persisted MinHash signature store for INCREMENTAL dedup — the only
  * dedup shape that survives 100 TB of history. Re-running corpus-wide
  * LSH per ingest is O(corpus) every day; the store makes the daily cost
  * O(batch): the historical corpus is hashed ONCE into bucketed
  * signature/index tables, and each new batch dedupes against it by
  * being shuffled INTO the store's bucketing — the history side is read
  * in place, pre-partitioned and pre-sorted, and never moves again
  * (same discipline as the bucketed MERGE in
  * [[graft.sinks.TableManager]], where only the updates side shuffles).
  *
  * Three bucketed managed tables per store (plus a one-row spec table
  * so probes can never drift from the build parameters):
  *  - `<name>_bands`    (doc_id, band, band_hash, band_key) bucketed by
  *    `band_key` — the LSH candidate join key.
  *  - `<name>_shingles` (doc_id, shingle) df-capped inverted index
  *    bucketed by `doc_id` — the exact-Jaccard re-verify side.
  *  - `<name>_sizes`    (doc_id, n_sh) — per-doc surviving-shingle
  *    counts for the Jaccard denominator, bucketed by `doc_id` (one row
  *    per historical document — at scale this is as big as the corpus).
  *
  * Semantics note: MinHash signatures depend only on a document's own
  * shingles, so band signatures are corpus-independent and cross-corpus
  * collisions are exactly what full-corpus LSH would produce. The
  * re-verify Jaccard uses each corpus's own df-capped index (history
  * capped at build time over history, the batch over itself) — the
  * standard incremental approximation, replayed exactly by the d07
  * oracle.
  *
  * Lifecycle: [[build]] once over history → [[ingest]] per batch (flag
  * dups against store + within batch, append survivors so the store
  * grows) → periodic [[build]] rebuild in the maintenance window to
  * compact appended files and re-apply the df cap corpus-wide.
  */
object SignatureStore {

  /** @param rows minhash rows per band ([[Dedup.minhashBands]]) — the
    *   band-selectivity knob [[retune]] raises when the band audit
    *   shows hot buckets. Pinned in the meta table like every other
    *   build parameter so batch-side banding can never diverge from
    *   the stored history's (stores built before the knob existed read
    *   back as the then-hardcoded 2).
    */
  final case class Spec(k: Int = 3, bands: Int = 8, maxDf: Int = 100,
      rows: Int = 2)

  /** Read the pinned build parameters back from the meta row (absent
    * `rows` column = a pre-knob store = 2).
    */
  private def specOf(meta: org.apache.spark.sql.Row): Spec =
    Spec(meta.getAs[Int]("k"), meta.getAs[Int]("bands"), meta.getAs[Int]("max_df"),
      if (meta.schema.fieldNames.contains("rows")) meta.getAs[Int]("rows") else 2)

  /** Per-ingest band-bucket accounting — the text twin of
    * [[graft.similarity.EmbeddingStore.IngestAudit]]. The MinHash
    * candidate join is UNCAPPED (the df cap bounds the verify index,
    * not the band buckets), so a bucket of m same-signature documents
    * costs m²/2 candidate pairs; this histogram makes that term
    * observable in the daily run report BEFORE it dominates an ingest.
    * Occupancies count batch∪store members of each batch-touched
    * band_key, delivered through ingest's `onAudit` as its own action.
    */
  final case class IngestAudit(nBatch: Long, bands: Int,
      occupiedBuckets: Long, maxBucket: Long) {
    def json: String =
      s"""{"n_batch":$nBatch,"bands":$bands,""" +
        s""""occupied_buckets":$occupiedBuckets,"max_bucket":$maxBucket}"""
  }

  def bandsTable(name: String): String = s"${name}_bands"
  def shinglesTable(name: String): String = s"${name}_shingles"
  def sizesTable(name: String): String = s"${name}_sizes"
  def metaTable(name: String): String = s"${name}_meta"

  private def allTables(name: String): Seq[String] =
    Seq(bandsTable(name), shinglesTable(name), sizesTable(name), metaTable(name))

  // ---- concurrent-writer guard ----------------------------------------
  // The single-writer discipline (lock file, generation markers,
  // pending-snapshot crash recovery) lives in [[StoreGuard]] so every
  // mutating store pays the same guarantees; this store's public
  // API below delegates per name.

  private def guard(name: String): StoreGuard =
    StoreGuard(metaTable(name), allTables(name))

  /** Crash recovery — see [[StoreGuard.recover]]. */
  def recover(spark: SparkSession, name: String): Boolean =
    guard(name).recover(spark)

  /** Owner-arbitrated crash recovery for automated callers — see
    * [[StoreGuard.recoverArbitrated]].
    */
  def recoverArbitrated(spark: SparkSession, name: String): Boolean =
    guard(name).recoverArbitrated(spark)

  /** Discharge a dead writer's recovery state WITHOUT rolling back —
    * for a caller holding durable proof the writer's mutation fully
    * committed (a commit marker written by ingest's `onCommitted` hook).
    * `markerOwner` is the identity stamped into that marker: the marker
    * only proves the MARKER WRITER's batch committed, so the pending
    * found now is moot residue only when ITS stamp matches — a foreign
    * dead writer's mid-mutation pending is rolled back instead, and a
    * live one is left alone. Full arbitration table in
    * [[StoreGuard.dischargeCommitted]]; protocol context in
    * [[graft.streaming.CorpusStream]].
    */
  def dischargeCommitted(spark: SparkSession, name: String,
      markerOwner: Option[StoreGuard.LockOwner] = None): Unit =
    guard(name).dischargeCommitted(spark, markerOwner)

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
    val conf = spark.sparkContext.hadoopConfiguration
    def loc(t: String): org.apache.hadoop.fs.Path =
      new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t)))
    val metaP = loc(metaTable(name))
    require(metaP.getFileSystem(conf).exists(metaP),
      s"no signature store '$name' on disk at $metaP — build/corpusInit it first")
    def register(t: String, bucketCol: Option[String], fallback: String,
        buckets: => Int): Unit =
      if (!spark.catalog.tableExists(t)) {
        val p = loc(t)
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
    register(metaTable(name), None,
      "`k` INT, `bands` INT, `max_df` INT, `buckets` INT, `rows` INT", 0)
    lazy val buckets = spark.table(metaTable(name)).head().getAs[Int]("buckets")
    register(bandsTable(name), Some("band_key"),
      "`doc_id` BIGINT, `band` INT, `band_hash` STRING, `band_key` STRING", buckets)
    register(shinglesTable(name), Some("doc_id"),
      "`shingle` STRING, `doc_id` BIGINT", buckets)
    register(sizesTable(name), Some("doc_id"),
      "`doc_id` BIGINT, `n_sh` BIGINT", buckets)
  }

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

  /** Drop a store table from the catalog AND clear its default warehouse
    * location. The session catalog is per-process but the warehouse
    * directory is durable, so a table written by a previous JVM is an
    * orphaned location to this one — `saveAsTable` would refuse to
    * CREATE over it (LOCATION_ALREADY_EXISTS). A store rebuild must own
    * both halves.
    */
  private def reset(spark: SparkSession, table: String): Unit =
    StoreGuard.resetTable(spark, table)

  /** Hash, band, and index the historical corpus into the store's
    * bucketed tables. One pass over `history` for signatures and one for
    * the inverted index; the index is pinned so its sizes aggregate does
    * not re-shingle the corpus.
    */
  def build(spark: SparkSession, history: DataFrame, name: String,
      spec: Spec = Spec(), buckets: Int = 16): Unit = locked(spark, name) {
    // locked like every mutator: a rebuild racing a live ingest would
    // delete the tables out from under its appends (the lock file is a
    // SIBLING of the table dirs, so the reset below cannot remove it)
    import spark.implicits._
    require(spec.rows >= 1 && spec.bands >= 1, s"invalid banding geometry $spec")
    allTables(name).foreach(reset(spark, _))
    // repartition onto the bucket key before every bucketed write:
    // Spark's bucketed writer emits one file per (task, bucket-present-
    // in-task), so writing straight from a W-way shuffle produces up to
    // W×buckets near-empty files PER WRITE — a small-files problem that
    // compounds with every append and taxes every later store read and
    // file listing. The repartition uses the same Murmur3 hash family as
    // the bucket spec, so each task holds exactly one bucket: `buckets`
    // files per write, at the cost of one extra |input| shuffle in the
    // (monthly) build / (per-batch) append — the right trade at any
    // scale.
    Dedup.minhashBands(history, spec.k, spec.bands, spec.rows)
      .withColumn("band_key", concat_ws(":", col("band"), col("band_hash")))
      .repartition(buckets, col("band_key"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band_key").sortBy("band_key")
      .saveAsTable(bandsTable(name))
    val index = Dedup.shingleIndex(history, spec.k, spec.maxDf)
      .repartition(buckets, col("doc_id")).persist()
    try {
      index.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .saveAsTable(shinglesTable(name))
      index.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        .repartition(buckets, col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .saveAsTable(sizesTable(name))
    } finally index.unpersist()
    Seq((spec.k, spec.bands, spec.maxDf, buckets, spec.rows))
      .toDF("k", "bands", "max_df", "buckets", "rows")
      .write.mode("overwrite").format("parquet").saveAsTable(metaTable(name))
    guard(name).bumpGen(spark) // generation 1 — this build is "ours"
  }

  /** Hot-bucket REMEDIATION — the operator response when the band
    * audit ([[IngestAudit]], surfaced per-ingest in the run report and
    * the streaming flag log) shows `max_bucket` growing: rebuild the
    * store from the source corpus with a TIGHTENED banding geometry.
    * The uncapped candidate join costs a hot bucket of m docs m²/2
    * pairs, and capping it (the embedding twin's remedy) would be
    * recall loss here — the MinHash remedy is selectivity: a band
    * collides with probability J^rows, so raising `rows` collapses the
    * moderate-J boilerplate mass that drives hot buckets (e.g. J=0.4:
    * rows 2 → 16% per band, rows 3 → 6.4%) while a paired `bands`
    * raise keeps recall at the dedup threshold (b=16/r=3 keeps ≥98% at
    * J≥0.7 where b=8/r=2 had ≥99.8%; at J=0.5, 88% vs 98% — the
    * operator trades tail recall for a bounded candidate join and the
    * audit verifies the trade landed). Geometry is re-pinned in the
    * meta table, so every later batch bands identically; this is a
    * full rebuild (the store's signatures ARE the geometry), riding
    * the same monthly slot as the corpus-wide df-cap refresh — O(2×
    * corpus), the floor for any re-signing maintenance. The default
    * geometry — and with it every d-query oracle — is untouched.
    */
  def retune(spark: SparkSession, history: DataFrame, name: String,
      spec: Spec, buckets: Int = 16): Unit = locked(spark, name) {
    build(spark, history, name, spec, buckets)
    // the retune IS the remediation the AUDIT ALERT names, whichever
    // path invoked it (manual --corpus-retune or the sweep's opt-in
    // arm): the escalation condition was acted on, so the persisted
    // breach streak resets here — otherwise the next single breach
    // under the NEW geometry would alert claiming "N consecutive"
    // and an opted-in sweep would redundantly rebuild again
    guard(name).clearStreak(spark)
  }

  /** Maintenance compaction (`Runner --maintain-store`): rewrite the
    * store's bucketed tables down to ~`buckets` files each WITHOUT
    * changing content — a year of daily ingests is ~365 files per
    * bucket otherwise, taxing every probe's file listing. Runs under
    * the single-writer lock (a live ingest fails fast against it and
    * vice versa) and bumps the generation marker once, after all three
    * tables swapped: compaction deletes old files, so pre-compaction
    * snapshots become non-rollbackable — rollback's missing-file
    * refusal turns that into a loud error instead of a silent
    * store-emptying. Content-preserving by construction (one bucketed
    * rewrite per table, same bucket spec), so probe/ingest results are
    * unchanged; the monthly [[build]] from the full corpus remains the
    * deeper maintenance that also re-applies the df cap corpus-wide.
    */
  def compact(spark: SparkSession, name: String): Unit = locked(spark, name) {
    val buckets = spark.table(metaTable(name)).head().getAs[Int]("buckets")
    Seq(bandsTable(name) -> "band_key", shinglesTable(name) -> "doc_id",
        sizesTable(name) -> "doc_id").foreach { case (t, c) =>
      StoreGuard.compactTable(spark, t, c, buckets)
    }
    guard(name).bumpGen(spark)
  }

  /** Drop the store's tables and their locations (idempotent). */
  def drop(spark: SparkSession, name: String): Unit = locked(spark, name) {
    allTables(name).foreach(reset(spark, _))
    guard(name).clearPending(spark) // a dropped store has nothing to recover
    guard(name).clearStreak(spark) // ...and no audit history either
  }

  /** Durable audit-alert breach streak (sidecar next to the meta dir —
    * see [[StoreGuard.readStreak]]): the consecutive-breach counter the
    * orchestrated cadences persist across the one-JVM-per-run cron
    * cadence, and the monthly sweep's opt-in remediation reads.
    */
  def readAuditStreak(spark: SparkSession, name: String): Int =
    guard(name).readStreak(spark)
  def writeAuditStreak(spark: SparkSession, name: String, n: Int): Unit =
    guard(name).writeStreak(spark, n)
  def clearAuditStreak(spark: SparkSession, name: String): Unit =
    guard(name).clearStreak(spark)

  /** File-level snapshot of the store — see [[StoreGuard.snapshot]]. */
  def snapshot(spark: SparkSession, name: String): Set[String] =
    guard(name).snapshot(spark)

  /** Undo every append since `snap` — see [[StoreGuard.rollback]]
    * (stale-snapshot refusal, generation-marker restore, recursive
    * delete of aborted `_temporary` staging dirs).
    */
  def rollback(spark: SparkSession, name: String, snap: Set[String]): Unit =
    guard(name).rollback(spark, snap)

  /** Append an (already deduplicated) document set's signatures to the
    * store — bucketed `mode("append")` writes, so each ingest adds at
    * most `buckets` files per table and reads keep their shuffle-free
    * bucketing (more files per bucket, same bucket pruning/join keys).
    * File proliferation across many ingests is bounded by the monthly
    * maintenance rebuild ([[build]] from the full corpus), which also
    * re-applies the df cap corpus-wide. Takes precomputed bands/index
    * (both derived from the ingest's single shingle pass).
    */
  private def appendFrom(bands: DataFrame, index: DataFrame, name: String,
      buckets: Int): Unit = {
    // The three table appends are independent jobs over already-pinned
    // inputs (callers checkpoint `index`; `bands` filters a checkpointed
    // table) — submit them concurrently and let the scheduler interleave
    // their small stages instead of paying three sequential job
    // latencies. The executor threads are created HERE, per call — not
    // taken from a shared pool — so Spark's InheritableThreadLocal
    // localProperties (job group, cancellation scope) propagate from the
    // caller: a harness cancelling the caller's job group cancels these
    // writes with it, instead of leaking stragglers that race a later
    // rollback.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val writes = Seq(
        Future {
          bands
            .withColumn("band_key", concat_ws(":", col("band"), col("band_hash")))
            .repartition(buckets, col("band_key"))
            .write.mode("append").format("parquet")
            .bucketBy(buckets, "band_key").sortBy("band_key")
            .saveAsTable(bandsTable(name))
        },
        Future {
          index.repartition(buckets, col("doc_id"))
            .write.mode("append").format("parquet")
            .bucketBy(buckets, "doc_id").sortBy("doc_id")
            .saveAsTable(shinglesTable(name))
        },
        Future {
          index.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
            .repartition(buckets, col("doc_id"))
            .write.mode("append").format("parquet")
            .bucketBy(buckets, "doc_id").sortBy("doc_id")
            .saveAsTable(sizesTable(name))
        })
      // await ALL three before returning or rethrowing: if one write
      // fails while siblings are still running, returning early would
      // leave stragglers committing files AFTER a caller's rollback
      // listed the directories — exactly the partial-append pollution
      // the rollback exists to prevent
      val results = writes.map(w => scala.util.Try(Await.result(w, Duration.Inf)))
      results.foreach(_.get)
    } finally pool.shutdown()
  }

  /** One full cycle of the daily cadence: flag the batch's duplicates,
    * APPEND the survivors' signatures to the store (so the next batch
    * dedupes against them — history grows), and return one row per
    * batch doc: (doc_id, is_dup, dup_of).
    *
    * Dup resolution order:
    *  1. a batch doc that near-dups ANY stored doc is a duplicate
    *     (`dup_of` = the smallest matching stored id);
    *  2. the remaining docs are LSH'd against each other and resolved to
    *     connected components ([[Dedup.clusters]]) — each component's
    *     min-id member survives, the rest carry `dup_of` = that id.
    * A doc that only near-dups a step-1 duplicate is NOT removed:
    * Jaccard is not transitive, and its content is no longer represented
    * by any surviving doc — dropping it would over-delete.
    *
    * Scale shape: every stage is O(batch) — the history side contributes
    * only bucketed, never-reshuffled reads in step 1; step 2 is LSH over
    * the batch alone; the append shuffles only survivors. Nothing
    * rewrites or rescans the accumulated corpus. The batch's text is
    * scanned and exploded ONCE ([[Dedup.shingles]], eager checkpoint);
    * history-pass bands/index, survivor-pass bands/index (df cap
    * re-applied within the survivors), and the appended signatures are
    * all aggregates over that one pass. `histDup` and `flags` are also
    * eagerly checkpointed: each feeds 2–3 downstream consumers, and an
    * unpinned histDup re-executes the whole store-join subtree per
    * consumer (measured 2× on the bench before pinning).
    */
  /** @param onStage dev-hook: called with (stage-label, seconds) after
    *   each materialization point, so profilers (the perfbench
    *   `--trace 1` run's `dedup.stage.*` metrics) time THIS code path
    *   rather than a drift-prone reimplementation.
    *   Failure note: an exception mid-ingest (including during the
    *   appends) can leave PARTIAL appends behind — callers that must
    *   preserve the store take a [[snapshot]] first and [[rollback]] on
    *   failure, which restores it bit-for-bit.
    */
  /** @param onFlags commit hook: called with the (checkpointed) flag
    *   frame AFTER it is final but BEFORE any append mutates the store —
    *   a caller that persists flags here (the streaming ingest log) gets
    *   "flags before appends" ordering, so a crash mid-append leaves
    *   flags a rollback-then-rerun reproduces identically.
    * @param onCommitted commit hook: called after the appends and the
    *   generation bump, BEFORE the pending file clears — the one point
    *   where "this ingest fully happened" can be marked durably with no
    *   window against the crash-recovery authorization (marker present +
    *   pending present reads as committed; marker absent + pending
    *   present rolls back).
    */
  /** @param onAudit accounting hook: called with the batch's
    *   [[IngestAudit]] band-bucket histogram before any append —
    *   the orchestrated/streaming cadences file it in their run
    *   reports (same contract as the embedding store's audit).
    */
  def ingest(spark: SparkSession, batch: DataFrame, name: String,
      threshold: Double = 0.5,
      onStage: (String, Double) => Unit = (_, _) => (),
      onFlags: DataFrame => Unit = _ => (),
      onCommitted: () => Unit = () => (),
      onAudit: IngestAudit => Unit = _ => ()): DataFrame =
    locked(spark, name) { // single-writer: a concurrent ingest fails fast
    // persist the pre-ingest snapshot for the duration: if this WRITER
    // dies (not merely throws — a live failure clears it below), a
    // fresh process can restore the store via [[recover]]
    guard(name).writePending(spark, snapshot(spark, name))
    locally {
    def staged[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      onStage(label, (System.nanoTime() - t0) / 1e9)
      r
    }
    val meta = spark.table(metaTable(name)).head()
    val spec = specOf(meta)
    val buckets = meta.getAs[Int]("buckets")
    // ids come from the batch itself, not the shingle pass — docs with
    // fewer than k tokens have no shingles but still need a flag row
    val ids = batch.select(col("doc_id").cast("long").as("doc_id"))
    val bsh = staged("shingle pass")(Dedup.shingles(batch, spec.k).localCheckpoint(true))
    // index and bands are INDEPENDENT aggregates over the pinned shingle
    // pass — overlap their materializations (guide §2.6; same pattern
    // and thread-inheritance rationale as [[appendFrom]]'s writes). The
    // r20 stage split had them at 0.53 s + 0.43 s sequential.
    //
    // MinHash signatures are per-document (corpus-independent), so the
    // batch's bands are aggregated ONCE and every later consumer —
    // store join, within-survivor LSH, keeper append — is a semi-join
    // filter of this table, not a re-aggregation of the shingle pass
    val (bIdx, bBands) = staged("batch index ∥ bands") {
      overlapped2(
        Dedup.indexFromShingles(bsh, spec.maxDf).localCheckpoint(true),
        Dedup.bandsFromShingles(bsh, spec.bands, spec.rows).localCheckpoint(true))
    }
    // the bucket audit only READS the store and the pinned batch tables,
    // and its contract is "delivered before any append" — not "before
    // the store join" — so its one-row aggregate runs CONCURRENTLY with
    // the store join below and is awaited (and onAudit called, still on
    // this thread) right after. The batch count is fused into the same
    // single-row action (two one-row aggregates cross-joined) instead
    // of a separate ids.count() job.
    val auditRow = staged("bucket audit (submit)") {
      overlapped {
        // occupancy over the band_keys this batch touches, batch∪store
        // members — the store side is a semi-join INTO its bucketing
        // (only the small key set shuffles), never a full-store aggregate
        val batchCnt = bBands
          .select(concat_ws(":", col("band"), col("band_hash")).as("band_key"))
          .groupBy("band_key").agg(count(lit(1)).as("n_batch"))
        batchCnt
          .join(spark.table(bandsTable(name))
              .join(batchCnt.select("band_key"), "band_key")
              .groupBy("band_key").agg(count(lit(1)).as("n_store")),
            Seq("band_key"), "left")
          .select((col("n_batch") + coalesce(col("n_store"), lit(0L))).as("occ"))
          .agg(count(lit(1)).as("n_keys"), max(col("occ")).as("max_occ"))
          .crossJoin(ids.agg(count(lit(1)).as("n_batch_docs")))
          .head()
      }
    }
    val histDup =
      try staged("store join") {
        pairsAgainstStore(spark, name, bBands, bIdx, threshold)
          .groupBy(col("new_id").as("doc_id"))
          .agg(min(col("hist_id")).as("hist_dup_of"))
          .localCheckpoint(true)
      } catch { case t: Throwable => Overlap.drain(auditRow); throw t }
    staged("bucket audit (await)") {
      val row = auditRow()
      onAudit(IngestAudit(row.getLong(2), spec.bands,
        row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1)))
    }
    val survIds = ids.join(histDup, Seq("doc_id"), "left_anti")
    val ssh = bsh.join(survIds, "doc_id")
    val comp = staged("survivor LSH + components") {
      // r19 probe note: eagerly pinning the survivor index (consumed 3×
      // inside lshPairsFrom) was measured break-even-to-worse here
      // (2.95 s vs 2.67 s stage time) — the index subtree is identical
      // across its consumers, so ReuseExchange already shares its
      // shuffles and the blocking checkpoint only adds a
      // materialization. Left un-pinned deliberately.
      Dedup.clusters(
        Dedup.lshPairsFrom(bBands.join(survIds, "doc_id"),
          Dedup.indexFromShingles(ssh, spec.maxDf), threshold),
        survIds)
    }
    val flags = staged("flags") {
      ids
        .join(histDup, Seq("doc_id"), "left")
        .join(comp.select(col("doc_id"), col("cluster"), col("is_rep")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("hist_dup_of").isNotNull || col("is_rep") === false).as("is_dup"),
          coalesce(col("hist_dup_of"),
            when(col("is_rep") === false, col("cluster"))).as("dup_of"))
        .localCheckpoint(true) // returned to the caller — must not pin the cache manager
    }
    onFlags(flags) // before any append — see the param doc
    val keepIds = flags.filter(!col("is_dup")).select("doc_id")
    val ksh = bsh.join(keepIds, "doc_id")
    staged("appends") {
      appendFrom(bBands.join(keepIds, "doc_id"),
        Dedup.indexFromShingles(ksh, spec.maxDf).localCheckpoint(true), // 2 writes read it
        name, buckets)
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

  /** Cross-corpus near-dup pairs of a new batch against the store:
    * (hist_id, new_id, jaccard ≥ threshold). Only the batch is hashed
    * and shuffled — candidates come from an equi-join on `band_key`
    * into the store's bucketing, re-verified with exact Jaccard against
    * the store's inverted index (both store joins are on the tables'
    * bucket keys, so the history side never shuffles; `DedupSpec` pins
    * that plan property). Build parameters come from the store's meta
    * table, never the caller.
    */
  def incrementalPairs(spark: SparkSession, batch: DataFrame, name: String,
      threshold: Double = 0.5): DataFrame = {
    val spec = specOf(spark.table(metaTable(name)).head())
    // one text scan: signatures and index are both aggregates over the
    // checkpointed shingle pass. Eager localCheckpoint, not persist — a
    // persist would stay registered in the cache manager until someone
    // unpersists, a leak in a daily loop; the checkpointed RDDs are
    // freed by the context cleaner when the plan goes out of scope.
    val bsh = Dedup.shingles(batch, spec.k).localCheckpoint(true)
    pairsAgainstStore(spark, name, Dedup.bandsFromShingles(bsh, spec.bands, spec.rows),
      Dedup.indexFromShingles(bsh, spec.maxDf).localCheckpoint(true), threshold)
  }

  /** The store-join core of [[incrementalPairs]] over precomputed batch
    * signatures and index. `batchIndex` feeds two branches (common +
    * sizes) — callers pin it.
    */
  private def pairsAgainstStore(spark: SparkSession, name: String,
      batchBands: DataFrame, batchIndex: DataFrame,
      threshold: Double): DataFrame = {
    val h = spark.table(bandsTable(name))
      .select(col("band_key"), col("doc_id").as("hist_id"))
    val b = batchBands
      .select(concat_ws(":", col("band"), col("band_hash")).as("band_key"),
        col("doc_id").as("new_id"))
    val cand = h.join(b, "band_key").select("hist_id", "new_id").distinct()
    val batchSizes = batchIndex.groupBy(col("doc_id").as("new_id"))
      .agg(count(lit(1)).as("n_b"))
    val histShingles = spark.table(shinglesTable(name))
      .select(col("doc_id").as("hist_id"), col("shingle").as("sh_h"))
    val common = cand
      .join(histShingles, "hist_id")
      .join(batchIndex.select(col("doc_id").as("new_id2"), col("shingle").as("sh_b")),
        col("new_id") === col("new_id2") && col("sh_h") === col("sh_b"))
      .groupBy("hist_id", "new_id")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(spark.table(sizesTable(name))
        .select(col("doc_id").as("hist_id"), col("n_sh").as("n_a")), "hist_id")
      .join(batchSizes, "new_id")
      .withColumn("jaccard", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("hist_id", "new_id", "jaccard")
  }
}
