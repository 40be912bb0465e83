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
  * Lifecycle and the commit protocol are [[BandedStore]]'s; the periodic
  * [[build]] rebuild in the maintenance window also re-applies the df
  * cap corpus-wide.
  */
object SignatureStore extends BandedStore {

  /** @param rows minhash rows per band ([[Dedup.minhashBands]]) — the
    *   band-selectivity knob [[retune]] raises when the band audit
    *   shows hot buckets. Pinned in the meta table like every other
    *   build parameter so batch-side banding can never diverge from
    *   the stored history's (stores built before the knob existed read
    *   back as the then-hardcoded 2).
    */
  final case class Spec(k: Int = 3, bands: Int = 8, maxDf: Int = 100,
      rows: Int = 2)

  /** Read the pinned build parameters back from the meta row (a null
    * `rows` = a meta written before the knob = 2).
    */
  private def specOf(meta: org.apache.spark.sql.Row): Spec =
    Spec(meta.getAs[Int]("k"), meta.getAs[Int]("bands"), meta.getAs[Int]("max_df"),
      if (meta.isNullAt(meta.fieldIndex("rows"))) 2 else meta.getAs[Int]("rows"))

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
      occupiedBuckets: Long, maxBucket: Long) extends BandedStore.Audit {
    def json: String =
      s"""{"n_batch":$nBatch,"bands":$bands,""" +
        s""""occupied_buckets":$occupiedBuckets,"max_bucket":$maxBucket}"""
  }

  def bandsTable(name: String): String = s"${name}_bands"
  def shinglesTable(name: String): String = s"${name}_shingles"
  def sizesTable(name: String): String = s"${name}_sizes"

  def kind: String = "signature"
  def idCol: String = "doc_id"
  def auditFile: String = "_band_audit.json"
  protected def initCall: String = "build/corpusInit"
  protected def metaSuffix: String = "_meta"
  protected def metaSchema: String =
    "`k` INT, `bands` INT, `max_df` INT, `buckets` INT, `rows` INT"
  protected def layout: Seq[(String, String, String)] = Seq(
    ("_bands", "band_key", "`doc_id` BIGINT, `band` INT, `band_hash` STRING, `band_key` STRING"),
    ("_shingles", "doc_id", "`shingle` STRING, `doc_id` BIGINT"),
    ("_sizes", "doc_id", "`doc_id` BIGINT, `n_sh` BIGINT"))

  /** Hash, band, and index the historical corpus into the store's
    * bucketed tables. One pass over `history` for signatures and one for
    * the inverted index; the index is pinned so its sizes aggregate does
    * not re-shingle the corpus.
    */
  def build(spark: SparkSession, history: DataFrame, name: String,
      spec: Spec = Spec(), buckets: Int = 16): Unit = {
    import spark.implicits._
    require(spec.rows >= 1 && spec.bands >= 1, s"invalid banding geometry $spec")
    // one publish replaces every table's commits, as the version after the
    // one found here: a racing ingest or rebuild makes one of them fail
    val from = guard(name).version(spark)
    declare(spark, name, Some(buckets))
    mutate(spark, name, from) { c =>
      allTables(name).foreach(c.replace)
      BandedStore.writeBucketed(
        Dedup.minhashBands(history, spec.k, spec.bands, spec.rows)
          .withColumn("band_key", BandedStore.bandKey),
        bandsTable(name), "band_key", buckets, c.id)
      val index = Dedup.shingleIndex(history, spec.k, spec.maxDf)
        .repartition(buckets, col("doc_id")).persist()
      try {
        BandedStore.saveBucketed(index, shinglesTable(name), c.id)
        BandedStore.writeBucketed(index.groupBy("doc_id").agg(count(lit(1)).as("n_sh")),
          sizesTable(name), "doc_id", buckets, c.id)
      } finally index.unpersist()
      writeMeta(spark, name, Seq((spec.k, spec.bands, spec.maxDf, buckets, spec.rows))
        .toDF("k", "bands", "max_df", "buckets", "rows"), c.id)
    }
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
    *
    * The retune IS the remediation the AUDIT ALERT names, whichever path
    * invoked it (manual --corpus-retune or the sweep's opt-in arm), so
    * the build's publish resets the breach streak with the new geometry:
    * otherwise the next single breach would alert claiming "N
    * consecutive" and an opted-in sweep would rebuild again.
    */
  def retune(spark: SparkSession, history: DataFrame, name: String,
      spec: Spec, buckets: Int = 16): Unit =
    build(spark, history, name, spec, buckets)

  /** One full cycle of the daily cadence ([[BandedStore]] has the dup
    * resolution order and the hook contract): flag the batch's
    * duplicates, APPEND the survivors' bands, shingles and sizes to the
    * store (so the next batch dedupes against them — history grows),
    * and return one row per batch doc: (doc_id, is_dup, dup_of).
    *
    * Scale shape: the batch's text is scanned and exploded ONCE
    * ([[Dedup.shingles]], eager checkpoint); history-pass bands/index,
    * survivor-pass bands/index (df cap re-applied within the
    * survivors), and the appended signatures are all aggregates over
    * that one pass. `histDup` and `flags` are also eagerly
    * checkpointed: each feeds 2–3 downstream consumers, and an unpinned
    * histDup re-executes the whole store-join subtree per consumer
    * (measured 2× on the bench before pinning).
    *
    * @param onStage dev-hook: called with (stage-label, seconds) after
    *   each materialization point, so profilers (the perfbench
    *   `--trace 1` run's `dedup.stage.*` metrics) time THIS code path
    *   rather than a drift-prone reimplementation.
    * @param onAudit the batch's [[IngestAudit]] band-bucket histogram.
    */
  def ingest(spark: SparkSession, batch: DataFrame, name: String,
      threshold: Double = 0.5,
      onStage: (String, Double) => Unit = (_, _) => (),
      onFlags: DataFrame => Unit = _ => (),
      onCommitted: () => Unit = () => (),
      onAudit: IngestAudit => Unit = _ => (),
      batchTag: Option[(String, Long)] = None): DataFrame = {
    def staged[A](label: String)(f: => A): A = BandedStore.staged(onStage, label)(f)
    // the version the store joins below read; a publish on top of it by
    // another writer in the meantime makes this ingest's publish fail
    val from = guard(name).registered(spark)
    val meta = spark.table(metaTable(name)).head()
    val spec = specOf(meta)
    val buckets = meta.getAs[Int]("buckets")
    // ids come from the batch itself, not the shingle pass — docs with
    // fewer than k tokens have no shingles but still need a flag row
    val ids = batch.select(col("doc_id").cast("long").as("doc_id"))
    val bsh = staged("shingle pass")(Dedup.shingles(batch, spec.k).localCheckpoint(true))
    // index and bands are INDEPENDENT aggregates over the pinned shingle
    // pass — overlap their materializations (guide §2.6; same pattern
    // and thread-inheritance rationale as [[Overlap]]). The r20 stage
    // split had them at 0.53 s + 0.43 s sequential.
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
        val batchCnt = bBands.select(BandedStore.bandKey.as("band_key"))
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
    commitIngest(spark, name, from, buckets, ids, histDup, comp,
        onStage, onFlags, onCommitted, batchTag) { keepIds =>
      // the keepers' index feeds two appends — pinned once
      val index = Dedup.indexFromShingles(bsh.join(keepIds, "doc_id"), spec.maxDf)
        .localCheckpoint(true)
      Seq(
        (bBands.join(keepIds, "doc_id").withColumn("band_key", BandedStore.bandKey),
          bandsTable(name), "band_key"),
        (index, shinglesTable(name), "doc_id"),
        (index.groupBy("doc_id").agg(count(lit(1)).as("n_sh")), sizesTable(name), "doc_id"))
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
      .select(BandedStore.bandKey.as("band_key"),
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
