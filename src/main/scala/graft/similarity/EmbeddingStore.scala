package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{BandedStore, Dedup, Overlap}

/** Persisted sign-bit LSH store for INCREMENTAL embedding near-dup —
  * the embedding twin of [[graft.dedup.SignatureStore]], and the only
  * affordable cadence once the embedded corpus outgrows per-batch
  * re-banding: the history is banded ONCE into bucketed tables, each
  * daily batch dedupes against it by shuffling INTO the store's
  * bucketing (the history side is read pre-partitioned and never moves
  * again), and survivors append O(batch)/day.
  *
  * Two bucketed managed tables per store (plus a one-row spec table so
  * probes can never drift from the build parameters):
  *  - `<name>_ebands` (vec_id, band, band_hash, band_key) bucketed by
  *    `band_key` — the LSH candidate join key;
  *  - `<name>_evecs`  (vec_id, emb array<double>, ns) bucketed by
  *    `vec_id` — the exact decimal-cosine re-verify side (vectors kept
  *    full-precision: LSH proposes, the exact cosine disposes, same
  *    recall/precision split as [[Similarity.lshCosinePairs]]).
  *
  * The md5 hyperplane weights are a pure function of (plane, pos)
  * ([[Similarity.signBitBands]]), so history bands and any later
  * batch's bands agree BY CONSTRUCTION — cross-corpus collisions are
  * exactly what full-corpus LSH would produce, with no stored
  * projection state beyond the spec row.
  *
  * Lifecycle and the commit protocol are [[graft.dedup.BandedStore]]'s, as
  * for the signature store.
  */
object EmbeddingStore extends BandedStore {

  private def specOf(meta: org.apache.spark.sql.Row): Spec =
    Spec(meta.getAs[Int]("planes"), meta.getAs[Int]("band_bits"))

  /** Unique suffix for ingest's observed-metric names — observations
    * are matched per query execution; a reused name across concurrent
    * queries could cross-wire.
    */
  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Band geometry. The default (0, 0) means DERIVE from the history
    * size at build time via [[Similarity.lshSpecFor]] — the adaptive
    * key space that keeps the candidate join's collision term linear in
    * corpus size (a fixed 4×8-bit space measured 49× shuffle growth for
    * 10× data in SCALECHECK r12). The RESOLVED values are pinned in
    * `_emeta`, and every later ingest/probe reads them back from there,
    * so a store never changes geometry mid-life: history bands and any
    * later batch's bands agree by construction.
    */
  final case class Spec(planes: Int = 0, bandBits: Int = 0) {
    require((planes == 0) == (bandBits == 0),
      "pass both planes and bandBits, or neither (derive from history size)")
    def resolve(n: Long): Spec =
      if (planes > 0) this
      else { val (p, r) = Similarity.lshSpecFor(n); Spec(p, r) }
  }

  /** Per-ingest LSH bucket accounting — the production form of
    * [[Similarity.lshBucketAudit]]'s contract that cap drops are a
    * recall loss and MUST NOT be silent. Occupancies are over the
    * band_keys the batch touches, counting batch AND stored members
    * (the combined corpus a full-corpus LSH would hash into those
    * buckets); `cappedBuckets`/`cappedRows` are what the ingest's
    * candidate generation actually skipped. Delivered through ingest's
    * `onAudit` hook; since r20 the aggregates ride the occupancy
    * checkpoint's job as observed metrics WITH an explicit recompute
    * fallback ([[Overlap.observedRow]]) — observe alone is
    * best-effort under AQE empty-relation propagation (SURVEY note 23),
    * so the fallback job keeps the counts lossless while the happy path
    * stops paying a separate agg().head() job. The orchestrated
    * cadences file them in the run report/notification.
    */
  final case class IngestAudit(nBatch: Long, planes: Int, bandBits: Int,
      occupiedBuckets: Long, cappedBuckets: Long, cappedRows: Long,
      maxBucket: Long, bucketCap: Long = 0L) extends BandedStore.Audit {
    def json: String =
      s"""{"n_batch":$nBatch,"planes":$planes,"band_bits":$bandBits,""" +
        s""""occupied_buckets":$occupiedBuckets,"capped_buckets":$cappedBuckets,""" +
        s""""capped_rows":$cappedRows,"max_bucket":$maxBucket,""" +
        s""""bucket_cap":$bucketCap}"""
  }

  def bandsTable(name: String): String = s"${name}_ebands"
  def vecsTable(name: String): String = s"${name}_evecs"

  def kind: String = "embedding"
  def idCol: String = "vec_id"
  def auditFile: String = "_lsh_audit.json"
  protected def initCall: String = "build/corpusInitEmbeddings"
  protected def metaSuffix: String = "_emeta"
  protected def metaSchema: String =
    "`planes` INT, `band_bits` INT, `buckets` INT, `dims` INT, `kernel` INT"
  protected def layout: Seq[(String, String, String)] = Seq(
    ("_ebands", "band_key", "`vec_id` BIGINT, `band` INT, `band_hash` INT, `band_key` STRING"),
    ("_evecs", "vec_id", "`vec_id` BIGINT, `emb` ARRAY<DOUBLE>, `ns` DOUBLE"))

  /** LSH kernel version the store's bands were hashed with. Stores
    * created before the column existed default to 1 (the exact-decimal
    * projection kernel) — their `_emeta` parquet lacks the field, so a
    * catalog-declared `kernel` column reads back null.
    */
  private def kernelOf(meta: org.apache.spark.sql.Row): Int = {
    val i = meta.schema.fieldNames.indexOf("kernel")
    if (i >= 0 && !meta.isNullAt(i)) meta.getInt(i) else 1
  }

  /** Bands hashed by an older kernel would miss a current batch's twins
    * SILENTLY (the join keys just stop colliding) — refuse loudly and
    * point at the rewrite that heals it.
    */
  private def requireCurrentKernel(name: String, meta: org.apache.spark.sql.Row): Unit = {
    val k = kernelOf(meta)
    require(k == Similarity.LshKernelVersion,
      s"embedding store '$name' was banded with LSH kernel v$k; this engine " +
        s"hashes with v${Similarity.LshKernelVersion}, so batch bands would " +
        "silently miss stored near-dups — run reband " +
        "(Runner --maintain-store-emb) to rewrite the bands first")
  }

  /** The one spec row every probe reads back — geometry, bucketing,
    * width, and the banding-kernel version all pinned together.
    */
  private def metaRow(spark: SparkSession, spec: Spec, buckets: Int, dims: Int): DataFrame = {
    import spark.implicits._
    Seq((spec.planes, spec.bandBits, buckets, dims, Similarity.LshKernelVersion))
      .toDF("planes", "band_bits", "buckets", "dims", "kernel")
  }

  /** Maintenance RE-BANDING: re-derive the band geometry from the
    * store's CURRENT size and rewrite the bands table from the stored
    * full-precision vectors. This is the one cost the build-time pin
    * cannot bound: the spec is frozen when the history is banded, so a
    * store that grows far past its build size sees its cross-store
    * candidate term grow ≈ history/2^r per batch — re-banding widens
    * the key space back to the adaptive envelope. No corpus rescan:
    * `_evecs` holds full-precision vectors, so this is one narrow
    * kernel pass + one bucketed write (which also lands the bands
    * table at the file floor). Returns true when a rewrite happened;
    * no-op (false) when the derived geometry equals the pinned one.
    *
    * The new bands and the re-pinned meta row are one publish, so no
    * reader ever sees bands and meta on different geometries; a
    * rebander that dies before it leaves the store as it was.
    * Pre-reband snapshots then refuse to roll back, as after a `build`.
    *
    * A geometry change is the remediation the AUDIT ALERT names for this
    * store, so the publish that re-pins the meta also resets the breach
    * streak: old breach evidence describes bands that no longer exist. A
    * no-op reband leaves the alert armed, because a new geometry cannot
    * fix it and the remaining remedy (raise bucketCap) is the caller's.
    */
  def reband(spark: SparkSession, name: String): Boolean = {
    val from = guard(name).registered(spark) // what the reads below see
    val meta = spark.table(metaTable(name)).head()
    val spec = specOf(meta)
    val buckets = meta.getAs[Int]("buckets")
    val n = spark.table(vecsTable(name)).count()
    val spec2 = Spec().resolve(n)
    // outgrown geometry OR a banding-arithmetic upgrade: both mean the
    // stored bands no longer match what this engine would hash, and
    // both are cured by the same vectors-to-bands rewrite
    val outdated = spec2 != spec || kernelOf(meta) != Similarity.LshKernelVersion
    if (outdated) {
      mutate(spark, name, from) { c =>
        // an EMPTY store has no bands to rewrite: re-pin the meta only
        if (n > 0) {
          c.replace(bandsTable(name))
          BandedStore.writeBucketed(
            bandsOf(spark.table(vecsTable(name)).select("vec_id", "emb"), spec2),
            bandsTable(name), "band_key", buckets, c.id)
        }
        c.replace(metaTable(name))
        writeMeta(spark, name, metaRow(spark, spec2, buckets, meta.getAs[Int]("dims")), c.id)
      }
    }
    outdated
  }

  /** Re-band ([[reband]]) first — it widens the key space when the
    * store outgrew its build-time geometry and lands the bands table at
    * the file floor — then compact sweeps what remains (the vectors).
    */
  override def maintain(spark: SparkSession, name: String): Option[String] = {
    val rebanded = reband(spark, name)
    compact(spark, name)
    if (rebanded) Some("re-banded to the adaptive geometry for its current size") else None
  }

  /** Canonical (vec_id, emb array<double>) projection of a corpus. */
  private def baseOf(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("emb"))

  /** Band + band_key signatures of a canonical base. The width is
    * implicit in each row's array (the kernel derives weights per
    * (planes, dims)); callers still probe dims for the store's own
    * width checks.
    */
  private def bandsOf(base: DataFrame, spec: Spec): DataFrame =
    Similarity.signBitBands(base, spec.planes, spec.bandBits)
      .withColumn("band_key", BandedStore.bandKey)

  /** Band-bucket candidates of `bBands` against the store, re-verified
    * with the exact decimal cosine against the stored full-precision
    * vectors: (new_id, other_id, cosine ≥ threshold). Both store joins
    * read their tables on the bucket key — only the batch side
    * shuffles.
    */
  private def crossVerified(spark: SparkSession, name: String,
      v: DataFrame, bBands: DataFrame, threshold: Double): DataFrame = {
    val cand = bBands.select(col("band_key"), col("vec_id").as("new_id"))
      .join(spark.table(bandsTable(name))
        .select(col("band_key"), col("vec_id").as("other_id")), "band_key")
      .select("new_id", "other_id").distinct()
    verified(cand, v, spark.table(vecsTable(name)), threshold)
  }

  /** Exact decimal cosine of candidate (new_id, other_id) pairs, `new_id`
    * looked up in the batch's normed vectors `v` and `other_id` in
    * `others` (vec_id, emb, ns): the cheap approximate dot prunes first,
    * within 1e-6 of the threshold.
    */
  private def verified(cand: DataFrame, v: DataFrame, others: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(v.select(col("vec_id").as("new_id"), col("emb").as("ea"),
        col("ns").as("na")), "new_id")
      .join(others
        .select(col("vec_id").as("other_id"), col("emb").as("eb"), col("ns").as("nb")),
        "other_id")
      .withColumn("cos_approx",
        Similarity.cosine(Similarity.dotApprox(col("ea"), col("eb")),
          col("na"), col("nb")))
      .filter(col("cos_approx") >= threshold - 1e-6)
      .withColumn("cosine",
        Similarity.cosine(Similarity.dot(col("ea"), col("eb")),
          col("na"), col("nb")))
      .filter(col("cosine") >= threshold)

  /** Read-only cross-store near-dup pairs of a batch against the store:
    * (hist_id, new_id, cosine) — the embedding analog of
    * [[graft.dedup.SignatureStore.incrementalPairs]]. Nothing is
    * appended; only the batch is banded and shuffled.
    */
  def incrementalPairs(spark: SparkSession, batch: DataFrame, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9): DataFrame = {
    val meta = spark.table(metaTable(name)).head()
    requireCurrentKernel(name, meta)
    val spec = specOf(meta)
    val base = baseOf(batch, idCol, vecCol)
    val v = base.withColumn("ns", Similarity.normSq(col("emb")))
    crossVerified(spark, name, v, bandsOf(base, spec), threshold)
      .select(col("other_id").as("hist_id"), col("new_id"), col("cosine"))
  }

  /** Band, hash, and store the historical corpus. One banding pass plus
    * one norm pass; every bucketed write repartitions onto its bucket
    * key first so a build emits `buckets` files per table, not
    * W×buckets (the small-files rule of SURVEY note 21).
    */
  def build(spark: SparkSession, history: DataFrame, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      spec: Spec = Spec(), buckets: Int = 16): Unit = {
    val from = guard(name).version(spark)
    declare(spark, name, Some(buckets))
    val base = baseOf(history, idCol, vecCol).localCheckpoint(true)
    // one control-plane probe: history size (drives the adaptive band
    // geometry) and width
    val probeRow = base.agg(count(lit(1)), max(size(col("emb")))).head()
    val dims =
      if (probeRow.isNullAt(1)) -1 // empty history: first ingest sets dims
      else probeRow.getInt(1)
    val spec0 = spec.resolve(probeRow.getLong(0))
    mutate(spark, name, from) { c =>
      allTables(name).foreach(c.replace)
      // an empty history writes no data commit: the declared tables
      // read empty and the first ingest appends
      if (dims > 0) {
        BandedStore.writeBucketed(bandsOf(base, spec0), bandsTable(name), "band_key",
          buckets, c.id)
        BandedStore.writeBucketed(base.withColumn("ns", Similarity.normSq(col("emb"))),
          vecsTable(name), "vec_id", buckets, c.id)
      }
      writeMeta(spark, name, metaRow(spark, spec0, buckets, dims), c.id)
    }
  }

  /** Dedup `batch` against the store and within itself; append the
    * survivors' bands and vectors so the store grows O(batch). Returns
    * one flag row per batch vector: (vec_id, is_dup, dup_of), with the
    * dup resolution order and the hook contract of [[BandedStore]].
    *
    * Scale shape: the batch bands aggregate ONCE (checkpointed) and
    * every consumer — store join, within-batch LSH, survivor append —
    * filters that table; the exact re-verify touches only banded
    * candidates.
    *
    * `bucketCap`/`onAudit`: a band bucket whose combined batch+store
    * occupancy exceeds `bucketCap` is SKIPPED by candidate generation —
    * the same degenerate-bucket protection as
    * [[Similarity.lshCosinePairs]] (one bucket of m near-identical
    * vectors is m²/2 candidate pairs; at corpus scale a single hot
    * bucket would dominate the whole ingest). Skipping is a recall
    * loss, so every drop is counted and delivered to `onAudit` as an
    * [[IngestAudit]] before any append — the accounting
    * `Similarity.lshBucketAudit` promises, guaranteed here by its own
    * action. Survivors still append their FULL band signatures: the cap
    * prunes this batch's candidate pairs, never the stored state.
    */
  def ingest(spark: SparkSession, batch: DataFrame, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9,
      onFlags: DataFrame => Unit = _ => (),
      onCommitted: () => Unit = () => (),
      bucketCap: Int = 1000,
      onAudit: IngestAudit => Unit = _ => (),
      batchTag: Option[(String, Long)] = None): DataFrame = {
    val from = guard(name).registered(spark) // what the store joins read
    val meta = spark.table(metaTable(name)).head()
    requireCurrentKernel(name, meta)
    val spec = specOf(meta)
    val buckets = meta.getAs[Int]("buckets")
    // the dims probe and the batch count ride base's checkpoint as
    // observed metrics (r20) instead of paying their own agg jobs —
    // Overlap.observedRow recomputes explicitly if the metric ever
    // fails to post
    val baseObs = org.apache.spark.sql.Observation(s"graft_es_base_${obsId.incrementAndGet()}")
    val base = baseOf(batch, idCol, vecCol)
      .observe(baseObs, max(size(col("emb"))).as("dims"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    val ids = base.select("vec_id")
    val dimsRow = Overlap.observedRow(baseObs,
      base.agg(max(size(col("emb"))), count(lit(1))).head())
    // an empty batch mutates nothing: no commit, no publish
    if (dimsRow.isNullAt(0))
      return ids.select(col("vec_id"), lit(false).as("is_dup"),
        lit(null).cast("long").as("dup_of")).limit(0)
    locally {
      val dims = dimsRow.getInt(0)
      // an empty-history build pins dims = -1; the effective store dims
      // are then whatever the ACCUMULATED vectors have (one-row probe of
      // the bucketed table). Deliberately NOT persisted back into meta:
      // an ingest only appends
      val storedDims = meta.getAs[Int]("dims") match {
        case d if d > 0 => d
        case _ =>
          spark.table(vecsTable(name)).select(size(col("emb"))).head(1) match {
            case Array(r) => r.getInt(0)
            case _ => -1 // store still empty: this batch defines the dims
          }
      }
      require(storedDims <= 0 || storedDims == dims,
        s"batch dims $dims != store dims $storedDims for '$name'")
      // normed vectors and band signatures are INDEPENDENT projections
      // of the pinned base — overlap their materializations (guide
      // §2.6, same pattern as SignatureStore.ingest).
      val (v, bBands) = Overlap.overlapped2(
        base.withColumn("ns", Similarity.normSq(col("emb"))).localCheckpoint(true),
        bandsOf(base, spec).localCheckpoint(true))

      // bucket occupancy over the band_keys this batch touches, counting
      // batch AND stored members — buckets the batch does not touch can
      // produce neither candidates nor drops, so the store side is a
      // semi-join INTO its bucketing (only the small key set shuffles),
      // never a full-store aggregate. The audit aggregates ride the
      // occupancy checkpoint's own job as observed metrics — the
      // separate agg().head() job they used to pay is gone.
      val occObs = org.apache.spark.sql.Observation(s"graft_es_occ_${obsId.incrementAndGet()}")
      def occAudit = Seq(count(lit(1)).as("n_keys"),
        sum(when(col("occ") > bucketCap, 1L).otherwise(0L)).as("n_hot"),
        sum(when(col("occ") > bucketCap, col("occ")).otherwise(0L)).as("occ_hot"),
        max(col("occ")).as("max_occ"))
      val batchCnt = bBands.groupBy("band_key").agg(count(lit(1)).as("n_batch"))
      val occ = batchCnt
        .join(spark.table(bandsTable(name))
            .join(batchCnt.select("band_key"), "band_key")
            .groupBy("band_key").agg(count(lit(1)).as("n_store")),
          Seq("band_key"), "left")
        .select(col("band_key"),
          (col("n_batch") + coalesce(col("n_store"), lit(0L))).as("occ"))
        .observe(occObs, occAudit.head, occAudit.tail: _*)
        .localCheckpoint(true) // audit metrics + hot-key filter both ride it
      val auditRow = Overlap.observedRow(occObs,
        occ.agg(occAudit.head, occAudit.tail: _*).head())
      onAudit(IngestAudit(dimsRow.getLong(1), spec.planes, spec.bandBits,
        auditRow.getLong(0),
        if (auditRow.isNullAt(1)) 0L else auditRow.getLong(1),
        if (auditRow.isNullAt(2)) 0L else auditRow.getLong(2),
        if (auditRow.isNullAt(3)) 0L else auditRow.getLong(3),
        bucketCap.toLong))
      // candidate generation skips hot buckets (accounted above); the
      // hot-key set is tiny (only over-cap keys) and broadcast. It
      // stays LAZY (r20): occ is already checkpointed, so each
      // consumer's anti-join re-derives the filter from block storage
      // — a trivial scan — instead of the set paying its own
      // checkpoint job.
      val hotKeys = occ.filter(col("occ") > bucketCap).select("band_key")
      val bBandsOk = bBands.join(hotKeys, Seq("band_key"), "left_anti")

      // 1. against the store: candidates from a band_key equi-join INTO
      // the store's bucketing (only the batch side shuffles)
      val histDup = crossVerified(spark, name, v, bBandsOk, threshold)
        .groupBy(col("new_id").as("vec_id"))
        .agg(min(col("other_id")).as("hist_dup_of"))
        .localCheckpoint(true)

      // 2. within the batch, among history-survivors only
      val survIds = ids.join(histDup, Seq("vec_id"), "left_anti")
      val sBands = bBandsOk.join(survIds, "vec_id")
      val selfCand = sBands.select(col("band_key"), col("vec_id").as("new_id"))
        .join(sBands.select(col("band_key"), col("vec_id").as("other_id")), "band_key")
        .filter(col("new_id") < col("other_id"))
        .select("new_id", "other_id").distinct()
      val selfPairs = verified(selfCand, v, v, threshold)
        .select(col("new_id").as("doc_a"), col("other_id").as("doc_b"))
      val comp = Dedup.clusters(selfPairs, survIds.select(col("vec_id").as("doc_id")))

      commitIngest(spark, name, from, buckets, ids, histDup, comp,
          (_, _) => (), onFlags, onCommitted, batchTag) { keepIds =>
        Seq(
          (bBands.join(keepIds, "vec_id").select("vec_id", "band", "band_hash", "band_key"),
            bandsTable(name), "band_key"),
          (v.join(keepIds, "vec_id").select("vec_id", "emb", "ns"), vecsTable(name), "vec_id"))
      }
    }
  }
}
