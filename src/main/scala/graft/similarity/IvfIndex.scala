package graft.similarity

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.StableAgg._
import graft.dedup.BandedStore
import graft.sinks.VersionedTable
import graft.sinks.VersionedTable.Entry

/** Persisted IVF (inverted-file) index for embedding search — the
  * build-once / probe-many form of the s02 in-memory IVF plan.
  *
  * At 100 TB the corpus cannot be re-quantized per query: the index is
  * materialized once as
  *
  * {{{
  * root/
  *   manifest-v00000001.txt               newest complete manifest wins
  *   commits/c-<uuid>/                    a build's commit:
  *     vectors/cell=<c>/part-*.parquet    corpus PARTITIONED by cell,
  *                                        norms precomputed
  *     centroids/part-*.parquet           one mean vector + norm per cell
  *   commits/c-<uuid>/vectors/cell=<c>/   an append's commit
  * }}}
  *
  * The newest manifest alone decides what the index contains: its
  * `sinks/VersionedTable` lines name one `centroids` dir and the
  * `vectors` dirs (base, then each append). Every publish goes to the
  * version its inputs were read from + 1, so a racing writer fails with
  * "concurrent commit" instead of being lost; a commit no manifest
  * names is never read, and the `VersionedTable.vacuum` after each
  * build or retrain deletes it and every version before the previous.
  *
  * A query then (1) broadcasts the tiny centroid table, (2) ranks
  * cells per query vector, (3) reads ONLY the probed cells' partitions —
  * the `cell isin (...)` filter prunes at the parquet partition level, so
  * a 2-probe query over an nlist-cell index touches ~2/nlist of the data
  * no matter how large the corpus grows. Scoring reuses the exact
  * decimal-accumulated dot/norm kernels ([[Similarity.dot]]), so results
  * are bit-identical to the in-memory s02 plan (`IvfIndexSpec` pins
  * equality) and order-independent across partitionings.
  *
  * The cell assignment either comes from the caller (a pre-existing
  * corpus attribute like `label`) or — the production path at scale —
  * from [[train]], the in-engine sampled-Lloyd's coarse quantizer:
  * deterministic hash-seeded init, a fixed number of Lloyd iterations
  * over a hash-sampled subset, exact decimal dot/mean arithmetic
  * throughout, then one full-corpus assignment pass. Every step is
  * deterministic for any partitioning (no RNG, no accumulation-order
  * dependence), so a rebuild reproduces the identical index and the
  * DuckDB oracle replays the trained cells bit-for-bit (s03).
  */
object IvfIndex {

  /** Versions a build or retrain keeps: its own and the previous one. */
  private val RetainVersions = 2

  /** A published version's manifest entries, with its centroid dir
    * and its vector dirs: the base first, then each append in order.
    */
  private[graft] final case class Live(root: String, version: Int, entries: Seq[Entry]) {
    private def dirs(rel: String) =
      entries.filter(_.relPath == rel).map(e => s"$root/${e.commit}/$rel")
    def centroids: String = dirs("centroids").head
    def vectors: Seq[String] = dirs("vectors")
  }

  /** The newest published version of the index at `root`. */
  private[graft] def live(spark: SparkSession, root: String): Live = {
    val v = VersionedTable.version(spark, root)
    require(v > 0, s"no published index at $root (an index built before the " +
      "manifest layout must be rebuilt with --ivf-build)")
    val p = new Path(root)
    Live(root, v, VersionedTable.readManifest(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, v))
  }

  /** Build (or rebuild) the index: cell-partitioned corpus with
    * precomputed norms + per-cell mean centroids (decimal-exact means,
    * so the build is deterministic for any partitioning), written as
    * one commit whose `vectors` and `centroids` are the whole published
    * manifest. Readers of the previous version are undisturbed and a
    * crash before the publish leaves it current. Returns the published
    * version.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
      root: String): Int =
    build(corpus, idCol, vecCol, cellCol, root, VersionedTable.version(corpus.sparkSession, root))

  /** [[build]] as version `base + 1`, `base` being the version read. */
  private def build(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
      root: String, base: Int): Int = {
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).as("vec_id"), col(cellCol).as("cell"), col(vecCol).as("emb"))
      .withColumn("ns", Similarity.normSq(col("emb")))
    val ex = v.select(col("cell"), posexplode(col("emb")).as(Seq("pos", "val0")))
      .withColumn("val", col("val0").cast("double"))
    val cent = ex.groupBy(col("cell"), col("pos"))
      .agg((dsum(col("val"), 12) / count(col("val"))).as("cval"))
    val centArr = cent.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        s => s.getField("cval")).as("cent"))
      .withColumn("cns", Similarity.normSq(col("cent")))
    val published = VersionedTable.commit(spark, new Path(root), base, Nil) { dir =>
      // repartition on the layout key before the partitioned write: writing
      // straight from a W-way shuffle emits one file per (task, cell) — up
      // to W×nlist near-empty files per build (measured 256/version at
      // sf0.1) — while hash-clustering by cell bounds it at one file per
      // cell (very large cells split further via
      // spark.sql.files.maxRecordsPerFile when an operator sets it)
      v.repartition(col("cell")).write.partitionBy("cell").parquet(s"$dir/vectors")
      // nlist rows — control-plane size, one file
      centArr.coalesce(1).write.parquet(s"$dir/centroids")
      Seq("vectors", "centroids")
    }
    VersionedTable.vacuum(spark, root, RetainVersions)
    published
  }

  /** `df` collected to the driver and re-planned from a literal: for
    * the control-plane-small centroid tables (nlist × dims rows).
    */
  private def pinned(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Incremental append — the O(batch)/day growth path that makes the
    * index a store, not a snapshot: batch vectors are assigned to the
    * PUBLISHED (frozen) centroids — classic IVF ingest; centroids drift
    * only at the next rebuild/compaction — and land in a fresh commit's
    * `vectors/`, cell-partitioned the same way. It publishes the lines
    * of the version it read plus that dir, as that version + 1: readers
    * never see a partial append, a crash leaves the index as it was, and
    * pre-existing files are never touched.
    *
    * Probe cost after appends is unchanged — [[topK]] prunes the same
    * probed-cell partitions in every vector dir — and the accumulated
    * dirs fold into one at the next [[retrain]].
    *
    * Returns the published version, or 0 when the batch is empty
    * (nothing is published — a file-less vector dir would break the
    * probe's schema inference).
    */
  def append(batch: DataFrame, idCol: String, vecCol: String, root: String): Int = {
    val spark = batch.sparkSession
    val l = live(spark, root)
    // the centroids of the version read, on the driver (nlist × dims)
    // before the write. A vacuum after later publishes may delete that
    // version before or during this read: that is a lost race, reported
    // as the publish would report it, not as a missing file
    val cent =
      try pinned(spark.read.parquet(l.centroids))
      catch {
        case e: Exception if live(spark, root).version != l.version =>
          throw new RuntimeException(
            s"concurrent commit: a later publish pruned version ${l.version} of index $root", e)
      }
    val centEx = cent.select(col("cell"), posexplode(col("cent")).as(Seq("pos", "cval")))
    val ex = batch.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("pos", "val0")))
      .withColumn("val", col("val0").cast("double")).drop("val0")
    val v = batch.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
      .join(assign(ex, centEx), "vec_id")
      .withColumn("ns", Similarity.normSq(col("emb")))
      .select("vec_id", "cell", "emb", "ns")
    if (v.isEmpty) return 0
    VersionedTable.commit(spark, new Path(root), l.version, l.entries) { dir =>
      // cluster by cell before the partitioned write (the build rule):
      // one file per touched cell, not one per (task, cell)
      v.repartition(col("cell")).write.partitionBy("cell").parquet(s"$dir/vectors")
      Seq("vectors")
    }
  }

  /** Deterministic sampled-Lloyd's coarse quantizer — the in-engine
    * k-means that replaces a caller-provided cell column. Returns the
    * full corpus assignment `(vec_id, cell)` with `cell` in
    * `[0, nlist)`.
    *
    * Design for 100 TB: training never touches the full corpus — Lloyd
    * iterations run over a deterministic md5-mod sample (`sampleMod` = keep
    * every vector whose hashed id ≡ 0 mod m), centroids stay
    * control-plane-small (nlist × dims, always broadcast), and the full
    * corpus is read exactly once, for the final assignment pass.
    *
    * Determinism (why not classic k-means||): every choice that is
    * random in textbook k-means is an md5 order here — the sample is an
    * id-hash filter and the `nlist` seeds are the sample ids ranked by a
    * salted md5 (a deterministic stand-in for k-means||'s oversampled
    * random init; with hashed ids the seeds are uniform over the sample,
    * which is the property the init needs). Means are decimal-exact
    * ([[graft.functions.StableAgg.dsum]]), so no result depends on
    * partitioning or accumulation order: a rebuild bit-reproduces the
    * index, and the s03 oracle replays training, assignment and probe in
    * SQL.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
      iters: Int = 2, sampleMod: Int = 1): DataFrame = {
    require(nlist >= 1, "nlist must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    val spark = corpus.sparkSession
    // centroids are control-plane-small (nlist × dims rows) — pin each
    // round's table to the driver and restart the lineage from a literal.
    // Left lazy, every assign references the centroid subtree twice (norms
    // + dots) and each Lloyd round references the previous round's, so the
    // training DAG re-executes exponentially in `iters` (measured 13 s vs
    // 4 s at sf0.1 for iters=2). Values are exact decimals/doubles, so
    // materializing changes nothing but the plan.
    val ex = corpus.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("pos", "val0")))
      .withColumn("val", col("val0").cast("double")).drop("val0")
    val smp =
      if (sampleMod == 1) ex
      else ex.filter(
        conv(substring(md5(concat(lit("ivf"), col("vec_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % sampleMod === 0)
    smp.persist() // scanned twice per Lloyd round (assign + re-mean)
    try {
      // nlist seeds by salted-md5 rank: the <= nlist survivors of the
      // limit are collected in rank order and numbered on the driver
      val top = smp.select("vec_id").distinct()
        .withColumn("__h", md5(concat(lit("seed"), col("vec_id").cast("string"))))
        .orderBy(col("__h"), col("vec_id")).limit(nlist).select("vec_id")
      val seeds = spark.createDataFrame(
        top.collect().toSeq.zipWithIndex.map { case (r, i) => Row(r.get(0), i) }.asJava,
        StructType(Seq(top.schema("vec_id"), StructField("cell", IntegerType, nullable = false))))
      var cent = pinned(smp.join(broadcast(seeds), "vec_id")
        .select(col("cell"), col("pos"), col("val").as("cval")))
      for (_ <- 1 to iters) {
        val asg = assign(smp, cent)
        cent = pinned(smp.join(asg, "vec_id")
          .groupBy("cell", "pos")
          .agg((dsum(col("val"), 12) / count(col("val"))).as("cval")))
      }
      // the returned plan depends only on the full corpus and the final
      // pinned centroids — never on the (unpersisted-below) sample
      assign(ex, cent)
    } finally smp.unpersist()
  }

  /** Nearest-centroid assignment by squared L2: argmin over cells of
    * ‖c‖² − 2·v·c (the ‖v‖² term is constant per vector, so it can't
    * change the argmin). Decimal-exact dot products, tie broken on cell
    * id — deterministic for any partitioning and replayable in SQL.
    */
  private def assign(ex: DataFrame, cent: DataFrame): DataFrame = {
    val cns = cent.groupBy("cell").agg(dsum(col("cval") * col("cval"), 12).as("cns"))
    val dots = ex.join(broadcast(cent), "pos")
      .groupBy("vec_id", "cell")
      .agg(dsum(col("val") * col("cval"), 12).as("dot"))
    val w = Window.partitionBy("vec_id")
      .orderBy((col("cns") - lit(2) * col("dot")).asc, col("cell"))
    dots.join(broadcast(cns), "cell")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("vec_id", "cell")
  }

  /** [[train]] + [[build]]: quantize the corpus in-engine, then build
    * the persisted index over the trained cells.
    *
    * @param onStage dev-hook (the SignatureStore.ingest pattern):
    *   called with (phase, seconds) after each of the three cost
    *   phases — "train" (sampled Lloyd iterations), "assign" (the
    *   full-corpus cell assignment, materialized into the cache), and
    *   "publish" (vectors+centroids writes and the manifest publish) —
    *   so the monthly-sweep budget can be split without a drift-prone
    *   reimplementation (the s07x scale rows print it).
    */
  def buildTrained(corpus: DataFrame, idCol: String, vecCol: String, root: String,
      nlist: Int, iters: Int = 2, sampleMod: Int = 1,
      onStage: (String, Double) => Unit = (_, _) => ()): Int =
    buildTrained(corpus, idCol, vecCol, root, nlist, iters, sampleMod, onStage,
      VersionedTable.version(corpus.sparkSession, root))

  private def buildTrained(corpus: DataFrame, idCol: String, vecCol: String, root: String,
      nlist: Int, iters: Int, sampleMod: Int, onStage: (String, Double) => Unit,
      base: Int): Int = {
    val cells = BandedStore.staged(onStage, "train")(
      train(corpus, idCol, vecCol, nlist, iters, sampleMod).withColumnRenamed("vec_id", idCol))
    // build runs two actions (vectors write + centroids write) — cache
    // the assignment so the final full-corpus pass runs once, not twice.
    // The count runs that pass as its own measured phase (train's Lloyd
    // rounds already ran in its pinned collects; its result is lazy).
    cells.persist()
    try {
      BandedStore.staged(onStage, "assign")(cells.count())
      BandedStore.staged(onStage, "publish")(
        build(corpus.join(cells, idCol), idCol, vecCol, "cell", root, base))
    } finally cells.unpersist()
  }

  /** Maintenance RETRAIN — the missing third phase of the index
    * lifecycle (build → append/day → retrain/month). Frozen-centroid
    * appends are classic IVF ingest, but they accumulate two debts the
    * probe path slowly pays: centroid DRIFT (appended vectors belong to
    * cells whose means no longer describe them — probe recall decays as
    * the corpus distribution moves) and delta PROLIFERATION (every
    * append adds one more pruned scan per probe). `retrain` settles
    * both: it re-runs the coarse quantizer over every vector dir of the
    * newest version N (the index IS the corpus copy, so no source
    * rescan) and publishes [[build]]'s one-commit manifest as N + 1. An
    * append published since N fails that publish rather than being
    * dropped, and N stays readable with all its appends. Returns the
    * published version. The result is bit-identical to `buildTrained`
    * over the same union corpus (training is deterministic and the
    * stored vectors are byte-exact), which is exactly what the s07
    * oracle replays in SQL.
    */
  def retrain(spark: SparkSession, root: String, nlist: Int = 0, iters: Int = 2,
      sampleMod: Int = 1,
      onStage: (String, Double) => Unit = (_, _) => ()): Int = {
    val l = live(spark, root)
    // nlist = 0 (the maintenance default): keep the index's own cell
    // count — read from the published centroid table, so the scheduled
    // sweep needs no per-index training config
    val n = if (nlist > 0) nlist
      else spark.read.parquet(l.centroids).count().toInt
    val corpus = l.vectors.map(d => spark.read.parquet(d).select("vec_id", "emb"))
      .reduce(_ unionByName _)
    buildTrained(corpus, "vec_id", "emb", root, n, iters, sampleMod, onStage, l.version)
  }

  /** Top-k by cosine for each query vector, probing the `probes` nearest
    * cells. The probed-cell list is control-plane-small (≤ queries ×
    * probes values), so collecting it to build the partition-pruning
    * filter is not a driver bottleneck.
    */
  def topK(spark: SparkSession, root: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, probes: Int = 2): DataFrame = {
    val l = live(spark, root)
    val cent = spark.read.parquet(l.centroids)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_emb"))
      .withColumn("q_ns", Similarity.normSq(col("q_emb")))
    // probe selection: queries × centroids is (small × small)
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("c_cos", Similarity.cosine(
        Similarity.dot(col("q_emb"), col("cent")), col("q_ns"), col("cns")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= probes)
      .select(col("q_id"), col("q_emb"), col("q_ns"), col("cell"))
    val cells = probed.select("cell").distinct().collect().map(_.get(0))
    // the isin filter prunes whole cell partitions at the file index —
    // IvfIndexSpec pins PartitionFilters on this scan. Each vector dir
    // the manifest names (base + appends) is its own pruned scan; the
    // union is scan-only, no shuffle.
    val corpus = l.vectors
      .map(d => spark.read.parquet(d).filter(col("cell").isin(cells.toIndexedSeq: _*)))
      .reduce(_ unionByName _)
    val scored = broadcast(probed).join(corpus, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", Similarity.cosine(
        Similarity.dot(col("q_emb"), col("emb")), col("q_ns"), col("ns")))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cosine"), col("rank"))
  }
}
