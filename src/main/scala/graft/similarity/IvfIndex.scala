package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.StableAgg._

/** Persisted IVF (inverted-file) index for embedding search — the
  * build-once / probe-many form of the s02 in-memory IVF plan.
  *
  * At 100 TB the corpus cannot be re-quantized per query: the index is
  * materialized once as
  *
  * {{{
  * root/
  *   v00001/                            one immutable dir per build,
  *     vectors/cell=<c>/part-*.parquet  corpus PARTITIONED by cell,
  *                                      norms precomputed
  *     centroids/part-*.parquet         one mean vector + norm per cell
  *   v00002/                            rebuild = fresh dir + one rename
  * }}}
  *
  * and a query then (1) broadcasts the tiny centroid table, (2) ranks
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

  private val VersionRe = raw"v(\d{5})".r

  private def newestVersion(spark: SparkSession, root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).flatMap(_.getPath.getName match {
      case VersionRe(v) => Some(v.toInt)
      case _ => None
    }).foldLeft(0)(math.max)
  }

  private def versionDir(root: String, v: Int) = f"$root/v$v%05d"
  private def vectorsPath(root: String, v: Int) = s"${versionDir(root, v)}/vectors"
  private def centroidsPath(root: String, v: Int) = s"${versionDir(root, v)}/centroids"

  /** Build (or rebuild) the index: cell-partitioned corpus with
    * precomputed norms + per-cell mean centroids (decimal-exact means,
    * so the build is deterministic for any partitioning). Each build
    * writes a fresh `v<N>` directory and publishes it with one rename —
    * readers of the previous version are undisturbed (and never see a
    * stale file listing for an overwritten path), a crash before the
    * rename leaves the old index intact, and versions older than the
    * previous one are pruned. Returns the published version.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
      root: String, retainVersions: Int = 2): Int = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val spark = corpus.sparkSession
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = newestVersion(spark, root) + 1
    val tmp = new org.apache.hadoop.fs.Path(rootP,
      s"tmp-${java.util.UUID.randomUUID()}")
    val v = corpus.select(col(idCol).as("vec_id"), col(cellCol).as("cell"),
      col(vecCol).as("emb"))
      .withColumn("ns", Similarity.normSq(col("emb")))
    // repartition on the layout key before the partitioned write: writing
    // straight from a W-way shuffle emits one file per (task, cell) — up
    // to W×nlist near-empty files per build (measured 256/version at
    // sf0.1) — while hash-clustering by cell bounds it at one file per
    // cell (very large cells split further via
    // spark.sql.files.maxRecordsPerFile when an operator sets it)
    v.repartition(col("cell")).write.partitionBy("cell").parquet(s"$tmp/vectors")
    val ex = v.select(col("cell"), posexplode(col("emb")).as(Seq("pos", "val0")))
      .withColumn("val", col("val0").cast("double"))
    val cent = ex.groupBy(col("cell"), col("pos"))
      .agg((dsum(col("val"), 12) / count(col("val"))).as("cval"))
    val centArr = cent.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        s => s.getField("cval")).as("cent"))
      .withColumn("cns", Similarity.normSq(col("cent")))
    // nlist rows — control-plane size, one file
    centArr.coalesce(1).write.parquet(s"$tmp/centroids")
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(versionDir(root, next)))) {
      fs.delete(tmp, true) // lost the publish race — don't leak the build
      sys.error(s"concurrent index build: version $next already published at $root")
    }
    // keep `retainVersions` newest builds for pinned/in-flight readers
    // (consistent with VersionedTable.vacuum's retention contract)
    (1 to next - retainVersions).foreach(old =>
      fs.delete(new org.apache.hadoop.fs.Path(versionDir(root, old)), true))
    next
  }

  /** Incremental append — the O(batch)/day growth path that makes the
    * index a store, not a snapshot: batch vectors are assigned to the
    * PUBLISHED (frozen) centroids — classic IVF ingest; centroids drift
    * only at the next rebuild/compaction — and land in a `delta-<n>`
    * dir beside `vectors/`, cell-partitioned the same way. The delta is
    * staged to a tmp dir and published by ONE rename (the `build`
    * contract), so readers never see a partial append and a crash
    * leaves the index exactly as it was. Pre-existing files are never
    * touched: dropping the delta dir restores the prior state
    * bit-for-bit (the SignatureStore rollback property).
    *
    * Probe cost after appends is unchanged — [[topK]] prunes the same
    * probed-cell partitions in every vector dir — and the accumulated
    * deltas fold into one `vectors/` at the next [[build]].
    *
    * Returns the published delta number, or 0 when the batch is empty
    * (nothing is published — a file-less delta dir would break the
    * probe's schema inference).
    */
  def append(batch: DataFrame, idCol: String, vecCol: String, root: String): Int = {
    val spark = batch.sparkSession
    val ver = newestVersion(spark, root)
    require(ver > 0, s"no published index at $root to append to")
    val vd = new org.apache.hadoop.fs.Path(versionDir(root, ver))
    val fs = vd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val centEx = spark.read.parquet(centroidsPath(root, ver))
      .select(col("cell"), posexplode(col("cent")).as(Seq("pos", "cval")))
    val ex = batch.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("pos", "val0")))
      .withColumn("val", col("val0").cast("double")).drop("val0")
    val v = batch.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
      .join(assign(ex, centEx), "vec_id")
      .withColumn("ns", Similarity.normSq(col("emb")))
      .select("vec_id", "cell", "emb", "ns")
    // an empty batch must not publish a file-less delta dir — the next
    // probe's multi-dir read would fail schema inference on it
    if (v.isEmpty) return 0
    // RESERVE the delta number before staging any data: an atomic
    // create-if-absent marker (`_delta-N.reserved`, ignored by parquet
    // reads and by vectorDirs' exact-name match) makes each writer's
    // destination unique, so the rename below publishes onto a
    // never-existing path. Without the reservation, two racing writers
    // compute the same `next` and the loser's rename MOVES ITS STAGED
    // DIR INSIDE the winner's delta (POSIX/HDFS rename onto an existing
    // directory returns true) — and any after-the-fact layout check is
    // itself racy: the winner can observe the loser's nested dir (or a
    // cleanup can delete the loser's data after the loser validated),
    // so detection cannot distinguish winner from loser reliably.
    // Reservation removes the race instead of detecting it.
    val DeltaRe = raw"delta-(\d{5})".r
    // a writer that DIED between reservation and publish can't clean up
    // after itself (the try/finally below covers every in-process
    // failure, not process death) — without a GC each such death skips a
    // number and leaks one marker forever. A marker is provably orphaned
    // when its number has no published delta dir AND it is older than
    // the grace period (a LIVE writer's staging never outlives the
    // grace; [[ReservedGraceMs]] is >> any append). fs.delete on a marker
    // a racy peer also saw is idempotent — worst case both delete it, and
    // the reservation loop below re-races cleanly on createNewFile.
    val nowMs = System.currentTimeMillis()
    fs.listStatus(vd).foreach { st =>
      st.getPath.getName match {
        case ResRe(n) =>
          // a marker whose delta-N is PUBLISHED is provably redundant —
          // the dir itself occupies the number for every future `next`
          // computation — so it is collected immediately (a writer that
          // died between its rename and its finally-delete would
          // otherwise leak one marker per death forever; deletion is
          // idempotent against the publisher's own finally-delete). An
          // unpublished marker is orphaned only once it outlives the
          // grace period (a LIVE writer's staging never does).
          val published = fs.exists(new org.apache.hadoop.fs.Path(vd, s"delta-$n"))
          if (published || nowMs - st.getModificationTime > ReservedGraceMs)
            fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    var next = fs.listStatus(vd).flatMap(_.getPath.getName match {
      case DeltaRe(n) => Some(n.toInt)
      case ResRe(n) => Some(n.toInt)
      case _ => None
    }).foldLeft(0)(math.max) + 1
    while (!fs.createNewFile(new org.apache.hadoop.fs.Path(vd, f"_delta-$next%05d.reserved")))
      next += 1 // another writer holds this number — take the next one
    // from here the marker is OURS: every exit path below (publish,
    // refused rename, layout anomaly) must release it — once the delta
    // dir exists it occupies the number for every future `next`
    // computation, and on failure the number is simply free again
    try {
      val tmp = new org.apache.hadoop.fs.Path(vd, s"tmp-${java.util.UUID.randomUUID()}")
      // cluster by cell before the partitioned write (the build rule):
      // one file per touched cell, not one per (task, cell)
      v.repartition(col("cell")).write.partitionBy("cell").parquet(tmp.toString)
      val dst = new org.apache.hadoop.fs.Path(vd, f"delta-$next%05d")
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, true)
        sys.error(s"failed to publish delta $next at $vd (rename refused)")
      }
      // belt-and-suspenders: with the number reserved, dst cannot have
      // pre-existed, so the published dir must hold exactly the
      // partitioned-write layout — anything else is an FS anomaly worth
      // failing loudly over rather than serving corrupt partitions
      val children = fs.listStatus(dst).map(_.getPath.getName)
      require(children.forall(n => n.startsWith("cell=") || n.startsWith("_")),
        s"delta $next at $vd has non-partition children after publish: " +
          children.filterNot(n => n.startsWith("cell=") || n.startsWith("_")).mkString(","))
    } finally fs.delete(new org.apache.hadoop.fs.Path(vd, f"_delta-$next%05d.reserved"), false)
    next
  }

  private val ResRe = raw"_delta-(\d{5})\.reserved".r

  /** Age past which an unpublished delta reservation is a dead writer's
    * orphan: 6 h, far longer than any append stages.
    */
  private val ReservedGraceMs = 6L * 3600 * 1000

  /** All vector dirs of a version — the base `vectors/` plus any
    * published `delta-<n>` appends, in publish order.
    */
  private def vectorDirs(spark: SparkSession, root: String, ver: Int): Seq[String] = {
    val vd = new org.apache.hadoop.fs.Path(versionDir(root, ver))
    val fs = vd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val DeltaRe = raw"delta-(\d{5})".r
    fs.listStatus(vd).map(_.getPath).collect {
      case p if p.getName == "vectors" => (0, p.toString)
      case p if DeltaRe.findFirstIn(p.getName).contains(p.getName) =>
        (p.getName.drop(6).toInt, p.toString)
    }.sortBy(_._1).map(_._2).toSeq
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
    def pinned(df: DataFrame): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }
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
      // nlist seeds by salted-md5 rank: limit first, then number the tiny
      // survivor set (the window sorts nlist rows, not the corpus)
      val seedW = Window.orderBy(col("__h"), col("vec_id"))
      val seeds = smp.select("vec_id").distinct()
        .withColumn("__h", md5(concat(lit("seed"), col("vec_id").cast("string"))))
        .orderBy(col("__h"), col("vec_id")).limit(nlist)
        .withColumn("cell", (row_number().over(seedW) - 1).cast("int"))
        .select("vec_id", "cell")
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
    *   "publish" (vectors+centroids writes and the version rename) —
    *   so the monthly-sweep budget can be split without a drift-prone
    *   reimplementation (the s07x scale rows print it).
    */
  def buildTrained(corpus: DataFrame, idCol: String, vecCol: String, root: String,
      nlist: Int, iters: Int = 2, sampleMod: Int = 1,
      retainVersions: Int = 2,
      onStage: (String, Double) => Unit = (_, _) => ()): Int = {
    def staged[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      onStage(label, (System.nanoTime() - t0) / 1e9)
      r
    }
    val cells = staged("train")(train(corpus, idCol, vecCol, nlist, iters, sampleMod)
      .withColumnRenamed("vec_id", idCol))
    // build runs two actions (vectors write + centroids write) — cache
    // the assignment so the final full-corpus pass runs once, not twice.
    // The count materializes it as its own measured phase (train's
    // returned plan is lazy: the Lloyd iterations already ran inside
    // train() via its pinned collects, but the full-corpus assignment
    // only runs here).
    cells.persist()
    try {
      staged("assign")(cells.count())
      staged("publish")(
        build(corpus.join(cells, idCol), idCol, vecCol, "cell", root, retainVersions))
    } finally cells.unpersist()
  }

  /** Maintenance RETRAIN — the missing third phase of the index
    * lifecycle (build → append/day → retrain/month). Frozen-centroid
    * appends are classic IVF ingest, but they accumulate two debts the
    * probe path slowly pays: centroid DRIFT (appended vectors belong to
    * cells whose means no longer describe them — probe recall decays as
    * the corpus distribution moves) and delta PROLIFERATION (every
    * append adds one more pruned scan per probe). `retrain` settles
    * both: it reads the newest version's full contents — base
    * `vectors/` plus every published delta; the index IS the corpus
    * copy, so no source rescan — re-runs the coarse quantizer over
    * them, and publishes a fresh `v<N+1>` with one `vectors/` dir and
    * means that describe the CURRENT corpus. Publish is [[build]]'s
    * one-rename contract: readers of v<N> are undisturbed, a crash
    * leaves v<N> intact and current, and `retainVersions` keeps it for
    * pinned readers. The result is bit-identical to `buildTrained`
    * over the same union corpus (training is deterministic and the
    * stored vectors are byte-exact), which is exactly what the s07
    * oracle replays in SQL.
    */
  def retrain(spark: SparkSession, root: String, nlist: Int = 0, iters: Int = 2,
      sampleMod: Int = 1, retainVersions: Int = 2,
      onStage: (String, Double) => Unit = (_, _) => ()): Int = {
    val ver = newestVersion(spark, root)
    require(ver > 0, s"no published index at $root to retrain")
    // nlist = 0 (the maintenance default): keep the index's own cell
    // count — read from the published centroid table, so the scheduled
    // sweep needs no per-index training config
    val n = if (nlist > 0) nlist
      else spark.read.parquet(centroidsPath(root, ver)).count().toInt
    val corpus = vectorDirs(spark, root, ver)
      .map(d => spark.read.parquet(d).select("vec_id", "emb"))
      .reduce(_ unionByName _)
    buildTrained(corpus, "vec_id", "emb", root, n, iters, sampleMod,
      retainVersions, onStage)
  }

  /** Top-k by cosine for each query vector, probing the `probes` nearest
    * cells. The probed-cell list is control-plane-small (≤ queries ×
    * probes values), so collecting it to build the partition-pruning
    * filter is not a driver bottleneck.
    */
  def topK(spark: SparkSession, root: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, probes: Int = 2): DataFrame = {
    val ver = newestVersion(spark, root)
    require(ver > 0, s"no published index at $root")
    val cent = spark.read.parquet(centroidsPath(root, ver))
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
    // (base + appended deltas) is its own pruned scan; the union is
    // scan-only, no shuffle.
    val corpus = vectorDirs(spark, root, ver)
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
