package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.StableAgg._
import graft.similarity.Similarity
import graft.functions.{Oracle => O}

/** Similarity-search query family (SURVEY.md §2.H): brute-force cosine
  * top-k (exact baseline — broadcast queries, one corpus pass) and IVF
  * (label-partitioned coarse quantizer, 2-probe) as the scale path.
  */
object SimilarityQueries {

  /** Brute-force cosine top-5 for 8 query vectors. */
  val s01 = QueryDef(
    "s01_cosine_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteTopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id", vecCol = "embedding", k = 5)
    },
    Some("""
      WITH ex0 AS (
        SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS pos
        FROM embeddings),
      ex AS (
        SELECT vec_id, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val, pos
        FROM ex0),
      vn AS (
        SELECT vec_id, CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) AS ns
        FROM ex GROUP BY 1),
      dots AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          CAST(SUM(CAST(q.val * c.val AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM ex q JOIN ex c ON q.pos = c.pos AND q.vec_id < 8 AND c.vec_id != q.vec_id
        GROUP BY 1, 2),
      scored AS (
        SELECT q_id, n_id, dot / (sqrt(qn.ns) * sqrt(cn.ns)) AS cosine
        FROM dots JOIN vn qn ON qn.vec_id = q_id JOIN vn cn ON cn.vec_id = n_id)
      SELECT q_id, n_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
        FROM scored)
      WHERE rn <= 5
    """.stripMargin.trim))

  /** IVF top-5: centroids = per-label mean vectors (the coarse
    * quantizer), each query probes its 2 nearest centroids and searches
    * only those labels' vectors. At 100 TB: centroids/probes broadcast,
    * corpus stays partitioned by label, each query touches
    * probes/nlist of the data.
    */
  val s02 = QueryDef(
    "s02_ivf_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ex = emb.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "val0")))
        .withColumn("val", col("val0").cast("double")).drop("val0")
      val cent = ex.groupBy(col("label"), col("pos"))
        .agg((dsum(col("val"), 12) / count(col("val"))).as("cval"))
      val centn = cent.groupBy("label").agg(dsum(col("cval") * col("cval"), 12).as("cns"))
      val vn = ex.groupBy("vec_id").agg(dsum(col("val") * col("val"), 12).as("vns"))
      val qex = ex.filter(col("vec_id") < 8)
      val qc = qex.drop("label")
        .join(broadcast(cent.withColumnRenamed("label", "c_label")), Seq("pos"))
        .groupBy(col("vec_id").as("q_id"), col("c_label").as("label"))
        .agg(dsum(col("val") * col("cval"), 12).as("dot"))
      val wProbe = Window.partitionBy(col("q_id"))
        .orderBy((col("dot") / (sqrt(col("vns")) * sqrt(col("cns")))).desc, col("label"))
      val probes = qc
        .join(vn.withColumnRenamed("vec_id", "q_id"), "q_id")
        .join(broadcast(centn), "label")
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= 2)
        .select("q_id", "label")
      val cand = broadcast(probes)
        .join(emb.select(col("vec_id").as("n_id"), col("label")), "label")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id")
      val qe = ex.select(col("vec_id").as("q_id"), col("pos"), col("val").as("qval"))
      val ne = ex.select(col("vec_id").as("n_id"), col("pos"), col("val").as("nval"))
      val dots = cand.join(qe, "q_id").join(ne, Seq("n_id", "pos"))
        .groupBy("q_id", "n_id")
        .agg(dsum(col("qval") * col("nval"), 12).as("dot"))
      val scored = dots
        .join(vn.select(col("vec_id").as("q_id"), col("vns").as("q_ns")), "q_id")
        .join(vn.select(col("vec_id").as("n_id"), col("vns").as("n_ns")), "n_id")
        .withColumn("cosine", col("dot") / (sqrt(col("q_ns")) * sqrt(col("n_ns"))))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
      scored.withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 5)
        .select("q_id", "n_id", "cosine", "rank")
    },
    Some(s"""
      WITH ex0 AS (
        SELECT vec_id, label, embedding, unnest(range(1, len(embedding)+1)) AS pos
        FROM embeddings),
      ex AS (
        SELECT vec_id, label, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val, pos
        FROM ex0),
      cent AS (
        SELECT label, pos, ${O.dsum("val", 12)} / COUNT(val) AS cval
        FROM ex GROUP BY 1, 2),
      centn AS (
        SELECT label, ${O.dsum("cval * cval", 12)} AS cns
        FROM cent GROUP BY 1),
      vn AS (
        SELECT vec_id, ${O.dsum("val * val", 12)} AS vns
        FROM ex GROUP BY 1),
      qc AS (
        SELECT q.vec_id AS q_id, c.label, ${O.dsum("q.val * c.cval", 12)} AS dot
        FROM ex q JOIN cent c ON q.pos = c.pos
        WHERE q.vec_id < 8
        GROUP BY 1, 2),
      probes AS (
        SELECT q_id, label FROM (
          SELECT q_id, label,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY dot / (sqrt(vns) * sqrt(cns)) DESC, label) AS rn
          FROM qc
          JOIN vn ON vn.vec_id = q_id
          JOIN centn USING (label))
        WHERE rn <= 2),
      cand AS (
        SELECT p.q_id, e.vec_id AS n_id
        FROM probes p JOIN embeddings e ON e.label = p.label AND e.vec_id != p.q_id),
      dots AS (
        SELECT c.q_id, c.n_id, ${O.dsum("qe.val * ne.val", 12)} AS dot
        FROM cand c
        JOIN ex qe ON qe.vec_id = c.q_id
        JOIN ex ne ON ne.vec_id = c.n_id AND ne.pos = qe.pos
        GROUP BY 1, 2),
      scored AS (
        SELECT q_id, n_id, dot / (sqrt(a.vns) * sqrt(b.vns)) AS cosine
        FROM dots JOIN vn a ON a.vec_id = q_id JOIN vn b ON b.vec_id = n_id)
      SELECT q_id, n_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
        FROM scored)
      WHERE rn <= 5
    """.stripMargin.trim))

  /** One Lloyd iteration in SQL: centroid norms -> per-(vector, cell)
    * dots -> argmin((cns - 2 dot), cell) -> decimal-exact new means.
    */
  private def ivfLloydIter(k: Int): String = s"""
      n${k - 1} AS (
        SELECT cell, ${O.dsum("cval * cval", 12)} AS cns FROM c${k - 1} GROUP BY 1),
      d$k AS (
        SELECT e.vec_id, c.cell, ${O.dsum("e.val * c.cval", 12)} AS dot
        FROM smp e JOIN c${k - 1} c ON c.pos = e.pos GROUP BY 1, 2),
      a$k AS (
        SELECT vec_id, cell FROM (
          SELECT d.vec_id, d.cell,
            ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY n.cns - 2 * d.dot, d.cell) AS rn
          FROM d$k d JOIN n${k - 1} n USING (cell)) WHERE rn = 1),
      c$k AS (
        SELECT a.cell, e.pos, ${O.dsum("e.val", 12)} / COUNT(e.val) AS cval
        FROM smp e JOIN a$k a ON a.vec_id = e.vec_id GROUP BY 1, 2),"""

  /** The FULL train -> assign -> probe replay over `corpusFrom` (a table
    * name or aliased subquery yielding (vec_id, embedding)) — ONE
    * template shared by s03 (trained over `embeddings`) and s07
    * (retrained over base ∪ appended batch), so a retrained index is
    * verified BY CONSTRUCTION against training-over-its-own-contents:
    * hash equality means `retrain` reproduced exactly what
    * `buildTrained` over the union corpus would, centroid drift
    * corrected and deltas folded.
    */
  private def ivfTrainProbeSql(corpusFrom: String, nlist: Int, iters: Int,
      sampleMod: Int, k: Int, probes: Int): String = s"""
        WITH ex0 AS (
          SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS pos
          FROM $corpusFrom),
        ex AS (
          SELECT vec_id, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val, pos
          FROM ex0),
        smp AS (
          SELECT * FROM ex
          WHERE ('0x' || substr(md5('ivf' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % $sampleMod = 0),
        seeds AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id,
              ROW_NUMBER() OVER (ORDER BY md5('seed' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
            FROM (SELECT DISTINCT vec_id FROM smp)) WHERE cell < $nlist),
        c0 AS (
          SELECT s.cell, e.pos, e.val AS cval
          FROM smp e JOIN seeds s ON s.vec_id = e.vec_id),
        ${(1 to iters).map(ivfLloydIter).mkString("\n")}
        nf AS (
          SELECT cell, ${O.dsum("cval * cval", 12)} AS cns FROM c$iters GROUP BY 1),
        df AS (
          SELECT e.vec_id, c.cell, ${O.dsum("e.val * c.cval", 12)} AS dot
          FROM ex e JOIN c$iters c ON c.pos = e.pos GROUP BY 1, 2),
        af AS (
          SELECT vec_id, cell FROM (
            SELECT d.vec_id, d.cell,
              ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY n.cns - 2 * d.dot, d.cell) AS rn
            FROM df d JOIN nf n USING (cell)) WHERE rn = 1),
        cent AS (
          SELECT a.cell, e.pos, ${O.dsum("e.val", 12)} / COUNT(e.val) AS cval
          FROM ex e JOIN af a ON a.vec_id = e.vec_id GROUP BY 1, 2),
        centn AS (
          SELECT cell, ${O.dsum("cval * cval", 12)} AS cns FROM cent GROUP BY 1),
        vn AS (
          SELECT vec_id, ${O.dsum("val * val", 12)} AS vns FROM ex GROUP BY 1),
        qc AS (
          SELECT q.vec_id AS q_id, c.cell, ${O.dsum("q.val * c.cval", 12)} AS dot
          FROM ex q JOIN cent c ON q.pos = c.pos
          WHERE q.vec_id < 8
          GROUP BY 1, 2),
        probes AS (
          SELECT q_id, cell FROM (
            SELECT q_id, cell,
              ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY dot / (sqrt(vns) * sqrt(cns)) DESC, cell) AS rn
            FROM qc
            JOIN vn ON vn.vec_id = q_id
            JOIN centn USING (cell))
          WHERE rn <= $probes),
        cand AS (
          SELECT p.q_id, a.vec_id AS n_id
          FROM probes p JOIN af a ON a.cell = p.cell AND a.vec_id != p.q_id),
        dots AS (
          SELECT c.q_id, c.n_id, ${O.dsum("qe.val * ne.val", 12)} AS dot
          FROM cand c
          JOIN ex qe ON qe.vec_id = c.q_id
          JOIN ex ne ON ne.vec_id = c.n_id AND ne.pos = qe.pos
          GROUP BY 1, 2),
        scored AS (
          SELECT q_id, n_id, dot / (sqrt(a.vns) * sqrt(b.vns)) AS cosine
          FROM dots JOIN vn a ON a.vec_id = q_id JOIN vn b ON b.vec_id = n_id)
        SELECT q_id, n_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
          FROM scored)
        WHERE rn <= $k
      """.stripMargin.trim

  /** The persisted IVF index (build-once / probe-many,
    * [[graft.similarity.IvfIndex]]) over IN-ENGINE TRAINED cells: the
    * sampled-Lloyd's coarse quantizer (`IvfIndex.train` — md5-mod
    * sample, salted-md5 seed ranking, 2 Lloyd iterations, decimal-exact
    * means) assigns every vector a cell, the index is built into a
    * scratch root, and the same top-5 is answered through the on-disk
    * layout — cell-partitioned vectors, broadcast centroids,
    * probed-cell partition pruning.
    *
    * The oracle replays the ENTIRE path in SQL — sample filter, seed
    * ranking, both unrolled Lloyd iterations, the full-corpus
    * assignment, the recomputed full-member centroids, probe ranking
    * and scoring — with the same decimal(28,12) kernels, so the trained
    * quantizer itself (not just the probe mechanics) is hash-verified
    * bit-for-bit.
    *
    * Bench-cost note: train+build runs once per JVM (first touch or the
    * bench's untimed `prepare`; ~1 s/Lloyd iteration + ~2 s full
    * assignment + ~2 s build writes at sf0.1) and every timed run pays
    * the probe alone — production is build-once/probe-many, and training
    * cost is bounded by `sampleMod`, not corpus size. The oracle still
    * verifies the ENTIRE path each round because the deterministic
    * trainer produces the identical index the probe reads.
    */
  val s03: QueryDef = {
    val nlist = 8; val iters = 2; val sampleMod = 2
    // Build-once/probe-many: the trained index is constructed once per
    // JVM per data dir (fresh delete + rebuild on first touch, so a
    // prior process's index can never go stale) and every later call —
    // including a bench's 2nd/3rd runs, warmed via `prepare` — pays only
    // the 2-probe pruned top-k, which is the amortized production cost.
    def ensureIndex(s: SparkSession, dir: String): String = {
      import graft.similarity.IvfIndex
      // keyed by the dir's slug (matching the root's name) so a path
      // alias like a trailing slash can't rebuild into the same root
      val root = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
        s"graft_s03_ivf_index_${OncePerJvm.slug(dir)}")
      OncePerJvm("graft_s03_ivf_index", OncePerJvm.slug(dir)) {
        root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
        IvfIndex.buildTrained(Tables.embeddings(s, dir), "vec_id", "embedding",
          root.toString, nlist = nlist, iters = iters, sampleMod = sampleMod)
      }
      root.toString
    }
    QueryDef(
      "s03_ivf_index_topk",
      (s, dir) => {
        import graft.similarity.IvfIndex
        val root = ensureIndex(s, dir)
        IvfIndex.topK(s, root,
          Tables.embeddings(s, dir).filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, probes = 2)
      },
      Some(ivfTrainProbeSql("embeddings", nlist, iters, sampleMod,
        k = 5, probes = 2)),
      prepare = Some((s, dir) => { ensureIndex(s, dir); () }))
  }

  /** SQ8 scalar-quantized top-5: corpus compressed to int8 codes
    * against per-dim [min,max] ranges, queries score full-precision
    * against dequantized midpoints (asymmetric distance). The oracle
    * replays quantization, reconstruction, and cosines exactly — the
    * published values ARE the quantized-search answers, not an
    * approximation of the brute ones (recall vs brute is pinned in
    * `Sq8Spec` instead).
    */
  val s04 = QueryDef(
    "s04_sq8_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.sq8TopK(
        queries = emb.filter(col("vec_id") < 8),
        corpus = emb,
        idCol = "vec_id", vecCol = "embedding", k = 5)
    },
    Some("""
      WITH ex0 AS (
        SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS pos
        FROM embeddings),
      ex AS (
        SELECT vec_id, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val, pos
        FROM ex0),
      mm AS (SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM ex GROUP BY 1),
      rex AS (
        SELECT vec_id, pos,
          mn + ((CASE WHEN mx > mn
                 THEN LEAST(255, GREATEST(0, CAST(floor((val - mn) * 255.0 / (mx - mn)) AS BIGINT)))
                 ELSE 0 END) + 0.5) * (mx - mn) / 255.0 AS rval
        FROM ex JOIN mm USING (pos)),
      rn AS (
        SELECT vec_id, CAST(SUM(CAST(rval * rval AS DECIMAL(38,12))) AS DOUBLE) AS ns
        FROM rex GROUP BY 1),
      qn AS (
        SELECT vec_id, CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) AS ns
        FROM ex WHERE vec_id < 8 GROUP BY 1),
      dots AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          CAST(SUM(CAST(q.val * c.rval AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM ex q JOIN rex c ON q.pos = c.pos AND q.vec_id < 8 AND c.vec_id != q.vec_id
        GROUP BY 1, 2),
      scored AS (
        SELECT q_id, n_id, dot / (sqrt(a.ns) * sqrt(b.ns)) AS cosine_sq8
        FROM dots JOIN qn a ON a.vec_id = q_id JOIN rn b ON b.vec_id = n_id)
      SELECT q_id, n_id, cosine_sq8, CAST(rnk AS INTEGER) AS rank
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine_sq8 DESC, n_id) AS rnk
        FROM scored)
      WHERE rnk <= 5
    """.stripMargin.trim))

  /** Incremental ANN: the s03 trained index built over a BASE corpus
    * (vec_id % 5 != 0), then the remaining fifth appended via
    * `IvfIndex.append` — batch vectors assigned to the PUBLISHED frozen
    * centroids and published as one more manifest-named `vectors` dir, O(batch) I/O
    * with the base `vectors/` untouched (the store cadence of d07/d08,
    * applied to embeddings). The probe then answers top-5 over base +
    * delta with the same probed-cell partition pruning in every vector
    * dir.
    *
    * The oracle replays the WHOLE lifecycle in SQL: sampled-Lloyd
    * training on the base, base assignment + member-mean centroids
    * (what `build` publishes), the batch's frozen-centroid assignment
    * (what `append` computes), and the probe over the union — so a
    * drifted append (re-training, wrong centroid table, lost delta)
    * hash-mismatches.
    */
  val s05: QueryDef = {
    val nlist = 8; val iters = 2; val sampleMod = 2
    def lloydIter(k: Int): String = s"""
      n${k - 1} AS (
        SELECT cell, ${O.dsum("cval * cval", 12)} AS cns FROM c${k - 1} GROUP BY 1),
      d$k AS (
        SELECT e.vec_id, c.cell, ${O.dsum("e.val * c.cval", 12)} AS dot
        FROM smp e JOIN c${k - 1} c ON c.pos = e.pos GROUP BY 1, 2),
      a$k AS (
        SELECT vec_id, cell FROM (
          SELECT d.vec_id, d.cell,
            ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY n.cns - 2 * d.dot, d.cell) AS rn
          FROM d$k d JOIN n${k - 1} n USING (cell)) WHERE rn = 1),
      c$k AS (
        SELECT a.cell, e.pos, ${O.dsum("e.val", 12)} / COUNT(e.val) AS cval
        FROM smp e JOIN a$k a ON a.vec_id = e.vec_id GROUP BY 1, 2),"""
    def ensureIndex(s: SparkSession, dir: String): String = {
      import graft.similarity.IvfIndex
      val root = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
        s"graft_s05_ivf_append_${OncePerJvm.slug(dir)}")
      OncePerJvm("graft_s05_ivf_append", OncePerJvm.slug(dir)) {
        root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
        val emb = Tables.embeddings(s, dir)
        IvfIndex.buildTrained(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", root.toString,
          nlist = nlist, iters = iters, sampleMod = sampleMod)
        IvfIndex.append(emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", root.toString)
      }
      root.toString
    }
    QueryDef(
      "s05_ivf_append_topk",
      (s, dir) => {
        import graft.similarity.IvfIndex
        val root = ensureIndex(s, dir)
        IvfIndex.topK(s, root,
          Tables.embeddings(s, dir).filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, probes = 2)
      },
      Some(s"""
        WITH ex0 AS (
          SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS pos
          FROM embeddings),
        ex AS (
          SELECT vec_id, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val, pos
          FROM ex0),
        bex AS (
          SELECT * FROM ex WHERE vec_id % 5 <> 0),
        smp AS (
          SELECT * FROM bex
          WHERE ('0x' || substr(md5('ivf' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % $sampleMod = 0),
        seeds AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id,
              ROW_NUMBER() OVER (ORDER BY md5('seed' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
            FROM (SELECT DISTINCT vec_id FROM smp)) WHERE cell < $nlist),
        c0 AS (
          SELECT s.cell, e.pos, e.val AS cval
          FROM smp e JOIN seeds s ON s.vec_id = e.vec_id),
        ${(1 to iters).map(lloydIter).mkString("\n")}
        nf AS (
          SELECT cell, ${O.dsum("cval * cval", 12)} AS cns FROM c$iters GROUP BY 1),
        df AS (
          SELECT e.vec_id, c.cell, ${O.dsum("e.val * c.cval", 12)} AS dot
          FROM bex e JOIN c$iters c ON c.pos = e.pos GROUP BY 1, 2),
        af AS (
          SELECT vec_id, cell FROM (
            SELECT d.vec_id, d.cell,
              ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY n.cns - 2 * d.dot, d.cell) AS rn
            FROM df d JOIN nf n USING (cell)) WHERE rn = 1),
        cent AS (
          SELECT a.cell, e.pos, ${O.dsum("e.val", 12)} / COUNT(e.val) AS cval
          FROM bex e JOIN af a ON a.vec_id = e.vec_id GROUP BY 1, 2),
        centn AS (
          SELECT cell, ${O.dsum("cval * cval", 12)} AS cns FROM cent GROUP BY 1),
        bd AS (
          SELECT e.vec_id, c.cell, ${O.dsum("e.val * c.cval", 12)} AS dot
          FROM ex e JOIN cent c ON c.pos = e.pos
          WHERE e.vec_id % 5 = 0 GROUP BY 1, 2),
        ab AS (
          SELECT vec_id, cell FROM (
            SELECT d.vec_id, d.cell,
              ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY n.cns - 2 * d.dot, d.cell) AS rn
            FROM bd d JOIN centn n USING (cell)) WHERE rn = 1),
        members AS (
          SELECT vec_id, cell FROM af UNION ALL SELECT vec_id, cell FROM ab),
        vn AS (
          SELECT vec_id, ${O.dsum("val * val", 12)} AS vns FROM ex GROUP BY 1),
        qc AS (
          SELECT q.vec_id AS q_id, c.cell, ${O.dsum("q.val * c.cval", 12)} AS dot
          FROM ex q JOIN cent c ON q.pos = c.pos
          WHERE q.vec_id < 8
          GROUP BY 1, 2),
        probes AS (
          SELECT q_id, cell FROM (
            SELECT q_id, cell,
              ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY dot / (sqrt(vns) * sqrt(cns)) DESC, cell) AS rn
            FROM qc
            JOIN vn ON vn.vec_id = q_id
            JOIN centn USING (cell))
          WHERE rn <= 2),
        cand AS (
          SELECT p.q_id, m.vec_id AS n_id
          FROM probes p JOIN members m ON m.cell = p.cell AND m.vec_id != p.q_id),
        dots AS (
          SELECT c.q_id, c.n_id, ${O.dsum("qe.val * ne.val", 12)} AS dot
          FROM cand c
          JOIN ex qe ON qe.vec_id = c.q_id
          JOIN ex ne ON ne.vec_id = c.n_id AND ne.pos = qe.pos
          GROUP BY 1, 2),
        scored AS (
          SELECT q_id, n_id, dot / (sqrt(a.vns) * sqrt(b.vns)) AS cosine
          FROM dots JOIN vn a ON a.vec_id = q_id JOIN vn b ON b.vec_id = n_id)
        SELECT q_id, n_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
          FROM scored)
        WHERE rn <= 5
      """.stripMargin.trim),
      prepare = Some((s, dir) => { ensureIndex(s, dir); () }))
  }

  /** Build-once/ingest-many lifecycle for the embedding store (the
    * d07/d08 pattern): ONE history store per JVM per data dir, warmed
    * by the bench's `prepare` hook so the published number times the
    * daily ingest; the post-build snapshot restores the store after
    * every run ([[graft.similarity.EmbeddingStore.builtOnce]]).
    */
  private def embStore(s: SparkSession, dir: String): (String, dedup.BandedStore.Snapshot) = {
    import graft.similarity.EmbeddingStore
    val slug = OncePerJvm.slug(dir)
    val name = s"graft_embstore_$slug"
    (name, EmbeddingStore.builtOnce(s, name, slug)(EmbeddingStore.build(s,
      Tables.embeddings(s, dir).filter(col("vec_id") % 3 =!= 0), name)))
  }

  /** Incremental embedding near-dup against a persisted store
    * ([[graft.similarity.EmbeddingStore]]): history (vec_id % 3 ≠ 0) is
    * sign-bit-banded ONCE into bucketed tables; the batch — the
    * remaining originals plus deterministically perturbed copies of
    * history vectors (cross-store dups) and of batch vectors
    * (within-batch dups), the d05 corpus trick — dedupes against it via
    * a band_key equi-join INTO the store's bucketing + exact decimal
    * cosine re-verify against the stored full-precision vectors.
    * Survivors append O(batch); the 100 TB embedding-dedup cadence.
    * The oracle replays the hyperplanes, both corpora's bands, both
    * verifies, and the within-batch components bit-for-bit.
    */
  val s06 = QueryDef(
    "s06_embedding_store_ingest",
    (s, dir) => {
      import graft.similarity.EmbeddingStore
      val (name, snap) = embStore(s, dir)
      val emb = Tables.embeddings(s, dir)
      val fresh = emb.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding"))
      // same two-select discipline as d05: aliasing vec_id+offset in the
      // same list as the lambda would desync the perturbation salt
      def perturbed(cond: org.apache.spark.sql.Column, offset: Long) = emb.filter(cond)
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              (lit(1.0) +
                ((i.cast("long") * 7919L + col("vec_id") * 104729L) % 11L - 5L)
                  .cast("double") / lit(128.0)))
              .cast("float")).as("embedding"))
        .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
      val batch = fresh
        .unionByName(perturbed(col("vec_id") % 6 === 1, 1000000L))
        .unionByName(perturbed(col("vec_id") % 9 === 0, 2000000L))
      // flags are eagerly checkpointed (appends already executed), so
      // the rollback-in-finally cannot invalidate them — and a failed
      // run must not leave partial appends for the next run
      try EmbeddingStore.ingest(s, batch, name)
      finally EmbeddingStore.rollback(s, name, snap)
    },
    Some(s"""
      WITH RECURSIVE ex0 AS (
        SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS pos
        FROM embeddings),
      exb AS (
        SELECT vec_id, pos, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val
        FROM ex0),
      hex AS (SELECT vec_id, pos, val FROM exb WHERE vec_id % 3 <> 0),
      bex AS (
        SELECT vec_id, pos, val FROM exb WHERE vec_id % 3 = 0
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, pos,
          CAST(CAST(val * (1.0 + CAST(((pos-1) * 7919 + vec_id * 104729) % 11 - 5 AS DOUBLE) / 128.0)
            AS REAL) AS DOUBLE) AS val
        FROM exb WHERE vec_id % 6 = 1
        UNION ALL
        SELECT vec_id + 2000000 AS vec_id, pos,
          CAST(CAST(val * (1.0 + CAST(((pos-1) * 7919 + vec_id * 104729) % 11 - 5 AS DOUBLE) / 128.0)
            AS REAL) AS DOUBLE) AS val
        FROM exb WHERE vec_id % 9 = 0),
      geo AS (
        ${O.lshGeo("SELECT count(*) FROM embeddings WHERE vec_id % 3 <> 0")}),
      w AS (
        SELECT p, pos,
          CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(pos - 1 AS VARCHAR)), 1, 15))::BIGINT
            % 2000001 - 1000000 AS BIGINT) AS wt
        FROM (SELECT unnest(range(0, (SELECT b * r FROM geo))) AS p)
        CROSS JOIN (SELECT DISTINCT pos FROM ex0)),
      hexq AS (
        SELECT vec_id, pos, CAST(FLOOR(val * 1048576 + 0.5) AS BIGINT) AS vq FROM hex),
      bexq AS (
        SELECT vec_id, pos, CAST(FLOOR(val * 1048576 + 0.5) AS BIGINT) AS vq FROM bex),
      hproj AS (
        SELECT e.vec_id, w.p, SUM(w.wt * e.vq) AS pr
        FROM hexq e JOIN w ON w.pos = e.pos GROUP BY 1, 2),
      hbands AS (
        SELECT vec_id, CAST(FLOOR(p / (SELECT r FROM geo)) AS INTEGER) AS band,
          SUM(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << (CAST(p AS INTEGER) % (SELECT r FROM geo))) ELSE 0 END) AS band_hash
        FROM hproj GROUP BY 1, 2),
      bproj AS (
        SELECT e.vec_id, w.p, SUM(w.wt * e.vq) AS pr
        FROM bexq e JOIN w ON w.pos = e.pos GROUP BY 1, 2),
      bbands AS (
        SELECT vec_id, CAST(FLOOR(p / (SELECT r FROM geo)) AS INTEGER) AS band,
          SUM(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << (CAST(p AS INTEGER) % (SELECT r FROM geo))) ELSE 0 END) AS band_hash
        FROM bproj GROUP BY 1, 2),
      hvn AS (
        SELECT vec_id, CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) AS ns
        FROM hex GROUP BY 1),
      bvn AS (
        SELECT vec_id, CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) AS ns
        FROM bex GROUP BY 1),
      xcand AS (
        SELECT DISTINCT b.vec_id AS new_id, h.vec_id AS other_id
        FROM bbands b JOIN hbands h ON h.band = b.band AND h.band_hash = b.band_hash),
      xdots AS (
        SELECT c.new_id, c.other_id,
          CAST(SUM(CAST(a.val * b.val AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM xcand c
        JOIN bex a ON a.vec_id = c.new_id
        JOIN hex b ON b.vec_id = c.other_id AND b.pos = a.pos
        GROUP BY 1, 2),
      histdup AS (
        SELECT new_id AS vec_id, MIN(other_id) AS hist_dup_of
        FROM xdots
        JOIN bvn na ON na.vec_id = new_id
        JOIN hvn nb ON nb.vec_id = other_id
        WHERE dot / (sqrt(na.ns) * sqrt(nb.ns)) >= 0.9
        GROUP BY 1),
      bids AS (SELECT DISTINCT vec_id FROM bex),
      surv AS (
        SELECT vec_id FROM bids
        WHERE vec_id NOT IN (SELECT vec_id FROM histdup)),
      scand AS (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM bbands x
        JOIN surv sx ON sx.vec_id = x.vec_id
        JOIN bbands y ON y.band = x.band AND y.band_hash = x.band_hash
          AND x.vec_id < y.vec_id
        JOIN surv sy ON sy.vec_id = y.vec_id),
      sdots AS (
        SELECT c.va, c.vb,
          CAST(SUM(CAST(a.val * b.val AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM scand c
        JOIN bex a ON a.vec_id = c.va
        JOIN bex b ON b.vec_id = c.vb AND b.pos = a.pos
        GROUP BY 1, 2),
      spairs AS (
        SELECT va, vb FROM sdots
        JOIN bvn na ON na.vec_id = va
        JOIN bvn nb ON nb.vec_id = vb
        WHERE dot / (sqrt(na.ns) * sqrt(nb.ns)) >= 0.9),
      edges AS (
        SELECT va AS u, vb AS v FROM spairs
        UNION
        SELECT vb AS u, va AS v FROM spairs),
      reach(v, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes
        UNION
        SELECT e.v, r.lbl FROM edges e JOIN reach r ON r.v = e.u AND r.lbl < e.v),
      comp AS (SELECT v AS vec_id, MIN(lbl) AS cluster FROM reach GROUP BY 1)
      SELECT t.vec_id,
        (h.vec_id IS NOT NULL) OR (c.cluster IS NOT NULL AND c.cluster <> t.vec_id) AS is_dup,
        COALESCE(h.hist_dup_of,
          CASE WHEN c.cluster <> t.vec_id THEN c.cluster END) AS dup_of
      FROM bids t
      LEFT JOIN histdup h ON h.vec_id = t.vec_id
      LEFT JOIN comp c ON c.vec_id = t.vec_id
    """.stripMargin.trim),
    prepare = Some((s, dir) => { embStore(s, dir); () }))

  /** Retrained-index top-5 (s07): the index lifecycle's third phase,
    * end-to-end — `buildTrained` over the base corpus, a day of
    * frozen-centroid [[graft.similarity.IvfIndex.append]]s (the batch
    * is a shifted id-space slice so it is SQL-expressible), then
    * [[graft.similarity.IvfIndex.retrain]]: the quantizer re-runs over
    * the index's OWN contents (base ∪ deltas — no source rescan),
    * folding the deltas into one fresh `vectors/` and re-deriving
    * centroids that describe the post-append distribution. The oracle
    * is the IDENTICAL training template as s03 replayed over the union
    * corpus, so a hash match proves retrain(index) ==
    * buildTrained(index contents) bit-for-bit — drift correction
    * verified, not asserted. Bench-cost: the lifecycle runs once per
    * JVM (prepare); timed runs pay the 2-probe pruned top-k, which
    * after retrain scans ONE vector dir again (the delta-proliferation
    * debt settled).
    */
  val s07: QueryDef = {
    val nlist = 8; val iters = 2; val sampleMod = 2
    // queries stay in the BASE slice (vec_id < 8) so the oracle can draw
    // them from the union corpus's own rows
    def isBatch = col("vec_id") % 4 === 3 && col("vec_id") >= 8
    def ensureIndex(s: SparkSession, dir: String): String = {
      import graft.similarity.IvfIndex
      val root = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
        s"graft_s07_ivf_retrain_${OncePerJvm.slug(dir)}")
      OncePerJvm("graft_s07_ivf_retrain", OncePerJvm.slug(dir)) {
        root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
        val emb = Tables.embeddings(s, dir)
        IvfIndex.buildTrained(emb.filter(!isBatch), "vec_id", "embedding",
          root.toString, nlist = nlist, iters = iters, sampleMod = sampleMod)
        IvfIndex.append(emb.filter(isBatch)
            .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", root.toString)
        IvfIndex.retrain(s, root.toString, nlist = nlist, iters = iters,
          sampleMod = sampleMod)
      }
      root.toString
    }
    QueryDef(
      "s07_ivf_retrain_topk",
      (s, dir) => {
        import graft.similarity.IvfIndex
        val root = ensureIndex(s, dir)
        IvfIndex.topK(s, root,
          Tables.embeddings(s, dir).filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, probes = 2)
      },
      Some(ivfTrainProbeSql(
        """(SELECT vec_id, embedding FROM embeddings
           WHERE NOT (vec_id % 4 = 3 AND vec_id >= 8)
           UNION ALL
           SELECT vec_id + 3000000 AS vec_id, embedding FROM embeddings
           WHERE vec_id % 4 = 3 AND vec_id >= 8) corpus""",
        nlist, iters, sampleMod, k = 5, probes = 2)),
      prepare = Some((s, dir) => { ensureIndex(s, dir); () }))
  }

  def all: Seq[QueryDef] = Seq(s01, s02, s03, s04, s05, s06, s07)
}
