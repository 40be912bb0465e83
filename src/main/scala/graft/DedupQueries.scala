package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, SignatureStore}
import graft.functions.{Oracle => O}
import graft.similarity.Similarity

/** Deduplication query family (SURVEY.md §2.H): exact, n-gram Jaccard,
  * MinHash-LSH, SimHash, embedding near-dup — each oracle-verified
  * (the md5-based hash discipline makes even the LSH signatures
  * replayable in DuckDB).
  */
object DedupQueries {

  /** Shared DuckDB CTEs, parameterized by a CTE-name prefix and a
    * corpus predicate so the incremental query (d07) can replay the
    * recipe over two disjoint corpora side by side: tokenization →
    * distinct shingle inverted index with the df≤100 hot-shingle cap
    * (capped WITHIN the given corpus, exactly like the store build) →
    * per-doc set sizes. Mirrors Dedup.shingleIndex.
    */
  private def corpusCtes(p: String, where: String): String = s"""
      ${p}toks AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE $where),
      ${p}sh0 AS (
        SELECT DISTINCT doc_id,
          unnest(list_transform(range(len(t)-2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
        FROM ${p}toks WHERE len(t) >= 3),
      ${p}df AS (SELECT shingle FROM ${p}sh0 GROUP BY 1 HAVING count(*) <= 100),
      ${p}sh AS (SELECT s.doc_id, s.shingle FROM ${p}sh0 s JOIN ${p}df USING (shingle)),
      ${p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM ${p}sh GROUP BY 1)"""

  private val shingleCtes = corpusCtes("", "TRUE")

  /** The MinHash band-signature CTEs (16 permuted mins → 8 r=2 bands),
    * prefix-parameterized like [[corpusCtes]]. Mirrors
    * Dedup.minhashBands bit for bit.
    */
  private def bandCtes(p: String): String = s"""
      ${p}shl AS (
        SELECT doc_id, list_transform(range(len(t)-2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS sl
        FROM ${p}toks WHERE len(t) >= 3),
      ${p}sh_all AS (SELECT doc_id, unnest(sl) AS s FROM ${p}shl),
      ${p}hb AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
        FROM ${p}sh_all),
      ${p}sigs AS (
        SELECT doc_id,
          MIN((h * 1 + 1) % 2147483647) AS m0,
          MIN((h * 3 + 7920) % 2147483647) AS m1,
          MIN((h * 5 + 15839) % 2147483647) AS m2,
          MIN((h * 7 + 23758) % 2147483647) AS m3,
          MIN((h * 9 + 31677) % 2147483647) AS m4,
          MIN((h * 11 + 39596) % 2147483647) AS m5,
          MIN((h * 13 + 47515) % 2147483647) AS m6,
          MIN((h * 15 + 55434) % 2147483647) AS m7,
          MIN((h * 17 + 63353) % 2147483647) AS m8,
          MIN((h * 19 + 71272) % 2147483647) AS m9,
          MIN((h * 21 + 79191) % 2147483647) AS m10,
          MIN((h * 23 + 87110) % 2147483647) AS m11,
          MIN((h * 25 + 95029) % 2147483647) AS m12,
          MIN((h * 27 + 102948) % 2147483647) AS m13,
          MIN((h * 29 + 110867) % 2147483647) AS m14,
          MIN((h * 31 + 118786) % 2147483647) AS m15
        FROM ${p}hb GROUP BY 1),
      ${p}sigsel AS (
        SELECT doc_id,
          CAST(m0 AS VARCHAR) || '_' || CAST(m1 AS VARCHAR) AS bh0,
          CAST(m2 AS VARCHAR) || '_' || CAST(m3 AS VARCHAR) AS bh1,
          CAST(m4 AS VARCHAR) || '_' || CAST(m5 AS VARCHAR) AS bh2,
          CAST(m6 AS VARCHAR) || '_' || CAST(m7 AS VARCHAR) AS bh3,
          CAST(m8 AS VARCHAR) || '_' || CAST(m9 AS VARCHAR) AS bh4,
          CAST(m10 AS VARCHAR) || '_' || CAST(m11 AS VARCHAR) AS bh5,
          CAST(m12 AS VARCHAR) || '_' || CAST(m13 AS VARCHAR) AS bh6,
          CAST(m14 AS VARCHAR) || '_' || CAST(m15 AS VARCHAR) AS bh7
        FROM ${p}sigs),
      ${p}bands AS (
        SELECT doc_id, 0 AS band, bh0 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 1 AS band, bh1 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 2 AS band, bh2 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 3 AS band, bh3 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 4 AS band, bh4 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 5 AS band, bh5 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 6 AS band, bh6 AS band_hash FROM ${p}sigsel
        UNION ALL
        SELECT doc_id, 7 AS band, bh7 AS band_hash FROM ${p}sigsel)"""

  /** Exact dedup: lowest doc_id survives per content fingerprint. */
  val d01 = QueryDef(
    "d01_exact_dedup",
    (s, dir) => {
      Dedup.exact(Tables.documents(s, dir))
        .select("doc_id", "fingerprint", "lang", "source", "n_chars")
    },
    Some("""
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        lang, source, n_chars
      FROM documents
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        ORDER BY doc_id) = 1
    """.stripMargin.trim))

  /** Exact n-gram Jaccard near-dup pairs via the inverted shingle index
    * (pairs sharing ≥1 shingle; cost tracks collisions, not n²). The
    * index is checkpointed before the pair join — jaccardPairs consumes
    * it three times (both self-join sides + per-doc sizes), and without
    * the pin each consumer re-runs the explode→distinct→df-cap subtree
    * (the same multiply-consumed-intermediate rule SignatureStore
    * applies, SURVEY.md §7 lesson 20).
    */
  val d02 = QueryDef(
    "d02_ngram_jaccard",
    (s, dir) =>
      // keyless fan-out (r19, guide §2.5): documents.parquet is a single
      // row group, so the tokenize+explode shingle pass otherwise runs
      // on one core; set-semantics downstream (distinct/df-cap/joins).
      Dedup.jaccardPairs(
        Dedup.shingleIndex(Tables.fanOut(s, dir, "documents",
          Tables.documents(s, dir))).localCheckpoint(true),
        threshold = 0.5),
    Some(s"""
      WITH $shingleCtes,
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common,
        n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """.stripMargin.trim))

  /** The full within-corpus pair recipe as a reusable CTE chain ending
    * in `${p}pairs(doc_a, doc_b, jaccard)` — shared by d03 (pair
    * enumeration), d06 (cluster resolution over the same pairs), and
    * d08 (internal pairs of the history-survivor sub-corpus).
    */
  private def pairCtes(p: String): String = s"""
      ${p}cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM ${p}bands x JOIN ${p}bands y
          ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
        WHERE x.band_hash IS NOT NULL),
      ${p}common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM ${p}cand c
        JOIN ${p}sh a ON a.doc_id = c.doc_a
        JOIN ${p}sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2),
      ${p}pairs AS (
        SELECT doc_a, doc_b,
          n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM ${p}common
        JOIN ${p}sizes sa ON sa.doc_id = doc_a
        JOIN ${p}sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5)"""

  private val lshPairCtes = s"""$shingleCtes,${bandCtes("")},${pairCtes("")}"""

  /** MinHash-LSH: 8 band signatures (min-md5 of band-salted shingles),
    * bucket-join candidates, exact-Jaccard re-verification — the
    * standard recall/precision split at corpus scale. The oracle
    * replays the identical signature computation, so the result is
    * bit-equal, not just approximately right.
    */
  val d03 = QueryDef(
    "d03_minhash_lsh",
    (s, dir) => Dedup.minhashLshPairs( // fan-out: see d02 (r19)
      Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))),
    Some(s"""
      WITH $lshPairCtes
      SELECT doc_a, doc_b, jaccard FROM pairs
    """.stripMargin.trim))

  /** Duplicate-cluster resolution: the MinHash-LSH pair set (the exact
    * d03 result) resolved into connected components, one row per corpus
    * document with its component-min cluster id and a keep/drop flag —
    * the operator that turns pair enumeration into an actually
    * deduplicated corpus. The oracle replays the full d03 pair recipe,
    * then computes components with a recursive min-label reachability
    * CTE (labels only propagate toward larger ids; the component min
    * survives every hop since it is smaller than every node it visits,
    * so MIN per node is exact).
    */
  val d06 = QueryDef(
    "d06_dup_clusters",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // fan-out the LSH side only (see d02, r19); the id-universe side
      // is a cheap projection
      Dedup.clusters(Dedup.minhashLshPairs(
        Tables.fanOut(s, dir, "documents", docs)), docs)
    },
    Some(s"""
      WITH RECURSIVE $lshPairCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs),
      reach(v, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes
        UNION
        SELECT e.v, r.lbl FROM edges e JOIN reach r ON r.v = e.u AND r.lbl < e.v),
      comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY 1)
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
        COALESCE(c.cluster, d.doc_id) = d.doc_id AS is_rep
      FROM documents d LEFT JOIN comp c USING (doc_id)
    """.stripMargin.trim))

  /** SimHash near-dup pairs (Hamming ≤ 3 over 64-bit signatures). The
    * Spark plan uses 16-bit pigeonhole banding (exact at this radius);
    * the oracle brute-forces the n² scan — identical result proves the
    * banding loses nothing. The oracle replays the exact bit recipe:
    * the token hash as two nonnegative 32-bit md5-prefix halves (no
    * signed-shift semantics anywhere), and bit 63 of the assembled
    * signature as the BIGINT sign bit (Long.MinValue), matching Spark's
    * two's-complement long.
    */
  val d04: QueryDef = {
    val votes = (0 until 64)
      .map { j =>
        val (src, b) = if (j < 32) ("lo", j) else ("hi", j - 32)
        s"SUM(CASE WHEN ($src >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
      }
      .mkString(",\n          ")
    val assemble = (0 until 64)
      .map { j =>
        val bit = if (j == 63) "(-9223372036854775807 - 1)" else s"${1L << j}"
        s"CASE WHEN v$j > 0 THEN $bit ELSE 0 END"
      }
      .mkString(" + ")
    QueryDef(
      "d04_simhash",
      (s, dir) => Dedup.simhashPairs( // fan-out: see d02 (r19)
        Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        th AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        hh AS (SELECT doc_id,
          ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
          ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo FROM th),
        votes AS (
          SELECT doc_id,
          $votes
          FROM hh GROUP BY 1),
        sims AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM votes)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          a.simhash AS simhash_a, b.simhash AS simhash_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      """.stripMargin.trim))
  }

  /** Embedding-cosine near-dup pairs via banded sign-bit LSH candidates
    * + exact decimal cosine re-verification (`Similarity.lshCosinePairs`)
    * — the same recall/precision split as d03, with no operator in the
    * plan touching the n² pair space.
    *
    * The raw embeddings table has no true near-dups (max pairwise cosine
    * ≈ 0.51/0.60 at sf0.01/0.1 — below any regime where LSH, or any
    * sublinear method, can separate signal from noise), so the corpus is
    * augmented with deterministically perturbed copies of every 5th
    * vector (±≤3.9% per-dim, k/128 factors so each perturbed value is
    * exact in float — both engines compute bit-identical doubles) and
    * the operator runs at its design point: threshold 0.9, where each
    * copy pairs with its source at cosine ≈ 0.999. The oracle replays
    * the perturbation, the md5 hyperplane weights, the band hashes, and
    * the bucket cap bit-for-bit, so the result is exact-equal, not just
    * approximately right.
    */
  val d05 = QueryDef(
    "d05_embedding_neardup",
    (s, dir) => {
      // fan-out probed and REJECTED here (r19): min 2.6 s fanned vs
      // 1.9 s as-is — the union's two consumers re-execute the extra
      // exchange and the band kernels are already past the scan stage
      val emb = Tables.embeddings(s, dir)
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // two selects: aliasing vec_id+1000000 AS vec_id in the same list
      // as the lambda would make the lambda's vec_id resolve laterally
      // to the NEW id, silently desyncing the perturbation from the oracle
      val copies = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              (lit(1.0) +
                ((i.cast("long") * 7919L + col("vec_id") * 104729L) % 11L - 5L)
                  .cast("double") / lit(128.0)))
              .cast("float").cast("double")).as("embedding"))
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.lshCosinePairs(base.unionByName(copies),
        "vec_id", "embedding", threshold = 0.9)
    },
    Some(s"""
      WITH ex0 AS (
        SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS pos
        FROM embeddings),
      exb AS (
        SELECT vec_id, pos, CAST(embedding[CAST(pos AS INTEGER)] AS DOUBLE) AS val
        FROM ex0),
      ex AS (
        SELECT vec_id, pos, val FROM exb
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, pos,
          CAST(CAST(val * (1.0 + CAST(((pos-1) * 7919 + vec_id * 104729) % 11 - 5 AS DOUBLE) / 128.0)
            AS REAL) AS DOUBLE) AS val
        FROM exb WHERE vec_id % 5 = 0),
      geo AS (
        ${O.lshGeo("""SELECT (SELECT count(*) FROM embeddings)
                    + (SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0)""")}),
      w AS (
        SELECT p, pos,
          CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(pos - 1 AS VARCHAR)), 1, 15))::BIGINT
            % 2000001 - 1000000 AS BIGINT) AS wt
        FROM (SELECT unnest(range(0, (SELECT b * r FROM geo))) AS p)
        CROSS JOIN (SELECT DISTINCT pos FROM ex0)),
      exq AS (
        SELECT vec_id, pos, CAST(FLOOR(val * 1048576 + 0.5) AS BIGINT) AS vq
        FROM ex),
      proj AS (
        SELECT e.vec_id, w.p, SUM(w.wt * e.vq) AS pr
        FROM exq e JOIN w ON w.pos = e.pos
        GROUP BY 1, 2),
      bands AS (
        SELECT vec_id, CAST(FLOOR(p / (SELECT r FROM geo)) AS INTEGER) AS band,
          SUM(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << (CAST(p AS INTEGER) % (SELECT r FROM geo))) ELSE 0 END) AS band_hash
        FROM proj GROUP BY 1, 2),
      okb AS (
        SELECT band, band_hash FROM bands GROUP BY 1, 2 HAVING count(*) <= 1000),
      cand AS (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM bands x
        JOIN okb ON okb.band = x.band AND okb.band_hash = x.band_hash
        JOIN bands y ON y.band = x.band AND y.band_hash = x.band_hash
          AND x.vec_id < y.vec_id),
      vn AS (
        SELECT vec_id, CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) AS ns
        FROM ex GROUP BY 1),
      dots AS (
        SELECT c.va, c.vb,
          CAST(SUM(CAST(a.val * b.val AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM cand c
        JOIN ex a ON a.vec_id = c.va
        JOIN ex b ON b.vec_id = c.vb AND b.pos = a.pos
        GROUP BY 1, 2)
      SELECT va, vb, dot / (sqrt(na.ns) * sqrt(nb.ns)) AS cosine
      FROM dots
      JOIN vn na ON na.vec_id = va
      JOIN vn nb ON nb.vec_id = vb
      WHERE dot / (sqrt(na.ns) * sqrt(nb.ns)) >= 0.9
    """.stripMargin.trim))

  /** Build-once/probe-many lifecycle shared by d07 AND d08: ONE history
    * store per JVM per data dir ([[graft.OncePerJvm]], keyed by the
    * dir's slug so path aliases like a trailing slash can't trigger a
    * duplicate build) — Bench warms it via `prepare` so the published
    * seconds time the daily incremental join, not the one-time banding
    * of history (the cost an operator pays monthly in the compaction
    * window, not per batch). d08's snapshot+rollback restores the store
    * to exactly this post-build state after every ingest, which is what
    * lets read-only d07 share it ([[SignatureStore.builtOnce]]).
    */
  private[graft] def dedupStore(s: SparkSession, dir: String): (String, dedup.BandedStore.Snapshot) = {
    val slug = OncePerJvm.slug(dir)
    val name = s"graft_dedup_sigstore_$slug"
    (name, SignatureStore.builtOnce(s, name, slug)(SignatureStore.build(s,
      Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0), name)))
  }

  /** Incremental dedup against a persisted signature store: history
    * (doc_id % 10 ≠ 0) is hashed once into bucketed store tables
    * ([[graft.dedup.SignatureStore]]), then the new batch
    * (doc_id % 10 = 0) dedupes against it — candidates from a band-key
    * equi-join into the store's bucketing, exact-Jaccard re-verify
    * against the store's df-capped inverted index. At 100 TB this is the
    * only affordable dedup cadence: daily cost tracks the batch, the
    * history side is read pre-bucketed and never reshuffled. The oracle
    * replays the identical recipe over the two corpora side by side.
    */
  val d07 = QueryDef(
    "d07_incremental_dedup",
    (s, dir) => {
      val (name, _) = dedupStore(s, dir)
      SignatureStore.incrementalPairs(s,
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), name)
    },
    Some(s"""
      WITH ${corpusCtes("h_", "doc_id % 10 <> 0")},${bandCtes("h_")},
      ${corpusCtes("b_", "doc_id % 10 = 0")},${bandCtes("b_")},
      cand AS (
        SELECT DISTINCT x.doc_id AS hist_id, y.doc_id AS new_id
        FROM h_bands x JOIN b_bands y
          ON x.band = y.band AND x.band_hash = y.band_hash
        WHERE x.band_hash IS NOT NULL),
      common AS (
        SELECT c.hist_id, c.new_id, count(*) AS n_common
        FROM cand c
        JOIN h_sh a ON a.doc_id = c.hist_id
        JOIN b_sh b ON b.doc_id = c.new_id AND b.shingle = a.shingle
        GROUP BY 1, 2)
      SELECT hist_id, new_id,
        n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN h_sizes sa ON sa.doc_id = hist_id
      JOIN b_sizes sb ON sb.doc_id = new_id
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """.stripMargin.trim),
    prepare = Some((s, dir) => { dedupStore(s, dir); () }))

  /** One full ingest cycle's dup flags ([[graft.dedup.SignatureStore
    * .ingest]]): history (doc_id % 10 ≠ 0) is built into the store, then
    * the batch (doc_id % 10 = 0) is flagged — first against the store
    * (dup_of = smallest matching stored id), then within the batch among
    * the history-survivors (LSH pairs → connected components → each
    * component's min id survives). The oracle replays every stage in
    * SQL: the cross-corpus d07 recipe for histdup, a third survivor
    * sub-corpus (df cap re-applied WITHIN the survivors, exactly like
    * the engine's second LSH pass), the within-survivor pair recipe,
    * and the recursive min-label components.
    *
    * Same shared store as d07 — but `ingest` MUTATES it (appends the
    * batch's survivors), so each execution rolls the appends back to the
    * memoized post-build snapshot after the flags are materialized
    * ([[graft.dedup.SignatureStore.rollback]]). The timed path is one
    * full daily cycle — store join, within-batch LSH, survivor append —
    * against the identical post-build store every run; the rollback
    * itself is a driver-side delete of ≤3×buckets files.
    */
  val d08 = QueryDef(
    "d08_ingest_flags",
    (s, dir) => {
      val (name, snap) = dedupStore(s, dir)
      // ingest returns an eagerly-checkpointed frame (and its appends
      // have executed), so rolling back cannot invalidate it. The
      // rollback is a finally: a failed or watchdog-cancelled ingest
      // must not leave partial appends for the next run to dedupe
      // against (the batch would then match its own stored survivors).
      try SignatureStore.ingest(s,
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), name)
      finally SignatureStore.rollback(s, name, snap)
    },
    Some(s"""
      WITH RECURSIVE ${corpusCtes("h_", "doc_id % 10 <> 0")},${bandCtes("h_")},
      ${corpusCtes("b_", "doc_id % 10 = 0")},${bandCtes("b_")},
      xcand AS (
        SELECT DISTINCT x.doc_id AS hist_id, y.doc_id AS new_id
        FROM h_bands x JOIN b_bands y
          ON x.band = y.band AND x.band_hash = y.band_hash
        WHERE x.band_hash IS NOT NULL),
      xcommon AS (
        SELECT c.hist_id, c.new_id, count(*) AS n_common
        FROM xcand c
        JOIN h_sh a ON a.doc_id = c.hist_id
        JOIN b_sh b ON b.doc_id = c.new_id AND b.shingle = a.shingle
        GROUP BY 1, 2),
      histdup AS MATERIALIZED (
        SELECT new_id AS doc_id, MIN(hist_id) AS hist_dup_of
        FROM xcommon
        JOIN h_sizes sa ON sa.doc_id = hist_id
        JOIN b_sizes sb ON sb.doc_id = new_id
        WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        GROUP BY 1),
      ${corpusCtes("s_",
        "doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM histdup)")},${bandCtes("s_")},${pairCtes("s_")},
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM s_pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM s_pairs),
      reach(v, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes
        UNION
        SELECT e.v, r.lbl FROM edges e JOIN reach r ON r.v = e.u AND r.lbl < e.v),
      comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY 1),
      batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
      SELECT t.doc_id,
        (h.doc_id IS NOT NULL) OR (c.cluster IS NOT NULL AND c.cluster <> t.doc_id) AS is_dup,
        COALESCE(h.hist_dup_of,
          CASE WHEN c.cluster <> t.doc_id THEN c.cluster END) AS dup_of
      FROM batch t
      LEFT JOIN histdup h USING (doc_id)
      LEFT JOIN comp c ON c.doc_id = t.doc_id
    """.stripMargin.trim),
    prepare = Some((s, dir) => { dedupStore(s, dir); () }))

  /** Train/eval decontamination (the GPT-3-appendix n-gram check):
    * `src0` plays the fixed eval benchmark, every other source is the
    * training corpus, and each training doc reports how many of its
    * distinct 5-gram hashes occur anywhere in the benchmark. The
    * benchmark gram set is broadcast — the train side's only shuffle is
    * its own per-doc aggregation — which is exactly the 100 TB shape:
    * eval suites stay KBs–MBs while the corpus grows unbounded.
    */
  val d09 = QueryDef(
    "d09_decontamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // fan-out the train side (see d02, r19); the benchmark side stays
      // a broadcast-bound aggregate
      Dedup.decontaminate(
        train = Tables.fanOut(s, dir, "documents",
          docs.filter(col("source") =!= "src0")),
        benchmark = docs.filter(col("source") === "src0"),
        k = 5)
    },
    Some("""
      WITH ttoks AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE source <> 'src0'),
      btoks AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE source = 'src0'),
      tg AS (
        SELECT DISTINCT doc_id,
          ('0x' || substr(md5(unnest(list_transform(range(len(t)-4),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]))), 1, 15))::BIGINT AS h
        FROM ttoks WHERE len(t) >= 5),
      bg AS (
        SELECT DISTINCT
          ('0x' || substr(md5(unnest(list_transform(range(len(t)-4),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]))), 1, 15))::BIGINT AS h
        FROM btoks WHERE len(t) >= 5)
      SELECT tg.doc_id,
        count(*) AS n_grams,
        count(bg.h) AS n_hits,
        CASE WHEN count(*) > 0
             THEN count(bg.h) * 1.0 / count(*) END AS contamination_frac,
        CAST(CASE WHEN count(bg.h) > 0 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
      FROM tg LEFT JOIN bg USING (h)
      GROUP BY 1
    """.stripMargin.trim))

  /** Asymmetric containment dedup: pairs where one document's shingle
    * set is (mostly) swallowed by the other's — the quote/subset
    * duplication that symmetric Jaccard under-scores when the sizes
    * differ (|A∩B|/|A∪B| stays small for a snippet inside a long doc,
    * but |A∩B|/|A| is ~1). Candidates come from the same df-capped
    * inverted index as d02 — never all-pairs — and both directions are
    * published so the dedup policy (drop the contained doc) is a plain
    * filter downstream.
    */
  val d10 = QueryDef(
    "d10_containment",
    (s, dir) =>
      Dedup.containmentPairs( // fan-out: see d02 (r19)
        Dedup.shingleIndex(Tables.fanOut(s, dir, "documents",
          Tables.documents(s, dir))).localCheckpoint(true),
        threshold = 0.6),
    Some(s"""
      WITH $shingleCtes,
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common,
        n_common * 1.0 / sa.n_sh AS c_a_in_b,
        n_common * 1.0 / sb.n_sh AS c_b_in_a
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE GREATEST(n_common * 1.0 / sa.n_sh, n_common * 1.0 / sb.n_sh) >= 0.6
    """.stripMargin.trim))

  /** Boilerplate share: for every document, the fraction of its
    * distinct 3-shingles that appear in at least one OTHER document —
    * the corpus-level template/header/footer signal a web-scale
    * pipeline uses to separate boilerplate-heavy pages from original
    * prose (pair-free complement to d02/d10, which score specific
    * pairs). Cost is linear: one df aggregate on the shingle key and
    * one equi-join back — no pair space; the df table's hot keys are
    * exactly what AQE skew-splitting is for at corpus scale. Docs
    * under 3 tokens carry no shingles and are absent, matching the
    * short-doc guard of d09.
    */
  val d11 = QueryDef(
    "d11_boilerplate",
    (s, dir) => {
      val sh = Dedup.shingles(Tables.fanOut(s, dir, "documents",
        Tables.documents(s, dir))).distinct() // fan-out: see d02 (r19)
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1).otherwise(0)).as("n_shared"))
        .withColumn("shared_frac", col("n_shared") / col("n_shingles"))
        .withColumn("boilerplate_heavy",
          when(col("shared_frac") >= 0.5, 1).otherwise(0))
    },
    Some(s"""
      WITH $shingleCtes,
      dfx AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1)
      SELECT s.doc_id,
        CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*) AS shared_frac,
        CAST(CASE WHEN SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*) >= 0.5
             THEN 1 ELSE 0 END AS INTEGER) AS boilerplate_heavy
      FROM sh0 s JOIN dfx d USING (shingle)
      GROUP BY 1
    """.stripMargin.trim))

  /** The positional-gram → shared-gram → gaps-and-islands CTE chain of
    * the substring-dedup recipe, ending in `fspans(doc_id, s, e)` — the
    * ≥15-token maximal duplicated intervals. Shared by d12 (publishes
    * the spans), d13 (cuts them), and d15 (cuts within the exact-dedup
    * survivor corpus — `base` parameterizes the corpus). Mirrors
    * `Dedup.duplicatedSpans`.
    */
  private def substringCtes(base: String): String = s"""
      toksx AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM $base),
      pg AS (
        SELECT doc_id, pos,
          ('0x' || substr(md5(t[pos+1]||' '||t[pos+2]||' '||t[pos+3]||' '||t[pos+4]||' '||t[pos+5]), 1, 15))::BIGINT AS gh
        FROM (SELECT doc_id, t, unnest(range(len(t)-4)) AS pos FROM toksx WHERE len(t) >= 5)),
      sharedx AS (
        SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pg) GROUP BY gh HAVING count(*) >= 2),
      dup AS (SELECT doc_id, pos FROM pg JOIN sharedx USING (gh)),
      isl AS (
        SELECT doc_id, pos,
          SUM(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, pos,
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dup)),
      spansx AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 5 AS e
        FROM isl GROUP BY doc_id, island),
      fspans AS (SELECT doc_id, s, e FROM spansx WHERE e - s >= 15)"""

  /** Exact substring-level dedup (`Dedup.duplicatedSpans`): maximal
    * ≥15-token spans whose every 5-gram also occurs in another document
    * — the Lee-et-al "remove any duplicated span" pass, and the only
    * dedup mode here that is fully LINEAR (gram-hash aggregate +
    * semi-join + per-doc interval merge; no pair space anywhere). The
    * oracle replays tokenization, the 60-bit gram hashes, cross-doc
    * sharedness, and the gaps-and-islands merge position for position.
    */
  val d12 = QueryDef(
    "d12_substring_dedup",
    (s, dir) => Dedup.duplicatedSpans( // fan-out: see d02 (r19);
      // span windows key on explicit (doc_id, pos) — order-safe.
      // An eager pin of the fanned input was probed and REJECTED
      // (1.9 s pinned vs 1.6-1.8 fanned): ReuseExchange already shares
      // the fan shuffle across the re-tokenizing consumers, and the
      // blocking checkpoint only adds a materialization.
      Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))),
    Some(s"""
      WITH ${substringCtes("documents")}
      SELECT sp.doc_id,
        CAST(s AS INTEGER) AS span_start,
        CAST(e AS INTEGER) AS span_end,
        CAST(e - s AS INTEGER) AS span_tokens,
        md5(array_to_string(t[s+1:e], ' ')) AS span_fp
      FROM fspans sp JOIN toksx USING (doc_id)
    """.stripMargin.trim))

  /** The cut-application CTE tail (positions not covered by any fspan →
    * ordered re-join → per-doc manifest), ending in `cutman(doc_id,
    * n_tokens, n_kept, n_spans, clean_fp)`. Shared by d13 and d15;
    * mirrors `Dedup.cutSpans`.
    */
  private val cutCtes = """
      posx AS (
        SELECT doc_id, pos, t[pos+1] AS tok
        FROM (SELECT doc_id, t, unnest(range(len(t))) AS pos FROM toksx)),
      keptx AS (
        SELECT p.doc_id, p.pos, p.tok FROM posx p
        WHERE NOT EXISTS (SELECT 1 FROM fspans f
          WHERE f.doc_id = p.doc_id AND p.pos >= f.s AND p.pos < f.e)),
      ka AS (
        SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
          string_agg(tok, ' ' ORDER BY pos) AS clean
        FROM keptx GROUP BY 1),
      sc AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans FROM fspans GROUP BY 1),
      cutman AS (
        SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
          COALESCE(ka.n_kept, 0) AS n_kept,
          COALESCE(sc.n_spans, 0) AS n_spans,
          md5(COALESCE(ka.clean, '')) AS clean_fp
        FROM toksx t LEFT JOIN ka USING (doc_id) LEFT JOIN sc USING (doc_id))"""

  /** The cut applied (`Dedup.cutSpans`): every document's cleaned-text
    * manifest after removing all duplicated ≥15-token spans — the
    * operator a training pipeline actually runs after d12's audit.
    * Wholly-cut documents surface with n_kept = 0 and the empty-text
    * fingerprint rather than disappearing.
    */
  val d13 = QueryDef(
    "d13_substring_cut",
    (s, dir) => Dedup.cutSpans( // fan-out: see d02/d12 (r19); an eager
      // pin was probed and REJECTED here too (3.6 s vs 1.9-2.2 fanned)
      Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))),
    Some(s"""
      WITH ${substringCtes("documents")},
      $cutCtes
      SELECT doc_id, n_tokens, n_kept, n_spans, clean_fp FROM cutman
    """.stripMargin.trim))

  /** Span-level decontamination (`Dedup.decontaminateSpans`): the
    * benchmark-overlap intervals inside each training document — d09
    * tells which docs are contaminated, d14 tells exactly where, so
    * the remedy can be a surgical cut instead of dropping the doc.
    * Same broadcast-benchmark shape as d09 (train's only shuffle is
    * its own per-doc window), same island merge as d12.
    */
  val d14 = QueryDef(
    "d14_decontamination_spans",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateSpans( // train-side fan-out: see d09 (r19)
        train = Tables.fanOut(s, dir, "documents",
          docs.filter(col("source") =!= "src0")),
        benchmark = docs.filter(col("source") === "src0"))
    },
    Some("""
      WITH ttoksx AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE source <> 'src0'),
      bg AS (
        SELECT DISTINCT
          ('0x' || substr(md5(unnest(list_transform(range(len(t)-4),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]))), 1, 15))::BIGINT AS gh
        FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
              FROM documents WHERE source = 'src0') WHERE len(t) >= 5),
      pgt AS (
        SELECT doc_id, pos,
          ('0x' || substr(md5(t[pos+1]||' '||t[pos+2]||' '||t[pos+3]||' '||t[pos+4]||' '||t[pos+5]), 1, 15))::BIGINT AS gh
        FROM (SELECT doc_id, t, unnest(range(len(t)-4)) AS pos FROM ttoksx WHERE len(t) >= 5)),
      dupx AS (SELECT doc_id, pos FROM pgt JOIN bg USING (gh)),
      islx AS (
        SELECT doc_id, pos,
          SUM(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, pos,
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dupx)),
      spansy AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 5 AS e
        FROM islx GROUP BY doc_id, island)
      SELECT sp.doc_id,
        CAST(s AS INTEGER) AS span_start,
        CAST(e AS INTEGER) AS span_end,
        CAST(e - s AS INTEGER) AS span_tokens,
        md5(array_to_string(t[s+1:e], ' ')) AS span_fp
      FROM spansy sp JOIN ttoksx USING (doc_id)
    """.stripMargin.trim))

  /** The composed corpus-cleaning manifest — the operators a real
    * preprocessing run chains, as ONE disposition table over the whole
    * corpus: exact dedup first (cheapest, removes identical docs so
    * the substring pass never "cuts" whole-file duplicates), then the
    * substring cut within the survivors, then a min-length quality
    * gate on what remains. Every document gets a status —
    * `dup_exact` (an identical earlier doc survives), `too_short`
    * (fewer than 20 tokens survive the cut), or `kept` — plus the cut
    * manifest columns, so the cleaned corpus is one filter + one join
    * away. Each stage is an operator this registry already verifies in
    * isolation (d01, d12/d13); this query verifies their COMPOSITION —
    * the survivor corpus feeding the gram pass changes which grams are
    * "shared", so the composite is not derivable from the parts.
    */
  val d15 = QueryDef(
    "d15_corpus_manifest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the SURVIVOR corpus is the multiply-consumed intermediate here:
      // cutSpans re-tokenizes its input for each of its internal
      // consumers (grams, position cover, anchor), and un-pinned each
      // re-execution replays the scan + fingerprint + keeper window.
      // Pin it ONCE, fanned to the session's parallelism (the same
      // corpus-row weight class as d02's checkpointed shingle index) —
      // probing showed fanning `docs` instead regresses (the window
      // repartitions by __fp right after, wasting the fan) and
      // checkpointing `flagged` pins too early (the cut re-tokenizes
      // either way).
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val flagged = docs
        .withColumn("__fp", graft.text.TextFunctions.fingerprint(col("text")))
        .withColumn("__keeper", min(col("doc_id")).over(Window.partitionBy(col("__fp"))))
      val survivors = Tables.fanOut(s, dir, "documents",
          flagged.filter(col("doc_id") === col("__keeper")).select("doc_id", "text"))
        .localCheckpoint(true)
      val cut = Dedup.cutSpans(survivors)
      flagged
        .withColumn("__toks", graft.text.TextFunctions.tokens(col("text")))
        .select(col("doc_id"), col("__keeper"), size(col("__toks")).as("__nt"))
        .join(cut.drop("n_tokens"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") =!= col("__keeper"), lit("dup_exact"))
            .when(col("n_kept") < 20, lit("too_short"))
            .otherwise(lit("kept")).as("status"),
          col("__nt").as("n_tokens"),
          col("n_kept"), col("n_spans"), col("clean_fp"))
    },
    Some(s"""
      WITH basex AS (
        SELECT doc_id, text,
          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents),
      keepx AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM basex),
      sdocs AS (
        SELECT b.doc_id, b.text FROM basex b JOIN keepx k USING (doc_id)
        WHERE k.doc_id = k.keeper),
      ${substringCtes("sdocs")},
      $cutCtes,
      alltoks AS (
        SELECT doc_id, CAST(len(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS INTEGER) AS n_tokens
        FROM documents)
      SELECT a.doc_id,
        CASE WHEN k.doc_id <> k.keeper THEN 'dup_exact'
             WHEN cm.n_kept < 20 THEN 'too_short'
             ELSE 'kept' END AS status,
        a.n_tokens,
        cm.n_kept, cm.n_spans, cm.clean_fp
      FROM alltoks a
      JOIN keepx k USING (doc_id)
      LEFT JOIN cutman cm USING (doc_id)
    """.stripMargin.trim))

  /** Bloom-filter decontamination ([[graft.dedup.Dedup.bloomDecontaminate]]):
    * the memory-bounded variant of d09 — benchmark grams fold into one
    * fixed 2²²-bit filter (512 KiB at ANY benchmark size) and the train
    * probe plan has no join at all. Flags are a deterministic UPPER
    * bound on d09's (false positives possible, false negatives not);
    * the oracle replays the double-hashed md5 positions bit-for-bit,
    * false positives included.
    */
  val d16 = QueryDef(
    "d16_bloom_decontamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bloomDecontaminate( // train-side fan-out: see d09 (r19)
        train = Tables.fanOut(s, dir, "documents",
          docs.filter(col("source") =!= "src0")),
        benchmark = docs.filter(col("source") === "src0"),
        k = 5, kHashes = 5, mBits = 1 << 22)
    },
    Some("""
      WITH ttoks AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE source <> 'src0'),
      btoks AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE source = 'src0'),
      bg AS (
        SELECT DISTINCT unnest(list_transform(range(len(t)-4),
          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])) AS g
        FROM btoks WHERE len(t) >= 5),
      bpos AS (
        SELECT DISTINCT (('0x' || substr(md5(g), 1, 15))::BIGINT
          + i * ('0x' || substr(md5(g), 16, 15))::BIGINT) % 4194304 AS p
        FROM bg CROSS JOIN range(0, 5) t(i)),
      tg AS (
        SELECT DISTINCT doc_id, unnest(list_transform(range(len(t)-4),
          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])) AS g
        FROM ttoks WHERE len(t) >= 5),
      tp AS (
        SELECT doc_id, g, (('0x' || substr(md5(g), 1, 15))::BIGINT
          + i * ('0x' || substr(md5(g), 16, 15))::BIGINT) % 4194304 AS p
        FROM tg CROSS JOIN range(0, 5) t(i)),
      gh AS (
        SELECT doc_id, g, count(bp.p) = 5 AS hit
        FROM tp LEFT JOIN bpos bp USING (p)
        GROUP BY 1, 2),
      ghh AS (
        SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h,
          max(CASE WHEN hit THEN 1 ELSE 0 END) AS hit
        FROM gh GROUP BY 1, 2)
      SELECT doc_id,
        count(*) AS n_grams,
        CAST(sum(hit) AS BIGINT) AS n_maybe_hits,
        sum(hit) * 1.0 / count(*) AS maybe_frac,
        CAST(CASE WHEN sum(hit) > 0 THEN 1 ELSE 0 END AS INTEGER) AS flagged
      FROM ghh GROUP BY 1
    """.stripMargin.trim))

  def all: Seq[QueryDef] =
    Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13,
      d14, d15, d16)
}
