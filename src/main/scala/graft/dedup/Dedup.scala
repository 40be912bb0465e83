package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextFunctions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.H):
  * exact (fingerprint group-by), n-gram Jaccard via inverted shingle
  * index, MinHash-LSH banding, SimHash with pigeonhole banding.
  *
  * Scale design: nothing here ever cross-joins the full corpus. Pair
  * generation always goes through an inverted index or a band bucket
  * (shuffle keyed on shingle / band hash / simhash band), so candidate
  * cost tracks the number of *colliding* documents, not n². Hot buckets
  * (stopword shingles) are dropped by a document-frequency cap — the
  * standard stopword-shingle guard at corpus scale.
  */
object Dedup {

  /** Unique suffix for the edge-count and per-round convergence
    * observations in [[clusters]] — observation names are matched per
    * query execution, and a reused name across concurrent queries could
    * cross-wire.
    */
  private val ccObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact dedup: keep the lowest doc id per content fingerprint. One
    * shuffle on the 60-bit fingerprint.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    docs.withColumn("__fp", fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed("__fp", "fingerprint")
  }

  /** Raw exploded (doc_id, shingle) rows — duplicates preserved (the
    * MinHash MIN is multiset-insensitive, the index dedups downstream).
    * The tokenize+explode is the single most expensive scan-side step of
    * every shingle-based operator; callers that need BOTH signatures and
    * an index over the same corpus should compute this once, pin it, and
    * derive both ([[graft.dedup.SignatureStore]] does).
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = docs
    .withColumn("__toks", tokens(col("text")))
    .select(col("doc_id"), explode(shinglesOf(col("__toks"), k)).as("shingle"))

  /** [[shingleIndex]] over pre-exploded shingle rows: distinct, then the
    * df cap — the cap's corpus is exactly the docs present in `sh`.
    */
  def indexFromShingles(sh: DataFrame, maxDf: Int = 100): DataFrame = {
    val d = sh.distinct()
    val df = d.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    d.join(df.select("shingle"), Seq("shingle"))
  }

  /** Distinct (doc, shingle) inverted index with a document-frequency
    * cap: shingles occurring in more than `maxDf` docs are dropped
    * (they generate quadratic candidate blowup and carry no dedup
    * signal — the "the quick brown"-problem).
    */
  def shingleIndex(docs: DataFrame, k: Int = 3, maxDf: Int = 100): DataFrame =
    indexFromShingles(shingles(docs, k), maxDf)

  /** Exact pairwise Jaccard over the inverted index: pairs sharing ≥1
    * surviving shingle, similarity = |A∩B| / |A∪B|, thresholded.
    * Returns (doc_a, doc_b, n_common, jaccard).
    */
  def jaccardPairs(index: DataFrame, threshold: Double): DataFrame = {
    val sizes = index.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = index.as("a"); val b = index.as("b")
    val common = a.join(b,
      col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Asymmetric containment over the inverted index: pairs sharing ≥1
    * surviving shingle, scored in BOTH directions (|A∩B|/|A| and
    * |A∩B|/|B|), thresholded on the larger. Catches quote/subset
    * duplication — a document swallowed whole by a larger one — which
    * symmetric Jaccard under-scores (|A∩B|/|A∪B| stays small when
    * |B| ≫ |A|). Same candidate discipline as [[jaccardPairs]]: pairs
    * come only from the df-capped index, never all-pairs.
    * Returns (doc_a, doc_b, n_common, c_a_in_b, c_b_in_a).
    */
  def containmentPairs(index: DataFrame, threshold: Double): DataFrame = {
    val sizes = index.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = index.as("a"); val b = index.as("b")
    val common = a.join(b,
      col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("c_a_in_b", col("n_common") / col("n_a"))
      .withColumn("c_b_in_a", col("n_common") / col("n_b"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select("doc_a", "doc_b", "n_common", "c_a_in_b", "c_b_in_a")
  }

  /** MinHash prime modulus (2^31 − 1) and the i-th permutation
    * (a·h + b) mod P of a shingle's 60-bit md5-prefix base hash. One
    * md5 per shingle, then integer arithmetic for every permutation —
    * engine-portable (the DuckDB oracle replays it) and 16× cheaper
    * than salted re-hashing.
    */
  val MinhashP = 2147483647L

  /** The i-th permutation as plain arithmetic (shared by the Column
    * plan and the typed MinHashAggregator).
    */
  def permHash(h: Long, i: Int): Long = (h * (2 * i + 1) + (7919 * i + 1)) % MinhashP

  private def perm(h: Column, i: Int): Column =
    (h * (2 * i + 1) + (7919 * i + 1)) % MinhashP

  /** [[minhashBands]] over pre-exploded shingle rows. */
  def bandsFromShingles(sh: DataFrame, bands: Int = 8, rows: Int = 2): DataFrame = {
    val hashed = sh
      .withColumn("__h",
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long") % MinhashP)
    val minCols = (0 until rows * bands).map(i => min(perm(col("__h"), i)).as(s"__m$i"))
    hashed.groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          concat_ws("_", (0 until rows).map(r =>
            col(s"__m${rows * b + r}").cast("string")): _*)): _*)).as(Seq("band", "band_hash")))
  }

  /** MinHash band signatures, b bands × 2 rows: 2b permuted min-hashes,
    * band key = the band's two mins. Returns (doc_id, band, band_hash)
    * — the LSH bucket key. Candidate probability for similarity s is
    * 1 − (1−s²)^b — the r=2 rows kill the long tail of weak single-hash
    * collisions (r=1 gave 82k candidates on 5k docs; r=2 gives ~1.5k)
    * while keeping ~90% recall at s=0.5. Candidates are re-verified
    * with exact Jaccard, so precision is decided there, not here.
    *
    * Shape: explode shingles once, one md5 + mod-P base hash per
    * shingle, then ONE hash-aggregate computing all 2b mins (codegen'd,
    * map-side partial) — a single narrow shuffle on doc_id.
    *
    * @param rows minhash rows per band — the band-bucket SELECTIVITY
    *   knob: a band collides with probability J^rows, so raising rows
    *   from the default 2 (the oracle-pinned geometry every d-query
    *   replays) to 3+ is the remediation when a boilerplate-heavy
    *   corpus grows hot band buckets (docs with moderate mutual J
    *   colliding en masse drive the uncapped candidate join's m²/2
    *   term). Recall at a given J drops with rows (1-(1-J^r)^b), so a
    *   retune pairs more rows with more bands — see
    *   [[SignatureStore.retune]].
    */
  def minhashBands(docs: DataFrame, k: Int = 3, bands: Int = 8, rows: Int = 2): DataFrame =
    bandsFromShingles(shingles(docs, k), bands, rows)

  /** LSH candidates (pairs sharing any band bucket) re-verified with
    * exact Jaccard over the inverted index. The verify join is keyed on
    * candidate pairs — cost tracks collisions, never n².
    *
    * One shingle pass: the tokenize+explode (the expensive scan-side
    * step) is eagerly checkpointed and BOTH derivations — band
    * signatures and the df-capped index — aggregate from it, instead of
    * each re-scanning and re-exploding the corpus; the index is
    * checkpointed too because [[lshPairsFrom]] consumes it three times
    * (sizes + both verify sides). Same discipline as
    * [[SignatureStore.ingest]]. Note this makes the call eager (the
    * checkpoints materialize immediately), and it trades executor
    * storage for the exploded shingle set against re-scanning and
    * re-tokenizing the corpus per derivation — the right trade for a
    * batch; a corpus-wide pass at full history scale should go through
    * [[SignatureStore]] instead, which amortizes the history side to
    * zero.
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 3, bands: Int = 8,
      maxDf: Int = 100, threshold: Double = 0.5): DataFrame = {
    val sh = shingles(docs, k).localCheckpoint(true)
    val idx = indexFromShingles(sh, maxDf).localCheckpoint(true)
    lshPairsFrom(bandsFromShingles(sh, bands), idx, threshold)
  }

  /** [[minhashLshPairs]] over precomputed band signatures and inverted
    * index (callers holding a shared exploded-shingle pass derive both
    * without re-scanning the corpus).
    */
  def lshPairsFrom(bandsDf: DataFrame, index: DataFrame,
      threshold: Double): DataFrame = {
    val x = bandsDf.as("x"); val y = bandsDf.as("y")
    val candidates = x.join(y,
      col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sizes = index.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val ia = index.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingle", "sh_a")
    val ib = index.withColumnRenamed("doc_id", "doc_b2").withColumnRenamed("shingle", "sh_b")
    val common = candidates
      .join(ia, "doc_a")
      .join(ib, col("doc_b") === col("doc_b2") && col("sh_a") === col("sh_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Pairs [[clusters]] resolves on the driver at most: 100K. A fixed
    * driver-memory bound, like Spark's broadcast threshold: it does not
    * depend on the corpus, and it is no larger than the biggest graph
    * measured on both paths (see [[clusters]]). The text store's ingest
    * broadcasts its history-dup table, also two longs a row, under the
    * same bound.
    */
  private[dedup] val DriverPairs = 100000L

  /** Resolve a near-dup pair set into duplicate clusters (connected
    * components), so a corpus can actually be deduplicated (keep one
    * representative per component) rather than just enumerate pairs.
    * Returns one row per document in `docs`: (id, cluster, is_rep)
    * where `cluster` is the smallest doc id in the component (the id
    * itself for singletons) and `is_rep` marks the surviving
    * representative.
    *
    * The algorithm is picked from the size the graph actually has. One
    * job checkpoints the pair list as (src, dst) longs and observes its
    * count; both paths read that checkpoint.
    *
    *  - '''Driver path''' (at most [[DriverPairs]] pairs): the pairs are
    *    collected and union-find (min-id root, path halving) labels them
    *    on the driver; the label table of every non-root vertex is
    *    broadcast-joined to `docs`. A day-batch's survivor pair list is
    *    a few dozen edges (dup ratio ~0.04), and the distributed path
    *    spent most of the store ingest's survivor stage on job launches
    *    for it. Driver heap at 100K random pairs (measured, one JVM,
    *    2 cores): the collected rows hold 11 MB (~110 B a pair), the
    *    sorted ids 1 MB, and the label table ~45 B a label as tuples
    *    plus ~190 B as the local relation: about 60 MB at the bound
    *    with its at most 200K labels. The labeling took 1.1-2.5 s there.
    *    On ScaleCheck's `d06x_cluster_scale` at ×10 (93,330 pairs, a
    *    150-diameter chain among 5-cliques) the whole query took 7.7 s
    *    on this path and 13.6 s on the distributed one (9 rounds).
    *  - '''Distributed path''' (above the bound): min-label propagation
    *    with pointer jumping over the checkpointed pairs
    *    ([[propagateLabels]]), rounds O(log diameter).
    *
    * Both paths give the same labels (DedupSpec's property spec pins
    * it on random graphs).
    *
    * @param onRounds accounting hook: called once with the number of
    *   label-propagation rounds the labeling took (0 on the driver
    *   path) — the observable the O(log diameter) claim is spec-pinned
    *   on (DedupSpec drives a diameter-1000 chain and asserts the count
    *   stays logarithmic).
    */
  def clusters(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id",
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxRounds: Int = 50, onRounds: Int => Unit = _ => ()): DataFrame =
    clustersBounded(pairs, docs, DriverPairs, idCol, aCol, bCol, maxRounds, onRounds)

  /** [[clusters]] with the driver path's pair bound as a parameter: a
    * negative `driverPairs` always takes the distributed path.
    */
  private[graft] def clustersBounded(pairs: DataFrame, docs: DataFrame, driverPairs: Long,
      idCol: String = "doc_id", aCol: String = "doc_a", bCol: String = "doc_b",
      maxRounds: Int = 50, onRounds: Int => Unit = _ => ()): DataFrame = {
    val obs = org.apache.spark.sql.Observation(s"graft_cc_${ccObsId.incrementAndGet()}")
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true) // the count picks the path; both read these edges
    val n = Overlap.observedRow(obs, edges.agg(count(lit(1))).head()).getLong(0)
    val labels =
      if (n <= driverPairs) { onRounds(0); driverLabels(edges) }
      else propagateLabels(edges, maxRounds, onRounds)
    docs.select(col(idCol).cast("long").as(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol)).as("cluster"))
      .withColumn("is_rep", col("cluster") === col(idCol))
  }

  /** Union-find over a small (src, dst) edge list, on the driver: the
    * broadcast (id, lbl) table of every vertex whose component min `lbl`
    * is not itself. Vertices are indexed in id order, so the min-index
    * root every union keeps is the component's min id; repeated,
    * reversed and self edges change nothing.
    */
  private def driverLabels(edges: DataFrame): DataFrame = {
    val rows = edges.collect()
    val ids = rows.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    rows.foreach { r =>
      val (a, b) = (find(index(r.getLong(0))), find(index(r.getLong(1))))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val labels = ids.indices.collect { case i if find(i) != i => (ids(i), ids(find(i))) }
    broadcast(edges.sparkSession.createDataFrame(labels).toDF("id", "lbl"))
  }

  /** The distributed path of [[clusters]]: min-label propagation over
    * the checkpointed (src, dst) `pairs`, returning the (id, lbl) table
    * of every vertex in them. The edges are the symmetric view of that
    * checkpoint, so no second copy of the graph is materialized.
    *
    * Scale shape: each round is one shuffle-join of the symmetric edge
    * list against the label table keyed on vertex id plus a min
    * aggregate, followed by a POINTER-JUMP self-join of the label table
    * (`lbl := min(lbl, lbl(lbl))`; engaged only from round 3 and
    * skipped once the hop converges — a hop fixpoint is already the
    * component min, and every real duplicate cluster is a near-clique
    * that converges within the first two plain hops, so the common
    * case pays NO jump at all) — cost per round tracks
    * |edges| + |vertices|, never a pair blowup. The jump is what makes
    * rounds O(log diameter) instead of O(diameter): a label reaching a
    * node k hops from the component min doubles its reach every round
    * (the classic pointer-doubling/Shiloach–Vishkin trick), so a
    * 1000-long chain of pairwise near-dups — the adversarial topology
    * for plain min-propagation, which would need 1000 full-shuffle
    * rounds and blow the round cap — settles in ~10. Duplicate clusters
    * on real corpora are near-cliques (diameter 1–2, 2–3 rounds), so
    * the jump costs one extra |V| hash join on the common case and
    * removes the cliff on the rare one; `maxRounds = 50` now covers any
    * diameter up to 2^50. Each round's labels are eagerly
    * `localCheckpoint`ed: the label table feeds multiple consumers in
    * the next round (the neighbor-min aggregate, the join back, BOTH
    * sides of the jump self-join), so a mere `persist()` would DOUBLE
    * the logical plan every round — analysis and cache lookup walk a
    * 2^rounds tree long before any data moves (a persist pin is not a
    * lineage truncation; same family as the round-5 lesson pinned in
    * `IvfIndex.train`). The checkpoint cuts each round's plan to a
    * constant-size `LogicalRDD` while the labels stay distributed in
    * executor storage; superseded rounds are freed by the context
    * cleaner when their RDDs go out of scope. On a multi-executor
    * cluster a reliable `checkpoint()` (HDFS dir) trades executor-loss
    * tolerance for the same truncation. Convergence is `require`d,
    * never silently partial.
    */
  private def propagateLabels(pairs: DataFrame, maxRounds: Int,
      onRounds: Int => Unit): DataFrame = {
    // the symmetric view of the checkpointed pairs: each round reads the
    // checkpoint twice, and no second copy of the edges is held.
    // Repeated edges are kept; they only repeat join rows, which the
    // map-side min collapses
    val edges = pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
    // the INITIAL label table stays LAZY (r20): the fused first job's
    // checkpoint below is the first lineage truncation, and the initial
    // table's consumers inside that plan re-derive it from the
    // checkpointed pairs — one cheap recomputation instead of a whole
    // separate checkpoint job
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    // one plain hop over the current labels. The convergence check
    // rides the checkpoint's own job as an OBSERVED metric (r20, guide
    // §2.6 job-count): store-lifecycle ingests (d08/s06) pay 2–3
    // rounds per batch, and a separate `hop.filter(...).isEmpty`
    // action per round was pure job-launch latency — the observation
    // is collected DURING the eager checkpoint (measured 0.3–2.5 ms
    // post-action vs a ~0.1–0.2 s extra job). The explicit job remains
    // as the fallback arm if the metric ever fails to post.
    def hopOf(lbls: DataFrame): DataFrame = {
      val nbrMin = edges.join(lbls.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("lbl")).as("nbr_min"))
      lbls.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"))
    }
    def observedConverged(hop: DataFrame): (DataFrame, Boolean) = {
      val obs = org.apache.spark.sql.Observation(
        s"graft_cc_${ccObsId.incrementAndGet()}")
      val ck = hop
        .observe(obs, count(when(col("lbl") < col("prev"), 1)).as("changed"))
        .localCheckpoint(true) // feeds the check and both jump sides below
      val conv = scala.util.Try(scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(10, "s"))) match {
        case scala.util.Success(row) => row.getLong(0) == 0L
        case scala.util.Failure(_) => ck.filter(col("lbl") < col("prev")).isEmpty
      }
      (ck, conv)
    }
    // FIRST TWO PLAIN HOPS, FUSED INTO ONE JOB (r20): every real
    // duplicate cluster is a near-clique that settles within two plain
    // hops — and convergence can only be OBSERVED by a hop that
    // changes nothing, so the minimum schedule for any nonempty graph
    // is two hops. Fusing them (hop1 as a LAZY localCheckpoint that
    // materializes inside hop2's eager checkpoint job, then serves
    // hop2's two consumers from block storage) halves the common
    // case's job count without changing a single hop: the round
    // counter advances by the same two plain rounds the old loop ran
    // before engaging the jump, so the jump schedule — and the
    // spec-pinned O(log diameter) round count — is untouched. An empty
    // graph just runs one empty fused job and reads as converged.
    val first = {
      val hop1 = hopOf(labels).select("id", "lbl").localCheckpoint(false)
      observedConverged(hopOf(hop1))
    }
    var converged = first._2
    labels = first._1.select("id", "lbl")
    var round = 2
    while (!converged && round < maxRounds) {
      // labels only decrease, so any strict drop means more work. When
      // the HOP changed nothing we are at the plain-propagation
      // fixpoint (every label ≤ its neighbors' min), which IS the
      // component min — the jump is provably a no-op there, so the
      // final round (and a 2–3-round near-clique corpus generally)
      // skips the jump join entirely
      val (hop, conv) = observedConverged(hopOf(labels))
      converged = conv
      if (converged) {
        labels = hop.select("id", "lbl")
      } else {
        // jump: lbl := min(lbl, lbl(lbl)) — pointer doubling. A label
        // is always the id of a node in the same component (it arrived
        // over edges), so chasing it one level stays within the
        // component, and the component min's reach roughly doubles per
        // round once engaged: rounds are O(log diameter), not
        // O(diameter) — the difference between a 200-link chain of
        // near-dups converging in ~9 rounds and blowing the round cap
        labels = hop
          .join(hop.select(col("id").as("lbl"), col("lbl").as("jump")), Seq("lbl"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("jump"), col("lbl"))).as("lbl"))
          .localCheckpoint(true)
      }
      round += 1
    }
    require(converged, s"component labeling did not converge in $maxRounds rounds")
    onRounds(round)
    labels
  }

  /** 64-bit SimHash per document (token-multiset majority vote per bit,
    * token hash = first 16 hex chars of md5 carried as two 32-bit
    * halves — see [[graft.text.TextFunctions.hash32]]). One explode +
    * one group-by with 64 conditional-sum partials (codegen'd, map-side
    * combine) — two narrow shuffles, no pairs yet. The signature is a
    * signed long whose bit 63 is the two's-complement sign bit, matching
    * the oracle's BIGINT bit-for-bit.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("__md5", md5(col("tok")))
      .withColumn("hi", hash32(col("__md5"), 1))
      .withColumn("lo", hash32(col("__md5"), 9))
    val votes = (0 until 64).map(j => sum(bitVote64(col("hi"), col("lo"), j)).as(s"v$j"))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        simhashFromVotes64((0 until 64).map(j => col(s"v$j"))).as("simhash"))
  }

  /** Near-dup pairs at Hamming distance ≤ maxHamming over the 64-bit
    * SimHash, found via 16-bit band buckets. Pigeonhole: ≤3 flipped bits
    * across 4 bands leave ≥1 band identical, so banding at maxHamming≤3
    * is EXACT (same result as the n² scan), not approximate.
    *
    * Bucket-space math (the reason this is 64-bit, not narrower): each
    * band ranges over 2¹⁶ = 65,536 values, so the banded self-join's
    * within-bucket pair space is ~n²/65,536 per band under a uniform
    * hash — vs only 16 values per band for a 16-bit signature, whose
    * n²/16 candidate blowup (and 65,536-value total signature space,
    * saturated by any billion-document corpus) makes near-dup at
    * Hamming ≤ 3 pure collision noise at scale.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole only guarantees Hamming <= 3")
    val sh = simhash(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(65535L))): _*)).as(Seq("band", "band_val")))
    val x = banded.as("x"); val y = banded.as("y")
    x.join(y,
      col("x.band") === col("y.band") && col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("simhash_a"), col("y.simhash").as("simhash_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Train/eval decontamination: per training document, how many of its
    * distinct word k-grams also occur anywhere in a benchmark corpus —
    * the n-gram contamination check an LLM pipeline runs before
    * training (the 13-gram discipline of the GPT-3 appendix; k is a
    * parameter because the right span tracks tokenizer granularity).
    * Returns (doc_id, n_grams, n_hits, contamination_frac,
    * contaminated) with `contaminated` = any-overlap, the conservative
    * flag used for eval-set scrubbing.
    *
    * Scale shape: the benchmark side is a fixed-size eval suite
    * (thousands of docs even when the train corpus is 100 TB), so its
    * distinct gram-hash set is explicitly `broadcast()` — the train
    * side never shuffles for the membership probe; the only shuffle is
    * the per-doc aggregation, whose map-side partial distinct dedups
    * grams before they travel. Grams are compared as 60-bit md5-prefix
    * hashes (engine-portable, and 8 bytes on the wire instead of a
    * k-word string).
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, k: Int = 5): DataFrame = {
    def gramHash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val benchGrams = broadcast(
      shingles(benchmark, k)
        .select(gramHash(col("shingle")).as("h"))
        .distinct()
        .withColumn("__hit", lit(1)))
    shingles(train, k)
      .select(col("doc_id"), gramHash(col("shingle")).as("h"))
      .join(benchGrams, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("h")).as("n_grams"),
        countDistinct(when(col("__hit").isNotNull, col("h"))).as("n_hits"))
      .withColumn("contamination_frac",
        when(col("n_grams") > 0, col("n_hits") / col("n_grams")))
      .withColumn("contaminated",
        when(col("n_hits") > 0, 1).otherwise(0))
  }

  /** Bloom-filter decontamination — the MEMORY-BOUNDED scale path of
    * [[decontaminate]]. The exact variant broadcasts the benchmark's
    * full distinct gram set, which is right while eval suites stay
    * KB–MB; a many-suite union (or a "benchmark" that is itself a
    * corpus) has no such bound. Here the benchmark grams fold into a
    * FIXED mBits-wide Bloom filter — ~10 bits/gram for ≈1% false
    * positives at kHashes=5, vs ≥8 bytes/gram for the exact set — and
    * the probe plan has NO JOIN AT ALL: the bitmap rides into the gram
    * scan as a plan literal and each train gram answers membership in
    * kHashes array reads ([[BloomHitsExpr]]).
    *
    * Scale shape: the build is one map-side-combining OR aggregate
    * ([[BloomOrAggregator]] — one mBits/8-byte row per partition
    * through the only benchmark exchange); the train side is a narrow
    * gram scan + its own per-doc aggregation, identical at any
    * benchmark size. Flags are an UPPER bound on contamination
    * (deterministic false positives, never false negatives): every doc
    * [[decontaminate]] flags is flagged here, so the sound policy is
    * bloom-first, exact-recheck-the-flagged — the recheck's benchmark
    * join then touches only flagged docs.
    *
    * Determinism: positions are double-hashed md5 ([[BloomMath]]), so a
    * DuckDB oracle replays the filter bit-for-bit — false positives
    * included — from the same md5/substr/int64 arithmetic.
    */
  def bloomDecontaminate(train: DataFrame, benchmark: DataFrame, k: Int = 5,
      kHashes: Int = 5, mBits: Int = 1 << 22): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    require(kHashes >= 1 && kHashes <= BloomMath.MaxHashes,
      s"kHashes must be in [1, ${BloomMath.MaxHashes}] (int64 headroom), got $kHashes")
    val bPos = shingles(benchmark, k).select(
      explode(toCol(BloomPositionsExpr(toExpr(col("shingle")),
        toExpr(lit(kHashes)), toExpr(lit(mBits))))).as("p"))
    val bloomOr = udaf(new BloomOrAggregator(mBits),
      org.apache.spark.sql.Encoders.scalaLong)
    // ONE driver-side value of fixed size (mBits/8 bytes) — the only
    // thing that ever leaves the benchmark side, at any benchmark size
    val bitmap = bPos.agg(bloomOr(col("p"))).head().getAs[Array[Byte]](0)
    val hitsOf = toCol(BloomHitsExpr(toExpr(col("shingle")), kHashes, mBits, bitmap))
    // probe + hash MAP-SIDE, then d09's wire discipline: grams travel
    // through the one train-side shuffle as 60-bit md5-prefix longs
    // (8 bytes), never as k-word strings — h is the SAME md5's first 15
    // hex chars the bloom positions derive from, so the oracle replays
    // both from one md5(g). countDistinct(when(hit, h)) counts a hash
    // once if ANY of its occurrences hit, which is exactly per-distinct-
    // gram membership (equal grams hash and probe identically).
    def gramHash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    shingles(train, k)
      .select(col("doc_id"), gramHash(col("shingle")).as("h"),
        (hitsOf === lit(kHashes)).as("__hit"))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("h")).as("n_grams"),
        countDistinct(when(col("__hit"), col("h"))).as("n_maybe_hits"))
      .withColumn("maybe_frac", col("n_maybe_hits") / col("n_grams"))
      .withColumn("flagged", when(col("n_maybe_hits") > 0, 1).otherwise(0))
  }

  /** Tokenized corpus: (doc_id, __toks) with the canonical token array
    * materialized (HOF hygiene — see TextFunctions.shinglesOf).
    */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.withColumn("__toks", tokens(col("text")))
      .select(col("doc_id"), col("__toks"))

  /** Positional k-grams of a tokenized corpus as 60-bit hashes:
    * (doc_id, pos, gh) where gh hashes tokens[pos, pos+k).
    */
  private def positionalGrams(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("__toks")) >= k)
      .select(col("doc_id"), posexplode(shinglesOf(col("__toks"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gh"))

  /** Gaps-and-islands merge of flagged k-gram START positions into
    * maximal covered token intervals `[__s, __e)`: consecutive starts
    * ≤ k apart have overlapping/abutting k-token coverage and fuse. A
    * per-doc window over only that doc's flagged positions — linear.
    */
  private def mergePositions(dup: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__isl", sum(
        when(col("__prev").isNull || col("pos") - col("__prev") > k, 1)
          .otherwise(0)).over(w))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("__s"), (max(col("pos")) + k).as("__e"))
  }

  /** (doc_id, span offsets, token count, span-text md5) from merged
    * intervals + the tokenized corpus — the shared publication shape
    * of the span operators.
    */
  private def publishSpans(spans: DataFrame, toks: DataFrame): DataFrame =
    spans.join(toks, "doc_id")
      .select(col("doc_id"),
        col("__s").cast("int").as("span_start"),
        col("__e").cast("int").as("span_end"),
        (col("__e") - col("__s")).cast("int").as("span_tokens"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__s") + 1, col("__e") - col("__s"))))
          .as("span_fp"))

  /** Exact substring-level dedup (the Lee et al. 2021 "deduplicating
    * training data" pass): per document, the MAXIMAL token intervals
    * every position of which starts a k-gram that also occurs in at
    * least one OTHER document — i.e. the spans a substring-dedup pass
    * would cut. Published per span: 0-based token offsets
    * `[span_start, span_end)`, the token count, and an md5 fingerprint
    * of the span's canonical text (so downstream can group identical
    * cut spans across the corpus without re-reading the documents).
    *
    * Semantics: a k-gram occurrence is duplicated iff its gram VALUE
    * appears in ≥2 distinct documents (within-doc repetition alone is
    * repetition, not duplication — t07 measures that); duplicated
    * gram START positions merge into one span while consecutive starts
    * are ≤ k apart (their k-token coverages overlap or abut), and only
    * spans of ≥ `minTokens` tokens are kept.
    *
    * Scale shape — this pass is LINEAR, unlike any pairwise dedup:
    * gram sharedness is one aggregate on the 60-bit gram hash (never a
    * doc-list or pair join; a gram shared by a million docs still
    * produces ONE row on the build side of the 1:1 semi-join), the
    * interval merge is a per-document window over that document's
    * duplicated positions only, and no operator touches a pair space.
    * Grams travel as 60-bit md5-prefix longs (8 bytes, engine-portable
    * so the DuckDB oracle replays sharedness bit-for-bit).
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 5, minTokens: Int = 15): DataFrame = {
    val toks = tokenized(docs)
    val grams = positionalGrams(toks, k)
    val shared = grams.select("doc_id", "gh").distinct()
      .groupBy("gh").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select("gh")
    val dup = grams.join(shared, "gh").select("doc_id", "pos")
    publishSpans(
      mergePositions(dup, k).filter(col("__e") - col("__s") >= minTokens),
      toks)
  }

  /** Span-level train/eval decontamination — WHERE the benchmark text
    * sits in each training document, not just whether it does
    * ([[decontaminate]] flags; this locates, so the fix can be a cut
    * instead of dropping the whole document): positions whose k-gram
    * appears in the benchmark's gram set, merged into maximal
    * contaminated intervals by the same gaps-and-islands pass as
    * [[duplicatedSpans]]. Every contaminated window is reported
    * (minTokens defaults to k = no gate — eval text is removed even
    * when short). The benchmark gram set is broadcast exactly like
    * [[decontaminate]]'s (eval suites stay KB–MB at any corpus scale),
    * so the train side's only shuffle is its own per-doc window.
    */
  def decontaminateSpans(train: DataFrame, benchmark: DataFrame,
      k: Int = 5, minTokens: Int = 0): DataFrame = {
    def gramHash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val benchGrams = broadcast(
      shingles(benchmark, k)
        .select(gramHash(col("shingle")).as("gh"))
        .distinct())
    val toks = tokenized(train)
    val dup = positionalGrams(toks, k)
      .join(benchGrams, "gh").select("doc_id", "pos")
    publishSpans(
      mergePositions(dup, k).filter(col("__e") - col("__s") >= math.max(minTokens, k)),
      toks)
  }

  /** Apply the substring-dedup cut: each document's canonical text with
    * every [[duplicatedSpans]] interval removed (ALL copies of a
    * duplicated span are cut, the Lee-et-al policy — exact-duplicate
    * whole documents should be handled by [[exact]] first, which keeps
    * one representative). Publishes per doc the before/after token
    * counts, span count, and an md5 fingerprint of the cleaned text —
    * every document appears, cut or not, so the output IS the cleaned
    * corpus manifest.
    *
    * Scale shape: [[duplicatedSpans]]' linear plan, plus one
    * doc_id-keyed join of token positions to that doc's spans (fan-out
    * = positions × spans-of-that-doc, spans per doc are few) and one
    * per-doc aggregation — no pair space, no window over the corpus.
    */
  def cutSpans(docs: DataFrame, k: Int = 5, minTokens: Int = 15): DataFrame = {
    // the span table is consumed twice (position cover + per-doc span
    // count) and its subtree is the whole gram/sharedness pipeline —
    // pin it eagerly or every consumer re-runs that pipeline (lesson 20;
    // the table itself is small: a few spans per affected doc)
    val spans = duplicatedSpans(docs, k, minTokens)
      .select(col("doc_id"), col("span_start").as("__s"), col("span_end").as("__e"))
      .localCheckpoint(true)
    val toks = tokenized(docs)
    val pos = toks.select(col("doc_id"),
      posexplode(col("__toks")).as(Seq("pos", "tok")))
    // covered = the token position falls inside ANY of its doc's spans;
    // the doc_id equi-join keys the shuffle, the range test is a filter
    val covered = pos.join(spans, Seq("doc_id"))
      .filter(col("pos") >= col("__s") && col("pos") < col("__e"))
      .select("doc_id", "pos").distinct()
    val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
    val keptAgg = kept.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("__n_kept"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("__clean"))
    // anchor on the full corpus: a WHOLLY-cut document (every token in
    // a duplicated span) has no kept rows but must still appear — its
    // clean text is empty, not absent
    toks.select(col("doc_id"), size(col("__toks")).as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .join(spans.groupBy("doc_id").agg(count(lit(1)).cast("int").as("__n_spans")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__n_kept"), lit(0)).as("n_kept"),
        coalesce(col("__n_spans"), lit(0)).as("n_spans"),
        md5(coalesce(col("__clean"), lit(""))).as("clean_fp"))
  }
}
