package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Dedup specs: exact-dedup survivor rule, SimHash banding exactness
  * (pigeonhole vs brute force), LSH candidate recall on the real corpus.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps the lowest id per identical content") {
    val docs = Seq(
      (10L, "same  Text here"), (3L, "same text HERE"), (7L, "different"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 7L)) // normalization collapses case/space
  }

  test("decontaminate: overlap counts, flags, and the short-doc guard") {
    val train = Seq(
      // 6 tokens → two 5-grams: "a b c d e", "b c d e f"; first one leaks
      (1L, "a b c d e f"),
      // verbatim benchmark copy → every gram hits
      (2L, "a b c d e"),
      // clean doc, no overlap
      (3L, "p q r s t u v"),
      // under 5 tokens → no grams → absent from the result
      (4L, "x y z"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, bench, k = 5)
      .select("doc_id", "n_grams", "n_hits", "contaminated")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 1), (2L, 1L, 1L, 1), (3L, 3L, 0L, 0)))
  }

  test("bloom decontamination: sound upper bound of exact, no-join probe, math round-trip") {
    import graft.dedup.BloomMath
    import org.apache.spark.unsafe.types.UTF8String
    // kernel round-trip: a gram inserted into a bitmap is a full hit; a
    // gram never inserted misses (m big enough that a 5-position false
    // positive against ONE inserted gram is ~(5/m)^5 ≈ impossible)
    val m = 1 << 16
    val bm = new Array[Byte](m / 8)
    val ps = BloomMath.positions(UTF8String.fromString("a b c d e"), 5, m).toLongArray()
    assert(ps.forall(p => p >= 0 && p < m))
    ps.foreach(p => bm((p >>> 3).toInt) =
      (bm((p >>> 3).toInt) | (1 << (p & 7).toInt)).toByte)
    assert(BloomMath.hits(bm, UTF8String.fromString("a b c d e"), 5, m) == 5)
    assert(BloomMath.hits(bm, UTF8String.fromString("p q r s t"), 5, m) < 5)

    // operator vs exact on the real corpus: NEVER a false negative —
    // every doc the exact pass flags is bloom-flagged, with
    // n_maybe_hits >= n_hits per doc (the recheck-the-flagged contract)
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val exact = Dedup.decontaminate(train, bench, k = 5)
      .select(col("doc_id"), col("n_grams").as("e_n_grams"), col("n_hits"),
        col("contaminated"))
    val bloom = Dedup.bloomDecontaminate(train, bench, k = 5)
    val joined = exact.join(bloom, "doc_id")
      .select(col("doc_id"), col("e_n_grams"), col("n_hits"),
        col("contaminated"), col("n_maybe_hits"), col("flagged"))
      .as[(Long, Long, Long, Int, Long, Int)].collect()
    assert(joined.nonEmpty && joined.exists(_._4 == 1), "fixture must have contamination")
    joined.foreach { case (id, ng, nh, cont, maybe, flag) =>
      assert(maybe >= nh, s"doc $id: bloom lost a hit ($maybe < $nh)")
      assert(maybe <= ng, s"doc $id: more hits than grams")
      assert(cont == 0 || flag == 1, s"doc $id: exact-contaminated but not flagged")
    }
    // row sets agree (same gram gate), and at 2^22 bits for this corpus
    // the false-positive load is negligible: flags should coincide
    assert(exact.count() == bloom.count())

    // empty benchmark → zero filter → nothing flagged
    val none = Dedup.bloomDecontaminate(train, bench.limit(0), k = 5)
    assert(none.filter(col("flagged") =!= 0).count() == 0)
  }

  test("containment flags a swallowed snippet that Jaccard misses") {
    // doc 1 is a verbatim snippet inside doc 2 (plus 2's own tail):
    // shingles(1) ⊂ shingles(2), so c_a_in_b = 1.0 while jaccard =
    // |A|/|B| stays small. doc 3 shares nothing.
    val snippet = "alpha beta gamma delta epsilon" // 3 3-shingles
    val tail = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, snippet), (2L, s"$snippet $tail"), (3L, "x y z q r s t"))
      .toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(docs)
    val cont = Dedup.containmentPairs(idx, threshold = 0.9)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 3L, 1.0, 3.0 / 33)))
    // the same pair is invisible to symmetric Jaccard at any useful bar
    assert(Dedup.jaccardPairs(idx, threshold = 0.5).count() == 0)
  }

  test("simhash banding equals brute-force hamming scan (pigeonhole)") {
    val docs = Tables.documents(spark, sfDir).limit(200)
    val banded = Dedup.simhashPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sims = Dedup.simhash(docs)
    val a = sims.select(col("doc_id").as("da"), col("simhash").as("sa"))
    val b = sims.select(col("doc_id").as("db"), col("simhash").as("sb"))
    val brute = a.join(b, col("da") < col("db"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(brute.nonEmpty)
  }

  test("typed MinHashAggregator equals the Column-plan signatures") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).limit(50)
    // base hashes exactly as minhashBands computes them
    val hashes = docs
      .withColumn("__toks", graft.text.TextFunctions.tokens(col("text")))
      .select(col("doc_id"),
        explode(graft.text.TextFunctions.shinglesOf(col("__toks"))).as("__s"))
      .withColumn("h",
        conv(substring(md5(col("__s")), 1, 15), 16, 10).cast("long") % Dedup.MinhashP)
      .select(col("doc_id"), col("h")).as[(Long, Long)]
    val agg = new graft.dedup.MinHashAggregator(16)
    val typed = hashes.groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("sig"))
      .collect().toMap
    val fromBands = Dedup.minhashBands(docs)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("band"))
        .flatMap(_.getAs[String]("band_hash").split("_").map(_.toLong)).toSeq)
      .toMap
    assert(typed.keySet == fromBands.keySet)
    typed.foreach { case (id, sig) =>
      assert(sig.toSeq == fromBands(id), s"doc $id")
    }
  }

  test("minhash-LSH finds the strong Jaccard pairs the exact scan finds") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.jaccardPairs(Dedup.shingleIndex(docs), threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // r=2/b=8 recall at j≥0.8 is 1-(1-0.64)^8 ≈ 0.9997 — on this corpus
    // every strong pair must surface.
    assert(exact.subsetOf(lsh), s"missing: ${exact.diff(lsh)}")
  }

  test("sign-bit LSH cosine pairs match brute force at the design threshold") {
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // perturbed copies — same construction as d05 (float-exact k/128 factors)
    val copies = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            (lit(1.0) +
              ((i.cast("long") * 7919L + col("vec_id") * 104729L) % 11L - 5L)
                .cast("double") / lit(128.0)))
            .cast("float").cast("double")).as("embedding"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(copies)
    val lsh = Similarity.lshCosinePairs(corpus, "vec_id", "embedding", 0.9)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteCosinePairs(corpus, "vec_id", "embedding", 0.9)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    // at cosine ≈ 0.999 a sign bit agrees with p ≈ 0.986; the adaptive
    // geometry (n=600 → 7×10-bit bands here) gives per-pair miss
    // (1 − 0.986^10)^7 ≈ 2e-6 — missing any of the ~100 pairs is
    // ~impossible, and the band-count table is sized to hold that
    // property at EVERY corpus size (miss ≤ 1e-3 at cosine 0.99)
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size} missing=${brute.diff(lsh)}")
    assert(brute.nonEmpty)
  }

  test("LSH kernel: float == double input, interpreted == codegen, geometry boundaries") {
    import graft.similarity.{LshFunctions, LshMath, Similarity}
    LshFunctions.register(spark)
    // adaptive geometry boundaries: 2^r >= n, clamped to [8, 30]
    assert(Similarity.bandBitsFor(0) == 8 && Similarity.bandBitsFor(256) == 8)
    assert(Similarity.bandBitsFor(257) == 9)
    assert(Similarity.bandBitsFor((1L << 30) + 1) == 30)
    assert(Similarity.lshSpecFor(600) == ((70, 10))) // 7 bands × 10 bits
    // a widened float and its double twin hash identically (the
    // expression's float fast path must not change any quantization)
    val emb = Tables.embeddings(spark, sfDir).limit(64)
    val viaFloat = emb.selectExpr("vec_id", "lsh_band_hashes(embedding, 48, 8) AS h")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val viaDouble = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .selectExpr("vec_id", "lsh_band_hashes(e, 48, 8) AS h")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaFloat == viaDouble)
    // the codegen'd plan path equals a direct interpreted kernel call
    val one = emb.orderBy("vec_id")
      .select(transform(col("embedding"), x => x.cast("double")).as("e")).head().getSeq[Double](0)
    val direct = LshMath.bandHashes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(one.toArray),
      48, 8, floatInput = false)
    val minId = emb.agg(min("vec_id")).head().getLong(0)
    assert(direct.toIntArray().toSeq == viaDouble(minId))
    // accumulator overflow fails LOUDLY: a wrapped int64 would flip
    // sign bits while a HUGEINT-summing oracle computes the true sign —
    // the two engines' candidate sets would silently diverge
    val huge = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill(4)(1e10))
    val oe = intercept[ArithmeticException](
      LshMath.bandHashes(huge, 8, 8, floatInput = false))
    assert(oe.getMessage.contains("overflow"), oe.getMessage)
  }

  test("LSH bucket-cap drops are observable, never silent") {
    import graft.similarity.Similarity
    import org.apache.spark.sql.Observation
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // default cap on the real corpus: nothing dropped, metric says so
    val clean = new Observation
    Similarity.lshCosinePairs(emb, "vec_id", "embedding", 0.9, observer = Some(clean))
      .write.mode("overwrite").format("noop").save()
    assert(clean.get("capped_buckets") == 0L, clean.get)
    // cap 1 drops every bucket that could EVER produce a pair (a
    // singleton bucket can't): the pair set must collapse to empty,
    // and the AUDIT operator — the guaranteed accounting path; the
    // inline observer is documented best-effort because AQE's
    // empty-relation propagation prunes the observed node from exactly
    // this kind of collapsed plan — must book every dropped bucket
    val pairs = Similarity.lshCosinePairs(emb, "vec_id", "embedding", 0.9,
      bucketCap = 1).count()
    assert(pairs == 0L)
    val audit = Similarity.lshBucketAudit(emb, "vec_id", "embedding", bucketCap = 1).head()
    val dropped = audit.getAs[Long]("capped_buckets")
    assert(dropped > 0L, audit)
    // every dropped bucket held at least two signature rows
    assert(audit.getAs[Long]("capped_rows") >= 2 * dropped, audit)
    // and the audit's geometry is the same adaptive spec the pair run used
    val (pl, bb) = Similarity.lshSpecFor(audit.getAs[Long]("n_vectors"))
    assert(audit.getAs[Int]("planes") == pl && audit.getAs[Int]("band_bits") == bb)
  }

  test("clusters: components, singletons, and a chain needing many rounds") {
    // components {1,2,3} and {10,11}; a 12-node chain (diameter 11, so
    // min-label propagation needs ~11 rounds — exercises the loop and
    // the per-round persist swap); 40 appears in no pair (singleton)
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 31L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val docs = (Seq(1L, 2L, 3L, 10L, 11L, 40L) ++ (20L to 31L)).toDF("doc_id")
    val out = Dedup.clusters(pairs, docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 18)
    Seq(1L, 2L, 3L).foreach(i => assert(out(i) == ((1L, i == 1L))))
    Seq(10L, 11L).foreach(i => assert(out(i) == ((10L, i == 10L))))
    (20L to 31L).foreach(i => assert(out(i) == ((20L, i == 20L)), s"node $i"))
    assert(out(40L) == ((40L, true)))
  }

  test("clusters: a 200-node chain (diameter 199) converges inside the round cap via pointer jumping") {
    // plain min-label propagation needs diameter rounds (199 > the
    // 50-round cap -> require failure); the pointer jump doubles label
    // reach per round, so this settles in ~log2(199) ~ 8 rounds. The
    // adversarial topology for any iterative components algorithm.
    val pairs = (1000L until 1199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = (1000L to 1199L).toDF("doc_id")
    val out = Dedup.clusters(pairs, docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 200)
    (1000L to 1199L).foreach(i =>
      assert(out(i) == ((1000L, i == 1000L)), s"node $i"))
  }

  test("clusters: a 1001-node chain (diameter 1000) converges in O(log diameter) rounds") {
    // the deep-chain pin behind the pointer jump's load-bearing claim:
    // plain propagation needs 1000 rounds (20x the cap); doubling label
    // reach per jump round settles in ~log2(1000) ~ 10. The round count
    // is the observable — wall clock tracks |edges| * rounds, not
    // diameter. (Measured here: 11 rounds at diameter 1000 vs 9 at
    // diameter 199 — the +1 doubling step a 5x deeper chain costs.)
    val pairs = (0L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = (0L to 1000L).toDF("doc_id")
    var rounds = -1
    val out = Dedup.clusters(pairs, docs, onRounds = rounds = _).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 1001)
    (0L to 1000L).foreach(i => assert(out(i) == ((0L, i == 0L)), s"node $i"))
    assert(rounds >= 1 && rounds <= 15,
      s"diameter-1000 chain took $rounds rounds — the jump's O(log d) claim broke")
  }

  test("clusters are consistent with the pair set on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.minhashLshPairs(docs)
    val cl = Dedup.clusters(pairs, docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(cl.size == docs.count())
    // every pair's endpoints land in the same cluster
    pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().foreach {
      case (a, b) => assert(cl(a)._1 == cl(b)._1, s"pair ($a,$b) split")
    }
    // each cluster is labeled by its minimum member; exactly that member
    // is the representative
    cl.groupBy(_._2._1).foreach { case (label, members) =>
      assert(members.keys.min == label)
      assert(members.collect { case (id, (_, true)) => id }.toSeq == Seq(label))
    }
  }

  test("retune collapses boilerplate hot band buckets; flag decisions unchanged on the fixture (band-audit remediation)") {
    import graft.dedup.SignatureStore
    // 40 history docs sharing a 36-token boilerplate block + 20 unique
    // tokens each: pairwise J ≈ 0.46 (below the 0.5 dedup threshold, so
    // NONE are duplicates) but ~63% of each doc's shingles are shared,
    // so the per-band min-hashes land in the boilerplate mass and pile
    // the corpus into a few hot band buckets — the cost cliff the band
    // audit watches. The remedy is selectivity, not capping: more rows
    // per band (collision ~ p^rows) collapses the moderate-J mass while
    // a true dup (J = 1) still collides in every band.
    val boiler = (0 until 36).map(i => s"bp$i").mkString(" ")
    def text(i: Long): String =
      boiler + " " + (0 until 20).map(j => s"u${i}x$j").mkString(" ")
    val hist = (0L until 40L).map(i => (i, text(i))).toDF("doc_id", "text")
    val batch = Seq((100L, text(0L)), (101L, text(101L)), (102L, text(102L)))
      .toDF("doc_id", "text")
    def runWith(name: String, spec: SignatureStore.Spec)
        : (Long, Map[Long, (Boolean, Option[Long])]) = {
      SignatureStore.drop(spark, name)
      SignatureStore.retune(spark, hist, name, spec)
      val audit = new java.util.concurrent.atomic.AtomicReference[
        Option[SignatureStore.IngestAudit]](None)
      val flags = SignatureStore.ingest(spark, batch, name,
          onAudit = a => audit.set(Some(a)))
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      SignatureStore.drop(spark, name)
      (audit.get().get.maxBucket, flags)
    }
    val (maxDefault, flagsDefault) = runWith("graft_retune_a", SignatureStore.Spec())
    val (maxTight, flagsTight) =
      runWith("graft_retune_b", SignatureStore.Spec(bands = 16, rows = 4))
    // semantics first: the verbatim dup is caught, boilerplate-only
    // docs are NOT dups — under BOTH geometries, identically
    assert(flagsDefault(100L) == ((true, Some(0L))), flagsDefault)
    assert(flagsDefault(101L)._1 == false && flagsDefault(102L)._1 == false, flagsDefault)
    assert(flagsTight == flagsDefault,
      s"retune changed flag decisions: $flagsDefault -> $flagsTight")
    // the remediation: tightened geometry strictly reduces the hottest
    // band bucket on the boilerplate corpus
    assert(maxTight < maxDefault,
      s"tightened geometry must reduce hot-bucket occupancy: $maxDefault -> $maxTight")
  }

  test("signature store: incremental pairs == direct cross-corpus recipe; store never shuffles") {
    import graft.dedup.SignatureStore
    val docs = Tables.documents(spark, sfDir)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val name = "graft_sigstore_spec"
    SignatureStore.drop(spark, name)
    // simulate a previous JVM's leftover: a warehouse dir for the bands
    // table with no catalog entry — build must clear it, not refuse with
    // LOCATION_ALREADY_EXISTS (the catalog is per-process, the warehouse
    // dir is durable)
    val orphan = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(
          SignatureStore.bandsTable(name))))
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphan)
    SignatureStore.build(spark, hist, name)
    // expected: the same recipe composed directly, no store in between
    val hb = Dedup.minhashBands(hist)
      .select(col("band"), col("band_hash"), col("doc_id").as("hist_id"))
    val bb = Dedup.minhashBands(batch)
      .select(col("band"), col("band_hash"), col("doc_id").as("new_id"))
    val cand = hb.join(bb, Seq("band", "band_hash")).select("hist_id", "new_id").distinct()
    val hIdx = Dedup.shingleIndex(hist)
    val bIdx = Dedup.shingleIndex(batch)
    val common = cand
      .join(hIdx.select(col("doc_id").as("hist_id"), col("shingle").as("sh_h")), "hist_id")
      .join(bIdx.select(col("doc_id").as("new_id2"), col("shingle").as("sh_b")),
        col("new_id") === col("new_id2") && col("sh_h") === col("sh_b"))
      .groupBy("hist_id", "new_id").agg(count(lit(1)).as("n_common"))
    val expected = common
      .join(hIdx.groupBy(col("doc_id").as("hist_id")).agg(count(lit(1)).as("n_a")), "hist_id")
      .join(bIdx.groupBy(col("doc_id").as("new_id")).agg(count(lit(1)).as("n_b")), "new_id")
      .withColumn("jaccard", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
      .select("hist_id", "new_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inc = SignatureStore.incrementalPairs(spark, batch, name)
      val got = inc.as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"got=${got.size} expected=${expected.size}")
      assert(got.nonEmpty, "fixture corpus must contain cross-corpus near-dups")
      val p = inc.queryExecution.executedPlan.toString
      // store tables are read through their bucketing...
      assert(p.contains("SelectedBucketsCount: 16 out of 16"),
        p.linesIterator.take(40).mkString("\n"))
      // ...and the candidate join reuses it: exactly one band_key shuffle
      // (the batch side) — a second would mean the 100 TB history side
      // started re-shuffling on every daily increment
      val bandKeyShuffles = raw"Exchange hashpartitioning\(band_key".r.findAllIn(p).size
      assert(bandKeyShuffles == 1,
        s"expected exactly one band_key shuffle (batch side), got $bandKeyShuffles:\n" +
          p.linesIterator.take(60).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      SignatureStore.drop(spark, name)
    }
  }

  test("ingest cycle: dup flags vs store and within batch; store grows by survivors") {
    import graft.dedup.SignatureStore
    // 24-token docs; a near-dup differs in the final token only →
    // 22 shingles, 19 shared, J = 19/25 = 0.76 (deterministic md5
    // signatures: the band collision either happens or not, fixed at
    // authoring time — verified here)
    def doc(words: String*): String = words.mkString(" ")
    val h1 = doc("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega")
    val h2 = doc("one", "two", "three", "four", "five", "six", "seven",
      "eight", "nine", "ten", "eleven", "twelve", "thirteen", "fourteen",
      "fifteen", "sixteen", "seventeen", "eighteen", "nineteen", "twenty",
      "thirty", "forty", "fifty", "sixty")
    val b102 = doc("spark", "catalyst", "tungsten", "shuffle", "partition",
      "broadcast", "join", "aggregate", "window", "stream", "watermark",
      "state", "checkpoint", "lineage", "executor", "driver", "task",
      "stage", "codegen", "parquet", "bucket", "salt", "skew", "spill")
    val b104 = doc("apple", "banana", "cherry", "date", "elderberry", "fig",
      "grape", "honeydew", "kiwi", "lemon", "mango", "nectarine", "orange",
      "papaya", "quince", "raspberry", "strawberry", "tangerine", "ugli",
      "vanilla", "walnut", "yuzu", "apricot", "blackberry")
    val b105 = doc("table", "chair", "sofa", "lamp", "desk", "shelf",
      "cabinet", "drawer", "mirror", "carpet", "curtain", "pillow",
      "blanket", "mattress", "wardrobe", "bench", "stool", "ottoman",
      "dresser", "nightstand", "bookcase", "recliner", "futon", "armoire")
    def mut(s: String): String = s.split(" ").dropRight(1).mkString(" ") + " mutated"
    val hist = Seq((1L, h1), (2L, h2)).toDF("doc_id", "text")
    val day1 = Seq(
      (101L, mut(h1)),  // near-dup of history doc 1
      (102L, b102),     // survivor
      (103L, mut(b102)),// within-batch near-dup of 102
      (104L, b104),     // survivor
      (105L, b105)      // survivor
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (201L, mut(b104)), // near-dup of a DAY-1 SURVIVOR — store must have grown
      (202L, mut(h1)),   // still a dup of original history after appends
      (203L, doc("zinc", "copper", "iron", "nickel", "cobalt", "tin",
        "lead", "silver", "gold", "platinum", "mercury", "chromium",
        "titanium", "tungsten2", "aluminium", "magnesium", "sodium",
        "calcium", "barium", "lithium", "cesium", "radium", "osmium",
        "iridium"))   // survivor
    ).toDF("doc_id", "text")
    val name = "graft_ingest_spec"
    SignatureStore.drop(spark, name)
    SignatureStore.build(spark, hist, name)
    def flagMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Boolean, Option[Long])] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    try {
      val f1 = flagMap(SignatureStore.ingest(spark, day1, name))
      assert(f1 == Map(
        101L -> ((true, Some(1L))), 102L -> ((false, None)),
        103L -> ((true, Some(102L))), 104L -> ((false, None)),
        105L -> ((false, None))), s"day1 flags: $f1")
      val f2 = flagMap(SignatureStore.ingest(spark, day2, name))
      assert(f2 == Map(
        201L -> ((true, Some(104L))), 202L -> ((true, Some(1L))),
        203L -> ((false, None))), s"day2 flags: $f2")
      // the bands table now equals a from-scratch build over
      // history + survivors (signatures are corpus-independent)
      val survivors = hist.unionByName(day1.filter(col("doc_id").isin(102L, 104L, 105L)))
        .unionByName(day2.filter(col("doc_id") === 203L))
      val got = spark.table(SignatureStore.bandsTable(name))
        .select("doc_id", "band", "band_hash")
        .as[(Long, Int, String)].collect().toSet
      val want = Dedup.minhashBands(survivors)
        .as[(Long, Int, String)].collect().toSet
      assert(got == want)
      // appends preserved the bucketed layout: a probe against the
      // grown store still reads through the bucket index
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = SignatureStore.incrementalPairs(spark,
          Seq((301L, mut(b105))).toDF("doc_id", "text"), name)
        // two ingests later each table holds three commits: the scan
        // stays bucketed across them, and the band_key join still
        // shuffles the batch side only
        val p = probe.queryExecution.executedPlan.toString
        assert(p.contains("SelectedBucketsCount: 16 out of 16"),
          p.linesIterator.take(40).mkString("\n"))
        val bandKeyShuffles = raw"Exchange hashpartitioning\(band_key".r.findAllIn(p).size
        assert(bandKeyShuffles == 1,
          s"expected exactly one band_key shuffle (batch side), got $bandKeyShuffles:\n" +
            p.linesIterator.take(60).mkString("\n"))
        assert(flagMap(probe.groupBy(col("new_id").as("doc_id"))
          .agg(min(col("hist_id")).as("dup_of"))
          .select(col("doc_id"), lit(true).as("is_dup"), col("dup_of")))
          == Map(301L -> ((true, Some(105L)))))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    } finally SignatureStore.drop(spark, name)
  }

  test("snapshot/rollback undoes an ingest bit-for-bit; re-ingest is identical") {
    import graft.dedup.{SignatureStore, StoreGuard}
    def doc(i: Int): String =
      (0 until 24).map(w => s"w${i}_$w").mkString(" ")
    val hist = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val batch = Seq(
      (11L, doc(1).split(" ").dropRight(1).mkString(" ") + " mutated"), // dup of 1
      (12L, doc(12))                                                    // survivor
    ).toDF("doc_id", "text")
    val name = "graft_rollback_spec"
    SignatureStore.drop(spark, name)
    SignatureStore.build(spark, hist, name)
    try {
      val snap = SignatureStore.snapshot(spark, name)
      def run(): Map[Long, (Boolean, Option[Long])] =
        SignatureStore.ingest(spark, batch, name).collect()
          .map(r => r.getLong(0) ->
            ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      val f1 = run()
      assert(f1 == Map(11L -> ((true, Some(1L))), 12L -> ((false, None))), s"$f1")
      // the ingest appended the survivor — the store visibly grew
      assert(SignatureStore.snapshot(spark, name).commits != snap.commits)
      assert(spark.table(SignatureStore.sizesTable(name))
        .filter(col("doc_id") === 12L).count() == 1)
      SignatureStore.rollback(spark, name, snap)
      // bit-for-bit: exactly the pre-ingest commits, nothing extra
      assert(SignatureStore.snapshot(spark, name).commits == snap.commits)
      // bucket-aligned writes: a build emits at most `buckets` data
      // files per table (one per bucket), not one per (task, bucket) —
      // the small-files regression guard; the rolled-back commit's files
      // are gone
      Seq(SignatureStore.bandsTable(name), SignatureStore.shinglesTable(name),
        SignatureStore.sizesTable(name)).foreach { t =>
        val parts = StoreGuard.dataFileCount(spark, t)
        assert(parts <= 16, s"$t has $parts data files after build (buckets=16)")
      }
      assert(spark.table(SignatureStore.sizesTable(name))
        .filter(col("doc_id") === 12L).count() == 0)
      // a second ingest against the restored store flags identically —
      // the d08 bench/Verify idempotence contract
      assert(run() == f1)
    } finally SignatureStore.drop(spark, name)
  }

  test("a failed or dead writer's unpublished commits are never read; the store reads its last publish and the next publish deletes them") {
    import graft.dedup.{SignatureStore, StoreGuard}
    def doc(i: Int): String = (0 until 24).map(w => s"r${i}_$w").mkString(" ")
    val name = "graft_recover_spec"
    SignatureStore.drop(spark, name)
    SignatureStore.build(spark, Seq((1L, doc(1))).toDF("doc_id", "text"), name)
    val fs = StoreGuard.tableLocation(spark, SignatureStore.metaTable(name))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = SignatureStore.dataTables(name)
    def rows(): Seq[Seq[String]] = tables.map(t =>
      spark.table(t).drop("commit").collect().map(_.toString).sorted.toSeq)
    try {
      val preSnap = SignatureStore.snapshot(spark, name)
      val rows0 = rows()
      // a writer that fails in THIS JVM after its appends, before its
      // publish: the store reads exactly its last published content and
      // the failed commit is gone
      val e = intercept[RuntimeException](SignatureStore.ingest(spark,
        Seq((2L, doc(2))).toDF("doc_id", "text"), name,
        onStage = (label, _) => if (label == "appends") sys.error("died after appends")))
      assert(e.getMessage.contains("died after appends"))
      assert(SignatureStore.snapshot(spark, name) == preSnap && rows() == rows0)
      assert(tables.forall(t => fs.listStatus(StoreGuard.tableLocation(spark, t))
        .count(_.getPath.getName.startsWith("commit=")) == 1), "the failed commit must be gone")
      // a writer that DIED (hard halt) after its appends: its commits stay
      // on disk, and no manifest names them
      val strays = tables.map(strayCommit(_, preSnap.version))
      assert(rows() == rows0)
      freshRegistration(SignatureStore, name)
      assert(rows() == rows0, "a fresh registration reads the last publish only")
      // the store works on, and its next publish deletes the dead commits
      SignatureStore.ingest(spark, Seq((3L, doc(3))).toDF("doc_id", "text"), name)
      assert(!strays.exists(fs.exists))
    } finally SignatureStore.drop(spark, name)
  }

  test("cross-JVM maintenance: retune + compact run through ensureRegistered (EXTERNAL) entries") {
    // the text twin of EmbeddingStoreSpec's fresh-JVM arm, pinning what
    // the r18 CLI proof drove through 12 fresh JVMs: the monthly sweep
    // runs in a fresh JVM (the cron cadence) whose catalog entries come
    // from ensureRegistered as EXTERNAL tables (CREATE ... LOCATION) —
    // the state in-JVM specs' MANAGED entries structurally never see,
    // and exactly where the embedding twin hid its
    // saveAsTable-vs-EXTERNAL bug for four rounds. The sweep's
    // remediation (retune: reset + saveAsTable full rebuild, geometry
    // re-pinned) and routine pass (compact: stagedSwap rewrite) must
    // both work through those entries and leave a usable store.
    import graft.dedup.{SignatureStore, StoreGuard}
    def doc(i: Int): String = (0 until 24).map(w => s"x${i}_$w").mkString(" ")
    val name = "graft_sigstore_xjvm_spec"
    SignatureStore.drop(spark, name)
    SignatureStore.build(spark,
      Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), name)
    try {
      // unregister-without-delete: DROP on a managed entry would delete
      // the files, so move each dir aside across the DROP (the
      // fresh-JVM simulation pattern)
      val conf = spark.sparkContext.hadoopConfiguration
      Seq(SignatureStore.bandsTable(name), SignatureStore.shinglesTable(name),
          SignatureStore.sizesTable(name), SignatureStore.metaTable(name)).foreach { t =>
        val loc = StoreGuard.tableLocation(spark, t)
        val fs = loc.getFileSystem(conf)
        val save = new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + ".xjvm")
        assert(fs.rename(loc, save), s"stash $t")
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        assert(fs.rename(save, loc), s"restore $t")
      }
      SignatureStore.ensureRegistered(spark, name) // the fresh-JVM entries
      // the sweep's remediation op: full rebuild from the corpus with
      // the tightened geometry, re-pinned in meta through the external
      // entries
      SignatureStore.retune(spark,
        Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3))).toDF("doc_id", "text"),
        name, SignatureStore.Spec(k = 3, bands = 16, maxDf = 100, rows = 3))
      val m = spark.table(SignatureStore.metaTable(name)).head()
      assert(m.getAs[Int]("bands") == 16 && m.getAs[Int]("rows") == 3,
        "retune must re-pin the tightened geometry through the external entries")
      // the sweep's routine pass right after (a no-op at the rebuild's
      // file floor, but it must not throw through the external entries)
      SignatureStore.compact(spark, name)
      // the store stays fully usable: a replayed doc flags against the
      // retuned history
      val flags = SignatureStore.ingest(spark,
          Seq((9L, doc(3))).toDF("doc_id", "text"), name)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
      assert(flags == Seq((9L, true, 3L)), flags.toString)
    } finally SignatureStore.drop(spark, name)
  }

  test("duplicatedSpans: overlap chains merge, whole-doc dup, within-doc repetition excluded") {
    // tokens are single letters so offsets are hand-checkable; k=3,
    // minTokens=5 keeps the arithmetic small
    val shared = "a b c d e f g" // 7 tokens, all 5 3-gram starts shared
    val docs = Seq(
      // doc 1 and 2: identical → whole-doc span [0,7) in both
      (1L, shared),
      (2L, shared),
      // doc 3: the shared text embedded mid-doc → span [2,9), and the
      // flanks (x y | z w) must NOT extend it (their grams are unique)
      (3L, s"x y $shared z w"),
      // doc 4: two copies of the shared text separated by a >k unique
      // gap → TWO spans, not one merged mega-span
      (4L, s"$shared q r s t u v w $shared"),
      // doc 5: within-doc repetition only (no other doc has these
      // grams) → repetition is not duplication, no spans
      (5L, "m n o p m n o p m n o p m n o p"),
      // doc 6: no overlap with anything → no spans
      (6L, "h i j k l")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 3, minTokens = 5)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    assert(out == Set(
      (1L, 0, 7), (2L, 0, 7),
      (3L, 2, 9),
      (4L, 0, 7), (4L, 14, 21)))
    // span_fp groups identical cut spans across docs: all five spans
    // above are the same 7-token text, so one distinct fingerprint
    val fps = Dedup.duplicatedSpans(docs, k = 3, minTokens = 5)
      .select("span_fp").distinct().count()
    assert(fps == 1)
  }

  test("decontaminateSpans locates benchmark text; train-internal dup is NOT contamination") {
    val evalText = "q1 q2 q3 q4 q5 q6" // a 6-token benchmark item
    val bench = Seq((100L, evalText)).toDF("doc_id", "text")
    val train = Seq(
      // benchmark item embedded mid-document → span [2, 8)
      (1L, s"t1 t2 $evalText t3 t4"),
      // two train docs sharing text with EACH OTHER but not the
      // benchmark — that's d12's business, not contamination
      (2L, "s1 s2 s3 s4 s5 s6 s7"),
      (3L, "s1 s2 s3 s4 s5 s6 s7"),
      // a SHORT contaminated window (exactly k tokens at the doc head)
      // is still reported — eval text is cut even when brief
      (4L, "q1 q2 q3 q4 q5 u1 u2 u3 u4 u5")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(train, bench, k = 5)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    assert(out == Set((1L, 2, 8), (4L, 0, 5)), out)
  }

  test("cutSpans: flanks survive, wholly-cut docs surface empty, untouched docs intact") {
    val shared = "a b c d e f g"
    val docs = Seq(
      (1L, shared),                 // wholly cut: every token in the span
      (2L, shared),                 // wholly cut (the other copy is cut too)
      (3L, s"x y $shared z w"),     // flanks x y / z w survive
      (4L, "h i j k l")             // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, k = 3, minTokens = 5)
      .select("doc_id", "n_tokens", "n_kept", "n_spans", "clean_fp")
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes).map("%02x".format(_)).mkString
    val flankMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("x y z w".getBytes).map("%02x".format(_)).mkString
    val fullMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("h i j k l".getBytes).map("%02x".format(_)).mkString
    assert(out(1L) == ((7, 0, 1, emptyMd5)), out(1L))
    assert(out(2L) == ((7, 0, 1, emptyMd5)), out(2L))
    assert(out(3L) == ((11, 4, 1, flankMd5)), out(3L))
    assert(out(4L) == ((5, 5, 0, fullMd5)), out(4L))
  }

  test("corpus manifest composes the stages: exact dedup FIRST changes what the cut sees") {
    import graft.DedupQueries
    val shared = (1 to 20).map(i => s"w$i").mkString(" ") // 20 tokens
    val docs = Seq(
      // 1 and 2 identical: 2 is dup_exact; doc 3 below still shares
      // 1's text, so survivor 1 remains substring-cut material
      (1L, shared),
      (2L, shared),
      // 3 embeds the shared text (not identical → survives exact
      // dedup) → 1 and 3 DO share grams post-dedup: both get cut;
      // 3's flanks leave it too_short (< 20 kept)
      (3L, s"x1 x2 $shared x3 x4"),
      // 4: unique and long → kept untouched
      (4L, (1 to 30).map(i => s"u$i").mkString(" ")),
      // 5 and 6 identical, text found NOWHERE else — THE composition
      // property: after exact dedup removes 6, survivor 5's grams are
      // unique in the survivor corpus, so 5 is kept UNCUT (a raw-corpus
      // substring pass would have cut both 5 and 6 to nothing)
      (5L, (1 to 25).map(i => s"v$i").mkString(" ")),
      (6L, (1 to 25).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    // drive the registry query's Spark side on an in-memory corpus by
    // replaying its exact composition via the public operators
    import org.apache.spark.sql.expressions.Window
    val flagged = docs
      .withColumn("__fp", graft.text.TextFunctions.fingerprint(col("text")))
      .withColumn("__keeper", min(col("doc_id")).over(Window.partitionBy(col("__fp"))))
    val survivors = flagged.filter(col("doc_id") === col("__keeper")).select("doc_id", "text")
    val cut = Dedup.cutSpans(survivors, k = 5, minTokens = 15)
    val status = flagged.select(col("doc_id"), col("__keeper"))
      .join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("__keeper"), lit("dup_exact"))
          .when(col("n_kept") < 20, lit("too_short"))
          .otherwise(lit("kept")).as("status"),
        col("n_spans"))
      .as[(Long, String, Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(status(2L) == (("dup_exact", None)), status(2L))
    // doc 1 and 3 share the 20-token span within the SURVIVOR corpus:
    // both cut; 1 is cut to nothing (too_short), 3 keeps only 4 flanks
    assert(status(1L) == (("too_short", Some(1))), status(1L))
    assert(status(3L) == (("too_short", Some(1))), status(3L))
    assert(status(4L) == (("kept", Some(0))), status(4L))
    // the composition property: 6 drops as dup_exact and survivor 5 is
    // kept UNCUT — a raw-corpus cut would have destroyed both
    assert(status(6L) == (("dup_exact", None)), status(6L))
    assert(status(5L) == (("kept", Some(0))), status(5L))
  }

  test("duplicatedSpans: minTokens gate and short-doc guard") {
    val docs = Seq(
      (1L, "a b c d"), // 4 tokens, shared with doc 2 → span [0,4) = 4 tokens < 5
      (2L, "a b c d"),
      (3L, "x")        // shorter than k → no grams, must not error
    ).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs, k = 3, minTokens = 5).count() == 0)
    assert(Dedup.duplicatedSpans(docs, k = 3, minTokens = 4)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("sign-bit LSH on an empty corpus returns the empty pair set") {
    import graft.similarity.Similarity
    // an empty daily slice is a plausible input — must not NPE on the
    // null max-dims aggregate
    val empty = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 0)
    val out = Similarity.lshCosinePairs(empty, "vec_id", "embedding", 0.9)
    assert(out.columns.toSeq == Seq("va", "vb", "cosine"))
    assert(out.count() == 0)
  }
}
