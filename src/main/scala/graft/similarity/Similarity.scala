package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Embedding similarity search (SURVEY.md §2.H): brute-force cosine
  * top-k as the exact baseline, IVF (inverted-file, coarse-quantizer
  * probing) as the scale path.
  *
  * Numeric discipline: dot products and norms accumulate per-element
  * products as fixed-scale decimals (exact, order-independent — see
  * graft.functions.StableAgg) and only the final ratio is a double, so
  * rankings are reproducible across engines, AQE re-plans, and cluster
  * sizes. Floats are widened to double *before* multiplying (a 24-bit ×
  * 24-bit product is exact in double).
  */
object Similarity {

  import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

  /** Exact decimal-accumulated dot product of two vector columns —
    * a codegen'd kernel ([[DotMath.dotExact]]; computes the same
    * per-element `(x·y).cast(decimal(28,12))` sums the previous
    * `zip_with`+`aggregate` HOF spelling did, but inside whole-stage
    * codegen instead of interpreted CodegenFallback — SURVEY note 3).
    */
  def dot(a: Column, b: Column): Column = toCol(DotExactExpr(toExpr(a), toExpr(b)))

  /** Exact decimal-accumulated squared L2 norm (codegen'd kernel). */
  def normSq(a: Column): Column = toCol(NormSqExactExpr(toExpr(a)))

  /** Cosine similarity from precomputed squared norms. */
  def cosine(dotCol: Column, normSqA: Column, normSqB: Column): Column =
    dotCol / (sqrt(normSqA) * sqrt(normSqB))

  /** Fast double-fold dot product — used only as a conservative
    * prefilter (its deviation from the exact decimal dot is bounded by
    * ~64·ulp, far below the filter margin). Codegen'd kernel; folds in
    * the same left-to-right order the HOF did, so even its rounding is
    * bit-identical.
    */
  def dotApprox(a: Column, b: Column): Column = toCol(DotFastExpr(toExpr(a), toExpr(b)))

  /** Banded sign-bit signatures of a (vec_id, emb) frame:
    * (vec_id, band, band_hash) — a NARROW per-row map: the codegen'd
    * [[graft.similarity.LshMath.bandHashes]] kernel computes every band hash inside one
    * generated-code call, then the bands array posexplodes. Nothing
    * shuffles until the caller's own bucket analytics. (The previous
    * shape — explode + broadcast weight join + decimal aggregation —
    * carried n·dims·planes rows through a shuffle; with the adaptive
    * geometry growing planes ~log²(n), SCALECHECK measured it
    * dominating d05's scaled cost. A per-plane array-HOF fold was
    * rejected earlier for the same family: HOFs are CodegenFallback,
    * measured 8× slower under shared JIT profiles.)
    * The md5 hyperplane weights are corpus-INDEPENDENT (a pure function
    * of (plane, pos)), which is what lets a store's history bands and a
    * later batch's bands agree by construction.
    */
  private[similarity] def signBitBands(base: DataFrame,
      planes: Int, bandBits: Int): DataFrame = {
    require(planes % bandBits == 0, "planes must divide into whole bands")
    LshFunctions.register(base.sparkSession)
    base.select(col("vec_id"),
      posexplode(expr(s"lsh_band_hashes(emb, $planes, $bandBits)"))
        .as(Seq("band", "band_hash")))
  }

  /** Adaptive band geometry — the fix for the measured quadratic
    * candidate term of a FIXED key space (SCALECHECK r12: 4×8-bit bands
    * = 1,024 keys → d05's candidate shuffle grew 69× for 10× data; the
    * same saturation the 4×16-bit SimHash rework cured for d04).
    *
    * `bandBitsFor`: the band width r is the smallest r ∈ [8, 30] with
    * 2^r ≥ n. Random pairs (p_bit ≈ 0.5) then collide at ≈ n²/2^r ≤ n
    * expected candidates per band — the collision term is LINEAR in
    * corpus size by construction, at any n, instead of quadratic over a
    * saturated key space.
    *
    * `bandsFor`: widening a band erodes recall (a true pair must agree
    * on ALL r bits of some band), so the band count b buys it back:
    * b = ceil(ln(1/δ) / −ln(1 − p^r)) with miss budget δ = 1e-3 at the
    * reference similarity s* = 0.99 (p = 1 − arccos(0.99)/π ≈ 0.955).
    * The table is PINNED as literals (not computed with floating
    * transcendentals at runtime) so the Scala plan and a replaying SQL
    * oracle can never disagree by an ulp at a ceil boundary. Projection
    * cost is b·r planes per vector — it grows ~log²(n), the honest
    * price of constant recall with linear candidates.
    */
  private[graft] val BandsByBits: Vector[Int] =
    Vector(6, 7, 7, 8, 9, 9, 10, 10, 11, 12, 13, 13, 14, 15, 16, 17, 18,
      19, 20, 21, 22, 23, 24) // index r−8, r = 8..30

  /** Version of the banding ARITHMETIC ([[LshMath.bandHashes]]). Bands
    * persisted by an [[EmbeddingStore]] only agree with a later batch's
    * bands when both were hashed by the same kernel, so the store pins
    * this in `_emeta` and refuses a mismatched ingest (a vector near a
    * hyperplane flips a sign bit between kernels — silently missed
    * duplicates otherwise). v1: exact-decimal projection (the explode +
    * broadcast-weight-join pipeline); v2: 2⁻²⁰-quantized int64 codegen
    * kernel. Bump on ANY change to the projection math; `reband`
    * rewrites a mismatched store's bands from its full-precision
    * vectors.
    */
  val LshKernelVersion: Int = 2
  def bandBitsFor(n: Long): Int = (8 to 30).find(r => (1L << r) >= n).getOrElse(30)
  def bandsFor(bandBits: Int): Int = BandsByBits(bandBits - 8)
  /** (planes, bandBits) for a corpus of `n` vectors. */
  def lshSpecFor(n: Long): (Int, Int) = {
    val r = bandBitsFor(n); (bandsFor(r) * r, r)
  }

  /** One-row bucket-histogram audit of the banded LSH key space:
    * (n_vectors, geometry, occupied buckets, buckets/rows the cap would
    * drop, max occupancy). Cap drops are a RECALL loss and must never
    * be silent — this is the guaranteed accounting path: a production
    * dedup run executes it alongside `lshCosinePairs` (same adaptive
    * geometry ⇒ same buckets) and files the counts in its run report.
    * The inline `observer` hook on `lshCosinePairs` is cheaper (zero
    * extra jobs) but best-effort: AQE's empty-relation propagation can
    * prune the observed node out of a plan whose candidate set turns
    * out empty, losing the metrics — an audit query's own action can
    * never lose its result.
    */
  def lshBucketAudit(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int = 0, bandBits: Int = 0, bucketCap: Int = 1000): DataFrame = {
    require((planes == 0) == (bandBits == 0),
      "pass both planes and bandBits explicitly, or neither (adaptive)")
    val spark = emb.sparkSession
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
    val probe = base.agg(count(lit(1)), max(size(col("emb")))).head()
    val n = probe.getLong(0)
    if (probe.isNullAt(1)) {
      import spark.implicits._
      return Seq((0L, 0, 0, 0L, 0L, 0L, 0L))
        .toDF("n_vectors", "planes", "band_bits", "occupied_buckets",
          "capped_buckets", "capped_rows", "max_bucket")
    }
    val (pl, bb) = if (planes > 0) (planes, bandBits) else lshSpecFor(n)
    signBitBands(base, pl, bb)
      .groupBy("band", "band_hash").count()
      .agg(lit(n).as("n_vectors"), lit(pl).as("planes"), lit(bb).as("band_bits"),
        count(lit(1)).as("occupied_buckets"),
        sum(when(col("count") > bucketCap, 1L).otherwise(0L)).as("capped_buckets"),
        sum(when(col("count") > bucketCap, col("count")).otherwise(0L)).as("capped_rows"),
        max(col("count")).as("max_bucket"))
  }

  /** Banded sign-bit LSH near-dup pairs — the embedding near-dup
    * operator at scale (SURVEY.md §2.H). Candidate generation is a
    * bucket equi-join on (band, band-hash) — the same recall/precision
    * split as the MinHash-LSH dedup (graft.dedup.Dedup.minhashLshPairs):
    * LSH proposes, the exact decimal cosine disposes. No operator in the
    * plan touches the n² pair space; the join is a shuffled hash/sort
    * join on band keys, never a nested-loop/theta join.
    *
    * Tuning math (Goemans–Williamson): P[sign bits agree] =
    * 1 − θ/π where θ = arccos(cosine). At a true near-dup threshold
    * (0.9+, θ ≤ 26°) a bit agrees with p ≥ 0.856 while random pairs
    * agree at only p ≈ 0.5 per bit — so widening a band sharpens
    * precision exponentially faster than it erodes recall, and recall
    * is then bought back with more bands. Below cosine ≈ 0.6 sign-bit
    * LSH cannot separate near-dups from noise (p_bit ≈ 0.63 vs 0.5) —
    * that regime is not a near-dup problem and callers should use
    * `bruteCosinePairs` or an IVF restriction instead.
    *
    * `bucketCap` drops pathological hot buckets (all-zero vectors, mass
    * duplicates) exactly like the df-cap on the shingle inverted index —
    * cost tracks genuine collisions, never a skew blowup.
    */
  def lshCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 0, bandBits: Int = 0,
      bucketCap: Int = 1000,
      observer: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require((planes == 0) == (bandBits == 0),
      "pass both planes and bandBits explicitly, or neither (adaptive)")
    val spark = emb.sparkSession
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = emb.repartition(par)
      .select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
    // per-row norm via the kernel — the previous aggregate + self-join
    // shuffled the vector payload twice for a value each row computes
    val v = base.withColumn("ns", normSq(col("emb")))
    // one control-plane probe: corpus size (drives the adaptive band
    // geometry) and width. An empty corpus (a plausible daily slice)
    // has no max — return the empty pair set instead of NPE-ing.
    val probe = base.agg(count(lit(1)), max(size(col("emb")))).head()
    if (probe.isNullAt(1))
      return base.select(col("vec_id").as("va"), col("vec_id").as("vb"),
        lit(0.0).as("cosine")).limit(0)
    val dims = probe.getInt(1)
    val (pl, bb) =
      if (planes > 0) (planes, bandBits) else lshSpecFor(probe.getLong(0))
    require(pl % bb == 0, "planes must divide into whole bands")
    val sig = signBitBands(base, pl, bb)
    val counted = sig.groupBy("band", "band_hash").count()
    // inline drop accounting (zero extra jobs, but best-effort under
    // AQE empty-relation propagation — see lshBucketAudit for the
    // guaranteed path)
    val countedObs = observer.map(o => counted.observe(o,
        sum(when(col("count") > bucketCap, 1L).otherwise(0L)).as("capped_buckets"),
        sum(when(col("count") > bucketCap, col("count")).otherwise(0L)).as("capped_rows")))
      .getOrElse(counted)
    val ok = countedObs.filter(col("count") <= bucketCap).select("band", "band_hash")
    val sigOk = sig.join(ok, Seq("band", "band_hash"))
    val cand = sigOk.select(col("band"), col("band_hash"), col("vec_id").as("va"))
      .join(sigOk.select(col("band"), col("band_hash"), col("vec_id").as("vb")),
        Seq("band", "band_hash"))
      .filter(col("va") < col("vb"))
      .select("va", "vb").distinct()
    val a = v.select(col("vec_id").as("va"), col("emb").as("ea"), col("ns").as("na"))
    val b = v.select(col("vec_id").as("vb"), col("emb").as("eb"), col("ns").as("nb"))
    // cheap double-fold dot prunes the candidate set with a safety margin
    // (deviation from the exact decimal dot is ~64·ulp ≪ 1e-6), then the
    // exact decimal cosine runs only on survivors — the published values
    // stay order-independent and oracle-reproducible
    cand.join(a, "va").join(b, "vb")
      .withColumn("cos_approx",
        cosine(dotApprox(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos_approx") >= threshold - 1e-6)
      .withColumn("cosine", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("va", "vb", "cosine")
  }

  /** All pairs with cosine ≥ threshold — brute-force baseline, O(n²)
    * candidate generation. Test-scale/verification use only: the shipped
    * near-dup operator is `lshCosinePairs`, whose banded candidates keep
    * the pair space sub-quadratic. Two-phase: a cheap double-arithmetic
    * dot prunes the pair space with a safety margin, then the exact
    * decimal cosine is recomputed only for survivors, so the published
    * values stay order-independent and oracle-reproducible while the hot
    * loop stays primitive-typed.
    */
  def bruteCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
      .withColumn("ns", normSq(col("emb")))
    // corpus tables often arrive as one file → one partition; spread the
    // streaming side so the O(n²) probe uses every core/executor
    val par = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val a = v.repartition(par)
      .select(col("vec_id").as("va"), col("emb").as("ea"), col("ns").as("na"))
    val b = v.select(col("vec_id").as("vb"), col("emb").as("eb"), col("ns").as("nb"))
    a.join(b, col("va") < col("vb"))
      .withColumn("cos_approx", cosine(dotApprox(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos_approx") >= threshold - 1e-6)
      .withColumn("cosine", cosine(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("va", "vb", "cosine")
  }

  /** Scalar-quantized (SQ8) top-k: the corpus is compressed to one
    * int8 code per dimension against per-dimension [min, max] ranges,
    * and queries score against the DEQUANTIZED midpoints (asymmetric
    * distance — the query side stays full-precision, so quantization
    * error enters once, not twice). This is the standard 4× memory/IO
    * reduction step for a 100 TB embedding corpus: ranges are d
    * numbers (a one-row broadcast anchor), codes shrink the scan, and
    * the query plan is otherwise the brute top-k single corpus pass.
    *
    * Everything is deterministic double arithmetic with the same
    * operation order on both engines (mins/maxes are exact float
    * selections, `floor` has no rounding ties to disagree on), so the
    * DuckDB oracle replays codes, reconstruction, and cosines
    * bit-for-bit.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val ex = corpus.select(posexplode(col(vecCol)).as(Seq("pos", "v0")))
      .select(col("pos"), col("v0").cast("double").as("v"))
    // per-dim ranges packed into two pos-ordered arrays: a one-row
    // control-plane anchor (d values), broadcast-cross-joined like the
    // cube queries' max-date anchors
    val packed = ex.groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("mxs"))
    def mnAt(i: Column) = element_at(col("mns"), i + 1)
    def mxAt(i: Column) = element_at(col("mxs"), i + 1)
    val codes = transform(col("n_emb"), (x, i) =>
      when(mxAt(i) > mnAt(i),
        least(lit(255), greatest(lit(0),
          floor((x.cast("double") - mnAt(i)) * 255.0 / (mxAt(i) - mnAt(i))))))
        .otherwise(lit(0L)))
    val recon = transform(col("n_codes"), (cde, i) =>
      mnAt(i) + (cde.cast("double") + 0.5) * (mxAt(i) - mnAt(i)) / 255.0)
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_emb"))
      .crossJoin(broadcast(packed))
      .withColumn("n_codes", codes)
      .withColumn("n_rvec", recon)
      .withColumn("n_ns", normSq(col("n_rvec")))
      .select("n_id", "n_rvec", "n_ns")
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_emb"))
      .withColumn("q_ns", normSq(col("q_emb"))))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cosine_sq8",
        cosine(dot(col("q_emb"), col("n_rvec")), col("q_ns"), col("n_ns")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine_sq8").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "cosine_sq8", "rank")
  }

  /** Brute-force cosine top-k: each query row against the whole corpus,
    * rank by similarity (deterministic id tie-break). The query side is
    * broadcast — the corpus streams through map tasks untouched, which
    * is the right baseline shape at 100 TB (one pass, no corpus
    * shuffle).
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_emb"))
      .withColumn("q_ns", normSq(col("q_emb"))))
    val par = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val c = corpus.repartition(par)
      .select(col(idCol).as("n_id"), col(vecCol).as("n_emb"))
      .withColumn("n_ns", normSq(col("n_emb")))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(dot(col("q_emb"), col("n_emb")), col("q_ns"), col("n_ns")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "cosine", "rank")
  }
}

/** Deterministic pseudo-random hyperplane weights: md5-derived
  * integers in [-1e6, 1e6], a pure function of (plane, pos). The md5
  * discipline (same as the MinHash band salts in graft.dedup) makes
  * the "random" projection replayable bit-for-bit in any engine with
  * md5 — the property that lets a DuckDB oracle reproduce the exact
  * candidate set. Computed once per (planes, dims) per JVM (a few KB)
  * and read straight from the kernel's hot loop.
  */
object LshMath {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  private def weightsFor(planes: Int, dims: Int): Array[Long] =
    cache.computeIfAbsent((planes, dims), _ => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val w = new Array[Long](planes * dims)
      var p = 0
      while (p < planes) {
        var i = 0
        while (i < dims) {
          md.reset()
          val hex = md.digest(s"${p}_${i}".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.substring(0, 15)
          w(p * dims + i) = java.lang.Long.parseLong(hex, 16) % 2000001L - 1000000L
          i += 1
        }
        p += 1
      }
      w
    })

  /** All band hashes of one embedding as a narrow per-row kernel —
    * NO shuffle, NO join, NO per-element aggregation in the plan
    * (the r12 SCALECHECK showed the exploded projection pipeline
    * carrying n·dims·planes rows through a shuffle; this is the same
    * arithmetic as plain JVM integer loops inside whole-stage
    * codegen). Exactness/portability: each input value is quantized
    * to the 2⁻²⁰ grid with floor(v·2²⁰ + 0.5) — v is a widened
    * FLOAT, so v·2²⁰ and the +0.5 are exact in double and the floor
    * is engine-identical — and the projection is then a pure int64
    * dot product (|w| ≤ 1e6: headroom to |v| ≈ 7e4 at 128 dims),
    * which every engine sums identically. The accumulation is
    * OVERFLOW-CHECKED (Math.addExact/multiplyExact — JIT intrinsics,
    * branch-free on the common path): a corpus whose dims·|v| exceeds
    * the int64 budget fails loudly instead of wrapping, because a
    * replaying SQL oracle (HUGEINT sums) would compute the TRUE sign
    * and the two engines' candidate sets would silently diverge.
    * Quantization only
    * perturbs the LSH CANDIDATE proposer (by ~2⁻²⁰ relative, far
    * inside the random-hyperplane noise); the published pairs still
    * come from the full-precision exact-decimal cosine re-verify.
    */
  def bandHashes(emb: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Int, bandBits: Int,
      floatInput: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val dims = emb.numElements()
    val w = weightsFor(planes, dims)
    val vq = new Array[Long](dims)
    var i = 0
    while (i < dims) {
      // float input widens exactly, so v·2²⁰ and +0.5 stay exact in
      // double either way and the floor is engine-identical
      val v = if (floatInput) emb.getFloat(i).toDouble else emb.getDouble(i)
      vq(i) = math.floor(v * 1048576.0 + 0.5).toLong
      i += 1
    }
    val bands = planes / bandBits
    val out = new Array[Any](bands)
    var b = 0
    try {
      while (b < bands) {
        var hash = 0
        var k = 0
        while (k < bandBits) {
          val off = (b * bandBits + k) * dims
          var acc = 0L
          var j = 0
          while (j < dims) {
            acc = Math.addExact(acc, Math.multiplyExact(w(off + j), vq(j)))
            j += 1
          }
          if (acc >= 0) hash |= (1 << k)
          k += 1
        }
        out(b) = hash
        b += 1
      }
    } catch {
      case _: ArithmeticException => throw new ArithmeticException(
        s"LSH int64 projection overflow at dims=$dims: coordinate magnitudes " +
          "exceed the quantized accumulator's budget (|v|·dims ≳ 8.8e6) — " +
          "pre-normalize or rescale the embeddings")
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `lsh_band_hashes(array<double>, planes, band_bits) -> array<int>` —
  * the whole sign-bit-LSH signature of one embedding as a native
  * codegen'd expression ([[LshMath.bandHashes]]): element i
  * is band i's packed sign bits.
  */
case class LshBandHashesExpr(
    first: org.apache.spark.sql.catalyst.expressions.Expression,
    second: org.apache.spark.sql.catalyst.expressions.Expression,
    third: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._

  override def checkInputDataTypes(): TypeCheckResult =
    if (!first.dataType.isInstanceOf[ArrayType] ||
        (first.dataType.asInstanceOf[ArrayType].elementType != DoubleType &&
         first.dataType.asInstanceOf[ArrayType].elementType != FloatType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE|FLOAT> embedding, got ${first.dataType.catalogString}")
    else if (second.dataType != IntegerType || !second.foldable ||
        third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires literal INT planes and band bits")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private lazy val floatInput: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(emb: Any, planes: Any, bits: Any): Any =
    LshMath.bandHashes(
      emb.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      planes.asInstanceOf[Int], bits.asInstanceOf[Int], floatInput)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, p, b) =>
      s"graft.similarity.LshMath.bandHashes($e, $p, $b, $floatInput)")
  override protected def withNewChildrenInternal(
      newFirst: org.apache.spark.sql.catalyst.expressions.Expression,
      newSecond: org.apache.spark.sql.catalyst.expressions.Expression,
      newThird: org.apache.spark.sql.catalyst.expressions.Expression): LshBandHashesExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "lsh_band_hashes"
}

/** Session registration for the LSH kernel — bound once per session,
  * so any query path may call it.
  */
object LshFunctions {
  import graft.catalyst.Kernel
  private val kernels = Seq(Kernel("lsh_band_hashes", classOf[LshBandHashesExpr],
    c => LshBandHashesExpr(c.head, c(1), c(2))))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernel.register(spark, kernels)
}
