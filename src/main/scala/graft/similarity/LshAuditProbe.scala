package graft.similarity

import org.apache.spark.sql.functions._

/** Decision-record probe: the LSH bucket histogram of the d05 corpus
  * at a scale factor — run against a ScaleCheck scratch dir to record
  * whether the adaptive geometry's buckets stay cap-free as the corpus
  * grows.
  *
  * {{{ runMain graft.similarity.LshAuditProbe /tmp/graft_scale/x30 }}}
  *
  * A second argument synthesizes the corpus IN-MEMORY at `factor`×
  * the dir's embeddings (the ScaleCheck sign-flip trick: per-(copy,
  * dim) Rademacher masks keep within-copy structure bit-identical and
  * make cross-copy dots concentrate near 0) — the cheap way to probe
  * the adaptive geometry near its upper clamp (~10⁶ vectors) without
  * writing a million-row parquet corpus:
  *
  * {{{ runMain graft.similarity.LshAuditProbe /root/testdata/sf0.1 250 }}}
  *
  * A third argument `correlated` replicates copies VERBATIM instead
  * (only ids shift) — the adversarial ceiling for bucket occupancy:
  * every copy of a vector lands in exactly the same buckets, so max
  * occupancy multiplies by `factor`. Real correlated embeddings
  * (manifold-structured model output) sit between the two probes.
  * With `pairs` as a fourth argument the probe also times one
  * [[Similarity.lshCosinePairs]] run and prints its pair count —
  * executed evidence that candidates stay linear-bounded at the
  * probed size.
  */
object LshAuditProbe {
  private val Stride = 1L << 40

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(1)
    val correlated = args.contains("correlated")
    val runPairs = args.contains("pairs")
    val spark = graft.Session.start(graft.Session.Bench)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val scaled = (0 until factor).map { c =>
      val shifted = emb.select((col("vec_id") + lit(c * Stride)).as("vec_id"),
        col("embedding"))
      if (c == 0 || correlated) shifted
      else shifted.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> IF(pmod(hash(j, $c), 2) = 0, x, -x))"))
    }.reduce(_ unionByName _)
    val base = scaled.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val copies = scaled.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            (lit(1.0) +
              // salt from vec_id mod 1e6: synthesized ids reach ~2^48,
              // and id*104729 would overflow int64 under ANSI
              ((i.cast("long") * 7919L + pmod(col("vec_id"), lit(1000000L)) * 104729L)
                % 11L - 5L)
                .cast("double") / lit(128.0)))
            .cast("float").cast("double")).as("embedding"))
      .select((col("vec_id") + 500000000000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(copies).localCheckpoint(true)
    val audit = Similarity.lshBucketAudit(corpus, "vec_id", "embedding").head()
    System.err.println(s"[lsh-audit] $dir x$factor" +
      s"${if (correlated) " CORRELATED" else ""} -> $audit")
    if (runPairs) {
      val t0 = System.nanoTime()
      val n = Similarity.lshCosinePairs(corpus, "vec_id", "embedding", 0.9).count()
      System.err.println(f"[lsh-audit] lshCosinePairs: $n pairs in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
