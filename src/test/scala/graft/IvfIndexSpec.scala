package graft

import org.apache.spark.sql.functions._
import graft.similarity.IvfIndex

/** Persisted IVF index: the build-once/probe-many path must return
  * exactly what the in-memory s02 IVF plan returns, and the probe must
  * prune unprobed cell partitions at the file index.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  test("probe equals the in-memory s02 plan bit-for-bit; unprobed cells prune") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIndex.build(emb, "vec_id", "embedding", "label", root)

    val got = IvfIndex.topK(spark, root,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5, probes = 2)
    val want = Queries.byName("s02_ivf_topk").query(spark, sfDir)
    // exact equality including the double cosine: both paths accumulate
    // the same decimal(28,12) products, so the doubles are bit-identical
    val gotSet = got.as[(Long, Long, Double, Int)].collect().toSet
    val wantSet = want.as[(Long, Long, Double, Int)].collect().toSet
    assert(gotSet == wantSet,
      s"index path diverged: only-got=${(gotSet -- wantSet).take(3)} " +
        s"only-want=${(wantSet -- gotSet).take(3)}")

    // partition pruning: the corpus scan carries the probed-cells filter
    // as a PartitionFilter (file-index pruning, not a post-scan filter)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n"))

    // rebuild publishes a fresh commit as version 2 — in-flight readers
    // of v1 are undisturbed, and the new reader answers identically
    assert(IvfIndex.build(emb, "vec_id", "embedding", "label", root) == 2)
    assert(IvfIndex.topK(spark, root, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5).as[(Long, Long, Double, Int)]
      .collect().toSet == gotSet)
  }

  test("trained quantizer is deterministic under repartitioning") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = IvfIndex.train(emb, "vec_id", "embedding", nlist = 8, iters = 2, sampleMod = 2)
      .as[(Long, Int)].collect().toSet
    // different physical layout, same assignment: nothing in the trainer
    // may depend on partitioning or accumulation order
    val b = IvfIndex.train(emb.repartition(17, col("vec_id") % 3), "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 2).as[(Long, Int)].collect().toSet
    assert(a == b)
    assert(a.map(_._1).size == emb.count(), "every vector must be assigned exactly one cell")
    assert(a.map(_._2).subsetOf((0 until 8).toSet), a.map(_._2))
  }

  test("trainer descends: sample SSE is monotone non-increasing in Lloyd iterations") {
    import graft.functions.StableAgg._
    val emb = Tables.embeddings(spark, sfDir)
    // within-cluster SSE of an assignment with its own mean centroids,
    // over the trainer's sample (the monotone Lloyd quantity: S(a_k+1)
    // <= SSE(a_k+1, c_k) <= SSE(a_k, c_k) = S(a_k))
    def sampleSse(iters: Int): Double = {
      val cells = IvfIndex.train(emb, "vec_id", "embedding", nlist = 8,
        iters = iters, sampleMod = 2)
      val ex = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v0")))
        .withColumn("v", col("v0").cast("double"))
        .filter(conv(substring(md5(concat(lit("ivf"), col("vec_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2 === 0)
        .join(cells, "vec_id")
      val cent = ex.groupBy("cell", "pos").agg((dsum(col("v"), 12) / count(col("v"))).as("c"))
      ex.join(cent, Seq("cell", "pos"))
        .agg(dsum((col("v") - col("c")) * (col("v") - col("c")), 12))
        .head().getDouble(0)
    }
    val s1 = sampleSse(1); val s2 = sampleSse(2); val s3 = sampleSse(3)
    assert(s2 <= s1, s"SSE rose: iters1=$s1 iters2=$s2")
    assert(s3 <= s2, s"SSE rose: iters2=$s2 iters3=$s3")
    assert(s3 > 0)
  }

  test("trained index: recall vs brute top-k, pruning pinned, deterministic rebuild") {
    import graft.similarity.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-t").toString + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIndex.buildTrained(emb, "vec_id", "embedding", root,
      nlist = 8, iters = 2, sampleMod = 2)
    val queries = emb.filter(col("vec_id") < 8)
    val got = IvfIndex.topK(spark, root, queries, "vec_id", "embedding", k = 5, probes = 2)
    val gotPairs = got.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // the probe still prunes unprobed cells at the file index with
    // trained (k-means) cells exactly as with caller-provided ones
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n"))
    // recall against the exact brute-force top-5: training is fully
    // deterministic, so this is a fixed number on the fixture corpus
    // (0.575 at sf0.001) — pinned at >= 0.5, well above the ~0.25 a
    // random 2-of-8-cell assignment would average on this corpus
    val brute = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = gotPairs.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall (${gotPairs.intersect(brute).size}/${brute.size})")
    // rebuild over the same corpus reproduces the identical answer set
    assert(IvfIndex.buildTrained(emb, "vec_id", "embedding", root,
      nlist = 8, iters = 2, sampleMod = 2) == 2)
    assert(IvfIndex.topK(spark, root, queries, "vec_id", "embedding", k = 5, probes = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet == gotPairs)
    // build writes are cell-clustered: one data file per cell (plus one
    // centroids file), NOT one per (writer-task, cell) — the small-files
    // regression guard for the partitioned layout
    val live = IvfIndex.live(spark, root)
    assert(live.version == 2 && live.vectors.size == 1, live)
    val dataFiles = new java.io.File(live.vectors.head).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(f => f.getName.endsWith(".parquet")))
    assert(dataFiles.nonEmpty && dataFiles.forall(_._2 == 1),
      s"per-cell file counts: ${dataFiles.mkString(", ")}")
    val centFiles = new java.io.File(live.centroids).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(centFiles == 1, s"$centFiles centroid files")
  }

  test("append: frozen-centroid assignment, base files untouched, probe sees the delta") {
    import graft.similarity.Similarity
    import graft.functions.StableAgg._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-a").toString + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.buildTrained(base, "vec_id", "embedding", root,
      nlist = 8, iters = 2, sampleMod = 2)
    val v1 = IvfIndex.live(spark, root)
    def baseFiles(): Map[String, (Long, Seq[Byte])] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(v1.vectors.head))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified(),
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)).toMap
    }
    val before = baseFiles()
    assert(IvfIndex.append(batch, "vec_id", "embedding", root) == 2)
    // append is purely additive: every pre-existing base file survives
    // byte-identical (same path, same mtime, same bytes), and the new
    // manifest is v1's lines plus the delta's vectors dir
    assert(baseFiles() == before, "append touched base vector files")
    val v2 = IvfIndex.live(spark, root)
    assert(v2.entries.init == v1.entries && v2.vectors.init == v1.vectors, v2)
    val delta = new java.io.File(v2.vectors.last)
    assert(delta.isDirectory && delta.listFiles().exists(_.getName.startsWith("cell=")))

    // the delta's cell assignment is the argmin over the PUBLISHED
    // centroids (cns − 2·dot, cell tie-break), computed independently
    val cent = spark.read.parquet(v1.centroids)
      .select(col("cell"), posexplode(col("cent")).as(Seq("pos", "cval")))
    val ex = batch.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v0")))
      .withColumn("v", col("v0").cast("double"))
    val cns = cent.groupBy("cell").agg(dsum(col("cval") * col("cval"), 12).as("cns"))
    val want = ex.join(broadcast(cent), "pos")
      .groupBy("vec_id", "cell").agg(dsum(col("v") * col("cval"), 12).as("dot"))
      .join(broadcast(cns), "cell")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy((col("cns") - lit(2) * col("dot")).asc, col("cell"))))
      .filter(col("rn") === 1).select("vec_id", "cell")
      .as[(Long, Int)].collect().toSet
    val stored = spark.read.parquet(delta.getPath)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(stored == want, "delta cells are not the frozen-centroid argmin")

    // the probe reads base + delta: an appended vector must be findable
    // (its own query returns itself... excluded; so check coverage: the
    // union of scanned ids across a full-probe query equals base+batch)
    val all = IvfIndex.topK(spark, root, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, probes = 8)
    val neighborIds = all.select("n_id").as[Long].collect().toSet
    assert(neighborIds.exists(_ % 5 == 0), "no appended vector ever surfaced in top-k")
    // pruning still pinned with delta dirs in the union
    val got2 = IvfIndex.topK(spark, root, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, probes = 2)
    val plan = got2.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n"))
    got2.collect() // executes end-to-end over base + delta

    // an empty batch publishes nothing (a file-less delta dir would
    // break the probe's schema inference) and the probe still answers
    val commitsBefore = commitDirs(root)
    assert(IvfIndex.append(batch.limit(0), "vec_id", "embedding", root) == 0)
    assert(IvfIndex.live(spark, root) == v2, "an empty append published a version")
    assert(commitDirs(root) == commitsBefore, "an empty append left a commit dir")
    assert(IvfIndex.topK(spark, root, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, probes = 2).count() > 0)
  }

  test("retrain folds deltas and re-derives centroids: equals a fresh buildTrained over the union, old version retained") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-rt").toString + "/idx"
    val fresh = java.nio.file.Files.createTempDirectory("graft-ivf-rt2").toString + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    IvfIndex.buildTrained(base, "vec_id", "embedding", root,
      nlist = 8, iters = 2, sampleMod = 2)
    IvfIndex.append(batch, "vec_id", "embedding", root)
    // retrain publishes v3 as ONE commit with one vectors dir (the
    // delta debt settled) and its centroids
    assert(IvfIndex.retrain(spark, root, nlist = 8, iters = 2, sampleMod = 2) == 3)
    val v3 = IvfIndex.live(spark, root)
    assert(v3.entries.map(_.commit).distinct.size == 1 &&
      v3.entries.map(_.relPath).sorted == Seq("centroids", "vectors"), v3)
    // retrain == buildTrained over the union corpus, probe-for-probe:
    // the index round-trips its own contents, so the retrained
    // centroids are exactly the union-trained ones (the s07 oracle
    // proves the same bit-for-bit in SQL)
    IvfIndex.buildTrained(
      base.select(col("vec_id"), col("embedding")).unionByName(batch),
      "vec_id", "embedding", fresh, nlist = 8, iters = 2, sampleMod = 2)
    def probe(r: String) = IvfIndex.topK(spark, r,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5, probes = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(probe(root) == probe(fresh),
      "retrained index diverged from a fresh build over the same corpus")
    // drifted batch vectors now live in re-derived cells: the retrained
    // centroid table reflects the union corpus (8 cells, full coverage)
    val cells = spark.read.parquet(v3.vectors: _*).select("vec_id").count()
    assert(cells == base.count() + batch.count(), "retrain lost vectors")
    // no index -> loud failure
    val e = intercept[IllegalArgumentException](
      IvfIndex.retrain(spark, "/tmp/graft-no-such-index", nlist = 8))
    assert(e.getMessage.contains("no published index"), e.getMessage)
  }

  /** A 2-d corpus of `n` vectors spread over cells 0 and 1. */
  private def tiny(n: Int, from: Long = 0L) = (0 until n).map { i =>
    val a = i * math.Pi / 2 / n
    (from + i, Array(math.cos(a).toFloat, math.sin(a).toFloat), if (i < n / 2) 0 else 1)
  }.toDF("vec_id", "embedding", "cell")

  private def commitDirs(root: String): Set[String] =
    Option(new java.io.File(s"$root/commits").list()).toSet.flatten

  test("dead writer: an unpublished commit is never read, and the next build deletes it") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-dead").toString + "/idx"
    val corpus = tiny(8)
    IvfIndex.build(corpus, "vec_id", "embedding", "cell", root)
    // what a writer that died before its publish leaves: a commit dir no
    // manifest names, holding a copy of vector 1 under id 99 — for query
    // 1 it would rank first with cosine 1
    val dead = s"$root/commits/c-dead"
    spark.read.parquet(IvfIndex.live(spark, root).vectors: _*)
      .filter(col("vec_id") === 1L).withColumn("vec_id", lit(99L))
      .write.partitionBy("cell").parquet(s"$dead/vectors")
    def nearest() = IvfIndex.topK(spark, root, corpus.filter(col("vec_id") === 1L),
      "vec_id", "embedding", k = 3, probes = 2).select("n_id").as[Long].collect().toSet
    assert(!nearest().contains(99L))
    IvfIndex.append(tiny(2, from = 50L).drop("cell"), "vec_id", "embedding", root)
    assert(!nearest().contains(99L), "an append must not publish a dead writer's commit")
    assert(new java.io.File(dead).isDirectory)
    assert(IvfIndex.build(corpus, "vec_id", "embedding", "cell", root) == 3)
    assert(!new java.io.File(dead).exists(), "the next build must delete the dead commit")
    assert(!nearest().contains(99L))
  }

  test("race: an append published while a retrain trains fails the retrain; " +
      "the appended vectors stay served") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-race").toString + "/idx"
    IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root)
    val batch = tiny(4, from = 100L).drop("cell")
    // the daily append lands after the monthly retrain read the index
    val e = intercept[RuntimeException](IvfIndex.retrain(spark, root, iters = 1,
      onStage = (phase, _) =>
        if (phase == "train") IvfIndex.append(batch, "vec_id", "embedding", root)))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    val served = IvfIndex.topK(spark, root, batch, "vec_id", "embedding", k = 20, probes = 2)
      .select("n_id").as[Long].collect().toSet
    assert((100L to 103L).forall(served.contains), s"appended ids lost: $served")
    // the loser deleted its commit: only the build's and the append's remain
    assert(commitDirs(root).size == 2, commitDirs(root))
  }

  test("race: an append that read a version since vacuumed fails; " +
      "the newest version stays served") {
    import graft.sinks.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-vac").toString + "/idx"
    IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root)
    val batch = tiny(4, from = 100L).drop("cell")
    // while the append of `batch` writes what it read from v1, three
    // other appends publish v2..v4 and a vacuum keeps v3 and v4: v1 and
    // v2 are deleted, and the append's publish into the freed number 2
    // is refused because v4 is newer
    val racing = Seq(200L, 210L, 220L)
    val e = intercept[RuntimeException](withRacingWrite(
        _.outputPath.toString.contains(root), s"index $root") {
        racing.foreach(from =>
          IvfIndex.append(tiny(2, from).drop("cell"), "vec_id", "embedding", root))
        VersionedTable.vacuum(spark, root, retainVersions = 2)
      }(IvfIndex.append(batch, "vec_id", "embedding", root)))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(IvfIndex.live(spark, root).version == 4)
    val served = IvfIndex.topK(spark, root, tiny(8).drop("cell"), "vec_id", "embedding",
      k = 20, probes = 2).select("n_id").as[Long].collect().toSet
    assert(racing.flatMap(f => Seq(f, f + 1)).forall(served.contains), served)
    assert(!served.exists(id => id >= 100L && id < 104L), served)
    intercept[IllegalArgumentException](VersionedTable.readAt(spark, root, 2))
    // the loser deleted its commit: the build's and the three appends' remain
    assert(commitDirs(root).size == 4, commitDirs(root))
  }

  test("race: an append whose version's centroids a build's vacuum deleted fails " +
      "with a concurrent commit, not a missing file") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-cent").toString + "/idx"
    IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root)
    val batch = tiny(4, from = 100L).drop("cell")
    // while the append writes what it read from v1, three builds publish
    // v2..v4 and each vacuums to the newest two versions: v1's centroids
    // are gone before the append's write would read them
    val e = intercept[RuntimeException](withRacingWrite(
        _.outputPath.toString.contains(root), s"index $root") {
        (1 to 3).foreach(_ => IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root))
      }(IvfIndex.append(batch, "vec_id", "embedding", root)))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(IvfIndex.live(spark, root).version == 4)
    val served = IvfIndex.topK(spark, root, tiny(8).drop("cell"), "vec_id", "embedding",
      k = 20, probes = 2).select("n_id").as[Long].collect().toSet
    assert(!served.exists(_ >= 100L), served)
  }

  test("race: an append whose version's centroids a build's vacuum deleted while the " +
      "append read them fails with a concurrent commit, not a missing file") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-cread").toString + "/idx"
    IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root)
    val v1 = IvfIndex.live(spark, root).centroids
    // the append has listed v1's centroid files; as their read is planned,
    // three builds publish v2..v4 and vacuum v1 away
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val rule = new org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val readsV1 = plan.exists {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation =>
              r.location.rootPaths.exists(_.toString.endsWith(v1.stripPrefix("file:")))
            case _ => false
          }
          case _ => false
        }
        if (readsV1 && raced.compareAndSet(false, true))
          (1 to 3).foreach(_ => IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root))
        plan
      }
    }
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ rule
    val e = try intercept[RuntimeException](
        IvfIndex.append(tiny(4, from = 100L).drop("cell"), "vec_id", "embedding", root))
      finally spark.experimental.extraOptimizations = before
    assert(raced.get, "the append never read v1's centroids")
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(IvfIndex.live(spark, root).version == 4)
  }

  test("retention: after a retrain the previous version and all its files stay " +
      "readable; older versions are gone") {
    import graft.sinks.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-keep").toString + "/idx"
    IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root)
    val first = commitDirs(root)
    IvfIndex.build(tiny(8), "vec_id", "embedding", "cell", root)
    assert(IvfIndex.append(tiny(4, from = 100L).drop("cell"), "vec_id", "embedding", root) == 3)
    val v3 = IvfIndex.live(spark, root)
    assert(IvfIndex.retrain(spark, root, iters = 1) == 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = new java.io.File(root).list().filter(_.startsWith("manifest-")).sorted
    assert(manifests.toSeq == Seq("manifest-v00000003.txt", "manifest-v00000004.txt"),
      manifests.toSeq)
    // version 3 (base + delta) reads whole from its own manifest
    val kept = IvfIndex.Live(root, 3,
      VersionedTable.readManifest(fs, new org.apache.hadoop.fs.Path(root), 3))
    assert(kept == v3)
    assert(kept.vectors.map(spark.read.parquet(_).count()).sum == 12)
    assert(spark.read.parquet(kept.centroids).count() == 2)
    // the first build's commit is gone; v3's and v4's are all that remain
    val live = (kept.entries ++ IvfIndex.live(spark, root).entries)
      .map(_.commit.stripPrefix("commits/")).toSet
    assert(first.forall(c => !commitDirs(root).contains(c)), first)
    assert(commitDirs(root) == live, commitDirs(root))
  }
}
