package graft

import org.apache.spark.sql.functions._
import graft.similarity.{EmbeddingStore, Similarity}

/** Embedding-store specs: incremental flags equal the direct
  * full-corpus recipe, the store grows by survivors, snapshot/rollback
  * undoes an ingest, and the writer guard carries over.
  */
class EmbeddingStoreSpec extends SparkSpec {
  import spark.implicits._

  import TestVectors.{vec, nearDup}

  test("incremental flags: dup vs store, within-batch dup, survivors append") {
    val name = "graft_estore_spec"
    EmbeddingStore.drop(spark, name)
    val hist = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("vec_id", "embedding")
    EmbeddingStore.build(spark, hist, name)
    try {
      val batch = Seq(
        (11L, nearDup(1)), // dup of stored 1
        (12L, vec(12)),    // fresh survivor
        (13L, nearDup(12)) // within-batch dup of 12
      ).toDF("vec_id", "embedding")
      // sanity: the dups really are at the design point, the rest are not
      val brute = Similarity.bruteCosinePairs(
        hist.unionByName(batch), "vec_id", "embedding", 0.9)
        .select("va", "vb").as[(Long, Long)].collect().toSet
      assert(brute == Set((1L, 11L), (12L, 13L)), brute)

      val snap = EmbeddingStore.snapshot(spark, name)
      val flags = EmbeddingStore.ingest(spark, batch, name)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      assert(flags == Map(
        11L -> ((true, Some(1L))),
        12L -> ((false, None)),
        13L -> ((true, Some(12L)))), flags)
      // only the survivor appended: 3 history + 1 keeper
      assert(spark.table(EmbeddingStore.vecsTable(name)).count() == 4)
      // day 2: a near-dup of yesterday's APPENDED survivor is caught
      val f2 = EmbeddingStore.ingest(spark,
        Seq((21L, nearDup(12))).toDF("vec_id", "embedding"), name)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(f2 == Map(21L -> 12L), f2)
      // rollback undoes BOTH ingests bit-for-bit (own-process versions allowed)
      EmbeddingStore.rollback(spark, name, snap)
      assert(EmbeddingStore.snapshot(spark, name).commits == snap.commits)
      assert(spark.table(EmbeddingStore.vecsTable(name)).count() == 3)
      // and a re-ingest against the restored store flags identically
      val again = EmbeddingStore.ingest(spark, batch, name)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      assert(again == flags)
    } finally EmbeddingStore.drop(spark, name)
  }

  test("incrementalPairs: read-only probe matches brute force; store reads stay bucketed") {
    import org.apache.spark.sql.functions.col
    val name = "graft_estore_plan_spec"
    EmbeddingStore.drop(spark, name)
    val hist = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("vec_id", "embedding")
    EmbeddingStore.build(spark, hist, name)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = Seq((11L, nearDup(1)), (12L, vec(12))).toDF("vec_id", "embedding")
      def probe(): Unit = {
        val pairs = EmbeddingStore.incrementalPairs(spark, batch, name)
        assert(pairs.select("hist_id", "new_id").as[(Long, Long)].collect().toSet ==
          Set((1L, 11L)))
        val p = pairs.queryExecution.executedPlan.toString
        // the 100 TB cadence property: the store's band and vector tables
        // are read THROUGH their bucketing (no history-side reshuffle) —
        // the batch side is the only exchange keyed on band_key
        assert(p.contains("SelectedBucketsCount: 16 out of 16"),
          p.linesIterator.take(40).mkString("\n"))
        val bandKeyShuffles = raw"Exchange hashpartitioning\(band_key".r.findAllIn(p).size
        assert(bandKeyShuffles == 1,
          s"expected exactly one band_key shuffle (batch side), got $bandKeyShuffles:\n" +
            p.linesIterator.take(60).mkString("\n"))
      }
      probe()
      // the same after an ingest: each table now holds two commits
      EmbeddingStore.ingest(spark, Seq((5L, vec(5))).toDF("vec_id", "embedding"), name)
      assert(EmbeddingStore.snapshot(spark, name).commits
        .get(EmbeddingStore.vecsTable(name)).exists(_.size == 2))
      probe()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      EmbeddingStore.drop(spark, name)
    }
  }

  test("empty batch: incrementalPairs answers (no NPE) and ingest leaves no stale pending") {
    val name = "graft_estore_emptybatch_spec"
    EmbeddingStore.drop(spark, name)
    val hist = Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
    EmbeddingStore.build(spark, hist, name)
    try {
      val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      // the read-only probe on an empty daily slice: empty result with
      // the real output schema, not an NPE off the null max-size row
      val pairs = EmbeddingStore.incrementalPairs(spark, empty, name)
      assert(pairs.columns.toSeq == Seq("hist_id", "new_id", "cosine"))
      assert(pairs.count() == 0)
      // an empty-batch ingest mutates nothing: no publish, and a later
      // recover() on the clean store is a no-op, not a false
      // crashed-ingest report
      val before = EmbeddingStore.snapshot(spark, name)
      val flags = EmbeddingStore.ingest(spark, empty, name)
      assert(flags.count() == 0)
      assert(EmbeddingStore.snapshot(spark, name) == before)
      assert(!EmbeddingStore.recover(spark, name),
        "empty-batch ingest left something to recover")
      // and the store still answers a real probe afterwards
      val live = EmbeddingStore.incrementalPairs(spark,
        Seq((11L, nearDup(1))).toDF("vec_id", "embedding"), name)
      assert(live.select("hist_id", "new_id").as[(Long, Long)].collect().toSet ==
        Set((1L, 11L)))
    } finally EmbeddingStore.drop(spark, name)
  }

  test("rollback refuses across a build: snapshot files were deleted, undo-appends " +
      "cannot restore them") {
    val name = "graft_estore_rebuild_spec"
    EmbeddingStore.drop(spark, name)
    EmbeddingStore.build(spark,
      Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding"), name)
    try {
      val snap = EmbeddingStore.snapshot(spark, name)
      // an own-process rebuild drops the snapshot's commits and deletes
      // their files — republishing them would name dirs that are gone
      EmbeddingStore.build(spark,
        Seq((3L, vec(3))).toDF("vec_id", "embedding"), name)
      val e = intercept[RuntimeException](EmbeddingStore.rollback(spark, name, snap))
      assert(e.getMessage.contains("can only undo appends"), e.getMessage)
      // the refusal left the rebuilt store fully intact and unlocked
      assert(spark.table(EmbeddingStore.vecsTable(name)).count() == 1)
      EmbeddingStore.ingest(spark,
        Seq((4L, vec(4))).toDF("vec_id", "embedding"), name)
      assert(spark.table(EmbeddingStore.vecsTable(name)).count() == 2)
    } finally EmbeddingStore.drop(spark, name)
  }

  test("empty-history build: the first ingest dedupes within itself and seeds the store") {
    val name = "graft_estore_empty_spec"
    EmbeddingStore.drop(spark, name)
    EmbeddingStore.build(spark,
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), name)
    try {
      val flags = EmbeddingStore.ingest(spark,
        Seq((1L, vec(1)), (2L, nearDup(1))).toDF("vec_id", "embedding"), name)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(flags == Map(1L -> false, 2L -> true), flags)
      assert(spark.table(EmbeddingStore.vecsTable(name)).count() == 1)
      // dims were learned from the first batch; a mismatched batch refuses
      val e = intercept[Exception](EmbeddingStore.ingest(spark,
        Seq((3L, Array.fill(5)(1.0f))).toDF("vec_id", "embedding"), name))
      assert(e.getMessage.contains("dims"))
    } finally EmbeddingStore.drop(spark, name)
  }

  test("banding-kernel upgrade: a legacy-kernel store refuses ingest and probes loudly; reband heals it") {
    val name = "graft_estore_kernel_spec"
    EmbeddingStore.drop(spark, name)
    val hist = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("vec_id", "embedding")
    EmbeddingStore.build(spark, hist, name)
    try {
      // simulate a store persisted BEFORE the kernel column existed
      // (pre-quantized-kernel binaries wrote a 4-column meta): its bands
      // came from different arithmetic, so the missing column must read
      // back as v1 and every banding consumer must refuse
      val meta = spark.table(EmbeddingStore.metaTable(name)).head()
      EmbeddingStore.pinMeta(spark, name, Seq((meta.getAs[Int]("planes"),
          meta.getAs[Int]("band_bits"), meta.getAs[Int]("buckets"), meta.getAs[Int]("dims")))
        .toDF("planes", "band_bits", "buckets", "dims"))
      val batch = Seq((11L, nearDup(1))).toDF("vec_id", "embedding")
      val e = intercept[Exception](EmbeddingStore.ingest(spark, batch, name))
      assert(e.getMessage.contains("kernel"), e.getMessage)
      val e2 = intercept[Exception](
        EmbeddingStore.incrementalPairs(spark, batch, name).collect())
      assert(e2.getMessage.contains("kernel"), e2.getMessage)
      // reband rewrites the bands from the full-precision vectors with
      // the CURRENT kernel and re-pins the meta — the store heals
      assert(EmbeddingStore.reband(spark, name))
      val m2 = spark.table(EmbeddingStore.metaTable(name)).head()
      assert(m2.getAs[Int]("kernel") == Similarity.LshKernelVersion)
      assert(!EmbeddingStore.reband(spark, name)) // now current: no-op
      val flags = EmbeddingStore.ingest(spark, batch, name)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(flags == Map(11L -> true), flags)
    } finally EmbeddingStore.drop(spark, name)
  }

  test("cross-JVM maintenance: reband re-pins the meta through an ensureRegistered (EXTERNAL) entry") {
    // the r17 CLI remediation proof's finding: the monthly sweep runs
    // in a FRESH JVM (the cron cadence), whose catalog entries come
    // from ensureRegistered. A meta rewrite that replaced the catalog
    // entry failed there with LOCATION_ALREADY_EXISTS, so every
    // cross-JVM reband/compact failed in exactly the production shape.
    // Simulate the fresh-JVM state in-process (drop the entries, keep
    // the files, re-register), then drive the sweep's reband.
    val name = "graft_estore_xjvm_spec"
    EmbeddingStore.drop(spark, name)
    val hist = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("vec_id", "embedding")
    EmbeddingStore.build(spark, hist, name)
    try {
      // make the stored geometry OUTDATED (band_bits off by one, kernel
      // current) so reband must rewrite bands AND re-pin the meta
      val m = spark.table(EmbeddingStore.metaTable(name)).head()
      EmbeddingStore.pinMeta(spark, name, Seq((m.getAs[Int]("planes"),
          m.getAs[Int]("band_bits") + 1, m.getAs[Int]("buckets"), m.getAs[Int]("dims"),
          Similarity.LshKernelVersion))
        .toDF("planes", "band_bits", "buckets", "dims", "kernel"))
      freshRegistration(EmbeddingStore, name) // the fresh-JVM entries
      // the sweep's maintenance sequence, as scheduledJobs runs it
      assert(EmbeddingStore.reband(spark, name),
        "reband must rewrite the outdated geometry through the external entry")
      EmbeddingStore.compact(spark, name)
      val m2 = spark.table(EmbeddingStore.metaTable(name)).head()
      assert(m2.getAs[Int]("band_bits") == m.getAs[Int]("band_bits"),
        "meta re-pinned to the derived geometry")
      assert(m2.getAs[Int]("kernel") == Similarity.LshKernelVersion)
      // the store stays fully usable after cross-JVM maintenance
      val flags = EmbeddingStore.ingest(spark,
          Seq((11L, nearDup(1))).toDF("vec_id", "embedding"), name)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(flags == Map(11L -> true), flags)
    } finally EmbeddingStore.drop(spark, name)
  }
}
