package graft

import org.apache.spark.sql.functions._
import graft.dedup.{BandedStore, SignatureStore, StoreGuard}
import graft.similarity.{EmbeddingStore, Similarity}
import org.apache.hadoop.fs.Path

/** Store-compaction and reband lifecycle: N daily ingests → `compact`
  * → file count back to the bucket floor with byte-identical probe
  * results in ONE publish; pre-compaction snapshots refuse to roll back;
  * a live writer's lock makes compaction fail fast; and a compaction or
  * reband that dies before or after its publish leaves a store that
  * reads the same content, here and in a fresh registration, and that
  * the next run completes.
  */
class StoreCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def loc(t: String): Path = StoreGuard.tableLocation(spark, t)
  private lazy val fs =
    loc("any").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Leave the lock a dead writer of `store` would leave. */
  private def deadLock(store: BandedStore, name: String): Path = {
    val m = loc(store.metaTable(name))
    val p = new Path(m.getParent, m.getName + ".lock")
    val out = fs.create(p, true)
    try out.write(StoreGuard.ownerStampFor(deadPid()).getBytes("UTF-8")) finally out.close()
    p
  }

  /** Each data table's rows (data columns only), sorted. */
  private def rows(store: BandedStore, name: String): Seq[Seq[String]] =
    store.dataTables(name).map(t =>
      spark.table(t).drop("commit").collect().map(_.toString).sorted.toSeq)

  test("signature store: ingests -> compact -> file floor, identical probe, one gen bump, stale snapshot refused, live lock fails fast") {
    val docs = Tables.documents(spark, sfDir)
    val name = "graft_compact_spec"
    SignatureStore.drop(spark, name)
    SignatureStore.build(spark, docs.filter(col("doc_id") % 5 === 0), name)
    (1 to 4).foreach(d =>
      SignatureStore.ingest(spark, docs.filter(col("doc_id") % 5 === d), name))
    val tables = SignatureStore.dataTables(name)
    assert(StoreGuard.dataFileCount(spark, tables.head) > 16,
      "ingests should have appended past the bucket floor")
    val probeBatch = docs.filter(col("doc_id") % 5 === 0)
    def probe(): Seq[String] = SignatureStore
      .incrementalPairs(spark, probeBatch, name)
      .collect().map(_.toString).sorted.toSeq
    val p0 = probe()
    assert(p0.nonEmpty)
    val preSnap = SignatureStore.snapshot(spark, name)

    SignatureStore.compact(spark, name)
    tables.foreach(t => assert(StoreGuard.dataFileCount(spark, t) <= 16,
      s"$t not compacted to the floor"))
    assert(probe() == p0, "compaction must be content-preserving")
    val post = SignatureStore.snapshot(spark, name)
    assert(post.version == preSnap.version + 1,
      "exactly one publish for the whole compaction")
    assert(tables.forall(t => post.commits(t).size == 1))

    // compaction DELETED the old commits, so the pre-compaction snapshot
    // must be refused loudly instead of naming dirs that are gone
    val e = intercept[RuntimeException](
      SignatureStore.rollback(spark, name, preSnap))
    assert(e.getMessage.contains("cannot roll back"), e.getMessage)

    // a live ingest's lock: compaction fails FAST, never interleaves
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => SignatureStore.locked(spark, name) {
      entered.countDown(); release.await()
    })
    writer.start(); entered.await()
    try {
      val le = intercept[RuntimeException](SignatureStore.compact(spark, name))
      assert(le.getMessage.contains("locked by a concurrent writer"), le.getMessage)
    } finally { release.countDown(); writer.join() }
    assert(probe() == p0)
    SignatureStore.drop(spark, name)
  }

  test("compaction crash windows: dead before its publish the old commits stay read; dead after it the new ones; a fresh registration reads the same") {
    val docs = Tables.documents(spark, sfDir)
    val name = "graft_crash_spec"
    SignatureStore.drop(spark, name)
    SignatureStore.build(spark, docs.filter(col("doc_id") % 5 === 0), name)
    (1 to 2).foreach(d =>
      SignatureStore.ingest(spark, docs.filter(col("doc_id") % 5 === d), name))
    val probeBatch = docs.filter(col("doc_id") % 5 === 0)
    def probe(): Seq[String] = SignatureStore
      .incrementalPairs(spark, probeBatch, name)
      .collect().map(_.toString).sorted.toSeq
    val p0 = probe()
    val rows0 = rows(SignatureStore, name)
    val tables = SignatureStore.dataTables(name)
    val bucketCols = Seq("band_key", "doc_id", "doc_id")

    // window 1: a compactor dead before its publish — its rewritten
    // commits and its lock are on disk, no manifest names the commits.
    // The next maintenance run registers the store (like Runner
    // --maintain-store), recovers, and compacts.
    tables.zip(bucketCols).foreach { case (t, c) =>
      BandedStore.writeBucketed(spark.table(t).drop("commit"), t, c, 16, "c-deadcompactor")
    }
    val lock = deadLock(SignatureStore, name)
    freshRegistration(SignatureStore, name)
    assert(probe() == p0 && rows(SignatureStore, name) == rows0,
      "an unpublished compaction must never be read")
    assert(SignatureStore.recover(spark, name))
    assert(!fs.exists(lock))
    assert(tables.forall(t => !fs.exists(new Path(loc(t), "commit=c-deadcompactor"))))
    val live = SignatureStore.snapshot(spark, name).commits

    // window 2: a compactor dead right after its publish, before it
    // deleted the commits the publish dropped — keep copies of the old
    // commit dirs across a real compaction and put them back
    val aside = new Path(loc(name).getParent, s"$name.aside")
    fs.delete(aside, true)
    val copies = tables.flatMap(t => live(t).map { c =>
      val src = new Path(loc(t), s"commit=$c")
      val dst = new Path(aside, s"$t/commit=$c")
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration))
      (dst, src)
    })
    SignatureStore.compact(spark, name)
    copies.foreach { case (dst, src) => assert(fs.rename(dst, src), s"restore $src") }
    fs.delete(aside, true)
    assert(probe() == p0 && rows(SignatureStore, name) == rows0)
    freshRegistration(SignatureStore, name)
    assert(probe() == p0 && rows(SignatureStore, name) == rows0,
      "the dropped commits are never read again")
    assert(SignatureStore.recover(spark, name), "recover deletes the dropped commits")
    assert(copies.forall { case (_, src) => !fs.exists(src) })
    assert(probe() == p0)
    SignatureStore.drop(spark, name)
  }

  test("embedding store: ingests -> compact -> file floor, identical probe, gen bump; reset->rename crash resumes") {
    val emb = Tables.embeddings(spark, sfDir)
    val name = "graft_ecompact_spec"
    EmbeddingStore.drop(spark, name)
    EmbeddingStore.build(spark, emb.filter(col("vec_id") % 3 === 0), name)
    (1 to 2).foreach(d =>
      EmbeddingStore.ingest(spark, emb.filter(col("vec_id") % 3 === d), name))
    val tables = EmbeddingStore.dataTables(name)
    assert(StoreGuard.dataFileCount(spark, tables.head) > 16)
    val probeBatch = emb.filter(col("vec_id") % 3 === 0)
    def probe(): Seq[String] = EmbeddingStore
      .incrementalPairs(spark, probeBatch, name)
      .collect().map(_.toString).sorted.toSeq
    val p0 = probe()
    assert(p0.nonEmpty)
    val v0 = EmbeddingStore.snapshot(spark, name).version

    // a compactor that died mid-rewrite of the vectors table: its
    // commit is on disk, unpublished, and never read
    val vecsT = EmbeddingStore.vecsTable(name)
    BandedStore.writeBucketed(spark.table(vecsT).drop("commit"), vecsT, "vec_id", 16,
      "c-deadcompactor")
    freshRegistration(EmbeddingStore, name)
    assert(probe() == p0)
    assert(spark.table(vecsT).count() == spark.table(vecsT).select("vec_id").distinct().count(),
      "no vector may be read twice")

    // the next run completes the compaction and deletes the dead commit
    EmbeddingStore.compact(spark, name)
    tables.foreach(t => assert(StoreGuard.dataFileCount(spark, t) <= 16,
      s"$t not compacted to the floor"))
    assert(!fs.exists(new Path(loc(vecsT), "commit=c-deadcompactor")))
    assert(probe() == p0)
    assert(EmbeddingStore.snapshot(spark, name).version == v0 + 1)
    EmbeddingStore.drop(spark, name)
  }

  test("embedding store reband: outgrown geometry widens from stored vectors; no-op when current; crash heals") {
    val name = "graft_reband_spec"
    EmbeddingStore.drop(spark, name)
    // deterministic synthetic corpus: enough structure for the adaptive
    // derivation to CHANGE between 100 and 1200 vectors
    // md5-derived coordinates: genuinely unstructured, so distinct ids
    // are never near-dups (a lattice formula here makes constant-shift
    // twins and the whole ingest dedupes away — measured)
    def vecs(from: Long, until: Long) = (from until until).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      (i, Array.tabulate(32) { j =>
        val d = md.digest(s"$i:$j".getBytes("UTF-8"))
        ((((d(0) & 0xFF) << 16) | ((d(1) & 0xFF) << 8) | (d(2) & 0xFF)) % 20001 - 10000) / 10000.0f
      })
    }.toDF("vec_id", "embedding")
    EmbeddingStore.build(spark, vecs(0, 100), name) // n=100 -> r=8, 48 planes
    def metaSpec() = {
      val m = spark.table(EmbeddingStore.metaTable(name)).head()
      (m.getAs[Int]("planes"), m.getAs[Int]("band_bits"))
    }
    assert(metaSpec() == Similarity.lshSpecFor(100))
    // geometry still right-sized: reband is a no-op
    assert(!EmbeddingStore.reband(spark, name))
    assert(metaSpec() == Similarity.lshSpecFor(100))
    // the store grows 12x past its build-time size
    EmbeddingStore.ingest(spark, vecs(100, 1200), name)
    val n = spark.table(EmbeddingStore.vecsTable(name)).count()
    assert(Similarity.lshSpecFor(n) != metaSpec(), "growth must outdate the pin")
    val batch = vecs(5000, 5050)
      .unionByName(vecs(100, 110).select((col("vec_id") + 9000000L).as("vec_id"),
        col("embedding"))) // exact twins of stored vectors: guaranteed pairs
    def probeOf(store: String) = EmbeddingStore
      .incrementalPairs(spark, batch, store)
      .collect().map(_.toString).sorted.toSeq

    // crash window: a rebander dead before its publish — its bands
    // commit and its lock are on disk, no manifest names the commit.
    // Bands and meta are still both on the old geometry, and the store
    // answers exactly as before, here and in a fresh registration.
    val before = probeOf(name)
    assert(before.nonEmpty)
    val stray = strayCommit(EmbeddingStore.bandsTable(name))
    val lock = deadLock(EmbeddingStore, name)
    freshRegistration(EmbeddingStore, name)
    assert(metaSpec() == Similarity.lshSpecFor(100) && probeOf(name) == before)
    assert(EmbeddingStore.recover(spark, name))
    assert(!fs.exists(stray) && !fs.exists(lock))

    // the re-run heals: bands and meta move together
    assert(EmbeddingStore.reband(spark, name))
    assert(metaSpec() == Similarity.lshSpecFor(n))
    // the re-banded store answers probes exactly like a FRESH build of
    // the same corpus (geometry and bands agree by construction)
    val fresh = "graft_reband_fresh"
    EmbeddingStore.drop(spark, fresh)
    EmbeddingStore.build(spark,
      spark.table(EmbeddingStore.vecsTable(name))
        .select(col("vec_id"), col("emb").as("embedding")), fresh)
    assert(probeOf(name) == probeOf(fresh))
    assert(probeOf(name).nonEmpty)
    // bands landed at the file floor
    assert(StoreGuard.dataFileCount(spark, EmbeddingStore.bandsTable(name)) <= 16)
    Seq(name, fresh).foreach(EmbeddingStore.drop(spark, _))
  }

  test("reband publishes bands and meta together: a rebander dead before its publish leaves both on the old geometry; ingest and probes keep matching") {
    val name = "graft_reband_marker_spec"
    EmbeddingStore.drop(spark, name)
    // a fixed legacy geometry the adaptive derivation will move away from
    EmbeddingStore.build(spark,
      (0L until 50L).map(i => (i, TestVectors.vec(i.toInt))).toDF("vec_id", "embedding"),
      name, spec = EmbeddingStore.Spec(32, 8))
    try {
      val twin = Seq((1000L, TestVectors.vec(1))).toDF("vec_id", "embedding")
      def pairs(): Set[(Long, Long)] = EmbeddingStore.incrementalPairs(spark, twin, name)
        .select("hist_id", "new_id").as[(Long, Long)].collect().toSet
      val p0 = pairs()
      assert(p0.contains((1L, 1000L)), p0)
      // a rebander dead anywhere before its publish: whatever it wrote
      // is unnamed, so bands and meta still agree and the twin still
      // matches — no window where banding silently misses
      val stray = strayCommit(EmbeddingStore.bandsTable(name))
      val lock = deadLock(EmbeddingStore, name)
      freshRegistration(EmbeddingStore, name)
      assert(pairs() == p0)
      assert(EmbeddingStore.recover(spark, name))
      assert(!fs.exists(stray) && !fs.exists(lock))
      // the completed reband moves bands and meta in one publish
      val v0 = EmbeddingStore.snapshot(spark, name).version
      assert(EmbeddingStore.reband(spark, name))
      assert(EmbeddingStore.snapshot(spark, name).version == v0 + 1)
      val m = spark.table(EmbeddingStore.metaTable(name)).head()
      assert((m.getAs[Int]("planes"), m.getAs[Int]("band_bits")) == Similarity.lshSpecFor(50))
      assert(pairs().contains((1L, 1000L)), "an exact twin matches on any geometry")
      val flags = EmbeddingStore.ingest(spark, twin, name)
        .select("vec_id", "is_dup").as[(Long, Boolean)].collect().toMap
      assert(flags == Map(1000L -> true), flags)
    } finally EmbeddingStore.drop(spark, name)
  }

  test("unnamed commit dirs are never read, and the next publish deletes them") {
    val name = "graft_staged_gc_spec"
    EmbeddingStore.drop(spark, name)
    EmbeddingStore.build(spark,
      (0L until 40L).map(i => (i, TestVectors.vec(i.toInt))).toDF("vec_id", "embedding"),
      name)
    try {
      val rows0 = rows(EmbeddingStore, name)
      // what any dead writer leaves: commit dirs beside the live ones
      val strays = EmbeddingStore.dataTables(name).map(strayCommit)
      assert(rows(EmbeddingStore, name) == rows0)
      freshRegistration(EmbeddingStore, name)
      assert(rows(EmbeddingStore, name) == rows0, "a fresh registration ignores them too")
      // the next publish (here an ingest) deletes them; the live table
      // is untouched throughout
      val survivors = EmbeddingStore.ingest(spark,
        Seq((100L, TestVectors.vec(100))).toDF("vec_id", "embedding"), name)
        .filter(!col("is_dup")).count()
      assert(!strays.exists(fs.exists), "a publish must delete unnamed commit dirs")
      assert(spark.table(EmbeddingStore.vecsTable(name)).count() == 40 + survivors)
    } finally EmbeddingStore.drop(spark, name)
  }

  test("reband on an EMPTY store: meta re-pin only, no staged rewrite, still ingestable") {
    val name = "graft_reband_empty_spec"
    EmbeddingStore.drop(spark, name)
    EmbeddingStore.build(spark,
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), name)
    try {
      // geometry and kernel current: nothing to do
      assert(!EmbeddingStore.reband(spark, name))
      // a legacy fixed-geometry pin on an empty store (a pre-kernel
      // 4-column meta): reband must re-pin the meta WITHOUT writing a
      // zero-row bands commit
      val m = spark.table(EmbeddingStore.metaTable(name)).head()
      EmbeddingStore.pinMeta(spark, name,
        Seq((32, 8, m.getAs[Int]("buckets"), m.getAs[Int]("dims")))
          .toDF("planes", "band_bits", "buckets", "dims"))
      assert(EmbeddingStore.reband(spark, name))
      val m2 = spark.table(EmbeddingStore.metaTable(name)).head()
      assert((m2.getAs[Int]("planes"), m2.getAs[Int]("band_bits")) ==
        Similarity.lshSpecFor(0))
      assert(!EmbeddingStore.snapshot(spark, name).commits
        .contains(EmbeddingStore.bandsTable(name)), "no bands commit for an empty store")
      // the healed store still takes its first ingest
      val flags = EmbeddingStore.ingest(spark,
        Seq((1L, TestVectors.vec(1))).toDF("vec_id", "embedding"), name)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(flags == Map(1L -> false), flags)
    } finally EmbeddingStore.drop(spark, name)
  }

  test("a publish that replaces a table prunes the older manifests; the newest " +
      "snapshot still rolls back, a snapshot across the prune refuses") {
    def vecs(ids: Seq[Int]) = ids.map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    def manifests(name: String): Seq[String] =
      fs.listStatus(EmbeddingStore.guard(name).manifestDir(spark)).map(_.getPath.getName)
        .filter(_.startsWith("manifest-")).toSeq.sorted
    val name = "graft_manifest_prune_spec"
    EmbeddingStore.drop(spark, name)
    EmbeddingStore.build(spark, vecs(0 until 40), name)
    try {
      EmbeddingStore.ingest(spark, vecs(100 until 104), name)
      EmbeddingStore.ingest(spark, vecs(200 until 204), name)
      assert(manifests(name).size == 3, manifests(name))
      EmbeddingStore.compact(spark, name)
      assert(manifests(name) == Seq("manifest-v00000004.txt"), manifests(name))
      val snap = EmbeddingStore.snapshot(spark, name)
      val rows0 = rows(EmbeddingStore, name)
      EmbeddingStore.ingest(spark, vecs(300 until 304), name)
      assert(rows(EmbeddingStore, name) != rows0)
      EmbeddingStore.rollback(spark, name, snap)
      assert(rows(EmbeddingStore, name) == rows0)
      assert(EmbeddingStore.snapshot(spark, name).commits == snap.commits)
    } finally EmbeddingStore.drop(spark, name)

    // an empty store's snapshot names only its meta commit, which a
    // compaction keeps — the versions after it are what went
    val empty = "graft_manifest_prune_empty_spec"
    EmbeddingStore.drop(spark, empty)
    EmbeddingStore.build(spark, vecs(Nil), empty)
    try {
      val snap = EmbeddingStore.snapshot(spark, empty)
      EmbeddingStore.ingest(spark, vecs(0 until 4), empty)
      EmbeddingStore.ingest(spark, vecs(10 until 14), empty)
      EmbeddingStore.compact(spark, empty)
      assert(manifests(empty).size == 1, manifests(empty))
      val e = intercept[RuntimeException](EmbeddingStore.rollback(spark, empty, snap))
      assert(e.getMessage.contains("pruned by a later build, compact or reband"), e.getMessage)
    } finally EmbeddingStore.drop(spark, empty)
  }
}
