package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.dedup.{BandedStore, SignatureStore, StoreGuard}
import graft.ops.Orchestrator
import graft.similarity.EmbeddingStore
import graft.sinks.ManifestLog

/** The lifecycle verbs both corpus stores share, driven for each store
  * kind through its public API: the optimistic publish against a stale
  * registration and a racing compaction, a dead writer's unpublished
  * commits, the audit streak in the manifest, the rollback refusals, and
  * cross-process re-registration.
  */
class BandedStoreSpec extends SparkSpec {

  /** One store kind's public verbs, bound to one store name. */
  private trait Kind {
    def label: String
    def store: BandedStore
    def name: String
    def metaTable: String
    /** (table, bucket column) of each bucketed data table. */
    def tables: Seq[(String, String)]
    def build(buckets: Int): Unit
    /** Ingest the day-`d` batch (ids ≡ d mod 5) and return its flags,
      * sorted.
      */
    def ingest(d: Int = 1, onFlags: DataFrame => Unit = _ => ()): Seq[String]
    /** The same ingest through the ops surface, flags merged into `sink`. */
    def opsIngest(sink: Orchestrator.VersionedSink): Orchestrator.CorpusResult
    /** The audit's geometry remediation, asserted to be one publish. */
    def regeometry(): Unit
    def snapshot(): BandedStore.Snapshot = store.snapshot(spark, name)
    def rollback(snap: BandedStore.Snapshot): Unit = store.rollback(spark, name, snap)
    def compact(): Unit = store.compact(spark, name)
    def ensureRegistered(): Unit = store.ensureRegistered(spark, name)
    def drop(): Unit = store.drop(spark, name)
  }

  private def day(df: DataFrame, idCol: String, d: Int): DataFrame =
    df.filter(col(idCol) % 5 === d)

  private def sorted(flags: DataFrame): Seq[String] =
    flags.collect().map(_.toString).sorted.toSeq

  private val text: Kind = new Kind {
    val label = "signature store"
    val store = SignatureStore
    val name = "graft_banded_spec_text"
    private lazy val docs = Tables.documents(spark, sfDir)
    def metaTable = SignatureStore.metaTable(name)
    def tables = Seq(SignatureStore.bandsTable(name) -> "band_key",
      SignatureStore.shinglesTable(name) -> "doc_id")
    def build(buckets: Int): Unit =
      SignatureStore.build(spark, day(docs, "doc_id", 0), name, buckets = buckets)
    def ingest(d: Int, onFlags: DataFrame => Unit): Seq[String] =
      sorted(SignatureStore.ingest(spark, day(docs, "doc_id", d), name, onFlags = onFlags))
    def opsIngest(sink: Orchestrator.VersionedSink): Orchestrator.CorpusResult =
      Orchestrator.corpusIngest(spark, name, day(docs, "doc_id", 1), sink = sink)
    def regeometry(): Unit = {
      val v = snapshot().version
      SignatureStore.retune(spark, day(docs, "doc_id", 0), name,
        SignatureStore.Spec(bands = 16, rows = 3), buckets = 4)
      assert(snapshot().version == v + 1, "the retune is one publish")
    }
  }

  private val emb: Kind = new Kind {
    val label = "embedding store"
    val store = EmbeddingStore
    val name = "graft_banded_spec_emb"
    private lazy val vecs = Tables.embeddings(spark, sfDir)
    def metaTable = EmbeddingStore.metaTable(name)
    def tables = Seq(EmbeddingStore.bandsTable(name) -> "band_key",
      EmbeddingStore.vecsTable(name) -> "vec_id")
    def build(buckets: Int): Unit =
      EmbeddingStore.build(spark, day(vecs, "vec_id", 0), name, buckets = buckets)
    def ingest(d: Int, onFlags: DataFrame => Unit): Seq[String] =
      sorted(EmbeddingStore.ingest(spark, day(vecs, "vec_id", d), name, onFlags = onFlags))
    def opsIngest(sink: Orchestrator.VersionedSink): Orchestrator.CorpusResult =
      Orchestrator.corpusIngestEmbeddings(spark, name, day(vecs, "vec_id", 1), sink = sink)
    /** A reband from a meta pinned one plane off the derived geometry;
      * the streak the pin reset is put back first.
      */
    def regeometry(): Unit = {
      val streak = EmbeddingStore.readAuditStreak(spark, name)
      EmbeddingStore.pinMeta(spark, name, spark.table(metaTable).drop("commit")
        .withColumn("planes", col("planes") + 1))
      EmbeddingStore.writeAuditStreak(spark, name, streak)
      val v = snapshot().version
      assert(EmbeddingStore.reband(spark, name))
      assert(snapshot().version == v + 1, "the reband is one publish")
    }
  }

  private lazy val fs = StoreGuard.tableLocation(spark, "any")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A fresh store of kind `k` with `buckets` buckets, dropped after `f`. */
  private def withStore(k: Kind, buckets: Int = 16)(f: => Unit): Unit = {
    k.drop()
    k.build(buckets)
    try f finally k.drop()
  }

  /** The data columns of every data table of `k`, sorted. */
  private def content(k: Kind): Seq[Seq[String]] =
    k.tables.map { case (t, _) =>
      spark.table(t).drop("commit").collect().map(_.toString).sorted.toSeq
    }

  /** The commit dirs of `k`'s data tables written from version `base`. */
  private def commitsFrom(k: Kind, base: Int): Seq[Path] =
    k.tables.flatMap { case (t, _) =>
      fs.listStatus(StoreGuard.tableLocation(spark, t)).map(_.getPath)
        .filter(_.getName.startsWith(s"commit=c-v$base-"))
    }

  /** Rewrite `k`'s store as an engine before the two-column band tables
    * laid it out: its band rows in one commit whose files also carry
    * `band` and `band_hash`, and for the text store a `_sizes` table (one
    * (doc_id, n_sh) row per indexed doc), both named by the manifest.
    * Returns the dirs of the tables the current layout does not declare.
    */
  private def olderLayout(k: Kind, buckets: Int): Seq[Path] = {
    val (bandT, _) = k.tables.head
    val id = s"c-v${k.snapshot().version}-older"
    def declare(t: String, cols: String, key: String): Unit = {
      val loc = StoreGuard.tableLocation(spark, t)
      fs.mkdirs(loc)
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      spark.sql(s"CREATE TABLE `$t` ($cols, `commit` STRING) USING parquet " +
        s"PARTITIONED BY (`commit`) CLUSTERED BY (`$key`) SORTED BY (`$key`) " +
        s"INTO $buckets BUCKETS LOCATION '$loc'")
    }
    val isText = k.store == SignatureStore
    val hashType = if (isText) "STRING" else "INT"
    val bands = spark.table(bandT).select(col(k.store.idCol),
      substring_index(col("band_key"), ":", 1).cast("int").as("band"),
      substring_index(col("band_key"), ":", -1).cast(hashType).as("band_hash"),
      col("band_key")).localCheckpoint(true)
    declare(bandT, s"`${k.store.idCol}` BIGINT, `band` INT, `band_hash` $hashType, " +
      "`band_key` STRING", "band_key")
    BandedStore.writeBucketed(bands, bandT, "band_key", buckets, id)
    assert(spark.read.parquet(k.store.guard(k.name).commitDir(spark, bandT, id).toString)
      .columns.toSeq == Seq(k.store.idCol, "band", "band_hash", "band_key"))
    val sizes = Option.when(isText)(k.name + "_sizes")
    sizes.foreach { t =>
      val n = spark.table(SignatureStore.shinglesTable(k.name))
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh")).localCheckpoint(true)
      declare(t, "`doc_id` BIGINT, `n_sh` BIGINT", "doc_id")
      BandedStore.writeBucketed(n, t, "doc_id", buckets, id)
      spark.sql(s"DROP TABLE `$t`")
    }
    foreignPublish(k.store, k.name, lines =>
      lines.filterNot(_.startsWith(s"commit\t$bandT\t")) ++
        (bandT +: sizes.toSeq).map(t => s"commit\t$t\t$id"))
    sizes.toSeq.map(StoreGuard.tableLocation(spark, _))
  }

  Seq(text, emb).foreach { k =>

    test(s"${k.label}: a store in the older layout registers, ingests, rolls back and compacts to a fresh store's flags and rows") {
      // snapshot, ingest, roll back, ingest again, compact, ingest the next day
      def lifecycle(): Seq[Seq[String]] = {
        val s0 = k.snapshot()
        val f1 = k.ingest()
        k.rollback(s0)
        val f1again = k.ingest()
        k.compact()
        Seq(f1, f1again, k.ingest(2))
      }
      def columns: Seq[Seq[String]] = k.tables.map { case (t, _) => spark.table(t).columns.toSeq }
      var want: (Seq[Seq[String]], Seq[Seq[String]]) = null
      withStore(k) {
        assert(columns.head == Seq(k.store.idCol, "band_key", "commit"), columns)
        assert(k.snapshot().commits.keySet == (k.tables.map(_._1) :+ k.metaTable).toSet)
        assert(!fs.exists(StoreGuard.tableLocation(spark, k.name + "_sizes")),
          "a fresh store writes only its layout's tables")
        want = (lifecycle(), content(k))
      }
      withStore(k) {
        val columns0 = columns
        val leftover = olderLayout(k, 16)
        try {
          freshRegistration(k.store, k.name)
          assert(columns == columns0, "the catalog declares the current columns")
          val olderTables = k.snapshot().commits.keySet
          assert(leftover.forall(d => olderTables(d.getName)), olderTables)
          assert(lifecycle() == want._1)
          assert(content(k) == want._2)
          assert(k.snapshot().commits.keySet == (k.tables.map(_._1) :+ k.metaTable).toSet,
            "the compaction's publish names only the layout's tables")
          assert(leftover.forall(fs.exists), "a leftover table dir is ignored, not deleted")
        } finally leftover.foreach(fs.delete(_, true))
      }
    }

    test(s"${k.label}: an ingest over a stale registration loses its publish; after a fresh registration it re-runs to the serial flags") {
      withStore(k) {
        val snap = k.snapshot()
        val serial = k.ingest()
        k.rollback(snap)
        // registered at v; a second JVM publishes v+1 inside the ingest's
        // window, and the ingest's joins never saw it
        val v = k.store.guard(k.name).registered(spark)
        assert(v == k.snapshot().version)
        assert(foreignPublish(k.store, k.name) == v + 1)
        val e = intercept[RuntimeException](k.ingest())
        assert(e.getMessage.contains("concurrent commit"), e.getMessage)
        assert(k.snapshot().version == v + 1, "the foreign version stays the newest")
        assert(commitsFrom(k, v).isEmpty, "the loser deletes its commit")
        freshRegistration(k.store, k.name)
        assert(k.ingest() == serial, "the re-run flags as a serial run does")
        assert(k.snapshot().version == v + 2)
      }
    }

    test(s"${k.label}: a dead writer's commits are never read; the next publish deletes those below its version and keeps the rest") {
      withStore(k) {
        k.ingest()
        val snap0 = k.snapshot()
        val rows0 = content(k)
        val v = snap0.version
        // writers that died before their publish, from version v (the next
        // publish, v+1, beats them) and from v+1 (it could still publish)
        val beaten = k.tables.map { case (t, _) => strayCommit(t, v) }
        val pending = k.tables.map { case (t, _) => strayCommit(t, v + 1) }
        assert(k.snapshot() == snap0 && content(k) == rows0)
        freshRegistration(k.store, k.name)
        assert(content(k) == rows0, "a fresh registration reads the published commits only")
        k.ingest()
        assert(k.snapshot().version == v + 1)
        assert(!beaten.exists(fs.exists), "the publish deletes the commits it beat")
        assert(pending.forall(fs.exists), "a commit from the published version survives")
        k.ingest()
        assert(!pending.exists(fs.exists), "the publish after it deletes it")
      }
    }

    test(s"${k.label}: a compaction inside an ingest's window wins; the ingest fails and the compacted store reads back intact") {
      withStore(k, buckets = 2) {
        k.ingest()
        val rows0 = content(k)
        val v = k.snapshot().version
        val e = intercept[RuntimeException](k.ingest(2, onFlags = _ => k.compact()))
        assert(e.getMessage.contains("concurrent commit"), e.getMessage)
        val won = k.snapshot()
        assert(won.version == v + 1)
        assert(k.tables.forall { case (t, _) => won.commits(t).size == 1 },
          "the newest version is the compaction's")
        assert(commitsFrom(k, v).map(_.getName).toSet ==
          k.tables.map { case (t, _) => s"commit=${won.commits(t).head}" }.toSet,
          "the ingest's commit is gone, the compaction's stays")
        assert(content(k) == rows0)
        freshRegistration(k.store, k.name)
        assert(content(k) == rows0, "a fresh registration reads the compaction")
      }
    }

    test(s"${k.label}: a replacing publish that prunes an ingest's target version inside its window keeps that version taken; the ingest loses") {
      withStore(k, buckets = 2) {
        k.ingest()
        val rows0 = content(k)
        val v = k.store.guard(k.name).registered(spark)
        // while the ingest appends from v, a second JVM publishes v+1 and a
        // compaction on top of it publishes v+2, pruning every version up
        // to v+1
        val e = intercept[RuntimeException](withRacing(k.store, k.name) {
          assert(foreignPublish(k.store, k.name) == v + 1)
          k.compact()
        }(k.ingest(2)))
        assert(e.getMessage.contains("concurrent commit"), e.getMessage)
        val won = k.snapshot()
        assert(won.version == v + 2)
        assert(k.tables.forall { case (t, _) => won.commits(t).size == 1 },
          "the newest version is the compaction's")
        assert(commitsFrom(k, v).isEmpty, "the loser deletes its commit")
        val dir = k.store.guard(k.name).manifestDir(spark)
        assert((1 to v + 1).forall(ver => ManifestLog.read(fs, dir, ver).isEmpty),
          "every pruned version stays as an empty file")
        assert(content(k) == rows0)
        freshRegistration(k.store, k.name)
        assert(content(k) == rows0, "a fresh registration reads the compaction")
        k.ingest(2)
        assert(k.snapshot().version == v + 3)
      }
    }

    test(s"${k.label}: the audit streak is a manifest line: a lost race re-applies the breach, a geometry publish resets it, a manifest without it reads 0") {
      withStore(k) {
        val g = k.store.guard(k.name)
        val v0 = k.snapshot().version
        k.store.clearAuditStreak(spark, k.name)
        assert(k.snapshot().version == v0, "resetting a streak of 0 publishes nothing")
        k.store.writeAuditStreak(spark, k.name, 1)
        assert(k.snapshot().version == v0 + 1)
        // a breach whose publish loses to a foreign one: it re-reads the
        // newest streak and counts the breach on top of it
        var raced = false
        val n = g.updateStreak(spark, s => {
          if (!raced) { raced = true; foreignPublish(k.store, k.name) }
          s + 1
        })
        assert(n == 2 && k.store.readAuditStreak(spark, k.name) == 2)
        assert(k.snapshot().version == v0 + 3, "the foreign publish, then the breach")
        // a streak-only publish leaves the registration usable
        freshRegistration(k.store, k.name)
        k.store.writeAuditStreak(spark, k.name, 3)
        k.ingest()
        assert(k.store.readAuditStreak(spark, k.name) == 3, "an ingest keeps the streak")
        // the geometry remediation resets it in its own publish
        k.regeometry()
        assert(k.store.readAuditStreak(spark, k.name) == 0)
        // a store written before the streak moved into the manifest
        k.store.writeAuditStreak(spark, k.name, 2)
        foreignPublish(k.store, k.name, _.filterNot(_.startsWith("streak\t")))
        assert(k.store.readAuditStreak(spark, k.name) == 0)
      }
    }

    test(s"${k.label}: an ingest that loses its publish has nothing to roll back; a foreign publish on top of an ingest whose flag merge fails makes the rollback refuse, and the result says so") {
      withStore(k) {
        val root = java.nio.file.Files.createTempDirectory("graft-banded-flags").toString
        def sink(beforePublish: => Unit) = Orchestrator.VersionedSink(
          rootFor = p => s"$root/$p", onBeforePublish = () => beforePublish)
        // alone, a failed flag merge rolls the ingest back; a suppressed
        // exception the error carries (Spark's caller stack trace) is no
        // rollback failure
        val w = k.snapshot()
        val undone = k.opsIngest(sink {
          val e = new RuntimeException("flag merge died")
          e.addSuppressed(new RuntimeException("the caller's stack trace"))
          throw e
        })
        assert(undone.error.exists(e => e.contains("flag merge died") && !e.contains("ROLLBACK")),
          undone.error)
        assert(k.snapshot().commits == w.commits)
        // a second JVM publishes while the ingest appends: the ingest's
        // publish fails, and the rollback finds nothing of its own to undo
        val u = k.snapshot().version
        val lost = withRacingPublish(k.store, k.name)(k.opsIngest(sink(())))
        assert(lost.error.exists(e => e.contains("concurrent commit") && !e.contains("ROLLBACK")),
          lost.error)
        assert(k.snapshot().version == u + 1 && k.snapshot().commits == w.commits)
        // a second JVM publishes on top of the ingest before its flag merge
        // fails: rolling back would drop that writer's version
        val v = k.snapshot().version
        val failed = k.opsIngest(sink {
          foreignPublish(k.store, k.name)
          sys.error("flag merge died")
        })
        val err = failed.error.getOrElse(fail("the ingest must fail"))
        assert(err.contains("flag merge died") && err.contains("ROLLBACK ALSO FAILED") &&
          err.contains("stale snapshot"), err)
        assert(k.snapshot().version == v + 2, "the ingest and the foreign version stay")
        assert(k.snapshot().commits != w.commits, "the ingest's appends remain")
      }
    }

    test(s"${k.label}: rollback to a snapshot taken before compact refuses") {
      withStore(k, buckets = 2) {
        k.ingest()
        val preCompact = k.snapshot()
        assert(k.tables.exists { case (t, _) => StoreGuard.dataFileCount(spark, t) > 2 },
          "the ingest should have appended past the bucket floor")
        k.compact()
        val e = intercept[RuntimeException](k.rollback(preCompact))
        assert(e.getMessage.contains("no longer exist"), e.getMessage)
      }
    }

    test(s"${k.label}: ensureRegistered re-declares the bucket spec after the catalog entries are dropped") {
      withStore(k, buckets = 4) {
        k.ingest()
        val before = k.snapshot()
        val rows = content(k)
        // a fresh JVM's catalog: no entries (dropping an EXTERNAL entry
        // keeps its files)
        (k.tables.map(_._1) :+ k.metaTable).foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS `$t`")
          assert(!spark.catalog.tableExists(t))
        }
        k.ensureRegistered()
        k.tables.foreach { case (t, c) =>
          val spec = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).bucketSpec
          assert(spec.map(s => (s.numBuckets, s.bucketColumnNames, s.sortColumnNames)) ==
            Some((4, Seq(c), Seq(c))), s"$t: $spec")
        }
        assert(k.snapshot() == before, "re-registration publishes nothing")
        assert(content(k) == rows, "re-registration reads the same rows")
      }
    }
  }
}
