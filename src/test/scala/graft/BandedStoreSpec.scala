package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.dedup.{BandedStore, SignatureStore, StoreGuard}
import graft.similarity.EmbeddingStore

/** The lifecycle verbs both corpus stores share, driven for each store
  * kind through its public API: the single-writer lock, recovery of a
  * dead writer's unpublished commits, the lock discharges, the rollback
  * refusal after a compaction, and cross-process re-registration.
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
    /** Ingest the day-1 batch (ids ≡ 1 mod 5) against the day-0 build. */
    def ingest(): Unit
    def locked(f: => Unit): Unit
    def recoverArbitrated(): Boolean
    def unlock(): Unit
    def dischargeDeadLock(strict: Boolean): Boolean
    def snapshot(): BandedStore.Snapshot
    def rollback(snap: BandedStore.Snapshot): Unit
    def compact(): Unit
    def ensureRegistered(): Unit
    def drop(): Unit
  }

  private def day(df: DataFrame, idCol: String, d: Int): DataFrame =
    df.filter(col(idCol) % 5 === d)

  private val text: Kind = new Kind {
    val label = "signature store"
    val store = SignatureStore
    val name = "graft_banded_spec_text"
    private lazy val docs = Tables.documents(spark, sfDir)
    def metaTable = SignatureStore.metaTable(name)
    def tables = Seq(SignatureStore.bandsTable(name) -> "band_key",
      SignatureStore.shinglesTable(name) -> "doc_id",
      SignatureStore.sizesTable(name) -> "doc_id")
    def build(buckets: Int): Unit =
      SignatureStore.build(spark, day(docs, "doc_id", 0), name, buckets = buckets)
    def ingest(): Unit = {
      SignatureStore.ingest(spark, day(docs, "doc_id", 1), name)
      ()
    }
    def locked(f: => Unit): Unit = SignatureStore.locked(spark, name)(f)
    def recoverArbitrated(): Boolean = SignatureStore.recoverArbitrated(spark, name)
    def unlock(): Unit = SignatureStore.unlock(spark, name)
    def dischargeDeadLock(strict: Boolean): Boolean =
      SignatureStore.dischargeDeadLock(spark, name, strict)
    def snapshot(): BandedStore.Snapshot = SignatureStore.snapshot(spark, name)
    def rollback(snap: BandedStore.Snapshot): Unit = SignatureStore.rollback(spark, name, snap)
    def compact(): Unit = SignatureStore.compact(spark, name)
    def ensureRegistered(): Unit = SignatureStore.ensureRegistered(spark, name)
    def drop(): Unit = SignatureStore.drop(spark, name)
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
    def ingest(): Unit = {
      EmbeddingStore.ingest(spark, day(vecs, "vec_id", 1), name)
      ()
    }
    def locked(f: => Unit): Unit = EmbeddingStore.locked(spark, name)(f)
    def recoverArbitrated(): Boolean = EmbeddingStore.recoverArbitrated(spark, name)
    def unlock(): Unit = EmbeddingStore.unlock(spark, name)
    def dischargeDeadLock(strict: Boolean): Boolean =
      EmbeddingStore.dischargeDeadLock(spark, name, strict)
    def snapshot(): BandedStore.Snapshot = EmbeddingStore.snapshot(spark, name)
    def rollback(snap: BandedStore.Snapshot): Unit = EmbeddingStore.rollback(spark, name, snap)
    def compact(): Unit = EmbeddingStore.compact(spark, name)
    def ensureRegistered(): Unit = EmbeddingStore.ensureRegistered(spark, name)
    def drop(): Unit = EmbeddingStore.drop(spark, name)
  }

  private lazy val fs = StoreGuard.tableLocation(spark, "any")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The lock file, a sibling of the meta dir. */
  private def lockOf(k: Kind): Path = {
    val m = StoreGuard.tableLocation(spark, k.metaTable)
    new Path(m.getParent, m.getName + ".lock")
  }

  /** Claim `k`'s lock as the process with owner stamp `stamp` would. */
  private def fakeLock(k: Kind, stamp: String): Unit = {
    val out = fs.create(lockOf(k), true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  /** A fresh store of kind `k` with `buckets` buckets, dropped after `f`. */
  private def withStore(k: Kind, buckets: Int = 16)(f: => Unit): Unit = {
    fs.delete(lockOf(k), false)
    k.drop()
    k.build(buckets)
    try f finally { fs.delete(lockOf(k), false); k.drop() }
  }

  /** The data columns of every data table of `k`, sorted. */
  private def content(k: Kind): Seq[Seq[String]] =
    k.tables.map { case (t, _) =>
      spark.table(t).drop("commit").collect().map(_.toString).sorted.toSeq
    }

  Seq(text, emb).foreach { k =>

    test(s"${k.label}: a second writer fails fast against locked") {
      withStore(k) {
        k.locked {
          var err: Option[Throwable] = None
          val th = new Thread(() =>
            try k.compact() catch { case e: Throwable => err = Some(e) })
          th.start(); th.join()
          assert(err.exists(_.getMessage.contains("locked by a concurrent writer")), err)
        }
        assert(!fs.exists(lockOf(k)), "locked releases the lock")
      }
    }

    test(s"${k.label}: recoverArbitrated restores the pending snapshot when the lock owner is dead") {
      withStore(k) {
        k.ingest()
        val snap0 = k.snapshot()
        val rows0 = content(k)
        // a writer died after its appends, before its publish: its
        // commits are on disk, its stamped lock too, and no manifest
        // names the commits — they are never read, here or in a fresh
        // registration
        val strays = k.tables.map { case (t, _) => strayCommit(t) }
        assert(k.snapshot() == snap0 && content(k) == rows0)
        freshRegistration(k.store, k.name)
        assert(content(k) == rows0, "a fresh registration reads the published commits only")
        // a LIVE owner's lock is never discharged, its commits never deleted
        fakeLock(k, StoreGuard.ownerStamp)
        val live = intercept[RuntimeException](k.recoverArbitrated())
        assert(live.getMessage.contains("STILL ALIVE"), live.getMessage)
        assert(fs.exists(lockOf(k)) && strays.forall(fs.exists))
        fakeLock(k, StoreGuard.ownerStampFor(deadPid()))
        assert(k.recoverArbitrated(), "a dead owner's unpublished commits must be recovered")
        assert(!strays.exists(fs.exists), "recovery deletes the unpublished commits")
        assert(k.snapshot() == snap0 && content(k) == rows0)
        assert(!fs.exists(lockOf(k)), "recovery releases the dead lock")
        assert(!k.recoverArbitrated(), "nothing left after recovery")
      }
    }

    test(s"${k.label}: unlock and dischargeDeadLock, strict and non-strict") {
      withStore(k) {
        assert(!k.dischargeDeadLock(strict = true), "no lock: nothing to discharge")
        assert(!k.dischargeDeadLock(strict = false))
        // a live owner: strict refuses loudly, non-strict leaves it
        fakeLock(k, StoreGuard.ownerStamp)
        val e = intercept[RuntimeException](k.dischargeDeadLock(strict = true))
        assert(e.getMessage.contains("STILL ALIVE"), e.getMessage)
        assert(!k.dischargeDeadLock(strict = false))
        assert(fs.exists(lockOf(k)), "a live owner's lock is left alone")
        k.unlock()
        assert(!fs.exists(lockOf(k)), "unlock releases any lock")
        // a dead owner: both modes discharge
        Seq(true, false).foreach { strict =>
          fakeLock(k, StoreGuard.ownerStampFor(deadPid()))
          assert(k.dischargeDeadLock(strict), s"strict=$strict")
          assert(!fs.exists(lockOf(k)), s"strict=$strict")
        }
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
