package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup.{BandedStore, SignatureStore}
import graft.similarity.EmbeddingStore

/** Structured-Streaming runtime for CONTINUOUS corpus ingestion — the
  * incremental form of the d08/s06 cadence (daily batch → dedupe
  * against the persistent [[SignatureStore]]/[[EmbeddingStore]] →
  * append survivors): arriving files become micro-batches, each
  * micro-batch runs the identical store ingest, and the per-document
  * flags land in a batch-partitioned parquet log. `foreachBatch` is the
  * right streaming primitive here because the STORE is the state —
  * bucketed on disk, shared with the batch CLI and the maintenance
  * jobs — and Spark's managed streaming state (per-query,
  * checkpoint-owned) cannot be that.
  *
  * Exactly-once under checkpoint redelivery, by construction (never by
  * re-running the dedup against a store the previous attempt already
  * mutated — re-ingesting a committed batch would re-dedupe it against
  * its own survivors, with subtle wrong flags on transitive duplicate
  * chains):
  *
  *  - the store ingest already persists its pre-batch snapshot (the
  *    pending file) for the whole mutation and restores it on
  *    [[SignatureStore.recover]];
  *  - the flag partition is written BEFORE any append (ingest's
  *    `onFlags` hook), so a crash mid-append rolls the store back and
  *    the re-run — starting from the identical pre-batch state —
  *    overwrites the partition with identical content;
  *  - a durable `_COMMITTED` marker lands inside the flag partition
  *    after the appends and the generation bump, BEFORE the pending
  *    file clears (ingest's `onCommitted` hook).
  *
  * Replay decision at batch start: marker present → the batch fully
  * committed (flags included — they precede the marker): SKIP, only
  * discharging the moot recovery state a writer dead in the
  * marker→pending-clear window still owes (pending-gated AND
  * owner-gated — a clean completion's replay touches nothing, and a
  * LIVE foreign writer's in-flight pending/lock are left alone). The
  * marker and the pending file both carry their writer's owner stamp,
  * and the discharge arbitrates on the MATCH: a pending stamped by the
  * marker writer is its post-commit residue (cleared); one stamped by
  * a DIFFERENT, verifiably dead process is a foreign writer's
  * mid-mutation state and is RECOVERED — rolled back to its own
  * snapshot, which post-dates this batch's commit — never adopted
  * (the marker proves this batch committed, not that writer's).
  * Marker absent + pending present → the attempt died mid-mutation:
  * owner-ARBITRATED recovery restores the pre-batch store and the
  * batch re-runs cleanly — but only when the lock is absent or its
  * stamped owner is verifiably dead; a pending file can equally belong
  * to a live foreign ingest mid-flight, and auto-recovering that would
  * roll back its in-flight appends, so the batch fails fast instead.
  * Marker absent + no pending → nothing durable happened: plain run,
  * first discharging a lock a predecessor dead BETWEEN lock
  * acquisition and the pending write left behind (that window leaves
  * no pending file for recover() to key off, and without the discharge
  * the redelivered ingest would fail fast on the dead lock forever).
  * Every crash window falls into exactly one arm, so a redelivered
  * batch never appends and never changes a flag.
  *
  * Single-writer contract, owner-arbitrated: the stream owns the store
  * for its lifetime (micro-batches are sequential, so recovery state
  * found at batch start normally belongs to this query's own crashed
  * predecessor). Pending-less locks are NOT taken on faith, though —
  * every lock the engine writes carries an owner stamp (pid, host,
  * process uuid; [[graft.dedup.StoreGuard.locked]]), and the plain-run
  * arm discharges one only when that owner is VERIFIABLY DEAD. A
  * mis-scheduled live foreign writer (a manual ingest, the monthly
  * maintenance compact/reband sweep) keeps its mutual exclusion: the
  * batch fails fast with instructions instead of silently deleting the
  * live lock and interleaving with a staged table swap. Unverifiable
  * locks (foreign host, no stamp) also fail fast — deadness that can't
  * be proven is treated as life.
  */
object CorpusStream {

  /** File-source stream over parquet document files (streaming reads
    * don't infer — the driver-table schema is fixed up front).
    */
  def read(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    readParquet(spark, dir, maxFilesPerTrigger,
      "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")

  private def readParquet(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int], schema: String): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
  }

  /** One committed micro-batch of either store (see class doc): the
    * commit-marker protocol around `ingest(onFlags, onCommitted,
    * onAudit)`, the store's ingest with its three hooks bound. The flag
    * partition is written first, then the audit sidecar
    * (`store.auditFile`, underscore-prefixed so parquet readers of the
    * flag log skip it — a continuously-running query has no daily
    * notification mail, so the flag log IS its run report), before any
    * append; the `_COMMITTED` marker after the generation bump.
    */
  private def committedBatch(spark: SparkSession, store: BandedStore, storeName: String,
      flagsRoot: String, batchId: Long,
      onFlagsWritten: () => Unit, onMarkerWritten: () => Unit)
      (ingest: (DataFrame => Unit, () => Unit, BandedStore.Audit => Unit) => DataFrame): Unit = {
    store.ensureRegistered(spark, storeName)
    val part = new Path(s"$flagsRoot/batch_id=$batchId")
    val marker = new Path(part, "_COMMITTED")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      // fully committed: discharge only what a writer dead in the
      // marker→pending-clear window still owes. dischargeCommitted is
      // pending-gated, so a replay of a CLEANLY completed batch (no
      // recovery state at all) is a strict no-op — it can never delete
      // a lock some other writer holds. The marker's owner stamp rides
      // along: the pending found now is that predecessor's moot
      // residue ONLY when its own stamp matches — a foreign dead
      // writer's mid-mutation pending (a manual ingest that crashed
      // AFTER this batch committed) is recovered (rolled back), a
      // live one left alone (arbitration: StoreGuard.dischargeCommitted)
      val markerOwner =
        try {
          val in = fs.open(marker)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
          graft.dedup.StoreGuard.parseOwner(s)
        } catch { case _: java.io.FileNotFoundException => None }
      store.dischargeCommitted(spark, storeName, markerOwner)
      // a writer dead one step LATER — between the pending clear and
      // its own unlock — leaves marker + no pending + a dead lock,
      // which the pending-gated discharge above cannot touch. The
      // marker is durable proof the mutation fully committed, so that
      // lock is pure leftovers — but only the owner stamp can tell it
      // from a LIVE foreign writer's (maintenance sharing the store),
      // hence the non-strict dead-owner discharge: verifiably dead ⇒
      // released (an AvailableNow stream whose LAST batch died there
      // would otherwise stay locked until a manual unlock), live or
      // unverifiable ⇒ left alone, exactly as before
      store.dischargeDeadLock(spark, storeName, strict = false)
      return
    }
    if (!store.recoverArbitrated(spark, storeName)) {
      // recover() found no pending file and deliberately left any lock
      // alone (it could belong to a live build/drop). A predecessor of
      // THIS stream that died between lock acquisition and the pending
      // write leaves exactly that state — lock, no pending, no marker —
      // and without a discharge this batch fails fast on the dead lock
      // on every redelivery (crash-loop until a manual unlock). The
      // owner stamp arbitrates: verifiably dead ⇒ discharged; still
      // alive or unverifiable (foreign host, unstamped) ⇒ fail FAST
      // with instructions (strict) — a live maintenance writer sharing
      // the store keeps its mutual exclusion instead of having its lock
      // silently deleted
      store.dischargeDeadLock(spark, storeName, strict = true)
    }
    // the marker carries ITS writer's owner stamp so a later replay can
    // tell this batch's post-commit residue from a foreign writer's
    // mid-mutation state (see the marker-present arm above)
    val audit = new java.util.concurrent.atomic.AtomicReference[
      Option[BandedStore.Audit]](None)
    ingest(
      f => {
        f.write.mode("overwrite").parquet(part.toString)
        audit.get().foreach { a =>
          val out = fs.create(new Path(part, store.auditFile), true)
          try out.write(a.json.getBytes("UTF-8")) finally out.close()
        }
        onFlagsWritten()
      },
      () => {
        val out = fs.create(marker, true)
        try out.write(graft.dedup.StoreGuard.ownerStamp.getBytes("UTF-8"))
        finally out.close()
        onMarkerWritten()
      },
      a => audit.set(Some(a)))
    ()
  }

  /** The continuous ingest query over `df`: each micro-batch runs
    * `perBatch(batch, batchId)`.
    */
  private def stream(df: DataFrame, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger)
      (perBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        perBatch(batch.toDF(), batchId)
      }
      .start()

  /** One micro-batch of the document ingest stream, factored out so the
    * exactly-once contract is testable without a streaming query:
    * re-invoking with the same (batch, batchId) after a completed run is
    * a pure no-op; after a crash it resumes per the protocol above.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, storeName: String,
      flagsRoot: String, batchId: Long, threshold: Double = 0.5,
      /** Fault-injection seams for recovery DRILLS (the ops practice of
        * proving the crash arbitration on production shape, not just in
        * specs — Runner's `--inject-crash` wires `Runtime.halt` here):
        * `onFlagsWritten` fires after the flag partition (and audit
        * sidecar) land but before any append — halting there leaves
        * lock + pending + unmarked flags, the mid-mutation window;
        * `onMarkerWritten` fires right after the `_COMMITTED` marker —
        * halting there leaves the marker→pending-clear residue window.
        */
      onFlagsWritten: () => Unit = () => (),
      onMarkerWritten: () => Unit = () => ()): Unit =
    committedBatch(spark, SignatureStore, storeName, flagsRoot, batchId,
        onFlagsWritten, onMarkerWritten) { (onFlags, onCommitted, onAudit) =>
      SignatureStore.ingest(spark, batch, storeName, threshold,
        onFlags = onFlags, onCommitted = onCommitted, onAudit = onAudit)
    }

  /** The continuous ingest query: documents stream in, flags stream out
    * at `flagsRoot` (read the log with `spark.read.parquet(flagsRoot)` —
    * `batch_id` arrives as a partition column), the store grows by
    * survivors. AvailableNow by default: drain what exists, checkpoint,
    * stop — the cron-to-streaming migration path, the same default as
    * the event stream's versioned upsert ([[EventStream.upsertStream]]).
    */
  def ingestStream(docs: DataFrame, storeName: String, flagsRoot: String,
      checkpoint: String, threshold: Double = 0.5,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onFlagsWritten: () => Unit = () => (),
      onMarkerWritten: () => Unit = () => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream(docs, checkpoint, trigger) { (batch, batchId) =>
      ingestBatch(batch.sparkSession, batch, storeName, flagsRoot,
        batchId, threshold, onFlagsWritten, onMarkerWritten)
    }

  // ---- embedding twin (the s06 cadence, same contract throughout) ----

  /** File-source stream over parquet embedding files. */
  def readEmbeddings(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    readParquet(spark, dir, maxFilesPerTrigger, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")

  /** One micro-batch of the embedding ingest stream — the
    * [[EmbeddingStore]] twin of [[ingestBatch]], same protocol; the
    * audit sidecar is `_lsh_audit.json` (cap drops are recall loss).
    */
  def ingestEmbeddingsBatch(spark: SparkSession, batch: DataFrame, storeName: String,
      flagsRoot: String, batchId: Long, threshold: Double = 0.9,
      bucketCap: Int = 1000,
      onFlagsWritten: () => Unit = () => (),
      onMarkerWritten: () => Unit = () => ()): Unit =
    committedBatch(spark, EmbeddingStore, storeName, flagsRoot, batchId,
        onFlagsWritten, onMarkerWritten) { (onFlags, onCommitted, onAudit) =>
      EmbeddingStore.ingest(spark, batch, storeName, threshold = threshold,
        onFlags = onFlags, onCommitted = onCommitted, bucketCap = bucketCap,
        onAudit = onAudit)
    }

  /** The continuous embedding-ingest query — [[ingestStream]]'s twin. */
  def ingestEmbeddingsStream(vecs: DataFrame, storeName: String, flagsRoot: String,
      checkpoint: String, threshold: Double = 0.9, bucketCap: Int = 1000,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onFlagsWritten: () => Unit = () => (),
      onMarkerWritten: () => Unit = () => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream(vecs, checkpoint, trigger) { (batch, batchId) =>
      ingestEmbeddingsBatch(batch.sparkSession, batch, storeName,
        flagsRoot, batchId, threshold, bucketCap,
        onFlagsWritten, onMarkerWritten)
    }
}
