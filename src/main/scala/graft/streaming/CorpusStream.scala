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
  * re-running the dedup against a store that already holds the batch —
  * re-ingesting a committed batch would re-dedupe it against its own
  * survivors, with subtle wrong flags on transitive duplicate chains):
  *
  *  - the flag partition is written BEFORE any append (ingest's
  *    `onFlags` hook);
  *  - the store publishes the batch's appends in one manifest that also
  *    records the batch's tag (flag root, batch id).
  *
  * Replay decision at batch start, two arms: the manifest records the
  * batch → it is committed, flags included: SKIP. Otherwise the batch
  * is not in the store — an attempt that died before its publish left
  * only commits no manifest names — so the batch runs again from the
  * same published state, and overwrites its flag partition with
  * identical content. Before it runs, [[BandedStore.recoverArbitrated]]
  * deletes the dead attempt's commits and discharges its lock — only
  * when that lock's stamped owner is verifiably dead; a live or
  * unverifiable owner (a manual ingest, the monthly maintenance sweep)
  * fails the batch fast instead of losing its mutual exclusion.
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

  /** One committed micro-batch of either store (see class doc):
    * `ingest(onFlags, onAudit, batchTag)` is the store's ingest with its
    * hooks bound. The flag partition is written first, then the audit
    * sidecar (`store.auditFile`, underscore-prefixed so parquet readers
    * of the flag log skip it — a continuously-running query has no
    * daily notification mail, so the flag log IS its run report),
    * before any append.
    */
  private def committedBatch(spark: SparkSession, store: BandedStore, storeName: String,
      flagsRoot: String, batchId: Long, onFlagsWritten: () => Unit)
      (ingest: (DataFrame => Unit, BandedStore.Audit => Unit, Option[(String, Long)]) => DataFrame)
      : Unit = {
    store.ensureRegistered(spark, storeName)
    val tag = (flagsRoot, batchId)
    if (store.committed(spark, storeName, tag)) {
      // a writer dead right after its publish still holds the lock:
      // release it when its owner is verifiably dead, else leave it
      store.dischargeDeadLock(spark, storeName, strict = false)
      return
    }
    store.recoverArbitrated(spark, storeName)
    val part = new Path(s"$flagsRoot/batch_id=$batchId")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
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
      a => audit.set(Some(a)),
      Some(tag))
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
    * a pure no-op; after a crash it re-runs per the protocol above.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, storeName: String,
      flagsRoot: String, batchId: Long, threshold: Double = 0.5,
      /** Fault-injection seams for recovery DRILLS (Runner's
        * `--inject-crash` wires `Runtime.halt` here): `onFlagsWritten`
        * fires after the flag partition (and audit sidecar) land but
        * before any append; `onCommitted` fires right after the store's
        * publish.
        */
      onFlagsWritten: () => Unit = () => (),
      onCommitted: () => Unit = () => ()): Unit =
    committedBatch(spark, SignatureStore, storeName, flagsRoot, batchId,
        onFlagsWritten) { (onFlags, onAudit, tag) =>
      SignatureStore.ingest(spark, batch, storeName, threshold,
        onFlags = onFlags, onCommitted = onCommitted, onAudit = onAudit, batchTag = tag)
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
      onCommitted: () => Unit = () => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream(docs, checkpoint, trigger) { (batch, batchId) =>
      ingestBatch(batch.sparkSession, batch, storeName, flagsRoot,
        batchId, threshold, onFlagsWritten, onCommitted)
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
      onCommitted: () => Unit = () => ()): Unit =
    committedBatch(spark, EmbeddingStore, storeName, flagsRoot, batchId,
        onFlagsWritten) { (onFlags, onAudit, tag) =>
      EmbeddingStore.ingest(spark, batch, storeName, threshold = threshold,
        onFlags = onFlags, onCommitted = onCommitted, bucketCap = bucketCap,
        onAudit = onAudit, batchTag = tag)
    }

  /** The continuous embedding-ingest query — [[ingestStream]]'s twin. */
  def ingestEmbeddingsStream(vecs: DataFrame, storeName: String, flagsRoot: String,
      checkpoint: String, threshold: Double = 0.9, bucketCap: Int = 1000,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onFlagsWritten: () => Unit = () => (),
      onCommitted: () => Unit = () => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream(vecs, checkpoint, trigger) { (batch, batchId) =>
      ingestEmbeddingsBatch(batch.sparkSession, batch, storeName,
        flagsRoot, batchId, threshold, bucketCap,
        onFlagsWritten, onCommitted)
    }
}
