package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.SignatureStore
import graft.ops.Orchestrator
import graft.ops.Orchestrator.{CorpusResult, Rolling, RunResult, VersionedSink}
import graft.similarity.EmbeddingStore
import graft.sinks.VersionedTable

/** Outputs the benchmark's inputs must produce: the generated star schema
  * (see [[DataGen]]) and the shipped sf0.1 corpus.
  */
object Expected {
  /** Rows per pipeline for `Rolling(14)`; every key exists after the first
    * sync, so these are also the versioned tables' row counts.
    */
  val pipelineRows: Map[String, Long] = Map(
    "daily_sales" -> 2926L, "sales_channel" -> 3265L, "offers" -> 3281L,
    "inventory" -> 3285L, "clock_in_out" -> 18708L)

  /** Sizes of the shipped sf0.1 corpus (ids 0..n-1). */
  val nDocuments = 5000L
  val nEmbeddings = 2000L

  /** Rows of the day-batch `pmod(id, 7) = r` of a table with ids 0..n-1. */
  def dayRows(n: Long, r: Int): Long = (n - r + 6) / 7

  /** Documents `corpusIngest` flags as duplicates in the batch of the
    * given day-batches when the store already holds the second set: the
    * engine's output on the shipped corpus, recorded once and equal on
    * every run.
    */
  val textDups: Map[(Set[Int], Set[Int]), Long] = Map(
    (Set(1), Set.empty[Int]) -> 6L, (Set(2), Set(1)) -> 11L, (Set(0), Set(1, 2)) -> 26L)

  /** No embedding pair of the sf0.1 corpus reaches the stores' 0.9 cosine
    * threshold, so every embedding batch has no duplicates.
    */
  val embDups = 0L
}

/** The benchmark's JVM side. `--mode prepare` writes the inputs and the
  * state each workload starts from; `--mode run` runs one workload and
  * writes its raw record (setup, ops, spans, checks) as JSON for
  * `perfbench/run.py`, which computes and prints the metrics.
  */
object Main {
  val Slice: Orchestrator.Slice = Rolling(14)
  val SetupRepeats = 3
  val TextStore = "docs"
  val EmbStore = "vecs"
  /** Day-batches the corpus stores hold before a run, ingested in order. */
  val HistoryDays: Seq[Int] = Seq(1, 2)
  /** The day-batch every corpus_ingest op ingests. */
  val TimedDays: Set[Int] = Set(0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opts("cpus").toInt
    val tmp = opts("tmp")
    val trace = opts.get("trace").contains("1")
    val spark = session(cpus, tmp)
    val sessionReady = System.currentTimeMillis()
    try opts("mode") match {
      case "prepare" => prepare(spark, opts("data"), opts("template"), tmp)
      case "run" =>
        val sessionS =
          (sessionReady - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        val w = new Workload(spark, opts("data"), opts("template"), tmp,
          opts("seed").toLong, opts("seconds").toDouble,
          if (trace) Some(new SpanListener) else None)
        val record = opts("workload") match {
          case "daily_sync" => w.dailySync()
          case "corpus_ingest" => w.corpusIngest()
          case other => sys.error(s"unknown workload '$other'")
        }
        val out = record ++ Map(
          "session_s" -> sessionS,
          "posture" -> posture(spark, cpus),
          "rss_peak_mb" -> rssPeakMb())
        java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json(out))
    } finally spark.stop()
  }

  /** `Runner.main`'s deploy posture with local threads = `cpus`, and every
    * path the engine writes (warehouse, shuffle and spill files) under
    * the run's own temp root.
    */
  def session(cpus: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .appName("graftbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def posture(spark: SparkSession, cpus: Int): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "nproc" -> cpus,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "spark_sql_confs" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))

  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def sinkAt(root: String): VersionedSink = VersionedSink(p => s"$root/graft_versioned_$p")

  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target)
    } finally walk.close()
  }

  /** The day-batches `days` of a corpus table keyed by `idCol`. */
  def batch(df: DataFrame, idCol: String, days: Set[Int]): DataFrame =
    df.filter(pmod(col(idCol), lit(7)).isin(days.toSeq: _*))

  /** Inputs plus the state the workloads start from, under `template`:
    * the five versioned tables after their create-path sync (`tables/`),
    * and the corpus stores (`warehouse/`) and their flag tables (`flags/`)
    * after ingesting the history day-batches.
    */
  def prepare(spark: SparkSession, data: String, template: String, tmp: String): Unit = {
    DataGen.write(spark, data)
    val results = Orchestrator.runAll(spark, data, Slice, sink = sinkAt(s"$template/tables"))
    results.foreach(r => println(f"create-path sync ${r.pipeline}: rows=${r.rows} " +
      f"created=${r.created} ${r.elapsedSec}%.1f s" + r.error.fold("")(e => s" ERROR $e")))
    val bad = results.filter(r => r.error.isDefined || r.created != r.rows ||
      r.rows != Expected.pipelineRows(r.pipeline))
    require(bad.isEmpty, s"create-path sync does not match the expected rows: " +
      bad.map(r => s"${r.pipeline}=${r.rows}/${r.created} ${r.error.getOrElse("")}").mkString(", "))

    Orchestrator.corpusInit(spark, TextStore)
    Orchestrator.corpusInitEmbeddings(spark, EmbStore)
    val flags = sinkAt(s"$template/flags")
    HistoryDays.foldLeft(Set.empty[Int]) { (history, day) =>
      val days = Set(day)
      val text = Orchestrator.corpusIngest(spark, TextStore,
        batch(Tables.documents(spark, data), "doc_id", days), sink = flags)
      val emb = Orchestrator.corpusIngestEmbeddings(spark, EmbStore,
        batch(Tables.embeddings(spark, data), "vec_id", days), sink = flags)
      Seq(text -> Expected.textDups((days, history)), emb -> Expected.embDups).foreach {
        case (r, dups) =>
          println(f"history ingest ${r.store} day $day: rows=${r.batchRows} dups=${r.dups} " +
            f"${r.elapsedSec}%.1f s" + r.error.fold("")(e => s" ERROR $e"))
          require(r.error.isEmpty && r.dups == dups,
            s"history ingest ${r.store} day $day: ${r.dups} dups, expected $dups " +
              r.error.getOrElse(""))
      }
      history + day
    }
    copyTree(s"$tmp/warehouse", s"$template/warehouse")
  }
}

/** One workload run: set-up, then a closed loop of operations with one
  * caller for `seconds`. The first operation is the first the process
  * makes, as a daily job's is. A traced run traces it and the next one,
  * then runs untraced operations, so the tracing overhead is the
  * difference of their times within one JVM.
  */
final class Workload(spark: SparkSession, data: String, template: String, tmp: String,
    seed: Long, seconds: Double, listener: Option[SpanListener]) {
  import Main._

  private val trace = new Trace(listener.map(_ => spark.sparkContext))
  // a traced run counts the jobs of every op, traced or not: the traced
  // ops make the engine's calls through the benchmark's own span-wrapped
  // sequence, which must submit as many jobs as the engine's entry points
  private val jobCounter = listener.map { _ =>
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val t0 = System.nanoTime()
  /** Seconds from process start to the first timed operation. */
  private var readyS = Double.NaN

  private def secs(from: Long, to: Long = System.nanoTime()): Double = (to - from) / 1e9

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def timed[A](f: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = f
    (r, secs(s))
  }

  /** `f` with its wall and GC seconds, and in traced runs its Spark jobs:
    * the timed part of an operation, which leaves out the output checks
    * that follow it.
    */
  private def measured[A](f: => A): (A, Map[String, Any]) = {
    val jobs0 = jobsSoFar()
    val gc0 = gcMs()
    val (r, wall) = timed(f)
    val gc = (gcMs() - gc0) / 1e3
    (r, Map("wall_s" -> wall, "gc_s" -> gc) ++
      jobCounter.map(_ => "jobs" -> (jobsSoFar() - jobs0)))
  }

  /** Jobs submitted so far, once the bus has delivered them (traced runs). */
  private def jobsSoFar(): Long = jobCounter.fold(0L) { c =>
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    c.jobs
  }

  /** Run the closed loop for `seconds` (at least one operation):
    * `op(id, traced)` returns the op's record, including its `wall_s`.
    * A traced run traces ops 1 and 2 and runs at least three, so the
    * tracing overhead compares op 2 with the untraced op 3.
    */
  private def loop(op: (Int, Boolean) => Map[String, Any]): Unit = {
    readyS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val start = System.nanoTime()
    def needMore: Boolean = secs(start) < seconds || (trace.enabled && ops.size < 3)
    var id = 1
    while (needMore) {
      val traced = trace.enabled && id <= 2
      ops += (if (traced) listening(op(id, true)) else op(id, false)) ++
        Map("id" -> id, "traced" -> traced)
      id += 1
    }
  }

  /** `f` with the span listener installed, so untraced operations pay
    * none of its cost; the bus drains before the listener comes off.
    */
  private def listening[A](f: => A): A = {
    val sc = spark.sparkContext
    listener.foreach(sc.addSparkListener)
    try f
    finally listener.foreach { l =>
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(l)
    }
  }

  private def record(setup: Map[String, Any], extra: Map[String, Any] = Map.empty): Map[String, Any] = {
    val counters = listener.map(_.snapshot).getOrElse(Map.empty)
    Map(
      "setup" -> (setup + ("ready_s" -> readyS)),
      "ops" -> ops,
      "checks" -> checks,
      "spans" -> trace.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> secs(t0, s.start), "end_s" -> secs(t0, s.end),
        "counters" -> counters.getOrElse(s.id, Map.empty))),
      "unattributed" -> counters.getOrElse(0, Map.empty)) ++ extra
  }

  private def errorOf(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  // ---- daily_sync --------------------------------------------------------

  private def countFiles(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.count(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toLong
      finally walk.close()
    }
  }

  /** The body of `Orchestrator.run` through its public steps, one span
    * per layer call: plan (`source` + persist), aggregate (the count that
    * materializes it), existing keys + created anti-join, merge.
    */
  private def tracedSync(sink: VersionedSink, p: String): RunResult = trace.span("ops.sync") {
    val s = System.nanoTime()
    val slicer = Orchestrator.mdxSlicer(p, Slice)
    try {
      val out = trace.span("etl.plan")(Orchestrator.source(spark, data, p, Slice).persist())
      try {
        val rows = trace.span("cube.aggregate")(out.count())
        if (rows == 0) sys.error("No data returned from source")
        val created = trace.span("sinks.existing_keys")(
          out.join(sink.existingKeys(spark, p, out.schema), Seq("business_key"), "left_anti")
            .count())
        trace.span("sinks.merge")(sink.merge(spark, p, out))
        RunResult(p, slicer, rows, created, rows - created, secs(s), None)
      } finally { out.unpersist(); () }
    } catch {
      case e: Exception => RunResult(p, slicer, 0, 0, 0, secs(s), Some(errorOf(e)))
    }
  }

  def dailySync(): Map[String, Any] = {
    // java.util.Random's first draws barely differ across small seeds, so
    // the seed is mixed first
    val order = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
      .shuffle(Orchestrator.pipelines)
    // set-up: a fresh copy of the create-path tables per repeat; the last
    // copy is the one the run syncs into
    val stateS = (1 to SetupRepeats).map { i =>
      timed(copyTree(s"$template/tables", s"$tmp/state$i"))._2
    }
    val root = s"$tmp/state$SetupRepeats"
    val sink = sinkAt(root)
    def roots = Orchestrator.pipelines.map(p => sink.rootOf(spark, p))

    def cycle(id: Int, traced: Boolean): Map[String, Any] = {
      val files0 = if (traced) roots.map(countFiles).sum else 0L
      val (results, timing) = measured(
        if (traced) trace.op(id, "ops.cycle")(order.map(tracedSync(sink, _)))
        else order.map(Orchestrator.run(spark, data, _, Slice, None, sink)))
      val files = if (traced) roots.map(countFiles).sum - files0 else 0L
      val failed = results.filter(_.error.isDefined)
      results.filter(_.error.isEmpty).foreach { r =>
        val want = Expected.pipelineRows(r.pipeline)
        check(s"${r.pipeline} rows", r.rows == want, s"op $id: ${r.rows} rows, expected $want")
        check(s"${r.pipeline} created on update path", r.created == 0,
          s"op $id: created ${r.created}")
        val tableRows = VersionedTable.read(spark, sink.rootOf(spark, r.pipeline)).count()
        check(s"${r.pipeline} table rows after re-merge", tableRows == want,
          s"op $id: table holds $tableRows rows, expected $want")
      }
      timing ++ Map("calls" -> results.size, "failed" -> failed.size,
        "errors" -> failed.map(r => s"${r.pipeline}: ${r.error.get}"),
        "items" -> results.filter(_.error.isEmpty).map(_.rows).sum,
        "files_written" -> files,
        "detail" -> results.map(r => r.pipeline -> r.rows).toMap)
    }

    loop(cycle)
    record(Map("state_s" -> stateS), Map("order" -> order))
  }

  // ---- corpus_ingest -----------------------------------------------------

  private def slug(label: String): String =
    label.toLowerCase.replaceAll("[^a-z0-9]+", "_").stripPrefix("_").stripSuffix("_")

  private def flagsOut(flags: DataFrame, idCol: String): DataFrame =
    flags.select(col(idCol).cast("string").as("business_key"),
      col(idCol), col("is_dup"), col("dup_of"))
      .withColumn("refreshed_at", current_timestamp())

  /** `Orchestrator.corpusIngest`'s single-writer unit through the public
    * store calls: snapshot, ingest (with its stage hook), flag merge,
    * audit streak; rollback on failure.
    */
  private def tracedIngest(sink: VersionedSink, store: String, batch: DataFrame,
      text: Boolean): CorpusResult =
    trace.span(if (text) "ops.ingest_text" else "ops.ingest_emb") {
      val s = System.nanoTime()
      val layer = if (text) "dedup" else "similarity"
      val idCol = if (text) "doc_id" else "vec_id"
      var bandAudit: Option[SignatureStore.IngestAudit] = None
      var lshAudit: Option[EmbeddingStore.IngestAudit] = None
      val streak = new Orchestrator.StreakStore {
        def read(): Int =
          if (text) SignatureStore.readAuditStreak(spark, store)
          else EmbeddingStore.readAuditStreak(spark, store)
        def write(n: Int): Unit =
          if (text) SignatureStore.writeAuditStreak(spark, store, n)
          else EmbeddingStore.writeAuditStreak(spark, store, n)
        def clear(): Unit =
          if (text) SignatureStore.clearAuditStreak(spark, store)
          else EmbeddingStore.clearAuditStreak(spark, store)
      }
      def body(): CorpusResult = {
        val snap = trace.span(s"$layer.snapshot")(
          if (text) SignatureStore.snapshot(spark, store) else EmbeddingStore.snapshot(spark, store))
        try {
          val flags = trace.span(s"$layer.ingest")(
            if (text) SignatureStore.ingest(spark, batch, store,
              onStage = (label, sec) => trace.completed(s"dedup.stage.${slug(label)}", sec),
              onAudit = a => bandAudit = Some(a))
            else EmbeddingStore.ingest(spark, batch, store, onAudit = a => lshAudit = Some(a)))
          val batchRows = flags.count()
          if (batchRows == 0) sys.error("Empty batch — nothing to ingest")
          val dups = flags.filter(col("is_dup")).count()
          trace.span("sinks.flags_merge")(
            sink.merge(spark, Orchestrator.corpusPipeline(store), flagsOut(flags, idCol)))
          Orchestrator.recordAuditAlert(CorpusResult(store, batchRows, dups, batchRows - dups,
            secs(s), None, lshAudit = lshAudit, bandAudit = bandAudit),
            Orchestrator.AuditPolicy(), streak)
        } catch {
          case e: Throwable =>
            try {
              if (text) SignatureStore.rollback(spark, store, snap)
              else EmbeddingStore.rollback(spark, store, snap)
            } catch { case rb: Throwable => e.addSuppressed(rb) }
            throw e
        }
      }
      try {
        if (text) {
          SignatureStore.ensureRegistered(spark, store)
          SignatureStore.locked(spark, store)(body())
        } else {
          EmbeddingStore.ensureRegistered(spark, store)
          EmbeddingStore.locked(spark, store)(body())
        }
      } catch {
        case e: Exception => CorpusResult(store, 0, 0, 0, secs(s), Some(errorOf(e)),
          lshAudit = lshAudit, bandAudit = bandAudit)
      }
    }

  def corpusIngest(): Map[String, Any] = {
    // every op ingests day-batch 0 into stores that hold day-batches 1 and
    // 2, as the build left them, and the stores and flag tables go back to
    // that state after it. The seven day-batches cost 11-16 s each on a
    // 4-core host, so a seed-chosen batch or a history that grows op by op
    // would put the data's spread into the run-to-run spread; the seed
    // therefore has no part in this workload
    val history = HistoryDays.toSet
    val docs = Tables.documents(spark, data)
    val vecs = Tables.embeddings(spark, data)
    // set-up: copies of the stores the build left, the last one into the
    // session's warehouse, where the stores register from
    val stateS = (1 to SetupRepeats).map { i =>
      timed(copyTree(s"$template/warehouse",
        if (i == SetupRepeats) s"$tmp/warehouse" else s"$tmp/state$i"))._2
    }
    // a fresh process registers the stores it finds on disk
    val ((textSnap, embSnap), registerS) = timed {
      SignatureStore.ensureRegistered(spark, TextStore)
      EmbeddingStore.ensureRegistered(spark, EmbStore)
      (SignatureStore.snapshot(spark, TextStore), EmbeddingStore.snapshot(spark, EmbStore))
    }

    def ingest(id: Int, traced: Boolean): Map[String, Any] = {
      // each op gets its own copy of the flag tables as the build left them
      val sink = sinkAt(s"$tmp/flags$id")
      copyTree(s"$template/flags", s"$tmp/flags$id")
      val docBatch = batch(docs, "doc_id", TimedDays)
      val vecBatch = batch(vecs, "vec_id", TimedDays)
      val ((t, e), timing) =
        try measured(
          if (traced) trace.op(id, "ops.day")(
            (tracedIngest(sink, TextStore, docBatch, text = true),
              tracedIngest(sink, EmbStore, vecBatch, text = false)))
          else {
            val t = Orchestrator.corpusIngest(spark, TextStore, docBatch, sink = sink)
            (t, Orchestrator.corpusIngestEmbeddings(spark, EmbStore, vecBatch, sink = sink))
          })
        finally {
          SignatureStore.rollback(spark, TextStore, textSnap)
          EmbeddingStore.rollback(spark, EmbStore, embSnap)
        }
      Seq(("text", t, TextStore, Expected.nDocuments, Expected.textDups((TimedDays, history))),
        ("emb", e, EmbStore, Expected.nEmbeddings, Expected.embDups))
        .filter(_._2.error.isEmpty).foreach { case (kind, res, store, n, wantDups) =>
          def rowsOf(days: Set[Int]) = days.toSeq.map(Expected.dayRows(n, _)).sum
          check(s"$kind batch rows", res.batchRows == rowsOf(TimedDays),
            s"op $id: ${res.batchRows} rows, expected ${rowsOf(TimedDays)}")
          check(s"$kind dups", res.dups == wantDups,
            s"op $id: ${res.dups} dups, expected $wantDups")
          val rows =
            VersionedTable.read(spark, sink.rootOf(spark, Orchestrator.corpusPipeline(store)))
              .count()
          check(s"$kind flag rows", rows == rowsOf(history ++ TimedDays),
            s"op $id: flag table holds $rows rows, expected ${rowsOf(history ++ TimedDays)}")
        }
      val results = Seq(t, e)
      val failed = results.filter(_.error.isDefined)
      timing ++ Map("calls" -> 2, "failed" -> failed.size,
        "errors" -> failed.map(x => s"${x.store}: ${x.error.get}"),
        "items" -> results.filter(_.error.isEmpty).map(_.batchRows).sum,
        "detail" -> Map(
          "text_s" -> t.elapsedSec, "emb_s" -> e.elapsedSec,
          "text_rows" -> t.batchRows, "text_dups" -> t.dups,
          "emb_rows" -> e.batchRows, "emb_dups" -> e.dups,
          "text_failed" -> t.error.isDefined, "emb_failed" -> e.error.isDefined,
          "dedup_max_bucket" -> t.bandAudit.map(_.maxBucket),
          "dedup_occupied_buckets" -> t.bandAudit.map(_.occupiedBuckets),
          "similarity_max_bucket" -> e.lshAudit.map(_.maxBucket),
          "similarity_capped_rows" -> e.lshAudit.map(_.cappedRows)))
    }

    loop(ingest)
    record(Map("state_s" -> stateS, "register_s" -> registerS))
  }
}
