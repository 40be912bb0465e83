package graft

import org.apache.spark.sql.SparkSession

/** CLI entry point (SURVEY.md §2.E1 — the engine's `olap_sync.main`):
  * run one named query or all of them against a scale-factor directory,
  * optionally writing results as parquet — or orchestrate a config-driven
  * pipeline sync end-to-end (slicer → native agg → mapping → keyed MERGE
  * → notification), the reference CLI's contract
  * (`/root/reference/modules/olap_sync.py:192-248`).
  *
  *   runMain graft.Runner --query q01_pricing_summary --sf /root/testdata/sf0.01
  *   runMain graft.Runner --query all --sf ... --out /tmp/results
  *   runMain graft.Runner --pipeline daily_sales --length 2wk --sf ...
  *   runMain graft.Runner --pipeline all --fy 1995 --fp 3 --sf ...
  *   runMain graft.Runner --corpus-init mystore --sf ...
  *   runMain graft.Runner --corpus-ingest mystore --batch-mod 7 --batch-rem 0 \
  *     [--alert-max-bucket N --alert-cap-pct P --alert-consecutive K] --sf ...
  *   runMain graft.Runner --corpus-recover mystore --sf ...   (dead writer cleanup)
  *   runMain graft.Runner --corpus-retune mystore --rows 3 --bands 16 \
  *     [--corpus-path /data/corpus] --sf ...   (hot-bucket remediation)
  *   runMain graft.Runner --schedule --store mystore --auto-remediate --sf ...
  *   runMain graft.Runner --schedule --store-emb estore --auto-remediate \
  *     --fire-now monthly_maintenance --sf ...   (operator-forced sweep)
  *   runMain graft.Runner --stage-docs /data/in --batch-mod 7 --batch-rem 0 --sf ...
  *   runMain graft.Runner --corpus-stream mystore --stream-src /data/in \
  *     --flags-root /data/flags --checkpoint /data/ckpt \
  *     [--max-files N --threshold T] [--inject-crash after-flags|after-marker] \
  *     --sf ...   (drain arriving files through the store ingest; the
  *                 crash flag is the operator recovery drill)
  *   runMain graft.Runner --stage-emb /data/in-e --batch-mod 7 --batch-rem 0 --sf ...
  *   runMain graft.Runner --corpus-stream-emb estore --stream-src /data/in-e \
  *     --flags-root /data/flags-e --checkpoint /data/ckpt-e [--bucket-cap N] --sf ...
  *   runMain graft.Runner --ivf-build /data/idx --nlist 8 \
  *     [--batch-mod N --batch-rem R] --sf ...    (index day-0 build -> v<N>)
  *   runMain graft.Runner --ivf-append /data/idx --batch-mod N --batch-rem R \
  *     --sf ...                                  (daily frozen-centroid delta -> v<N>)
  *   runMain graft.Runner --ivf-retrain /data/idx --sf ...   (monthly fold -> v<N>)
  *   runMain graft.Runner --full-refresh daily_sales --fy-from 1995 --fy-to 1997 \
  *     --confirm-delete --confirm-fy [--dry-run] --sf ...
  */
object Runner {
  /** The corpus a retune/remediation rebuilds from: an explicit
    * `--corpus-path` (a registered table name, else a parquet directory
    * of `(doc_id, text)` rows), falling back to the scale-factor
    * directory's documents table — the harness layout.
    */
  private def corpusSource(spark: SparkSession,
      opts: Map[String, String], sfDir: String): org.apache.spark.sql.DataFrame =
    opts.get("corpus-path") match {
      case Some(p) if spark.catalog.tableExists(p) => spark.table(p)
      case Some(p) => spark.read.parquet(p)
      case None => Tables.documents(spark, sfDir)
    }

  /** The audit-alert policy — ONE parser for every path that judges a
    * breach (`--corpus-ingest`/`--corpus-ingest-emb` stamp alerts with
    * it, `--schedule --auto-remediate` reads streaks against it), so a
    * deployment that tightens `--alert-max-bucket` or shortens
    * `--alert-consecutive` moves the stamper and the sweep TOGETHER —
    * split defaults would let the sweep wait for a streak the stamper
    * never accumulates, or remediate on thresholds no alert named.
    */
  private def alertPolicy(opts: Map[String, String]): graft.ops.Orchestrator.AuditPolicy =
    graft.ops.Orchestrator.AuditPolicy(
      embCapPct = opts.getOrElse("alert-cap-pct", "80").toInt,
      textMaxBucket = opts.getOrElse("alert-max-bucket", "1000").toLong,
      consecutive = opts.getOrElse("alert-consecutive", "3").toInt)

  /** The tightened banding geometry a retune rebuilds with — one
    * parser for both paths that take it (`--corpus-retune` and
    * `--auto-remediate`), so the defaults can never silently diverge.
    */
  private def retuneSpec(opts: Map[String, String]): graft.dedup.SignatureStore.Spec =
    graft.dedup.SignatureStore.Spec(
      k = opts.getOrElse("k", "3").toInt,
      bands = opts.getOrElse("bands", "16").toInt,
      maxDf = opts.getOrElse("max-df", "100").toInt,
      rows = opts.getOrElse("rows", "3").toInt)

  /** The `--batch-mod N --batch-rem R` deterministic daily slice shared
    * by every ingest-shaped CLI form (corpus text/embedding ingest, IVF
    * build/append): carve day-batches out of the synthetic corpus by id
    * residue; a production deployment filters by ingest date instead. A
    * half-specified pair must not silently ingest the WHOLE corpus as
    * one "day" — that is a wrong-scope store mutation.
    */
  private[graft] def batchSlice(opts: Map[String, String],
      df: org.apache.spark.sql.DataFrame, idCol: String): org.apache.spark.sql.DataFrame =
    (opts.get("batch-mod"), opts.get("batch-rem")) match {
      case (Some(m), Some(r)) =>
        df.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col(idCol),
          org.apache.spark.sql.functions.lit(m.toLong)) === r.toLong)
      case (None, None) => df
      case _ => sys.error("--batch-mod and --batch-rem must be given together")
    }

  /** The three IVF-index CLI forms (`--ivf-build` / `--ivf-append` /
    * `--ivf-retrain`) against parsed opts, returning the report lines
    * main prints. Factored out of main (r18 verdict #5) so OpsSpec can
    * drive the full build→append→retrain lifecycle — including the
    * shared [[batchSlice]] day-slice parser feeding all six
    * ingest-shaped forms — through the REAL parsed-opts path without a
    * Runner.main session lifecycle: the 3-JVM CLI proof pinned the
    * cross-JVM cadence, this seam pins the opt wiring per-commit.
    */
  private[graft] def ivfOps(spark: SparkSession, opts: Map[String, String],
      sfDir: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    opts.get("ivf-build").foreach { root =>
      val v = graft.similarity.IvfIndex.buildTrained(
        batchSlice(opts, Tables.embeddings(spark, sfDir), "vec_id"),
        "vec_id", "embedding", root,
        nlist = opts.getOrElse("nlist", "8").toInt,
        iters = opts.getOrElse("iters", "2").toInt,
        sampleMod = opts.getOrElse("sample-mod", "1").toInt)
      out += s"[maintain-ivf] $root built and published -> v$v"
    }
    opts.get("ivf-append").foreach { root =>
      val v = graft.similarity.IvfIndex.append(
        batchSlice(opts, Tables.embeddings(spark, sfDir), "vec_id"),
        "vec_id", "embedding", root)
      out += (if (v == 0) s"[maintain-ivf] $root append: empty batch, nothing published"
        else s"[maintain-ivf] $root appended frozen-centroid delta -> v$v")
    }
    opts.get("ivf-retrain").foreach { root =>
      // --nlist 0 (default) keeps the index's own cell count, read
      // from the published centroid table — the no-config sweep form
      val v = graft.similarity.IvfIndex.retrain(spark, root,
        nlist = opts.getOrElse("nlist", "0").toInt,
        iters = opts.getOrElse("iters", "2").toInt,
        sampleMod = opts.getOrElse("sample-mod", "1").toInt)
      out += s"[maintain-ivf] $root retrained -> v$v (deltas folded, " +
        "centroids re-derived)"
    }
    out.toSeq
  }

  /** Every option key some branch of [[main]] reads. */
  private[graft] val knownKeys: Set[String] = Set(
    "alert-cap-pct", "alert-consecutive", "alert-max-bucket", "auto-remediate", "bands",
    "batch-mod", "batch-rem", "bpe-merges", "bucket-cap", "checkpoint", "confirm-delete",
    "confirm-fy", "corpus-ingest", "corpus-ingest-emb", "corpus-init", "corpus-init-emb",
    "corpus-path", "corpus-recover", "corpus-recover-emb", "corpus-retune", "corpus-stream",
    "corpus-stream-emb", "dry-run", "fire-now", "flags-root", "fp", "full-refresh", "fy",
    "fy-from", "fy-to", "inject-crash", "iters", "ivf-append", "ivf-build", "ivf-index",
    "ivf-retrain", "k", "length", "log-file", "maintain", "maintain-store",
    "maintain-store-emb", "max-df", "max-files", "max-fires", "nlist", "out", "pipeline",
    "query", "retain", "rows", "sample-mod", "schedule", "sf", "skip-delete", "stage-docs",
    "stage-emb", "store", "store-emb", "stream-src", "threshold")

  /** `--key value` pairs plus bare `--flag`s (recorded as "true"). A key
    * outside [[knownKeys]] fails: a retired or misspelt flag must not be
    * silently ignored.
    */
  private[graft] def parseOpts(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"), s"unexpected argument: $k")
      require(knownKeys(k.drop(2)), s"unknown option: $k")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(k.drop(2)) = args(i + 1); i += 2
      } else { m(k.drop(2)) = "true"; i += 1 }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseOpts(args)
    // --log-file <path>: tee stdout+stderr to a logfile, the reference's
    // operational discipline for long destructive runs
    // (`full_refresh_fy2023_2025.py:267-289` installs the same tee) — the
    // console stays live, the file keeps the audit trail.
    opts.get("log-file").foreach { p =>
      val f = new java.io.File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      val fileOut = new java.io.PrintStream(
        new java.io.FileOutputStream(f, true), true, "UTF-8")
      def tee(live: java.io.PrintStream) = new java.io.PrintStream(live, true, "UTF-8") {
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          super.write(b, off, len); fileOut.write(b, off, len); fileOut.flush()
        }
      }
      System.setOut(tee(System.out))
      System.setErr(tee(System.err))
      println(s"Log file: $p")
    }
    val sfDir = opts.getOrElse("sf", "/root/testdata/sf0.001")
    val which = opts.getOrElse("query", "all")
    val out = opts.get("out")
    val spark = Session.start(Session.Deploy, appName = Some(s"graft-$which"))

    // --bpe-merges <path>: bind the session's bpe_tokens/bpe_token_id
    // kernels to a real model vocabulary (standard merges.txt format)
    // instead of the pinned fixture — the opt-in a production
    // token-budget pipeline (t11 packing / t13 chunking in real-token
    // mode) uses once its tokenizer is chosen. t14's oracle-bound query
    // re-registers the fixture itself, so the correctness gate is
    // unaffected.
    // loadVocab arbitrates the pre-tokenization mode: a GPT-2-family
    // byte-level merges file (Ġ markers) auto-selects byte-level
    // encoding; a vocabulary whose merges can't fire under the fixture
    // pre-tokenizer refuses loudly instead of silently inflating counts
    opts.get("bpe-merges").foreach { p =>
      val vocab = graft.text.Bpe.loadVocab(p,
        spark.sparkContext.hadoopConfiguration)
      graft.text.BpeFunctions.register(spark, vocab)
      println(s"[bpe] registered ${vocab.merges.size} merges from $p" +
        (if (vocab.byteLevel) " (byte-level)" else ""))
    }

    if (opts.contains("maintain")) {
      // table maintenance for the versioned sinks: OPTIMIZE-style
      // small-file compaction + retention vacuum — the scheduled
      // housekeeping job any log-structured table needs at scale
      // (cron vocabulary: `truenas/cron-jobs.txt` runs daily syncs; a
      // weekly `--maintain all --retain 7` bounds files AND metadata)
      import graft.ops.Orchestrator
      val p = opts("maintain")
      val retain = opts.getOrElse("retain", "7").toInt
      val selected = if (p == "all") Orchestrator.pipelines else Seq(p)
      selected.foreach { pl =>
        val r = Orchestrator.maintain(spark, pl, retain)
        if (r.skipped)
          println(f"[maintain] $pl%-14s no published version at ${r.root} — skipped")
        else println(f"[maintain] $pl%-14s compacted ${r.compactedPartitions}%2d " +
          f"partitions, retained $retain newest versions  (${r.root})")
      }
      spark.stop()
      return
    }

    if (opts.contains("corpus-recover") || opts.contains("corpus-recover-emb")) {
      // crashed-writer recovery: delete the commits a dead writer left
      // unpublished and release its lock (a live writer's lock fails)
      graft.ops.Orchestrator.storesOf(opts.get("corpus-recover").toSeq,
          opts.get("corpus-recover-emb").toSeq).foreach { case (st, store) =>
        st.ensureRegistered(spark, store)
        println(if (st.recover(spark, store))
          s"[corpus] $store: unpublished commits deleted, dead lock released"
        else s"[corpus] $store: nothing to recover — store is clean")
      }
      spark.stop()
      return
    }

    if (opts.contains("corpus-stream") || opts.contains("corpus-stream-emb") ||
        opts.contains("stage-docs") || opts.contains("stage-emb")) {
      // the CONTINUOUS corpus-ingest cadence as a CLI surface — one
      // fresh JVM per run, the cron-to-streaming migration shape
      // ([[graft.streaming.CorpusStream]]): arriving files in
      // --stream-src become micro-batches, each runs the store ingest
      // and publishes it with the batch's tag, flags land
      // batch-partitioned at --flags-root, and the checkpoint makes a
      // crashed run's batch redeliver on the next invocation.
      // --stage-docs/--stage-emb write one day-slice parquet file into
      // the source dir (the harness stand-in for files arriving from an
      // upstream feed). --inject-crash after-flags|after-marker
      // hard-halts the JVM at that point of the NEXT batch — the
      // operator recovery DRILL: after-flags leaves the lock and flags
      // of an unpublished batch, after-marker a published batch whose
      // lock was never released; the following run must replay or
      // skip, and converge.
      def need(k: String): String =
        opts.getOrElse(k, sys.error(s"--corpus-stream needs --$k <dir>"))
      def crashHook(phase: String): () => Unit =
        if (!opts.get("inject-crash").contains(phase)) () => ()
        else () => {
          System.err.println(s"[stream] INJECTED CRASH $phase (recovery drill) — halting JVM")
          System.err.flush()
          Runtime.getRuntime.halt(137)
        }
      opts.get("stage-docs").foreach { dir =>
        val slice = batchSlice(opts, Tables.documents(spark, sfDir), "doc_id")
        slice.coalesce(1).write.mode("append").parquet(dir)
        println(s"[stage] ${slice.count()} docs staged -> $dir")
      }
      opts.get("stage-emb").foreach { dir =>
        val slice = batchSlice(opts, Tables.embeddings(spark, sfDir), "vec_id")
        slice.coalesce(1).write.mode("append").parquet(dir)
        println(s"[stage] ${slice.count()} vectors staged -> $dir")
      }
      def report(store: String, flagsRoot: String): Unit = {
        val flags = spark.read.parquet(flagsRoot)
        val batches = flags.select("batch_id").distinct().count()
        val dups = flags.filter(org.apache.spark.sql.functions.col("is_dup")).count()
        println(s"[stream] $store drained: flag log $batches batches, " +
          s"${flags.count()} rows, $dups flagged dup")
      }
      opts.get("corpus-stream").foreach { store =>
        graft.streaming.CorpusStream.ingestStream(
          graft.streaming.CorpusStream.read(spark, need("stream-src"),
            opts.get("max-files").map(_.toInt)),
          store, need("flags-root"), need("checkpoint"),
          threshold = opts.getOrElse("threshold", "0.5").toDouble,
          onFlagsWritten = crashHook("after-flags"),
          onCommitted = crashHook("after-marker"))
          .awaitTermination()
        report(store, need("flags-root"))
      }
      opts.get("corpus-stream-emb").foreach { store =>
        graft.streaming.CorpusStream.ingestEmbeddingsStream(
          graft.streaming.CorpusStream.readEmbeddings(spark, need("stream-src"),
            opts.get("max-files").map(_.toInt)),
          store, need("flags-root"), need("checkpoint"),
          threshold = opts.getOrElse("threshold", "0.9").toDouble,
          bucketCap = opts.getOrElse("bucket-cap", "1000").toInt,
          onFlagsWritten = crashHook("after-flags"),
          onCommitted = crashHook("after-marker"))
          .awaitTermination()
        report(store, need("flags-root"))
      }
      spark.stop()
      return
    }

    if (opts.contains("maintain-store") || opts.contains("maintain-store-emb") ||
        opts.contains("ivf-retrain") || opts.contains("corpus-retune") ||
        opts.contains("ivf-build") || opts.contains("ivf-append")) {
      // store maintenance: compact a signature/embedding store's
      // bucketed tables back to ~`buckets` files each (a year of daily
      // ingests is ~365 files/bucket with no remediation — the store
      // analog of --maintain's versioned-root compaction). Runs under
      // the store lock, so it fails fast against a live ingest.
      graft.ops.Orchestrator.storesOf(opts.get("maintain-store").toSeq,
          opts.get("maintain-store-emb").toSeq).foreach { case (st, store) =>
        st.ensureRegistered(spark, store)
        val tables = st.dataTables(store)
        def files = tables.map(graft.dedup.StoreGuard.dataFileCount(spark, _)).sum
        val before = files
        st.maintain(spark, store).foreach(note => println(s"[maintain-store] $store $note"))
        println(f"[maintain-store] $store%-14s data files $before%4d -> $files%4d " +
          s"(${tables.size} tables)")
      }
      // hot-bucket remediation: --corpus-retune <store> [--bands N
      // --rows R --max-df D --k K] [--corpus-path <dir|table>] rebuilds
      // the signature store from the source corpus with a TIGHTENED
      // banding geometry — the operator response when the per-ingest
      // band audit (and its AUDIT ALERT escalation) shows the uncapped
      // candidate join's hot buckets growing. A full rebuild by design:
      // the store's signatures ARE the geometry, so this rides the same
      // monthly slot as the corpus-wide df-cap refresh. The corpus
      // source is an explicit --corpus-path (a registered table name or
      // a parquet directory of (doc_id, text) rows — the production
      // contract, mirroring how init/ingest take the batch) and falls
      // back to the bench layout's documents table for the harness.
      opts.get("corpus-retune").foreach { store =>
        val spec = retuneSpec(opts)
        graft.dedup.SignatureStore.retune(spark,
          corpusSource(spark, opts, sfDir), store, spec)
        println(s"[maintain-store] $store retuned to $spec (full rebuild " +
          s"from ${opts.getOrElse("corpus-path", s"$sfDir documents")}; " +
          "geometry re-pinned in meta, breach streak reset)")
      }
      // IVF index maintenance: --ivf-retrain <root> [--nlist N] re-runs
      // the coarse quantizer over the index's own contents (base +
      // appended deltas — the index IS the corpus copy), folding the
      // deltas into one fresh vectors/ dir and re-deriving
      // centroids for the post-append distribution — the monthly slot
      // that settles frozen-centroid drift, as reband does for the
      // embedding store's geometry.
      // the index lifecycle's other two phases as CLI forms, completing
      // the cron-cadence story (one fresh JVM per run — the index is
      // published by manifest under its root with no catalog entries, so
      // nothing needs re-registration): --ivf-build <root> [--nlist N --iters I
      // --sample-mod M] [--batch-mod/--batch-rem] trains and publishes
      // v1 from the embeddings table; --ivf-append <root>
      // [--batch-mod/--batch-rem] publishes a frozen-centroid delta —
      // the daily ingest whose drift/proliferation debt the monthly
      // --ivf-retrain (or the scheduled sweep's --ivf-index arm) settles.
      ivfOps(spark, opts, sfDir).foreach(println)
      spark.stop()
      return
    }

    if (opts.contains("corpus-init") || opts.contains("corpus-ingest") ||
        opts.contains("corpus-init-emb") || opts.contains("corpus-ingest-emb")) {
      // training-corpus dedup through the same ops surface as the five
      // reference pipelines: --corpus-init <store> creates the empty
      // signature store; --corpus-ingest <store> [--batch-mod N
      // --batch-rem R] dedupes the selected documents slice against the
      // store + within itself, appends survivors, lands per-doc flags
      // in the versioned sink, and prints the survivor/dup accounting.
      // (--batch-mod/-rem carve deterministic daily batches out of the
      // synthetic corpus; a production deployment filters by ingest
      // date instead.)
      import graft.ops.Orchestrator
      opts.get("corpus-init").foreach { store =>
        Orchestrator.corpusInit(spark, store)
        println(s"[corpus] initialized empty signature store '$store'")
      }
      opts.get("corpus-init-emb").foreach { store =>
        Orchestrator.corpusInitEmbeddings(spark, store)
        println(s"[corpus] initialized empty embedding store '$store'")
      }
      def slice(df: org.apache.spark.sql.DataFrame, idCol: String) =
        batchSlice(opts, df, idCol)
      def report(res: Orchestrator.CorpusResult): Unit = res.error match {
        case Some(e) => println(s"[corpus] ${res.store} INGEST FAILED: $e"); sys.exit(1)
        case None =>
          println(f"[corpus] ${res.store} batch=${res.batchRows}%d " +
            f"dups=${res.dups}%d survivors=${res.survivors}%d ${res.elapsedSec}%.1f s")
          // the escalation verdict must reach the CLI operator too, not
          // only the notifier mail — an unattended cron ingest with no
          // mail configured would otherwise breach silently forever
          res.auditAlert.foreach(a => println(s"[corpus] $a"))
      }
      opts.get("corpus-ingest").foreach { store =>
        report(Orchestrator.corpusIngest(spark, store,
          slice(Tables.documents(spark, sfDir), "doc_id"),
          policy = alertPolicy(opts)))
      }
      opts.get("corpus-ingest-emb").foreach { store =>
        report(Orchestrator.corpusIngestEmbeddings(spark, store,
          slice(Tables.embeddings(spark, sfDir), "vec_id"),
          policy = alertPolicy(opts)))
      }
      spark.stop()
      return
    }

    if (opts.contains("schedule")) {
      // the reference's cron table (`truenas/cron-jobs.txt`) as a live
      // scheduler: daily 2wk incremental, Sunday full_bi_data sync,
      // monthly table maintenance. --max-fires bounds the loop (ops
      // smoke tests); default runs until killed, like cron.
      import graft.ops.{Orchestrator, Scheduler}
      val maxFires = opts.get("max-fires").map(_.toInt).getOrElse(Int.MaxValue)
      val retain = opts.getOrElse("retain", "7").toInt
      val jobs = Orchestrator.scheduledJobs(spark, sfDir, retainVersions = retain,
        onResult = r =>
          println(f"[sched] ${r.pipeline}%-14s ${r.rows}%8d rows ${r.elapsedSec}%6.1f s  " +
            f"slicer=${r.slicer}" + r.error.map(e => s"  FAILED: $e").getOrElse("")),
        onMaintain = m =>
          println(f"[sched] maintain ${m.pipeline}%-14s compacted=${m.compactedPartitions} " +
            f"skipped=${m.skipped}"),
        // --store a,b / --store-emb c: corpus stores compacted in the
        // same monthly maintenance slot as the versioned pipeline roots
        corpusStores = opts.get("store").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        embeddingStores = opts.get("store-emb").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        ivfIndexRoots = opts.get("ivf-index").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        // --auto-remediate: opt-in alert→action — a store whose
        // persisted AUDIT ALERT streak is in breach at sweep time gets
        // retuned (text; corpus from --corpus-path or the sf documents)
        // / rebanded (embedding) in the same slot, streak reset on
        // success. Without the flag the sweep only compacts and the
        // alert stays an operator action.
        remediations =
          if (!opts.contains("auto-remediate")) Map.empty
          else {
            val text = opts.get("store").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
            val emb = opts.get("store-emb").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
            // a name in both lists would make the sweep's streak
            // dispatch ambiguous AND toMap would silently drop one
            // thunk — refuse at parse time, not at the monthly fire
            val both = text.toSet.intersect(emb.toSet)
            require(both.isEmpty, "--auto-remediate needs disjoint --store/" +
              s"--store-emb names, got both: ${both.mkString(", ")}")
            // retune resets the breach streak itself (it always
            // rebuilds); reband resets only when the geometry actually
            // moves — the sweep already rebands monthly, so this thunk
            // is a cheap geometry re-check whose real job is the
            // alert-coupled accounting (a no-op reband leaves the
            // alert armed: the remaining remedy is the bucketCap knob)
            (text.map(s => s -> (() => graft.dedup.SignatureStore.retune(
               spark, corpusSource(spark, opts, sfDir), s, retuneSpec(opts)))) ++
             emb.map(s => s -> (() =>
               { graft.similarity.EmbeddingStore.reband(spark, s); () }))).toMap
          },
        // the sweep judges persisted streaks against the SAME --alert-*
        // policy the ingest cadence stamps them with (one parser —
        // alertPolicy — so the two sides cannot diverge)
        auditPolicy = alertPolicy(opts))
      // --fire-now <job>: run one scheduled job immediately and exit —
      // the operator's out-of-cron-band form ("run the monthly sweep
      // NOW", e.g. to act on an AUDIT ALERT without waiting for the
      // 1st). Same job closure the cron loop would fire, so what it
      // proves is what the schedule runs.
      opts.get("fire-now") match {
        case Some(jobName) =>
          val job = jobs.find(_.name == jobName).getOrElse(
            sys.error(s"--fire-now: no scheduled job named '$jobName' " +
              s"(scheduled: ${jobs.map(_.name).mkString(", ")})"))
          println(s"[sched] firing ${job.name} now (operator-forced, out of cron band)")
          job.run()
        case None =>
          println(s"[sched] armed: ${jobs.map(j => s"${j.name}").mkString(", ")} (max-fires=$maxFires)")
          new Scheduler.Loop(jobs).run(maxFires)
      }
      spark.stop()
      return
    }

    if (opts.contains("full-refresh")) {
      // destructive entry point with the reference's confirmation gates
      // (`full_refresh_fy2023_2025.py:291-293`): refuses without
      // --confirm-delete / --confirm-fy, supports --dry-run and
      // --skip-delete. The delete+backfill is one atomic versioned
      // overwrite (see Orchestrator.fullRefresh).
      import graft.ops.Orchestrator
      val p = opts("full-refresh")
      val fyFrom = opts.getOrElse("fy-from", "2023").toInt
      val fyTo = opts.getOrElse("fy-to", "2025").toInt
      require(fyFrom <= fyTo, s"--fy-from $fyFrom must be <= --fy-to $fyTo")
      val years = fyFrom to fyTo
      val dryRun = opts.get("dry-run").contains("true")
      val selected = if (p == "all") Orchestrator.pipelines else Seq(p)
      val sink = Orchestrator.VersionedSink()
      println("=" * 72)
      println(s"FULL REFRESH FY$fyFrom-FY$fyTo")
      println(s"Targets: ${selected.mkString(", ")}")
      println(s"Dry run: $dryRun")
      println("=" * 72)
      val results = selected.map { pl =>
        if (dryRun) {
          println(s"[refresh] $pl (dry-run): would overwrite ${sink.rootOf(spark, pl)} " +
            s"with FY slices ${years.map(y => Orchestrator.mdxSlicer(pl, Orchestrator.Fiscal(y, None))).mkString("; ")}")
        }
        Orchestrator.fullRefresh(spark, sfDir, pl, years,
          confirmDelete = opts.get("confirm-delete").contains("true"),
          confirmFy = opts.get("confirm-fy").contains("true"),
          dryRun = dryRun,
          skipDelete = opts.get("skip-delete").contains("true"),
          sink = sink)
      }
      results.foreach { r =>
        val byFy = r.fyYears.map(y => s"FY$y=${r.rowsByFy.getOrElse(y, 0L)}").mkString(" ")
        println(f"[refresh] ${r.pipeline}%-14s ${r.rows}%8d rows  $byFy  " +
          f"${r.elapsedSec}%6.1f s" +
          (if (r.dryRun) "  (dry-run)" else "") +
          r.error.map(e => s"  FAILED: $e").getOrElse(""))
      }
      spark.stop()
      if (results.exists(_.error.isDefined)) sys.exit(1)
      return
    }

    if (opts.contains("pipeline")) {
      import graft.ops.Orchestrator
      val p = opts("pipeline")
      val slice = Orchestrator.sliceFor(
        opts.getOrElse("length", "2wk"), opts.get("fy").map(_.toInt), opts.get("fp").map(_.toInt))
      // every sync lands in its pipeline's crash-atomic versioned root
      val sink = Orchestrator.VersionedSink()
      val selected = if (p == "all") Orchestrator.pipelines else Seq(p)
      selected.foreach(pl => println(s"[sync] $pl -> ${sink.rootOf(spark, pl)}"))
      val results =
        if (p == "all") Orchestrator.runAll(spark, sfDir, slice, sink = sink)
        else Seq(Orchestrator.run(spark, sfDir, p, slice, sink = sink))
      results.foreach { r =>
        // rows/sec mirrors the reference's upsert progress rate
        // (`modules/dataverse.py:213-219`)
        val rate = if (r.elapsedSec > 0) r.rows / r.elapsedSec else 0.0
        println(f"[sync] ${r.pipeline}%-14s ${r.rows}%8d rows  ${r.created}%7d created " +
          f"${r.updated}%7d updated  ${r.elapsedSec}%6.1f s  ${rate}%8.0f rows/s  slicer=${r.slicer}" +
          r.error.map(e => s"  FAILED: $e").getOrElse(""))
      }
      spark.stop()
      if (results.exists(_.error.isDefined)) sys.exit(1)
      return
    }

    val targets =
      if (which == "all") Queries.all
      else Seq(Queries.byName.getOrElse(which,
        sys.error(s"unknown query: $which — known: ${Queries.all.map(_.name).mkString(", ")}")))

    targets.foreach { q =>
      val t0 = System.nanoTime()
      val df = q.query(spark, sfDir)
      val n = out match {
        case Some(o) =>
          df.write.mode("overwrite").parquet(s"$o/${q.name}")
          spark.read.parquet(s"$o/${q.name}").count()
        case None => df.count()
      }
      println(f"[runner] ${q.name}%-28s $n%9d rows  ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    spark.stop()
  }
}
