package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.cube.FiscalCalendar
import graft.etl.{Pipeline, SpecLoader}
import graft.sinks.VersionedTable

/** E1 depth — the one-command pipeline orchestration of the reference's
  * CLI (`/root/reference/modules/olap_sync.py:192-468`): pick the slicer
  * from `--length`/`--fy`/`--fp` exactly as `run_pipeline_by_name` does,
  * render the MDX slicer string (parity artifact, logged), run the
  * pipeline's native aggregation with the slicer window pushed BELOW the
  * aggregate (filter-then-aggregate — the engine's form of "the cube only
  * aggregates the sliced cells"), compile the shipped mapping YAML, MERGE
  * into the versioned keyed table, and notify.
  *
  * `--length 1wk|2wk` maps to the reference's MyView IDs (81 = 7 days,
  * 82 = 14 days, `modules/mdx_queries.py:14-18`): a rolling window
  * anchored at the fact's max date (broadcast one-row anchor, q04's
  * shape). `--fy/--fp` map to the 13-4 calendar for offers/sales_channel
  * and the Calendar hierarchy otherwise (`olap_sync.py:263-283`).
  */
object Orchestrator {

  sealed trait Slice
  /** MyView rolling window (81 = 7 d, 82 = 14 d). */
  final case class Rolling(days: Int) extends Slice
  /** Fiscal-year slicer, optional 13-4 period (1-13). */
  final case class Fiscal(fy: Int, fp: Option[Int]) extends Slice
  /** No slicer — the reference's `full_bi_data` weekly validation sync
    * (`truenas/cron-jobs.txt:15`), which queries the whole cube.
    */
  case object Full extends Slice

  /** The five config-driven pipelines, same registry as the reference's
    * `pipelines/pipelines.yaml`.
    */
  val pipelines: Seq[String] =
    Seq("daily_sales", "sales_channel", "offers", "inventory", "clock_in_out")

  /** Pipelines on the 13-4 retail calendar (`olap_sync.py:265-267`). */
  private val thirteenFour = Set("offers", "sales_channel")

  /** `--length/--fy/--fp` → slice, with the reference's validation
    * (`--fp` requires `--fy`, 1-13).
    */
  def sliceFor(length: String, fy: Option[Int], fp: Option[Int]): Slice =
    (fy, fp) match {
      case (None, Some(_)) => sys.error("--fp requires --fy")
      case (Some(y), p) =>
        p.foreach(v => require(v >= 1 && v <= 13, "--fp must be between 1 and 13"))
        Fiscal(y, p)
      case (None, None) => length match {
        case "1wk" => Rolling(7)
        case "2wk" => Rolling(14)
        case "full" => Full
        case other => sys.error(s"Unknown length '$other'")
      }
    }

  /** The MDX slicer string the reference would ship to the cube for this
    * (pipeline, slice) — byte-shape parity with `olap_sync.py:246-295`.
    * The engine logs it and evaluates the same window natively.
    */
  def mdxSlicer(pipeline: String, slice: Slice): String = slice match {
    case Fiscal(y, Some(p)) if thirteenFour(pipeline) =>
      s"[13-4 Calendar].[d_Year].[d_Year].&[$y],[13-4 Calendar].[d_Period].[d_Period].&[$p]"
    case Fiscal(y, None) if thirteenFour(pipeline) =>
      s"[13-4 Calendar].[d_Year].[d_Year].&[$y]"
    case Fiscal(y, _) =>
      s"[Calendar].[Calendar Hierarchy].[Fiscal_Year].&[$y]"
    case Rolling(days) =>
      val myViewId = if (days <= 7) 81 else 82
      if (pipeline == "offers")
        s"([MyView].[My View].[My View].&[$myViewId],[13-4 Calendar].[Alternate Calendar Hierarchy].[All])"
      else s"[MyView].[My View].[My View].&[$myViewId]"
    case Full => "(full_bi_data: no slicer)"
  }

  /** Apply the slice BELOW the aggregate: rolling windows anchor on the
    * fact's max date via a broadcast one-row cross join (no collect, the
    * q04 shape); fiscal slices filter on the calendar expressions, which
    * prune partitions when the fact is calendar-partitioned.
    */
  def applySlice(df: DataFrame, dateCol: Column, pipeline: String, slice: Slice): DataFrame =
    slice match {
      case Full => df
      case Rolling(days) =>
        val anchor = df.agg(max(to_date(dateCol)).as("__graft_anchor"))
        df.crossJoin(broadcast(anchor))
          .filter(datediff(col("__graft_anchor"), to_date(dateCol)) < days)
          .drop("__graft_anchor")
      case Fiscal(y, p) =>
        val d = to_date(dateCol)
        val base =
          if (thirteenFour(pipeline)) df.filter(FiscalCalendar.fiscalYearAnchored(d) === y)
          else df.filter(FiscalCalendar.fiscalYear(d) === y)
        p.fold(base)(fp => base.filter(FiscalCalendar.fiscalPeriodAnchored(d) === fp))
    }

  /** The pipeline's source aggregation with the slice pushed below it,
    * compiled through its shipped mapping YAML. daily_sales binds the
    * 47 oracle-verified q11 measures positionally to the mapping's 47
    * captions (the real cube measures aren't derivable from TPC-H — the
    * aggregate set is the engine's, the mapping surface the reference's).
    *
    * `onPersist` receives each intermediate frame the plan persists
    * (sales_channel's TY aggregate). A caller must unpersist them once
    * done, or the next sync in the same session reads them by plan match
    * and publishes the old fact's numbers.
    */
  def source(spark: SparkSession, sfDir: String, pipeline: String, slice: Slice,
      onPersist: DataFrame => Unit = _ => ()): DataFrame = {
    import graft.{CubeQueries, PipelineQueries, Tables}
    val pre: DataFrame => DataFrame = df =>
      applySlice(df, if (pipeline == "clock_in_out") col("ts") else col("l_shipdate"),
        pipeline, slice)
    val spec = SpecLoader.fromResource(pipeline)
    val agg = pipeline match {
      case "sales_channel" =>
        PipelineQueries.salesChannelAgg(spark, sfDir, pre, onPersist = onPersist)
      case "offers" => PipelineQueries.offersAgg(spark, sfDir, pre)
      case "inventory" => PipelineQueries.inventoryAgg(spark, sfDir, pre)
      case "clock_in_out" => PipelineQueries.clockInOutAgg(spark, sfDir, pre)
      case "daily_sales" =>
        val measures = CubeQueries.dailySalesMeasures
        require(spec.measures.size == measures.size,
          s"daily_sales mapping expects ${spec.measures.size} measures, engine has ${measures.size}")
        pre(Tables.lineitem(spark, sfDir))
          .groupBy(col("l_suppkey").cast("string").as("StoreNumber"),
            to_date(col("l_shipdate")).as("CalendarDate"))
          .agg(measures.head._2.as(spec.measures.head.src),
            measures.tail.zip(spec.measures.tail).map { case ((_, c, _), m) => c.as(m.src) }: _*)
      case other => sys.error(
        s"unknown pipeline '$other'. Available: ${pipelines.mkString(", ")}")
    }
    // The syncs persist this frame. Spark plans a cached frame with
    // AQE's final-stage coalescing off, so it keeps the width of its
    // last exchange: 16×cpus under the Deploy posture, for a few
    // thousand rows, i.e. that many tasks per action on it and that many
    // files per merge. A narrow coalesce (no shuffle) sizes it to
    // `spark.sql.shuffle.partitions`, the cores that run it; the
    // session's `numShufflePartitions` returns the initial width instead.
    Pipeline.compile(spec, agg, refreshedAt = Some(current_timestamp()))
      .coalesce(spark.sessionState.conf.defaultNumShufflePartitions)
  }

  final case class RunResult(
      pipeline: String, slicer: String, rows: Long,
      created: Long, updated: Long, elapsedSec: Double, error: Option[String])

  /** Where every orchestrated sync lands: a crash-atomic versioned table
    * ([[VersionedTable]]) per pipeline. The reference's sink is per-row
    * atomic (PATCH by alternate key, `modules/dataverse.py:88`), so the
    * engine's daily path must not be able to leave a half-overwritten
    * table. A relative root resolves under the session warehouse dir.
    * `onBeforePublish` is the crash-test seam threaded through to
    * `VersionedTable.merge` and `VersionedTable.overwrite`.
    *
    * The table is partitioned by `p_fy = year(calendar_date)` when the
    * pipeline output carries the fact date — a daily sync then reads back
    * and rewrites only the trailing year's partition instead of the whole
    * table (the 100 TB rationale of [[VersionedTable]]'s partition-scoped
    * merge). `calendar_date` is a `key_components` member in every shipped
    * pipeline spec, so the partition value is functionally derived from
    * the business key and the moved-key contract holds without
    * `removeMovedKeys`.
    */
  final case class VersionedSink(rootFor: String => String = p => s"graft_versioned_$p",
      onBeforePublish: () => Unit = () => ()) {
    def rootOf(spark: SparkSession, pipeline: String): String = {
      val r = new org.apache.hadoop.fs.Path(rootFor(pipeline))
      if (r.isAbsolute) r.toString
      else new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")), r).toString
    }
    /** Column-pruned pre-merge `business_key` set; empty on first run. */
    def existingKeys(spark: SparkSession, pipeline: String, schema: StructType): DataFrame = {
      val root = rootOf(spark, pipeline)
      if (VersionedTable.version(spark, root) == 0)
        spark.createDataFrame(new java.util.ArrayList[Row](),
          StructType(Seq(schema("business_key"))))
      else VersionedTable.read(spark, root).select("business_key")
    }
    /** MERGE `out` by business key. */
    def merge(spark: SparkSession, pipeline: String, out: DataFrame): Unit = {
      val (data, parts) = laidOut(out)
      VersionedTable.merge(spark, rootOf(spark, pipeline), data, "business_key",
        partitionCols = parts, onBeforePublish = onBeforePublish)
    }
    /** Replace the whole table with `out` in one new version. */
    def overwrite(spark: SparkSession, pipeline: String, out: DataFrame): Unit = {
      val (data, parts) = laidOut(out)
      VersionedTable.overwrite(spark, rootOf(spark, pipeline), data,
        partitionCols = parts, onBeforePublish = onBeforePublish)
    }
    private def laidOut(out: DataFrame): (DataFrame, Seq[String]) =
      if (out.columns.contains("calendar_date"))
        (out.withColumn("p_fy", year(col("calendar_date"))), Seq("p_fy"))
      else (out, Seq.empty[String])
  }

  /** Run one pipeline end-to-end: source → mapping → keyed MERGE →
    * notification. Mirrors `run_pipeline_by_name` + the notify tail
    * (`olap_sync.py:401-437`): created/updated counted like the sink's
    * per-row outcomes (201 vs 204), the notification never fails the
    * run, and a failed run still notifies with the error.
    *
    * The aggregate is persisted across the run's three actions (count,
    * created anti-join, MERGE) — unpersisted, each action would re-scan
    * the fact and re-run the 5-dim aggregation, 3 fact scans per daily
    * sync at 100 TB. The empty check is derived from `count()` rather
    * than a separate `isEmpty`: a limit-1 action consumes its partition
    * partially, which aborts cache-block materialization — the count
    * both answers the check and fully materializes the cache. `OpsSpec`
    * pins the single scan by filesystem bytes read. The persisted frame
    * holds at most `spark.sql.shuffle.partitions` partitions (see
    * [[source]]), and it and every frame `source` persisted on the way
    * are unpersisted when the run ends.
    */
  def run(spark: SparkSession, sfDir: String, pipeline: String, slice: Slice,
      notifier: Option[Notifier.Config] = None,
      sink: VersionedSink = VersionedSink()): RunResult = {
    val t0 = System.nanoTime()
    val slicer = mdxSlicer(pipeline, slice)
    val result =
      try {
        val cached = Seq.newBuilder[DataFrame]
        val out = source(spark, sfDir, pipeline, slice, cached += _).persist()
        try {
          val rows = out.count()
          if (rows == 0) sys.error("No data returned from source")
          // created vs updated = the sink's 201-vs-204 accounting, as a
          // column-pruned anti-join against the pre-merge key set
          val existing = sink.existingKeys(spark, pipeline, out.schema)
          val created = out.join(existing, Seq("business_key"), "left_anti").count()
          sink.merge(spark, pipeline, out)
          RunResult(pipeline, slicer, rows, created, rows - created,
            (System.nanoTime() - t0) / 1e9, None)
        } finally (out +: cached.result()).foreach(_.unpersist())
      } catch {
        case e: Exception =>
          RunResult(pipeline, slicer, 0, 0, 0, (System.nanoTime() - t0) / 1e9,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    sendSummary(notifier, Notifier.RunSummary(
      s"$pipeline [$slicer]", result.created, result.updated,
      if (result.error.isDefined) 1 else 0, result.elapsedSec, result.error))
    result
  }

  /** `--query all` — every pipeline through the same entry point. */
  def runAll(spark: SparkSession, sfDir: String, slice: Slice,
      notifier: Option[Notifier.Config] = None,
      sink: VersionedSink = VersionedSink()): Seq[RunResult] =
    pipelines.map(run(spark, sfDir, _, slice, notifier, sink))

  final case class RefreshResult(
      pipeline: String, fyYears: Seq[Int], rowsByFy: Map[Int, Long], rows: Long,
      elapsedSec: Double, dryRun: Boolean, error: Option[String])

  /** Full refresh (delete + per-fiscal-year backfill) with the
    * reference's safety contract (`full_refresh_fy2023_2025.py:201-294`):
    * REFUSES to run without the explicit `confirmDelete`
    * acknowledgement (unless `skipDelete`) and without `confirmFy`;
    * `dryRun` reports what would happen — per-FY slicers, target root —
    * without touching the table; the backfill is sliced per fiscal year
    * exactly as the reference chunks its FY2023–FY2025 loop "to avoid
    * huge single queries" (`full_refresh_fy2023_2025.py:6`).
    *
    * The engine's execution upgrade over the reference: delete + reload
    * is ONE [[VersionedTable.overwrite]] — a fresh commit plus an atomic
    * manifest swap — so a crash at any point leaves the previous table
    * version fully served, where the reference's delete-then-upsert can
    * die half-empty. With `skipDelete` (reference semantics: table
    * already emptied server-side, rows are re-upserted) the backfill
    * MERGEs by business key instead, preserving rows outside the
    * refreshed window. One fact scan: the per-FY frames are unioned with
    * a literal FY tag, persisted, counted per FY and written from the
    * same cached relation.
    */
  def fullRefresh(spark: SparkSession, sfDir: String, pipeline: String,
      fyYears: Seq[Int], confirmDelete: Boolean, confirmFy: Boolean,
      dryRun: Boolean = false, skipDelete: Boolean = false,
      notifier: Option[Notifier.Config] = None,
      sink: VersionedSink = VersionedSink()): RefreshResult = {
    if (!skipDelete && !confirmDelete)
      sys.error("Refusing to run: pass --confirm-delete to delete all records " +
        "(or use --skip-delete).")
    if (!confirmFy)
      sys.error("Refusing to run: pass --confirm-fy to run FY backfill.")
    require(fyYears.nonEmpty, "full refresh needs at least one fiscal year")
    val t0 = System.nanoTime()
    val result =
      if (dryRun)
        RefreshResult(pipeline, fyYears, Map.empty, 0,
          (System.nanoTime() - t0) / 1e9, dryRun = true, None)
      else try {
        val cached = Seq.newBuilder[DataFrame]
        val perFy = fyYears.map(y =>
          source(spark, sfDir, pipeline, Fiscal(y, None), cached += _)
            .withColumn("__fy", lit(y)))
        val out = perFy.reduce(_.unionByName(_)).persist()
        try {
          val rowsByFy = out.groupBy("__fy").count()
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val rows = rowsByFy.values.sum
          if (rows == 0) sys.error("No data returned from source for any fiscal year")
          val data = out.drop("__fy")
          if (skipDelete) sink.merge(spark, pipeline, data)
          else sink.overwrite(spark, pipeline, data)
          RefreshResult(pipeline, fyYears, rowsByFy, rows,
            (System.nanoTime() - t0) / 1e9, dryRun = false, None)
        } finally (out +: cached.result()).foreach(_.unpersist())
      } catch {
        case e: Exception =>
          RefreshResult(pipeline, fyYears, Map.empty, 0,
            (System.nanoTime() - t0) / 1e9, dryRun = false,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    sendSummary(notifier, Notifier.RunSummary(
      s"full-refresh $pipeline [FY ${fyYears.mkString(",")}]",
      result.rows, 0, if (result.error.isDefined) 1 else 0,
      result.elapsedSec, result.error))
    result
  }

  /** The reference's production schedule bound to REAL work — the
    * cron table of `truenas/cron-jobs.txt` as live scheduler jobs:
    * daily 02:00 incremental 2-week sync of every pipeline (`:12`,
    * `--query-type last_2_weeks`), Sunday 03:00 full-data validation
    * sync (`:15`, `full_bi_data` → the [[Full]] slice), and the
    * monthly 1st-00:00 housekeeping slot (`:18`, log rotation there;
    * here [[maintain]] — compaction + retention vacuum — which a
    * log-structured sink needs where the reference's remote tables did
    * not). Results flow through `onResult`/`onMaintain` so the caller
    * owns logging; job failures are already re-armed by
    * `Scheduler.Loop`.
    */
  def scheduledJobs(spark: SparkSession, sfDir: String,
      sink: VersionedSink = VersionedSink(), retainVersions: Int = 7,
      notifier: Option[Notifier.Config] = None,
      onResult: RunResult => Unit = _ => (),
      onMaintain: MaintainResult => Unit = _ => (),
      corpusStores: Seq[String] = Nil,
      embeddingStores: Seq[String] = Nil,
      ivfIndexRoots: Seq[String] = Nil,
      /** Opt-in alert→action: per-store remediation thunks (text store →
        * a bound `SignatureStore.retune` with its corpus source and
        * tightened geometry; embedding store → `EmbeddingStore.reband`).
        * At sweep time, a store whose PERSISTED breach streak has
        * reached `auditPolicy.consecutive` gets its thunk run (isolated
        * like every other unit) and its streak reset; non-breached
        * stores are untouched. Unbound stores only alert — an alert a
        * human must read is the default, acting on it is the opt-in.
        */
      remediations: Map[String, () => Unit] = Map.empty,
      auditPolicy: AuditPolicy = AuditPolicy()): Seq[Scheduler.Job] =
    Scheduler.referenceJobs(
      runIncremental = () =>
        runAll(spark, sfDir, Rolling(14), notifier, sink).foreach(onResult),
      runFull = () =>
        runAll(spark, sfDir, Full, notifier, sink).foreach(onResult),
      runMaintenance = Some(() => {
        // each unit is isolated: one store whose compaction loses its
        // publish to a concurrent ingest, or one broken pipeline, must
        // not starve every remaining unit of its monthly
        // slot — the failure is reported and the sweep continues (the
        // scheduler-level catch would otherwise abort the whole fire).
        // Reporting goes through the SAME channels every other failure
        // uses — a failed MaintainResult to `onMaintain` (the caller's
        // log/sink record) and a notifier mail — so a store whose
        // compaction breaks every month is visible, not an
        // stderr-only ghost on a healthy-looking maintenance history
        def isolated(what: String)(f: => Unit): Unit =
          try f catch {
            case e: Exception =>
              val err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
              System.err.println(s"[maintenance] $what failed (continuing): $err")
              // the reporting itself must not re-abort the sweep: a
              // throwing onMaintain (e.g. its log sink is down during
              // the same outage that failed the unit) would otherwise
              // escape this catch and starve every remaining unit —
              // the exact failure mode isolated() exists to prevent
              try onMaintain(MaintainResult(what, "", 0, 0, skipped = false,
                error = Some(err)))
              catch { case e2: Exception => System.err.println(
                s"[maintenance] $what onMaintain failed: ${e2.getMessage}") }
              sendSummary(notifier, Notifier.RunSummary(
                s"maintenance $what", 0, 0, 1, 0.0, Some(err)))
          }
        pipelines.foreach(p =>
          isolated(s"pipeline $p")(onMaintain(maintain(spark, p, retainVersions, sink))))
        // opt-in alert→action FIRST, before routine store maintenance:
        // the embedding store's routine monthly reband is itself the
        // remedy its AUDIT ALERT names, so running it first would clear
        // the streak and swallow the remediation record — the maintain
        // history would show a breach streak that vanished with no
        // "remediation scheduled and run" line attributing the action
        // (found by the r17 CLI proof: the sweep acted, the record
        // lied by omission). Acting on alerts first prints the record
        // and makes the routine pass a no-op for that store. See
        // [[remediationPass]] for the per-store semantics.
        remediationPass(spark, remediations, corpusStores, embeddingStores,
          auditPolicy, (w, f) => isolated(w)(f()), onMaintain, notifier)
        // the corpus stores ride the same monthly slot: a year of daily
        // ingests is ~365 bucket-aligned files per bucket otherwise
        storesOf(corpusStores, embeddingStores).foreach { case (st, s) =>
          isolated(s"${st.kind} store $s") {
            st.ensureRegistered(spark, s)
            st.maintain(spark, s)
          }
        }
        // IVF indexes take the same monthly slot: retrain settles the
        // frozen-centroid drift and delta proliferation a month of
        // appends accumulates (nlist self-derived from the published
        // centroid table — no per-index training config in the sweep)
        ivfIndexRoots.foreach(r => isolated(s"ivf index $r") {
          graft.similarity.IvfIndex.retrain(spark, r); ()
        })
      }))

  /** The sweep's opt-in alert→action pass (runs BEFORE routine store
    * maintenance — see the call site): when a store's PERSISTED breach
    * streak (published by the daily ingests in the store manifest) is in
    * breach at sweep time, the bound remediation runs in the same
    * monthly slot — the reference's ops story is unattended cron, and
    * an alert a human must read is weaker than a sweep that acts. The
    * streak is reset by the remediation OP ITSELF, and only when it
    * actually changed the store (retune always rebuilds; reband only
    * when the geometry moves) — a failed or no-op remediation leaves
    * the condition armed for next month. Each run is isolated per
    * store like every other unit. The streak is read from the store
    * kind the name appears under — names ambiguous across the two
    * lists are refused up front (the text and embedding stores keep
    * different manifests).
    */
  private def remediationPass(spark: SparkSession,
      remediations: Map[String, () => Unit],
      corpusStores: Seq[String], embeddingStores: Seq[String],
      auditPolicy: AuditPolicy,
      isolated: (String, () => Unit) => Unit,
      onMaintain: MaintainResult => Unit,
      notifier: Option[Notifier.Config]): Unit = {
    if (remediations.nonEmpty) {
      val both = remediations.keySet
        .filter(s => corpusStores.contains(s) && embeddingStores.contains(s))
      require(both.isEmpty, "remediation store name(s) appear in BOTH " +
        s"corpusStores and embeddingStores — streak dispatch is ambiguous: " +
        both.mkString(", "))
    }
    remediations.foreach { case (s, act) =>
      isolated(s"remediation $s", () => {
        val st: graft.dedup.BandedStore =
          if (corpusStores.contains(s)) graft.dedup.SignatureStore
          else graft.similarity.EmbeddingStore
        val n = st.readAuditStreak(spark, s)
        if (n >= auditPolicy.consecutive) {
          // this pass runs FIRST in the sweep, so in a fresh JVM (the
          // cron cadence) no other unit has registered the store's
          // catalog entries yet — register from disk before acting
          // (the streak read above is manifest-based and needs no catalog)
          st.ensureRegistered(spark, s)
          act()
          onMaintain(MaintainResult(
            s"remediation $s (AUDIT ALERT: $n consecutive breaches — remediation scheduled and run)",
            "", 0, 0, skipped = false))
          sendSummary(notifier, Notifier.RunSummary(s"remediation $s", 0, 0, 0, 0.0, None),
            Seq(s"AUDIT ALERT: $n consecutive breaches — remediation scheduled and run"))
        } else onMaintain(MaintainResult(s"remediation $s", "", 0, 0,
          skipped = true))
      })
    }
  }

  /** The sweep's stores, each paired with its store kind: the text
    * stores, then the embedding stores.
    */
  private[graft] def storesOf(corpusStores: Seq[String],
      embeddingStores: Seq[String]): Seq[(graft.dedup.BandedStore, String)] =
    corpusStores.map(graft.dedup.SignatureStore -> _) ++
      embeddingStores.map(graft.similarity.EmbeddingStore -> _)

  final case class MaintainResult(pipeline: String, root: String,
      compactedPartitions: Int, retainedVersions: Int, skipped: Boolean,
      error: Option[String] = None)

  /** Scheduled housekeeping for a pipeline's versioned root (`--maintain`):
    * OPTIMIZE-style small-file compaction clustered by business key (each
    * compacted file covers a disjoint key range, so keyed point reads and
    * the merge read-back skip files on parquet min/max stats), then a
    * retention vacuum bounding both dead data and manifest metadata. A
    * pipeline with no published version is skipped, not failed — the
    * weekly maintenance job shouldn't abort because one pipeline hasn't
    * had its first sync.
    */
  def maintain(spark: SparkSession, pipeline: String, retainVersions: Int = 7,
      sink: VersionedSink = VersionedSink()): MaintainResult = {
    val root = sink.rootOf(spark, pipeline)
    if (VersionedTable.version(spark, root) == 0)
      MaintainResult(pipeline, root, 0, retainVersions, skipped = true)
    else {
      val compacted = VersionedTable.compact(spark, root,
        sortCols = Seq("business_key"))
      VersionedTable.vacuum(spark, root, retainVersions = retainVersions)
      MaintainResult(pipeline, root, compacted, retainVersions, skipped = false)
    }
  }

  // ---- training-corpus dedup as an orchestrated op (SURVEY §2.H) -----

  /** `lshAudit`: the embedding cadence's per-ingest LSH bucket
    * accounting ([[graft.similarity.EmbeddingStore.IngestAudit]]) —
    * nonzero `cappedBuckets`/`cappedRows` mean candidate generation
    * skipped hot buckets this batch, i.e. a measured recall loss the
    * run report and notification must surface (the 30× scale sweep
    * showed ~n^1.3 candidate growth on CORRELATED embeddings, exactly
    * the regime where buckets hit the cap). None for the text cadence
    * and for runs that failed before banding.
    */
  final case class CorpusResult(store: String, batchRows: Long, dups: Long,
      survivors: Long, elapsedSec: Double, error: Option[String],
      lshAudit: Option[graft.similarity.EmbeddingStore.IngestAudit] = None,
      bandAudit: Option[graft.dedup.SignatureStore.IngestAudit] = None,
      /** The escalation verdict, recorded ONCE per ingest by
        * [[recordAuditAlert]] (the streak counter is stateful, so the
        * decision must not be re-derived by every formatter that
        * renders the result).
        */
      auditAlert: Option[String] = None)

  /** Sink pipeline name for a corpus store's flag table. */
  def corpusPipeline(store: String): String = s"corpus_$store"

  /** Create an EMPTY signature store so EVERY batch — including the
    * first — flows through the one [[corpusIngest]] path: the first
    * ingest dedupes the day-one batch within itself against the empty
    * history and appends its survivors, exactly like day two will. On an
    * existing store the build replaces every table in one publish, so a
    * racing ingest loses its publish instead of writing into a deleted
    * store, and the empty store it publishes records no streaming batch.
    */
  def corpusInit(spark: SparkSession, store: String,
      spec: graft.dedup.SignatureStore.Spec = graft.dedup.SignatureStore.Spec()): Unit = {
    import spark.implicits._
    graft.dedup.SignatureStore.build(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), store, spec)
  }

  /** One corpus-dedup ingest through the SAME ops surface as the five
    * reference pipelines: dedupe `batch` against the store's history
    * and within itself ([[graft.dedup.SignatureStore.ingest]]), land
    * the per-doc flags in the keyed sink (`business_key` = doc id, so
    * a re-run of the same batch MERGEs idempotently instead of
    * duplicating flag rows), and notify — created/updated reporting
    * survivors-appended/dups-flagged. The store append and the flag
    * merge commit together: any failure republishes the store's
    * pre-ingest snapshot, so a crashed batch leaves neither
    * half-appended signatures nor unflagged appends —
    * the same no-partial-state discipline the versioned sink gives the
    * reference pipelines. Daily cost is O(batch) (store history is
    * read pre-bucketed, never reshuffled); [[maintain]] with
    * [[corpusPipeline]] covers the flag table's compaction/vacuum like
    * any other pipeline root.
    */
  def corpusIngest(spark: SparkSession, store: String, batch: DataFrame,
      notifier: Option[Notifier.Config] = None,
      sink: VersionedSink = VersionedSink(),
      /** The SAME policy object that configures the sweep's remediation
        * threshold ([[scheduledJobs]]' `auditPolicy`) must configure the
        * stamper here — a hardcoded default would let a deployment
        * tighten one side and silently leave the other judging by
        * different thresholds (alerts at bucket ≥ 1000 while the sweep
        * waits for a streak the stamper never accumulates, or
        * vice versa).
        */
      policy: AuditPolicy = AuditPolicy()): CorpusResult = {
    import graft.dedup.SignatureStore
    val audit = new java.util.concurrent.atomic.AtomicReference[
      Option[SignatureStore.IngestAudit]](None)
    runStoreIngest(spark, SignatureStore, store, "corpus-ingest", notifier, sink, policy,
      finish = r => r.copy(bandAudit = audit.get()))(
      SignatureStore.ingest(spark, batch, store, onAudit = a => audit.set(Some(a))))
  }

  /** The embedding twin of [[corpusInit]]: an empty embedding store
    * ([[graft.similarity.EmbeddingStore]]) whose dims are learned from
    * the first ingested batch.
    */
  def corpusInitEmbeddings(spark: SparkSession, store: String): Unit = {
    import spark.implicits._
    graft.similarity.EmbeddingStore.build(spark,
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), store)
  }

  /** The embedding twin of [[corpusIngest]] — same ingest unit,
    * same commit-together semantics, flags MERGE by vec-id business
    * key. The ingest's LSH bucket audit rides the result and the
    * notification: cap drops are recall loss, and this cadence is where
    * production would otherwise never see them.
    */
  def corpusIngestEmbeddings(spark: SparkSession, store: String, batch: DataFrame,
      notifier: Option[Notifier.Config] = None,
      sink: VersionedSink = VersionedSink(),
      bucketCap: Int = 1000,
      /** See [[corpusIngest]]'s policy note: one policy object for the
        * stamper and the sweep, or their thresholds silently diverge.
        */
      policy: AuditPolicy = AuditPolicy()): CorpusResult = {
    import graft.similarity.EmbeddingStore
    val audit = new java.util.concurrent.atomic.AtomicReference[
      Option[EmbeddingStore.IngestAudit]](None)
    runStoreIngest(spark, EmbeddingStore, store, "corpus-ingest-emb", notifier, sink, policy,
      // fires for failed runs too: the audit lands before any append,
      // so a batch that died mid-append still reports its drop counts
      finish = r => r.copy(lshAudit = audit.get()))(
      EmbeddingStore.ingest(spark, batch, store,
        bucketCap = bucketCap, onAudit = a => audit.set(Some(a))))
  }

  /** The store-agnostic ingest unit both corpus cadences share:
    * snapshot → ingest → flag merge → rollback on failure. The ingest
    * publishes on top of the version `ensureRegistered` synced, or fails
    * if another writer published first. Any failure rolls back what this
    * process published since the snapshot. When another process
    * published on top of this ingest before a failed flag merge, the
    * rollback refuses rather than drop that writer's work; its failure
    * rides along as suppressed instead of replacing the root cause (the
    * appends then still exist — the error says so). `finish` attaches
    * the ingest's audit to the result; `runIngest` is the store's ingest
    * of the batch.
    */
  private def runStoreIngest(spark: SparkSession, st: graft.dedup.BandedStore,
      store: String, jobLabel: String,
      notifier: Option[Notifier.Config],
      sink: VersionedSink,
      policy: AuditPolicy,
      finish: CorpusResult => CorpusResult)(runIngest: => DataFrame): CorpusResult = {
    val t0 = System.nanoTime()
    var rollbackFailure: Option[Throwable] = None
    val result =
      try {
        // a missing/never-built store must surface as a formatted
        // CorpusResult error (and fire the notifier), not an uncaught
        // exception that skips the monitoring path — so the cross-JVM
        // re-registration runs INSIDE this try
        st.ensureRegistered(spark, store)
        val snap = st.snapshot(spark, store)
        try {
          val flags = runIngest
          val batchRows = flags.count()
          if (batchRows == 0) sys.error("Empty batch — nothing to ingest")
          val dups = flags.filter(col("is_dup")).count()
          val out = flags.select(
            col(st.idCol).cast("string").as("business_key"),
            col(st.idCol), col("is_dup"), col("dup_of"))
            .withColumn("refreshed_at", current_timestamp())
          sink.merge(spark, corpusPipeline(store), out)
          recordAuditAlert(finish(
            CorpusResult(store, batchRows, dups, batchRows - dups,
              (System.nanoTime() - t0) / 1e9, None)),
            policy, durableStreak(spark, st, store))
        } catch {
          case e: Throwable =>
            try st.rollback(spark, store, snap) // store unchanged
            catch { case rb: Throwable => rollbackFailure = Some(rb); e.addSuppressed(rb) }
            throw e
        }
      } catch {
        case e: Exception =>
          // not `e.getSuppressed`: Spark attaches its caller's stack trace
          // to its own exceptions as a suppressed one
          val rbNote = rollbackFailure
            .map(rb => s" (ROLLBACK ALSO FAILED — partial appends remain: ${rb.getMessage})")
            .getOrElse("")
          // a failed ingest's mutation rolled back: its audits (landed
          // pre-append) still ride the result for the run report, but
          // the streak is left untouched and no alert is stamped —
          // recordAuditAlert's error rule, enforced by not calling it
          finish(CorpusResult(store, 0, 0, 0, (System.nanoTime() - t0) / 1e9,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}$rbNote")))
      }
    sendSummary(notifier, Notifier.RunSummary(
      s"$jobLabel $store", result.survivors, result.dups,
      if (result.error.isDefined) 1 else 0, result.elapsedSec, result.error),
      lshAuditLines(result))
    result
  }

  /** Mail one run summary, `extra` lines appended to its body. Never
    * fails the caller: `Notifier.send` reports a failed POST as false.
    */
  private def sendSummary(notifier: Option[Notifier.Config], run: Notifier.RunSummary,
      extra: Seq[String] = Nil): Unit =
    notifier.foreach { cfg =>
      val (subject, body) = Notifier.format(run)
      Notifier.send(cfg, subject, (body +: extra).mkString("\n"))
    }

  /** The notification's drop-accounting lines — next to the
    * survivor/dup counts so an operator reading the daily mail sees a
    * recall loss the moment it starts, not at the next manual audit.
    */
  def lshAuditLines(result: CorpusResult): Seq[String] =
    result.lshAudit.toSeq.map { a =>
      s"LSH buckets: ${a.occupiedBuckets} occupied, max occupancy ${a.maxBucket}; " +
        s"capped: ${a.cappedBuckets} buckets / ${a.cappedRows} rows" +
        (if (a.cappedBuckets > 0) " — RECALL LOSS: hot buckets skipped; " +
          "raise bucketCap or reband/shard the store" else "")
    } ++ result.bandAudit.toSeq.map { a =>
      // the MinHash candidate join is uncapped, so hot buckets are a
      // COST cliff (m²/2 candidate pairs), not a recall loss — surface
      // the histogram so the operator sees the term growing
      s"MinHash band buckets: ${a.occupiedBuckets} occupied, " +
        s"max occupancy ${a.maxBucket} (uncapped candidate join — a hot " +
        "bucket of m docs costs m²/2 candidates; exact-dedup upstream " +
        "keeps identical-doc clusters out)"
    } ++ result.auditAlert

  /** Per-ingest breach thresholds that turn the audit ACCOUNTING into
    * operator POLICY: an embedding ingest breaches when any rows were
    * capped (measured recall loss) or when the fullest bucket passes
    * `embCapPct`% of the cap (the loss is one growth step away); a text
    * ingest breaches when the fullest band bucket passes
    * `textMaxBucket` members (the uncapped candidate join's m²/2 term).
    */
  final case class AuditPolicy(embCapPct: Int = 80, textMaxBucket: Long = 1000,
      consecutive: Int = 3)

  /** One store's consecutive-breach counter. The corpus cadences keep
    * it DURABLE, in the store's manifest ([[durableStreak]]), because
    * the production mode is one fresh JVM per daily `Runner
    * --corpus-ingest` (cron), where a process-lifetime counter would
    * reset every run and "K breaches in a row" would be unreachable.
    */
  trait StreakStore {
    def read(): Int
    def write(n: Int): Unit
    def clear(): Unit

    /** Set the counter to `f` of its value and return the new value. A
      * counter other processes update overrides this with one atomic
      * step.
      */
    def update(f: Int => Int): Int = {
      val n = f(read())
      if (n == 0) clear() else write(n)
      n
    }
  }

  /** The corpus cadences' durable streak: the `streak` line of the
    * store's manifest, updated by a streak-only publish that re-applies
    * its change when another writer published first, so two cadences on
    * the same store never lose each other's updates.
    */
  private def durableStreak(spark: SparkSession, st: graft.dedup.BandedStore,
      store: String): StreakStore = new StreakStore {
    def read(): Int = st.readAuditStreak(spark, store)
    def write(n: Int): Unit = st.writeAuditStreak(spark, store, n)
    def clear(): Unit = st.clearAuditStreak(spark, store)
    override def update(f: Int => Int): Int = st.guard(store).updateStreak(spark, f)
  }

  /** Record this ingest against the store's breach streak and stamp the
    * escalation verdict into the result — called exactly ONCE per
    * SUCCESSFUL ingest (by [[runStoreIngest]], through the streak's one
    * `update`, so a concurrent cadence never loses this change);
    * formatters must read `result.auditAlert`, never re-derive it. The
    * alert fires only after [[AuditPolicy.consecutive]] breaching
    * ingests IN A ROW for the same store, and names the remediation the
    * audit points at —
    * [[graft.similarity.EmbeddingStore.reband]] for the embedding
    * store, [[graft.dedup.SignatureStore.retune]] (more rows per band)
    * for the text store. It rides [[lshAuditLines]] and with them the
    * notification mail and the streaming flag log, so the daily report
    * escalates from accounting to action.
    *
    * Streak semantics: only an ingest that actually AUDITED clean —
    * audits present, no breach, no error — resets the counter. An
    * ERRORED ingest (or one that died before banding: both audits
    * None) leaves the streak untouched: its mutation rolled back, so
    * it is evidence of nothing, and counting it as clean would let an
    * intermittently crashing store mask a sustained breach forever.
    */
  def recordAuditAlert(result: CorpusResult, policy: AuditPolicy,
      streak: StreakStore): CorpusResult = {
    val embBreach = result.lshAudit.exists(a => a.cappedRows > 0 ||
      (a.bucketCap > 0 && a.maxBucket * 100 >= policy.embCapPct * a.bucketCap))
    val textBreach = result.bandAudit.exists(_.maxBucket >= policy.textMaxBucket)
    val hasAudit = result.lshAudit.isDefined || result.bandAudit.isDefined
    if (result.error.isDefined || !hasAudit) result // untouched — see doc
    else {
      val breach = embBreach || textBreach
      val n = streak.update(k => if (breach) k + 1 else 0)
      if (!breach || n < policy.consecutive) result
      else result.copy(auditAlert =
        Some(s"AUDIT ALERT: store '${result.store}' breached its bucket " +
          s"threshold on $n consecutive ingests — " +
          (if (embBreach) "schedule EmbeddingStore.reband (or raise bucketCap) " +
            "before cap drops become sustained recall loss"
           else "schedule SignatureStore.retune with a tightened banding geometry " +
            "(more rows per band) before the candidate join's m²/2 term " +
            "dominates the daily ingest")))
    }
  }
}
