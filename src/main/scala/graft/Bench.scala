package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench main — one JSON line on STDOUT with per-query seconds. Integrity
  * rules:
  *
  *  - failures are RECORDED (query time -1.0 + an `errors` map), never
  *    swallowed as fake timings; each query runs twice and the min is
  *    published, so one GC/RPC stall can't corrupt the round's artifact —
  *    and when the first two runs disagree by more than 2x (sustained
  *    external contention, not a one-off stall) a third run is taken and
  *    the min of three published, with the query listed under `unstable`;
  *    a still-slow published min (≥1 s) additionally buys up to two
  *    CONVERGENCE RUNS while each keeps improving the min >15%
  *    ([[convergedMin]], spec-pinned; r20 — the r19 driver artifact's
  *    heavy group published pre-ramp mins off runs still falling at
  *    run 3), deadline-gated, min of all runs published;
  *  - every run is wrapped in a WATCHDOG (default 120 s — ~10x the
  *    judge-probed worst case of 11.4 s at sf0.1): on expiry the query's
  *    Spark job group is cancelled, `-1` + `timeout` land in the errors
  *    map, and the suite moves on. One hung query can no longer convert
  *    the whole artifact into an rc=124 tomb (the round-6 failure mode).
  *    The watchdog clock is STEAL-AWARE ([[watchdogTick]], spec-pinned):
  *    poll ticks whose guard signal exceeds the bar don't consume the
  *    budget (wall-capped at 3×), so a hypervisor-steal burst cannot
  *    convert a seconds-query into a phantom timeout — the BENCH_r16
  *    failure mode, where healthy d15 (3.7 s quiet) published
  *    `failed=1 timeout>120s`;
  *  - a PER-QUERY PROGRESS LINE goes to stderr after each query — name,
  *    published seconds, raw run times, cumulative wall clock, and the
  *    executed-plan scan/shuffle/spill bytes from the session's
  *    QueryExecutionListener — so a killed run still attributes exactly
  *    where time (and plan shape) went. Stdout stays a single JSON line
  *    under the driver's ~2 KB output-tail cap;
  *  - a GLOBAL soft deadline (default 1500 s) drops to single runs, and a
  *    hard deadline (default 2100 s) records the remainder as
  *    `skipped:deadline` — the artifact always parses, whatever the
  *    machine does;
  *  - machine load (/proc/loadavg) and available memory are recorded
  *    before and after; the bench waits (bounded) for two load bars
  *    before timing anything: ownership (load < 0.75·cores, 90 s cap —
  *    another JVM owning the machine makes numbers garbage) and quiet
  *    (1-min load < 1.0, further 240 s cap — round-9's load-4.31 start
  *    inflated d05 4× and flagged two stable queries unstable);
  *  - the quiet bar has MID-RUN teeth (the r15 failure: external load
  *    arrived after a clean start and inflated the whole artifact 64%
  *    with the startup bar none the wiser): EXTERNAL cpu demand (whole
  *    system minus this JVM — raw loadavg would self-trigger on the
  *    bench's own 32 threads) is sampled over every timed run, and a
  *    query whose published min was taken while it exceeded the bar
  *    gets ONE more run after a bounded re-quiet wait — the min of all
  *    runs is published, a quiet run confirming the min clears a
  *    contention-induced `unstable` flag, and the artifact counts the
  *    re-quieted queries under `requiet` so it self-adjudicates
  *    ([[requietPublish]], spec-pinned). The guard has an ERROR ARM
  *    (r16: a distorted failure is the worse distortion and got the
  *    weaker treatment): a FAILURE taken under load/steal spends the
  *    same bounded budget on one clean attempt — a clean success
  *    replaces the error, a clean failure confirms it. The guard has
  *    NO silent arm (r18: e20 published a 20× loaded min unmarked
  *    after the budget ran dry): any published result whose min was
  *    taken above the bar with no quiet run adjudicating it is named
  *    under `loaded` ([[minTakenLoaded]], spec-pinned), its per-run
  *    [seconds, guard cores] evidence rides `unstable_detail`, and a
  *    DEFERRED end-of-suite pass retries each such query once on a
  *    fresh bounded budget (bursts usually pass before the suite
  *    ends) — a clean success adjudicates it like an in-run re-quiet;
  *  - a CROSS-ROUND DRIFT TRIPWIRE compares the published mins against
  *    the previous round's artifact and names every >2.5× mover with
  *    its guard evidence in a sibling `BENCH_DRIFT.json`
  *    ([[driftMovers]], spec-pinned), plus a `drift` count on the
  *    line — r18's e-block inflation was only catchable by hand-diff;
  *  - the session timezone is pinned UTC like Runner/Verify so timing
  *    runs execute the same plans the correctness gate verified.
  */
object Bench {
  /** (1-min loadavg, MemAvailable in MiB) — linux /proc, best-effort. */
  private def machineLoad(): (Double, Long) = {
    def readFile(p: String): String =
      try {
        val src = scala.io.Source.fromFile(p)
        try src.mkString finally src.close()
      } catch { case _: Throwable => "" }
    val load = readFile("/proc/loadavg").split("\\s+").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(-1.0)
    val memMib = readFile("/proc/meminfo").linesIterator
      .find(_.startsWith("MemAvailable:"))
      .flatMap(l => scala.util.Try(l.split("\\s+")(1).toLong / 1024).toOption)
      .getOrElse(-1L)
    (load, memMib)
  }

  private def envInt(name: String, default: Int): Int =
    sys.env.get(name).flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(default)

  /** EXTERNAL cpu demand in cores over the window since the previous
    * call: whole-system usage minus this JVM's own. The mid-run load
    * guard must not key on raw loadavg — a 32-thread local bench raises
    * the 1-min loadavg past any absolute bar all by itself on a
    * perfectly quiet machine (self-load), which would burn the re-quiet
    * budget on idle waits and publish a misleading `requiet` count.
    * Subtracting our own process's usage makes the signal contention-
    * only; other JVMs (a concurrent sbt — the r4/r6 artifact killer)
    * still register. Returns -1 when the JMX bean is unavailable
    * (callers fall back to raw loadavg).
    */
  private def externalCpuLoad(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case x: com.sun.management.OperatingSystemMXBean =>
        val sys = x.getCpuLoad
        val self = x.getProcessCpuLoad
        if (sys < 0 || self < 0 || sys.isNaN || self.isNaN) -1.0
        else math.max(0.0, sys - self) * Runtime.getRuntime.availableProcessors()
      case _ => -1.0
    }

  /** Hypervisor STEAL over the window since the previous call, in
    * cores. On a shared host, co-tenant VMs steal cycles that no
    * in-guest signal (loadavg, JMX cpu) can see — wall clock inflates
    * while the machine looks perfectly quiet, which is exactly the
    * r13-d02/r14-e11/r15-whole-artifact pattern (this box's cumulative
    * steal runs ~45% of user time, concentrated in busy phases).
    * /proc/stat's 8th cpu field is the kernel's own accounting of it.
    * Returns -1 when unavailable (non-linux) or on the first call (no
    * window yet).
    */
  private[graft] object Steal {
    private var last: Option[(Long, Long)] = None // (totalTicks, stealTicks)
    private def read(): Option[(Long, Long)] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val line = try src.getLines().find(_.startsWith("cpu ")) finally src.close()
        line.flatMap { l =>
          val f = l.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
          if (f.length >= 8) Some((f.sum, f(7))) else None
        }
      } catch { case _: Throwable => None }
    def cores(): Double = synchronized {
      val cur = read()
      val out = (last, cur) match {
        case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
          (s1 - s0).toDouble / (t1 - t0) * Runtime.getRuntime.availableProcessors()
        case _ => -1.0
      }
      last = cur
      out
    }
    /** (totalTicks, stealTicks) snapshot for whole-run accounting. */
    def snapshot(): Option[(Long, Long)] = read()
  }

  /** The guard's load signal, in cores of non-bench demand: the MAX of
    * external cpu (other processes in this guest) and hypervisor steal
    * (other guests on the host) over the window since the previous
    * call — either one distorts a published timing; neither shows in
    * the other's counter. Raw 1-min loadavg only as the last fallback
    * (it self-triggers on the bench's own threads).
    */
  private[graft] def guardLoad(): Double = {
    val ext = externalCpuLoad()
    val steal = Steal.cores()
    if (ext >= 0 || steal >= 0) math.max(ext, steal)
    else machineLoad()._1
  }

  /** Cores of non-bench demand above which a timing (or a watchdog
    * expiry) is treated as contention-distorted — shared by the mid-run
    * re-quiet guard and the steal-aware watchdog so "distorted" means
    * one thing.
    */
  private[graft] val LoadBar = 1.0

  /** One steal-aware watchdog tick (pure — BenchSpec pins the
    * contract). The watchdog budget is CONTENTION-GATED: a tick whose
    * guard signal exceeded the bar does not consume it — a hypervisor
    * steal burst must not convert a seconds-query into a phantom
    * `timeout>120s` (the BENCH_r16 d15 failure: 3.7 s quiet, recorded
    * failed=1, and the re-quiet guard's timing arm could not heal a
    * published error). The pause is BOUNDED by a wall-clock hard cap
    * (the caller passes 3× the budget) so a genuinely hung query still
    * dies even on a permanently contended machine.
    *
    * Returns (budgetLeftMs, contendedMs, expire).
    */
  private[graft] def watchdogTick(budgetLeftMs: Long, contendedMs: Long,
      tickMs: Long, load: Double, loadBar: Double,
      wallMs: Long, wallCapMs: Long): (Long, Long, Boolean) = {
    val (b, c) =
      if (load > loadBar) (budgetLeftMs, contendedMs + tickMs)
      else (budgetLeftMs - tickMs, contendedMs)
    (b, c, b <= 0 || wallMs >= wallCapMs)
  }

  /** The tick-polling loop around [[watchdogTick]], shared by Bench and
    * ScaleCheck (ADVICE r17: the two harnesses carried verbatim copies,
    * so a fix to cancellation or the paused-seconds message could land
    * in one and miss the other — the failure mode the StoreGuard
    * extraction exists to prevent). Polls `task` in short ticks,
    * sampling the guard signal each tick; on expiry cancels the job
    * group, clears the cache, and records the timeout with its
    * contended-pause evidence. Returns (result, max guard cores sampled
    * across the run). `errLen` caps non-timeout error text — the two
    * harnesses publish into differently-budgeted artifacts.
    */
  private[graft] def watchdogPoll(spark: SparkSession,
      task: java.util.concurrent.FutureTask[Either[String, Double]],
      group: String, watchdogSec: Int, errLen: Int)
      : (Either[String, Double], Double) = {
    val tickMs = 2000L
    var budgetLeftMs = watchdogSec * 1000L
    var contendedMs = 0L
    val wallCapMs = watchdogSec * 3000L
    val t0 = System.nanoTime()
    var maxLoad = 0.0
    var result: Option[Either[String, Double]] = None
    while (result.isEmpty) {
      try result = Some(task.get(tickMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      catch {
        case _: java.util.concurrent.TimeoutException =>
          val l = guardLoad()
          if (l >= 0) maxLoad = math.max(maxLoad, l)
          val wallMs = (System.nanoTime() - t0) / 1000000L
          val (b, c, expire) = watchdogTick(budgetLeftMs, contendedMs, tickMs,
            l, LoadBar, wallMs, wallCapMs)
          budgetLeftMs = b; contendedMs = c
          if (expire) {
            spark.sparkContext.cancelJobGroup(group)
            spark.catalog.clearCache()
            val paused = if (contendedMs > 0) s"; watchdog paused ${contendedMs / 1000}s under load/steal" else ""
            result = Some(Left(s"timeout>${watchdogSec}s$paused"))
          }
        case e: Throwable =>
          result = Some(Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(errLen)}"))
      }
    }
    (result.get, maxLoad)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val watchdogSec = envInt("SPARK_GRAFT_WATCHDOG_SEC", 120)
    val softDeadlineSec = envInt("SPARK_GRAFT_SOFT_DEADLINE_SEC", 1500)
    val hardDeadlineSec = envInt("SPARK_GRAFT_HARD_DEADLINE_SEC", 2100)

    // If another JVM owns the machine right now (concurrent sbt — the
    // round-4/round-6 artifact killer), timing anything is garbage-in.
    // Two bars, both bounded so the bench always eventually runs:
    //  1. ownership (load > 0.75·cores): wait up to 90 s — a competing
    //     build makes every number garbage;
    //  2. quiet (1-min load > 1.0): wait up to a further 240 s — the r9
    //     artifact was cut at load 4.31, which passed bar 1 but inflated
    //     d05 3.7 s → 15.6 s and flagged q01/q16 unstable on pure
    //     background contention. The artifact records how long we waited
    //     and the load actually seen at start, so a bench that timed out
    //     of the wait is self-describing rather than silently pessimistic.
    val nCpu = Runtime.getRuntime.availableProcessors()
    val waitStart = System.nanoTime()
    var waitedSec = 0.0
    while (machineLoad()._1 > nCpu * 0.75 && waitedSec < 90.0) {
      System.err.println(f"[bench] machine contended (load=${machineLoad()._1}%.1f, cpus=$nCpu) — waiting")
      Thread.sleep(5000)
      waitedSec = (System.nanoTime() - waitStart) / 1e9
    }
    val quietDeadline = waitedSec + 240.0 // a further 240 s past bar 1
    while (machineLoad()._1 > 1.0 && waitedSec < quietDeadline) {
      System.err.println(f"[bench] machine not quiet (load=${machineLoad()._1}%.1f > 1.0) — waiting for quiet bar")
      Thread.sleep(10000)
      waitedSec = (System.nanoTime() - waitStart) / 1e9
    }

    val spark = Session.start(Session.Bench)
    // warm the session (codegen compiler, shuffle service, FS client) so
    // the first timed query doesn't pay JVM/session init. The second
    // warmup is a 256-row untimed miniature of the suite's first query
    // (window + custom fingerprint expression over a parquet scan into
    // the noop sink): without it d01 absorbed that JIT and was
    // repeatedly flagged `unstable` (3.6 s first run vs 0.4 s steady)
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.dedup.Dedup.exact(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(256))
      .write.mode("overwrite").format("noop").save()
    // Third warmup: a 256-doc miniature through the LSH pair pipeline
    // (shingle explode → md5 base hash → 16-way min aggregate → band
    // join → Jaccard re-verify) — the codegen/JIT shared by the whole
    // dedup family (d02–d04, d07/d08). Without it the early d-queries
    // absorb the C2 compiles of those hot loops mid-timing: r9 probe
    // showed d03 runs of [5.1/15.3/3.4] s with the warm steady state
    // at ~3 s, tripping the instability detector on compile noise.
    graft.dedup.Dedup.minhashLshPairs(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(256))
      .write.mode("overwrite").format("noop").save()
    // Fourth warmup: a 64-vector miniature through the embedding-LSH
    // pair pipeline (the lsh_band_hashes signature kernel → band bucket
    // join → dot_fast/dot_exact cosine re-verify, all codegen'd as of
    // r13 — SURVEY note 26) so its generated classes JIT before any
    // timed run. r10 quiet-machine probe of the old HOF path: 8.2 s
    // cold vs 2.7–3.7 s steady.
    graft.similarity.Similarity.lshCosinePairs(
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64),
      "vec_id", "embedding", threshold = 0.9)
      .write.mode("overwrite").format("noop").save()
    // Fifth warmup: a 1024-row miniature through the offers/inventory
    // pipeline family (broadcast part join → two-level decimal partial
    // agg with e12's single-pass exact-distinct shape → mapping compile
    // → serialized wire). BENCH_r17's one `unstable` residue was e13
    // absorbing this codegen family on its cold first run (6.3 s cold /
    // 2.35 s steady at sf0.1) — none of the four earlier warmups
    // compile it, so the flag recurred every round the suite ordering
    // put e13 before e12.
    PipelineQueries.warmupMiniature(spark, sfDir)
    // Sixth warmup (r20, VERDICT r19 item 7): the SimHash banding
    // kernel (d04) and the SQ8 quantized-scan kernel (s04) — the two
    // remaining first-run C2 ramps the r19 driver artifact flagged
    // (d04 runs [12.82, 5.38, 4.14] drifted 2.8x; s04 [20.68, 4.44,
    // 2.25] flagged unstable) that none of the earlier warmups
    // compiles. 256-doc / 64-vector miniatures, untimed, noop sink,
    // cache cleared after like every other warmup.
    graft.dedup.Dedup.simhashPairs(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(256))
      .write.mode("overwrite").format("noop").save()
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
      graft.similarity.Similarity.sq8TopK(
        queries = emb.filter("vec_id < 2"), corpus = emb,
        idCol = "vec_id", vecCol = "embedding", k = 2)
        .write.mode("overwrite").format("noop").save()
    }
    spark.catalog.clearCache()

    // Plan-metric accumulator: executed-plan SQLMetrics summed across
    // every action since the last reset. Listener delivery is async
    // (listener bus), so reads after a query are best-effort — advisory
    // stderr only, never part of the stdout artifact.
    val metricSums = new java.util.concurrent.atomic.AtomicReference(Map.empty[String, Long])
    val actionCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.listenerManager.register(new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = {
        val m = ops.Ops.planMetrics(qe)
        metricSums.updateAndGet(cur => (cur.keySet ++ m.keySet).iterator
          .map(k => k -> (cur.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap)
        actionCount.incrementAndGet(); ()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
    })
    // Spark jobs started per job group (`once` runs each query in its
    // own), for the progress line's per-run job count. Listener events
    // arrive asynchronously, so `jobsOf` first runs a one-task marker
    // job and waits for its start event: the bus delivers it after the
    // start events of every job submitted before it.
    val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsByGroup.merge(g, 1, (a, b) => a + b))
    })
    def jobsOf(group: String): Int = {
      val marker = s"drain-$group"
      spark.sparkContext.setJobGroup(marker, "listener drain")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!jobsByGroup.containsKey(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      jobsByGroup.remove(marker)
      jobsByGroup.getOrDefault(group, 0)
    }

    // noop sink: full evaluation of every output column (count() would
    // let Catalyst prune unreferenced aggregates and understate work).
    // Each run executes on its own daemon thread inside a named job
    // group with interrupt-on-cancel; the main thread polls it in short
    // ticks, sampling the guard signal each tick — the STEAL-AWARE
    // WATCHDOG ([[watchdogTick]], spec-pinned): contended ticks don't
    // consume the budget (wall-capped at 3×), and the max load sampled
    // over the run rides back to the caller so the re-quiet guard sees
    // contention at tick granularity instead of one whole-run window.
    // Returns (result, max guard cores sampled across the run).
    def once(name: String, body: () => Unit): (Either[String, Double], Double) = {
      val group = s"bench-$name"
      val task = new java.util.concurrent.FutureTask[Either[String, Double]](() => {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          body()
          Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        } finally {
          spark.sparkContext.clearJobGroup()
          // queries that persist() intermediates (e11/q05 TY aggregate)
          // must not hand a warm cache to their own second run or to
          // later queries — every published timing is a cold-cache run
          spark.catalog.clearCache()
        }
      })
      val th = new Thread(task, s"bench-run-$name")
      th.setDaemon(true)
      th.start()
      watchdogPoll(spark, task, group, watchdogSec, errLen = 200)
    }

    val (loadBefore, memBefore) = machineLoad()
    val stealStart = Steal.snapshot()
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val unstable = scala.collection.mutable.ArrayBuffer[String]()
    // per-query (seconds, guard cores) for every successful timed run —
    // the artifact-side evidence (`unstable_detail`) that lets a reader
    // adjudicate a residual flag from the JSON line alone instead of
    // the stderr progress lines (r17 verdict #6). Since r19 each run
    // carries ITS OWN guard sample next to the time (r18 verdict #1:
    // e16's raw runs [3.15, 7.07, 13.01, 21.49] read as a live
    // regression by the documented monotone-growth heuristic when they
    // were a ramping co-tenant burst — only per-run load columns can
    // tell the two apart from the JSON line alone).
    val rawByName = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[(Double, Double)]]()
    val loadSeenByName = scala.collection.mutable.LinkedHashMap[String, Double]()
    // queries whose published result was taken above the load bar with
    // NO clean run adjudicating it ([[minTakenLoaded]]) — the r18 hole:
    // once the re-quiet budget was spent, a query whose runs were
    // CONSISTENTLY loaded (no >2x spread, so no `unstable` flag either)
    // published a loaded min silently — e20 landed at 6.1 s (20x its
    // steady sub-0.3 s) with no mark at all, indistinguishable from a
    // real regression without a judge's probe. Such queries now ride
    // the artifact under `loaded` (with their per-run evidence in
    // `unstable_detail`) unless the deferred end-of-suite pass below
    // manages to adjudicate them after all.
    val loaded = scala.collection.mutable.ArrayBuffer[String]()
    // mid-run load guard accounting: total re-quiet wait is bounded so a
    // permanently contended machine can't stall the artifact past its
    // deadlines — once the budget is spent, loaded timings stand,
    // flagged under `loaded` with their evidence; `requiet` counts
    // queries that DID get their clean confirmation run
    val loadBar = LoadBar
    val requietBudgetSec = envInt("SPARK_GRAFT_REQUIET_SEC", 300).toDouble
    var requietUsedSec = 0.0
    var requietCount = 0
    val queryFns = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = scala.collection.mutable.LinkedHashMap[String, Either[String, Double]]()
    queryFns.foreach { case (name, fn) =>
      // untimed warm-up of persistent state (signature stores, ANN
      // indexes) so every timed run exercises the steady-state
      // incremental path — and runs agree, instead of run 1 absorbing a
      // one-time build and tripping the instability detector. Guarded by
      // the same watchdog as a timed run (a hung build must not tomb the
      // artifact) and skipped entirely past the hard deadline (the query
      // will be recorded skipped — minutes of state building for it
      // would delay the artifact the deadline exists to protect); a
      // failure here is only logged — the timed run repeats the attempt
      // and records the real error.
      if (elapsedSec <= hardDeadlineSec) {
        Queries.byName.get(name).flatMap(_.prepare).foreach { p =>
          once(s"$name-prepare", () => p(spark, sfDir))._1 match {
            case Right(t) => System.err.println(f"[bench] $name%-28s prepare ${t}%.2fs (untimed)")
            case Left(err) => System.err.println(s"[bench] $name prepare failed: $err")
          }
        }
      }
      // reset AFTER the prepare so the one-time build's scan/shuffle
      // bytes aren't attributed to the timed runs' diagnostic line
      metricSums.set(Map.empty)
      val raw = rawByName.getOrElseUpdate(name,
        scala.collection.mutable.ArrayBuffer[(Double, Double)]())
      // max EXTERNAL load sampled over this query's timed runs — the
      // mid-run teeth: the startup quiet bar can't see load that
      // arrives later, but this sample can. Sampled AFTER each run so
      // the JMX usage window covers exactly the run's execution.
      var loadSeen = 0.0
      var timedRuns = 0
      def timed(): Either[String, Double] = {
        timedRuns += 1
        guardLoad() // reset the usage window to the run about to start
        val (r, tickMax) = once(name,
          () => fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        // tick-granular max from the watchdog loop, plus the tail window
        // since its last sample — a short burst inside a long run no
        // longer averages away below the bar. The PER-RUN max rides
        // next to the run's own time so the evidence distinguishes a
        // contention ramp from a live regression (r18 verdict #1).
        val runLoad = math.max(tickMax, guardLoad())
        loadSeen = math.max(loadSeen, runLoad)
        r.foreach(t => raw += ((t, runLoad)))
        r
      }
      val r0 =
        if (elapsedSec > hardDeadlineSec) Left("skipped:deadline")
        else if (elapsedSec > softDeadlineSec) timed() // degraded: single run
        else timed() match {
          case Right(t1) => timed() match {
            case Right(t2) =>
              val (res, flag) = spreadPublish(t1, t2, () => timed())
              if (flag) unstable += name
              res
            case Left(err) => Left(err) // flaky second run is still a failure
          }
          case Left(err) => Left(err)
        }
      // CONVERGENCE RUNS (r20; VERDICT r19 item 1's "more timed runs so
      // the published min is post-ramp"): a JIT/GC ramp that outlives
      // the standard two runs publishes a pre-steady-state min — the
      // r19 driver artifact's heavy group showed exactly that shape
      // (d04 runs [12.82, 5.38, 4.14] still falling at run 3, s04
      // [20.68, 4.44, 2.25]). A slow published min (≥1 s) buys up to
      // two more runs, continuing only while each run still improves
      // the min by >15% — on a steady machine that is ONE extra run
      // (~15 s suite-wide); in a ramping regime it chases the ramp to
      // its floor. Methodology is unchanged otherwise: same timed()
      // discipline, min of ALL runs published, every run's (seconds,
      // guard) evidence recorded; deadline-gated like the re-quiet arm.
      val rConv = r0 match {
        case Right(t) if t >= 1.0 && elapsedSec <= softDeadlineSec =>
          Right(convergedMin(t, () =>
            if (elapsedSec > softDeadlineSec) Left("deadline") else timed()))
        case other => other
      }
      // mid-run load guard: a published min taken under external load
      // is a lie waiting for a future round to read as a regression —
      // wait (bounded) for the machine to re-quiet and take one clean
      // confirmation run; decision logic is the spec-pinned
      // requietPublish. Skipped past the soft deadline or once the
      // re-quiet budget is spent (the artifact must still land).
      val (r, requieted, clearUnstable) = requietPublish(rConv, loadSeen, loadBar,
        wasUnstable = unstable.contains(name),
        quietRun = () =>
          if (elapsedSec > softDeadlineSec || requietUsedSec >= requietBudgetSec) None
          else {
            val w0 = System.nanoTime()
            def waited: Double = (System.nanoTime() - w0) / 1e9
            // each 5 s sleep is also the next sample's usage window, so
            // the external reading here is contention-only (this JVM is
            // near-idle while sleeping)
            var now = guardLoad()
            while (now > loadBar && waited < 120.0 &&
                requietUsedSec + waited < requietBudgetSec) {
              Thread.sleep(5000); now = guardLoad()
            }
            requietUsedSec += waited
            // the budget is re-checked here (ADVICE r18): the wait loop
            // can exit on budget exhaustion while the LAST load sample
            // happens to sit under the bar, and the clean attempt would
            // otherwise still launch — one overshoot of up to 3×
            // watchdog wall past the budget the envelope promises
            if (now <= loadBar && requietUsedSec < requietBudgetSec) {
              System.err.println(f"[bench] $name%-28s re-quiet run (published min " +
                f"was taken under external load=${loadSeen}%.1f)")
              // the clean attempt's own wall (run time + any watchdog
              // pauses) charges the SAME budget as the wait (ADVICE
              // r17): the error arm's re-run of a genuinely hung query
              // can cost up to 3× watchdog wall, and uncharged it would
              // let repeated heals blow the soft-deadline envelope
              val healT0 = System.nanoTime()
              try Some(timed())
              finally requietUsedSec += (System.nanoTime() - healT0) / 1e9
            } else None
          })
      if (requieted) requietCount += 1
      if (clearUnstable) unstable -= name
      // the silent-loaded-min mark (r18 verdict #1): a published result
      // taken above the bar that NO quiet run adjudicated joins
      // `loaded` — deferred pass below gets one more chance to clear it
      if (minTakenLoaded(r, raw.toSeq, loadSeen, loadBar, requieted)) loaded += name
      loadSeenByName(name) = loadSeen
      results(name) = r
      // listener-bus drain grace before reading the advisory metrics
      Thread.sleep(150)
      val jobsPerRun = jobsOf(s"bench-$name").toDouble / math.max(1, timedRuns)
      val m = metricSums.get()
      def mib(k: String): Long = m.getOrElse(k, 0L) / (1024 * 1024)
      val shown = r.fold(identity[String], t => f"$t%.3fs")
      val raws = raw.map { case (t, l) => f"$t%.2f@$l%.1f" }.mkString("/")
      System.err.println(
        f"[bench] $name%-28s $shown%-10s runs=[$raws] elapsed=${elapsedSec}%.0fs " +
        f"scan=${mib("filesSize")}MiB shuffle=${mib("shuffleBytesWritten")}MiB " +
        f"spill=${mib("spillSize")}MiB actions=${actionCount.get()} jobs=$jobsPerRun%.1f " +
        f"ext=$loadSeen%.1f") // max external+steal cores seen — post-mortem aid
    }

    // DEFERRED END-OF-SUITE RE-QUIET PASS (r18 verdict #1): a co-tenant
    // burst that outlived the in-run budget has often passed by the time
    // the suite's other ~90 queries finish, so queries still carrying an
    // unadjudicated loaded min get one more clean attempt on a fresh
    // (bounded) budget. A clean success adjudicates exactly like an
    // in-run re-quiet (min of all runs, counted under `requiet`, the
    // `loaded`/`unstable` marks clear when the quiet run confirms
    // within 2×); a still-loaded machine or a failed attempt leaves the
    // mark standing with the new run appended to its evidence.
    val deferredBudgetSec = envInt("SPARK_GRAFT_DEFERRED_REQUIET_SEC", 240).toDouble
    var deferredUsedSec = 0.0
    for (name <- loaded.toList
         if deferredUsedSec < deferredBudgetSec && elapsedSec <= hardDeadlineSec) {
      val w0 = System.nanoTime()
      def waited: Double = (System.nanoTime() - w0) / 1e9
      var now = guardLoad()
      while (now > loadBar && waited < 90.0 &&
          deferredUsedSec + waited < deferredBudgetSec) {
        Thread.sleep(5000); now = guardLoad()
      }
      deferredUsedSec += waited
      if (now <= loadBar && deferredUsedSec < deferredBudgetSec) {
        val fn = SparkEntry.queries(name)
        guardLoad()
        val healT0 = System.nanoTime()
        val (res, tickMax) = once(name,
          () => fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        deferredUsedSec += (System.nanoTime() - healT0) / 1e9
        val runLoad = math.max(tickMax, guardLoad())
        res match {
          case Right(t) =>
            rawByName(name) += ((t, runLoad))
            if (runLoad <= loadBar) {
              requietCount += 1
              val best = results(name).fold(_ => t, p => math.min(p, t))
              results(name) = Right(best)
              if (t <= 2.0 * best) {
                loaded -= name
                unstable -= name // the quiet run adjudicated the spread too
              }
              System.err.println(f"[bench] $name%-28s deferred re-quiet $t%.2fs " +
                f"(published $best%.3fs${if (loaded.contains(name)) ", still flagged" else ""})")
            } else System.err.println(
              f"[bench] $name%-28s deferred re-quiet ran loaded again (ext=$runLoad%.1f) — mark stands")
          case Left(err) =>
            System.err.println(s"[bench] $name deferred re-quiet failed: $err — prior result stands")
        }
      }
    }
    val runs = results.toSeq
    // evidence map for every still-marked query (unstable OR loaded):
    // per-run [seconds, guard cores] pairs
    val unstableRaw = (unstable ++ loaded).distinct.flatMap(n =>
      rawByName.get(n).filter(_.nonEmpty).map(n -> _.toSeq)).toMap
    val (loadAfter, memAfter) = machineLoad()
    // whole-run hypervisor-steal average (cores): the artifact's own
    // record of host-side contention no in-guest load column can show
    val stealCores = (stealStart, Steal.snapshot()) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0) * Runtime.getRuntime.availableProcessors()
      case _ => 0.0
    }
    // CROSS-ROUND DRIFT TRIPWIRE (r18 verdict #4): compare this run's
    // published mins against the previous round's artifact and name
    // every >2.5× mover WITH its guard evidence — r18's e-block
    // inflation (e20 6.1 s vs a sub-0.3 s steady state) was only
    // catchable by a hand diff against BENCH_r17. The detail lands in a
    // sibling file (the artifact line's budget is for the run itself);
    // the line carries the mover COUNT so a drifted artifact self-flags.
    val prevArtifact = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse {
      val dir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/root/repo"))
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
        .lastOption.map(_.getPath)
    }
    val movers = prevArtifact.toSeq.flatMap { p =>
      val prevRaw = try {
        val src = scala.io.Source.fromFile(p)
        try src.mkString finally src.close()
      } catch { case _: Throwable => "" }
      // unescape the driver's wrapper form for the sf sniff below — the
      // same shared helper parseQueryTimes uses (ADVICE r19: the two
      // call sites carried duplicate two-line unescapes)
      val prevLine = unescapeWrapper(prevRaw)
      val prev = parseQueryTimes(prevLine)
      // same-SF comparisons only: a sf0.01 smoke run vs the sf0.1
      // artifact of record would flag every scale-sensitive query
      val prevSf = "\"sf\":([0-9.]+)".r.findFirstMatchIn(prevLine).map(_.group(1))
      val curSf = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir).map(_.group(1).stripSuffix("."))
      if (prev.isEmpty || prevSf.isEmpty || prevSf != curSf) Nil
      else driftMovers(prev, runs.collect { case (n, Right(t)) => n -> t })
    }
    if (movers.nonEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_DRIFT_OUT", "/root/repo/BENCH_DRIFT.json")
      val drift = renderDrift(prevArtifact.getOrElse("?"), movers,
        rawByName.map { case (k, v) => k -> v.toSeq }.toMap,
        loaded.toSeq, unstable.toSeq)
      try {
        val w = new java.io.PrintWriter(out); try w.println(drift) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] drift file write failed: $e")
      }
      movers.foreach { case (n, prevT, curT) =>
        System.err.println(f"[bench] DRIFT $n%-28s $prevT%.2fs -> $curT%.2fs " +
          f"(${curT / prevT}%.1fx; loaded=${loaded.contains(n)} unstable=${unstable.contains(n)})")
      }
    }
    // drain stderr BEFORE emitting the artifact so the progress lines
    // can't interleave after the JSON in a merged output capture and
    // push its head out of a bounded tail
    System.err.flush()
    Thread.sleep(100)
    println(renderLine(runs, unstable.toSeq,
      (loadBefore, loadAfter, memBefore, memAfter), waitedSec, sfDir,
      requietCount, stealCores, unstableRaw, loaded.toSeq, movers.size))
    System.out.flush()
    spark.stop()
  }

  /** The silent-loaded-min decision (pure — BenchSpec pins the
    * contract; r18 verdict #1). A published result must carry a mark
    * when it was taken under contention and nothing clean adjudicated
    * it: BENCH_r18 published e20_default_fill at 6.1 s (20× its steady
    * sub-0.3 s), e21 at 2.9 s, e17 at 2.1 s with NO flag and no
    * `requiet` mark — their runs were CONSISTENTLY loaded (no >2×
    * spread → no `unstable`) and the re-quiet budget was spent (no
    * clean run → no `requiet`), so the reader had no way to tell a 20×
    * regression from a co-tenant burst without independent probes.
    *
    * A TIMING is adjudicated when any quiet run (guard ≤ bar) landed
    * within 2× of the published min — the quiet run either IS the min
    * or bounds it (the same 2× criterion `requietPublish` uses to clear
    * an unstable flag). A FAILURE is adjudicated when it happened on a
    * quiet machine (genuine breakage) or a clean attempt confirmed it
    * (`requieted`). Everything else is marked `loaded`.
    *
    * `raw` is the query's per-run (seconds, guard cores) evidence —
    * successful runs only, which is all a published Right can be made
    * of.
    */
  private[graft] def minTakenLoaded(published: Either[String, Double],
      raw: Seq[(Double, Double)], loadSeen: Double, loadBar: Double,
      requieted: Boolean): Boolean = published match {
    case Right(t) => !raw.exists { case (rt, rl) => rl <= loadBar && rt <= 2.0 * t }
    case Left(_) => loadSeen > loadBar && !requieted
  }

  /** Unescape the driver's BENCH_rNN.json wrapper form — the artifact
    * line embedded as an ESCAPED JSON string inside a `"tail"` field
    * (`\"queries\":{...}`). The r19 baseline run silently skipped drift
    * detection against BENCH_r18 because the raw marker never matched
    * the escaped form. Identity on a genuine artifact line. `\\` is
    * handled BEFORE `\"` via a placeholder (ADVICE r19) so an escaped
    * backslash in a query name or tail can't mis-parse; shared by
    * [[parseQueryTimes]] and the movers sniff.
    */
  private[graft] def unescapeWrapper(raw: String): String =
    if (raw.contains("\"queries\":{")) raw
    else raw.replace("\\\\", "\u0000").replace("\\\"", "\"").replace('\u0000', '\\')

  /** Parse the per-query timings out of a prior round's artifact line
    * (pure — BenchSpec pins it against [[renderLine]]'s own output).
    * Only the `"queries":{...}` object is read: name→seconds pairs,
    * `-1` failure placeholders dropped. Queries that rolled into
    * `fast_n`/`fast_sec` in that round are simply absent — the caller
    * treats absence as "was fast last round" ([[driftMovers]]).
    * Returns empty on anything unparseable (a missing or truncated
    * prior artifact must never break the current round's artifact).
    */
  private[graft] def parseQueryTimes(raw: String): Map[String, Double] = {
    val line = unescapeWrapper(raw)
    val start = line.indexOf("\"queries\":{")
    if (start < 0) Map.empty
    else {
      val body = line.substring(start + "\"queries\":{".length)
      val end = body.indexOf('}') // flat object: values are bare numbers
      if (end < 0) Map.empty
      else "\"([^\"]+)\":(-?[0-9][0-9.]*)".r.findAllMatchIn(body.substring(0, end))
        .flatMap(m => m.group(2).toDoubleOption.filter(_ >= 0).map(m.group(1) -> _))
        .toMap
    }
  }

  /** The >factor× movers vs the prior artifact (pure — BenchSpec pins
    * the contract; r18 verdict #4). A query absent from the prior
    * line's spelled timings was in its fast rollup (or new), so its
    * prior time is bounded by the rollup threshold — `fastFloor` (the
    * healthy ladder rung's 0.3 s) stands in, which is exactly how the
    * r18 e20 case (sub-0.3 s steady → 6.1 s loaded publish) becomes
    * visible. Sub-`minCur` current timings never flag: a 0.2 s → 0.8 s
    * move is scheduler noise at local[32], not drift worth a mark.
    * Only slower movers flag — a big improvement is the prior round's
    * contamination healing, not this round's problem.
    */
  private[graft] def driftMovers(prev: Map[String, Double],
      cur: Seq[(String, Double)], factor: Double = 2.5,
      fastFloor: Double = 0.3, minCur: Double = 1.0): Seq[(String, Double, Double)] =
    cur.collect {
      case (n, t) if t >= minCur && t > factor * prev.getOrElse(n, fastFloor) =>
        (n, prev.getOrElse(n, fastFloor), t)
    }

  /** The sibling drift file: one JSON object naming each mover with its
    * prior/current seconds and the guard evidence a reader needs to
    * adjudicate it in place — per-run [seconds, guard cores] pairs and
    * whether the query is still marked `loaded`/`unstable`. Pure —
    * BenchSpec parses it back.
    */
  private[graft] def renderDrift(prevArtifact: String,
      movers: Seq[(String, Double, Double)],
      raw: Map[String, Seq[(Double, Double)]],
      loaded: Seq[String], unstable: Seq[String]): String = {
    val prevName = prevArtifact.split('/').last
    val rows = movers.map { case (n, p, c) =>
      val runs = raw.getOrElse(n, Nil)
        .map { case (t, l) => f"[$t%.2f,$l%.1f]" }.mkString("[", ",", "]")
      f""""$n":{"prev":$p%.3f,"cur":$c%.3f,"ratio":${c / p}%.1f,""" +
        s""""runs":$runs,"loaded":${loaded.contains(n)},""" +
        s""""unstable":${unstable.contains(n)}}"""
    }
    s"""{"prev":"$prevName","factor":2.5,"movers":{${rows.mkString(",")}}}"""
  }

  /** Convergence-runs decision (pure — BenchSpec pins the contract;
    * r20, VERDICT r19 item 1): given a slow published min, take up to
    * `maxExtra` additional runs, continuing only while each run still
    * improves the running min by more than the `improve` factor — the
    * signature of a JIT/GC ramp that outlived the standard two runs
    * (the r19 driver artifact's d04 published 4.1 s off runs
    * [12.82, 5.38, 4.14] — still falling when the run budget ended).
    * On a steady machine the first extra run lands within the band and
    * the loop stops at one. The min over ALL runs is returned; a failed
    * extra run (including a deadline sentinel from the caller) stops
    * the loop and can never degrade the already-published success.
    */
  private[graft] def convergedMin(first: Double,
      more: () => Either[String, Double],
      maxExtra: Int = 2, improve: Double = 0.85): Double = {
    var best = first
    var extra = 0
    var go = true
    while (go && extra < maxExtra) {
      extra += 1
      more() match {
        case Right(t) =>
          go = t < best * improve
          best = math.min(best, t)
        case Left(_) => go = false
      }
    }
    best
  }

  /** Back-to-back spread adjudication (pure — BenchSpec pins the
    * contract): >2× spread between two runs of the same plan (above a
    * 1 s floor — sub-second timings wobble on scheduler noise alone)
    * means SOMETHING distorted one of them, and a third run decides.
    * The verdict keys on agreement, not just the min: two of the three
    * runs landing within 25% of the min is a REPRODUCED steady-state
    * timing — the lone outlier absorbed a one-time cost (first-run
    * codegen/JIT, a cold page cache, a transient steal burst) and the
    * published min is trustworthy, so no `unstable` flag (the flag's
    * meaning is "distrust this number", and a confirmed min is not
    * that). The flag stands when the third run lands away from the
    * min — the spread is live and unexplained. A failed third run
    * publishes the failure and keeps the flag.
    */
  private[graft] def spreadPublish(t1: Double, t2: Double,
      third: () => Either[String, Double])
      : (Either[String, Double], Boolean) =
    if (math.max(t1, t2) > 2.0 * math.min(t1, t2) && math.max(t1, t2) > 1.0) {
      third() match {
        case Right(t3) =>
          val m = Seq(t1, t2, t3).min
          val confirms = Seq(t1, t2, t3).count(_ <= 1.25 * m) >= 2
          (Right(m), !confirms)
        case Left(err) => (Left(err), true)
      }
    } else (Right(math.min(t1, t2)), false)

  /** Mid-run load-guard decision (pure — BenchSpec pins the contract):
    * given a query's published result and the max 1-min load sampled
    * around its timed runs, decide what to publish. `quietRun` is the
    * bounded wait-for-quiet + one clean run (None when the machine
    * never re-quieted or the budget/deadline is spent — the caller's
    * policy, not this function's).
    *
    * Returns (result, requieted, clearUnstable):
    *  - load never exceeded the bar → unchanged, nothing counted (a
    *    quiet-machine result — success OR failure — is already honest);
    *  - loaded TIMING, clean run succeeded → min of all runs published,
    *    counted under `requiet`; when the query had been flagged
    *    `unstable` and the QUIET run lands within 2× of the published
    *    min, the flag is cleared — the spread is adjudicated as
    *    external contention, not plan instability (the
    *    r13-d02/r14-e11/r15-whole-artifact pattern);
    *  - loaded TIMING, clean run failed → the loaded timing stands (a
    *    timing under load beats an error), still counted;
    *  - loaded FAILURE (the r16 gap: a steal burst pushing a seconds-
    *    query over the watchdog published a phantom `failed=1` with no
    *    retry — the WORSE distortion got the weaker treatment), clean
    *    run succeeded → the clean timing REPLACES the error, counted,
    *    and any contention flag clears (the clean run is the only
    *    trustworthy evidence, and it says the query is healthy);
    *  - loaded FAILURE, clean run failed too → the failure is CONFIRMED
    *    on quiet hardware and publishes (counted — the budget was
    *    honestly spent on the attempt);
    *  - no clean run possible → the loaded result stands uncounted,
    *    with its raw runs, load sample, and any unstable flag as
    *    evidence.
    */
  private[graft] def requietPublish(
      published: Either[String, Double],
      loadSeen: Double, loadBar: Double,
      wasUnstable: Boolean,
      quietRun: () => Option[Either[String, Double]])
      : (Either[String, Double], Boolean, Boolean) =
    published match {
      case Right(t) if loadSeen > loadBar =>
        quietRun() match {
          case Some(Right(t2)) =>
            val best = math.min(t, t2)
            (Right(best), true, wasUnstable && t2 <= 2.0 * best)
          case Some(Left(_)) => (Right(t), true, false)
          case None => (published, false, false)
        }
      case Left(_) if loadSeen > loadBar =>
        quietRun() match {
          case Some(Right(t2)) => (Right(t2), true, wasUnstable)
          case Some(Left(_)) => (published, true, false)
          case None => (published, false, false)
        }
      case _ => (published, false, false)
    }

  /** The single-line JSON artifact. Pure so `BenchSpec` can pin the
    * contract: the whole line must fit in the driver's bounded
    * output-tail capture or the LEADING keys — including the headline
    * metric — get truncated away. The budget is measured, not guessed:
    * the driver stores the last 2000 chars, which must hold the
    * "[info] " prefix (7), the line, AND sbt's trailing
    * "[success] Total time: …" (~75 chars; BENCH_r08's line ran 1923 and
    * survived with 3 chars to spare) — so the clamp targets ≤ 1915.
    * Hence: precision shedding (sub-ms is noise at these run times),
    * load as a compact [loadavg_before, loadavg_after,
    * mem_avail_mib_before, mem_avail_mib_after] array, error text
    * capped, at most 8 spelled-out error entries (the rest a count
    * under `_more`), and — the registry outgrew full per-query maps at
    * ~75 queries — a FAST-QUERY ROLLUP: sub-`minSpell` timings collapse
    * into `fast_n`/`fast_sec` while every slow query (the ones a plan
    * audit reads) keeps its spelled timing.
    *
    * When the line would still blow the cap (catastrophic run: dozens of
    * failures), diagnostics shed in a fixed order that SACRIFICES
    * SIDE-CHANNEL ARRAYS BEFORE ERROR DETAIL — timing precision and the
    * load memory columns go first (keeping unstable NAMES through the
    * healthy-oversized case), then the unstable list collapses to a
    * count, then error text shortens, and only last does the spelled-out
    * error count fall, with a hard floor of 4 entries: a 63-failure
    * artifact must still name at least four failures with their reason
    * (the round-7 `"errors":{"_more":14}` artifact carried no diagnosis
    * at all).
    */
  private[graft] def renderLine(
      runs: Seq[(String, Either[String, Double])],
      unstable: Seq[String],
      load: (Double, Double, Long, Long),
      waitedSec: Double,
      sfDir: String,
      requietCount: Int = 0,
      stealCores: Double = 0.0,
      /** Per-run (seconds, guard cores) of still-marked queries:
        * rendered as `"unstable_detail":{"name":[[t1,g1],[t2,g2],...]}`
        * next to the flag lists so the artifact self-adjudicates (a
        * [[3.2,0.2],[7.1,1.4],[13.0,2.1]] ramp reads as a rising
        * co-tenant burst, a [[2.1,0.1],[6.8,0.2],[7.0,0.1]] one as a
        * live regression) without the stderr progress lines. Shed early
        * in the clamp ladder — raw-run evidence goes before flag NAMES
        * and long before error reasons.
        */
      unstableRaw: Map[String, Seq[(Double, Double)]] = Map.empty,
      /** Queries whose published result was taken above the load bar
        * with no clean run adjudicating it ([[minTakenLoaded]]) — the
        * r18 silent-publish hole. Named in the artifact like `unstable`
        * (collapsing to `loaded_n` in the same ladder rung).
        */
      loaded: Seq[String] = Nil,
      /** Count of >2.5× movers vs the prior round's artifact
        * ([[driftMovers]]) — detail lands in the sibling drift file.
        */
      driftCount: Int = 0): String = {
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }
    def sec(t: Double): String = f"$t%.3f"
    val allErrs = runs.collect { case (k, Left(err)) => k -> err }
    def render(errCap: Int, errLen: Int, slimLoad: Boolean, slimUnstable: Boolean,
        dropFailedTimings: Boolean, prec: Int, minSpell: Double,
        detail: Boolean): String = {
      // sub-minSpell successes roll up into fast_n/fast_sec: at 76+
      // queries the per-query map alone outgrows the tail, and the
      // sub-half-second timings are machine noise the plan audit never
      // reads — the slow queries keep their spelled timings
      val fast = runs.collect { case (_, Right(t)) if t < minSpell => t }
      val qs = runs.collect {
        case (k, Right(t)) if t >= minSpell =>
          s"\"${esc(k)}\":" + String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(t))
        case (k, Left(_)) if !dropFailedTimings => s"\"${esc(k)}\":-1"
      }.mkString("{", ",", "}")
      val fastJson =
        if (fast.isEmpty) ""
        else f""","fast_n":${fast.size},"fast_sec":${fast.sum}%.1f"""
      val errs = (allErrs.take(errCap).map { case (k, err) =>
        s"\"${esc(k)}\":\"${esc(err.take(errLen))}\""
      } ++ (if (allErrs.size > errCap) Seq(s"\"_more\":${allErrs.size - errCap}") else Nil))
        .mkString("{", ",", "}")
      val total = runs.collect { case (_, Right(t)) => t }.sum
      val nFailed = runs.count(_._2.isLeft)
      val detailJson =
        if (!detail) ""
        else {
          // evidence accompanies any standing mark — unstable OR loaded
          val d = (unstable ++ loaded).distinct
            .flatMap(n => unstableRaw.get(n).filter(_.nonEmpty).map(rs =>
              s"\"${esc(n)}\":" + rs.map { case (t, l) => f"[$t%.2f,$l%.1f]" }
                .mkString("[", ",", "]")))
          if (d.isEmpty) "" else d.mkString(""""unstable_detail":{""", ",", "},")
        }
      // `loaded` names shed in the same rung as unstable names: both
      // are distrust marks whose NAMES must outlive the evidence arrays
      val loadedJson =
        if (loaded.isEmpty) ""
        else if (slimUnstable) s""","loaded_n":${loaded.size}"""
        else ""","loaded":""" + loaded.map(n => s"\"${esc(n)}\"").mkString("[", ",", "]")
      val unstableJson = detailJson +
        (if (slimUnstable) s""""unstable_n":${unstable.size}"""
         else "\"unstable\":" + unstable.map(n => s"\"${esc(n)}\"").mkString("[", ",", "]")) +
        loadedJson
      val loadJson =
        if (slimLoad) s""""load":[${load._1},${load._2}]"""
        else s""""load":[${load._1},${load._2},${load._3},${load._4}]"""
      val sfNum = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir)
        .map(_.group(1).stripSuffix(".")).getOrElse(s"\"${esc(sfDir)}\"")
      val waitJson = if (waitedSec > 0) f""","wait":${waitedSec}%.0f""" else ""
      // queries whose loaded min got a clean confirmation run — nonzero
      // means mid-run contention was detected AND adjudicated in-run
      val requietJson = if (requietCount > 0) s""","requiet":$requietCount""" else ""
      // average cores STOLEN by the hypervisor across the whole run —
      // the contention signature no in-guest load column records
      val stealJson = if (stealCores >= 0.05) f""","steal":$stealCores%.1f""" else ""
      // >2.5× movers vs the prior artifact: the line self-flags drift
      // even when the sibling detail file is not at hand
      val driftJson = if (driftCount > 0) s""","drift":$driftCount""" else ""
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs$fastJson,"errors":$errs,"failed":$nFailed,$unstableJson,$loadJson$waitJson$requietJson$stealJson$driftJson,"sf":$sfNum}"""
    }
    // Self-clamp ladder: shed timing precision, then memory columns,
    // then the fast-query rollup, then unstable names, then error-text
    // length — and never spell fewer than 4 errors. Slow-query timings
    // are the last successes to go (the 1e9 minSpell floor rungs);
    // failed queries' "-1" placeholders go before reason text (they
    // carry nothing that `errors`+`failed` don't already record): the
    // round-7 artifact spent its whole budget on placeholders and an
    // `{"_more":14}` with zero reasons.
    val ladder = Seq(
      (8, 60, false, false, false, 3, 0.0, true), // full detail
      (8, 60, false, false, false, 2, 0.0, true), // centisecond timings FIRST:
                                            // cheapest shed (sub-10 ms is noise)
      (8, 60, true, false, false, 2, 0.0, true),  // drop memory columns
      (8, 60, true, false, false, 1, 0.0, true),  // decisecond timings
      (8, 60, true, false, false, 1, 0.3, true),  // roll up sub-0.3 s queries —
                                            // unstable names still spelled; a
                                            // healthy 76-query line lands here
      (8, 60, true, false, false, 1, 0.6, true),
      (8, 60, true, false, false, 1, 0.6, false), // shed raw-run detail before
                                            // names collapse, long before reasons
      (8, 60, true, true, false, 1, 0.6, false),  // only now collapse unstable to count
      (8, 40, true, true, false, 2, 1.0, false),  // shorten error text
      (6, 32, true, true, false, 2, 1.0, false),
      (4, 24, true, true, false, 2, 2.0, false),
      (8, 60, true, true, true, 2, 2.0, false),   // drop -1 placeholders, restore reasons
      (6, 32, true, true, true, 2, 1.0, false),   // placeholders gone, slow spelled
      (4, 24, true, true, true, 2, 1.0, false),   // tighter reasons, slow still spelled
      (4, 24, true, true, true, 2, 1e9, false),   // roll up every success
      (4, 12, true, true, true, 1, 1e9, false)    // floor: ≥4 named failures, always
    )
    ladder.iterator.map((render _).tupled)
      .find(_.length <= 1915)
      .getOrElse(render(4, 12, slimLoad = true, slimUnstable = true,
        dropFailedTimings = true, prec = 1, minSpell = 1e9, detail = false))
  }
}
