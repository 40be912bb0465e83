package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loader over the driver-provided star schema
  * (`/root/testdata/sf*` — see TESTDATA.md). All engine queries read
  * through here so a scale-factor directory is the only location input.
  *
  * At cluster scale the same API fronts partitioned Parquet/Delta tables;
  * Catalyst predicate pushdown + partition pruning apply unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    readParquet(spark, layoutKey(spark, path))(_.parquet(path))
  }

  // ---- parquet reads without a schema-inference job ----

  private val schemaCache = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** A parquet read that names no schema runs a one-task Spark job to
    * infer it (`mergeSchemasInParallel`, over one footer). `read` is
    * given a reader that carries the schema an earlier read under `key`
    * inferred, partition columns included, so only the first read per
    * key runs that job and every read gets the types Spark would infer.
    * `key` must name the exact files read: [[layoutKey]] for a path that
    * can be rewritten, the partition dirs read for an immutable commit.
    * The session's parquet confs (e.g. `nanosAsLong`) are part of the
    * key. The cache is dropped whole at 4096 entries.
    */
  private[graft] def readParquet(spark: SparkSession, key: String)(
      read: DataFrameReader => DataFrame): DataFrame = {
    val confs = spark.conf.getAll.collect { case (k, v) if k.contains("parquet") => s"$k=$v" }
    val k = (key +: confs.toSeq.sorted).mkString("|")
    schemaCache.get(k) match {
      case Some(schema) => read(spark.read.schema(schema))
      case None =>
        val df = read(spark.read)
        if (schemaCache.size >= 4096) schemaCache.clear()
        schemaCache.put(k, df.schema)
        df
    }
  }

  /** `path` with the status (name, size, mtime) of its root and of every
    * top-level entry: a rewrite in place names new part files or changes
    * a partition dir's mtime, so the key changes with the files even
    * inside one mtime tick of the root. A path that cannot be listed
    * keys on a fresh value, so nothing about it is cached.
    */
  private[graft] def layoutKey(spark: SparkSession, path: String): String =
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(root)
      val entries = if (st.isFile) Array(st) else st +: fs.listStatus(root)
      entries.map(e => s"${e.getPath.getName}:${e.getLen}:${e.getModificationTime}")
        .mkString(s"$path@", ",", "")
    } catch { case _: java.io.IOException => s"$path@${java.util.UUID.randomUUID()}" }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** The driver has regenerated events.parquet with different `ts`
    * physical types across rounds (TIMESTAMP(NANOS), then µs
    * TIMESTAMP_NTZ), so branch on the read schema rather than assuming
    * one encoding:
    *   - TIMESTAMP(NANOS): Spark rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]) — enable the legacy nanos-as-long read
    *     and truncate ns→µs, matching DuckDB's cast so differential
    *     results agree. NOTE: the conf stays set for the rest of the
    *     session (restoring it right after the re-read would break the
    *     lazy scan, which consults it at execution time), so any later
    *     events read — nanos or a genuine BIGINT — surfaces as long
    *     WITHOUT throwing; the unit is therefore resolved per dir from
    *     the parquet FOOTER ([[eventsTsIsNanosOnDisk]]), never from the
    *     session conf.
    *   - TIMESTAMP_NTZ (µs, no isAdjustedToUTC): cast to TimestampType —
    *     value-identical under the pinned UTC session TZ, matching the
    *     DuckDB oracle's direct µs read.
    *   - TimestampType (µs): pass through.
    *   - Anything else (e.g. a future native BIGINT ts whose unit we
    *     can't know) fails loudly rather than guessing a divisor.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw =
      try apply(spark, dir, "events")
      catch {
        case e: Throwable if isParquetNanosIllegal(e) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          apply(spark, dir, "events")
      }
    raw.schema("ts").dataType match {
      // a LongType ts is ambiguous from Spark's side (the legacy conf —
      // sticky from an earlier nanos read this session — surfaces real
      // TIMESTAMP(NANOS) AND any native BIGINT as long), so resolve the
      // unit from THIS dir's parquet footer, never from session state: a
      // driver-regenerated BIGINT-of-unknown-unit must fail loudly even
      // in a session that read nanos before
      case org.apache.spark.sql.types.LongType =>
        normalizeEventsTs(raw, knownNanos = eventsTsIsNanosOnDisk(spark, dir))
      case _ => normalizeEventsTs(raw, knownNanos = false)
    }
  }

  /** True iff `dir`'s events parquet footer declares `ts` as
    * TIMESTAMP(NANOS). Driver-side read of one file's footer — the
    * authoritative per-dir answer the session conf can't give.
    */
  private[graft] def eventsTsIsNanosOnDisk(spark: SparkSession, dir: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    val dataFile =
      if (fs.getFileStatus(root).isFile) Some(root)
      else fs.listStatus(root).map(_.getPath)
        .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
    dataFile.exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") &&
          (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          })
      } finally reader.close()
    }
  }

  /** True iff the read failed because of parquet TIMESTAMP(NANOS)
    * columns. Matches the stable error class first (Spark 4 surfaces it
    * via SparkThrowable), with message-contains as a fallback for
    * wrapper exceptions.
    */
  private[graft] def isParquetNanosIllegal(e: Throwable): Boolean = {
    val byClass = e match {
      case st: org.apache.spark.SparkThrowable =>
        st.getCondition == "PARQUET_TYPE_ILLEGAL"
      case _ => false
    }
    byClass || Option(e.getMessage).exists(_.contains("PARQUET_TYPE_ILLEGAL"))
  }

  /** Normalize the `ts` column of an events frame to TimestampType (µs).
    * `knownNanos` records whether the on-disk encoding is POSITIVELY
    * known to be nanoseconds (parquet footer annotation); a long ts
    * without that knowledge has an unknown unit and is an error.
    */
  private[graft] def normalizeEventsTs(raw: DataFrame, knownNanos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType if knownNanos =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other (knownNanos=$knownNanos): " +
            "testdata encoding drifted again — add an explicit branch in Tables.events")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  // ---- scan-layout fan-out (r19 optimization; guide §2.5 input skew) ----

  private val scanParCache = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Effective scan parallelism of the parquet at `path`, bounded by its
    * ROW-GROUP layout rather than its byte size: Spark splits files by
    * byte ranges, but a row group is consumed whole by whichever split
    * holds its midpoint, so a single-row-group file executes every fused
    * map operator (projection, explode, partial aggregation, broadcast
    * probe) on ONE core no matter the split count or the session's core
    * count — the "one unsplittable file" input skew of the optimization
    * guide, and exactly how the driver's testdata is laid out (every
    * `sf0.1` table is one file with one row group; q11's 49-function
    * partial aggregate measured 8.3 s serial vs 1.6 s fanned at 32
    * cores). Counted from the parquet footers — metadata only, cached
    * per layout, one open per file; a layout with at least
    * as many data files as the session has cores is healthy without
    * opening any footer, so at production scale this never reads a
    * footer at all. A directory with NO top-level data files (e.g. a
    * Hive-style directory-partitioned table, whose data sits in
    * `k=v/` subdirectories) reports healthy too (ADVICE r19): such
    * layouts are written by parallel writers, and fan-out is a
    * remediation, never a requirement — reporting them unhealthy would
    * inject a permanent full-table repartition at production scale.
    * Probe failures also report healthy, and are NOT cached (a probe
    * that ran before the file existed must not pin a stale verdict);
    * the [[layoutKey]] cache key re-probes a rewritten layout.
    */
  private[graft] def effectiveScanParallelism(spark: SparkSession, path: String): Int =
    try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      scanParCache.getOrElseUpdate(layoutKey(spark, path), {
        val rootStatus = fs.getFileStatus(root)
        val files =
          if (rootStatus.isFile) Array(root)
          else fs.listStatus(root).map(_.getPath)
            .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        val cores = spark.sparkContext.defaultParallelism
        if (files.isEmpty && !rootStatus.isFile) Int.MaxValue
        else if (files.length >= cores) files.length
        else files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try r.getRowGroups.size finally r.close()
        }.sum
      })
    } catch { case _: Throwable => Int.MaxValue }

  private def underParallel(spark: SparkSession, dir: String, table: String): Boolean =
    effectiveScanParallelism(spark, s"$dir/$table.parquet") <
      spark.sparkContext.defaultParallelism

  /** Round-robin fan-out of a frame read from `dir/table` to the
    * session's cores — applied ONLY when the source's row-group layout
    * caps the scan below the session's cores
    * ([[effectiveScanParallelism]]); the identity on healthy layouts,
    * so at production scale no extra exchange ever appears. For
    * operators whose downstream is order-insensitive (aggregates over
    * exact decimal sums / counts / min-max, set-semantics joins,
    * explode→aggregate chains): a keyless repartition redistributes and
    * reorders rows, which such consumers cannot observe.
    *
    * The width is `spark.sql.shuffle.partitions`
    * (`defaultNumShufflePartitions`), never AQE's initial width: AQE
    * does not coalesce a repartition by number, so under the Deploy
    * posture `numShufflePartitions` would run 16×cpus tasks over an
    * input that fits fewer row groups than cores.
    */
  def fanOut(spark: SparkSession, dir: String, table: String,
      df: DataFrame): DataFrame =
    if (underParallel(spark, dir, table))
      df.repartition(spark.sessionState.conf.defaultNumShufflePartitions)
    else df

  /** Keyed fan-out: like [[fanOut]] but hash-repartitions on `keys` so a
    * downstream aggregate/join clustered by a SUPERSET of `keys` needs
    * no further exchange — the shuffle the aggregate was going to pay
    * anyway, moved below the serial scan so the heavy per-row work runs
    * on every core. Prefer this over [[fanOut]] wherever the consumer
    * has grouping keys: the plan's exchange count stays identical to
    * the un-fanned plan at every scale.
    */
  def fanOutBy(spark: SparkSession, dir: String, table: String,
      df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    if (underParallel(spark, dir, table))
      df.repartition(spark.sessionState.conf.defaultNumShufflePartitions, keys: _*)
    else df
}
