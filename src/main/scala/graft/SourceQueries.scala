package graft

import org.apache.spark.sql.functions._
import graft.etl.{FieldSpec, Pipeline, PipelineSpec, SpecLoader}
import graft.sinks.MergeWriter
import graft.sources.{Connectors, Mddataset}
import graft.functions.{Oracle => O}

/** Source/sink-layer oracle queries (SURVEY.md §2 groups A and D) — the
  * operators that previously lived only in ScalaTest. Each derives a
  * deterministic input from the driver tables so the DuckDB oracle can
  * replay it bit-for-bit.
  */
object SourceQueries {

  /** A2 — the generic mddataset decode
    * (`/root/reference/modules/generic_xmla_parser.py:64-170`): a dense
    * ordinal-addressed cell matrix (3 measures, sparse — every 7th cell
    * missing, the NON EMPTY artifact) pivoted back to one row per Axis1
    * tuple via integer div/mod + conditional aggregation. The cells
    * frame is synthesized from `supplier` with integer-valued strings so
    * the wire format is engine-exact.
    */
  val e07 = QueryDef(
    "e07_mddataset_decode",
    (s, dir) => {
      val sup = Tables.supplier(s, dir)
      val cells = Seq(
        sup.select((col("s_suppkey") * 3 + lit(0)).as("ordinal"),
          (col("s_suppkey") * 7 % 100).cast("string").as("value")),
        sup.select((col("s_suppkey") * 3 + lit(1)).as("ordinal"),
          col("s_nationkey").cast("string").as("value")),
        sup.select((col("s_suppkey") * 3 + lit(2)).as("ordinal"),
          length(col("s_name")).cast("string").as("value")))
        .reduce(_ unionByName _)
        .filter(col("ordinal") % 7 =!= 0)
      val tuples = sup.select(col("s_suppkey").as("row_idx"),
        col("s_name"), col("s_nationkey"))
      Mddataset.decode(cells, Seq("m_key", "m_nation", "m_namelen"), Some(tuples))
    },
    Some("""
      WITH cells AS (
        SELECT s_suppkey * 3 + 0 AS ordinal, CAST(s_suppkey * 7 % 100 AS VARCHAR) AS value FROM supplier
        UNION ALL
        SELECT s_suppkey * 3 + 1, CAST(s_nationkey AS VARCHAR) FROM supplier
        UNION ALL
        SELECT s_suppkey * 3 + 2, CAST(length(s_name) AS VARCHAR) FROM supplier),
      live AS (SELECT * FROM cells WHERE ordinal % 7 != 0),
      addressed AS (
        SELECT CAST(FLOOR(ordinal / 3) AS BIGINT) AS row_idx,
          CAST(ordinal % 3 AS INTEGER) AS m_idx, value
        FROM live),
      wide AS (
        SELECT row_idx,
          MAX(CASE WHEN m_idx = 0 THEN value END) AS m_key,
          MAX(CASE WHEN m_idx = 1 THEN value END) AS m_nation,
          MAX(CASE WHEN m_idx = 2 THEN value END) AS m_namelen
        FROM addressed GROUP BY 1)
      SELECT t.row_idx, t.s_name, t.s_nationkey, w.m_key, w.m_nation, w.m_namelen
      FROM (SELECT s_suppkey AS row_idx, s_name, s_nationkey FROM supplier) t
      LEFT JOIN wide w USING (row_idx)
    """.stripMargin.trim))

  /** A7 + B1/B6 — the bulk CSV load path (`/root/reference/load_csv.py:41-131`)
    * end-to-end through a REAL csv file: a deterministic event feed
    * (seeded by the stable `o_orderkey` BIGINT — pure arithmetic, no
    * fragile columns, so a driver-side re-encode of some other table's
    * types can never reach this fixture) is serialized to headered CSV
    * (all strings, M/d/yyyy dates — the reference's wire shape), read
    * back via the header-keyed scan, and pushed through the mapping
    * layer (typed projection, multi-format date parse, business key,
    * display name, metadata). The oracle replays the same arithmetic —
    * proving the CSV round-trip is lossless.
    */
  val e08 = QueryDef(
    "e08_csv_pipeline",
    (s, dir) => {
      val k = col("o_orderkey")
      val ev = Tables.orders(s, dir).select(
        k.cast("string").as("event_id"),
        (k % 491).cast("string").as("StoreNumber"),
        date_format(date_add(to_date(lit("1996-01-01")), (k % 730).cast("int")),
          "M/d/yyyy").as("CalendarDate"),
        element_at(array(lit("web"), lit("store"), lit("app")),
          (k % 3 + 1).cast("int")).as("Channel"),
        (k % 1000).cast("string").as("Qty"))
      val tmp = s"/tmp/graft_csv_${Integer.toHexString(dir.hashCode)}"
      // the CSV fixture is the query's INPUT, not its work — stage it
      // once per (JVM, dir) so the bench's timed runs measure the CSV
      // read pipeline (note 22's lifecycle rule), while a fresh Verify
      // process still self-ensures its own fixture
      OncePerJvm("graft_e08_csv", dir) {
        ev.write.mode("overwrite").option("header", "true").csv(tmp)
      }
      // fan-out (r19): the fixture is written by a serial plan into few
      // csv part files, so the mapping layer (multi-format date parse per
      // row) otherwise runs 1-2 cores wide. The fixture is this query's
      // pinned input at every scale, so an unconditional cores-wide
      // repartition is the honest shape (pure projection downstream);
      // cores wide under every posture, as `Tables.fanOut`.
      val raw = Connectors.csv(s, tmp)
        .repartition(s.sessionState.conf.defaultNumShufflePartitions)
      val spec = PipelineSpec(
        name = "csv_load",
        fields = Seq(
          FieldSpec("event_id", "event_id", "int"),
          FieldSpec("StoreNumber", "store", "string"),
          FieldSpec("CalendarDate", "cal_date", "date"),
          FieldSpec("Channel", "channel", "string")),
        measures = Seq(FieldSpec("Qty", "qty", "int")),
        requiredDims = Seq("store", "cal_date"),
        keyComponents = Seq("store", "cal_date", "channel"),
        displayComponents = Seq("store", "channel"),
        datasource = Some("csv_load"))
      Pipeline.compile(spec, raw,
        refreshedAt = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
        .withColumn("cal_date", date_format(col("cal_date"), "yyyy-MM-dd"))
    },
    Some("""
      WITH feed AS (
        SELECT o_orderkey AS k,
          DATE '1996-01-01' + CAST(o_orderkey % 730 AS INTEGER) AS d,
          CASE o_orderkey % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'store' ELSE 'app' END AS ch
        FROM orders)
      SELECT CAST(k AS BIGINT) AS event_id,
        CAST(k % 491 AS VARCHAR) AS store,
        strftime(d, '%Y-%m-%d') AS cal_date,
        ch AS channel,
        CAST(k % 1000 AS BIGINT) AS qty,
        concat_ws('_',
          regexp_replace(CAST(k % 491 AS VARCHAR), '[ -]', '_', 'g'),
          strftime(d, '%Y%m%d'),
          regexp_replace(ch, '[ -]', '_', 'g')) AS business_key,
        concat_ws(' - ', CAST(k % 491 AS VARCHAR), ch) AS display_name,
        'csv_load' AS datasource,
        TIMESTAMP '2026-01-01 00:00:00' AS lastrefreshed
      FROM feed
    """.stripMargin.trim))

  /** D4 — bulk keyed delete (`full_refresh_fy2023_2025.py:59-167`'s
    * threaded DELETE-changeset loop) as one anti-join: every third
    * event_id is deleted, the rest pass through untouched.
    */
  val e09 = QueryDef(
    "e09_bulk_delete",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val del = ev.filter(col("event_id") % 3 === 0).select("event_id")
      MergeWriter.deleteByKeys(ev, del, Seq("event_id"))
    },
    Some("""
      SELECT event_id, ts, user_id, event_type, value
      FROM events WHERE event_id % 3 != 0
    """.stripMargin.trim))

  /** D5 — full-refresh as dynamic partition overwrite
    * (`full_refresh_fy2023_2025.py:201-419`: confirmed delete-all +
    * per-FY re-extract, collapsed to partition-scoped overwrite): an
    * initial FY1996+FY1997 load, then a "full refresh" of FY1997 alone
    * with different content. The read-back must show FY1996 untouched
    * and FY1997 fully replaced — delete+reload without ever touching
    * the other year's files.
    */
  val e10 = QueryDef(
    "e10_partition_refresh",
    (s, dir) => {
      import graft.functions.StableAgg._
      val li = Tables.lineitem(s, dir)
      def slice(y: Int) = li.filter(
        col("l_shipdate") >= to_timestamp(lit(f"$y-01-01")) &&
          col("l_shipdate") < to_timestamp(lit(f"${y + 1}-01-01")))
      def agg(base: org.apache.spark.sql.DataFrame, y: Int) = base
        .groupBy(lit(y).as("fy"), col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_lines"))
      val path = s"/tmp/graft_refresh_${Integer.toHexString(dir.hashCode)}"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      // initial load: both fiscal years
      MergeWriter.overwritePartitions(
        agg(slice(1996), 1996).unionByName(agg(slice(1997), 1997)), path, Seq("fy"))
      // full refresh of FY1997 only, with a narrower extract
      MergeWriter.overwritePartitions(
        agg(slice(1997).filter(col("l_linestatus") === "F"), 1997), path, Seq("fy"))
      s.read.parquet(path).select("fy", "l_returnflag", "sum_qty", "n_lines")
    },
    Some(s"""
      SELECT CAST(1996 AS INTEGER) AS fy, l_returnflag,
        ${O.dsum("l_quantity")} AS sum_qty, COUNT(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 2
      UNION ALL
      SELECT CAST(1997 AS INTEGER) AS fy, l_returnflag,
        ${O.dsum("l_quantity")} AS sum_qty, COUNT(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_linestatus = 'F'
      GROUP BY 2
    """.stripMargin.trim))

  /** A8 + B11 — the store-hours master-data load
    * (`/root/reference/load_store_hours.py:64-108`) end-to-end through a
    * REAL .xlsx file: a deterministic store × day-of-week sheet (HHMM
    * time cells stored as Excel numbers) is written, read back through
    * the zip+XML sheet decode (header row, skip-empty-first-cell), and
    * pushed through the store_hours mapping + HH:MM normalization. The
    * oracle replays the logical content — proving the xlsx round-trip
    * is lossless. Master-data scale: the sheet is stores × 7 rows, a
    * driver-side parse that broadcast-joins downstream. The (store, dow)
    * universe is seeded by the stable `o_orderkey` BIGINT so no other
    * table's encoding drift can reach this fixture.
    */
  val e15 = QueryDef(
    "e15_store_hours_e2e",
    (s, dir) => {
      import graft.functions.Coercions
      val base = Tables.orders(s, dir)
        .select((col("o_orderkey") % 50).cast("int").as("store"),
          ((col("o_orderkey") % 7) + 1).cast("int").as("dow"))
        .distinct()
        .select(col("store"), col("dow"),
          (lit(600) + (col("store") % 6) * 100).cast("int").as("open_i"),
          (lit(2100) + (col("dow") % 3) * 100).cast("int").as("close_i"))
      val sheetRows = base.orderBy("store", "dow").collect().map(r =>
        Seq(r.getInt(0).toString, r.getInt(1).toString,
          r.getInt(2).toString, r.getInt(3).toString).toSeq).toSeq
      val path = s"/tmp/graft_xlsx_${Integer.toHexString(dir.hashCode)}.xlsx"
      graft.sources.ExcelSource.writeXlsx(path, "Store hours",
        Seq("store_number", "day_of_week", "open_raw", "close_raw") +: sheetRows)
      val raw = graft.sources.ExcelSource.read(s, path, "Store hours")
      Pipeline.compile(SpecLoader.fromResource("store_hours"), raw,
        refreshedAt = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
        .join(raw.select(col("store_number"),
          Coercions.asInt(col("day_of_week")).as("day_of_week"),
          Coercions.asHhmm(col("open_raw")).as("open_time"),
          Coercions.asHhmm(col("close_raw")).as("close_time")),
          Seq("store_number", "day_of_week"))
    },
    Some("""
      WITH base AS (
        SELECT DISTINCT CAST(o_orderkey % 50 AS INTEGER) AS store,
          CAST(o_orderkey % 7 + 1 AS INTEGER) AS dow
        FROM orders),
      t AS (
        SELECT store, dow,
          lpad(CAST(600 + (store % 6) * 100 AS VARCHAR), 4, '0') AS open_p,
          lpad(CAST(2100 + (dow % 3) * 100 AS VARCHAR), 4, '0') AS close_p
        FROM base)
      SELECT CAST(store AS VARCHAR) AS store_number,
        CAST(dow AS BIGINT) AS day_of_week,
        CAST(store AS VARCHAR) || '_' || CAST(dow AS VARCHAR) AS business_key,
        concat_ws(' - ', CAST(store AS VARCHAR), CAST(dow AS VARCHAR)) AS display_name,
        'Store Hours Excel' AS datasource,
        TIMESTAMP '2026-01-01 00:00:00' AS lastrefreshed,
        concat_ws(':', substr(open_p, 1, 2), substr(open_p, 3, 2)) AS open_time,
        concat_ws(':', substr(close_p, 1, 2), substr(close_p, 3, 2)) AS close_time
      FROM t
    """.stripMargin.trim))

  /** D6 — managed keyed-table lifecycle end-to-end: create a bucketed,
    * FY-partitioned table, MERGE an initial two-year load, then MERGE a
    * recomputed FY1997 slice. Upsert semantics (not partition replace):
    * 1997 keys present in the update are replaced, 1997 keys absent
    * from it survive from the first load, 1996 is untouched — and the
    * partition-scoped merge never rewrites the 1996 files (pinned by
    * OpsSpec). The oracle expresses the final table state.
    */
  val e16 = QueryDef(
    "e16_managed_table_merge",
    (s, dir) => {
      import graft.functions.StableAgg._
      import graft.sinks.TableManager
      val name = "graft_e16_keyed"
      TableManager.drop(s, name)
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")), name)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      val li = Tables.lineitem(s, dir)
      def slice(y: Int) = li.filter(
        col("l_shipdate") >= to_timestamp(lit(f"$y-01-01")) &&
          col("l_shipdate") < to_timestamp(lit(f"${y + 1}-01-01")))
      def aggOf(base: org.apache.spark.sql.DataFrame, y: Int) = base
        .groupBy(col("l_suppkey").cast("string").as("store"))
        .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("n_lines"))
        .select(concat_ws("_", col("store"), lit(y.toString)).as("business_key"),
          col("store"), lit(y).as("fy"), col("qty"), col("n_lines"))
      val initial = aggOf(slice(1996), 1996).unionByName(aggOf(slice(1997), 1997))
      TableManager.ensureKeyedTable(s, name, initial.schema, "business_key",
        buckets = 4, partitionCols = Seq("fy"))
      TableManager.mergeInto(s, name, initial, "business_key")
      TableManager.mergeInto(s, name,
        aggOf(slice(1997).filter(col("l_linestatus") === "F"), 1997), "business_key")
      s.table(name).select("business_key", "store", "fy", "qty", "n_lines")
    },
    Some(s"""
      WITH y96 AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store,
          ${O.dsum("l_quantity")} AS qty, COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      full97 AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store,
          ${O.dsum("l_quantity")} AS qty, COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1),
      f97 AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store,
          ${O.dsum("l_quantity")} AS qty, COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_linestatus = 'F'
        GROUP BY 1)
      SELECT store || '_1996' AS business_key, store, CAST(1996 AS INTEGER) AS fy,
        qty, n_lines
      FROM y96
      UNION ALL
      SELECT o.store || '_1997' AS business_key, o.store, CAST(1997 AS INTEGER) AS fy,
        COALESCE(f.qty, o.qty) AS qty, COALESCE(f.n_lines, o.n_lines) AS n_lines
      FROM full97 o LEFT JOIN f97 f ON f.store = o.store
    """.stripMargin.trim))

  /** A9 — OData-style paged read (`load_store_hours.py:111-138`): a
    * paged source serving the supplier table in 17-row pages with
    * nextLink-style tokens, drained by the driver-side page loop into a
    * DataFrame. Control-plane scale by design — the reference pages
    * existing-key maps and metadata, never facts (SURVEY.md §2.A9);
    * the supplier dim here stands in for that key map.
    */
  val e17 = QueryDef(
    "e17_paged_read",
    (s, dir) => {
      import org.apache.spark.sql.Row
      val all = Tables.supplier(s, dir)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey").collect().toSeq
      val schema = Tables.supplier(s, dir)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").schema
      val source = new Connectors.PagedFetch {
        def fetch(pageToken: Option[String]): (Seq[Row], Option[String]) = {
          val off = pageToken.map(_.toInt).getOrElse(0)
          val page = all.slice(off, off + 17)
          val next = if (off + 17 < all.size) Some((off + 17).toString) else None
          (page, next)
        }
      }
      Connectors.pagedRead(s, schema, source)
    },
    Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"))

  /** A10 — MDX template rendering (`modules/pipeline_config.py:20-34`):
    * `${var}` placeholders substitute, literal MDX braces and `&[..]`
    * member syntax survive untouched. One row per parameterization.
    */
  val e18 = QueryDef(
    "e18_mdx_template",
    (s, dir) => {
      import s.implicits._
      val template =
        "SELECT {[Measures].[TY Net Sales USD]} ON COLUMNS FROM [${cube}] " +
          "WHERE ([Calendar].[Fiscal_Year].&[${fy}])"
      Seq(2023, 2024, 2025).map { fy =>
        (fy, Connectors.renderTemplate(template,
          Map("cube" -> "OARS", "fy" -> fy.toString)))
      }.toDF("fy", "mdx")
    },
    Some("""
      SELECT CAST(fy AS INTEGER) AS fy,
        'SELECT {[Measures].[TY Net Sales USD]} ON COLUMNS FROM [OARS] WHERE ([Calendar].[Fiscal_Year].&[' || fy || '])' AS mdx
      FROM (VALUES (2023), (2024), (2025)) AS t(fy)
    """.stripMargin.trim))

  /** A11 — pipeline/mapping config load (`modules/pipeline_config.py:41-87`):
    * the shipped store_hours spec parsed from YAML into its field list.
    * The oracle pins the loader's output against the spec's literal
    * content — a schema drift in either the YAML or the loader goes red.
    */
  val e19 = QueryDef(
    "e19_spec_load",
    (s, dir) => {
      import s.implicits._
      val spec = SpecLoader.fromResource("store_hours")
      val rows =
        spec.fields.map(f => (spec.name, "field", f.src, f.dst, f.typ)) ++
          spec.measures.map(m => (spec.name, "measure", m.src, m.dst, m.typ)) ++
          spec.keyComponents.map(k => (spec.name, "key", k, k, "string"))
      rows.toDF("pipeline", "section", "src", "dst", "typ")
    },
    Some("""
      SELECT * FROM (VALUES
        ('store_hours', 'field', 'store_number', 'store_number', 'string'),
        ('store_hours', 'field', 'day_of_week', 'day_of_week', 'int'),
        ('store_hours', 'key', 'store_number', 'store_number', 'string'),
        ('store_hours', 'key', 'day_of_week', 'day_of_week', 'string'))
        AS t(pipeline, section, src, dst, typ)
    """.stripMargin.trim))

  /** D6 depth — the crash-atomic versioned merge sink
    * ([[graft.sinks.VersionedTable]]): the e16 lifecycle (seed two FY
    * partitions, partition-scoped re-merge of FY1997) with a SIMULATED
    * CRASH in between — a poisoned merge (qty = -1 everywhere) dies
    * after its data commit is fully written but before the manifest
    * publish. The final read must show zero trace of the crashed write:
    * if the poisoned values or a partial overwrite leaked, the oracle
    * (which replays only the two successful merges) hash-mismatches.
    */
  val e22 = QueryDef(
    "e22_versioned_table_merge",
    (s, dir) => {
      import graft.functions.StableAgg._
      import graft.sinks.VersionedTable
      val root = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
        "graft_e22_versioned")
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val li = Tables.lineitem(s, dir)
      def slice(y: Int) = li.filter(
        col("l_shipdate") >= to_timestamp(lit(f"$y-01-01")) &&
          col("l_shipdate") < to_timestamp(lit(f"${y + 1}-01-01")))
      def aggOf(base: org.apache.spark.sql.DataFrame, y: Int) = base
        .groupBy(col("l_suppkey").cast("string").as("store"))
        .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("n_lines"))
        .select(concat_ws("_", col("store"), lit(y.toString)).as("business_key"),
          col("store"), lit(y).as("fy"), col("qty"), col("n_lines"))
      val initial = aggOf(slice(1996), 1996).unionByName(aggOf(slice(1997), 1997))
      VersionedTable.merge(s, root.toString, initial, "business_key", Seq("fy"))
      // crash mid-commit: data written, publish never happens
      try VersionedTable.merge(s, root.toString,
        aggOf(slice(1997), 1997).withColumn("qty", lit(-1.0)),
        "business_key", Seq("fy"),
        onBeforePublish = () => sys.error("simulated crash before publish"))
      catch { case _: RuntimeException => () }
      VersionedTable.merge(s, root.toString,
        aggOf(slice(1997).filter(col("l_linestatus") === "F"), 1997), "business_key", Seq("fy"))
      // OPTIMIZE-style small-file compaction is pure reorganization: the
      // read below goes through the compacted layout and must still
      // hash-match the oracle's logical replay bit-for-bit
      VersionedTable.compact(s, root.toString)
      VersionedTable.read(s, root.toString)
        .select(col("business_key"), col("store"), col("fy").cast("int").as("fy"),
          col("qty"), col("n_lines"))
    },
    Some(s"""
      WITH y96 AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store,
          ${O.dsum("l_quantity")} AS qty, COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1),
      full97 AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store,
          ${O.dsum("l_quantity")} AS qty, COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1),
      f97 AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store,
          ${O.dsum("l_quantity")} AS qty, COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_linestatus = 'F'
        GROUP BY 1)
      SELECT store || '_1996' AS business_key, store, CAST(1996 AS INTEGER) AS fy,
        qty, n_lines
      FROM y96
      UNION ALL
      SELECT o.store || '_1997' AS business_key, o.store, CAST(1997 AS INTEGER) AS fy,
        COALESCE(f.qty, o.qty) AS qty, COALESCE(f.n_lines, o.n_lines) AS n_lines
      FROM full97 o LEFT JOIN f97 f ON f.store = o.store
    """.stripMargin.trim))

  /** A1 at scale — the DataSource V2 XMLA connector end-to-end through
    * the REAL `spark.read.format("xmla")` path: per-chunk SOAP POST from
    * Spark tasks against an in-process endpoint ([[MockXmlaServer]]),
    * executor-side mddataset decode, and an IN-list slicer filter that
    * pushes into the scan and prunes chunk FY1998 before any HTTP call
    * (`XmlaDsv2Spec` pins the POST count; here the pruning is part of
    * the replayed semantics). Responses are derived from the supplier
    * dim — chunked by `s_suppkey % 3` like the reference's per-FY
    * extraction loop (`modules/olap_sync.py:111-151`) — so the oracle
    * replays the decoded wire content bit-for-bit.
    */
  val e23 = QueryDef(
    "e23_xmla_dsv2_scan",
    (s, dir) => {
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey").cast("long").as("k"),
          col("s_suppkey").cast("string").as("store"),
          col("s_nationkey").cast("string").as("nation"),
          length(col("s_name")).cast("string").as("namelen"))
        .orderBy("k").collect()
      val responses = sup.toSeq
        .groupBy(r => s"FY${1996 + (r.getLong(0) % 3)}")
        .map { case (slicer, rs) =>
          slicer -> graft.sources.MockXmlaServer.mddataset(
            "[Franchise].[Store Number Label]",
            rs.map(r => (r.getString(1), Seq(r.getString(2), r.getString(3)))),
            Seq("m_nation", "m_namelen"))
        }
      val base = graft.sources.MockXmlaServer.serve(responses)
      s.read.format("xmla")
        .option("server", base).option("catalog", "OARS")
        .option("username", "u").option("password", "p")
        .option("mdx",
          "SELECT {[Measures].[m_nation],[Measures].[m_namelen]} ON COLUMNS, " +
            "[Franchise].[Store Number Label].Members ON ROWS FROM [Cube] " +
            "WHERE ([Calendar].[Fiscal_Year].&[{slicer}])")
        .option("chunks", "FY1996,FY1997,FY1998")
        .option("measures", "m_nation,m_namelen")
        .option("dims", "\\[Franchise\\]\tstore_number")
        .load()
        .filter(col("slicer").isin("FY1996", "FY1997"))
    },
    Some("""
      SELECT 'FY' || CAST(1996 + s_suppkey % 3 AS VARCHAR) AS slicer,
        CAST(s_suppkey AS VARCHAR) AS store_number,
        CAST(s_nationkey AS VARCHAR) AS m_nation,
        CAST(length(s_name) AS VARCHAR) AS m_namelen
      FROM supplier
      WHERE s_suppkey % 3 IN (0, 1)
    """.stripMargin.trim))

  def all: Seq[QueryDef] = Seq(e07, e08, e09, e10, e15, e16, e17, e18, e19, e22, e23)
}
