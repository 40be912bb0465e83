package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import graft.etl.{Pipeline, SpecLoader}
import graft.functions.StableAgg._
import graft.functions.{Oracle => O}

/** End-to-end native bindings for the four reference pipelines beyond
  * daily_sales (which is e06): each runs the reference's MDX shape as a
  * native aggregation over the star schema, then the shipped mapping
  * YAML (`src/main/resources/pipelines/<name>.yaml`, mirroring
  * `/root/reference/pipelines/mappings/<name>.yaml`) through the compiled
  * pipeline: typed projection → business key → display name → metadata —
  * the exact record shape the keyed MERGE sink consumes.
  *
  * Serialization note (same as e01/e05/e06): outputs ship dates as ISO
  * strings and decimals as doubles so the driver's cross-reader hashing
  * sees identical logical types; the pipeline itself still computes
  * DateType/DecimalType(18,2).
  */
object PipelineQueries {

  private val Refresh = "2026-01-01 00:00:00"

  private def serialized(df: DataFrame, decimals: Seq[String]): DataFrame = {
    val d = df.withColumn("calendar_date", date_format(col("calendar_date"), "yyyy-MM-dd"))
    decimals.foldLeft(d)((acc, c) => acc.withColumn(c, col(c).cast("double")))
  }

  /** Shared oracle tail: decimal(18,2) through the VARCHAR bridge (Spark
    * rounds the shortest double repr; DuckDB's string→decimal rounds
    * half-up the same way).
    */
  private def dec2(expr: String): String =
    s"CAST(CAST(CAST($expr AS VARCHAR) AS DECIMAL(18,2)) AS DOUBLE)"

  /** Untimed bench warmup: the offers/inventory pipeline codegen family
    * (broadcast part join → two-level decimal partial aggregate — e12's
    * single-pass exact-distinct shape — → mapping compile → serialized
    * wire) over a 1024-row lineitem slice, into the noop sink. Exists
    * because this family's C2 compiles are shared by e12/e13 (and e06's
    * mapping tail) but reached by none of the bench's other warmups:
    * BENCH_r17's one residual `unstable` flag was e13 absorbing them on
    * its cold first run (6.3 s cold vs 2.35 s steady at sf0.1).
    */
  private[graft] def warmupMiniature(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val lim: DataFrame => DataFrame = _.limit(1024)
    Seq(
      serialized(Pipeline.compile(SpecLoader.fromResource("inventory"),
        inventoryAgg(s, dir, lim), refreshedAt = Some(to_timestamp(lit(Refresh)))),
        Seq("qty_on_hand")),
      serialized(Pipeline.compile(SpecLoader.fromResource("offers"),
        offersAgg(s, dir, lim), refreshedAt = Some(to_timestamp(lit(Refresh)))),
        Seq("discount_amount_usd", "gross_margin_usd", "order_mix_pct",
          "sales_mix_usd_pct", "net_sales_usd", "target_food_cost_usd")),
      // sales_channel miniature (r19): e11's TY/LY join is a sort-merge
      // join since this round, and no other warmup reaches that codegen
      // family (SMJ sorts + cached-aggregate self-join + the wire tail)
      // — un-warmed, e11's two timed runs publish the C2 ramp (4.1 s
      // bench vs 2.1-2.3 s isolated steady state after ~4 runs), the
      // exact pattern the e13 warmup fixed in r18.
      serialized(Pipeline.compile(SpecLoader.fromResource("sales_channel"),
        salesChannelAgg(s, dir, lim), refreshedAt = Some(to_timestamp(lit(Refresh)))),
        Seq("ty_net_sales_usd", "discounts_usd", "ly_net_sales_usd"))
    ).foreach(_.write.mode("overwrite").format("noop").save())
    s.catalog.clearCache() // drop the miniature's TY persist
  }

  /** sales_channel — the 5-dim × 5-measure shape
    * (`/root/reference/pipelines/pipelines.yaml:94-98`): store × date ×
    * actor × channel × day-part with TY/LY comparative measures. LY is
    * the 364-day-aligned prior year (G7): the same aggregate shifted one
    * retail year forward and left-joined — no second fact scan shape at
    * scale beyond the self-join on the aggregate (group-grain-small).
    *
    * The sales_channel aggregation, exposed for the Orchestrator, which
    * passes its slice as `window`: the fact is filtered to the window's
    * dates and the 364 days before them, aggregated once, and the one
    * aggregate split by date into TY (the window) and LY. `pre` applies
    * to the fact before that filter (the bench warmup's row limit).
    * `onPersist` receives the persisted aggregate, so a caller outside
    * the clearCache()-per-query harness can release it once done.
    *
    * Its ×10 shape (r18, measured per exchange of the executed plan at
    * sf0.1 and ×10, Deploy posture): at base the countDistinct
    * aggregate's two exchanges carry all 1.2M shuffle records (dims, and
    * dims + l_orderkey — the grain is near-unique, so map-side combine
    * removes almost nothing) and the TY/LY join broadcasts the LY side.
    * At ×10 those two exchanges grow exactly ×10, and AQE flips the join
    * to a sort-merge join that shuffles ONLY the LY side — the cached
    * TY aggregate's hash(dims) partitioning already satisfies it. So
    * SCALECHECK's ×15 records for ×10 data is linear growth plus a
    * one-time broadcast→SMJ transition, not a defect; the ×30 row
    * (53.87M = 36M + 17.9M) is linear above the transition.
    */
  private[graft] def salesChannelAgg(s: org.apache.spark.sql.SparkSession, dir: String,
      pre: DataFrame => DataFrame = identity, salts: Int = 0,
      onPersist: DataFrame => Unit = _ => (),
      window: graft.cube.DateWindow = graft.cube.DateWindow.All): DataFrame = {
    val dayPart = (col("l_linenumber") % 3).cast("int")
    // r20 (guide §2.3 "narrower types"): the aggregate, the cached TY
    // relation, and the TY/LY merge join all key on the NARROW native
    // dims (long store, int day-part) — StoreNumber's string cast and
    // DayPart's when-chain are injective, so the grain is identical and
    // the display forms are derived once per group in the final
    // projection instead of hashed/sorted/compared per fact row.
    val dims: Seq[(String, Column)] = Seq(
      "__store" -> col("l_suppkey"),
      "CalendarDate" -> to_date(col("l_shipdate")),
      "SourceActor" -> col("l_returnflag"),
      "SourceChannel" -> col("l_linestatus"),
      "__daypart" -> dayPart)
    // The slice `window` keeps the TY dates. LY compares each TY row
    // with the row 364 days before it, so the fact rows kept are the
    // window's and those 364 days earlier, and the aggregate is split
    // by date below. Slicing the fact to the window alone would leave
    // every LY measure null.
    //
    // keyed fan-out (r19, guide §2.5): the sf inputs are single-row-group
    // files, so the (dims, orderkey)-grain partial aggregate otherwise
    // runs fused into a one-task scan. Repartitioning on ALL FIVE dim
    // expressions moves the aggregate's own exchange below the scan
    // (subset partitioning satisfies both countDistinct phases and the
    // salted variant's clustering) AND covers every TY/LY join key, so
    // the TY side of the merge join below is exchange-free — Spark's
    // co-partitioning check (requireAllClusterKeysForCoPartition)
    // accepts nothing less. The fan is cores wide under every posture
    // (`spark.sql.shuffle.partitions`), and the cached aggregate keeps
    // that width. Identity on healthy layouts. Order-safe: decimal sums
    // + countDistinct only.
    val fact = pre(Tables.lineitem(s, dir))
    val dateType = fact.schema("l_shipdate").dataType
    val li = Tables.fanOutBy(s, dir, "lineitem",
      fact.filter(window.keep(col("l_shipdate"), dateType) ||
        window.keep(col("l_shipdate"), dateType, 364)),
      dims.map(_._2): _*)
    // Persist the group-grain aggregate: TY and LY are the SAME
    // aggregate (LY = TY shifted 364 days), and without the persist the
    // self-join recomputes the full fact scan + 5-dim hash agg twice —
    // at 100 TB that is two fact passes where one suffices. The cached
    // relation is group-grain (≪ fact size) and MEMORY_AND_DISK, so it
    // spills rather than OOMs at scale; Bench/Verify clearCache() after
    // each query so timings stay honest and caches never leak across
    // queries, and the Orchestrator unpersists it (via `onPersist`) after
    // each sync — left cached, the next sync in the same session matches
    // it by plan and serves the old fact. PlanSpec pins that both join
    // inputs read the cache.
    //
    // `salts > 1` opts into SkewAgg's salted two-phase shape for
    // real-world skew (the reference's 45 stores with one flagship:
    // a hot (store, date) key funnels into one reducer). The salt is
    // `hash(l_orderkey) % salts` — salting BY the distinct column keeps
    // `countDistinct` exact (each orderkey lands in exactly one salt
    // bucket, so per-bucket distinct counts add), while the decimal
    // partials re-sum exactly; `ReferencePipelinesSpec` pins the salted
    // plan bit-identical to the unsalted one. Off by default: at the
    // bench's uniform TPC-H keys the extra shuffle buys nothing.
    val tyUnsalted = li.groupBy(dims.map { case (n, c) => c.as(n) }: _*)
      .agg(dsum(col("l_extendedprice")).as("TY Net Sales USD"),
        countDistinct(col("l_orderkey")).as("TY Orders"),
        dsum(col("l_extendedprice") * col("l_discount"), 6).as("Discounts USD"))
    def tySalted = {
      import org.apache.spark.sql.types.DecimalType
      li.groupBy(dims.map { case (n, c) => c.as(n) } :+
          pmod(hash(col("l_orderkey")), lit(salts)).as("__salt"): _*)
        .agg(sum(col("l_extendedprice").cast(DecimalType(28, 2))).as("net_p"),
          countDistinct(col("l_orderkey")).as("ord_p"),
          sum((col("l_extendedprice") * col("l_discount")).cast(DecimalType(28, 6)))
            .as("disc_p"))
        .groupBy(dims.map { case (n, _) => col(n) }: _*)
        .agg(sum(col("net_p")).cast("double").as("TY Net Sales USD"),
          sum(col("ord_p")).as("TY Orders"),
          sum(col("disc_p")).cast("double").as("Discounts USD"))
    }
    val grain = (if (salts > 1) tySalted else tyUnsalted).persist()
    onPersist(grain)
    val ty = grain.filter(window.keep(col("CalendarDate"), DateType))
    val ly = grain.filter(window.keep(col("CalendarDate"), DateType, 364)).select(
      col("__store"), date_add(col("CalendarDate"), 364).as("CalendarDate"),
      col("SourceActor"), col("SourceChannel"), col("__daypart"),
      col("TY Net Sales USD").as("LY Net Sales USD"),
      col("TY Orders").as("LY Orders"))
    // merge hint (r19): the TY grain is near-unique (~595k rows at
    // sf0.1), so the planner's broadcast pick builds and ships a
    // 595k-row hash relation per run — measured erratic 3.5-19 s under
    // driver-heap churn. Both join inputs read the SAME cached
    // aggregate, whose partitioning is the 5-dim hash of its own
    // grouping exchange (or of the fan-out above when it fired — same
    // keys either way), i.e. EXACTLY the five join keys — so the TY
    // side of the sort-merge join is exchange-free at every scale; the
    // LY side must re-shuffle because its CalendarDate is the derived
    // key date_add(CalendarDate, 364). AQE already makes this exact
    // flip at 30x scale (the r18 e11 attribution), the hint just stops
    // the local plan from re-deriving the broadcast each round.
    ty.join(ly.hint("merge"),
      Seq("__store", "CalendarDate", "SourceActor", "SourceChannel", "__daypart"),
      "left")
      .select(
        col("__store").cast("string").as("StoreNumber"),
        col("CalendarDate"), col("SourceActor"), col("SourceChannel"),
        when(col("__daypart") === 0, "Morning")
          .when(col("__daypart") === 1, "Afternoon").otherwise("Evening")
          .as("DayPart"),
        col("TY Net Sales USD"), col("TY Orders"), col("Discounts USD"),
        col("LY Net Sales USD"), col("LY Orders"))
  }

  val e11 = QueryDef(
    "e11_sales_channel_e2e",
    (s, dir) => {
      val out = Pipeline.compile(SpecLoader.fromResource("sales_channel"),
        salesChannelAgg(s, dir),
        refreshedAt = Some(to_timestamp(lit(Refresh))))
      serialized(out, Seq("ty_net_sales_usd", "discounts_usd", "ly_net_sales_usd"))
    },
    Some(s"""
      WITH ty AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store_number,
          CAST(l_shipdate AS DATE) AS cal_d,
          l_returnflag AS source_actor, l_linestatus AS source_channel,
          CASE CAST(l_linenumber AS INTEGER) % 3
            WHEN 0 THEN 'Morning' WHEN 1 THEN 'Afternoon' ELSE 'Evening' END AS day_part,
          ${O.dsum("l_extendedprice")} AS ty_net,
          COUNT(DISTINCT l_orderkey) AS ty_orders,
          ${O.dsum("l_extendedprice * l_discount", 6)} AS discounts
        FROM lineitem GROUP BY 1, 2, 3, 4, 5),
      ly AS (
        SELECT store_number, cal_d + 364 AS cal_d, source_actor, source_channel,
          day_part, ty_net AS ly_net, ty_orders AS ly_orders
        FROM ty)
      SELECT t.store_number,
        strftime(t.cal_d, '%Y-%m-%d') AS calendar_date,
        t.source_actor, t.source_channel, t.day_part,
        ${dec2("t.ty_net")} AS ty_net_sales_usd,
        CAST(t.ty_orders AS BIGINT) AS ty_orders,
        ${dec2("t.discounts")} AS discounts_usd,
        ${dec2("l.ly_net")} AS ly_net_sales_usd,
        CAST(l.ly_orders AS BIGINT) AS ly_orders,
        concat_ws('_', t.store_number, strftime(t.cal_d, '%Y%m%d'),
          t.source_actor, t.source_channel, t.day_part) AS business_key,
        concat_ws(' - ', t.store_number, CAST(t.cal_d AS VARCHAR),
          t.source_channel, t.day_part) AS display_name,
        'OARS Franchise' AS datasource,
        TIMESTAMP '$Refresh' AS lastrefreshed
      FROM ty t
      LEFT JOIN ly l USING (store_number, cal_d, source_actor, source_channel, day_part)
    """.stripMargin.trim))

  /** offers — store × date × offer with 8 mixed measures
    * (`pipelines.yaml:113-133`): counts, discount/margin sums, and the
    * G8-style post-aggregation ratios (Order Mix %, Sales Mix USD % —
    * ratios of sums, never averages of row ratios). OfferCode comes from
    * the part dimension (broadcast join — the fact never shuffles for
    * it).
    */
  private[graft] def offersAgg(s: org.apache.spark.sql.SparkSession, dir: String,
      pre: DataFrame => DataFrame = identity): DataFrame = {
    // keyed fan-out (r19, guide §2.5) — see salesChannelAgg: parallelizes
    // the broadcast part join + two-level decimal partial aggregate past
    // the single-row-group scan; the raw long l_suppkey (r20 — narrower
    // than the string cast it replaced) is a subset of both aggregate
    // levels' group keys, so it satisfies their clustering (no extra
    // exchange at any scale).
    val li = Tables.fanOutBy(s, dir, "lineitem",
      pre(Tables.lineitem(s, dir)), col("l_suppkey"))
    val part = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_retailprice"))
    val joined = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val net = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    // ONE fact pass: partial-aggregate at (dims, orderkey) grain keeping
    // the decimal partials (no double cast yet), then re-aggregate at
    // dims grain where count(*) IS the exact distinct-order count.
    // Decimal sums re-sum exactly, so the two-level form is bit-identical
    // to dsum in one level. Probed at sf0.1/local[32] against the
    // previous two-scan form (wide additive agg + narrow countDistinct
    // joined back at group grain): numbers in the commit message.
    // r20 (guide §2.3 "narrower types"): both aggregate levels key on
    // the raw long l_suppkey; the StoreNumber string cast (injective)
    // moves to one final projection per group row instead of one per
    // fact row through two hash-aggregate levels.
    def p6(c: Column) = sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 6)))
    val partial = joined.groupBy(
        col("l_suppkey"),
        to_date(col("l_shipdate")).as("CalendarDate"),
        col("p_brand").as("OfferCode"),
        col("p_type").as("OfferPOSDescription"),
        col("l_orderkey"))
      .agg(
        count(lit(1)).as("cnt"),
        p6(col("l_extendedprice") * col("l_discount")).as("disc_p"),
        p6(net - col("l_quantity") * col("p_retailprice") * lit(0.6)).as("margin_p"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .as("ext_p"),
        p6(net).as("net_p"),
        p6(col("l_quantity") * col("p_retailprice") * lit(0.31)).as("food_p"))
    partial
      .groupBy(col("l_suppkey"), col("CalendarDate"),
        col("OfferCode"), col("OfferPOSDescription"))
      .agg(
        sum(col("cnt")).as("Redeemed Count"),
        sum(col("disc_p")).cast("double").as("Discount Amount USD"),
        sum(col("margin_p")).cast("double").as("Gross Margin USD"),
        (sum(col("disc_p")).cast("double") / sum(col("ext_p")).cast("double"))
          .as("Sales Mix USD %"),
        sum(col("net_p")).cast("double").as("Net Sales USD"),
        sum(col("food_p")).cast("double").as("Target Food Cost USD"),
        count(lit(1)).as("Order Count"))
      .withColumn("Order Mix %", col("Order Count") / col("Redeemed Count"))
      .withColumn("StoreNumber", col("l_suppkey").cast("string"))
      .select(col("StoreNumber"), col("CalendarDate"),
        col("OfferCode"), col("OfferPOSDescription"),
        col("Redeemed Count"), col("Discount Amount USD"),
        col("Gross Margin USD"), col("Sales Mix USD %"),
        col("Net Sales USD"), col("Target Food Cost USD"),
        col("Order Count"), col("Order Mix %"))
  }

  val e12 = QueryDef(
    "e12_offers_e2e",
    (s, dir) => {
      val out = Pipeline.compile(SpecLoader.fromResource("offers"), offersAgg(s, dir),
        refreshedAt = Some(to_timestamp(lit(Refresh))))
      serialized(out, Seq("discount_amount_usd", "gross_margin_usd", "order_mix_pct",
        "sales_mix_usd_pct", "net_sales_usd", "target_food_cost_usd"))
    },
    Some(s"""
      WITH g AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store_number,
          CAST(l_shipdate AS DATE) AS cal_d,
          p_brand AS offer_code, p_type AS offer_pos_description,
          COUNT(*) AS redeemed,
          ${O.dsum("l_extendedprice * l_discount", 6)} AS discount_amt,
          ${O.dsum("l_extendedprice * (1.0 - l_discount) - l_quantity * p_retailprice * 0.6", 6)} AS gross_margin,
          COUNT(DISTINCT l_orderkey) / COUNT(*) AS order_mix,
          ${O.dsum("l_extendedprice * l_discount", 6)} / ${O.dsum("l_extendedprice")} AS sales_mix,
          ${O.dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS net_sales,
          COUNT(DISTINCT l_orderkey) AS order_count,
          ${O.dsum("l_quantity * p_retailprice * 0.31", 6)} AS food_cost
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2, 3, 4)
      SELECT store_number,
        strftime(cal_d, '%Y-%m-%d') AS calendar_date,
        offer_code, offer_pos_description,
        CAST(redeemed AS BIGINT) AS redeemed_count,
        ${dec2("discount_amt")} AS discount_amount_usd,
        ${dec2("gross_margin")} AS gross_margin_usd,
        ${dec2("order_mix")} AS order_mix_pct,
        ${dec2("sales_mix")} AS sales_mix_usd_pct,
        ${dec2("net_sales")} AS net_sales_usd,
        CAST(order_count AS BIGINT) AS order_count,
        ${dec2("food_cost")} AS target_food_cost_usd,
        concat_ws('_', store_number, strftime(cal_d, '%Y%m%d'), offer_code) AS business_key,
        concat_ws(' - ', store_number, CAST(cal_d AS VARCHAR), offer_code) AS display_name,
        'OARS Franchise' AS datasource,
        TIMESTAMP '$Refresh' AS lastrefreshed
      FROM g
    """.stripMargin.trim))

  /** inventory — store × date × item, one measure (`pipelines.yaml:148-159`):
    * the widest-cardinality, narrowest-measure pipeline. Item identity
    * from the part dimension (broadcast).
    */
  private[graft] def inventoryAgg(s: org.apache.spark.sql.SparkSession, dir: String,
      pre: DataFrame => DataFrame = identity): DataFrame = {
    // keyed fan-out (r19, guide §2.5) — see salesChannelAgg. Since r20
    // the fan key is the RAW long l_suppkey (a subset of the narrowed
    // group keys below), so the aggregate still reuses the fan's
    // exchange at bench layouts and needs exactly one at any other.
    val li = Tables.fanOutBy(s, dir, "lineitem",
      pre(Tables.lineitem(s, dir)), col("l_suppkey"))
    val part = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
    // r20 (guide §2.3 "narrower types"): group on the NARROW native keys
    // (long, date, long) and derive the string identities AFTER the
    // aggregate — the old shape hashed/compared two per-row UTF8String
    // casts plus p_name through a ~600 k-row near-unique-grain hash agg,
    // pure allocation churn the wire projection can pay once per GROUP
    // instead. The broadcast part join moves above the aggregate too:
    // the group keys include l_partkey (the join key), so inner-join-
    // before-agg ≡ inner-join-after-agg row for row, and the join now
    // probes group rows, not fact rows. Results are bit-identical
    // (injective key mapping, same dsum inputs); oracle + strictdiff
    // re-verified this round.
    li.groupBy(col("l_suppkey"),
        to_date(col("l_shipdate")).as("CalendarDate"), col("l_partkey"))
      .agg(dsum(col("l_quantity")).as("Qty On Hand"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(
        col("l_suppkey").cast("string").as("StoreNumber"),
        col("CalendarDate"),
        col("l_partkey").cast("string").as("ItemNumber"),
        col("p_name").as("ItemDescription"),
        col("Qty On Hand"))
  }

  val e13 = QueryDef(
    "e13_inventory_e2e",
    (s, dir) => {
      val out = Pipeline.compile(SpecLoader.fromResource("inventory"), inventoryAgg(s, dir),
        refreshedAt = Some(to_timestamp(lit(Refresh))))
      serialized(out, Seq("qty_on_hand"))
    },
    Some(s"""
      WITH g AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS store_number,
          CAST(l_shipdate AS DATE) AS cal_d,
          CAST(l_partkey AS VARCHAR) AS item_number,
          p_name AS item_description,
          ${O.dsum("l_quantity")} AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2, 3, 4)
      SELECT store_number,
        strftime(cal_d, '%Y-%m-%d') AS calendar_date,
        item_number, item_description,
        ${dec2("qty")} AS qty_on_hand,
        concat_ws('_', store_number, strftime(cal_d, '%Y%m%d'), item_number) AS business_key,
        concat_ws(' - ', store_number, CAST(cal_d AS VARCHAR), item_number) AS display_name,
        'OARS Franchise' AS datasource,
        TIMESTAMP '$Refresh' AS lastrefreshed
      FROM g
    """.stripMargin.trim))

  /** clock_in_out — store × date × employee with datetime + pay measures
    * (`pipelines.yaml:174-194`): clock in/out as min/max event time,
    * regular/overtime hours split at 8h, conditional pay sums. Runs over
    * the events table (user = employee).
    */
  private[graft] def clockInOutAgg(s: org.apache.spark.sql.SparkSession, dir: String,
      pre: DataFrame => DataFrame = identity): DataFrame = {
    // keyed fan-out (r19, guide §2.5) — see salesChannelAgg; keyed on
    // the raw long user_id since r20 (the store expression has only
    // 10 distinct values; user_id is a subset of the narrowed group
    // keys, so the aggregate reuses the fan's exchange).
    val ev = Tables.fanOutBy(s, dir, "events",
      pre(Tables.events(s, dir)), col("user_id"))
    val spanH = (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
      .cast("double") / lit(3600000000.0)
    // r20 (guide §2.3 "narrower types"): group on (user_id, date) — the
    // exact grain of the old 4-expression grouping, since StoreNumber /
    // EmployeeName / SystemUserID are all injective functions of
    // user_id — and build those display strings AFTER the aggregate,
    // once per group instead of once per event row. Bit-identical
    // output (same aggregate inputs, same double arithmetic).
    ev.groupBy(col("user_id"), to_date(col("ts")).as("CalendarDate"))
      .agg(
        min(col("ts")).as("Actual Clock In Ts"),
        max(col("ts")).as("Actual Clock Out Ts"),
        least(spanH, lit(8.0)).as("m_reg_hours_worked_sum"),
        greatest(spanH - lit(8.0), lit(0.0)).as("m_ovt_hours_worked_sum"),
        spanH.as("m_total_hours_worked_sum"),
        dsum(col("value")).as("m_total_pay_usd_sum"),
        dsum(when(col("event_type") === "click", col("value")).otherwise(lit(0.0)))
          .as("m_reg_pay_usd_sum"),
        dsum(when(col("event_type") === "view", col("value")).otherwise(lit(0.0)))
          .as("m_ovt_pay_usd_sum"))
      .select(
        (col("user_id") % 10).cast("string").as("StoreNumber"),
        col("CalendarDate"),
        concat(lit("U"), col("user_id").cast("string")).as("EmployeeName"),
        col("user_id").cast("string").as("SystemUserID"),
        col("Actual Clock In Ts"), col("Actual Clock Out Ts"),
        col("m_reg_hours_worked_sum"), col("m_ovt_hours_worked_sum"),
        col("m_total_hours_worked_sum"), col("m_total_pay_usd_sum"),
        col("m_reg_pay_usd_sum"), col("m_ovt_pay_usd_sum"))
  }

  val e14 = QueryDef(
    "e14_clockinout_e2e",
    (s, dir) => {
      val out = Pipeline.compile(SpecLoader.fromResource("clock_in_out"), clockInOutAgg(s, dir),
        refreshedAt = Some(to_timestamp(lit(Refresh))))
      serialized(out, Seq("m_reg_hours_worked_sum", "m_ovt_hours_worked_sum",
        "m_total_hours_worked_sum", "m_total_pay_usd_sum",
        "m_reg_pay_usd_sum", "m_ovt_pay_usd_sum"))
    },
    Some(s"""
      WITH g AS (
        SELECT CAST(user_id % 10 AS VARCHAR) AS store_number,
          CAST(ts AS DATE) AS cal_d,
          'U' || CAST(user_id AS VARCHAR) AS employee_name,
          CAST(user_id AS VARCHAR) AS system_user_id,
          MIN(CAST(ts AS TIMESTAMP)) AS clock_in,
          MAX(CAST(ts AS TIMESTAMP)) AS clock_out,
          CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) - epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS DOUBLE)
            / 3600000000.0 AS span_h,
          ${O.dsum("value")} AS total_pay,
          ${O.dsum("CASE WHEN event_type = 'click' THEN value ELSE 0.0 END")} AS reg_pay,
          ${O.dsum("CASE WHEN event_type = 'view' THEN value ELSE 0.0 END")} AS ovt_pay
        FROM events
        GROUP BY 1, 2, 3, 4)
      SELECT store_number,
        strftime(cal_d, '%Y-%m-%d') AS calendar_date,
        employee_name, system_user_id,
        clock_in AS actual_clock_in_ts,
        clock_out AS actual_clock_out_ts,
        ${dec2("LEAST(span_h, 8.0)")} AS m_reg_hours_worked_sum,
        ${dec2("GREATEST(span_h - 8.0, 0.0)")} AS m_ovt_hours_worked_sum,
        ${dec2("span_h")} AS m_total_hours_worked_sum,
        ${dec2("total_pay")} AS m_total_pay_usd_sum,
        ${dec2("reg_pay")} AS m_reg_pay_usd_sum,
        ${dec2("ovt_pay")} AS m_ovt_pay_usd_sum,
        concat_ws('_', store_number, strftime(cal_d, '%Y%m%d'),
          regexp_replace(employee_name, '[ -]', '_', 'g'), system_user_id) AS business_key,
        concat_ws(' - ', store_number, CAST(cal_d AS VARCHAR), employee_name) AS display_name,
        'OARS Franchise' AS datasource,
        TIMESTAMP '$Refresh' AS lastrefreshed
      FROM g
    """.stripMargin.trim))

  def all: Seq[QueryDef] = Seq(e11, e12, e13, e14)
}
