package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Testdata-drift smoke spec: the driver regenerates
  * `/root/testdata/sf*` between rounds and has already changed the
  * physical encoding of `events.ts` twice (TIMESTAMP(NANOS) → µs
  * TIMESTAMP_NTZ). Round 7 lost 14 queries to that silently. This suite
  * is the early-warning: it loads EVERY table the engine reads at
  * sf0.001 and asserts the post-load column types the query layer
  * assumes, failing with the table+column name — plus unit coverage of
  * each `Tables.events` schema branch so a fourth encoding fails loudly
  * instead of silently-late.
  */
class TablesSpec extends SparkSpec {

  /** Post-load types the engine's query layer assumes. For `events` the
    * load goes through `Tables.events` (the normalizing path), so `ts`
    * must always come back TimestampType no matter the file encoding.
    * `orders`/`lineitem` date columns are read raw and currently infer as
    * TIMESTAMP_NTZ — value-identical to TimestampType under the pinned
    * UTC session TZ, and the whole oracle suite is green with either — so
    * those accept both flavors (see `TsLike`).
    */
  private val TsLike: DataType = new DataType {
    override def defaultSize = 8
    override def asNullable: DataType = this
    override def typeName = "timestamp-like"
  }

  private def accepts(want: DataType, got: DataType): Boolean =
    if (want eq TsLike) got == TimestampType || got == TimestampNTZType
    else want == got

  private val expected: Map[String, Map[String, DataType]] = Map(
    "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Map(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Map(
      "s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> Map(
      "p_partkey" -> LongType, "p_brand" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TsLike,
      "o_orderpriority" -> StringType),
    "lineitem" -> Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_shipdate" -> TsLike),
    "events" -> Map(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Map(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)
  )

  test("every driver table loads at sf0.001 with the types the engine assumes") {
    val problems = Tables.names.flatMap { name =>
      val df =
        if (name == "events") Tables.events(spark, sfDir)
        else Tables(spark, sfDir, name)
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      expected(name).flatMap { case (col, want) =>
        fields.get(col) match {
          case None => Some(s"$name.$col: column missing (testdata drift)")
          case Some(got) if !accepts(want, got) =>
            Some(s"$name.$col: expected ${want.typeName}, testdata now loads as $got")
          case _ => None
        }
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("every driver table is non-empty at sf0.001") {
    Tables.names.foreach { name =>
      val n = Tables(spark, sfDir, name).count()
      assert(n > 0, s"$name.parquet is empty at sf0.001")
    }
  }

  // --- Tables.events schema branches -------------------------------------

  private def withTmp[A](f: String => A): A = {
    val dir = Files.createTempDirectory("tables-spec").toFile
    try f(dir.getAbsolutePath)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  private val t0 = Timestamp.valueOf("2024-03-01 12:34:56.789")

  test("events branch: native µs TimestampType passes through") {
    import spark.implicits._
    withTmp { dir =>
      Seq((1L, t0, 7L, "view", 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType == TimestampType)
      assert(got.select("ts").as[Timestamp].collect().toSeq == Seq(t0))
    }
  }

  test("events branch: TIMESTAMP_NTZ casts to TimestampType, value-identical under UTC") {
    import spark.implicits._
    withTmp { dir =>
      Seq((1L, t0, 7L, "view", 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast(TimestampNTZType))
        .write.parquet(s"$dir/events.parquet")
      assert(spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType == TimestampNTZType)
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType == TimestampType)
      assert(got.select("ts").as[Timestamp].collect().toSeq == Seq(t0))
    }
  }

  test("events branch: long ts with footer-confirmed nanos converts ns→µs exactly") {
    import spark.implicits._
    val nanos = t0.getTime * 1000000L + 789L // sub-µs part must truncate
    val raw = Seq((1L, nanos)).toDF("event_id", "ts")
    val got = Tables.normalizeEventsTs(raw, knownNanos = true)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select("ts").as[Timestamp].collect().toSeq == Seq(t0))
  }

  test("events branch: long ts WITHOUT footer-confirmed nanos fails loudly (unknown unit)") {
    import spark.implicits._
    val raw = Seq((1L, 12345L)).toDF("event_id", "ts")
    val e = intercept[IllegalStateException] {
      Tables.normalizeEventsTs(raw, knownNanos = false)
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("events branch: a fourth encoding (string ts) fails loudly, not silently") {
    import spark.implicits._
    val raw = Seq((1L, "2024-03-01")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException] {
      Tables.normalizeEventsTs(raw, knownNanos = false)
    }
    assert(e.getMessage.contains("drifted"))
  }

  /** Write a GENUINE parquet file whose ts column is annotated
    * TIMESTAMP(NANOS) — the encoding Spark cannot write but the driver
    * has shipped — so the whole events() path (rejection, legacy-conf
    * retry, footer detection, ns→µs truncation) is exercised end to end.
    */
  private def writeNanosEvents(path: String, eventId: Long, tsNanos: Long): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, PrimitiveType, Types}
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.example.data.simple.SimpleGroup
    val schema = Types.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveType.PrimitiveTypeName.INT64)
        .as(LTA.timestampType(false, LTA.TimeUnit.NANOS)).named("ts")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).build()
    try {
      val g = new SimpleGroup(schema)
      g.add("event_id", eventId)
      g.add("ts", tsNanos)
      w.write(g)
    } finally w.close()
  }

  test("events e2e: genuine TIMESTAMP(NANOS) file → retry + footer detection → µs values") {
    import spark.implicits._
    val nanos = t0.getTime * 1000000L + 789L
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      withTmp { dir =>
        writeNanosEvents(s"$dir/events.parquet", 1L, nanos)
        assert(Tables.eventsTsIsNanosOnDisk(spark, dir))
        // first read in the session: PARQUET_TYPE_ILLEGAL → retry path
        val got = Tables.events(spark, dir)
        assert(got.schema("ts").dataType == TimestampType)
        assert(got.select("ts").as[Timestamp].collect().toSeq == Seq(t0))
      }
      // second nanos dir in the SAME session: the sticky conf means no
      // exception is thrown this time — the footer must still say nanos
      withTmp { dir2 =>
        writeNanosEvents(s"$dir2/events.parquet", 2L, nanos)
        val got2 = Tables.events(spark, dir2)
        assert(got2.select("ts").as[Timestamp].collect().toSeq == Seq(t0))
      }
      // and a genuine unknown-unit BIGINT dir in the same nanos session
      // must STILL fail loudly — the footer, not the conf, decides
      withTmp { dir3 =>
        import spark.implicits._
        Seq((1L, 12345L)).toDF("event_id", "ts").write.parquet(s"$dir3/events.parquet")
        assert(!Tables.eventsTsIsNanosOnDisk(spark, dir3))
        intercept[IllegalStateException](Tables.events(spark, dir3))
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("scan-layout fan-out: repartitions row-group-bound reads, identity on healthy layouts") {
    // r19 optimization: every sf table is ONE file with ONE row group,
    // so effective scan parallelism is 1 regardless of split count —
    // the fan-out must fire there...
    assert(Tables.effectiveScanParallelism(spark, s"$sfDir/lineitem.parquet") == 1)
    val fanned = Tables.fanOut(spark, sfDir, "lineitem", Tables.lineitem(spark, sfDir))
    assert(fanned.rdd.getNumPartitions ==
      spark.sessionState.conf.defaultNumShufflePartitions)
    // ...and the KEYED form must satisfy a downstream aggregate's
    // clustering so the plan holds exactly ONE exchange (the fan
    // itself, below the scan) — the property every fanOutBy call site
    // relies on for "exchange count unchanged at every scale"
    val agg = Tables
      .fanOutBy(spark, sfDir, "lineitem", Tables.lineitem(spark, sfDir),
        col("l_suppkey"))
      .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    // row CONTENT is unchanged by the fan (only distribution moves)
    val want = Tables.lineitem(spark, sfDir).groupBy("l_suppkey")
      .agg(count(lit(1)).as("n")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    // healthy layout (≥ cores data files): both helpers are the IDENTITY
    // — no exchange is ever added at production-shaped inputs
    withTmp { dir =>
      spark.range(1000).repartition(8).write.parquet(s"$dir/fat.parquet")
      val df = spark.read.parquet(s"$dir/fat.parquet")
      assert(Tables.fanOut(spark, dir, "fat", df) eq df)
      assert(Tables.fanOutBy(spark, dir, "fat", df, col("id")) eq df)
      assert(Tables.effectiveScanParallelism(spark, s"$dir/fat.parquet") >= 8)
    }
  }

  test("scan-layout fan-out: cores wide under the Deploy shuffle width") {
    // AQE never coalesces a repartition by number, so a fan sized to
    // the initial width would run 16 tasks per core
    val n = spark.sessionState.conf.defaultNumShufflePartitions
    val prev = spark.conf.getOption(Session.InitialPartitionNum)
    spark.conf.set(Session.InitialPartitionNum, (16 * n).toString)
    try {
      assert(spark.sessionState.conf.numShufflePartitions == 16 * n)
      val li = Tables.lineitem(spark, sfDir)
      assert(Tables.fanOut(spark, sfDir, "lineitem", li).rdd.getNumPartitions == n)
      assert(Tables.fanOutBy(spark, sfDir, "lineitem", li, col("l_suppkey"))
        .rdd.getNumPartitions == n)
    } finally prev match {
      case Some(v) => spark.conf.set(Session.InitialPartitionNum, v)
      case None => spark.conf.unset(Session.InitialPartitionNum)
    }
  }

  test("a parquet dir rewritten in place with an added column reads back with the new schema") {
    withTmp { dir =>
      spark.range(3).write.parquet(s"$dir/t.parquet")
      assert(Tables(spark, dir, "t").columns.toSeq == Seq("id"))
      spark.range(3).withColumn("extra", col("id") * 2)
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val again = Tables(spark, dir, "t")
      assert(again.columns.toSeq == Seq("id", "extra"))
      assert(again.agg(sum("extra")).head().getLong(0) == 6L)
    }
  }

  test("scan-layout probe: partitioned layouts healthy, failures uncached, rewrites re-probed") {
    // ADVICE r19 (medium): a Hive-style directory-partitioned table has
    // NO top-level *.parquet files — the probe must report it HEALTHY
    // (identity fan-out), not inject a permanent full-table repartition
    // at production scale
    withTmp { dir =>
      spark.range(100).selectExpr("id", "id % 3 AS k")
        .write.partitionBy("k").parquet(s"$dir/part.parquet")
      assert(Tables.effectiveScanParallelism(spark, s"$dir/part.parquet") == Int.MaxValue)
      val df = spark.read.parquet(s"$dir/part.parquet")
      assert(Tables.fanOut(spark, dir, "part", df) eq df)
    }
    // ADVICE r19 (low): the failure sentinel must not be cached — a
    // probe that ran before the file existed must not pin "healthy"
    // forever once the (unhealthy) file appears
    withTmp { dir =>
      assert(Tables.effectiveScanParallelism(spark, s"$dir/late.parquet") == Int.MaxValue)
      spark.range(100).coalesce(1).write.parquet(s"$dir/late.parquet")
      assert(Tables.effectiveScanParallelism(spark, s"$dir/late.parquet") < Int.MaxValue)
    }
    // ...and a REWRITTEN layout re-probes (mtime cache key): a reused
    // dir that goes from 1 file to ≥cores files flips to healthy
    withTmp { dir =>
      spark.range(100).coalesce(1).write.parquet(s"$dir/re.parquet")
      val before = Tables.effectiveScanParallelism(spark, s"$dir/re.parquet")
      assert(before <= 1)
      Thread.sleep(1100) // ensure a distinct directory mtime second
      spark.range(1000).repartition(8).write.mode("overwrite").parquet(s"$dir/re.parquet")
      assert(Tables.effectiveScanParallelism(spark, s"$dir/re.parquet") >= 8)
    }
  }

  test("nanos-illegal detector matches error class and wrapped messages") {
    val byMessage = new RuntimeException(
      "caused by [PARQUET_TYPE_ILLEGAL] Illegal Parquet type: INT64 (TIMESTAMP(NANOS,false))")
    assert(Tables.isParquetNanosIllegal(byMessage))
    assert(!Tables.isParquetNanosIllegal(new RuntimeException("boom")))
  }
}
