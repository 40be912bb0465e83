package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{col, sum}
import graft.ops.Orchestrator
import graft.ops.Orchestrator.{Rolling, VersionedSink}

/** The frame an orchestrated sync persists: sized to the session's
  * parallelism whatever the AQE initial shuffle width, and released with
  * every cache made for it when the sync ends.
  */
class SyncFrameSpec extends SparkSpec {
  /** The sf0.01 directory beside the specs' own scale factor. */
  private val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-sync-frame")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("a re-sync in the same session reads the rewritten fact, not a cached aggregate") {
    withTempDir { tmp =>
      val data = Files.createDirectory(tmp.resolve("sf"))
      new java.io.File(sf001).listFiles()
        .foreach(f => Files.copy(f.toPath, data.resolve(f.getName)))
      val sink = VersionedSink(p => tmp.resolve(s"tables/$p").toString)
      def sync(): Unit = {
        val r = Orchestrator.run(spark, data.toString, "sales_channel", Rolling(14), None, sink)
        assert(r.error.isEmpty && r.rows > 0, r)
      }
      def tyNet(): BigDecimal = BigDecimal(graft.sinks.VersionedTable
        .read(spark, sink.rootOf(spark, "sales_channel"))
        .agg(sum(col("ty_net_sales_usd"))).head().getDecimal(0))
      sync()
      val first = tyNet()
      assert(first > 0)
      // rewrite the fact in place with every extended price doubled
      val fact = data.resolve("lineitem.parquet")
      val doubled = data.resolve("lineitem_doubled.parquet")
      val li = spark.read.parquet(fact.toString)
      li.withColumn("l_extendedprice",
          (col("l_extendedprice") * 2).cast(li.schema("l_extendedprice").dataType))
        .write.parquet(doubled.toString)
      Files.delete(fact)
      Files.move(doubled, fact)
      sync()
      assert(tyNet() == 2 * first, s"first sync published $first")
    }
  }

  test("a sync leaves no cache entry behind, for every pipeline") {
    withTempDir { tmp =>
      val sink = VersionedSink(p => tmp.resolve(p).toString)
      Orchestrator.pipelines.foreach { p =>
        spark.catalog.clearCache() // whatever earlier specs cached
        val r = Orchestrator.run(spark, sfDir, p, Rolling(14), None, sink)
        assert(r.error.isEmpty && r.rows > 0, r)
        assert(spark.sharedState.cacheManager.isEmpty, s"$p left a cache entry behind")
      }
    }
  }

  test("a sync under the Deploy shuffle width writes at most 2x shuffle.partitions files per touched partition") {
    val n = spark.sessionState.conf.defaultNumShufflePartitions
    val prev = spark.conf.getOption(Session.InitialPartitionNum)
    spark.conf.set(Session.InitialPartitionNum, (16 * n).toString)
    try withTempDir { tmp =>
      val root = tmp.resolve("inventory")
      val sink = VersionedSink(_ => root.toString)
      Seq(1, 2).foreach { _ =>
        val r = Orchestrator.run(spark, sf001, "inventory", Rolling(14), None, sink)
        assert(r.error.isEmpty && r.rows > 0, r)
      }
      def manifest(v: Int): Seq[(String, String)] =
        Files.readAllLines(root.resolve(f"manifest-v$v%08d.txt")).asScala.toSeq
          .filter(_.nonEmpty).map { line =>
            val Array(commit, rel) = line.split('\t'); (commit, rel)
          }
      val created = manifest(1).map(_._1).toSet
      // the update commit writes one file per task of the merge's union:
      // the read-back's few splits plus the synced frame's partitions
      val touched = manifest(2).filterNot { case (c, _) => created(c) }
      assert(touched.nonEmpty, manifest(2))
      touched.foreach { case (commit, rel) =>
        val files = Files.list(root.resolve(commit).resolve(rel))
        val parquet =
          try files.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
          finally files.close()
        assert(parquet >= 1 && parquet <= 2 * n,
          s"$rel holds $parquet data files for $n shuffle partitions")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(Session.InitialPartitionNum, v)
      case None => spark.conf.unset(Session.InitialPartitionNum)
    }
  }
}
