package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable
import graft.streaming.EventStream

/** Crash-atomic versioned table: merge lifecycle, the kill-between-write-
  * and-publish crash test the plain INSERT OVERWRITE path can't pass,
  * moved-key rewrite, vacuum, and the streaming upsert built on it.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString + "/t"

  test("merge lifecycle: insert, partition-scoped upsert, read newest version") {
    val root = tmp("graft-vt")
    val v1 = Seq((1, "2024", "a"), (2, "2024", "b"), (3, "2025", "c"))
      .toDF("k", "fy", "v")
    VersionedTable.merge(spark, root, v1, "k", Seq("fy"))
    val v2 = Seq((2, "2024", "b2"), (4, "2024", "d")).toDF("k", "fy", "v")
    VersionedTable.merge(spark, root, v2, "k", Seq("fy"))
    val out = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a", 2 -> "b2", 3 -> "c", 4 -> "d"))
    // partition scoping: fy=2025's files were written exactly once — the
    // second merge (touching only fy=2024) must not have rewritten them
    val manifests = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("manifest-v")).map(_.getName).sorted
    assert(manifests.toSeq == Seq("manifest-v00000001.txt", "manifest-v00000002.txt"))
    val fy2025Commits = scala.io.Source.fromFile(s"$root/manifest-v00000002.txt")
      .getLines().filter(_.contains("fy=2025")).toSeq
    val fy2025V1 = scala.io.Source.fromFile(s"$root/manifest-v00000001.txt")
      .getLines().filter(_.contains("fy=2025")).toSeq
    assert(fy2025Commits == fy2025V1, "untouched partition must keep its v1 entry")
  }

  test("crash between data write and manifest publish leaves old version readable") {
    val root = tmp("graft-vt-crash")
    val v1 = Seq((1, "2024", "a"), (2, "2025", "b")).toDF("k", "fy", "v")
    VersionedTable.merge(spark, root, v1, "k", Seq("fy"))
    val before = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap

    // die AFTER the new commit's parquet is fully written, BEFORE publish
    val boom = intercept[RuntimeException] {
      VersionedTable.merge(spark, root,
        Seq((1, "2024", "CORRUPT")).toDF("k", "fy", "v"), "k", Seq("fy"),
        onBeforePublish = () => throw new RuntimeException("kill -9"))
    }
    assert(boom.getMessage == "kill -9")
    // the table still reads the previous state — no partial overwrite
    val after = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(after == before)
    // and the next merge recovers cleanly on top
    VersionedTable.merge(spark, root,
      Seq((1, "2024", "a2")).toDF("k", "fy", "v"), "k", Seq("fy"))
    val healed = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(healed == Map(1 -> "a2", 2 -> "b"))
  }

  test("a write that fails before or at its publish deletes its commit dir") {
    import graft.sinks.ManifestLog
    val root = tmp("graft-vt-failed")
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def unnamed(): Set[String] = {
      val named = VersionedTable.readManifest(fs, dir,
        VersionedTable.version(spark, root)).map(_.commit).toSet
      new java.io.File(s"$root/commits").listFiles().map(f => s"commits/${f.getName}")
        .toSet -- named
    }
    val v1 = Seq((1, "2024", "a"), (2, "2025", "b")).toDF("k", "fy", "v")
    VersionedTable.merge(spark, root, v1, "k", Seq("fy"))
    val e = intercept[RuntimeException](VersionedTable.merge(spark, root,
      Seq((1, "2024", "x")).toDF("k", "fy", "v"), "k", Seq("fy"),
      onBeforePublish = () => sys.error("died before publish")))
    assert(e.getMessage == "died before publish")
    assert(unnamed().isEmpty, s"a failed merge left ${unnamed()}")
    // an overwrite that loses its publish to a concurrent writer
    val lost = intercept[RuntimeException](VersionedTable.overwrite(spark, root, v1,
      Seq("fy"), onBeforePublish = () => ManifestLog.publish(fs, dir, 2,
        ManifestLog.read(fs, dir, 1))))
    assert(lost.getMessage.contains("concurrent commit"), lost.getMessage)
    assert(unnamed().isEmpty, s"a lost overwrite left ${unnamed()}")
    assert(VersionedTable.read(spark, root).select("k", "v").as[(Int, String)]
      .collect().toMap == Map(1 -> "a", 2 -> "b"))
  }

  test("unpartitioned table: full-rewrite merge, still atomic") {
    val root = tmp("graft-vt-flat")
    VersionedTable.merge(spark, root, Seq((1, "a"), (2, "b")).toDF("k", "v"), "k")
    VersionedTable.merge(spark, root, Seq((2, "b2")).toDF("k", "v"), "k")
    val out = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a", 2 -> "b2"))
  }

  test("removeMovedKeys rewrites the stale partition of a moved key") {
    val root = tmp("graft-vt-moved")
    VersionedTable.merge(spark, root,
      Seq((1, "2024", "a"), (2, "2025", "b")).toDF("k", "fy", "v"), "k", Seq("fy"))
    // key 1 moves 2024 → 2025; without moved-key handling its 2024 row
    // would survive as a duplicate business key
    val upd = Seq((1, "2025", "a-moved")).toDF("k", "fy", "v")
    VersionedTable.merge(spark, root, upd, "k", Seq("fy"), removeMovedKeys = true)
    val out = VersionedTable.read(spark, root)
      .select("k", "fy", "v").as[(Int, String, String)].collect().toSet
    assert(out == Set((1, "2025", "a-moved"), (2, "2025", "b")))
  }

  test("null partition value round-trips (no silent loss)") {
    val root = tmp("graft-vt-null")
    VersionedTable.merge(spark, root,
      Seq((1, Some("2024"), "a"), (2, None, "b"))
        .toDF("k", "fy", "v"), "k", Seq("fy"))
    VersionedTable.merge(spark, root,
      Seq((2, Option.empty[String], "b2")).toDF("k", "fy", "v"), "k", Seq("fy"))
    val out = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a", 2 -> "b2"))
  }

  test("vacuum drops old manifests and dead data, keeps the live version") {
    val root = tmp("graft-vt-vac")
    VersionedTable.merge(spark, root,
      Seq((1, "2024", "a"), (2, "2025", "b")).toDF("k", "fy", "v"), "k", Seq("fy"))
    VersionedTable.merge(spark, root,
      Seq((1, "2024", "a2")).toDF("k", "fy", "v"), "k", Seq("fy"))
    VersionedTable.vacuum(spark, root)
    val files = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(files.count(_.startsWith("manifest-v")) == 1)
    val out = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a2", 2 -> "b"))
    // the dead fy=2024 dir in the first commit is gone; live 2025 stays
    val commitDirs = new java.io.File(s"$root/commits").listFiles().toSeq
    val deadParts = commitDirs.flatMap(c =>
      Option(c.listFiles()).toSeq.flatten.filter(_.isDirectory))
    assert(deadParts.forall(d => VersionedTable.read(spark, root).count() == 2))
  }

  test("retention vacuum after 50 merges: pinned reader survives, metadata stays bounded") {
    val root = tmp("graft-vt-retain")
    // 50 daily-style merges: every merge touches fy=2025, key k cycles so
    // older commits keep some live data and accumulate some dead data
    (1 to 50).foreach { i =>
      VersionedTable.merge(spark, root,
        Seq((i % 7, "2025", s"v$i"), (100 + i, "2024", s"w$i"))
          .toDF("k", "fy", "v"), "k", Seq("fy"))
    }
    val v = VersionedTable.version(spark, root)
    assert(v == 50)
    val newest = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    val prev = VersionedTable.readAt(spark, root, v - 1)
      .select("k", "v").as[(Int, String)].collect().toMap
    // v-1 lacks exactly the last merge's writes
    assert(newest(150) == "w50" && !prev.contains(150))

    VersionedTable.vacuum(spark, root, retainVersions = 3)
    // manifest listing is bounded by the window, not the 50 commits
    val files = new java.io.File(root).listFiles().map(_.getName)
    assert(files.count(_.startsWith("manifest-v")) == 3, files.mkString(","))
    // a reader pinned one version back still reads through the vacuum
    val prevAfter = VersionedTable.readAt(spark, root, v - 1)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(prevAfter == prev)
    assert(VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap == newest)
    // below the window: manifest gone, readAt refuses loudly
    intercept[IllegalArgumentException](VersionedTable.readAt(spark, root, v - 3))
    // commit dirs referenced only by vacuumed versions are gone: the
    // fy=2025 partition is rewritten every merge, so at most the 3
    // retained versions (+ the long-lived fy=2024 commits, one per merge,
    // all still live in the retained manifests) remain
    val commits = new java.io.File(s"$root/commits").listFiles().toSeq
    val live2025 = commits.count(c =>
      Option(c.listFiles()).toSeq.flatten.exists(_.getName.startsWith("fy=2025")))
    assert(live2025 <= 3, s"dead fy=2025 rewrites not vacuumed: $live2025")

    // steady state: merge + vacuum(1) keeps exactly one manifest
    VersionedTable.merge(spark, root,
      Seq((999, "2025", "z")).toDF("k", "fy", "v"), "k", Seq("fy"))
    VersionedTable.vacuum(spark, root, retainVersions = 1)
    val files2 = new java.io.File(root).listFiles().map(_.getName)
    assert(files2.count(_.startsWith("manifest-v")) == 1)
    assert(VersionedTable.read(spark, root).filter(col("k") === 999).count() == 1)
  }

  test("compact bin-packs small-file partitions: same rows, one file, preserved dir names") {
    val root = tmp("graft-vt-compact")
    // 5 daily-style merges, each growing the hot fy=2025 partition: every
    // rewrite goes through the 4-way shuffle, so the partition's live
    // data ends up as many sub-target-size files (read amplification);
    // the cold fy=2024 partition stays one row = one file
    (1 to 5).foreach { i =>
      val hot = (1 to 10).map(j => (i * 100 + j, "2025", s"v$i-$j"))
      VersionedTable.merge(spark, root,
        (hot :+ ((1000, "2024", s"cold$i"))).toDF("k", "fy", "v"), "k", Seq("fy"))
    }
    val before = VersionedTable.read(spark, root)
      .select("k", "fy", "v").as[(Int, String, String)].collect().toSet
    val vBefore = VersionedTable.version(spark, root)
    def liveFilesOf(part: String): Seq[java.io.File] = {
      val manifest = f"$root/manifest-v${VersionedTable.version(spark, root)}%08d.txt"
      scala.io.Source.fromFile(manifest).getLines()
        .filter(_.endsWith(part)).map(_.split('\t')).flatMap { case Array(c, r) =>
          new java.io.File(s"$root/$c/$r").listFiles().toSeq
            .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        }.toSeq
    }
    assert(liveFilesOf("fy=2025").size > 1, "precondition: hot partition has small files")

    val n = VersionedTable.compact(spark, root)
    assert(n == 1, s"exactly the hot partition needed compaction, got $n")
    assert(VersionedTable.version(spark, root) == vBefore + 1)
    // pure reorganization: live row set is identical
    val after = VersionedTable.read(spark, root)
      .select("k", "fy", "v").as[(Int, String, String)].collect().toSet
    assert(after == before)
    // bin-packed to the target (tiny data → exactly one file), dir name
    // preserved byte-for-byte for merge's string-matched routing
    assert(liveFilesOf("fy=2025").size == 1)
    // a reader pinned to the pre-compaction version still works
    assert(VersionedTable.readAt(spark, root, vBefore)
      .select("k", "fy", "v").as[(Int, String, String)].collect().toSet == before)
    // a second compact is a no-op (nothing oversized, no version bump)
    assert(VersionedTable.compact(spark, root) == 0)
    assert(VersionedTable.version(spark, root) == vBefore + 1)
    // merges keep routing into the compacted partition correctly
    VersionedTable.merge(spark, root,
      Seq((101, "2025", "v1-post")).toDF("k", "fy", "v"), "k", Seq("fy"))
    val healed = VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(healed(101) == "v1-post" && healed(1000) == "cold5" && healed.size == before.size)
    // vacuum sweeps the pre-compaction small-file commits
    VersionedTable.vacuum(spark, root, retainVersions = 1)
    assert(VersionedTable.read(spark, root)
      .select("k", "v").as[(Int, String)].collect().toMap == healed)
  }

  test("compact with sortCols clusters files into disjoint key ranges (min/max skipping)") {
    val root = tmp("graft-vt-sorted")
    // one partition, keys interleaved across the 4-way shuffle: without
    // clustering every file spans nearly the full key range and a key
    // predicate can never skip a file on parquet min/max stats
    VersionedTable.merge(spark, root,
      (1 to 400).map(k => (k, "2025", s"v$k")).toDF("k", "fy", "v"), "k", Seq("fy"))
    def liveFiles(): Seq[java.io.File] = {
      val manifest = f"$root/manifest-v${VersionedTable.version(spark, root)}%08d.txt"
      scala.io.Source.fromFile(manifest).getLines().map(_.split('\t')).flatMap {
        case Array(c, r) => new java.io.File(s"$root/$c/$r").listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      }.toSeq
    }
    val preBytes = liveFiles().map(_.length).sum
    // pick the target so the bin-packing lands on ~3 clustered files
    val n = VersionedTable.compact(spark, root,
      targetFileBytes = math.max(1L, (preBytes + 2) / 3), sortCols = Seq("k"))
    assert(n == 1)
    val files = liveFiles()
    assert(files.size >= 2, "need >=2 files to demonstrate range disjointness")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath).agg(min(col("k")), max(col("k")))
        .as[(Int, Int)].collect().head
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"file key ranges overlap: $ranges")
      case _ => ()
    }
    // clustering is still pure reorganization
    assert(VersionedTable.read(spark, root).count() == 400)
  }

  test("mergeSchema evolution: new column lands, untouched partitions read it as null") {
    val root = tmp("graft-vt-evolve")
    VersionedTable.merge(spark, root,
      Seq((1, "2024", "a"), (2, "2025", "b")).toDF("k", "fy", "v"), "k", Seq("fy"))
    // the pipeline grows a column; the merge touches only fy=2025
    VersionedTable.merge(spark, root,
      Seq((2, "2025", "b2", 9.5), (3, "2025", "c", 1.5)).toDF("k", "fy", "v", "score"),
      "k", Seq("fy"), mergeSchema = true)
    val out = VersionedTable.read(spark, root)
      .select("k", "v", "score").as[(Int, String, Option[Double])]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // rewritten rows carry the new column; the untouched fy=2024
    // partition reads it as null (parquet-mergeSchema semantics)
    assert(out == Map(1 -> (("a", None)), 2 -> (("b2", Some(9.5))), 3 -> (("c", Some(1.5)))))
    // strict default: without mergeSchema an extra column is dropped and
    // the existing surface is unchanged
    VersionedTable.merge(spark, root,
      Seq((1, "2024", "a2", 7.7)).toDF("k", "fy", "v", "extra"), "k", Seq("fy"))
    val cols = VersionedTable.read(spark, root).columns.toSet
    assert(cols == Set("k", "fy", "v", "score"), cols)
    // an update missing an evolved column replaces the row with null
    // there (replace is whole-row), and the schema stays evolved
    VersionedTable.merge(spark, root,
      Seq((3, "2025", "c2")).toDF("k", "fy", "v"), "k", Seq("fy"), mergeSchema = true)
    val out2 = VersionedTable.read(spark, root)
      .select("k", "v", "score").as[(Int, String, Option[Double])]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out2(3) == (("c2", None)) && out2(2) == (("b2", Some(9.5))), out2)
  }

  test("upsertStream: atomic micro-batch merge, idempotent state") {
    val base = Files.createTempDirectory("graft-vt-stream")
    val root = base.resolve("table").toString
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-05-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-05-02 11:00:00"), 8L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.parquet(base.resolve("src1").toString)
    EventStream.upsertStream(
      EventStream.read(spark, base.resolve("src1").toString), root,
      base.resolve("ck1").toString)
      .awaitTermination(120000)
    val upd = Seq(
      (2L, java.sql.Timestamp.valueOf("2024-05-02 11:30:00"), 8L, "view", 9.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-05-03 12:00:00"), 9L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    upd.write.parquet(base.resolve("src2").toString)
    EventStream.upsertStream(
      EventStream.read(spark, base.resolve("src2").toString), root,
      base.resolve("ck2").toString)
      .awaitTermination(120000)
    val out = VersionedTable.read(spark, root)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 1.0, 2L -> 9.0, 3L -> 3.0))
  }

  test("no dynamic partition overwrite in src/main/scala outside TableManager.scala and MergeWriter.scala") {
    // every keyed write but the catalog-table merge commits through
    // VersionedTable's manifest rename; a conf flip to dynamic partition
    // overwrite elsewhere is a second, non-atomic commit path
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root)
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val allowed = Set("TableManager.scala", "MergeWriter.scala")
    val hits = files
      .filterNot(p => allowed.contains(p.getFileName.toString))
      .filter(p => new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.ISO_8859_1).contains("partitionOverwriteMode"))
    assert(hits.isEmpty, s"partitionOverwriteMode in ${hits.mkString(", ")}")
  }
}
