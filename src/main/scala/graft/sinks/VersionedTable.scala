package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Atomic, versioned parquet table — the transactional commit protocol the
  * plain `INSERT OVERWRITE` merge path (`TableManager.mergeInto`) lacks.
  *
  * The reference's sink is per-row atomic (PATCH by alternate key,
  * `/root/reference/modules/dataverse.py:88`); a parquet dynamic-partition
  * overwrite is not — a crash between staging cleanup and overwrite leaves
  * a partial table. This table format closes that window with the standard
  * log-structured design (the same shape Delta/Iceberg use, reduced to
  * what parquet + a rename-atomic filesystem can guarantee):
  *
  * {{{
  * root/
  *   manifest-v00000001.txt     one line per live (commit, partition) pair
  *   manifest-v00000002.txt     newest complete manifest wins
  *   commits/c-<uuid>/fy=1995/part-*.parquet   immutable once written
  * }}}
  *
  * - **Data files are immutable.** A merge writes only the touched
  *   partitions into a fresh commit directory; no file referenced by any
  *   published manifest is ever modified or deleted (until `vacuum`).
  * - **Publish is one atomic rename** of a complete temp manifest to its
  *   versioned name. A crash before the rename leaves the previous
  *   version fully readable; after it, the new one. There is no window
  *   where a reader sees a partial table.
  * - **Readers take the highest-numbered manifest** — no pointer file to
  *   corrupt, and a half-written temp manifest is never eligible.
  *
  * Partition-scoped like `TableManager.mergeInto`: only partitions present
  * in the updates are read back and rewritten; at 100 TB a daily merge
  * touches the trailing partitions of a years-deep table and the manifest
  * (KBs — one line per live partition) is the only whole-table metadata.
  *
  * '''Moved-key contract''' (same as any partition-scoped merge): partition
  * columns must be functionally derived from the business key (e.g. the FY
  * embedded in the key). If they are not, a key whose partition value
  * changes would leave its stale row in the old partition — pass
  * `removeMovedKeys = true` to detect that with a key-join against the
  * untouched partitions (an extra column-pruned scan of the rest of the
  * table) and rewrite the affected partitions too.
  *
  * Single-writer: concurrent merges race on the manifest rename; the loser
  * fails (rename onto an existing name) rather than corrupting state.
  */
object VersionedTable {

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** One live unit of data: a commit directory and a Hive-style partition
    * path inside it ("" for an unpartitioned table = the whole commit).
    */
  final case class Entry(commit: String, relPath: String)

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hive-style path escaping (subset of Spark's own: enough for the
    * `/ \ : = %` metacharacters that can appear in string keys).
    */
  private def escape(s: String): String =
    s.flatMap {
      case c if c == '/' || c == '\\' || c == ':' || c == '=' || c == '%' ||
        c < ' ' || c == 127 => f"%%${c.toInt}%02X"
      case c => c.toString
    }

  private[sinks] def relPathOf(partCols: Seq[String], values: Seq[Any]): String =
    partCols.zip(values).map { case (c, v) =>
      val vs = if (v == null) HiveDefaultPartition else escape(v.toString)
      s"${escape(c)}=$vs"
    }.mkString("/")

  private[graft] def readManifest(fs: FileSystem, root: Path, version: Int): Seq[Entry] =
    ManifestLog.read(fs, root, version).map { line =>
      line.split('\t') match {
        case Array(c, r) => Entry(c, r)
        case Array(c) => Entry(c, "")
        case _ => sys.error(s"corrupt manifest line: $line")
      }
    }

  private def publish(fs: FileSystem, root: Path, v: Int, entries: Seq[Entry]): Unit =
    ManifestLog.publish(fs, root, v, entries.map(e => s"${e.commit}\t${e.relPath}"))

  /** Write one fresh commit dir `commits/c-<uuid>` under `root` with
    * `write` (given the dir, it returns the partition paths it wrote),
    * run `onBeforePublish`, and publish `keep` plus those entries as
    * version `base + 1`, `base` being the version the inputs were read
    * from. A write or publish that fails — a lost race ("concurrent
    * commit") included — deletes the commit dir, so only a crash leaves
    * one no manifest names. Returns the published version.
    */
  private[graft] def commit(spark: SparkSession, root: Path, base: Int, keep: Seq[Entry],
      onBeforePublish: () => Unit = () => ())(write: Path => Seq[String]): Int = {
    val rel = s"commits/c-${java.util.UUID.randomUUID()}"
    val fs = fsOf(spark, root)
    try {
      val entries = keep ++ write(new Path(root, rel)).map(Entry(rel, _))
      onBeforePublish()
      publish(fs, root, base + 1, entries)
    } catch { case e: Throwable => fs.delete(new Path(root, rel), true); throw e }
    base + 1
  }

  /** Write `data` as parquet into the fresh commit dir `dir`, partitioned
    * by `partitionCols`, and list the leaf partition paths written (""
    * when unpartitioned).
    */
  private def writeParquet(fs: FileSystem, dir: Path, data: DataFrame,
      partitionCols: Seq[String]): Seq[String] = {
    val w = data.write.mode("errorifexists")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir.toString)
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq("")
      else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        walk(st.getPath, d - 1).map { tail =>
          if (tail.isEmpty) st.getPath.getName else s"${st.getPath.getName}/$tail"
        }
      }
    walk(dir, partitionCols.size)
  }

  /** Read the live `entries`, one parquet read per commit. Commit dirs
    * are immutable once written, so a read of the same partitions of a
    * commit infers the same schema, partition types included: it is
    * inferred once per process ([[graft.Tables.readParquet]]).
    */
  private def readEntries(spark: SparkSession, root: Path, entries: Seq[Entry]): DataFrame = {
    val perCommit = entries.groupBy(_.commit).toSeq.sortBy(_._1).map { case (commit, es) =>
      val base = new Path(root, commit)
      val rels = es.map(_.relPath).distinct.sorted
      graft.Tables.readParquet(spark, rels.mkString(s"$base:", ",", "")) { r =>
        if (rels.contains("")) r.parquet(base.toString)
        else r.option("basePath", base.toString)
          .parquet(rels.map(new Path(base, _).toString): _*)
      }
    }
    // allowMissingColumns: after a schema-evolving merge (mergeSchema),
    // untouched partitions still carry the old column set — the evolved
    // read fills the new columns with null there, parquet-mergeSchema
    // semantics
    perCommit.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Newest published version at `rootDir` (0 = nothing published yet). */
  def version(spark: SparkSession, rootDir: String): Int = {
    val root = new Path(rootDir)
    ManifestLog.currentVersion(fsOf(spark, root), root)
  }

  /** Read the table at its newest published version. */
  def read(spark: SparkSession, rootDir: String): DataFrame = {
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    val v = ManifestLog.currentVersion(fs, root)
    require(v > 0, s"no published version at $rootDir")
    readEntries(spark, root, readManifest(fs, root, v))
  }

  /** Time travel: read a specific published version (pinned reader /
    * reproducible backfill). Survives `vacuum` while the version is
    * within the retention window.
    */
  def readAt(spark: SparkSession, rootDir: String, version: Int): DataFrame = {
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    require(fs.exists(ManifestLog.path(root, version)),
      s"version $version not available at $rootDir (vacuumed or never published)")
    readEntries(spark, root, readManifest(fs, root, version))
  }

  /** Versioned truncate-and-load: publish a new version whose manifest
    * is EXACTLY `data` — the crash-atomic form of the reference's
    * full-refresh delete + backfill (`full_refresh_fy2023_2025.py:58-98`
    * deletes every row, then re-upserts; a crash mid-way leaves the
    * served table partially empty). Here the new dataset is written to a
    * fresh commit dir and the swap is one manifest rename: a crash
    * before the publish leaves the previous version fully readable, and
    * readers pinned to older versions keep working until `vacuum`.
    */
  def overwrite(spark: SparkSession, rootDir: String, data: DataFrame,
      partitionCols: Seq[String] = Nil,
      onBeforePublish: () => Unit = () => ()): Unit = {
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    commit(spark, root, ManifestLog.currentVersion(fs, root), Nil, onBeforePublish)(
      writeParquet(fs, _, data, partitionCols))
  }

  /** MERGE `updates` by `businessKey` — insert-or-replace, partition-
    * scoped, atomically published. `updates` must already be deduped by
    * key (`MergeWriter.latestPerKey`). `onBeforePublish` is a test seam
    * between the data write and the manifest publish: a throw from it
    * fails the merge as a lost publish does, deleting the commit dir.
    *
    * '''Schema evolution''' (`mergeSchema = true`): columns present only
    * in `updates` are ADDED to the table — rewritten partitions carry
    * them physically, untouched partitions read them back as null
    * (parquet-mergeSchema semantics via the evolved union in reads); a
    * target column missing from `updates` is kept, null on replaced rows
    * (replace is whole-row). With the default `mergeSchema = false`,
    * extra update columns are dropped and the update must cover every
    * target column — the strict contract a fixed pipeline spec wants.
    */
  def merge(spark: SparkSession, rootDir: String, updates: DataFrame,
      businessKey: String, partitionCols: Seq[String] = Nil,
      removeMovedKeys: Boolean = false,
      mergeSchema: Boolean = false,
      onBeforePublish: () => Unit = () => ()): Unit = {
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    val v = ManifestLog.currentVersion(fs, root)
    def publishCommit(keep: Seq[Entry], df: DataFrame): Unit =
      commit(spark, root, v, keep, onBeforePublish)(writeParquet(fs, _, df, partitionCols))

    if (v == 0) {
      publishCommit(Nil, updates)
      return
    }

    val current = readManifest(fs, root, v)
    val touchedRel: Set[String] =
      if (partitionCols.isEmpty) current.map(_.relPath).toSet
      else {
        val base = updates.select(partitionCols.map(col): _*).distinct()
          .collect().map(r => relPathOf(partitionCols, r.toSeq)).toSet
        if (!removeMovedKeys) base
        else {
          // keys whose partition value changed live in untouched
          // partitions — find those partitions (column-pruned scan) and
          // rewrite them too, so the stale row is dropped by the merge
          val keep0 = current.filterNot(e => base.contains(e.relPath))
          if (keep0.isEmpty) base
          else base ++ readEntries(spark, root, keep0)
            .select((businessKey +: partitionCols).distinct.map(col): _*)
            .join(updates.select(businessKey).distinct(), Seq(businessKey), "left_semi")
            .select(partitionCols.map(col): _*).distinct()
            .collect().map(r => relPathOf(partitionCols, r.toSeq))
        }
      }
    val (touched, keep) = current.partition(e => touchedRel.contains(e.relPath))

    val merged =
      if (touched.isEmpty) updates
      else {
        // partition-dir type inference may widen on read-back (fy=2024 →
        // int while the updates carry string) — realign to the updates'
        // declared types before the keyed merge
        val target0 = readEntries(spark, root, touched)
        val target = partitionCols.foldLeft(target0)((df, c) =>
          df.withColumn(c, col(c).cast(updates.schema(c).dataType)))
        if (!mergeSchema)
          // strict: the select fails loudly if updates lack a target column
          MergeWriter.merge(target,
            updates.select(target.columns.toIndexedSeq.map(col): _*), Seq(businessKey))
        else {
          val cols: Seq[String] = target.columns.toIndexedSeq ++
            updates.columns.filterNot(target.columns.contains(_))
          def align(df: DataFrame, other: DataFrame): DataFrame =
            cols.foldLeft(df)((acc, c) =>
              if (acc.columns.contains(c)) acc
              else acc.withColumn(c, lit(null).cast(other.schema(c).dataType)))
          MergeWriter.merge(align(target, updates),
            align(updates, target).select(cols.map(col): _*), Seq(businessKey))
        }
      }
    publishCommit(keep, merged)
  }

  /** Compact small-file partitions — the read-amplification bound of the
    * log-structured design (Delta's OPTIMIZE / Iceberg's
    * rewrite_data_files, reduced to the same rename-atomic protocol
    * `merge` uses). A merge writes each touched partition from the union
    * of the read-back target rows and the updates, so a partition gains
    * up to one file per task of that union per rewrite: the read-back's
    * file splits plus the updates' partitions. The Orchestrator's syncs
    * coalesce their frame to `spark.sql.shuffle.partitions`, so each
    * merge adds a few files per touched partition, not the 16×cpus an
    * uncoalesced cached frame would under the Deploy posture. Even so a
    * daily-sync or streaming-micro-batch table gathers hundreds of
    * small files per hot partition over a year, and every reader pays a
    * file-open + footer-parse per file. `compact` rewrites each
    * partition whose live file count exceeds its bin-packed target
    * (`ceil(bytes / targetFileBytes)`, min 1) into a fresh commit and
    * publishes the swap as one new version; right-sized partitions are
    * carried forward by reference, untouched.
    *
    * The rewrite is a raw per-partition parquet read (no Hive
    * partition-value inference) written back under the IDENTICAL
    * `relPath` — partition dir names are preserved byte-for-byte, so
    * `merge`'s string-matched partition routing and the moved-key
    * contract are unaffected by a compaction running between two merges.
    * Pure reorganization: the live row set is bit-identical before and
    * after (e22 reads through a compaction; `VersionedTableSpec` asserts
    * set equality + bounded file counts). Crash-safe like `merge`: dying
    * before the publish leaves the previous version fully readable and
    * the orphan commit dir is swept by the next `vacuum`. Readers pinned
    * to older versions keep working until vacuumed.
    *
    * `sortCols` additionally range-partitions and sorts the rewritten
    * rows (clustering-on-compact, the practical core of OPTIMIZE
    * ZORDER): each output file then covers a disjoint key range, so
    * parquet min/max stats let a key-predicate read skip every other
    * file instead of scanning the whole partition.
    *
    * Returns the number of partitions rewritten (0 = nothing to do, no
    * new version published).
    */
  def compact(spark: SparkSession, rootDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Int = {
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    val v = ManifestLog.currentVersion(fs, root)
    require(v > 0, s"no published version at $rootDir")
    val current = readManifest(fs, root, v)
    def sub(base: Path, rel: String): Path =
      if (rel.isEmpty) base else new Path(base, rel)
    // (partition, live dirs, bin-packed file target) for oversized ones;
    // a partition's live entries may in principle span commits, so the
    // plan keys on relPath and unions the dirs
    val plans = current.groupBy(_.relPath).toSeq.sortBy(_._1).flatMap {
      case (relPath, es) =>
        val dirs = es.map(e => sub(new Path(root, e.commit), relPath)).distinct
        val dataFiles = dirs.flatMap(d => fs.listStatus(d).toSeq).filter(st =>
          st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
        val bytes = dataFiles.map(_.getLen).sum
        val nTarget = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        if (dataFiles.size > nTarget) Some((relPath, dirs, nTarget)) else None
    }
    if (plans.isEmpty) return 0
    val compacted = plans.map(_._1).toSet
    commit(spark, root, v, current.filterNot(e => compacted.contains(e.relPath))) { dir =>
      plans.map { case (relPath, dirs, nTarget) =>
        // raw parquet read of the partition's data files: partition values
        // stay encoded in the dir name only, exactly as written. mergeSchema:
        // a partition's live dirs may span commits written before and after
        // a schema evolution — taking one file's schema would silently drop
        // the evolved columns from the rewrite (data loss)
        val data = spark.read.option("mergeSchema", "true")
          .parquet(dirs.map(_.toString): _*)
        val packed =
          if (sortCols.isEmpty) data.repartition(nTarget)
          else data.repartitionByRange(nTarget, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        packed.write.mode("errorifexists").parquet(sub(dir, relPath).toString)
        relPath
      }
    }
    plans.size
  }

  /** Drop everything not reachable from the `retainVersions` newest
    * manifests: older manifests, fully dead commit dirs, and dead
    * partition dirs inside live commits. A reader pinned (`readAt`) to
    * any retained version survives; versions older than the window lose
    * their manifests AND any data only they referenced — the retention
    * discipline of any table format's VACUUM. A writer that read a
    * version since vacuumed cannot publish into its freed number:
    * [[ManifestLog.publish]] refuses any version at or below the newest.
    *
    * This is also the manifest "checkpoint": each manifest is a COMPLETE
    * snapshot (one line per live (commit, partition) — never a delta
    * log), so there is nothing to compact into a checkpoint file; the
    * only whole-table metadata that grows with commit count is the
    * manifest *listing* and the dead commit dirs, and a scheduled
    * `vacuum(retainVersions = k)` bounds both at O(k + live partitions)
    * regardless of how many thousands of merges the table has seen.
    */
  def vacuum(spark: SparkSession, rootDir: String, retainVersions: Int = 1): Unit = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    val v = ManifestLog.currentVersion(fs, root)
    require(v > 0, s"no published version at $rootDir")
    val oldest = math.max(1, v - retainVersions + 1)
    val retained = (oldest to v).filter(ver => fs.exists(ManifestLog.path(root, ver)))
    val live = retained.flatMap(readManifest(fs, root, _)).distinct
    val liveByCommit = live.groupBy(_.commit)
    // manifests below the window + stray temp manifests
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (ManifestLog.versionOf(n).exists(_ < oldest) || n.startsWith("tmp-manifest-"))
        fs.delete(st.getPath, false)
    }
    val commitsDir = new Path(root, "commits")
    if (fs.exists(commitsDir)) fs.listStatus(commitsDir).foreach { st =>
      val rel = s"commits/${st.getPath.getName}"
      liveByCommit.get(rel) match {
        case None => fs.delete(st.getPath, true) // no live entries at all
        case Some(es) if es.exists(_.relPath.isEmpty) => () // whole commit live
        case Some(es) =>
          val liveRel = es.map(_.relPath).toSet
          // dead partition dirs within a live commit (depth-1 prune is
          // enough: an entry names the full leaf path)
          def prune(p: Path, prefix: String): Unit =
            fs.listStatus(p).filter(_.isDirectory).foreach { d =>
              val r = if (prefix.isEmpty) d.getPath.getName
                else s"$prefix/${d.getPath.getName}"
              if (liveRel.contains(r)) ()
              else if (liveRel.exists(_.startsWith(r + "/"))) prune(d.getPath, r)
              else fs.delete(d.getPath, true)
            }
          prune(st.getPath, "")
      }
    }
  }
}
