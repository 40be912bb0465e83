package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** The numbered manifest files of a Delta-style log (Armbrust et al.,
  * VLDB 2020): `manifest-v00000001.txt`, `manifest-v00000002.txt`, ...
  * under one directory, each a complete list of what is live, and the
  * highest-numbered one wins. [[VersionedTable]] (and the IVF index,
  * in its line format) and the corpus stores' [[graft.dedup.StoreGuard]]
  * commit through it; each encodes its own lines.
  */
private[graft] object ManifestLog {

  private val ManifestRe = raw"manifest-v(\d{8})\.txt".r

  def path(dir: Path, version: Int): Path = new Path(dir, f"manifest-v$version%08d.txt")

  /** The version a file name carries, if it is a manifest's. */
  def versionOf(fileName: String): Option[Int] = fileName match {
    case ManifestRe(v) => Some(v.toInt)
    case _ => None
  }

  /** Newest published version under `dir` (0 = nothing published yet). */
  def currentVersion(fs: FileSystem, dir: Path): Int =
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).flatMap(st => versionOf(st.getPath.getName)).foldLeft(0)(math.max)

  /** The non-empty lines of version `version`'s manifest. */
  def read(fs: FileSystem, dir: Path, version: Int): Seq[String] = {
    val in = fs.open(path(dir, version))
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    text.linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Publish `lines` as version `version` — the single atomic step. The
    * temp file is complete and flushed before the rename; rename onto a
    * fresh versioned name either fully succeeds or fully fails.
    *
    * Every writer publishes the version it read + 1, so versions appear
    * in order, and a version newer than `version - 1` means the read is
    * stale. That is checked right before the rename, because a vacuum
    * may have deleted the manifest `version` names: without the check a
    * stale writer would publish into the freed number, below the newest,
    * and report a success no reader sees. A newer version published
    * after the check needs `version` itself first, so the rename fails
    * then — unless, between the listing and the rename, `version` and
    * enough versions after it to push it out of a vacuum's window are
    * published and that vacuum runs. The check narrows the race to that
    * window; it does not make the listing and the rename one step.
    */
  def publish(fs: FileSystem, dir: Path, version: Int, lines: Seq[String]): Unit = {
    val tmp = new Path(dir, s"tmp-manifest-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val newest = currentVersion(fs, dir)
    if (newest >= version) {
      fs.delete(tmp, false)
      sys.error(s"concurrent commit: version $newest already published at $dir")
    }
    val target = path(dir, version)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      sys.error(s"concurrent commit: version $version already published at $dir")
    }
  }
}
