package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every bucketed store write goes through `BandedStore.writeBucketed`
  * (the versioned sink's bucketed MERGE keeps its own in
  * `TableManager`), and concurrent store writes go through `Overlap`
  * rather than a private thread pool.
  */
class BucketedWriteSpec extends AnyFunSuite {

  test("no bucketed write or fixed thread pool outside BandedStore.scala and TableManager.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root)
    val walk = Files.walk(root)
    val files: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val allowed = Set("BandedStore.scala", "TableManager.scala")
    Seq("bucketBy" + "(", "newFixedThreadPool").foreach { needle =>
      val hits = files
        .filterNot(p => allowed.contains(p.getFileName.toString))
        .filter(p => new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
      assert(hits.isEmpty, s"$needle in ${hits.mkString(", ")}")
    }
  }
}
