package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus stores take no lock: their one concurrency control is the
  * manifest's optimistic publish (`dedup/StoreGuard`). No lock file,
  * owner stamp, pid probe, streak sidecar or recovery verb may come back
  * in the store code, its callers or the CLI.
  */
class LockFreeStoreSpec extends AnyFunSuite {

  test("no lock file, owner stamp, streak sidecar or recovery verb in the store code and the CLI") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), root)
    val files: List[Path] = Seq("dedup", "similarity", "streaming", "ops").flatMap { d =>
      val walk = Files.walk(root.resolve(d))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.toList :+ root.resolve("Runner.scala")
    Seq("ProcessHandle", "createNewFile", "\".lock\"", "\".streak\"", "ownerStamp",
        "dischargeDeadLock", "recoverArbitrated", "corpus-recover").foreach { needle =>
      val hits = files.filter(p => new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
      assert(hits.isEmpty, s"$needle in ${hits.mkString(", ")}")
    }
  }
}
