package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory is the only session builder, and its two
  * postures are pinned: the specs run exactly the Bench confs, and the
  * Deploy posture adds only the wide initial shuffle.
  */
class SessionSpec extends SparkSpec {

  test("the spec session carries exactly the Bench posture at 4 cpus") {
    val bench = Session.confs(Session.Bench, SparkSpec.cpus)
    val conf = spark.sparkContext.getConf
    bench.foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
      assert(spark.conf.get(k) == v, k)
    }
    // the warehouse dir is written back into the conf by Spark itself
    // once the session's shared state is first used
    val sqlKeys = conf.getAll.map(_._1)
      .filter(k => k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir")
    assert(sqlKeys.toSet == bench.keySet.filter(_.startsWith("spark.sql.")))
    assert(bench("spark.master") == "local[4]")
  }

  test("Bench and Deploy differ only in the initial shuffle width") {
    val bench = Session.confs(Session.Bench, 8)
    val deploy = Session.confs(Session.Deploy, 8)
    assert(deploy -- bench.keySet == Map(Session.InitialPartitionNum -> "128"))
    assert(deploy.filter { case (k, _) => bench.contains(k) } == bench)
  }

  test("no session is built outside Session.scala") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), r))
    def scalaFiles(root: Path): List[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = roots.flatMap(scalaFiles)
      .filter(p => new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
    assert(hits.map(_.toString) == Seq("src/main/scala/graft/Session.scala"))
  }
}
