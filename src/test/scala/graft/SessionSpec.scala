package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FastLocalFileSystem, FastLocalFs}

/** Every session is built by [[Session]]: its confs are the benchmark's
  * (perfbench builds the same list plus its work-dir paths), a call-site
  * or `SPARK_GRAFT_EXTRA_CONF` entry overrides a default, and no other
  * source file builds a session by hand.
  */
class SessionSpec extends AnyFunSuite with SparkSpec {

  private def scalaFiles(top: String): Seq[Path] = {
    val s = Files.walk(Paths.get(top))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    } finally s.close()
  }

  private def codeLines(p: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.toSeq.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
  }

  test("the factory's confs are the benchmark's, minus its work-dir paths") {
    assert(Session.confs(6, extra = None) === Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> classOf[FastLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[FastLocalFs].getName))
    // the keys perfbench's session sets, read from its source: master and
    // FastLocalFileSystem.install's confs, then one .config per key
    val bench = codeLines(Paths.get("perfbench/src/main/scala/perfbench/Main.scala"))
      .mkString("\n")
    val keys = "\\.config\\(\"([^\"]+)\"".r.findAllMatchIn(bench).map(_.group(1)).toSet
    assert(bench.contains(".master(s\"local[$cpus]\")"))
    assert(bench.contains("FastLocalFileSystem.install("))
    assert(keys -- Set("spark.sql.warehouse.dir", "spark.local.dir") ===
      Session.confs(6, extra = None).keySet -- Set("spark.master") --
        FastLocalFileSystem.sparkConfs.map(_._1))
  }

  test("a call-site or SPARK_GRAFT_EXTRA_CONF entry wins over a default") {
    val c = Session.confs(4,
      callSite = Map("spark.sql.shuffle.partitions" -> "8",
        "spark.memory.fraction" -> "0.02"),
      extra = Some(" spark.sql.session.timeZone = America/New_York ;" +
        "spark.memory.fraction=0.5;no-equals-sign"))
    assert(c("spark.sql.shuffle.partitions") === "8")
    assert(c("spark.sql.session.timeZone") === "America/New_York")
    // the overlay is applied last: it also wins over the call site
    assert(c("spark.memory.fraction") === "0.5")
    assert(c("spark.master") === "local[4]")
    assert(!c.keySet.exists(_.contains("no-equals-sign")))
  }

  test("the spec session runs on the factory's confs and the fork-free FS") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
    val conf = spark.sessionState.newHadoopConf()
    assert(new org.apache.hadoop.fs.Path("file:///").getFileSystem(conf)
      .isInstanceOf[FastLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext
      .getFileContext(new java.net.URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[FastLocalFs])
  }

  test("no source file but Session.scala builds a SparkSession by hand") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val handBuilt = scalaFiles("src")
      .filterNot(_.getFileName.toString == "Session.scala")
      .filter(p => codeLines(p).exists(l => builder.findFirstIn(l).nonEmpty))
    assert(handBuilt.isEmpty, s"build the session through graft.Session: ${handBuilt.mkString(", ")}")
    // Bench and Verify, the timing and correctness mains, take every default
    Seq("Bench", "Verify").foreach { m =>
      val src = codeLines(Paths.get(s"src/main/scala/graft/$m.scala")).mkString("\n")
      assert(("Session\\(\"[^\"]*\"\\)").r.findFirstIn(src).nonEmpty, m)
    }
  }
}
