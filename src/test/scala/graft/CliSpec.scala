package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Http, HttpResponse}

/** End-to-end of the CLI orchestration (reference `main.py:33-84`):
  * fetch (fake transport) → process (checkpoints) → load (embedded
  * Derby), reproducing the README-tallies semantics of
  * [[WhalePipelineSpec]] from staged JSON instead of inline fixtures.
  */
class CliSpec extends AnyFunSuite with SparkSpec {

  private def rec(id: String, date: String, lat: Double, lon: Double,
      water: String = null, vern: String = null): String = {
    def q(s: String) = Option(s).map("\"" + _ + "\"").getOrElse("null")
    s"""{"occurrenceID":${q(id)},"eventDate":"$date","decimalLatitude":$lat,
       |"decimalLongitude":$lon,"waterBody":${q(water)},
       |"species":"Orcinus orca","speciesid":137102,
       |"vernacularName":${q(vern)}}""".stripMargin.replace("\n", "")
  }

  // the WhalePipelineSpec fixture, served as one OBIS response: 5 valid
  // (one duplicate, two null ids), 1 repairable error, 1 unrepairable
  private val results = Seq(
    rec("a1", "2001-05-10", 10.0, 10.0, water = "stale"),
    rec(null, "2001-05-10", 10.0, 10.0, water = "stale"),
    rec(null, "2002-06-01", 60.0, 70.0),
    rec("a4", "2003-07-02", -5.0, -5.0, vern = "Custom Name"),
    rec(null, "2001-05-10", 11.0, 10.0),
    rec("e1", "1985", 20.0, 20.0),
    rec("e2", "not a date", 0.0, 0.0))
    .mkString("""{"results":[""", ",", "]}")

  private class FakeHttp extends Http {
    override def get(url: String, params: Seq[(String, String)]): HttpResponse =
      if (url.endsWith("statistics/years"))
        HttpResponse(200, """[{"year":2001,"records":7}]""")
      else HttpResponse(200, results)
  }

  test("unknown whale fails up front listing the known names") {
    val e = intercept[IllegalArgumentException] {
      Cli.parse(Seq("process", "bigfoot"))
    }
    assert(e.getMessage.contains("not in whale_names"))
    assert(e.getMessage.contains("killer_whale"))
  }

  test("fetch -> process -> load from checkpoints reproduces the tallies") {
    val dataDir = Files.createTempDirectory("cli_e2e").toString
    // polygon fixture via the WKT on-ramp (box_a / box_b of WhalePipelineSpec)
    val polyFile = Files.createTempDirectory("cli_polys")
    Files.write(polyFile.resolve("p.tsv"), Seq(
      "box_a\tPOLYGON ((0 0, 30 0, 30 30, 0 30, 0 0))",
      "box_b\tPOLYGON ((50 40, 90 40, 90 80, 50 80, 50 40))")
      .mkString("\n").getBytes("UTF-8"))
    val base = Cli.Config("fetch", "killer_whale", dataDir = dataDir,
      polygons = polyFile.toString,
      jdbcUrl = "jdbc:derby:memory:graftcli;create=true")

    val fetched = Cli.run(base, new FakeHttp, spark)
    assert(fetched.staged == 1) // one staged window file

    val t = Cli.run(base.copy(command = "process"), new FakeHttp, spark)
    assert(t.validated == 5)
    assert(t.errorRows == 2)
    assert(t.repaired == 1)
    assert(t.unrepairable == 1)
    assert(t.cleaned == 5) // 4 surviving valid (1 dup dropped) + 1 repaired

    val loaded = Cli.run(base.copy(command = "load"), new FakeHttp, spark)
    assert(loaded.loaded == 5)

    def table(name: String) = spark.read.format("jdbc")
      .option("url", base.jdbcUrl).option("dbtable", name)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    val occ = table("occurrences").collect()
    assert(occ.length == 5)
    // synthetic negative ids survived to the fact table (Derby uppercases)
    assert(occ.map(_.getAs[String]("ID")).count(_.startsWith("-")) == 2)
    // spatial enrichment resolved water bodies through the dimension
    assert(table("locations").collect()
      .map(_.getAs[String]("WATERBODY")).toSet.contains("box_a"))
    assert(table("species").collect()
      .map(_.getAs[String]("SPECIESNAME")).toSeq == Seq("Orcinus orca"))
    // load is idempotent (upsert, not insert)
    assert(Cli.run(base.copy(command = "load"), new FakeHttp, spark).loaded == 5)
    assert(table("occurrences").count() == 5)
  }

  test("process parses pretty-printed (multi-line) staged response bodies") {
    // a pretty-printed API body used to parse to one all-null row in
    // single-line PERMISSIVE mode, and explode(results) then silently
    // dropped everything — process reported 0 validated rows with no error
    val pretty = Seq(
      rec("a1", "2001-05-10", 10.0, 10.0),
      rec("a2", "2002-06-01", 60.0, 70.0)).mkString(
      "{\n  \"results\": [\n    ", ",\n    ", "\n  ]\n}\n")
    val http = new Http {
      override def get(url: String, params: Seq[(String, String)]): HttpResponse =
        if (url.endsWith("statistics/years"))
          HttpResponse(200, """[{"year":2001,"records":2}]""")
        else HttpResponse(200, pretty)
    }
    val dataDir = Files.createTempDirectory("cli_pretty").toString
    val cfg = Cli.Config("fetch", "killer_whale", dataDir = dataDir)
    Cli.run(cfg, http, spark)
    val t = Cli.run(cfg.copy(command = "process"), http, spark)
    assert(t.validated == 2)
    assert(t.errorRows == 0)
  }

  test("process fails loud, naming the file, on an unparseable staged body") {
    val http = new Http {
      override def get(url: String, params: Seq[(String, String)]): HttpResponse =
        if (url.endsWith("statistics/years"))
          HttpResponse(200, """[{"year":2001,"records":1}]""")
        else HttpResponse(200, """{"results": [{"occurrenceID"""") // truncated body
    }
    val dataDir = Files.createTempDirectory("cli_broken").toString
    val cfg = Cli.Config("fetch", "killer_whale", dataDir = dataDir)
    Cli.run(cfg, http, spark)
    val e = intercept[IllegalArgumentException] {
      Cli.run(cfg.copy(command = "process"), http, spark)
    }
    assert(e.getMessage.contains("not parseable"))
    assert(e.getMessage.contains(".json")) // the offending file is named
  }

  test("a warm process pass runs at most 16 Spark jobs") {
    val dataDir = Files.createTempDirectory("cli_jobs").toString
    val polyFile = Files.createTempDirectory("cli_jobs_polys")
    Files.write(polyFile.resolve("p.tsv"), Seq(
      "box_a\tPOLYGON ((0 0, 30 0, 30 30, 0 30, 0 0))",
      "box_b\tPOLYGON ((50 40, 90 40, 90 80, 50 80, 50 40))")
      .mkString("\n").getBytes("UTF-8"))
    val cfg = Cli.Config("fetch", "killer_whale", dataDir = dataDir,
      polygons = polyFile.toString)
    Cli.run(cfg, new FakeHttp, spark)
    val process = cfg.copy(command = "process")
    Cli.run(process, new FakeHttp, spark) // warm-up

    val (t, jobs) = JobCount(spark)(Cli.run(process, new FakeHttp, spark))
    assert(t.cleaned == 5 && t.unrepairable == 1)
    assert(jobs <= 16, s"a warm Cli.process ran $jobs Spark jobs")
  }

  test("pipeline command chains fetch, process, and load in one run") {
    val dataDir = Files.createTempDirectory("cli_pipe").toString
    val cfg = Cli.Config("pipeline", "killer_whale", dataDir = dataDir,
      jdbcUrl = "jdbc:derby:memory:graftpipe;create=true")
    val t = Cli.run(cfg, new FakeHttp, spark)
    assert(t.validated == 5 && t.repaired == 1 && t.unrepairable == 1)
    assert(t.cleaned == 5 && t.loaded == 5)
  }
}
