package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dates.DateSplit
import graft.dims.Dimensions
import graft.geo.Wkt
import graft.pipeline.{Species, WhalePipeline}
import graft.sinks.JdbcUpsert
import graft.sources.{Http, JdkHttp, ObisClient}
import graft.validate.Validation

/** Pipeline orchestration entry point (reference `main.py:33-84` — four
  * Typer commands over filesystem checkpoints):
  *
  * {{{
  *   graft.Cli pipeline <whale> [--startdate d] [--enddate d] [...]
  *   graft.Cli fetch    <whale> [...]          # reference 'obis'
  *   graft.Cli process  <whale> [...]
  *   graft.Cli load     <whale> --jdbc-url u [...]  # reference 'db'
  * }}}
  *
  * Stage checkpoints live under `--data-dir` exactly like the reference's
  * `./data/{whale}` tree: `fetch` stages `start--end.json` files,
  * `process` reads them and writes `cleaned` (parquet — the reference's
  * start--end.csv checkpoint, cleaner.py:382-398) plus unprocessable
  * rows to `errors/` (cleaner.py:272-288), and `load` upserts the
  * `cleaned` checkpoint into the `locations`/`species`/`occurrences`
  * tables of `db/scripts/db.sql:5-45` through the batched JDBC sink.
  *
  * Unknown whale names fail up front listing the known names — the
  * `PipelineContext.__post_init__` ValueError (main.py:20-26).
  */
object Cli {

  final case class Config(
      command: String, whale: String,
      startdate: String = "", enddate: String = "",
      size: Long = 10000L, dataDir: String = "./data",
      polygons: String = "", jdbcUrl: String = "")

  /** Per-stage tallies, returned for tests and printed for humans. */
  final case class Tallies(staged: Long = 0, validated: Long = 0,
      errorRows: Long = 0, repaired: Long = 0, unrepairable: Long = 0,
      cleaned: Long = 0, loaded: Long = 0)

  val Commands = Set("pipeline", "fetch", "process", "load")

  def parse(args: Seq[String]): Config = {
    require(args.nonEmpty && Commands(args.head),
      s"usage: <${Commands.mkString("|")}> <whale> [--option value ...]")
    require(args.length >= 2 && !args(1).startsWith("--"),
      s"missing <whale> argument after '${args.head}'")
    // the reference's species validation error semantics (main.py:20-26)
    require(Species.WhaleNames.contains(args(1)),
      s"Name '${args(1)}' not in whale_names: ${Species.WhaleNames.keys.toSeq.sorted}")
    args.drop(2).grouped(2).foldLeft(Config(args.head, args(1))) {
      case (c, Seq(k, v)) => k match {
        case "--startdate" => c.copy(startdate = v)
        case "--enddate" => c.copy(enddate = v)
        case "--size" => c.copy(size = v.toLong)
        case "--data-dir" => c.copy(dataDir = v)
        case "--polygons" => c.copy(polygons = v)
        case "--jdbc-url" => c.copy(jdbcUrl = v)
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
      case (_, odd) => throw new IllegalArgumentException(s"dangling option ${odd.head}")
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName(s"graft-${cfg.command}-${cfg.whale}")
      .getOrCreate()
    try println(run(cfg, new JdkHttp(), spark))
    finally spark.stop()
  }

  /** Dispatch with an injectable transport (tests pass a fake). */
  def run(cfg: Config, http: Http, spark: SparkSession): Tallies =
    cfg.command match {
      case "fetch" => fetch(cfg, http)
      case "process" => process(cfg, spark)
      case "load" => load(cfg, spark)
      case "pipeline" =>
        fetch(cfg, http)
        val t = process(cfg, spark)
        if (cfg.jdbcUrl.nonEmpty) t.copy(loaded = load(cfg, spark).loaded) else t
    }

  // ---- fetch ---------------------------------------------------------------

  def fetch(cfg: Config, http: Http): Tallies = {
    val files = new ObisClient(http).batchRequests(
      Species.WhaleNames(cfg.whale), cfg.whale,
      cfg.startdate, cfg.enddate, cfg.size, cfg.dataDir)
    Tallies(staged = files.size)
  }

  // ---- process -------------------------------------------------------------

  /** The pydantic `Results` model as a declared schema
    * (`whalefinder/validate.py:17-33`).
    */
  val ResultSchema: StructType = StructType(Seq(
    StructField("occurrenceID", StringType),
    StructField("eventDate", StringType),
    StructField("verbatimEventDate", StringType),
    StructField("decimalLatitude", DoubleType),
    StructField("decimalLongitude", DoubleType),
    StructField("waterBody", StringType),
    StructField("species", StringType),
    StructField("speciesid", LongType),
    StructField("vernacularName", StringType),
    StructField("individualCount", IntegerType),
    StructField("basisOfRecord", StringType),
    StructField("bibliographicCitation", StringType)))

  /** Date-window staging files under `dataDir/whale` filtered by the
    * start/end years, mirroring `validate.py:85-143` `match_files`.
    */
  def matchFiles(cfg: Config): Seq[String] = {
    val dir = java.nio.file.Paths.get(cfg.dataDir, cfg.whale)
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    val pat = "(\\d{4})-\\d{2}-\\d{2}--(\\d{4})-\\d{2}-\\d{2}\\.json".r
    def year(s: String): Option[Int] =
      "^(\\d{4})".r.findFirstIn(s).map(_.toInt)
    val (sy, ey) = (year(cfg.startdate), year(cfg.enddate))
    val files = java.nio.file.Files.list(dir).iterator()
    scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .flatMap { p =>
        p.getFileName.toString match {
          case pat(a, b) =>
            val (fa, fb) = (a.toInt, b.toInt)
            val keep = (sy, ey) match {
              case (Some(s), Some(e)) => s <= fa && fa <= e && s <= fb && fb <= e
              case (Some(s), None) => s <= fa
              case (None, Some(e)) => fb <= e
              case (None, None) => true
            }
            if (keep) Some(p.toString) else None
          case _ => None
        }
      }.toSeq.sorted
  }

  /** The pydantic validation rules (`validate.py:17-63`): required fields
    * + the dateutil-lenient eventDate gate.
    */
  def validationRules: Seq[Validation.Rule] = {
    def required(c: String) =
      Validation.Rule(c, "missing", "Field required", col(c).isNotNull)
    Seq(
      Validation.Rule("eventDate", "value_error",
        "eventDate is a bad format or unparsable",
        graft.dates.SplitDatesFn.dateutilNormalizeUdf(col("eventDate")).isNotNull),
      required("decimalLatitude"), required("decimalLongitude"),
      required("species"), required("speciesid"))
  }

  def process(cfg: Config, spark: SparkSession): Tallies = {
    val files = matchFiles(cfg)
    require(files.nonEmpty,
      "No json files were found to validate, try fetching from the Obis API first")
    // each staged file is ONE response document (obis.py stages the raw
    // body); multiLine parses pretty-printed bodies instead of silently
    // yielding an all-null row. PERMISSIVE (not FAILFAST): Spark's JSON
    // parser coerces quoted numerics the way pydantic's lax mode does, so
    // well-formed documents survive field-level sloppiness and their rows
    // flow to the validation channel. A document that cannot be parsed
    // under the declared schema at all (malformed JSON, or a field value
    // no coercion accepts) reads as a null `results` — those fail loud
    // WITH THE FILE NAMES (the reference's json.load throw), never as a
    // silent 0-validated-rows run.
    val raw = spark.read
      .schema(StructType(Seq(StructField("results", ArrayType(ResultSchema)))))
      .option("multiLine", true)
      .json(files: _*)
      .withColumn("_src", input_file_name())
      .persist()
    // the first action over `raw`, ahead of every write; a bare filter,
    // so no shuffle (a broken file is one null row)
    val broken = raw.filter(col("results").isNull).select("_src")
      .collect().map(_.getString(0)).distinct.take(5)
    require(broken.isEmpty,
      s"Staged file(s) are not parseable OBIS responses: ${broken.mkString(", ")}")
    val staged = raw
      .select(explode(col("results")).as("r")).select("r.*")
      // stable encounter order for keep-first / negative-id semantics:
      // file+row position stands in for the reference's frame row order
      .withColumn("ord", monotonically_increasing_id())

    // persist: the channel counts, both checkpoint writes, and the
    // cleaning chain all read this — without it each action re-runs the
    // JSON scan + validation
    val annotated = Validation.annotate(staged, validationRules).persist()
    val nErrors = size(col("errors"))
    val channels = annotated
      .agg(count_if(nErrors === 0), count_if(nErrors > 0)).head()
    val (nv, ne) = (channels.getLong(0), channels.getLong(1))
    // valid channel gets pydantic's normalizations: eventDate as the
    // parsed ISO date (model_dump(mode='json')), individualCount default 1
    val valid = Validation.valid(annotated)
      .withColumn("eventDate",
        graft.dates.SplitDatesFn.dateutilNormalizeUdf(col("eventDate")))
      .withColumn("individualCount", coalesce(col("individualCount"), lit(1)))
    val errors = Validation.invalid(annotated).drop("errors")
      .withColumn("individualCount", coalesce(col("individualCount"), lit(1)))

    val polys =
      if (cfg.polygons.endsWith(".shp"))
        graft.geo.Shapefile.loadPolygons(spark, cfg.polygons)
      else if (cfg.polygons.nonEmpty) Wkt.loadPolygons(spark, cfg.polygons)
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("name", StringType),
          StructField("xs", ArrayType(DoubleType)),
          StructField("ys", ArrayType(DoubleType)))))

    val (cleaned, unrepairable) =
      WhalePipeline.process(valid, errors, cfg.whale, polys, "ord")

    val out = java.nio.file.Paths.get(cfg.dataDir, cfg.whale).toString
    val nc = writeCounted(cleaned, "parquet", s"$out/cleaned")
    // failed repairs keep their offending rows, reference error_data.json
    val nu = writeCounted(unrepairable, "json", s"$out/errors")
    raw.unpersist()
    annotated.unpersist()
    Tallies(validated = nv, errorRows = ne, repaired = ne - nu,
      unrepairable = nu, cleaned = nc)
  }

  /** Overwrites `path` with `df` in `format` and returns the number of
    * rows written, observed by the write job itself (no second action).
    * The observation arrives through the listener bus; the wait is bounded
    * so one that never fires fails loud instead of hanging.
    */
  private def writeCounted(df: DataFrame, format: String, path: String): Long = {
    val rows = new Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode("overwrite").format(format).save(path)
    scala.concurrent.Await.result(rows.future,
      scala.concurrent.duration.Duration(5, "min")).getLong(0)
  }

  // ---- load ----------------------------------------------------------------

  /** `db/scripts/db.sql:5-45` DDL, sink-dialect typed; errors from
    * already-existing tables are ignored (the reference bootstraps its
    * schema once via docker-entrypoint).
    */
  def ensureTables(url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq(
      """CREATE TABLE locations (
        |  id BIGINT NOT NULL PRIMARY KEY, waterBody VARCHAR(255))""",
      """CREATE TABLE species (
        |  id BIGINT NOT NULL PRIMARY KEY, speciesName VARCHAR(50),
        |  vernacularName VARCHAR(50))""",
      """CREATE TABLE occurrences (
        |  id VARCHAR(150) NOT NULL PRIMARY KEY, eventDate VARCHAR(50),
        |  waterBodyId BIGINT, latitude DOUBLE, longitude DOUBLE,
        |  speciesId BIGINT, individualCount INT,
        |  start_year INT, start_month INT, start_day INT,
        |  end_year INT, end_month INT, end_day INT,
        |  date_is_valid BOOLEAN)""").foreach { ddl =>
      try { conn.createStatement().execute(ddl.stripMargin) }
      catch {
        // only "table already exists" is expected (Derby X0Y32, MySQL-family
        // 42S01); anything else (permissions, dialect) must surface here,
        // not as a confusing upsert failure later
        case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" || e.getSQLState == "42S01" => ()
      }
    } finally conn.close()
  }

  def load(cfg: Config, spark: SparkSession): Tallies = {
    require(cfg.jdbcUrl.nonEmpty, "load requires --jdbc-url")
    val cleaned = spark.read.parquet(
      java.nio.file.Paths.get(cfg.dataDir, cfg.whale, "cleaned").toString)
    ensureTables(cfg.jdbcUrl)

    // dimensions first (FK order), set-based — storage.py:140-143 does
    // this row-wise through three statements per fact row
    val locations = cleaned
      .filter(col("waterBodyId").isNotNull)
      .select(col("waterBodyId").as("id"), col("waterBody")).distinct()
    JdbcUpsert.upsert(locations, cfg.jdbcUrl, "locations", Seq("id"))

    val species = cleaned
      .filter(col("speciesid").isNotNull)
      .select(col("speciesid").as("id"), col("species").as("speciesName"),
        col("vernacularName")).distinct()
    JdbcUpsert.upsert(species, cfg.jdbcUrl, "species", Seq("id"))

    val facts = cleaned.select(
      col("occurrenceID").as("id"), col("eventDate"), col("waterBodyId"),
      col("decimalLatitude").as("latitude"),
      col("decimalLongitude").as("longitude"),
      col("speciesid").as("speciesId"), col("individualCount"),
      col("start_year"), col("start_month"), col("start_day"),
      col("end_year"), col("end_month"), col("end_day"),
      col("date_is_valid"))
    JdbcUpsert.upsert(facts, cfg.jdbcUrl, "occurrences", Seq("id"))
    Tallies(loaded = facts.count())
  }
}
