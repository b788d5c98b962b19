package perfbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Cli
import graft.dims.Dimensions
import graft.geo.Wkt
import graft.pipeline.WhalePipeline
import graft.sinks.JdbcUpsert
import graft.validate.Validation

/** `whale_etl`: the reference pipeline through the public CLI stages.
  * Each pass runs `Cli.process` over the staged OBIS responses, then
  * `Cli.load` into a fresh in-memory Derby database.
  *
  * A load that throws is a failed operation and its latency is dropped;
  * Derby's concurrent MERGE from several partitions is known to fail
  * here, and the benchmark counts it rather than working around it.
  */
object WhaleEtl {
  val Files = 1
  val PerFile = 5000
  val Vertices = 2000
  /** Timed passes per run, however short `--seconds` is: a pass takes
    * about 6 s, so runs hold the same count and the median is over more
    * than one.
    */
  val MinPasses = 2

  private final case class Inputs(cfg: Cli.Config, truth: Gen.ObisTruth)

  private def setup(ctx: Ctx, k: Int): Inputs = {
    val dir = ctx.work.resolve(s"etl$k")
    val truth = Gen.obis(ctx.seed, dir, Files, PerFile)
    val polys = dir.resolve("oceans.tsv")
    Gen.polygons(ctx.seed, polys, Vertices)
    Inputs(Cli.Config("process", Gen.Whale, dataDir = dir.toString,
      polygons = polys.toString), truth)
  }

  private def expected(t: Gen.ObisTruth) = Cli.Tallies(validated = t.validated,
    errorRows = t.errorRows, repaired = t.repaired,
    unrepairable = t.unrepairable, cleaned = t.cleaned)

  private def dbUrl(ctx: Ctx, pass: Int) = s"jdbc:derby:memory:etl_${ctx.seed}_p${pass + 1}"

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a drop always ends in 08006

  private def countRows(url: String, table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** One untraced pass: (process ms, load ms if the load succeeded). */
  private def pass(ctx: Ctx, in: Inputs, p: Int, count: Boolean): (Double, Option[Double]) = {
    val ops = if (count) ctx.ops else new Ops
    val (t, procMs) = ctx.timed(Cli.process(in.cfg, ctx.spark))
    ops.check(s"process tallies $t != ${expected(in.truth)}", t == expected(in.truth))
    val url = dbUrl(ctx, p)
    val loadMs =
      try {
        val (l, ms) = ctx.timed(Cli.load(in.cfg.copy(jdbcUrl = s"$url;create=true"), ctx.spark))
        val inDb = countRows(url, "occurrences")
        ops.check(s"loaded ${l.loaded} / in database $inDb != cleaned ${t.cleaned}",
          l.loaded == t.cleaned && inDb == t.cleaned)
        Some(ms)
      } catch {
        case e: Exception => ops.fail(s"Cli.load pass $p", e); None
      } finally dropDb(url)
    System.err.println(s"perfbench: whale_etl pass $p: process ${procMs.round} ms, load ${loadMs.map(_.round)}")
    (procMs, loadMs)
  }

  def run(ctx: Ctx): Result = {
    val setups = (0 until Main.SetupReps).map(k => ctx.timed(setup(ctx, k)))
    System.err.println(s"perfbench: set-ups ${setups.map(_._2.round)} ms")
    val in = setups.last._1
    val (_, warmMs) = ctx.timed(pass(ctx, in, -1, count = false))
    if (ctx.trace) return traced(ctx, in)

    val passes = mutable.ArrayBuffer[(Double, Option[Double])]()
    ctx.startWindow()
    var p = 0
    while (p < MinPasses || ctx.windowOpen) { passes += pass(ctx, in, p, count = true); p += 1 }
    val proc = passes.map(_._1).toSeq
    val ok = passes.collect { case (a, Some(b)) => a + b }.toSeq
    Result(ctx.ops.correct, ctx.ops.attempted, ctx.ops.failed, ctx.endToEnd(
      setupS = (Stats.median(setups.map(_._2)) + warmMs) / 1000,
      // a pass whose load failed has no end-to-end time; with no
      // successful load at all, the pass is the process stage alone
      passS = (if (ok.nonEmpty) ok else proc).map(_ / 1000),
      rowsPerS = in.truth.staged / (Stats.median(proc) / 1000)))
  }

  /** Traced run: untraced passes alternate with traced replays of the
    * same steps, and the difference of their medians is the tracing
    * overhead.
    */
  private def traced(ctx: Ctx, in: Inputs): Result = {
    val tr = new Tracer(true, Some(ctx.spark.sparkContext))
    val values = mutable.HashMap[String, Double]()
    val (plain, replay) = (mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
    val (matched, upsertMs, upsertRows) =
      (mutable.ArrayBuffer[Double](), mutable.HashMap[String, mutable.ArrayBuffer[Double]](),
        mutable.ArrayBuffer[(Long, Double)]())
    var jdbcFailed = 0
    ctx.startWindow()
    var p = 0
    while (p < 1 || ctx.windowOpen) {
      val (pm, lm) = pass(ctx, in, 2 * p, count = true)
      plain += pm + lm.getOrElse(0.0)
      if (lm.isEmpty) jdbcFailed += 1
      tr.pass = p
      val t0 = tr.nowMs
      tr.span("whale_etl.pass") {
        val (t, m) = replayProcess(ctx, in, tr)
        ctx.ops.check(s"traced tallies $t != ${expected(in.truth)}", t == expected(in.truth))
        matched += m
        val url = dbUrl(ctx, 2 * p + 1)
        try replayLoad(ctx, in, url, tr).foreach { case (table, rows, ms) =>
          upsertMs.getOrElseUpdate(table, mutable.ArrayBuffer()) += ms
          upsertRows += ((rows, ms))
        } catch {
          case e: Exception => jdbcFailed += 1; ctx.ops.fail(s"traced load pass $p", e)
        } finally dropDb(url)
      }
      replay += tr.nowMs - t0
      p += 1
    }
    tr.drain()
    tr.close()
    val steps = tr.spans.filter(s => Layers.EtlSteps.contains(s.name)).groupBy(_.name)
    for ((name, ss) <- steps) {
      values(s"${name}_ms") = Stats.median(ss.map(_.ms).toSeq)
      values(s"$name.jobs") = Stats.median(ss.map(s => tr.jobs(s).size.toDouble).toSeq)
      values(s"$name.shuffle_bytes") = Stats.median(ss.map(s => tr.jobs(s).map(_.shuffleBytes).sum.toDouble).toSeq)
      values(s"$name.task_skew") = Stats.median(ss.map(s => Stats.skew(tr.jobs(s).flatMap(_.taskMs))).toSeq)
    }
    values("validate.rows_invalid") = in.truth.errorRows.toDouble
    values("dates.rows_repaired") = in.truth.repaired.toDouble
    values("dedup.rows_removed") =
      (in.truth.validated + in.truth.repaired - in.truth.cleaned).toDouble
    values("geo.edge_tests") = in.truth.cleaned.toDouble * Vertices * Gen.OceanNames.size
    values("geo.matched_ratio") = Stats.median(matched.toSeq)
    for ((table, ms) <- upsertMs) values(s"sinks.jdbc_upsert_ms.$table") = Stats.median(ms.toSeq)
    values("sinks.jdbc_rows_per_s") =
      Stats.ratio(upsertRows.map(_._1).sum.toDouble, upsertRows.map(_._2).sum / 1000)
    values("sinks.jdbc_failed") = jdbcFailed.toDouble
    ctx.traceSummary(tr, "whale_etl.pass", plain.toSeq, replay.toSeq, values)
    Result(ctx.ops.correct, ctx.ops.attempted, ctx.ops.failed, Layers.emit(values))
  }

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** `Cli.process`'s steps in its order, each materialized inside its own
    * span. Returns the tallies `Cli.process` would report and the share
    * of cleaned rows matched to an ocean.
    */
  private def replayProcess(ctx: Ctx, in: Inputs, tr: Tracer): (Cli.Tallies, Double) = {
    val spark = ctx.spark
    val cfg = in.cfg
    val held = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): (DataFrame, Long) = { val r = materialize(df); held += r._1; r }

    val (staged, _) = tr.span("sources.staging.read") {
      val raw = spark.read
        .schema(StructType(Seq(StructField("results", ArrayType(Cli.ResultSchema)))))
        .option("multiLine", true)
        .json(Cli.matchFiles(cfg): _*)
      keep(raw.select(explode(col("results")).as("r")).select("r.*")
        .withColumn("ord", monotonically_increasing_id()))
    }
    val ((valid, nv), (errors, ne)) = tr.span("validate.annotate") {
      val annotated = Validation.annotate(staged, Cli.validationRules)
      (keep(Validation.valid(annotated)
        .withColumn("eventDate", graft.dates.SplitDatesFn.dateutilNormalizeUdf(col("eventDate")))
        .withColumn("individualCount", coalesce(col("individualCount"), lit(1)))),
        keep(Validation.invalid(annotated).drop("errors")
          .withColumn("individualCount", coalesce(col("individualCount"), lit(1)))))
    }
    val ((repaired, _), (unrepairable, nu)) = tr.span("dates.repair") {
      val (r, u) = WhalePipeline.repairErrors(errors)
      (keep(r), keep(u))
    }
    val (merged, _) = tr.span("dates.merge_channels") {
      keep(WhalePipeline.mergeChannels(valid, repaired))
    }
    val (deduped, _) = tr.span("dedup.keep_first") {
      keep(WhalePipeline.dedupKeepFirst(merged,
        Seq("eventDate", "decimalLatitude", "decimalLongitude"), col("ord")))
    }
    val (filled, _) = tr.span("pipeline.fill") {
      keep(WhalePipeline.fillVernacular(
        WhalePipeline.fillOccurrenceIds(deduped, col("ord")), cfg.whale))
    }
    val (polys, _) = tr.span("geo.load_polygons")(keep(Wkt.loadPolygons(spark, cfg.polygons)))
    val (enriched, nEnriched) = tr.span("geo.enrich")(keep(WhalePipeline.enrichWaterBody(filled, polys)))
    val matched = Stats.ratio(enriched.filter(col("waterBody").isNotNull).count().toDouble,
      nEnriched.toDouble)
    val (cleaned, _) = tr.span("dims.fk") {
      val none = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
      val locations = Dimensions.getOrCreate(existing = none,
        incoming = enriched.select(col("waterBody").as("name")))
      keep(Dimensions.resolveFk(enriched, locations, "waterBody", "waterBodyId"))
    }
    val out = java.nio.file.Paths.get(cfg.dataDir, cfg.whale).toString
    tr.span("pipeline.checkpoint_write") {
      cleaned.write.mode("overwrite").parquet(s"$out/cleaned")
      unrepairable.write.mode("overwrite").json(s"$out/errors")
    }
    val nc = spark.read.parquet(s"$out/cleaned").count()
    held.foreach(_.unpersist())
    (Cli.Tallies(validated = nv, errorRows = ne, repaired = ne - nu,
      unrepairable = nu, cleaned = nc), matched)
  }

  /** `Cli.load`'s upserts in its order, one span per table. Returns
    * (table, rows, ms) per upsert; throws where `Cli.load` would.
    */
  private def replayLoad(ctx: Ctx, in: Inputs, url: String,
      tr: Tracer): Seq[(String, Long, Double)] = tr.span("sinks.load") {
    val cleaned = ctx.spark.read.parquet(
      java.nio.file.Paths.get(in.cfg.dataDir, in.cfg.whale, "cleaned").toString).persist()
    val create = s"$url;create=true"
    Cli.ensureTables(create)
    val frames = Seq(
      "locations" -> cleaned.filter(col("waterBodyId").isNotNull)
        .select(col("waterBodyId").as("id"), col("waterBody")).distinct(),
      "species" -> cleaned.filter(col("speciesid").isNotNull)
        .select(col("speciesid").as("id"), col("species").as("speciesName"),
          col("vernacularName")).distinct(),
      "occurrences" -> cleaned.select(
        col("occurrenceID").as("id"), col("eventDate"), col("waterBodyId"),
        col("decimalLatitude").as("latitude"),
        col("decimalLongitude").as("longitude"),
        col("speciesid").as("speciesId"), col("individualCount"),
        col("start_year"), col("start_month"), col("start_day"),
        col("end_year"), col("end_month"), col("end_day"),
        col("date_is_valid")))
    try frames.map { case (table, df) =>
      val (_, ms) = ctx.timed(tr.span(s"sinks.jdbc_upsert.$table") {
        JdbcUpsert.upsert(df, create, table, Seq("id"))
      })
      (table, countRows(url, table), ms)
    } finally cleaned.unpersist()
  }
}
