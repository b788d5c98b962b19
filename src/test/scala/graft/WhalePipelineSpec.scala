package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.WhalePipeline

/** Golden test of the composed cleaning chain on an inline fixture shaped
  * like the reference's README run (valid + repairable + unrepairable
  * rows, duplicates, null ids, points inside/outside the polygons) —
  * SURVEY.md §5's "pinned to the README tallies' semantics".
  */
class WhalePipelineSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // (row order, occurrenceID, eventDate, lat, lon, waterBody, vernacular)
  private def fixtureValid = Seq(
    (1, "a1", "2001-05-10", 10.0, 10.0, "stale", null),
    (2, null, "2001-05-10", 10.0, 10.0, "stale", null), // dup of row 1 (dropped)
    (3, null, "2002-06-01", 60.0, 70.0, null, null), // null id -> "-1"
    (4, "a4", "2003-07-02", -5.0, -5.0, null, "Custom Name"),
    (5, null, "2001-05-10", 11.0, 10.0, null, null)) // null id -> "-2"
    .toDF("ord", "occurrenceID", "eventDate", "decimalLatitude",
      "decimalLongitude", "waterBody", "vernacularName")

  private def fixtureErrors = Seq(
    (6, "e1", "1985", 20.0, 20.0, null, null), // repairable (year)
    (7, "e2", "not a date", 0.0, 0.0, null, null)) // unrepairable
    .toDF("ord", "occurrenceID", "eventDate", "decimalLatitude",
      "decimalLongitude", "waterBody", "vernacularName")

  // two axis-aligned boxes: "north" contains (60,70)&(20,20)? no — see asserts
  private def polygons = Seq(
    ("box_a", Array(0.0, 30.0, 30.0, 0.0), Array(0.0, 0.0, 30.0, 30.0)),
    ("box_b", Array(50.0, 90.0, 90.0, 50.0), Array(40.0, 40.0, 80.0, 80.0)))
    .toDF("name", "xs", "ys")

  test("composed cleaning chain matches the reference's tallies semantics") {
    val (out, unrepairable) = WhalePipeline.process(
      fixtureValid, fixtureErrors, "beluga_whale", polygons, "ord")
    val rows = out.orderBy("ord").collect()

    // tallies: 5 valid + 2 errors -> 1 repaired, 1 unrepairable, 1 dup removed
    assert(unrepairable.count() == 1)
    assert(rows.length == 5) // 4 surviving valid + 1 repaired

    val byOrd = rows.map(r => r.getAs[Int]("ord") -> r).toMap
    // keep-first dedup kept row 1, dropped row 2
    assert(byOrd.contains(1) && !byOrd.contains(2))
    // synthetic negative ids in encounter order over the null slice
    assert(byOrd(3).getAs[String]("occurrenceID") == "-1")
    assert(byOrd(5).getAs[String]("occurrenceID") == "-2")
    // vernacular fill: nulls get the title-cased whale, explicit kept
    assert(byOrd(3).getAs[String]("vernacularName") == "Beluga Whale")
    assert(byOrd(4).getAs[String]("vernacularName") == "Custom Name")
    // spatial overwrite: (10,10) in box_a; (70,60) in box_b; (-5,-5) outside
    assert(byOrd(1).getAs[String]("waterBody") == "box_a")
    assert(byOrd(3).getAs[String]("waterBody") == "box_b")
    assert(byOrd(4).getAs[String]("waterBody") == null)
    // repaired year row: parts expanded, strict-date flag false
    assert(byOrd(6).getAs[Int]("start_year") == 1985)
    assert(byOrd(6).getAs[Int]("end_month") == 12)
    assert(!byOrd(6).getAs[Boolean]("date_is_valid"))
    // FK resolution: every non-null waterBody got a surrogate id
    rows.filter(_.getAs[String]("waterBody") != null)
      .foreach(r => assert(r.getAs[Long]("waterBodyId") > 0))

    // A2 date bounds over strictly-valid rows
    assert(WhalePipeline.dateBounds(out) == ("2001-05-10", "2003-07-02"))
  }

  test("process runs the spatial join once: no BNLJ left below the checkpoint") {
    def plan(out: org.apache.spark.sql.DataFrame) = out.queryExecution.executedPlan.toString
    val (out, _) = WhalePipeline.process(
      fixtureValid, fixtureErrors, "beluga_whale", polygons, "ord")
    assert(!plan(out).contains("BroadcastNestedLoopJoin"), plan(out))
    // the audit view still sees the join the checkpoint hides
    val (audited, _) = Materialize.withTransparent(WhalePipeline.process(
      fixtureValid, fixtureErrors, "beluga_whale", polygons, "ord"))
    assert(plan(audited).contains("BroadcastNestedLoopJoin"), plan(audited))
  }

  test("a null-id point inside two overlapping polygons keeps one id in both rows") {
    val valid = Seq(
      (1, null: String, "2001-05-10", 10.0, 10.0, null: String, null: String),
      (2, null: String, "2002-06-01", 60.0, 70.0, null: String, null: String))
      .toDF("ord", "occurrenceID", "eventDate", "decimalLatitude",
        "decimalLongitude", "waterBody", "vernacularName")
    // (10,10) lies in box_a and in "overlap"; (70,60) in box_b only
    val polys = polygons.unionByName(Seq(("overlap",
      Array(5.0, 15.0, 15.0, 5.0), Array(5.0, 5.0, 15.0, 15.0)))
      .toDF("name", "xs", "ys"))
    val (out, _) = WhalePipeline.process(valid, fixtureErrors, "beluga_whale", polys, "ord")
    val rows = out.select("ord", "occurrenceID", "waterBody")
      .as[(Int, String, String)].collect().toSeq
    assert(rows.filter(_._1 == 1).map(r => (r._2, r._3)).sorted ==
      Seq(("-1", "box_a"), ("-1", "overlap")))
    assert(rows.filter(_._1 == 2).map(r => (r._2, r._3)) == Seq(("-2", "box_b")))
  }

  test("process runs the keep-first dedup window once, inside the checkpoint") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.window.WindowExec
    val plans = new java.util.concurrent.LinkedBlockingQueue[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add((if (qe.analyzed.output.exists(_.name == "__mark")) "mark" else f) ->
          qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus delivers in order: what arrives between the two
    // marks is this process run and its collect, nothing older
    def mark(): Unit = spark.range(1).toDF("__mark").collect()
    spark.listenerManager.register(listener)
    val seen = try {
      mark()
      val (out, _) = WhalePipeline.process(
        fixtureValid, fixtureErrors, "beluga_whale", polygons, "ord")
      out.collect()
      mark()
      val got = scala.collection.mutable.ListBuffer[(String, SparkPlan)]()
      var marks = 0
      while (marks < 2) {
        val p = plans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(p != null, s"no second mark after ${got.map(_._1)}")
        if (p._1 == "mark") marks += 1 else if (marks == 1) got += p
      }
      got.toList
    } finally spark.listenerManager.unregister(listener)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def dedupWindows(p: SparkPlan) = helper.collect(p) {
      case w: WindowExec if w.partitionSpec.exists(_.references.exists(_.name == "eventDate")) => w
    }.size
    assert(seen.map(_._1).count(_ == "localCheckpoint") == 1, seen.map(_._1))
    assert(seen.map { case (f, p) => f -> dedupWindows(p) }.filter(_._2 > 0) ==
      Seq("localCheckpoint" -> 1))
  }

  test("enrichWaterBody's bbox prefilter keeps exactly the bare st_contains join's rows") {
    val wkt = graft.geo.Wkt.toVertexArrays _
    // a triangle the ray cast's rounding reaches past: (nextUp(maxx), y1)
    // lies right of every vertex yet tests inside (an unpadded box drops it)
    val (tx, ty) = (Array(-8.933189865730432, 8.476387503328546, 0.0),
      Array(0.0021721533539587356, -0.9798621796196083, 5.0))
    assert(graft.geo.Geo.rayCast(tx, ty, math.nextUp(tx(1)), ty(1)))
    val polys = Seq(
      // two parts, the first with a hole: NaN separators inside the arrays
      "holey" -> wkt("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), " +
        "(3 3, 7 3, 7 7, 3 7, 3 3)), ((20 0, 30 0, 25 8, 20 0)))"),
      "overlap" -> wkt("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"),
      "empty" -> (Array.empty[Double], Array.empty[Double]),
      "sliver" -> (tx, ty))
      .map { case (n, (xs, ys)) => (n, xs, ys) }.toDF("name", "xs", "ys")

    val rnd = new scala.util.Random(7)
    val random = Seq.fill(2000)((rnd.nextDouble() * 40 - 5, rnd.nextDouble() * 25 - 5))
    val vertices = polys.as[(String, Array[Double], Array[Double])].collect()
      .flatMap { case (_, xs, ys) => xs.zip(ys).filterNot(_._1.isNaN) }
    // every vertex, its ulp neighbours, and the bbox edges through it
    val edges = vertices.flatMap { case (x, y) =>
      for (dx <- Seq(math.nextDown(x), x, math.nextUp(x));
        dy <- Seq(math.nextDown(y), y, math.nextUp(y))) yield (dx, dy)
    } ++ Seq((0.0, 5.0), (10.0, 5.0), (5.0, 0.0), (5.0, 10.0), (30.0, 4.0), (25.0, 8.0))
    val pts = (random ++ edges).zipWithIndex
      .map { case ((x, y), i) => (i, Option(x), Option(y), "stale") } ++
      Seq((-1, None, Some(5.0), "stale"), (-2, Some(5.0), None, "stale"), (-3, None, None, null))
    val df = pts.toDF("k", "decimalLongitude", "decimalLatitude", "waterBody")

    graft.geo.Geo.register(spark)
    val bare = df.drop("waterBody")
      .join(broadcast(polys), graft.geo.Geo.stContains(col("xs"), col("ys"),
        col("decimalLongitude"), col("decimalLatitude")), "left")
      .withColumnRenamed("name", "waterBody").drop("xs", "ys")
    val got = WhalePipeline.enrichWaterBody(df, polys)
    assert(got.schema == bare.schema)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val (expected, actual) = (rows(bare), rows(got))
    val differ = (expected.keySet ++ actual.keySet)
      .filter(r => expected.get(r) != actual.get(r))
    assert(differ.isEmpty, s"rows (expected, got): ${differ.take(5)
      .map(r => r -> (expected.get(r), actual.get(r)))}")
    // the cases the spec exists for all occur
    val names = expected.keys.groupBy(_.head).view.mapValues(_.map(_(3)).toSet)
    assert(names.values.exists(_ == Set("holey", "overlap")), "a point in two polygons")
    val (ux, uy) = (math.nextUp(tx(1)), ty(1))
    val uk = pts.indexWhere(p => p._2.contains(ux) && p._3.contains(uy))
    assert(expected.contains(Seq(uk, ux, uy, "sliver")), "the rounding point matched")
    assert(Seq(-1, -2, -3).forall(k => names(k) == Set(null)))
  }
}
