package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.Geo

class GeoSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val triX = Array(0.0, 10.0, 5.0)
  private val triY = Array(0.0, 0.0, 10.0)
  // non-convex L-shape
  private val lX = Array(0.0, 6.0, 6.0, 3.0, 3.0, 0.0)
  private val lY = Array(0.0, 0.0, 3.0, 3.0, 9.0, 9.0)

  test("rayCast: convex, non-convex, outside") {
    assert(Geo.rayCast(triX, triY, 5.0, 2.0))
    assert(!Geo.rayCast(triX, triY, 9.5, 9.5))
    assert(Geo.rayCast(lX, lY, 1.0, 8.0)) // in the vertical arm
    assert(!Geo.rayCast(lX, lY, 5.0, 8.0)) // in the notch
  }

  test("expression (codegen path) agrees with the Scala implementation") {
    Geo.register(spark)
    val pts = (for (x <- 0 to 10; y <- 0 to 10)
      yield (x + 0.5, y + 0.5)).toDF("x", "y")
    val got = pts
      .withColumn("xs", typedlit(lX)).withColumn("ys", typedlit(lY))
      .select(col("x"), col("y"),
        Geo.stContains(col("xs"), col("ys"), col("x"), col("y")).as("in"))
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(2) ==
        Geo.rayCast(lX, lY, r.getDouble(0), r.getDouble(1)),
        s"at (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("mismatched xs/ys vertex arrays yield null, not an index crash") {
    Geo.register(spark)
    // a malformed polygon (xs longer than ys) used to throw
    // ArrayIndexOutOfBounds from the ray-cast loop (both paths index ya
    // by xa.length); the degenerate-input contract is null, like the
    // fold expressions
    val df = Seq((Seq(0.0, 4.0, 4.0, 0.0), Seq(0.0, 0.0, 4.0), 2.0, 2.0),
      (Seq(0.0, 4.0, 4.0, 0.0), Seq(0.0, 0.0, 4.0, 4.0), 2.0, 2.0))
      .toDF("xs", "ys", "x", "y")
    for (f <- Seq(Geo.stContains _, Geo.stIntersects _)) {
      val r = df.select(f(col("xs"), col("ys"), col("x"), col("y"))).collect()
      assert(r(0).isNullAt(0), "mismatched arrays must be null")
      assert(r(1).getBoolean(0), "well-formed row unaffected")
    }
  }

  test("boundary points: half-open PNPOLY convention, identical in every plan") {
    // Pinned semantics (SURVEY §7.5): the even-odd ray cast with strict
    // comparisons classifies an axis-aligned square as the half-open tile
    // [x0,x1)×[y0,y1) — bottom and left boundary (incl. the min corner)
    // IN, top and right boundary (incl. the other three corners) OUT. A
    // point shared by two adjacent tiles is therefore counted exactly
    // once, which is the convention a partitioned spatial pipeline needs;
    // shapely's `intersects` (the reference's sjoin) instead includes the
    // whole boundary, a deliberate, documented divergence — the oracle
    // mirrors THIS formula, so all engines agree bit-for-bit.
    val sqX = Array(0.0, 4.0, 4.0, 0.0)
    val sqY = Array(0.0, 0.0, 4.0, 4.0)
    val expected = Seq(
      ((2.0, 0.0), true),   // bottom edge
      ((0.0, 2.0), true),   // left edge
      ((2.0, 4.0), false),  // top edge
      ((4.0, 2.0), false),  // right edge
      ((0.0, 0.0), true),   // min vertex
      ((4.0, 0.0), false), ((4.0, 4.0), false), ((0.0, 4.0), false),
      ((2.0, 2.0), true),   // interior sanity
      ((5.0, 2.0), false))  // exterior sanity
    expected.foreach { case ((x, y), in) =>
      assert(Geo.rayCast(sqX, sqY, x, y) == in, s"rayCast at ($x, $y)")
    }
    // the same ten points through BOTH physical plans (codegen BNLJ and
    // grid equi-join)
    Geo.register(spark)
    val pts = expected.map { case ((x, y), _) => (x, y) }.toDF("x", "y")
    val polys = Seq(("sq", sqX, sqY)).toDF("name", "xs", "ys")
    def classify(df: org.apache.spark.sql.DataFrame): Set[((Double, Double), Boolean)] =
      df.select(col("x"), col("y"), col("name").isNotNull.as("in"))
        .collect()
        .map(r => ((r.getDouble(0), r.getDouble(1)), r.getBoolean(2))).toSet
    val bnlj = classify(pts.join(broadcast(polys),
      Geo.stContains(col("xs"), col("ys"), col("x"), col("y")), "left"))
    val grid = classify(Geo.gridSpatialJoin(pts, polys, cellSize = 4.0))
    assert(bnlj == expected.toSet, "BNLJ plan")
    assert(grid == expected.toSet, "grid plan (cell edges ON the boundary)")
  }

  test("boundary-inclusive mode (st_intersects): shapely parity, codegen = JVM") {
    // same ten probes as the half-open case; the inclusive mode must
    // admit the ENTIRE boundary (what shapely's `intersects` — the
    // reference's geopandas sjoin — answers), and agree between the
    // JVM twin and the codegen expression
    val sqX = Array(0.0, 4.0, 4.0, 0.0)
    val sqY = Array(0.0, 0.0, 4.0, 4.0)
    val expected = Seq(
      ((2.0, 0.0), true), ((0.0, 2.0), true),   // bottom/left edge
      ((2.0, 4.0), true), ((4.0, 2.0), true),   // top/right edge — now IN
      ((0.0, 0.0), true), ((4.0, 0.0), true),   // all four vertices IN
      ((4.0, 4.0), true), ((0.0, 4.0), true),
      ((2.0, 2.0), true),                       // interior unchanged
      ((5.0, 2.0), false),                      // exterior unchanged
      ((5.0, 0.0), false))                      // collinear with the bottom
                                                // edge but OUTSIDE its bbox
    expected.foreach { case ((x, y), in) =>
      assert(Geo.rayCastInclusive(sqX, sqY, x, y) == in, s"rayCastInclusive ($x, $y)")
    }
    // non-convex sanity: notch point stays out, arm point stays in
    assert(!Geo.rayCastInclusive(lX, lY, 5.0, 8.0))
    assert(Geo.rayCastInclusive(lX, lY, 1.0, 8.0))
    // the codegen expression through a real plan
    Geo.register(spark)
    val pts = expected.map { case ((x, y), _) => (x, y) }.toDF("x", "y")
    val got = pts
      .withColumn("xs", typedlit(sqX)).withColumn("ys", typedlit(sqY))
      .select(col("x"), col("y"),
        Geo.stIntersects(col("xs"), col("ys"), col("x"), col("y")).as("in"))
      .collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getBoolean(2))).toSet
    assert(got == expected.toSet, "codegen st_intersects")
  }

  test("multi-ring arrays carry no phantom wrap chord (MULTIPOLYGON + hole)") {
    // Two disjoint squares: without the trailing NaN separator the
    // ray-cast loop's (n-1, 0) wrap pairs the last ring's closing vertex
    // with the first ring's first vertex — a phantom chord that flipped
    // parity for the whole region under it (a point between the squares
    // reported INSIDE, a point in square1 reported OUTSIDE)
    val (mx, my) = graft.geo.Wkt.toVertexArrays(
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((10 5, 11 5, 11 6, 10 6, 10 5)))")
    assert(Geo.rayCast(mx, my, 0.5, 0.5), "inside square1")
    assert(Geo.rayCast(mx, my, 10.5, 5.5), "inside square2")
    assert(!Geo.rayCast(mx, my, 5.0, 2.6), "between the squares (under the former chord)")
    assert(!Geo.rayCast(mx, my, 5.0, 9.0), "clearly outside")
    // Outer square with a hole: even-odd over both rings — annulus in,
    // hole out; the inclusive mode admits BOTH rings' boundaries and
    // must not see the (hole-closing -> outer-first) chord either
    val (hx, hy) = graft.geo.Wkt.toVertexArrays(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(Geo.rayCast(hx, hy, 2.0, 2.0), "in the annulus")
    assert(!Geo.rayCast(hx, hy, 5.0, 5.0), "in the hole")
    assert(!Geo.rayCast(hx, hy, 11.0, 5.0), "outside")
    assert(Geo.rayCastInclusive(hx, hy, 4.0, 5.0), "on the hole boundary")
    assert(Geo.rayCastInclusive(hx, hy, 0.0, 5.0), "on the outer boundary")
    assert(!Geo.onBoundary(hx, hy, 2.0, 2.2),
      "annulus interior point is not boundary via any phantom segment")
  }

  test("gridSpatialJoin: left semantics with fully-duplicate point rows") {
    val polys = Seq(("t", triX, triY)).toDF("name", "xs", "ys")
    // two ENTIRELY identical contained points, one uncontained point —
    // every physical row must surface exactly once (the old all-columns
    // left_anti miss path conflated identical rows)
    val pts = Seq((1L, 5.0, 2.0), (1L, 5.0, 2.0), (2L, 50.0, 50.0))
      .toDF("k", "x", "y")
    val got = Geo.gridSpatialJoin(pts, polys, cellSize = 10.0)
      .select(col("k"), col("x"), col("y"), col("name"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        Option(r.getString(3))))
      .toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 5.0, 2.0, Some("t")),
      (1L, 5.0, 2.0, Some("t")),
      (2L, 50.0, 50.0, None)))
    // and it matches the BNLJ reference plan on the same inputs
    val bnlj = pts.join(broadcast(polys),
      Geo.stContains(col("xs"), col("ys"), col("x"), col("y")), "left")
      .select(col("k"), col("name")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._4)) == bnlj)
  }

  test("WKT on-ramp: a line without a tab fails naming the row") {
    val dir = java.nio.file.Files.createTempDirectory("wkt_bad")
    java.nio.file.Files.write(dir.resolve("polys.tsv"), Seq(
      "box\tPOLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "no_tab_here")
      .mkString("\n").getBytes("UTF-8"))
    val e = intercept[Exception](graft.geo.Wkt.loadPolygons(spark, dir.toString).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("malformed polygon line (name=no_tab_here)")),
      messages(e))
  }

  test("WKT on-ramp: holes and multipolygon parts match BNLJ expectations") {
    import graft.geo.Wkt
    val dir = java.nio.file.Files.createTempDirectory("wkt_fix")
    val wkt = Seq(
      // square with a square hole — (5,5) is inside the hole, so outside
      "donut\tPOLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))",
      // two disjoint parts under one name
      "twin\tMULTIPOLYGON (((20 0, 30 0, 30 10, 20 10, 20 0)), ((40 0, 50 0, 50 10, 40 10, 40 0)))")
    java.nio.file.Files.write(dir.resolve("polys.tsv"),
      wkt.mkString("\n").getBytes("UTF-8"))

    Geo.register(spark)
    val polys = Wkt.loadPolygons(spark, dir.toString)
    assert(polys.count() == 2) // one row per polygon, rings folded in

    val pts = Seq((1L, 1.0, 1.0), (2L, 5.0, 5.0), (3L, 25.0, 5.0),
      (4L, 35.0, 5.0), (5L, 45.0, 5.0)).toDF("k", "x", "y")
    def names(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("name")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    val bnlj = names(pts.join(broadcast(polys),
      Geo.stContains(col("xs"), col("ys"), col("x"), col("y")), "left"))
    assert(bnlj == Seq(
      (1L, Some("donut")), (2L, None), // even-odd: hole excluded
      (3L, Some("twin")), (4L, None), (5L, Some("twin"))))
    // grid path (NaN-separator-safe bbox) agrees with the BNLJ plan
    val grid = names(Geo.gridSpatialJoin(pts, polys, cellSize = 5.0))
    assert(grid == bnlj)
  }

  test("Wkt parser: ring extraction, whitespace tolerance, rejects non-polygons") {
    import graft.geo.Wkt
    val rings = Wkt.parseRings(
      "POLYGON ((0 0, 10 0,  10 10 , 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))")
    assert(rings.size == 2 && rings.head.length == 5)
    assert(rings(1).head == ((3.0, 3.0)))
    val multi = Wkt.parseRings(
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
    assert(multi.size == 2)
    // NaN separators: one per ring boundary PLUS a trailing one on
    // multi-ring arrays (kills the index-wrap phantom chord between the
    // last ring's closing vertex and the first ring's first vertex)
    val (xs, _) = Wkt.toVertexArrays(
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
    assert(xs.count(_.isNaN) == 2 && xs.length == 10)
    assert(xs.last.isNaN)
    // single-ring arrays keep NO separator: the wrap edge IS the closure
    val (sx, _) = Wkt.toVertexArrays("POLYGON ((0 0, 1 0, 1 1))")
    assert(sx.count(_.isNaN) == 0 && sx.length == 3)
    intercept[IllegalArgumentException] {
      Wkt.parseRings("POINT (1 2)")
    }
  }

  test("Shapefile reader: .shp polygons + .dbf names -> (name, xs, ys)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.geo.Shapefile

    // --- build a two-record fixture: a donut (2 rings) and a square ------
    def polyRecord(recNo: Int, rings: Seq[Seq[(Double, Double)]]): Array[Byte] = {
      val numPoints = rings.map(_.size).sum
      val contentLen = 4 + 32 + 4 + 4 + 4 * rings.size + 16 * numPoints
      val b = ByteBuffer.allocate(8 + contentLen)
      b.order(ByteOrder.BIG_ENDIAN).putInt(recNo).putInt(contentLen / 2)
      b.order(ByteOrder.LITTLE_ENDIAN).putInt(5)
      (0 until 4).foreach(_ => b.putDouble(0.0)) // bbox (unused by reader)
      b.putInt(rings.size).putInt(numPoints)
      rings.scanLeft(0)(_ + _.size).dropRight(1).foreach(b.putInt)
      rings.flatten.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
      b.array()
    }
    val donut = Seq(
      Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)),
      Seq((3.0, 3.0), (3.0, 7.0), (7.0, 7.0), (7.0, 3.0), (3.0, 3.0)))
    val square = Seq(
      Seq((20.0, 0.0), (30.0, 0.0), (30.0, 10.0), (20.0, 10.0), (20.0, 0.0)))
    val recs = polyRecord(1, donut) ++ polyRecord(2, square)
    val shp = ByteBuffer.allocate(100 + recs.length)
    shp.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994)
      .putInt(24, (100 + recs.length) / 2)
    shp.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
    shp.position(100); shp.put(recs)

    val names = Seq("donut", "square")
    val dbf = ByteBuffer.allocate(65 + names.size * 17)
      .order(ByteOrder.LITTLE_ENDIAN)
    dbf.put(0, 3.toByte).putInt(4, names.size)
      .putShort(8, 65.toShort).putShort(10, 17.toShort)
    dbf.position(32)
    dbf.put("NAME".getBytes("US-ASCII")).put(new Array[Byte](7))
    dbf.put('C'.toByte).put(new Array[Byte](4)).put(16.toByte)
    dbf.position(64); dbf.put(0x0D.toByte)
    names.foreach { n =>
      dbf.put(' '.toByte) // not-deleted flag
      dbf.put(n.padTo(16, ' ').getBytes("US-ASCII"))
    }

    val dir = java.nio.file.Files.createTempDirectory("shp_fix")
    java.nio.file.Files.write(dir.resolve("oceans.shp"), shp.array())
    java.nio.file.Files.write(dir.resolve("oceans.dbf"), dbf.array())

    // --- read and join ----------------------------------------------------
    val polys = Shapefile.loadPolygons(spark, dir.resolve("oceans.shp").toString)
    assert(polys.count() == 2)
    val pts = Seq((1L, 1.0, 1.0), (2L, 5.0, 5.0), (3L, 25.0, 5.0), (4L, 50.0, 5.0))
      .toDF("k", "x", "y")
    Geo.register(spark)
    val got = pts.join(broadcast(polys),
      Geo.stContains(col("xs"), col("ys"), col("x"), col("y")), "left")
      .select(col("k"), col("name")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some("donut")), (2L, None), // even-odd: inside the hole
      (3L, Some("square")), (4L, None)))
  }

  test("GraftExtensions registers st_contains for SQL use") {
    new GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions) // constructs cleanly
    Geo.register(spark)
    val n = spark.sql(
      "SELECT st_contains(array(0D, 10D, 5D), array(0D, 0D, 10D), 5D, 2D) AS c")
      .collect()(0).getBoolean(0)
    assert(n)
  }
}
