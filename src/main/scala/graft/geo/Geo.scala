package graft.geo

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array_max, array_min, call_function, filter, isnan}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, DoubleType}

/** Spatial point-in-polygon support (SURVEY.md §2.3 J1; reference
  * `whalefinder/cleaner.py:194-212` — geopandas `sjoin` of sighting points
  * against ocean polygons).
  *
  * Spark has no spatial join strategy, so this is the one place the engine
  * drops to a custom Catalyst expression: [[PointInPolygon]] is a native
  * `Expression` with whole-stage codegen (`doGenCode` emits the ray-cast
  * loop inline — no UDF boxing, no serialization). The join itself is a
  * BroadcastNestedLoopJoin against the (tiny, broadcast) polygon table:
  * `points.join(broadcast(polys), stContains(xs, ys, x, y), "left")` —
  * exactly the shape the reference's 9-ocean sjoin wants. A bbox conjunct
  * in front of the ray cast only pays when the box is precomputed once per
  * polygon row ([[finiteBounds]] on the broadcast side, as
  * `WhalePipeline.enrichWaterBody` does); recomputed per (point, polygon)
  * pair it scans every vertex, like the ray cast it guards. For polygon
  * tables too large to broadcast, grid-index both sides to turn the join
  * into an equi-join on cell id ([[gridSpatialJoin]]).
  */
object Geo {

  /** Even-odd ray-cast: vertex i pairs with vertex (i+1) mod n; a crossing
    * is counted when the horizontal ray from (x, y) crosses the edge —
    * `((yi > y) != (yj > y)) && (x < (xj-xi)·(y-yi)/(yj-yi) + xi)`.
    * The formula (incl. operand order) is mirrored verbatim in the DuckDB
    * oracle, so results agree bit-for-bit.
    */
  def rayCast(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean = {
    val n = xs.length
    var inside = false
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      if (((ys(i) > y) != (ys(j) > y)) &&
        (x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i))) {
        inside = !inside
      }
      i += 1
    }
    inside
  }

  /** True when (x, y) lies exactly ON a polygon edge or vertex: zero
    * cross product against the segment AND inside its bbox. Exact float
    * comparisons — the parity target (shapely `intersects`) also treats
    * boundary membership as an exact predicate; on real float data the
    * boundary is measure-zero either way. NaN ring separators (Wkt)
    * fail every comparison, so separator "segments" never match.
    */
  def onBoundary(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean = {
    val n = xs.length
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val xi = xs(i); val yi = ys(i); val xj = xs(j); val yj = ys(j)
      if ((xj - xi) * (y - yi) == (yj - yi) * (x - xi) &&
        x >= math.min(xi, xj) && x <= math.max(xi, xj) &&
        y >= math.min(yi, yj) && y <= math.max(yi, yj)) return true
      i += 1
    }
    false
  }

  /** Boundary-INCLUSIVE containment — shapely-`intersects` parity (the
    * reference's geopandas sjoin semantics, SURVEY §7.5): interior like
    * [[rayCast]] plus the whole boundary. The half-open [[rayCast]] stays
    * the default for dedup-safe partitioned assignment (a point shared by
    * two adjacent tiles counts once); this mode exists for result parity
    * with boundary-inclusive engines.
    */
  def rayCastInclusive(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean =
    onBoundary(xs, ys, x, y) || rayCast(xs, ys, x, y)

  /** (min, max) over a vertex array's finite entries. Wkt's NaN ring
    * separators sort as the largest double, so a bare `array_max` would be
    * NaN. Both are null when no vertex is finite (a zero-ring polygon).
    */
  def finiteBounds(c: Column): (Column, Column) = {
    val finite = filter(c, v => !isnan(v))
    (array_min(finite), array_max(finite))
  }

  /** Register `st_contains` (half-open) and `st_intersects`
    * (boundary-inclusive) in an existing session (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "st_contains",
      exprs => PointInPolygon(exprs(0), exprs(1), exprs(2), exprs(3)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "st_intersects",
      exprs => PointInPolygon(exprs(0), exprs(1), exprs(2), exprs(3),
        inclusive = true),
      "built-in")
  }

  /** `st_contains(xs, ys, x, y)` — requires [[register]] (or the
    * [[GraftExtensions]] session extension) to have run.
    */
  def stContains(xs: Column, ys: Column, x: Column, y: Column): Column =
    call_function("st_contains", xs, ys, x, y)

  /** Boundary-inclusive `st_intersects(xs, ys, x, y)` (shapely parity);
    * same registration requirement as [[stContains]].
    */
  def stIntersects(xs: Column, ys: Column, x: Column, y: Column): Column =
    call_function("st_intersects", xs, ys, x, y)

  /** Grid-indexed spatial left join — the scale path when the polygon
    * table outgrows broadcast-BNLJ (SURVEY.md §7.5): polygons replicate
    * into every grid cell their bbox covers, points hash to their one
    * cell, candidates meet in an EQUI-join on (cellx, celly) and only
    * candidates pay the exact ray cast. Equivalent to the BNLJ join by
    * construction (a containing polygon's bbox always covers the point's
    * cell); q56's oracle is literally q39's.
    *
    * `points` must carry (`pointCols`…, x, y); `polys` (name, xs, ys).
    * Output: points columns + matched `name` (null when uncontained).
    */
  def gridSpatialJoin(points: org.apache.spark.sql.DataFrame,
      polys: org.apache.spark.sql.DataFrame, cellSize: Double)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    register(points.sparkSession)
    def cellOf(c: Column): Column = floor(c / cellSize).cast("long")
    // over finite vertices only: a NaN bound's cast to a cell id is
    // rejected under ANSI mode
    def cells(vertices: Column): Column = {
      val (lo, hi) = finiteBounds(vertices)
      explode(sequence(cellOf(lo), cellOf(hi)))
    }
    // internal columns carry a __grid_ prefix so a caller's own cellx/
    // celly/pt_id columns are never silently overwritten then dropped;
    // the polys contract columns (name, xs, ys) must not collide with
    // point columns — checked loudly below rather than letting the join
    // produce ambiguous references downstream
    for (reserved <- Seq("name", "xs", "ys"))
      require(!points.columns.contains(reserved),
        s"gridSpatialJoin: points must not carry a '$reserved' column " +
          "(it is the polygon side's contract column)")
    val polyCells = polys
      .withColumn("__grid_cellx", cells(col("xs")))
      .withColumn("__grid_celly", cells(col("ys")))
    // a synthetic point id keys the miss path: matches reduce to
    // (_pt_id, name) and LEFT-join back, so unmatched points surface with
    // a null name in ONE join — an all-columns left_anti here would cost
    // an extra full shuffle of the point set AND silently drop both
    // copies of a fully-duplicate point row when only one matched. The
    // checkpoint pins monotonically_increasing_id to ONE evaluation
    // (both join branches read the same materialized ids) without leaking
    // a cache-manager entry per call the way persist() would — checkpoint
    // blocks are released by the ContextCleaner once the returned plan is
    // unreferenced, with no unpersist obligation on the caller. Routed
    // through Materialize so PlanAuditSpec sees the whole upstream plan;
    // the audit only BUILDS plans (never executes this join), so the
    // unpinned-id hazard cannot bite under its transparent window.
    val pts = points
      .withColumn("__grid_pt_id", monotonically_increasing_id())
      .withColumn("__grid_cellx", cellOf(col("x")))
      .withColumn("__grid_celly", cellOf(col("y")))
      .transform(graft.Materialize.checkpoint)
    val matches = pts
      .join(polyCells, Seq("__grid_cellx", "__grid_celly"))
      .filter(stContains(col("xs"), col("ys"), col("x"), col("y")))
      .select(col("__grid_pt_id"), col("name"))
    pts.drop("__grid_cellx", "__grid_celly")
      .join(matches, Seq("__grid_pt_id"), "left")
      .drop("__grid_pt_id")
  }
}

/** `st_contains(xs: array<double>, ys: array<double>, x, y)` — true when
  * point (x, y) falls inside the polygon with vertex arrays xs/ys, by
  * even-odd ray casting. Codegen emits the loop inline. With
  * `inclusive = true` (`st_intersects`) the loop also tests boundary
  * membership, matching shapely's `intersects` — see
  * [[Geo.rayCastInclusive]].
  */
case class PointInPolygon(first: Expression, second: Expression,
    third: Expression, fourth: Expression, inclusive: Boolean = false)
  extends QuaternaryExpression {

  override def dataType: DataType = BooleanType
  // nullable beyond the children: mismatched xs/ys vertex arrays are a
  // malformed polygon → null (the FoldDot/PqArgmin degenerate-input
  // contract), not an ArrayIndexOutOfBounds that kills the job — the
  // registered st_contains/st_intersects surface accepts user arrays,
  // not just the library's own paired polygon tables
  override def nullable: Boolean = true
  override def prettyName: String = if (inclusive) "st_intersects" else "st_contains"

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val ok = got match {
      case Seq(ArrayType(DoubleType, _), ArrayType(DoubleType, _),
        DoubleType, DoubleType) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_contains expects (array<double>, array<double>, double, double), got $got")
  }

  override protected def nullSafeEval(xs: Any, ys: Any, x: Any, y: Any): Any = {
    val xa = xs.asInstanceOf[ArrayData].toDoubleArray()
    val ya = ys.asInstanceOf[ArrayData].toDoubleArray()
    if (xa.length != ya.length) return null
    val px = x.asInstanceOf[Double]
    val py = y.asInstanceOf[Double]
    if (inclusive) Geo.rayCastInclusive(xa, ya, px, py)
    else Geo.rayCast(xa, ya, px, py)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xs, ys, x, y) => {
      val xa = ctx.freshName("xa")
      val ya = ctx.freshName("ya")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val in = ctx.freshName("inside")
      val onb = ctx.freshName("onb")
      // mirror of Geo.onBoundary, fused into the same vertex loop
      val boundaryTest = if (!inclusive) "" else s"""
         |  if ((($xa[$j] - $xa[$i]) * ($y - $ya[$i]) ==
         |       ($ya[$j] - $ya[$i]) * ($x - $xa[$i])) &&
         |      $x >= Math.min($xa[$i], $xa[$j]) && $x <= Math.max($xa[$i], $xa[$j]) &&
         |      $y >= Math.min($ya[$i], $ya[$j]) && $y <= Math.max($ya[$i], $ya[$j])) {
         |    $onb = true;
         |  }""".stripMargin
      s"""
         |double[] $xa = $xs.toDoubleArray();
         |double[] $ya = $ys.toDoubleArray();
         |if ($xa.length != $ya.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $xa.length;
         |  boolean $in = false;
         |  boolean $onb = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    int $j = ($i + 1) % $n;
         |    if ((($ya[$i] > $y) != ($ya[$j] > $y)) &&
         |        ($x < ($xa[$j] - $xa[$i]) * ($y - $ya[$i]) / ($ya[$j] - $ya[$i]) + $xa[$i])) {
         |      $in = !$in;
         |    }$boundaryTest
         |  }
         |  ${ev.value} = $in || $onb;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(first: Expression,
      second: Expression, third: Expression, fourth: Expression): Expression =
    copy(first = first, second = second, third = third, fourth = fourth)
}
