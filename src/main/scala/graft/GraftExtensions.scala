package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.geo.PointInPolygon

/** Session extension registering the engine's custom Catalyst functions.
  * Use with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  * (For an already-built session, `graft.geo.Geo.register` does the same
  * registration directly.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("st_contains"),
      new ExpressionInfo(classOf[PointInPolygon].getName, "st_contains"),
      exprs => PointInPolygon(exprs(0), exprs(1), exprs(2), exprs(3))))
    ext.injectFunction((
      new FunctionIdentifier("st_intersects"),
      new ExpressionInfo(classOf[PointInPolygon].getName, "st_intersects"),
      exprs => PointInPolygon(exprs(0), exprs(1), exprs(2), exprs(3),
        inclusive = true)))
    ext.injectFunction((
      new FunctionIdentifier("fold_dot"),
      new ExpressionInfo(classOf[graft.functions.FoldDot].getName, "fold_dot"),
      exprs => graft.functions.FoldDot(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("fold_dot_long"),
      new ExpressionInfo(classOf[graft.functions.FoldDotLong].getName, "fold_dot_long"),
      exprs => graft.functions.FoldDotLong(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("pq_argmin"),
      new ExpressionInfo(classOf[graft.functions.PqArgmin].getName, "pq_argmin"),
      exprs => graft.functions.PqArgmin(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("dv_contains"),
      new ExpressionInfo(classOf[graft.functions.DvContains].getName, "dv_contains"),
      exprs => graft.functions.DvContains(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[graft.functions.SortedIntersectCount].getName,
        "sorted_intersect_count"),
      exprs => graft.functions.SortedIntersectCount(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBoundRule)
  }
}
