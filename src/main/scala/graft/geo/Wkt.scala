package graft.geo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WKT polygon on-ramp to the engine's `(name, xs, ys)` polygon contract
  * (SURVEY.md §2.1 S6; reference `whalefinder/cleaner.py:18-27` loads the
  * GOaS ocean shapefile via geopandas — shapefiles export to WKT with any
  * standard GIS tool, so WKT is the interchange the engine accepts).
  *
  * Multi-ring/multi-part handling: POLYGON interior rings (holes) and all
  * MULTIPOLYGON parts fold into ONE vertex-array row, rings separated by a
  * NaN vertex. [[Geo.rayCast]]'s even-odd rule then remains exact with no
  * code changes: every comparison against a NaN coordinate is false, so
  * the two synthetic edges touching a separator (and the wrap-around edge)
  * never count as crossings, while each closed ring contributes its own
  * crossings — and the even-odd fill rule over the union of rings is
  * precisely "inside an odd number of rings", i.e. inside some part and
  * not in its holes. One row per polygon keeps the broadcast-BNLJ shape of
  * q39 untouched at any ring count.
  */
object Wkt {

  /** Rings of a POLYGON/MULTIPOLYGON WKT as (x, y) vertex runs. Innermost
    * parenthesis groups are exactly the rings in both geometries.
    */
  def parseRings(wkt: String): Seq[Array[(Double, Double)]] = {
    val t = wkt.trim.toUpperCase
    require(t.startsWith("POLYGON") || t.startsWith("MULTIPOLYGON"),
      s"unsupported WKT geometry: ${wkt.take(30)}")
    "\\(([^()]+)\\)".r.findAllMatchIn(wkt).map { m =>
      m.group(1).trim.split(",").map { pt =>
        val xy = pt.trim.split("\\s+")
        (xy(0).toDouble, xy(1).toDouble)
      }
    }.toSeq
  }

  /** NaN-separated (xs, ys) arrays for all rings of a WKT geometry.
    *
    * Multi-ring arrays also END with a NaN separator: the ray-cast loop
    * pairs index n−1 with index 0, and without the trailing separator
    * that wrap segment is a PHANTOM CHORD from the last ring's closing
    * vertex to the first ring's first vertex — a real segment (neither
    * endpoint is NaN) that flips crossing parity for every point whose
    * ray passes under it, misclassifying a whole region (measured: a
    * point between two MULTIPOLYGON squares reported inside). WKT rings
    * are explicitly closed (first vertex repeated last), so multi-ring
    * arrays don't need the wrap edge; single-ring arrays may be unclosed
    * and DO use the wrap as their closing edge, so they stay as-is.
    */
  def toVertexArrays(wkt: String): (Array[Double], Array[Double]) =
    foldRings(parseRings(wkt))

  /** THE ring-fold — shared by the WKT and shapefile on-ramps so the
    * separator discipline above can never diverge between loaders.
    * Zero rings (shapefile null-shape records) yield empty arrays.
    */
  def foldRings(rings: Seq[Array[(Double, Double)]]): (Array[Double], Array[Double]) = {
    val joined = rings match {
      case Seq() => Array.empty[(Double, Double)]
      case Seq(only) => only
      case many =>
        // single builder pass, NOT reduce(a ++ sep ++ b): the reduce
        // re-copies the accumulated prefix once per ring — quadratic in
        // total vertices, real minutes on GOaS-scale multi-ring
        // geometries (thousands of rings, millions of points)
        val b = Array.newBuilder[(Double, Double)]
        b.sizeHint(many.iterator.map(_.length).sum + many.size)
        many.foreach { r => b ++= r; b += ((Double.NaN, Double.NaN)) }
        b.result()
    }
    (joined.map(_._1), joined.map(_._2))
  }

  /** Read a tab-separated `name<TAB>wkt` file into the `(name, xs, ys)`
    * polygon contract. Parsing runs distributed (polygon tables are
    * dimension-sized, but vertex counts can be large — GOaS rings carry
    * millions of points).
    */
  def loadPolygons(spark: SparkSession, path: String): DataFrame = {
    val parse = udf { (name: String, wkt: String) =>
      // a malformed config line (no tab -> null wkt, blank name) is
      // corruption of a hand-maintained polygon table: fail with the
      // offending row named, never an opaque NPE inside the parser
      require(name != null && wkt != null,
        s"malformed polygon line (name=$name): expected name<TAB>wkt")
      val (xs, ys) = toVertexArrays(wkt)
      (xs, ys)
    }
    // a declared schema: inferring the column count would read the first
    // line in a job of its own; a line without a tab still reads as a
    // null wkt and fails the require above
    spark.read.schema("name STRING, wkt STRING").option("sep", "\t").csv(path)
      .select(col("name"), parse(col("name"), col("wkt")).as("p"))
      .select(col("name"), col("p._1").as("xs"), col("p._2").as("ys"))
  }
}
