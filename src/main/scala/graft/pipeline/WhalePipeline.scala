package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dates.DateSplit
import graft.dims.Dimensions
import graft.geo.Geo

/** The reference's occurrence-cleaning pipeline, composed from the engine's
  * operators (SURVEY.md §3.1 stages 4–6; reference
  * `whalefinder/cleaner.py:339-398` `merge_data`/`process_and_save`).
  *
  * Order of operations preserved from the reference (dedup BEFORE the
  * spatial join — Catalyst won't reorder agg vs join, §4): repair errors →
  * union channels → date_is_valid flag → keep-first dedup → fill
  * vernacular → spatial waterBody overwrite → fill synthetic ids →
  * dimension build + FK resolution. The ids are filled after the spatial
  * join, on its checkpoint, and number the same rows as the reference's
  * fill before its sjoin (see [[fillOccurrenceIds]]).
  *
  * Order-dependent reference semantics ("first" duplicate, i-th null id)
  * require an explicit stable ordering column in Spark (pandas row order
  * doesn't exist on a cluster); callers pass `orderCol` — typically the
  * input file's row index or the occurrence id.
  */
object WhalePipeline {

  /** W1/F15: null occurrence ids become "-1","-2",… in `orderCol` order
    * (`cleaner.py:66-69`). The global numbering window runs only over the
    * (tiny) null slice, mirroring the reference's in-order scan.
    *
    * Rows with equal `orderCol` share one id (`dense_rank`): after the
    * spatial join, a point inside two overlapping polygons is two rows of
    * one record, and keeps one id in both, as in the reference, which
    * fills ids before its sjoin. So `orderCol` must be unique per record.
    *
    * `df` is read twice (the null and the non-null slice): pass a
    * materialized frame, or everything upstream runs twice.
    */
  def fillOccurrenceIds(df: DataFrame, orderCol: Column): DataFrame = {
    val nulls = df.filter(col("occurrenceID").isNull)
      .withColumn("occurrenceID",
        (-dense_rank().over(Window.orderBy(orderCol))).cast("string"))
    df.filter(col("occurrenceID").isNotNull).unionByName(nulls)
  }

  /** F6/F7: vernacularName filled from the snake_case whale name
    * (`cleaner.py:71-73`).
    */
  def fillVernacular(df: DataFrame, whale: String): DataFrame =
    df.withColumn("vernacularName",
      coalesce(col("vernacularName"),
        initcap(regexp_replace(lit(whale), "_", " "))))

  /** A4/W3: keep-first dedup pinned to `orderCol` (`cleaner.py:353-355`). */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderCol: Column): DataFrame =
    df.withColumn("__rn",
      row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(orderCol)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Error-channel repair (`cleaner.py:290-321`): re-parse eventDate with
    * the full multi-format parser, keep rows where every derived part is
    * non-zero (P4); the remainder stays on the error channel.
    */
  def repairErrors(errors: DataFrame): (DataFrame, DataFrame) = {
    val withParts = errors
      .withColumn("__p", graft.dates.SplitDatesFn.splitDatesUdf(col("eventDate")))
      .select(col("*"), col("__p.*")).drop("__p")
    val partCols = Seq("start_year", "start_month", "start_day",
      "end_year", "end_month", "end_day")
    val ok = partCols.map(col(_) =!= 0).reduce(_ && _)
    (withParts.filter(ok), withParts.filter(!ok))
  }

  /** U2 + derived parts/flag: valid rows get date parts + the strict-date
    * flag; repaired error rows union in (`cleaner.py:339-352`).
    */
  def mergeChannels(valid: DataFrame, repaired: DataFrame): DataFrame = {
    val v = valid
      .withColumn("__p", graft.dates.SplitDatesFn.splitDatesUdf(col("eventDate")))
      .select(col("*"), col("__p.*")).drop("__p")
    v.unionByName(repaired, allowMissingColumns = true)
      .withColumn("date_is_valid", DateSplit.isValidDate(col("eventDate")))
  }

  /** J1: spatial enrichment — waterBody overwritten by the containing
    * polygon's name, NULL when outside all (`cleaner.py:194-212`). The
    * polygon table `(name, xs, ys)` broadcasts into a BNLJ, each row
    * carrying its bounding box, computed once per polygon: a point outside
    * the box skips the ray cast.
    *
    * The box never drops a row the bare `st_contains` join keeps. The ray
    * cast compares y against vertex ys only, so the y bounds are exact. It
    * does compute each edge crossing's x, and rounding has put that x
    * beyond the edge's end points by up to 3 machine epsilons of their
    * largest |x|, so a point an ulp right of every vertex can test inside.
    * The x bounds are therefore widened by a relative 1e-12: far beyond
    * that rounding, far below any real coordinate's precision. Rings must
    * be closed, as WKT and shapefiles require.
    */
  def enrichWaterBody(df: DataFrame, polygons: DataFrame): DataFrame = {
    Geo.register(df.sparkSession)
    val (minX, maxX) = Geo.finiteBounds(col("xs"))
    val (minY, maxY) = Geo.finiteBounds(col("ys"))
    val pad = greatest(abs(minX), abs(maxX)) * 1e-12
    // bounds are never null (a polygon with no finite vertex gets the empty
    // box [+inf, -inf]): a nullable bound makes the join imply an
    // isnotnull filter on the polygon side, which Catalyst pushes below
    // the loader's projection, re-running its WKT parse per reference
    def bound(c: Column, empty: Double) = coalesce(c, lit(empty))
    val boxed = polygons.select(col("name"), col("xs"), col("ys"),
      struct(bound(minX - pad, Double.PositiveInfinity).as("minx"),
        bound(maxX + pad, Double.NegativeInfinity).as("maxx"),
        bound(minY, Double.PositiveInfinity).as("miny"),
        bound(maxY, Double.NegativeInfinity).as("maxy")).as("__bbox"))
    val (x, y) = (col("decimalLongitude"), col("decimalLatitude"))
    df.drop("waterBody")
      .join(broadcast(boxed),
        x.between(col("__bbox.minx"), col("__bbox.maxx")) &&
          y.between(col("__bbox.miny"), col("__bbox.maxy")) &&
          Geo.stContains(col("xs"), col("ys"), x, y), "left")
      .withColumnRenamed("name", "waterBody")
      .drop("xs", "ys", "__bbox")
  }

  /** A2: pipeline date bounds over strictly-valid dates
    * (`cleaner.py:170-192`): (min, max) of eventDate as ISO strings.
    */
  def dateBounds(df: DataFrame): (String, String) = {
    val r = df.filter(col("date_is_valid"))
      .agg(min(col("eventDate")), max(col("eventDate"))).head()
    (r.getString(0), r.getString(1))
  }

  /** Full cleaning chain in the reference's operator order. Returns the
    * cleaned occurrences with surrogate `waterBodyId` resolved from a
    * get-or-create locations dimension (S11 *intended* semantics — see
    * [[graft.dims.Dimensions]] for the documented proc-bug deviation).
    * `orderCol` must be unique per input row.
    */
  def process(valid: DataFrame, errors: DataFrame, whale: String,
      polygons: DataFrame, orderCol: String): (DataFrame, DataFrame) = {
    val (repaired, unrepairable) = repairErrors(errors)
    val merged = mergeChannels(valid, repaired)
    val deduped = dedupKeepFirst(merged,
      Seq("eventDate", "decimalLatitude", "decimalLongitude"), col(orderCol))
    // the dedup window and the spatial join run once: the id fill's two
    // slices, the locations dimension and the FK join all read the
    // checkpoint instead of re-running it and its upstream
    val enriched = graft.Materialize.checkpoint(
      enrichWaterBody(fillVernacular(deduped, whale), polygons))
    val filled = fillOccurrenceIds(enriched, col(orderCol))
    val locations = Dimensions.getOrCreate(
      existing = enriched.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType)))),
      incoming = enriched.select(col("waterBody").as("name")))
    val withFk = Dimensions.resolveFk(filled, locations, "waterBody", "waterBodyId")
    (withFk, unrepairable)
  }
}
