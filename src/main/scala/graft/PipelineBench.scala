package graft

import org.apache.spark.sql.functions._

import graft.pipeline.WhalePipeline

/** End-to-end pipeline benchmark at the reference's published data scale
  * (BASELINE.md: 5,222 records → 5,216 valid + 6 errors, 6/6 repaired,
  * 1,170 duplicates removed, ~131 s single-process incl. 58 s shapefile
  * load, 34 s spatial join, 25 s row-wise MySQL load).
  *
  * Builds a deterministic synthetic occurrence set with exactly those
  * tallies, runs the composed cleaning chain (error repair → union →
  * dedup → fills → 9-polygon spatial join → dimension FK resolution),
  * and prints one JSON line with the wall time and the tally checks.
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-pipeline-bench")
    import spark.implicits._

    val total = 5222
    val errorsN = 6
    // 5,216 valid rows over 4,046 distinct (date,lat,lon) triples → 1,170
    // duplicates removed; + 6 repaired errors = 4,052 rows loaded, the
    // reference's exact tallies (BASELINE.md)
    val distinctTriples = 4046

    def occurrences(ids: Seq[Int]) = ids.toDF("id").select(
      col("id").as("ord"),
      when(col("id") % 870 === 0, lit(null))
        .otherwise(concat(lit("occ-"), col("id"))).as("occurrenceID"),
      date_format(date_add(lit("1932-01-01").cast("date"),
        (col("id") % distinctTriples) % 25000), "yyyy-MM-dd").as("eventDate"),
      ((col("id") % distinctTriples) * 13 % 1800 / 10.0 - 90.0).as("decimalLatitude"),
      ((col("id") % distinctTriples) * 7 % 3600 / 10.0 - 180.0).as("decimalLongitude"),
      lit(null).cast("string").as("waterBody"),
      lit(null).cast("string").as("vernacularName"))

    val valid = occurrences(errorsN until total)
    // 6 repairable error rows (bare-year dates — the P3 reject set)
    val errors = occurrences(0 until errorsN)
      .withColumn("eventDate", concat(lit("19"), (lit(40) + col("ord")).cast("string")))

    // 9 "oceans": axis-aligned boxes tiling part of the lat/lon domain
    val oceans = (0 until 9).map { i =>
      val lonLo = -180.0 + i * 40.0
      (s"ocean_$i",
        Array(lonLo, lonLo + 38.0, lonLo + 38.0, lonLo),
        Array(-80.0, -80.0, 80.0, 80.0))
    }.toDF("name", "xs", "ys")

    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM warmup

    val t0 = System.nanoTime()
    val (out, unrepairable) = WhalePipeline.process(
      valid, errors, "beluga_whale", oceans, "ord")
    val outP = out.persist()
    val outN = outP.count()
    val (lo, hi) = WhalePipeline.dateBounds(outP)
    val unrepN = unrepairable.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val dupsRemoved = total - outN - unrepN
    println(s"""{"metric":"whale_pipeline_5222","value":$secs,"unit":"sec",""" +
      s""""rows_out":$outN,"dups_removed":$dupsRemoved,""" +
      s""""errors_repaired":${errorsN - unrepN},""" +
      s""""bounds":"$lo..$hi","reference_sec":131.4}""")
    outP.unpersist()
    spark.stop()
  }
}
