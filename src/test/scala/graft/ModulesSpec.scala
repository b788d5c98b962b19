package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dims.Dimensions
import graft.validate.Validation
import graft.validate.Validation.Rule

/** Edge-case specs for the smaller modules (the oracle gate covers the
  * happy paths at data scale; these pin the corners).
  */
class ModulesSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("Staging.writeCompacted: sizes file count to the row target") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val df = spark.range(10000).toDF("id")
    graft.sources.Staging.writeCompacted(df, dir, targetFileRows = 3000)
    val files = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    // 10000 rows / 3000 target → 4 balanced files, none above the cap
    assert(files.size == 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    val perFile = back.groupBy(input_file_name()).count()
      .collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 3000))
  }

  test("Validation: null check results count as failures (pydantic-style)") {
    val df = Seq((1, Some(5)), (2, None)).toDF("id", "v")
    val annotated = Validation.annotate(df,
      Seq(Rule("v", "value_error", "v must be < 10", col("v") < 10)))
    assert(Validation.valid(annotated).select("id").as[Int].collect().toSeq == Seq(1))
    val errs = Validation.explodeDetails(annotated, Seq("id"))
      .select("id", "loc").as[(Int, String)].collect().toSeq
    assert(errs == Seq((2, "v"))) // null < 10 → null → failure
  }

  test("Species map lookup: literal map, tolerant of unknown names") {
    import graft.pipeline.Species
    val got = Seq("beluga_whale", "blue_whale", "unknown_whale").toDF("w")
      .select(Species.scientificNameFor(col("w")), Species.vernacularFor(col("w")))
      .as[(Option[String], String)].collect().toSeq
    assert(got == Seq(
      (Some("Delphinapterus leucas"), "Beluga Whale"),
      (Some("Balaenoptera musculus"), "Blue Whale"),
      (None, "Unknown Whale"))) // tolerant null, not the reference's KeyError
    assert(Species.dimension(spark).count() == 9)
  }

  test("Validation.errorJson emits proper JSON nulls (no 'nan' patching)") {
    val df = Seq((1, Some(50)), (2, None)).toDF("id", "v")
    val annotated = Validation.annotate(df,
      Seq(Rule("v", "value_error", "v must be < 10", col("v") < 10)))
    val js = Validation.errorJson(annotated, Seq("id", "v"))
      .select("errors_json").as[String].collect().sorted
    assert(js.length == 2)
    assert(js.exists(_.contains("\"v\":50")))
    // null field is omitted by to_json (proper null semantics, not "nan")
    assert(js.forall(!_.contains("nan")))
  }

  test("Dimensions.getOrCreate: ids continue past max, existing kept") {
    val existing = Seq((1L, "Arctic Ocean"), (7L, "Baltic Sea")).toDF("id", "name")
    val incoming = Seq("Baltic Sea", "Coral Sea", "Arafura Sea").toDF("name")
    val dim = Dimensions.getOrCreate(existing, incoming)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(dim == Seq((1L, "Arctic Ocean"), (7L, "Baltic Sea"),
      (8L, "Arafura Sea"), (9L, "Coral Sea"))) // new names: max+rn by name
  }

  test("Dimensions.getOrCreate: empty dimension numbers from 0 (proc's IFNULL(MAX,-1)+1)") {
    val existing = Seq.empty[(Long, String)].toDF("id", "name")
    val incoming = Seq("Coral Sea", "Arafura Sea").toDF("name")
    val dim = Dimensions.getOrCreate(existing, incoming)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(dim == Seq((0L, "Arafura Sea"), (1L, "Coral Sea")))
  }

  test("Dimensions.getOrCreate: a local empty dimension costs no Spark job") {
    // the pipeline's shape: an empty dimension built on the driver
    val existing = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType))))
    val incoming = Seq("Coral Sea", "Arafura Sea").toDF("name")
    val (dim, jobs) = JobCount(spark)(Dimensions.getOrCreate(existing, incoming))
    assert(jobs == 0, s"getOrCreate ran $jobs Spark jobs before any action")
    assert(dim.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((0L, "Arafura Sea"), (1L, "Coral Sea")))
    // a local dimension with rows still numbers past its max
    val (dim2, jobs2) = JobCount(spark)(Dimensions.getOrCreate(
      Seq((-5L, "Arctic Ocean"), (-3L, null: String)).toDF("id", "name"), incoming))
    assert(jobs2 == 0, s"getOrCreate ran $jobs2 Spark jobs before any action")
    assert(dim2.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((-5L, "Arctic Ocean"), (-3L, null), (-2L, "Arafura Sea"), (-1L, "Coral Sea")))
  }

  test("Dimensions.getOrCreate: a NULL name already in the dimension is not added again") {
    val existing = Seq((0L, null: String), (1L, "Arctic Ocean")).toDF("id", "name")
    val incoming = Seq(null: String, "Arctic Ocean", "Coral Sea").toDF("name")
    val dim = Dimensions.getOrCreate(existing, incoming)
    assert(dim.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((0L, null), (1L, "Arctic Ocean"), (2L, "Coral Sea")))
    // one fact row per fact, the NULL one resolved to the NULL dim row
    val fact = Seq(("x", "Arctic Ocean"), ("y", null: String)).toDF("k", "waterBody")
    val got = Dimensions.resolveFk(fact, dim, "waterBody", "wbId")
      .select("k", "wbId").as[(String, Long)].collect().toSeq.sorted
    assert(got == Seq("x" -> 1L, "y" -> 0L))
  }

  test("Dimensions.resolveFk is null-safe (NULL name → NULL dim row)") {
    val dim = Seq((0L, null: String), (1L, "Arctic Ocean")).toDF("id", "name")
    val fact = Seq(("x", "Arctic Ocean"), ("y", null: String)).toDF("k", "waterBody")
    val got = Dimensions.resolveFk(fact, dim, "waterBody", "wbId")
      .select("k", "wbId").as[(String, Long)].collect().toMap
    assert(got == Map("x" -> 1L, "y" -> 0L))
  }

  test("foldHash matches a reference implementation on ASCII strings") {
    def ref(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val inputs = Seq("", "a", "hello world", "Spark 4.1.2!")
    val got = inputs.toDF("s")
      .select(graft.functions.Exact.foldHash(col("s"))).as[Long].collect().toSeq
    assert(got == inputs.map(ref))
  }

  test("SaltedJoin equals plain join") {
    val left = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val right = Seq((1, "X"), (2, "Y"), (3, "Z")).toDF("k", "w")
    val salted = graft.operators.SaltedJoin
      .inner(left, right, "k", length(col("v")).cast("int"), 4)
      .select("k", "v", "w").as[(Int, String, String)].collect().toSet
    val plain = left.join(right, "k")
      .select("k", "v", "w").as[(Int, String, String)].collect().toSet
    assert(salted == plain && salted.size == 3)
  }

  test("AsOf.lastPrior: no prior reference → null; ties broken by order col") {
    val df = Seq(
      (1L, 10L, "click"), (2L, 20L, "purchase"), // match: ts 10
      (3L, 30L, "purchase"), // still ts 10 (no newer click)
      (4L, 5L, "purchase")) // no prior click → null
      .toDF("id", "ts", "typ").withColumn("user", lit(1L))
    val got = graft.operators.AsOf.lastPrior(df, col("user"),
      Seq(col("ts"), col("id")), col("typ") === "purchase",
      col("typ") === "click", col("ts"), "prior")
      .select("id", "prior").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(2L -> Some(10L), 3L -> Some(10L), 4L -> None))
  }

  test("CentsSum rounds each value to cents before summing (HALF_UP)") {
    // 0.005 rounds up to 0.01; plain double sum would give 0.015...
    val centsSum = udaf(graft.functions.CentsSum)
    val got = Seq(0.005, 0.005).toDF("v")
      .agg(centsSum(col("v"))).as[Double].head()
    assert(got == 0.02)
  }

  test("multimodal feature extraction handles short payloads") {
    import graft.multimodal.Multimodal
    val media = Seq(Multimodal.MediaRow(1L, "text/plain", "ab".getBytes))
      .toDS()
    val f = Multimodal.extractFeatures(media).head()
    assert(f.n_bytes == 2 && f.b0 == 'a'.toInt && f.b2 == -1) // -1 = absent
  }

  test("Sizing.measuredWidth: floor 2, session cap, ~rowsPerPartition each") {
    // session width in tests is small; pin it explicitly for the cap case
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      // tiny measured input floors at 2, never 0/1 partitions
      assert(Sizing.measuredWidth(spark, 0L, 20000L) == 2)
      assert(Sizing.measuredWidth(spark, 1000L, 20000L) == 2)
      // measured term: ~rowsPerPartition rows per partition (ceil-ish)
      assert(Sizing.measuredWidth(spark, 100000L, 20000L) == 6)
      // a 100 TB-sized measurement keeps the session's cluster width
      assert(Sizing.measuredWidth(spark, 10000000000L, 20000L) == 32)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }
}
