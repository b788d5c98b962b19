package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded tables with the shape of the engine's TPC-H-ish test data
  * (`graft.Tables`): same names, column types and value domains, at a
  * chosen scale factor. Only the tables `lane_mix`'s lanes read are made.
  * Each is a pure function of (seed, sf), written as one parquet file, as
  * the lanes expect.
  */
object LaneData {

  private val Vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(" ").toIndexedSeq

  def write(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    // uniform [0, 1) from the row id alone, so the values do not depend
    // on how Spark partitions the range
    def u(salt: Int): Column =
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000007L)) / 1000000007.0
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (floor(u(salt) * xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt) * (hi - lo), 2)
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), floor(u(salt) * days).cast("int"))
        .cast("timestamp_ntz")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val ids = (k: Long) => spark.range(k)

    val (nCust, nOrd) = (n(150000), n(1500000))
    save("region", ids(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", ids(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(1) * 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save("orders", ids(nOrd).select(col("id").as("o_orderkey"),
      floor(u(12) * nCust).cast("long").as("o_custkey"),
      pick(13, Seq("O", "F", "P")).as("o_orderstatus"),
      money(14, 1000, 500000).as("o_totalprice"),
      day(15, "1995-01-01", 2404).as("o_orderdate"),
      pick(16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    val (nEv, nUsers) = (n(1000000), n(15000))
    save("events", ids(nEv).select(col("id").as("event_id"),
      // thirty days of arrivals in event_id order, with sub-second jitter
      timestamp_micros(lit(1704067200000000L) + col("id") * (2592000000000L / nEv) +
        floor(u(30) * 1000000).cast("long")).cast("timestamp_ntz").as("ts"),
      floor(u(31) * nUsers).cast("long").as("user_id"),
      pick(32, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(u(33) * 560, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(34) * 100).cast("int")).as("props")))
    save("documents", documents(spark, seed, n(50000)))
    save("embeddings", embeddings(spark, seed, n(20000)))
  }

  /** Documents of 10 to 100 words from a 30-word vocabulary; one in 20 is
    * a near-duplicate (another document's text plus " dup"), so the dedup
    * lanes find clusters.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    val texts = (0L until n).map { _ =>
      Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }.toArray
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val rows = (0 until n.toInt).map { i =>
      val text =
        if (n > 1 && rnd.nextInt(20) == 0) texts(rnd.nextInt(n.toInt)) + " dup"
        else texts(i)
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** Unit-norm 64-dimensional float vectors with a label in 0..9. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 12)
    def gauss(): Double =
      math.sqrt(-2 * math.log(1 - rnd.nextDouble())) * math.cos(2 * math.Pi * rnd.nextDouble())
    val rows = (0 until n.toInt).map { i =>
      val v = Array.fill(64)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
  }
}
