package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions.{concat, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.JdbcUpsert

/** Integration test of the batched JDBC upsert sink against embedded Derby
  * (ships with Spark): insert, then upsert an overlapping batch, and check
  * idempotence — the semantics the reference gets from MySQL
  * ON DUPLICATE KEY UPDATE (`db/storage.py:71-78`).
  */
class JdbcUpsertSpec extends AnyFunSuite with SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("merge upsert: insert + update through foreachPartition batches") {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE species (id INT PRIMARY KEY, name VARCHAR(50), vernacular VARCHAR(50))")
    conn.close()

    val first = Seq((1, "Delphinapterus leucas", "Beluga Whale"),
      (2, "Balaenoptera musculus", "Blue Whale"))
      .toDF("id", "name", "vernacular")
    JdbcUpsert.upsert(first, url, "species", Seq("id"), batchSize = 1)

    // overlapping batch: id 2 updated, id 3 inserted
    val second = Seq((2, "Balaenoptera musculus", "BLUE WHALE"),
      (3, "Megaptera novaeangliae", "Humpback Whale"))
      .toDF("id", "name", "vernacular")
    JdbcUpsert.upsert(second, url, "species", Seq("id"))
    JdbcUpsert.upsert(second, url, "species", Seq("id")) // idempotent

    val got = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "species")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load().orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(got == Seq(
      (1, "Delphinapterus leucas", "Beluga Whale"),
      (2, "Balaenoptera musculus", "BLUE WHALE"),
      (3, "Megaptera novaeangliae", "Humpback Whale")))
  }

  test("composite key with keys out of schema order binds values to the right columns") {
    import spark.implicits._
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE facts (a BIGINT NOT NULL, b BIGINT NOT NULL, v DOUBLE, " +
        "PRIMARY KEY (a, b))")
    conn.close()
    // keys passed REVERSED relative to schema order (b, a): the ON
    // clause and the bound parameters must still line up per column —
    // a schema-order binding would write (a=20,b=10) rows instead
    val rows = Seq((10L, 20L, 1.5), (11L, 21L, 2.5)).toDF("a", "b", "v")
    JdbcUpsert.upsert(rows, url, "facts", Seq("b", "a"), batchSize = 1)
    // update through the same reversed-key path must hit the same rows
    JdbcUpsert.upsert(Seq((10L, 20L, 9.9)).toDF("a", "b", "v"),
      url, "facts", Seq("b", "a"))
    val got = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "facts")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load().orderBy("a")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((10L, 20L, 9.9), (11L, 21L, 2.5)))
  }

  test("partitions MERGE into Derby concurrently without failing") {
    import spark.implicits._
    // Derby shares one compiled plan among executions of the same MERGE
    // text and keeps per-execution state on it: four partitions upserting
    // the same text at once failed about one load in six with an NPE
    // (`_rowMakingMethod is null`). Twenty loads, each into a fresh table
    // (so a fresh plan), leave such a race about a 3% chance to pass unseen.
    val n = 2000
    val rows = spark.range(n).select($"id", concat(lit("v"), $"id").as("v"))
      .repartition(4).persist()
    val db = "jdbc:derby:memory:upsert_race"
    val conn = DriverManager.getConnection(s"$db;create=true")
    try {
      val outcomes = (1 to 20).map { i =>
        conn.createStatement().execute(
          s"CREATE TABLE race_$i (id BIGINT PRIMARY KEY, v VARCHAR(20))")
        val loaded = scala.util.Try(JdbcUpsert.upsert(rows, db, s"race_$i", Seq("id")))
        val rs = conn.createStatement().executeQuery(
          s"SELECT COUNT(*), COUNT(DISTINCT id), SUM(id) FROM race_$i")
        rs.next()
        (loaded.isSuccess, (rs.getLong(1), rs.getLong(2), rs.getLong(3)))
      }
      assert(outcomes.count(!_._1) == 0, "upserts failed")
      assert(outcomes.map(_._2).toSet == Set((n.toLong, n.toLong, n.toLong * (n - 1) / 2)))
    } finally {
      rows.unpersist()
      conn.close()
      // dropping an in-memory database always reports SQLState 08006
      try DriverManager.getConnection(s"$db;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("mysql dialect SQL excludes key columns from the update list") {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType)))
    assert(JdbcUpsert.mysqlUpsertSql("t", schema, Seq("id")) ==
      "INSERT INTO t (id, name) VALUES (?, ?) ON DUPLICATE KEY UPDATE name = VALUES(name)")
  }
}
