package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** The keyed deletion-vector surface (mergeKeysDV / deleteKeysDV /
  * readPointLookup) on FLAT tables: its Spark-job budget and the key
  * batch forms.
  */
class KeyedDvSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/keyed_dv_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  // a bloom-tracked table with long keys, the shape of the benchmark's
  // table_commits cycle. Each bound is the count the verb ran when flat
  // and partitioned tables had separate verbs: reading the layout from
  // the manifest must not add a job to the flat path.
  test("flat long-key mergeKeysDV, deleteKeysDV and readPointLookup keep their job counts") {
    import spark.implicits._
    val dir = freshDir("jobs")
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") * 3).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    // warm-up: the table carries DVs from here on, as in steady state
    FileManifest.mergeKeysDV(spark, dir, Seq((10L, -1L)).toDF("k", "v"),
      "k", Seq("k"), bloomCols = Seq("k"))
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(20L), Seq("k"),
      bloomCols = Seq("k"))

    val updates = Seq((11L, -11L), (1500L, -15L), (9000L, -9L)).toDF("k", "v")
    val (_, mergeJobs) = JobCount(spark) {
      FileManifest.mergeKeysDV(spark, dir, updates, "k", Seq("k"),
        bloomCols = Seq("k"))
    }
    val (_, deleteJobs) = JobCount(spark) {
      FileManifest.deleteKeysDV(spark, dir, "k", Seq(12L, 2500L, 7777L),
        Seq("k"), bloomCols = Seq("k"))
    }
    val (hits, lookupJobs) = JobCount(spark) {
      val (got, _, _) = FileManifest.readPointLookup(spark, dir, "k",
        Seq(11L, 12L, 1500L, 3999L))
      got.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(hits === Set((11L, -11L), (1500L, -15L), (3999L, 11997L)))
    info(s"jobs: merge=$mergeJobs delete=$deleteJobs lookup=$lookupJobs")
    assert(mergeJobs <= 21, s"mergeKeysDV ran $mergeJobs Spark jobs")
    assert(deleteJobs <= 15, s"deleteKeysDV ran $deleteJobs Spark jobs")
    assert(lookupJobs <= 11, s"readPointLookup ran $lookupJobs Spark jobs")
  }

  test("a literal batch past maxCollectedKeys erases through the uncapped path") {
    import spark.implicits._
    val dirL = freshDir("cap_long")
    FileManifest.writeThrough(
      spark.range(1000L).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("k")),
      dirL, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val doomed = (0L until 1000L).filter(_ % 9 == 0)
    val (dv, rw, _) = FileManifest.deleteKeysDV(spark, dirL, "k", doomed,
      Seq("k"), bloomCols = Seq("k"), maxCollectedKeys = 10)
    assert(dv + rw === 4)
    assert(ManifestFileIndex.read(spark, dirL).select("k").as[Long]
      .collect().sorted.toSeq === (0L until 1000L).filterNot(_ % 9 == 0))
    // string keys, duplicates collapsed; a NULL key still fails loud
    val dirS = freshDir("cap_str")
    FileManifest.writeThrough(
      (1 to 60).map(i => (f"id_$i%03d", i.toLong)).toDF("id", "v")
        .repartitionByRange(3, col("id")),
      dirS, Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    val ids = (1 to 20).map(i => f"id_$i%03d")
    FileManifest.deleteKeysDV(spark, dirS, "id", ids ++ ids, Seq("id"),
      bloomCols = Seq("id"), maxCollectedKeys = 4)
    assert(ManifestFileIndex.read(spark, dirS).select("id").as[String]
      .collect().sorted.toSeq === (21 to 60).map(i => f"id_$i%03d"))
    val eNull = intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(spark, dirS, "id", ids :+ null, Seq("id"),
        maxCollectedKeys = 4)
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
  }

  test("mergeKeysDV refuses a batch key type the table key can't probe") {
    import spark.implicits._
    val dirS = freshDir("merge_types_str")
    FileManifest.writeThrough(
      (1 to 40).map(i => (i.toString, i.toLong)).toDF("id", "v"), dirS,
      Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    val dirL = freshDir("merge_types_long")
    FileManifest.writeThrough(
      (1 to 40).map(i => (i.toLong, i.toLong)).toDF("id", "v"), dirL,
      Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    // a long batch would probe the string-built bloom with long hashes
    // (and the reverse), missing the file that holds a matched key
    val eS = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dirS, Seq((7L, -7L)).toDF("id", "v"),
        "id", Seq("id"), bloomCols = Seq("id"))
    }
    assert(eS.getMessage.contains("pass string keys"), eS.getMessage)
    val eL = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dirL, Seq(("7", -7L)).toDF("id", "v"),
        "id", Seq("id"), bloomCols = Seq("id"))
    }
    assert(eL.getMessage.contains("pass long keys"), eL.getMessage)
    assert(ManifestFileIndex.read(spark, dirS).filter(col("v") < 0).count() === 0L)
    assert(ManifestFileIndex.read(spark, dirL).filter(col("v") < 0).count() === 0L)
  }
}
