package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** The Spark-job budget of the layout-agnostic surgeries, optimizeTable
  * and deleteRange, on a FLAT bloom-tracked table carrying deletion
  * vectors — table_commits' compaction shape.
  */
class SurgeryJobsSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/surgery_jobs_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  // each bound is the count the verb ran when flat and partitioned
  // tables had separate verbs: reading the layout from the manifest
  // must not add a job to the flat path
  test("flat optimizeTable and deleteRange keep their job counts") {
    import spark.implicits._
    val dir = freshDir("flat")
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") * 3).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(20L, 1500L), Seq("k"),
      bloomCols = Seq("k"))

    val (_, deleteJobs) = JobCount(spark) {
      FileManifest.deleteRange(spark, dir, "k", lit(100L), lit(199L),
        Seq("k"), bloomCols = Seq("k"))
    }
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(30L, 2500L), Seq("k"),
      bloomCols = Seq("k"))
    val (written, optimizeJobs) = JobCount(spark) {
      FileManifest.optimizeTable(spark, dir, Seq("k"), bloomCols = Seq("k"))
    }
    assert(written === 1)
    val want = (0L until 4000L).filterNot(k =>
      Set(20L, 1500L, 30L, 2500L).contains(k) || (k >= 100L && k <= 199L))
    assert(ManifestFileIndex.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq === want)
    info(s"jobs: deleteRange=$deleteJobs optimizeTable=$optimizeJobs")
    assert(deleteJobs <= 13, s"deleteRange ran $deleteJobs Spark jobs")
    assert(optimizeJobs <= 19, s"optimizeTable ran $optimizeJobs Spark jobs")
  }
}
