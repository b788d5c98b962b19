package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** The Spark-job budget of the first planned reads after a commit, on a
  * FLAT bloom-tracked table carrying deletion vectors — table_commits'
  * read shape. Reads resolve the current version from the version log
  * alone, so no job checks the data tree against it.
  */
class ReadJobsSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/read_jobs_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  // bounds: with the coverage guard (a tree listing, then a probe job
  // on the first read after every commit) these calls ran 8 and 9 jobs
  test("the first readPruned and readPointLookup after a commit run no coverage probe") {
    val dir = freshDir("flat")
    val descs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).foreach(descs.add)
    }
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") * 3).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    spark.sparkContext.addSparkListener(listener)
    try {
      FileManifest.deleteKeysDV(spark, dir, "k", Seq(20L, 1500L), Seq("k"),
        bloomCols = Seq("k"))
      val ((pruned, kept, total), prunedJobs) = JobCount(spark) {
        FileManifest.readPruned(spark, dir, "k", lit(10L), lit(30L))
      }
      assert(total === 4 && kept === 1)
      assert(pruned.count() === 20L)

      FileManifest.deleteKeysDV(spark, dir, "k", Seq(2500L), Seq("k"),
        bloomCols = Seq("k"))
      val ((hit, _, total2), lookupJobs) = JobCount(spark) {
        FileManifest.readPointLookup(spark, dir, "k", Seq(7L, 1500L, 2500L, 3999L))
      }
      assert(total2 === 4)
      assert(hit.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(7L, 3999L))
      info(s"jobs: readPruned=$prunedJobs readPointLookup=$lookupJobs")
      assert(prunedJobs < 8, s"readPruned ran $prunedJobs Spark jobs")
      assert(lookupJobs < 9, s"readPointLookup ran $lookupJobs Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!descs.asScala.exists(_.contains("coverage probe")),
      s"a coverage probe ran: ${descs.asScala.toSeq.distinct}")
  }
}
