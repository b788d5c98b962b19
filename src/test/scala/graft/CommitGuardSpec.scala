package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, FsListing, ManifestFileIndex}

/** A surgery that cannot commit must leave the table exactly as it was:
  * same version, same data files, same rows, and no staging dir behind.
  * Pins the two guards of the shared commit path: a call that leaves
  * out a column the manifest tracks fails while its files are still
  * staged, and a commit whose manifest fails after the move takes the
  * moved files back out.
  */
class CommitGuardSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/commitguard_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  /** (current version, data files, live rows) of a table. */
  private def state(dir: String): (Long, Set[String], Long) = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    (FileManifest.versions(spark, dir).max,
      FsListing.listDataFiles(hfs, root).toSet,
      ManifestFileIndex.read(spark, dir).count())
  }

  private def stagingLeft(dir: String): Boolean = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.listStatus(root.getParent)
      .exists(_.getPath.getName.startsWith(root.getName + "_"))
  }

  test("surgeries that leave out a tracked bloom column fail before files move") {
    import spark.implicits._
    val flat = freshDir("flat")
    FileManifest.writeThrough(
      (1L to 400L).map(k => (k, k * 10L)).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      flat, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    // live deletion vectors for purgeDv to materialize
    FileManifest.deleteKeysDV(spark, flat, "k", Seq(5L, 305L), Seq("k"),
      bloomCols = Seq("k"))
    val tree = freshDir("tree")
    FileManifest.writeThrough(
      (1L to 400L).map(k => (k, s"p${k % 2}", k * 10L)).toDF("k", "part", "v"),
      tree, Seq("k"), bloomCols = Seq("k"), partitionCols = Seq("part"),
      mode = "overwrite")
    // every call writes fresh files, whose stats would lack bloom_k
    val calls: Seq[(String, String, () => Any)] = Seq(
      ("mergeKeys", flat, () => FileManifest.mergeKeys(spark, flat,
        Seq((7L, -1L), (9001L, -2L)).toDF("k", "v"), "k", Seq("k"))),
      ("deleteRange", flat, () => FileManifest.deleteRange(spark, flat, "k",
        lit(100L), lit(120L), Seq("k"))),
      ("purgeDv", flat, () => FileManifest.purgeDv(spark, flat, Seq("k"))),
      ("deleteRangePartitioned", tree, () =>
        FileManifest.deleteRangePartitioned(spark, tree, "k", lit(100L),
          lit(120L), Seq("k"))))
    calls.foreach { case (verb, dir, call) =>
      val before = state(dir)
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("bloom_k"), s"$verb: ${e.getMessage}")
      assert(state(dir) === before, s"$verb changed the table")
      assert(!stagingLeft(dir), s"$verb left its staging dir behind")
    }
  }

  test("a commit whose manifest fails after the move takes its files back out") {
    val dir = freshDir("rollback")
    FileManifest.writeThrough(spark.range(100L).select(col("id").as("k")),
      dir, Seq("k"), mode = "overwrite")
    val before = state(dir)
    // the staged files move into the table, then their stats fail: the
    // batch has no column `nope`
    intercept[IllegalArgumentException] {
      FileManifest.publishVia(spark.range(50L).select(col("id").as("k")),
        s"${dir}_pubstg", dir, Seq("nope"))
    }
    assert(state(dir) === before)
    assert(!stagingLeft(dir), "staging dir left behind")
  }
}
