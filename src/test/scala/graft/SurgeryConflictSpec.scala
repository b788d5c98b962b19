package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConcurrentWriteException, FileManifest}

/** Optimistic-concurrency protocol of the write-surgery verbs
  * (deleteRange / mergeKeys / publishVia): plan + staging run OUTSIDE
  * the commit lock, so a rival can commit in between — the locked
  * publish must then detect the version movement and ABORT rather than
  * publish a stale-snapshot rebuild that silently discards the rival's
  * committed work (lost update). Also pins the writer-private staging
  * contract: a conflicted/aborted surgery leaves no staging residue,
  * and concurrent surgeries can never clobber each other's staging
  * (UUID dirs — the fixed-name dir was the clobber).
  *
  * The interleave is DETERMINISTIC: FileManifest.beforeCommitHook fires
  * after staging and before the lock; each test injects a one-shot
  * rival committer there.
  */
class SurgeryConflictSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/conflict_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def keysOf(dir: String): Seq[Long] =
    graft.sources.ManifestFileIndex.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq

  /** No `_stg_*` / legacy fixed-name staging dirs left beside the table. */
  private def assertNoStagingResidue(dir: String): Unit = {
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parent = p.getParent
    val residue = hfs.listStatus(parent).map(_.getPath.getName)
      .filter(n => n.startsWith(s"${p.getName}_stg_") ||
        n == s"${p.getName}_delete_staging" || n == s"${p.getName}_merge_staging")
    assert(residue.isEmpty, s"staging residue left behind: ${residue.toSeq}")
  }

  /** Arm the hook to fire exactly once (the rival itself re-enters the
    * surgery path, which would otherwise recurse forever).
    */
  private def oneShot(rival: => Unit): Unit =
    FileManifest.beforeCommitHook = () => {
      FileManifest.beforeCommitHook = () => ()
      rival
    }

  test("deleteRange aborts loud when a rival commits between plan and publish") {
    import spark.implicits._
    val dir = freshDir("del")
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(4, col("k")),
      dir, Seq("k"), mode = "overwrite")
    try {
      oneShot {
        FileManifest.writeThrough(Seq(1000L).toDF("k"), dir, Seq("k"))
      }
      val e = intercept[ConcurrentWriteException] {
        FileManifest.deleteRange(spark, dir, "k", lit(10L), lit(20L), Seq("k"))
      }
      assert(e.getMessage.contains(dir))
      // the rival's append survives AND the delete did NOT half-apply:
      // full pre-delete content + 1000
      assert(keysOf(dir) === ((1L to 100L) :+ 1000L).sorted)
      assertNoStagingResidue(dir)
    } finally FileManifest.beforeCommitHook = () => ()
  }

  test("mergeKeys aborts loud on version movement; rival surgery survives") {
    import spark.implicits._
    val dir = freshDir("merge")
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(4, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    try {
      oneShot {
        // rival: a committed range delete this merge's stale plan
        // would resurrect if it published
        FileManifest.deleteRange(spark, dir, "k", lit(90L), lit(100L), Seq("k"),
          bloomCols = Seq("k"))
      }
      intercept[ConcurrentWriteException] {
        FileManifest.mergeKeys(spark, dir, Seq(5L).toDF("k"), "k", Seq("k"),
          bloomCols = Seq("k"))
      }
      assert(keysOf(dir) === (1L to 89L).toSeq,
        "rival deleteRange's commit must survive the aborted merge")
      assertNoStagingResidue(dir)
      // retry against the current version succeeds (the documented remedy)
      FileManifest.mergeKeys(spark, dir, Seq(5L, 200L).toDF("k"), "k", Seq("k"),
        bloomCols = Seq("k"))
      assert(keysOf(dir) === ((1L to 89L) :+ 200L).sorted)
    } finally FileManifest.beforeCommitHook = () => ()
  }

  test("a rival overwrite-rebuild cannot ABA the version token") {
    import spark.implicits._
    val dir = freshDir("aba")
    FileManifest.writeThrough(
      (1L to 40L).toDF("k").repartitionByRange(2, col("k")),
      dir, Seq("k"), mode = "overwrite")
    try {
      oneShot {
        // overwrite destroys the manifest AND its history — the rebuilt
        // manifest must stamp a version PAST the destroyed one, or the
        // staged surgery below would see its planned version again and
        // publish stale files over the rival's fresh table
        FileManifest.writeThrough((100L to 120L).toDF("k"), dir,
          Seq("k"), mode = "overwrite")
      }
      intercept[ConcurrentWriteException] {
        FileManifest.deleteRange(spark, dir, "k", lit(1L), lit(10L), Seq("k"))
      }
      assert(keysOf(dir) === (100L to 120L).toSeq,
        "stale surgery staging leaked into the overwritten table")
    } finally FileManifest.beforeCommitHook = () => ()
  }

  test("withConflictRetry re-plans and lands after a one-shot rival") {
    import spark.implicits._
    val dir = freshDir("retry")
    FileManifest.writeThrough(
      (1L to 60L).toDF("k").repartitionByRange(3, col("k")),
      dir, Seq("k"), mode = "overwrite")
    try {
      oneShot {
        FileManifest.deleteRange(spark, dir, "k", lit(50L), lit(60L), Seq("k"))
      }
      // first attempt conflicts on the rival's commit; the retry re-plans
      // against the post-delete version and must land BOTH effects
      ConflictRetry.withConflictRetry() {
        FileManifest.mergeKeys(spark, dir, Seq(500L).toDF("k"), "k", Seq("k"))
      }
      assert(keysOf(dir) === ((1L to 49L) :+ 500L).sorted)
    } finally FileManifest.beforeCommitHook = () => ()
  }

  test("publishVia aborts loud when the table moved under the compaction") {
    import spark.implicits._
    val dir = freshDir("pub")
    val stg = s"${dir}_compact_stage"
    FileManifest.writeThrough(
      (1L to 50L).toDF("k").repartition(4), dir, Seq("k"), mode = "overwrite")
    try {
      oneShot {
        FileManifest.deleteRange(spark, dir, "k", lit(40L), lit(50L), Seq("k"))
      }
      intercept[ConcurrentWriteException] {
        // read-modify-write: compact the (stale) current snapshot to 1 file
        FileManifest.publishVia(
          spark.read.parquet(dir).coalesce(1), stg, dir, Seq("k"))
      }
      assert(keysOf(dir) === (1L to 39L).toSeq,
        "rival delete must survive the aborted publish")
    } finally FileManifest.beforeCommitHook = () => ()
  }

  test("publishVia validates the CALLER's pinned version (optimizeTable's OCC window)") {
    import spark.implicits._
    val dir = freshDir("pinned")
    FileManifest.writeThrough(
      (1L to 50L).toDF("k").repartition(2), dir, Seq("k"), mode = "overwrite")
    // a read-modify-write whose frame EAGERLY pins v1's file set at
    // construction; a rival then commits BEFORE publishVia would read
    // its default token. Un-pinned, requireUnchanged would validate
    // against the rival's version, pass, and publish v1-derived content
    // right over the rival's append — the silent lost update the
    // expectedVersion parameter exists to close.
    val pinned = graft.sources.ManifestFileIndex
      .read(spark, dir, asOf = Some(1L)).repartition(1)
    FileManifest.writeThrough(Seq(1000L).toDF("k"), dir, Seq("k")) // rival: v2
    val e = intercept[ConcurrentWriteException] {
      FileManifest.publishVia(pinned, s"${dir}_optstg", dir, Seq("k"),
        expectedVersion = Some(1L))
    }
    assert(e.getMessage.contains("v1"))
    assert(keysOf(dir) === ((1L to 50L) :+ 1000L).sorted,
      "the rival's committed append must survive")
  }

  test("optimizeTable aborts loud when a rival commits between staging and publish") {
    import spark.implicits._
    val dir = freshDir("opt")
    FileManifest.writeThrough(
      (1L to 80L).toDF("k").repartitionByRange(4, col("k")),
      dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(7L), Seq("k"))
    try {
      oneShot {
        FileManifest.deleteRange(spark, dir, "k", lit(70L), lit(80L), Seq("k"))
      }
      val v = FileManifest.versions(spark, dir).max
      val e = intercept[ConcurrentWriteException] {
        FileManifest.optimizeTable(spark, dir, Seq("k"))
      }
      assert(e.getMessage.contains(dir))
      // the rival's delete is the only new version; no optimize landed
      assert(FileManifest.versions(spark, dir).max === v + 1)
      assert(FileManifest.history(spark, dir).collect().map(_.getString(1))
        .toSeq === Seq("build", "dv-delete", "delete"))
      assert(keysOf(dir) === (1L to 69L).filterNot(_ == 7L))
      assertNoStagingResidue(dir)
    } finally FileManifest.beforeCommitHook = () => ()
  }
}
