package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** Size gate on the deletion-vector broadcast: per-file DVs are bounded
  * by maxDvFraction, but the NUMBER of DV-carrying files is not — above
  * the estimated-bytes threshold the dv rows must spill to the
  * version-keyed `_dv_spill` parquet and join shuffle-side
  * (executor bytes, zero driver collect) instead of materializing a
  * driver LocalRelation; results identical either way, spills reused
  * across reads of one version and reaped with manifest retention.
  */
class DvSpillSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/dvspill_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def hfsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  test("over-threshold dv rows spill; shuffle join equals broadcast path") {
    import spark.implicits._
    val dir = freshDir("gate")
    FileManifest.writeThrough(
      (1L to 4000L).toDF("k").repartitionByRange(4, col("k")),
      dir, Seq("k"), mode = "overwrite")
    // a sliver deleted from EVERY file → 4 DV-carrying files
    FileManifest.deleteKeysDV(spark, dir, "k",
      Seq(5L, 1005L, 2005L, 3005L, 7L, 1007L, 2007L, 3007L), Seq("k"))
    val expect = (1L to 4000L)
      .filterNot(Set(5L, 1005L, 2005L, 3005L, 7L, 1007L, 2007L, 3007L))
    // broadcast path (default threshold): LocalRelation dv side
    val bPlan = ManifestFileIndex.read(spark, dir)
    assert(bPlan.queryExecution.analyzed.toString.contains("LocalRelation"),
      "in-bounds dv set must ride the driver LocalRelation broadcast")
    assert(bPlan.select("k").collect().map(_.getLong(0)).sorted.toSeq
      === expect)
    try {
      spark.conf.set(FileManifest.DvBroadcastMaxBytesKey, "1") // force the fallback
      val sPlan = ManifestFileIndex.read(spark, dir)
      assert(!sPlan.queryExecution.analyzed.toString.contains("LocalRelation"),
        "over-threshold dv set must not materialize a driver LocalRelation")
      assert(sPlan.select("k").collect().map(_.getLong(0)).sorted.toSeq
        === expect, "spill path must return identical rows")
      val v = FileManifest.versions(spark, dir).max
      val hfs = hfsOf(dir)
      assert(hfs.exists(new Path(ManifestDir.dvSpill(spark, dir, v), "_GRAFT_SPILL_OK")),
        "spill parquet must be published under _dv_spill/v{N}")
      val mtime = hfs.getFileStatus(new Path(ManifestDir.dvSpill(spark, dir, v))).getModificationTime
      // second read REUSES the spill (no rewrite)
      ManifestFileIndex.read(spark, dir).count()
      assert(hfs.getFileStatus(new Path(ManifestDir.dvSpill(spark, dir, v)))
        .getModificationTime === mtime, "spill must be written once per version")
      // the spill is invisible to data listings: surgery still sees a
      // flat table
      FileManifest.deleteKeysDV(spark, dir, "k", Seq(9L), Seq("k"))
    } finally spark.conf.unset(FileManifest.DvBroadcastMaxBytesKey)
  }

  test("a stale spill under the next version number is evicted at publish") {
    import spark.implicits._
    val dir = freshDir("evict")
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(2, col("k")),
      dir, Seq("k"), mode = "overwrite") // v1
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(5L), Seq("k")) // v2
    // forge what a pre-reset incarnation (recycled version numbers)
    // would leave behind: a complete-looking spill for v3 whose dv
    // marks positions 0..9 of a LIVE file — if ever served, ten
    // arbitrary rows vanish silently
    val hfs = hfsOf(dir)
    val victim = spark.read.parquet(ManifestDir(spark, dir))
      .select("file").collect().map(_.getString(0)).min
    val metaPath = new Path(victim.replace("%3D", "=")).toUri.toString
    spark.createDataFrame(Seq(
      (metaPath, graft.sources.DeletionVectors.serialize((0L until 10L).toArray))))
      .toDF("__graft_dv_file", "__graft_dv")
      .coalesce(1).write.parquet(s"$dir/_dv_spill/v3")
    assert(hfs.exists(new Path(s"$dir/_dv_spill/v3/_SUCCESS")))
    // the next publish takes version 3 and must evict the forgery
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(7L), Seq("k")) // v3
    try {
      spark.conf.set(FileManifest.DvBroadcastMaxBytesKey, "1")
      val got = graft.sources.ManifestFileIndex.read(spark, dir)
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === (1L to 100L).filterNot(Set(5L, 7L)),
        "a recycled-version spill must never be served")
    } finally spark.conf.unset(FileManifest.DvBroadcastMaxBytesKey)
  }

  test("vacuum reaps spills of unretained versions, keeps retained ones") {
    import spark.implicits._
    val dir = freshDir("vac")
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(2, col("k")),
      dir, Seq("k"), mode = "overwrite") // v1
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(5L), Seq("k")) // v2
    try {
      spark.conf.set(FileManifest.DvBroadcastMaxBytesKey, "1")
      ManifestFileIndex.read(spark, dir).count() // spills v2
      FileManifest.deleteKeysDV(spark, dir, "k", Seq(7L), Seq("k")) // v3
      ManifestFileIndex.read(spark, dir).count() // spills v3
      val hfs = hfsOf(dir)
      assert(hfs.exists(new Path(ManifestDir.dvSpill(spark, dir, 2L))))
      assert(hfs.exists(new Path(ManifestDir.dvSpill(spark, dir, 3L))))
      Thread.sleep(50) // grace cutoff is mtime-based; spills are fresh
      FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 1)
      assert(!hfs.exists(new Path(ManifestDir.dvSpill(spark, dir, 2L))),
        "unretained version's spill must be reaped")
      assert(hfs.exists(new Path(ManifestDir.dvSpill(spark, dir, 3L))),
        "current version's spill must survive")
    } finally spark.conf.unset(FileManifest.DvBroadcastMaxBytesKey)
  }
}
