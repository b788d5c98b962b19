package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** Versioned-manifest mechanics behind q164: snapshot isolation of
  * as-of reads across later appends, monotonic version numbering across
  * the marker rename chain, retention semantics (vacuum reaps history
  * manifests beyond keepVersions and expired reads fail LOUD at
  * resolution), and current reads staying whole with history dirs
  * present.
  */
class TimeTravelSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/tt_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  test("as-of reads are snapshots: later appends never leak backwards") {
    import spark.implicits._
    val dir = freshDir("snap")
    FileManifest.writeThrough(
      Seq(1L, 2L, 3L).toDF("k"), dir, Seq("k"), mode = "overwrite")
    FileManifest.writeThrough(Seq(10L, 20L).toDF("k"), dir, Seq("k"))
    FileManifest.writeThrough(Seq(100L).toDF("k"), dir, Seq("k"))

    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L, 3L))
    def ks(v: Long) = FileManifest.readAsOf(spark, dir, v)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(1) === Seq(1L, 2L, 3L))
    assert(ks(2) === Seq(1L, 2L, 3L, 10L, 20L))
    assert(ks(3) === Seq(1L, 2L, 3L, 10L, 20L, 100L))
    // current read (manifest index path) agrees with as-of(latest)
    assert(spark.read.parquet(dir).count() === 6L)
    // a current read with history files on disk reads only the current version
    graft.sources.ManifestFileIndex.read(spark, dir)
      .filter(col("k") >= 10L)
      .collect()
  }

  test("retention: vacuum keeps keepVersions snapshots, expired reads fail loud") {
    import spark.implicits._
    val dir = freshDir("ret")
    FileManifest.writeThrough(Seq(1L).toDF("k"), dir, Seq("k"), mode = "overwrite")
    FileManifest.writeThrough(Seq(2L).toDF("k"), dir, Seq("k"))
    FileManifest.writeThrough(Seq(3L).toDF("k"), dir, Seq("k"))
    FileManifest.writeThrough(Seq(4L).toDF("k"), dir, Seq("k"))
    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L, 3L, 4L))

    // keep the newest two snapshots (current v4 + history v3)
    val orphans = FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 2)
    assert(orphans.isEmpty,
      s"append-only history must have no data-file orphans, reaped: $orphans")
    assert(FileManifest.versions(spark, dir) === Seq(3L, 4L))
    assert(FileManifest.readAsOf(spark, dir, 3L)
      .count() === 3L)
    val e = intercept[IllegalArgumentException] {
      FileManifest.readAsOf(spark, dir, 1L)
    }
    assert(e.getMessage.contains("not retained"), e.getMessage)
    assert(e.getMessage.contains("3, 4"), s"retained range missing: ${e.getMessage}")

    // numbering stays monotonic after retention reaped the low versions
    FileManifest.writeThrough(Seq(5L).toDF("k"), dir, Seq("k"))
    assert(FileManifest.versions(spark, dir) === Seq(3L, 4L, 5L))
  }

  test("vacuum still reaps genuine orphans while history is retained") {
    import spark.implicits._
    val dir = freshDir("orph")
    FileManifest.writeThrough(Seq(1L, 2L).toDF("k"), dir, Seq("k"), mode = "overwrite")
    FileManifest.writeThrough(Seq(3L).toDF("k"), dir, Seq("k"))
    // a crashed rival: data landed, no version names it
    Seq(99L).toDF("k").write.mode("append").parquet(dir)
    val orphans = FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 2)
    assert(orphans.length === 1, s"expected exactly the planted orphan: $orphans")
    // both retained snapshots still read exactly their committed rows
    assert(FileManifest.readAsOf(spark, dir, 1L).count() === 2L)
    assert(FileManifest.readAsOf(spark, dir, 2L).count() === 3L)
  }
}
