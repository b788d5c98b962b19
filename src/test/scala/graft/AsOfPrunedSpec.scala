package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** PRUNED time travel (q172): an as-of read plans through the retained
  * version's own manifest, so a filtered historical read gets the SAME
  * bounds/bloom file skipping a current-version read gets — the
  * retained `_versions/<N>` carries identical per-file stats, and the
  * "audit yesterday's slice" query must not open the whole snapshot.
  * Pins: result-equality with the raw path-list read, the actual
  * file-skip count on a range-laid-out version, bloom point-lookup
  * pruning on history, snapshot isolation of the pruned path, and the
  * loud liveness failure when a referenced file left disk.
  */
class AsOfPrunedSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/asof_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def attr(name: String) =
    AttributeReference(name, LongType, nullable = true)()

  test("as-of range read skips files by the version's bounds") {
    import spark.implicits._
    val dir = freshDir("range")
    // v1: 8 range-clustered files over 1..800
    FileManifest.writeThrough(
      (1L to 800L).toDF("k").repartitionByRange(8, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    // v2: delete a slice, so current ≠ v1 and v1 is genuinely history
    FileManifest.deleteRange(spark, dir, "k", lit(100L), lit(150L),
      Seq("k"), bloomCols = Seq("k"))
    assert(FileManifest.versions(spark, dir) === Seq(1L, 2L))

    val idx = new ManifestFileIndex(spark, dir, Some(1L))
    val k = attr("k")
    val total = idx.listFiles(Nil, Nil).map(_.files.size).sum
    assert(total === 8, "membership listing = the version's full file set")
    val kept = idx.listFiles(Nil,
      Seq(GreaterThanOrEqual(k, Literal(100L)), LessThanOrEqual(k, Literal(150L))))
      .map(_.files.size).sum
    assert(kept <= 2, s"a ~1/16 range slice should open ≤2 of 8 files, opened $kept")

    // result equality: the pruned as-of read == the raw full snapshot read
    val pruned = FileManifest.readAsOf(spark, dir, 1L)
      .filter(col("k") >= 100L && col("k") <= 150L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned === (100L to 150L).toSeq)
    // ...and the deleted slice is still visible at v1, gone at v2
    assert(FileManifest.readAsOf(spark, dir, 2L)
      .filter(col("k") >= 100L && col("k") <= 150L).count() === 0L)
  }

  test("as-of point lookup prunes through the version's bloom sidecars") {
    import spark.implicits._
    val dir = freshDir("bloom")
    // keys hash-spread across files so bounds can't prune — bloom must
    FileManifest.writeThrough(
      (1L to 400L).toDF("k").repartition(8, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    FileManifest.mergeKeys(spark, dir, Seq(5000L).toDF("k"), "k",
      Seq("k"), bloomCols = Seq("k"))
    val idx = new ManifestFileIndex(spark, dir, Some(1L))
    val kept = idx.listFiles(Nil, Seq(EqualTo(attr("k"), Literal(237L))))
      .map(_.files.size).sum
    assert(kept <= 3, s"bloom probe on history should drop most of 8 files, kept $kept")
    assert(FileManifest.readAsOf(spark, dir, 1L)
      .filter(col("k") === 237L).count() === 1L)
    // the v1 snapshot does not contain the merged key
    assert(FileManifest.readAsOf(spark, dir, 1L)
      .filter(col("k") === 5000L).count() === 0L)
  }

  test("a vacuumed member fails LOUD at as-of construction, never partial") {
    import spark.implicits._
    val dir = freshDir("gone")
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(4, col("k")),
      dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(1L), lit(30L), Seq("k"))
    // delete one v1-exclusive data file BEHIND the manifest's back (the
    // external-deletion / crash-window case liveness must catch)
    val hfs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val v1Files = spark.read.parquet(ManifestDir(dir, 1L))
      .select("file").collect().map(_.getString(0))
    val v2Files = spark.read.parquet(ManifestDir(spark, dir))
      .select("file").collect().map(_.getString(0)).toSet
    val exclusive = v1Files.filterNot(v2Files).head
    assert(hfs.delete(new Path(new java.net.URI(exclusive).getPath), false))
    val e = intercept[IllegalArgumentException] {
      FileManifest.readAsOf(spark, dir, 1L).count()
    }
    assert(e.getMessage.contains("no longer on disk"))
    // the intact current version still reads fine
    assert(ManifestFileIndex.read(spark, dir).count() === 70L)
  }
}
