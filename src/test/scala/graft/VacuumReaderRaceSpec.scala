package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** Two vacuum contracts around MVCC retention.
  *
  * RESURRECTION GUARD (the delete-undelete bug): vacuum must reap an
  * expired history manifest and the data files only it references
  * TOGETHER. Reaping the manifest while graceMs spares its young files
  * used to strand them unreferenced-but-live; the next refresh — no
  * longer seeing them in any history manifest — re-manifested them as
  * fresh appends, and the pre-delete file's rows (INCLUDING the deleted
  * range) silently rejoined the table. The exact advisor sequence:
  * deleteRange → vacuum(keepVersions=1, graceMs > file age) →
  * writeThrough append → deleted rows must stay deleted.
  *
  * RETENTION/READ RACE: an as-of read pins file PATHS at resolution; a
  * vacuum that reaps the version mid-read makes the scan fail LOUD with
  * the task's file-not-found error — never silent partial results.
  * Pinned here as the documented failure mode (readAsOf scaladoc).
  */
class VacuumReaderRaceSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/vrace_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def keysOf(dir: String): Seq[Long] =
    graft.sources.ManifestFileIndex.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("deleted rows never resurrect: young-file vacuum spares the manifest") {
    import spark.implicits._
    val dir = freshDir("resurrect")
    val hfs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(4, col("k")),
      dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(10L), lit(20L), Seq("k"))
    assert(keysOf(dir) === ((1L to 9L) ++ (21L to 100L)).toSeq)

    // vacuum within the grace window: every v1-exclusive file (the
    // pre-delete originals the surgery rewrote) is younger than graceMs,
    // so the v1 manifest must be SPARED — still covering those files
    // against re-manifesting — and nothing deleted
    val reaped = FileManifest.vacuum(spark, dir, graceMs = 600000L, keepVersions = 1)
    assert(reaped.isEmpty, s"grace-window vacuum deleted: $reaped")
    assert(hfs.exists(new Path(ManifestDir(dir, 1L))),
      "v1 manifest reaped while graceMs spares its data files — " +
        "the resurrection window the guard exists to close")

    // the advisor's resurrection trigger: an append-refresh after the
    // vacuum — with the manifest stranded-file bug, refresh re-manifested
    // the pre-delete files here and rows 10..20 rejoined the table
    FileManifest.writeThrough(Seq(1000L).toDF("k"), dir, Seq("k"))
    assert(keysOf(dir) === (((1L to 9L) ++ (21L to 100L)) :+ 1000L).sorted,
      "deleted rows resurrected after vacuum + append")

    // past the grace window the manifest and its exclusive files leave
    // together; deleted rows stay deleted through yet another append
    val reaped2 = FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 1)
    assert(reaped2.nonEmpty, "expired v1 snapshot should now be reapable")
    assert(!hfs.exists(new Path(ManifestDir(dir, 1L))))
    FileManifest.writeThrough(Seq(2000L).toDF("k"), dir, Seq("k"))
    assert(keysOf(dir) === (((1L to 9L) ++ (21L to 100L)) ++ Seq(1000L, 2000L)).sorted)
  }

  test("stale pre-merge values never resurrect through the same window") {
    import spark.implicits._
    val dir = freshDir("merge_res")
    FileManifest.writeThrough(
      (1L to 50L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      dir, Seq("k"), mode = "overwrite")
    FileManifest.mergeKeys(spark, dir,
      Seq((7L, -7L)).toDF("k", "v"), "k", Seq("k"))
    FileManifest.vacuum(spark, dir, graceMs = 600000L, keepVersions = 1)
    FileManifest.writeThrough(Seq((100L, 100L)).toDF("k", "v"), dir, Seq("k"))
    val dup = graft.sources.ManifestFileIndex.read(spark, dir)
      .groupBy("k").count().filter(col("count") > 1).count()
    assert(dup === 0L, "pre-merge key values resurrected as duplicate keys")
    val v7 = graft.sources.ManifestFileIndex.read(spark, dir)
      .filter(col("k") === 7L).select("v").head().getLong(0)
    assert(v7 === -7L)
  }

  test("as-of frame resolved before vacuum fails loud mid-scan, not silently") {
    import spark.implicits._
    val dir = freshDir("race")
    FileManifest.writeThrough(
      (1L to 30L).toDF("k").repartition(2), dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(1L), lit(5L), Seq("k"))
    // reader resolves v1's file paths while the version is retained...
    val asOf = FileManifest.readAsOf(spark, dir, 1L)
    // ...then retention reaps v1 (manifest + its exclusive files)
    FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 1)
    // the scan must fail LOUD, never partial rows. Since pruned time
    // travel (the version-pinned ManifestFileIndex), the usual shape is
    // the NAMED retention error surfacing at plan time — the lazy
    // listing re-reads the version's manifest, which vacuum reaped; a
    // crash-window table (files reaped, manifest still present) instead
    // fails file-level not-found mid-scan. Both are loud; accept either.
    val e = intercept[Exception] { asOf.count() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        c.getMessage != null && (c.getMessage.contains("does not exist") ||
          c.getMessage.contains("PATH_NOT_FOUND") ||
          c.getMessage.contains("FileNotFound") ||
          c.getMessage.contains("not retained"))),
      s"expected a loud retention/not-found failure, got: $e")
    // resolution-time reads of the reaped version fail with the NAMED
    // retention error (the loud front door)
    val e2 = intercept[IllegalArgumentException] {
      FileManifest.readAsOf(spark, dir, 1L)
    }
    assert(e2.getMessage.contains("not retained"))
  }
}
