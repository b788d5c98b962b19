package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** q166's file surgery: a range delete must rewrite ONLY the files whose
  * manifest bounds intersect the range, carry every other entry
  * byte-for-byte (paths, stats, bloom binaries), publish as an MVCC
  * version with the pre-delete snapshot intact, and actually purge the
  * deleted bytes only at vacuum retention.
  */
class DeleteRangeSpec extends AnyFunSuite with SparkSpec {

  test("only intersecting files rewrite; carried entries are byte-identical") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/del_range"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    // 4 range-clustered files over k = 0..3999 (k-ranges ~[0,1k),[1k,2k)…)
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val before = spark.read.parquet(ManifestDir(spark, dir))
      .select(col("file"), col("n_rows"), col("min_k"), col("max_k"),
        md5(col("bloom_k")).as("bh"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(before.size === 4)

    // delete a window inside ONE file's range
    val (rewritten, carried) = FileManifest.deleteRange(
      spark, dir, "k", lit(100L), lit(200L), Seq("k"), bloomCols = Seq("k"))
    assert(rewritten === 1, s"expected 1 intersecting file, rewrote $rewritten")
    assert(carried === 3)

    val after = spark.read.parquet(ManifestDir(spark, dir))
      .select(col("file"), col("n_rows"), col("min_k"), col("max_k"),
        md5(col("bloom_k")).as("bh"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val carriedKeys = before.keySet.intersect(after.keySet)
    assert(carriedKeys.size === 3, s"carried entries missing: $carriedKeys")
    carriedKeys.foreach { k =>
      assert(before(k) === after(k), s"carried entry mutated: $k")
    }

    // current read lost exactly the window; the pre-delete snapshot kept it
    val cur = graft.sources.ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 4000L - 101L)
    assert(cur.filter(col("k").between(100L, 200L)).count() === 0L)
    val vs = FileManifest.versions(spark, dir)
    val prior = FileManifest.readAsOf(spark, dir, vs.init.last)
    assert(prior.count() === 4000L)

    // purge point: vacuum to current reaps the pre-delete file — the
    // deleted rows' bytes leave disk only now
    val naiveBefore = spark.read.parquet(dir).count()
    assert(naiveBefore > cur.count(), "old file already gone before vacuum")
    FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 1)
    assert(spark.read.parquet(dir).count() === 4000L - 101L)
  }

  test("NULL-keyed rows SURVIVE a range delete (NULL never satisfies the range)") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/del_null"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    // NULLs land in the same files as the doomed range (coalesce(1)), so
    // the candidate rewrite MUST carry them through its survivors filter
    // — a bare !(between) evaluates NULL for them and silently drops them
    val df = ((1L to 10L).map(Option(_)) ++ Seq(None, None))
      .toDF("k").coalesce(1)
    FileManifest.writeThrough(df, dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(3L), lit(5L), Seq("k"))
    val cur = graft.sources.ManifestFileIndex.read(spark, dir)
    assert(cur.filter(col("k").isNull).count() === 2L,
      "NULL rows deleted by a range they cannot satisfy")
    assert(cur.count() === 9L)
  }

  test("deleting every row of the candidate set keeps the table readable") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/del_all"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    // bloom tracking forces the data-scan stats path: its groupBy emits
    // no entry for a zero-row rewrite output; the explicit n_rows=0
    // completion keeps that file in the version, so reads stay whole
    FileManifest.writeThrough(
      spark.range(100L).select(col("id").as("k"))
        .repartitionByRange(2, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(0L), lit(49L), Seq("k"),
      bloomCols = Seq("k"))
    val cur = graft.sources.ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 50L)
    assert(cur.filter(col("k") < 50L).count() === 0L)
  }

  test("a range matching nothing rewrites nothing and bumps no version") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/del_none"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    val df = spark.range(100L).select(col("id").as("k"))
    FileManifest.writeThrough(df.repartitionByRange(2, col("k")), dir,
      Seq("k"), mode = "overwrite")
    val vs0 = FileManifest.versions(spark, dir)
    val (rewritten, carried) = FileManifest.deleteRange(
      spark, dir, "k", lit(5000L), lit(6000L), Seq("k"))
    assert(rewritten === 0 && carried === 2)
    assert(FileManifest.versions(spark, dir) === vs0,
      "a no-op delete must not publish a version")
    assert(graft.sources.ManifestFileIndex.read(spark, dir).count() === 100L)
  }
}
