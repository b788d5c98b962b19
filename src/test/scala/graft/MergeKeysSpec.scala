package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** q167's file surgery: keyed MERGE must rewrite only the files whose
  * skipping evidence (bounds, bloom) might hold a matched key, carry the
  * rest byte-for-byte, replace matched rows exactly once, insert new
  * keys, and leave the pre-merge snapshot readable.
  */
class MergeKeysSpec extends AnyFunSuite with SparkSpec {

  private def fresh(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/merge_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    (dir, hfs)
  }

  test("bounds-pruned merge: exactly the one intersecting file rewrites") {
    import spark.implicits._
    val (dir, _) = fresh("bounds")
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), mode = "overwrite") // bounds only, NO bloom: deterministic pruning
    val before = spark.read.parquet(ManifestDir(spark, dir))
      .select(col("file"), col("n_rows"), col("min_k"), col("max_k"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // updates hit keys 100/200/300 (all inside one range file) + a brand-new key
    val updates = Seq((100L, -1L), (200L, -1L), (300L, -1L), (10000L, -2L))
      .toDF("k", "v")
    val (rewritten, carried) = FileManifest.mergeKeys(
      spark, dir, updates, "k", Seq("k"))
    assert(rewritten === 1, s"bounds pruning should isolate one file, got $rewritten")
    assert(carried === 3)
    val after = spark.read.parquet(ManifestDir(spark, dir))
      .select(col("file"), col("n_rows"), col("min_k"), col("max_k"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val carriedKeys = before.keySet.intersect(after.keySet)
    assert(carriedKeys.size === 3)
    carriedKeys.foreach(k => assert(before(k) === after(k), s"carried entry mutated: $k"))

    val cur = graft.sources.ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 4001L) // 4000 + 1 insert
    assert(cur.filter(col("k").isin(100L, 200L, 300L))
      .select("v").collect().map(_.getLong(0)).toSeq === Seq(-1L, -1L, -1L))
    assert(cur.filter(col("k") === 10000L).select("v").head().getLong(0) === -2L)
    // matched rows replaced exactly once (no duplicate key rows)
    assert(cur.groupBy("k").count().filter(col("count") > 1).count() === 0L)
    // pre-merge snapshot intact
    val vs = FileManifest.versions(spark, dir)
    val prior = FileManifest.readAsOf(spark, dir, vs.init.last)
    assert(prior.count() === 4000L)
    assert(prior.filter(col("k") === 100L).select("v").head().getLong(0) === 100L % 7)
  }

  test("bloom-pruned merge: sound replacement under probabilistic skipping") {
    import spark.implicits._
    val (dir, _) = fresh("bloom")
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val updates = Seq((50L, -1L), (2050L, -1L)).toDF("k", "v")
    val (rewritten, carried) = FileManifest.mergeKeys(
      spark, dir, updates, "k", Seq("k"), bloomCols = Seq("k"))
    // blooms have false positives but never false negatives: the two
    // files actually holding the keys MUST rewrite; others may FP
    assert(rewritten >= 2 && rewritten <= 4, s"rewritten=$rewritten")
    assert(rewritten + carried === 4)
    val cur = graft.sources.ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 4000L)
    assert(cur.filter(col("k").isin(50L, 2050L))
      .select("v").collect().map(_.getLong(0)).toSeq === Seq(-1L, -1L))
    assert(cur.groupBy("k").count().filter(col("count") > 1).count() === 0L)
  }
}
