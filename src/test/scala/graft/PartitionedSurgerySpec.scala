package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** Partition-aware surgery (optimizePartitioned / deleteRangePartitioned):
  * rewrites land INSIDE each partition directory (no partition-column
  * flattening), all partitions publish under ONE manifest swap (single
  * version, not N per-partition commits), untouched files carry by
  * reference, and the flat-only verbs' guard names these twins.
  */
class PartitionedSurgerySpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/partsurg_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def build(dir: String): Unit = {
    import spark.implicits._
    // 3 partitions × 2 files each, k range-clustered within partitions
    val df = (1L to 600L).map(k => (k, s"p${k % 3}")).toDF("k", "part")
      .repartitionByRange(6, col("part"), col("k"))
    FileManifest.writeThrough(df, dir, Seq("k"),
      partitionCols = Seq("part"), mode = "overwrite")
  }

  test("optimizePartitioned: one commit, files inside partition dirs, content lossless") {
    val dir = freshDir("opt")
    build(dir)
    val before = ManifestFileIndex.read(spark, dir)
      .select("k", "part").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq
    val v1 = FileManifest.versions(spark, dir).max
    val written = FileManifest.optimizePartitioned(
      spark, dir, Seq("k"), targetRowsPerFile = 200L)
    assert(written === 3, s"200 live rows per partition at target 200: $written")
    // exactly ONE new version for the whole tree
    assert(FileManifest.versions(spark, dir).max === v1 + 1)
    val after = ManifestFileIndex.read(spark, dir)
      .select("k", "part").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq
    assert(after === before, "optimize must be lossless")
    // every new file lives INSIDE its partition dir; none at the root,
    // and the partition column never leaks into file data
    val m = spark.read.parquet(ManifestDir(spark, dir))
      .select("file").collect().map(_.getString(0).replace("%3D", "="))
    assert(m.length === 3)
    assert(m.forall(_.contains("/part=p")), s"files must land in partition dirs: ${m.toSeq}")
    val physical = spark.read.parquet(m.head).schema.fieldNames.toSet
    assert(!physical.contains("part"),
      "partition column must stay directory-encoded, not flatten into file data")
    // the feed across the optimize nets to zero (reorg-stamped + skipped)
    val feed = FileManifest.changesBetween(spark, dir, v1, v1 + 1)
    assert(feed.inputFiles.isEmpty && feed.count() === 0L)
  }

  test("deleteRangePartitioned: survivors rewrite in place, carried files ride, one commit") {
    val dir = freshDir("del")
    build(dir)
    val v1 = FileManifest.versions(spark, dir).max
    // [1, 150] hits the lower file of each partition; upper files carry
    val (rewritten, carried) = FileManifest.deleteRangePartitioned(
      spark, dir, "k", lit(1L), lit(150L), Seq("k"))
    assert(rewritten + carried === 6)
    assert(carried >= 3, s"upper-range files must carry by reference: ($rewritten, $carried)")
    assert(FileManifest.versions(spark, dir).max === v1 + 1)
    val got = ManifestFileIndex.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (151L to 600L).toSeq)
    // partition membership intact for survivors
    val parts = ManifestFileIndex.read(spark, dir)
      .groupBy("part").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(parts.values.sum === 450L && parts.size === 3)
  }

  test("deleting BY the partition column fails loud with the dir-drop remedy") {
    val dir = freshDir("guard")
    build(dir)
    val e = intercept[IllegalArgumentException] {
      FileManifest.deleteRangePartitioned(
        spark, dir, "part", lit("p0"), lit("p1"), Seq("part"))
    }
    assert(e.getMessage.contains("bounds") || e.getMessage.contains("PARTITION"),
      e.getMessage)
    // and the flat-only verb's guard names the partitioned twins
    val g = intercept[IllegalArgumentException] {
      FileManifest.optimizeTable(spark, dir, Seq("k"))
    }
    assert(g.getMessage.contains("optimizePartitioned"), g.getMessage)
  }
}
