package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** Surgery on a hive-partitioned tree (optimizeTable / deleteRange read
  * the layout from the manifest paths): rewrites land INSIDE each
  * partition directory (no partition-column flattening), all partitions
  * publish under ONE manifest version (not N per-partition commits), and
  * untouched files carry by reference.
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

  test("optimizeTable on a tree: one commit, files inside partition dirs, content lossless") {
    val dir = freshDir("opt")
    build(dir)
    val before = ManifestFileIndex.read(spark, dir)
      .select("k", "part").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq
    val v1 = FileManifest.versions(spark, dir).max
    val written = FileManifest.optimizeTable(
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

  test("deleteRange on a tree: survivors rewrite in place, carried files ride, one commit") {
    val dir = freshDir("del")
    build(dir)
    val v1 = FileManifest.versions(spark, dir).max
    // [1, 150] hits the lower file of each partition; upper files carry
    val (rewritten, carried) = FileManifest.deleteRange(
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
      FileManifest.deleteRange(
        spark, dir, "part", lit("p0"), lit("p1"), Seq("part"))
    }
    assert(e.getMessage.contains("bounds") || e.getMessage.contains("PARTITION"),
      e.getMessage)
    // with the partition column tracked, the guard itself fires: it
    // reads the layout from the manifest paths
    FileManifest.build(spark, dir, Seq("k", "part"))
    val before = keysByPart(dir)
    val p = intercept[IllegalArgumentException] {
      FileManifest.deleteRange(
        spark, dir, "part", lit("p0"), lit("p1"), Seq("k", "part"))
    }
    assert(p.getMessage.contains("PARTITION"), p.getMessage)
    assert(keysByPart(dir) === before)
    // a row predicate on the same tree goes through: one version, files
    // inside their partition dirs, rows equal to the filtered full scan
    val v = FileManifest.versions(spark, dir).max
    FileManifest.deleteRange(spark, dir, "k", lit(100L), lit(399L),
      Seq("k", "part"))
    assert(FileManifest.versions(spark, dir).max === v + 1)
    val want = before.filterNot(t => t._1 >= 100L && t._1 <= 399L)
    assert(manifestFiles(dir).forall(_.contains("/part=p")))
    assert(keysByPart(dir) === want)
    // and optimizeTable, once refused on a tree, compacts it the same way
    FileManifest.optimizeTable(spark, dir, Seq("k", "part"))
    assert(FileManifest.versions(spark, dir).max === v + 2)
    val files = manifestFiles(dir)
    assert(files.length === 3 && files.forall(_.contains("/part=p")), files)
    assert(keysByPart(dir) === want)
  }

  private def keysByPart(dir: String): Seq[(Long, String)] =
    ManifestFileIndex.read(spark, dir)
      .select("k", "part").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq

  private def manifestFiles(dir: String): Seq[String] =
    spark.read.parquet(ManifestDir(spark, dir))
      .select("file").collect().map(_.getString(0).replace("%3D", "=")).toSeq
}
