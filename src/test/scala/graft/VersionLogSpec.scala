package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** The version log defines the table: a file is a member only if the
  * current version names it. Pins the consequences — `build` refuses
  * to adopt files a newer version dropped, a missing member fails a
  * current read loud, `vacuum` sweeps crashed committers' torn manifest
  * dirs, and `writeThrough` stages outside the table (an overwrite may
  * read the table it replaces; an append never adopts stray files).
  */
class VersionLogSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/vlog_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def keyed(n: Long, files: Int) =
    spark.range(n).select(col("id").as("k")).repartitionByRange(files, col("k"))

  test("build refuses to adopt files that a copy-on-write surgery dropped") {
    val dir = freshDir("build_cow")
    FileManifest.writeThrough(keyed(4000L, 4), dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(0L), lit(999L), Seq("k"))
    assert(FileManifest.fastCount(spark, dir) === 3000L)
    // v1's rewritten file is still on disk for as-of readers: re-statting
    // the tree would bring the deleted rows back
    val e = intercept[IllegalStateException] {
      FileManifest.build(spark, dir, Seq("k"))
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    assert(FileManifest.fastCount(spark, dir) === 3000L)
    assert(ManifestFileIndex.read(spark, dir).count() === 3000L)
    // once vacuum reaps the older version and its files, build adopts
    // exactly the current rows
    FileManifest.vacuum(spark, dir, graceMs = 0L)
    FileManifest.build(spark, dir, Seq("k"))
    assert(FileManifest.fastCount(spark, dir) === 3000L)
    assert(ManifestFileIndex.read(spark, dir).count() === 3000L)
  }

  test("a current read fails loud when a manifest member is missing from disk") {
    val dir = freshDir("missing")
    FileManifest.writeThrough(keyed(4000L, 4), dir, Seq("k"), mode = "overwrite")
    val hfs = fsOf(dir)
    val victim = hfs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    assert(hfs.delete(victim, false))
    spark.catalog.refreshByPath(dir)
    // loud either way, naming the file: the missing-member check, or the
    // schema anchor (a manifest member) when the victim is the anchor
    val e = intercept[Exception] {
      ManifestFileIndex.read(spark, dir).count()
    }
    assert(e.getMessage.contains(victim.getName), e.getMessage)
  }

  test("directory pruning does not false-trip the missing-member check") {
    val dir = freshDir("missing_part")
    FileManifest.writeThrough(
      spark.range(600L).select(col("id").as("k"),
        concat(lit("p"), (col("id") % 3).cast("string")).as("part")),
      dir, Seq("k"), mode = "overwrite", partitionCols = Seq("part"))
    // the pruned-away partitions' members are on disk, just not listed
    // by the partition-pruned scan
    assert(ManifestFileIndex.read(spark, dir)
      .filter(col("part") === "p0").count() === 200L)
    val hfs = fsOf(dir)
    hfs.delete(new Path(s"$dir/part=p2"), true)
    spark.catalog.refreshByPath(dir)
    val e = intercept[IllegalArgumentException] {
      ManifestFileIndex.read(spark, dir).count()
    }
    assert(e.getMessage.contains("no longer on disk"), e.getMessage)
  }

  test("vacuum sweeps torn manifest dirs past the grace window only") {
    val dir = freshDir("torn")
    FileManifest.writeThrough(keyed(100L, 1), dir, Seq("k"), mode = "overwrite")
    val hfs = fsOf(dir)
    val old = new Path(s"$dir/_manifest_tmp_deadbeef")
    val young = new Path(s"$dir/_manifest_tmp_cafef00d")
    Seq(old, young).foreach { p =>
      hfs.mkdirs(p)
      hfs.create(new Path(p, "part-00000.parquet"), true).close()
    }
    hfs.setTimes(old, System.currentTimeMillis() - 3600000L, -1)
    FileManifest.vacuum(spark, dir, graceMs = 600000L)
    assert(!hfs.exists(old), "a torn manifest dir past grace survived vacuum")
    assert(hfs.exists(young), "vacuum reaped a possibly in-flight manifest dir")
    assert(FileManifest.fastCount(spark, dir) === 100L)
  }

  test("writeThrough overwrite may read the table it replaces") {
    val dir = freshDir("self_overwrite")
    FileManifest.writeThrough(keyed(1000L, 2), dir, Seq("k"), mode = "overwrite")
    val v = FileManifest.versions(spark, dir).max
    FileManifest.writeThrough(
      ManifestFileIndex.read(spark, dir).filter(col("k") % 2 === 0)
        .select((col("k") + 1L).as("k")),
      dir, Seq("k"), mode = "overwrite")
    assert(FileManifest.versions(spark, dir) === Seq(v + 1))
    assert(ManifestFileIndex.read(spark, dir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === (1L until 1000L by 2L))
  }

  test("a writeThrough append onto a versionless dir of raw files is refused") {
    import spark.implicits._
    val dir = freshDir("raw_append")
    (1L to 10L).toDF("k").coalesce(1).write.parquet(dir)
    val e = intercept[IllegalStateException] {
      FileManifest.writeThrough((11L to 20L).toDF("k"), dir, Seq("k"))
    }
    assert(e.getMessage.contains("no table version"), e.getMessage)
    assert(FileManifest.versions(spark, dir).isEmpty)
    assert(spark.read.parquet(dir).count() === 10L, "the refused append moved files in")
    // build is the verb that adopts what is already on disk
    FileManifest.build(spark, dir, Seq("k"))
    FileManifest.writeThrough((11L to 20L).toDF("k"), dir, Seq("k"))
    assert(FileManifest.fastCount(spark, dir) === 20L)
  }

  test("an append whose tracked columns differ from the table's fails before moving files") {
    import spark.implicits._
    val dir = freshDir("drift")
    FileManifest.writeThrough((1L to 10L).map(k => (k, k)).toDF("k", "v"), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val v = FileManifest.versions(spark, dir).max
    val e = intercept[IllegalArgumentException] {
      FileManifest.writeThrough((11L to 20L).map(k => (k, k)).toDF("k", "v"),
        dir, Seq("k", "v"))
    }
    assert(e.getMessage.contains("tracks"), e.getMessage)
    assert(FileManifest.versions(spark, dir).max === v)
    assert(spark.read.parquet(dir).count() === 10L, "the refused append moved files in")
  }
}
