package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FastRawLocalFileSystem, FileManifest}

/** The raw local filesystem, recording every path it lists. Every
  * listing entry point of `FileSystem` (listStatus with or without a
  * filter, listFiles, listLocatedStatus, listStatusIterator) ends in
  * `listStatus(Path)`.
  */
class ListingRecordingRawFs extends FastRawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    ListingRecordingRawFs.listed.add(makeQualified(f).toUri.getPath)
    super.listStatus(f)
  }
}

object ListingRecordingRawFs {
  val listed = new ConcurrentLinkedQueue[String]()
}

class ListingRecordingFs extends LocalFileSystem(new ListingRecordingRawFs)

/** The version log is the table: no read verb and no `writeThrough`
  * append lists the data tree (the root or a partition dir under it).
  * `vacuum` and `build` are the verbs that do.
  */
class TreeListingSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/listing_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  /** The data dirs of table `dir` that `body` listed: the root and every
    * directory under it outside the underscore/dot metadata subtrees.
    */
  private def dataDirsListed(dir: String)(body: => Unit): Seq[String] = {
    val root = new Path(dir).toUri.getPath
    val confs = Seq(
      "fs.file.impl" -> classOf[ListingRecordingFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    ListingRecordingRawFs.listed.clear()
    try body
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    ListingRecordingRawFs.listed.asScala.toSeq.distinct.filter { p =>
      (p == root || (p.startsWith(root + "/") &&
        !p.stripPrefix(root + "/").split('/').exists(s =>
          s.startsWith("_") || s.startsWith(".")))) &&
        new java.io.File(p).isDirectory
    }
  }

  private def rows(lo: Long, n: Long) =
    spark.range(lo, lo + n).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 3).cast("string")).as("part"))

  test("reads and appends list no data dir; vacuum and build do") {
    val dir = freshDir("tree")
    FileManifest.writeThrough(rows(0L, 3000L), dir, Seq("k"),
      bloomCols = Seq("k"), mode = "overwrite", partitionCols = Seq("part"))
    val root = new Path(dir).toUri.getPath

    val reads = dataDirsListed(dir) {
      val (pruned, kept, total) =
        FileManifest.readPruned(spark, dir, "k", lit(10L), lit(20L))
      assert(pruned.count() === 11L && kept <= total)
      val (hit, _, _) =
        FileManifest.readPointLookup(spark, dir, "k", Seq(5L, 1500L))
      assert(hit.count() === 2L)
      assert(FileManifest.fastCount(spark, dir) === 3000L)
    }
    assert(reads.isEmpty, s"read verbs listed data dirs: $reads")

    val append = dataDirsListed(dir) {
      FileManifest.writeThrough(rows(3000L, 300L), dir, Seq("k"),
        bloomCols = Seq("k"), partitionCols = Seq("part"))
    }
    assert(append.isEmpty, s"writeThrough append listed data dirs: $append")
    assert(FileManifest.fastCount(spark, dir) === 3300L)

    val optimize = dataDirsListed(dir) {
      FileManifest.optimizeTable(spark, dir, Seq("k"), bloomCols = Seq("k"))
    }
    assert(optimize.isEmpty, s"optimizeTable listed data dirs: $optimize")
    assert(FileManifest.fastCount(spark, dir) === 3300L)

    // the two verbs whose job is the tree itself
    val vacuum = dataDirsListed(dir) { FileManifest.vacuum(spark, dir, graceMs = 0L) }
    assert(vacuum.contains(root), s"vacuum listed only $vacuum")
    val build = dataDirsListed(dir) {
      FileManifest.build(spark, dir, Seq("k"), bloomCols = Seq("k"))
    }
    assert(build.contains(root), s"build listed only $build")
    assert(FileManifest.fastCount(spark, dir) === 3300L)
  }
}
