package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** The history-file-set memo must key on a dir's INCARNATION, not its
  * version number or mtime: a table deleted and rebuilt at the same
  * path recycles version numbers, and on a coarse-mtime filesystem the
  * rebuild can land version 1's dir in the SAME timestamp tick — the r20
  * mtime stamp then served incarnation 1's file sets to incarnation 2's
  * coverage probe, false-tripping the staleness guard. The table's
  * incarnation token (the `_table_<uuid>` marker each rebuild creates
  * afresh) can't alias. This spec forces the same-tick rebuild
  * explicitly via setTimes.
  */
class HistMemoIncarnationSpec extends AnyFunSuite with SparkSpec {

  test("same-tick delete-and-rebuild never serves the old incarnation's history sets") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/histmemo_tick"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)

    def build(rows: Long, files: Int): Unit = {
      val df = spark.range(rows).select(col("id").as("k"))
      FileManifest.writeThrough(df.repartitionByRange(files, col("k")), dir,
        Seq("k"), mode = "overwrite")
      // v2: CoW delete leaves v1's files on disk as history members —
      // exactly the state whose coverage probe consults the memo
      FileManifest.deleteRange(spark, dir, "k", lit(0L), lit(rows / 4),
        Seq("k"))
    }

    build(4000L, 4)
    // populate the memo for incarnation 1 (coverage probe must resolve
    // the leftover v1 files through the history sets)
    assert(FileManifest.fastCount(spark, dir) === 4000L - (4000L / 4 + 1))
    val v1dir = new Path(ManifestDir(dir, 1L))
    val tick = hfs.getFileStatus(v1dir).getModificationTime

    // incarnation 2: same path, same version numbers, DIFFERENT content
    hfs.delete(p, true)
    build(6000L, 3)
    // force the same-tick alias the mtime stamp could not distinguish
    hfs.setTimes(v1dir, tick, -1)
    assert(hfs.getFileStatus(v1dir).getModificationTime === tick)

    // a memo keyed only (table, version, mtime) now serves incarnation
    // 1's sets: incarnation 2's v1 leftovers look unmanifested and the
    // coverage guard false-trips. The content stamp must resolve them.
    assert(FileManifest.fastCount(spark, dir) === 6000L - (6000L / 4 + 1))
  }
}
