package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** Batched `_op_` resolution (FileManifest.opsOfVersions): a lagging CDC
  * consumer's changesBetween span may cover thousands of commits, and
  * the run decomposition needs each mid version's operation stamp — the
  * batched path resolves ALL of them from one span-scoped pass (one
  * literal root listing to find the history dirs — never a glob, which
  * would let metacharacters in the table path match a sibling table —
  * then one listing per IN-SPAN dir) instead of exists+listStatus+
  * fallback per version. Pins: (1) changesBetween performs ZERO
  * per-version op listings however long the lag (the opOfVersionCalls
  * probe); (2) the batched map agrees with the per-version resolver for
  * every retained version; (3) the long-lag feed is exact — applying it
  * to the from-snapshot reproduces the to-snapshot, reorg hops skipped.
  */
class OpBatchSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/opbatch_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  test("a 30-commit lag poll resolves ops in batch: zero per-version listings, exact feed") {
    import spark.implicits._
    val dir = freshDir("chain")
    val hfs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    FileManifest.writeThrough(
      (1L to 400L).map(k => (k, k * 10L)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite") // v1
    // a long mixed chain BEFORE the consumer's next poll: merges (data),
    // periodic OPTIMIZE (reorg), one DV erase (data) and its purge (reorg)
    var expectedOps = Map(1L -> "build") // an overwrite commits a build
    (2L to 29L).foreach { i =>
      if (i % 5 == 0) {
        FileManifest.optimizeTable(spark, dir, Seq("k"),
          bloomCols = Seq("k"), targetRowsPerFile = 256L)
        expectedOps += (i -> "optimize")
      } else if (i == 7L) {
        FileManifest.deleteKeysDV(spark, dir, "k", Seq(3L, 303L), Seq("k"),
          bloomCols = Seq("k"))
        expectedOps += (i -> "dv-delete")
      } else if (i == 8L) {
        FileManifest.purgeDv(spark, dir, Seq("k"), bloomCols = Seq("k"))
        expectedOps += (i -> "purge")
      } else {
        FileManifest.mergeKeys(spark, dir,
          Seq((i, -i), (1000L + i, -1L)).toDF("k", "v"),
          "k", Seq("k"), bloomCols = Seq("k"))
        expectedOps += (i -> "merge")
      }
    }
    assert(FileManifest.versions(spark, dir).max === 29L)

    // (1) the poll pays ZERO per-version op listings. The probe is a
    // JVM-GLOBAL counter, so this before/after compare is sound only
    // because Test/fork runs ScalaTest suites sequentially in one JVM
    // and nothing in THIS suite touches history()/opOfVersion between
    // the two reads — if suites ever run concurrently, scope the probe
    // per-table (or reset it under a lock) before trusting the delta.
    val before = FileManifest.opOfVersionCalls.get()
    val feed = FileManifest.changesBetween(spark, dir, 1L, 29L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(FileManifest.opOfVersionCalls.get() === before,
      "changesBetween must batch op resolution, not list per version")

    // (3) exactness: from-snapshot + feed == to-snapshot, as multisets
    def multiset(v: Long): Map[(Long, Long), Int] =
      FileManifest.readAsOf(spark, dir, v).select("k", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val from = multiset(1L)
    val applied = feed.foldLeft(from) { case (acc, (k, v, ct)) =>
      val key = (k, v)
      val d = if (ct == "insert") 1 else -1
      val n = acc.getOrElse(key, 0) + d
      assert(n >= 0, s"feed deletes a row the from-state lacks: $key")
      if (n == 0) acc - key else acc + (key -> n)
    }
    assert(applied === multiset(29L), "feed must telescope exactly across the chain")

    // (2) the batched map agrees with the per-version resolver (this
    // comparison itself uses the per-version path — after the probe)
    val batched = FileManifest.opsOfVersions(hfs, dir,
      FileManifest.versions(spark, dir).toSet)
    FileManifest.versions(spark, dir).foreach { v =>
      assert(batched.get(v).contains(
        expectedOps.getOrElse(v, "unknown")),
        s"batched op for v$v: ${batched.get(v)} vs expected ${expectedOps.get(v)}")
    }

    // and DESCRIBE HISTORY shows the same verbs through the batch
    val hist = FileManifest.history(spark, dir)
      .select("version", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    expectedOps.foreach { case (v, op) =>
      assert(hist(v) === op, s"history op for v$v")
    }
  }
}
