package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity

/** q146's physical contract — the maintenance half of the persisted-
  * index story: compaction rewrites the SERVED code stream
  * (base ∪ delta − tombstones) as the new base, so the persisted files
  * (a) contain exactly the served row-set — every delta row folded in,
  * no tombstoned id anywhere on disk, codes byte-identical — and
  * (b) serve bit-identically to q109's anti-join path (the q146 gate
  * re-pins that against the same DuckDB oracle as q109). The spec also
  * pins the layout claim the Scaladoc prices: the write-through
  * manifest's per-file [min_cell, max_cell] bounds are present and
  * consistent, which is what hands a cell-probing serve its file-level
  * pruning.
  */
class CompactAnnSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("compacted index equals the served stream and drops every tombstone") {
    val e = Tables.embeddings(spark, sf)
    val existing = e.filter(col("vec_id") % 10 =!= 9)
    val delta = e.filter(col("vec_id") % 10 === 9)
    val tombstones = existing.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("n_id"))
    val train = existing.filter(col("vec_id") % 4 === 0)
    val init = existing.filter(col("vec_id") % 97 === 0)
    val cents = Similarity.ivfTrain(train, init, 64, 2)
    val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
      8, 64, 2)
    def indexOf(part: org.apache.spark.sql.DataFrame) =
      Similarity.buildIvfPqIndex(part, cents, cb, 8, 64)
    val served = indexOf(existing).unionByName(indexOf(delta))
      .join(tombstones, Seq("n_id"), "left_anti")

    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/ann_compact_mvcc"
    val compacted = Similarity.compactIndex(served, dir)

    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("n_id").cast("long"), col("cell").cast("long"),
          col("pcode").cast("array<long>"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
        .sortBy(_._1)
    val a = keyed(served)
    val b = keyed(compacted)
    assert(a.nonEmpty, "served index is empty")
    assert(a.toSeq === b.toSeq,
      "compacted files do not hold exactly the served row-set")

    // no tombstoned id survives ON DISK (not just after an anti-join)
    val dead = tombstones.collect().map(_.getLong(0)).toSet
    assert(b.map(_._1).toSet.intersect(dead).isEmpty,
      "a tombstoned id survived compaction")
    // every delta row folded into the persisted base
    val deltaIds = delta.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds.subsetOf(b.map(_._1).toSet),
      "a delta row is missing from the compacted base")

    // manifest bounds on cell exist and bracket the data per file
    val m = spark.read.parquet(ManifestDir(spark, dir))
    assert(m.columns.contains("min_cell") && m.columns.contains("max_cell"))
    val badBounds = m.filter(col("min_cell") > col("max_cell")).count()
    assert(badBounds === 0L)
    val lo = m.agg(min(col("min_cell")).cast("long")).collect()(0).getLong(0)
    val hi = m.agg(max(col("max_cell")).cast("long")).collect()(0).getLong(0)
    val dlo = compacted.agg(min(col("cell")).cast("long")).collect()(0).getLong(0)
    val dhi = compacted.agg(max(col("cell")).cast("long")).collect()(0).getLong(0)
    assert(lo === dlo && hi === dhi,
      "manifest cell bounds do not cover the compacted data")
    spark.sharedState.cacheManager.clearCache()
  }

  test("compacted layout prunes: a single-cell probe reads a file subset") {
    // re-compact the dir from the first test with a PINNED file count:
    // at spec scale AQE rightly coalesces the tiny range shuffle into
    // one file (nothing to prune), so the layout claim is pinned with
    // the explicit numFiles knob a production compactor would size by
    // target file bytes
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/ann_compact_mvcc"
    val mPath = new org.apache.hadoop.fs.Path(ManifestDir(spark, dir))
    val hfs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    assume(hfs.exists(mPath), "compacted dir not present — run the suite in order")
    val dir2 = s"$dir.pinned"
    // MVCC: prior suite runs' snapshots persist in /tmp until vacuumed —
    // reads of a published table must plan through the manifest (a naive
    // directory read unions every retained version)
    val idx = Similarity.compactIndex(
      graft.sources.ManifestFileIndex.read(spark, dir)
        .select("n_id", "cell", "pcode"),
      dir2, numFiles = Some(8))
    // probe the most-populated cell — the realistic serve target
    val hot = idx.groupBy("cell").count().orderBy(col("count").desc)
      .limit(1).collect()(0).getLong(0)
    val (pruned, kept, total) = graft.sources.FileManifest.readPruned(
      spark, dir2, "cell", lit(hot), lit(hot))
    assert(total > 1, s"compaction wrote a single file ($total) — nothing to prune")
    assert(kept < total,
      s"cell-range clustering bought no pruning: kept $kept of $total files")
    val exact = idx.filter(col("cell") === hot).count()
    assert(pruned.filter(col("cell") === hot).count() === exact)
    spark.sharedState.cacheManager.clearCache()
  }

  test("IN-PLACE compaction: rewriting the base index into its own dir is safe") {
    // the natural production call — compact the served base back into the
    // directory it is read from. A writeThrough(overwrite) here cleared
    // the tree before the lazy plan scanned it, destroying the input
    // (adjudicated medium in round-14 advice); compactIndex now stages to
    // a sibling dir and swaps by rename, so the self-referential rewrite
    // must succeed and preserve the exact row-set.
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/ann_compact_mvcc"
    val mPath = new org.apache.hadoop.fs.Path(ManifestDir(spark, dir))
    val hfs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    assume(hfs.exists(mPath), "compacted dir not present — run the suite in order")
    val preVersions = graft.sources.FileManifest.versions(spark, dir)
    val before = graft.sources.ManifestFileIndex.read(spark, dir)
      .select(col("n_id").cast("long")).collect().map(_.getLong(0)).sorted
    val out = Similarity.compactIndex(
      graft.sources.ManifestFileIndex.read(spark, dir)
        .select("n_id", "cell", "pcode"), dir)
    val after = out.select(col("n_id").cast("long"))
      .collect().map(_.getLong(0)).sorted
    assert(before.nonEmpty)
    assert(before.toSeq === after.toSeq,
      "in-place compaction lost or duplicated rows")
    assert(hfs.exists(mPath), "manifest missing after in-place swap")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"${dir}_compact_staging")),
      "staging dir left behind after publish")
    // MVCC: the pre-compaction snapshot survives the publish — its files
    // stay on disk and readAsOf plans them — until vacuum retention
    val vs = graft.sources.FileManifest.versions(spark, dir)
    assert(vs.length === preVersions.length + 1, s"publish must add a version: $vs")
    val prior = graft.sources.FileManifest.readAsOf(spark, dir, vs.init.last)
      .select(col("n_id").cast("long")).collect().map(_.getLong(0)).sorted
    assert(prior.toSeq === before.toSeq,
      "pre-compaction snapshot unreadable or changed after in-place publish")
    // a raw directory union would double-count old + new files; the
    // manifest-planned read must NOT
    val naive = spark.read.parquet(dir).count()
    assert(naive > after.length,
      s"expected prior snapshot's files still on disk (naive=$naive, current=${after.length})")
    // retention: vacuum to the current version reaps the old snapshot
    graft.sources.FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 1)
    assert(spark.read.parquet(dir).count() === after.length.toLong,
      "vacuum(keepVersions=1) did not reclaim the prior snapshot's files")
    assert(graft.sources.FileManifest.versions(spark, dir) === Seq(vs.last))
    spark.sharedState.cacheManager.clearCache()
  }

  test("serve from the compacted base is row-identical to q109's anti-join serve") {
    val fromCompacted = SparkEntry.queries("q146_ann_compact")(spark, sf)
      .collect().map(_.toSeq)
    val fromServe = SparkEntry.queries("q109_ann_tombstones")(spark, sf)
      .collect().map(_.toSeq)
    assert(fromCompacted.nonEmpty)
    assert(fromCompacted.length === fromServe.length)
    fromCompacted.zip(fromServe).foreach { case (a, b) => assert(a === b) }
    spark.sharedState.cacheManager.clearCache()
  }
}
