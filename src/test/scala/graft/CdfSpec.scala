package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** Change-data-feed mechanics behind q169 (changesBetween): version-pair
  * resolution, file-level diff (rows of files present in both versions
  * are never emitted), row-level netting of carried rows across file
  * surgery, update = delete-old + insert-new, and the loud failures
  * (inverted pair, vacuumed version).
  */
class CdfSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/cdf_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def changes(dir: String, from: Long, to: Long): Seq[(Long, String)] =
    FileManifest.changesBetween(spark, dir, from, to)
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  test("append-only: each version pair yields exactly the appended inserts") {
    import spark.implicits._
    val dir = freshDir("append")
    FileManifest.writeThrough(Seq(1L, 2L, 3L).toDF("k"), dir, Seq("k"),
      mode = "overwrite")
    FileManifest.writeThrough(Seq(10L, 20L).toDF("k"), dir, Seq("k"))
    FileManifest.writeThrough(Seq(100L).toDF("k"), dir, Seq("k"))
    assert(changes(dir, 1, 2) === Seq((10L, "insert"), (20L, "insert")))
    assert(changes(dir, 2, 3) === Seq((100L, "insert")))
    assert(changes(dir, 1, 3) ===
      Seq((10L, "insert"), (20L, "insert"), (100L, "insert")))
  }

  test("delete surgery: carried rows net out, only deleted rows surface") {
    import spark.implicits._
    val dir = freshDir("delete")
    // 2 range files: [1..50], [51..100]; delete [10..20] rewrites only
    // the first file — its ~40 carried rows ride into the new file and
    // MUST vanish in the row-level netting
    FileManifest.writeThrough(
      (1L to 100L).toDF("k").repartitionByRange(2, col("k")),
      dir, Seq("k"), mode = "overwrite")
    FileManifest.deleteRange(spark, dir, "k", lit(10L), lit(20L), Seq("k"))
    assert(changes(dir, 1, 2) === (10L to 20L).map((_, "delete")))
  }

  test("keyed merge: update = delete-old + insert-new, insert = insert only") {
    import spark.implicits._
    val dir = freshDir("merge")
    FileManifest.writeThrough(
      (1L to 40L).map(k => (k, k * 2L)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      dir, Seq("k"), mode = "overwrite")
    FileManifest.mergeKeys(spark, dir,
      Seq((7L, -7L), (200L, -200L)).toDF("k", "v"), "k", Seq("k"))
    val ch = FileManifest.changesBetween(spark, dir, 1, 2)
      .select("k", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(ch === Seq((7L, -7L, "insert"), (7L, 14L, "delete"),
      (200L, -200L, "insert")))
  }

  test("incremental view maintenance from the feed equals recompute") {
    import spark.implicits._
    val dir = freshDir("ivm")
    FileManifest.writeThrough(
      (1L to 30L).map(k => (k, k % 5)).toDF("k", "v")
        .repartitionByRange(3, col("k")),
      dir, Seq("k"), mode = "overwrite")
    val mv1 = FileManifest.readAsOf(spark, dir, 1L)
      .groupBy("v").agg(count(lit(1)).as("n"), sum("k").as("ksum"))
      .transform(graft.Materialize.checkpoint)
    FileManifest.deleteRange(spark, dir, "k", lit(5L), lit(10L), Seq("k"))
    FileManifest.mergeKeys(spark, dir,
      Seq((12L, 99L), (100L, 99L)).toDF("k", "v"), "k", Seq("k"))
    val delta = FileManifest.changesBetween(spark, dir, 1L, 3L)
      .select(col("v"),
        when(col("change_type") === "insert", lit(1L)).otherwise(lit(-1L)).as("sgn"),
        col("k"))
      .groupBy("v").agg(sum("sgn").as("n"), sum(col("sgn") * col("k")).as("ksum"))
    val maintained = mv1.unionByName(delta)
      .groupBy("v").agg(sum("n").as("n"), sum("ksum").as("ksum"))
      .filter(col("n") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val recomputed = graft.sources.ManifestFileIndex.read(spark, dir)
      .groupBy("v").agg(count(lit(1)).as("n"), sum("k").as("ksum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(maintained === recomputed,
      "view maintained from the change feed diverged from recompute")
  }

  test("a replayed upsert batch nets to an EMPTY feed (q171 replay safety)") {
    import spark.implicits._
    val dir = freshDir("replay")
    FileManifest.writeThrough(
      (1L to 30L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val batch = Seq((7L, -7L), (100L, -100L)).toDF("k", "v")
    FileManifest.mergeKeys(spark, dir, batch, "k", Seq("k"),
      bloomCols = Seq("k"))
    // replay: keyed replacement is idempotent, so the re-merge's
    // rewritten files carry row-identical content — the multiset EXCEPTs
    // must cancel everything, which is exactly what makes a
    // version-keyed downstream view recover correctly after a crash
    FileManifest.mergeKeys(spark, dir, batch, "k", Seq("k"),
      bloomCols = Seq("k"))
    val vs = FileManifest.versions(spark, dir)
    assert(FileManifest.changesBetween(spark, dir, vs.init.last, vs.last)
      .count() === 0L, "replayed batch leaked row-level changes")
  }

  test("inverted pair and vacuumed versions fail loud") {
    import spark.implicits._
    val dir = freshDir("fail")
    FileManifest.writeThrough(Seq(1L).toDF("k"), dir, Seq("k"), mode = "overwrite")
    FileManifest.writeThrough(Seq(2L).toDF("k"), dir, Seq("k"))
    intercept[IllegalArgumentException] {
      FileManifest.changesBetween(spark, dir, 2, 2)
    }
    FileManifest.vacuum(spark, dir, graceMs = 0L, keepVersions = 1)
    val e = intercept[IllegalArgumentException] {
      FileManifest.changesBetween(spark, dir, 1, 2)
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("update pairing relabels 1:1 key pairs, keeps ambiguous ones primitive") {
    import spark.implicits._
    val dir = freshDir("pair")
    // key 5 appears TWICE at v1 (a doubled key — deleteRange tolerates
    // duplicates even though mergeKeys refuses them in a batch)
    FileManifest.writeThrough(
      Seq((1L, 10L), (2L, 20L), (5L, 50L), (5L, 51L)).toDF("k", "v")
        .repartition(1),
      dir, Seq("k"), mode = "overwrite")
    // v2: both copies of key 5 deleted, plus key 2
    FileManifest.deleteRange(spark, dir, "k", lit(2L), lit(5L), Seq("k"))
    // v3: key 5 re-inserted once, key 1 updated, key 9 brand-new
    FileManifest.mergeKeys(spark, dir,
      Seq((5L, -5L), (1L, -1L), (9L, -9L)).toDF("k", "v"), "k", Seq("k"))
    val feed = FileManifest.changesBetweenKeyed(spark, dir, 1L, 3L, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._3, t._1, t._2)).toSeq
    assert(feed === Seq(
      (2L, 20L, "delete"), // pure delete
      (5L, 50L, "delete"), (5L, 51L, "delete"), // 2 del + 1 ins: ambiguous
      (5L, -5L, "insert"), (9L, -9L, "insert"), // re-insert + brand-new
      (1L, 10L, "update_preimage"), // exactly one del + one ins: paired
      (1L, -1L, "update_postimage")
    ).sortBy(t => (t._3, t._1, t._2)))
  }

  test("CDF across OPTIMIZE skips the reorg hop — zero data I/O") {
    import spark.implicits._
    val dir = freshDir("reorg")
    FileManifest.writeThrough((1L to 100L).toDF("k").repartition(4),
      dir, Seq("k"), mode = "overwrite") // v1: 4 files
    FileManifest.optimizeTable(spark, dir, Seq("k"),
      targetRowsPerFile = 50L) // v2: pure reorganization, net zero
    // the pure-reorg span plans NO file scan at all (Delta's
    // dataChange=false skip): the feed is an empty LocalRelation, not
    // a read-both-sides-and-net-to-zero double table scan
    val feed = FileManifest.changesBetween(spark, dir, 1L, 2L)
    assert(feed.inputFiles.isEmpty,
      s"pure-reorg span must plan no file scan, read ${feed.inputFiles.mkString(",")}")
    assert(feed.count() === 0L)
    assert(feed.columns.toSet === Set("k", "change_type"))
    // real changes on BOTH sides of an optimize compose exactly, and
    // the optimize's rewritten-file churn stays unread: v3 appends,
    // v4 optimizes (rewrites everything), v5 deletes
    FileManifest.writeThrough(Seq(200L).toDF("k"), dir, Seq("k")) // v3
    FileManifest.optimizeTable(spark, dir, Seq("k"),
      targetRowsPerFile = 200L) // v4
    FileManifest.deleteRange(spark, dir, "k", lit(1L), lit(5L), Seq("k")) // v5
    val span = FileManifest.changesBetween(spark, dir, 1L, 5L)
    val got = span.select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got ===
      ((1L to 5L).map((_, "delete")) :+ (200L -> "insert")).sorted)
    // v1's original files are carried unchanged into v3 and the hop
    // 3→4 is skipped, so none of them is ever opened (compare by
    // part-file name: inputFiles and manifest entries differ in URI
    // encoding, and a frame's inputFiles over a directory would list
    // everything — the v1 manifest is the exact membership)
    val v1Names = spark.read.parquet(ManifestDir(dir, 1L))
      .select("file").collect().map(_.getString(0).split('/').last).toSet
    val spanNames = span.inputFiles.map(_.split('/').last).toSet
    assert(spanNames.intersect(v1Names).isEmpty,
      "decomposed span must not open files the skipped reorg hop rewrote")
  }
}
