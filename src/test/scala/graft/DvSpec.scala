package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeletionVectors, FileManifest, ManifestFileIndex}

/** Deletion vectors (q175/q176): row-level deletes land as per-file
  * position sidecars in the manifest — no data-file rewrite — and every
  * read path (current, as-of, pruned, point-lookup, CDF) anti-filters
  * them; a file past the dead-fraction threshold rewrites instead;
  * purge materializes the deletes and returns reads to the fast path.
  */
class DvSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/$name"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def dataFiles(dir: String): Set[String] = {
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.listStatus(p).iterator
      .filterNot(s => s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSet
  }

  // ---- byte format ---------------------------------------------------------

  test("serialize/contains/merge: sorted-int encoding round-trips") {
    val dv = DeletionVectors.serialize(Array(7L, 3L, 3L, 0L, 1999999L))
    assert(DeletionVectors.cardinality(dv) === 4) // dup collapsed
    assert(DeletionVectors.contains(dv, 0L))
    assert(DeletionVectors.contains(dv, 3L))
    assert(DeletionVectors.contains(dv, 7L))
    assert(DeletionVectors.contains(dv, 1999999L))
    assert(!DeletionVectors.contains(dv, 4L))
    assert(!DeletionVectors.contains(dv, -1L))
    assert(!DeletionVectors.contains(dv, Long.MaxValue))
    assert(!DeletionVectors.contains(null, 3L))
    assert(!DeletionVectors.contains(Array.emptyByteArray, 3L))

    val merged = DeletionVectors.merge(
      DeletionVectors.serialize(Array(1L, 5L, 9L)),
      DeletionVectors.serialize(Array(5L, 2L, 10L)))
    assert(DeletionVectors.cardinality(merged) === 5)
    Seq(1L, 2L, 5L, 9L, 10L).foreach(p =>
      assert(DeletionVectors.contains(merged, p), s"missing $p"))
    assert(DeletionVectors.merge(null, null).isEmpty)
    assert(DeletionVectors.cardinality(
      DeletionVectors.merge(null, DeletionVectors.serialize(Array(4L)))) === 1)

    intercept[IllegalArgumentException] {
      DeletionVectors.serialize(Array(-1L))
    }
    intercept[IllegalArgumentException] {
      DeletionVectors.serialize(Array(Int.MaxValue.toLong + 1))
    }
  }

  // ---- DV delete -----------------------------------------------------------

  test("dv delete: no data-file rewrite; every read path drops the rows") {
    val dir = freshDir("dv_basic")
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val filesBefore = dataFiles(dir)

    val (dvN, rwN, carriedN) = FileManifest.deleteRangeDV(
      spark, dir, "k", lit(100L), lit(200L), Seq("k"), bloomCols = Seq("k"))
    assert(dvN === 1, s"expected 1 DV-marked file, got $dvN")
    assert(rwN === 0)
    assert(carriedN === 3)
    // THE point of DVs: the data files are untouched
    assert(dataFiles(dir) === filesBefore)

    val m = spark.read.parquet(ManifestDir(spark, dir))
    assert(m.columns.contains("dv") && m.columns.contains("n_del"))
    val dvRow = m.filter(col("dv").isNotNull).collect()
    assert(dvRow.length === 1)
    assert(dvRow.head.getAs[Long]("n_del") === 101L)
    assert(DeletionVectors.cardinality(dvRow.head.getAs[Array[Byte]]("dv")) === 101)

    // current read
    val cur = ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 4000L - 101L)
    assert(cur.filter(col("k").between(100L, 200L)).count() === 0L)
    assert(cur.agg(sum("k")).head().getLong(0) ===
      (0L until 4000L).filterNot(k => k >= 100 && k <= 200).sum)
    // pruned read (explicit manifest route)
    val (pruned, _, _) = FileManifest.readPruned(
      spark, dir, "k", lit(0L), lit(999L))
    assert(pruned.count() === 1000L - 101L)
    // point lookup through the bloom sidecar: a DV-dead key is gone
    val (pt, _, _) = FileManifest.readPointLookup(spark, dir, "k", Seq(150L, 250L))
    assert(pt.select("k").collect().map(_.getLong(0)).toSet === Set(250L))
    // as-of: the pre-delete snapshot still has everything
    val vs = FileManifest.versions(spark, dir)
    assert(FileManifest.readAsOf(spark, dir, vs.init.last).count() === 4000L)
    // as-of of the DV version applies the DV
    assert(FileManifest.readAsOf(spark, dir, vs.last).count() === 4000L - 101L)
  }

  test("dv deletes merge across calls and are idempotent") {
    val dir = freshDir("dv_merge")
    val df = spark.range(1000L).select(col("id").as("k"))
    FileManifest.writeThrough(df.repartitionByRange(2, col("k")), dir,
      Seq("k"), mode = "overwrite")
    val (d1, r1, _) = FileManifest.deleteRangeDV(
      spark, dir, "k", lit(10L), lit(19L), Seq("k"))
    assert((d1, r1) === (1, 0))
    // overlapping second delete: [15, 24] — 5 rows already dead
    val (d2, r2, _) = FileManifest.deleteRangeDV(
      spark, dir, "k", lit(15L), lit(24L), Seq("k"))
    assert((d2, r2) === (1, 0))
    val m = spark.read.parquet(ManifestDir(spark, dir))
    val dvRow = m.filter(col("dv").isNotNull).collect()
    assert(dvRow.length === 1)
    assert(dvRow.head.getAs[Long]("n_del") === 15L) // 10 + 10 - 5 overlap
    assert(DeletionVectors.cardinality(dvRow.head.getAs[Array[Byte]]("dv")) === 15)
    assert(ManifestFileIndex.read(spark, dir).count() === 985L)
    // zero-match delete: no version bump, table untouched
    val vBefore = FileManifest.versions(spark, dir).last
    val (d3, r3, _) = FileManifest.deleteRangeDV(
      spark, dir, "k", lit(10L), lit(24L), Seq("k"))
    assert((d3, r3) === (0, 0))
    assert(FileManifest.versions(spark, dir).last === vBefore)
  }

  test("threshold: a mostly-dead file rewrites; a lightly-hit file gets a DV") {
    val dir = freshDir("dv_threshold")
    // 2 files: k=[0,1000), k=[1000,2000)
    val df = spark.range(2000L).select(col("id").as("k"))
    FileManifest.writeThrough(df.repartitionByRange(2, col("k")), dir,
      Seq("k"), mode = "overwrite")
    val filesBefore = dataFiles(dir)
    // delete [200, 1050]: file 1 loses 800/1000 (> 0.5 → rewrite),
    // file 2 loses 51/1000 (DV)
    val (dvN, rwN, _) = FileManifest.deleteRangeDV(
      spark, dir, "k", lit(200L), lit(1050L), Seq("k"))
    assert(dvN === 1, s"dv=$dvN")
    assert(rwN === 1, s"rw=$rwN")
    // MVCC: the pre-rewrite file STAYS on disk for as-of readers; the
    // current MANIFEST is what drops it — exactly one original file
    // (the DV'd one) remains a member, plus the rewritten survivor
    assert(dataFiles(dir).size === filesBefore.size + 1)
    val members = spark.read.parquet(ManifestDir(spark, dir))
      .select("file").collect()
      .map(r => new Path(r.getString(0)).getName).toSet
    assert(members.size === 2)
    assert(members.intersect(filesBefore).size === 1)
    val cur = ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 2000L - 851L)
    assert(cur.filter(col("k").between(200L, 1050L)).count() === 0L)
    // the rewritten file's manifest entry has no DV; the DV'd one does
    val m = spark.read.parquet(ManifestDir(spark, dir))
    assert(m.filter(col("dv").isNotNull).count() === 1L)
  }

  // ---- CDF across DV versions ----------------------------------------------

  test("change feed: a DV delete emits exactly the dead rows; purge nets zero") {
    val dir = freshDir("dv_cdf")
    val df = spark.range(1000L).select(col("id").as("k"))
    FileManifest.writeThrough(df.repartitionByRange(2, col("k")), dir,
      Seq("k"), mode = "overwrite")
    val v1 = FileManifest.versions(spark, dir).last
    FileManifest.deleteRangeDV(spark, dir, "k", lit(100L), lit(149L), Seq("k"))
    val v2 = FileManifest.versions(spark, dir).last
    val cdf = FileManifest.changesBetween(spark, dir, v1, v2)
    assert(cdf.filter(col("change_type") =!= "delete").count() === 0L)
    assert(cdf.count() === 50L)
    assert(cdf.agg(sum("k")).head().getLong(0) === (100L to 149L).sum)

    // purge: physical rewrite, logical no-op
    val purged = FileManifest.purgeDv(spark, dir, Seq("k"))
    assert(purged === 1)
    val v3 = FileManifest.versions(spark, dir).last
    assert(FileManifest.changesBetween(spark, dir, v2, v3).count() === 0L)
    // manifest is back to the fast path: no dv columns at all
    val m = spark.read.parquet(ManifestDir(spark, dir))
    assert(!m.columns.contains("dv") && !m.columns.contains("n_del"))
    assert(ManifestFileIndex.read(spark, dir).count() === 950L)
    // pre-purge versions still read correctly
    assert(FileManifest.readAsOf(spark, dir, v2).count() === 950L)
    assert(FileManifest.readAsOf(spark, dir, v1).count() === 1000L)

    // the COMPLIANCE purge point: vacuum to current retention reaps the
    // pre-purge file — only now do the DV-deleted bytes leave disk
    // (purge rewrote them out; the dv'd original served as-of readers)
    val prePurgeFiles = dataFiles(dir)
    FileManifest.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val postVacuum = dataFiles(dir)
    assert(postVacuum.size < prePurgeFiles.size,
      s"vacuum reaped nothing: $prePurgeFiles")
    intercept[Exception] { FileManifest.readAsOf(spark, dir, v2).count() }
    assert(ManifestFileIndex.read(spark, dir).count() === 950L)
  }

  // ---- keyed DV delete -------------------------------------------------------

  test("keyed dv delete: bloom-pruned candidates, only touched files marked") {
    val dir = freshDir("dv_keys")
    // 4 range-clustered files over k = 0..3999, bloom on k
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val filesBefore = dataFiles(dir)

    // two keys in ONE file's range: bounds/bloom pruning must mark only it
    val (d1, r1, c1) = FileManifest.deleteKeysDV(
      spark, dir, "k", Seq(100L, 150L, 150L), Seq("k"), bloomCols = Seq("k"))
    assert((d1, r1, c1) === (1, 0, 3))
    assert(dataFiles(dir) === filesBefore) // no data file written

    // a spread batch: every file holding a key gets its own DV
    val (d2, r2, _) = FileManifest.deleteKeysDV(
      spark, dir, "k", Seq(5L, 1005L, 2005L, 3005L), Seq("k"),
      bloomCols = Seq("k"))
    assert((d2, r2) === (4, 0))

    val cur = ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 4000L - 6L)
    assert(cur.filter(col("k").isin(5L, 100L, 150L, 1005L, 2005L, 3005L))
      .count() === 0L)
    // point lookup through the bloom sidecar agrees
    val (pt, _, _) = FileManifest.readPointLookup(spark, dir, "k",
      Seq(150L, 151L))
    assert(pt.select("k").collect().map(_.getLong(0)).toSet === Set(151L))

    // absent keys: no version bump, nothing marked
    val vBefore = FileManifest.versions(spark, dir).last
    val (d3, r3, _) = FileManifest.deleteKeysDV(
      spark, dir, "k", Seq(99999L), Seq("k"), bloomCols = Seq("k"))
    assert((d3, r3) === (0, 0))
    assert(FileManifest.versions(spark, dir).last === vBefore)

    // non-integral keys fail loud (the mergeKeys soundness rule)
    val e = intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(spark, dir, "no_such", Seq(1L), Seq("k"))
    }
    assert(e.getMessage.contains("no_such"))
  }

  // ---- merge-on-read ---------------------------------------------------------

  test("merge-on-read: old rows DV'd, batch appended, no candidate rewritten") {
    import spark.implicits._
    val dir = freshDir("dv_mor")
    val df = spark.range(4000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(4, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    val filesBefore = dataFiles(dir)

    // 2 updates in one file's range + 1 brand-new key
    val updates = Seq((100L, -1L), (150L, -1L), (9000L, -2L)).toDF("k", "v")
    val (dvN, rwN, carN) = FileManifest.mergeKeysDV(
      spark, dir, updates, "k", Seq("k"), bloomCols = Seq("k"))
    assert((dvN, rwN, carN) === (1, 0, 3))
    // no candidate rewritten; the batch landed as fresh file(s)
    val filesAfter = dataFiles(dir)
    assert(filesBefore.subsetOf(filesAfter))
    assert(filesAfter.size > filesBefore.size)

    val cur = ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 4001L)
    assert(cur.filter(col("k") === 100L).select("v").head().getLong(0) === -1L)
    assert(cur.filter(col("k") === 150L).select("v").head().getLong(0) === -1L)
    assert(cur.filter(col("k") === 9000L).count() === 1L)
    assert(cur.filter(col("k") === 101L).select("v").head().getLong(0) === 101L % 7)

    // the CDF pairs each matched key's delete-old/insert-new as an update
    val vs = FileManifest.versions(spark, dir)
    val cdf = FileManifest.changesBetweenKeyed(
      spark, dir, vs.init.last, vs.last, "k")
    val byType = cdf.groupBy("change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 2L, "update_postimage" -> 2L,
      "insert" -> 1L))

    // re-merge the same batch: replay-idempotent read state (the old
    // appended rows DV out, the new copy lands — counts stable)
    FileManifest.mergeKeysDV(spark, dir, updates, "k", Seq("k"),
      bloomCols = Seq("k"))
    val cur2 = ManifestFileIndex.read(spark, dir)
    assert(cur2.count() === 4001L)
    assert(cur2.filter(col("k") === 100L).count() === 1L)
    assert(FileManifest.changesBetween(
      spark, dir, vs.last, FileManifest.versions(spark, dir).last).count() === 0L)
  }

  // ---- optimize + metadata count ----------------------------------------------

  test("optimizeTable retires small-file and DV debt; fastCount is metadata-only") {
    val dir = freshDir("dv_optimize")
    val df = spark.range(8000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(16, col("k")), dir,
      Seq("k"), mode = "overwrite")
    FileManifest.deleteRangeDV(spark, dir, "k", lit(100L), lit(199L), Seq("k"))
    assert(FileManifest.fastCount(spark, dir) === 7900L)

    val written = FileManifest.optimizeTable(spark, dir, Seq("k"),
      targetRowsPerFile = 4000L)
    assert(written === 2, s"expected 2 right-sized files, wrote $written")
    val m = spark.read.parquet(ManifestDir(spark, dir))
    assert(m.count() === 2L) // 16 small files + 1 DV → 2 files
    assert(!m.columns.contains("dv")) // DV debt retired with the rewrite
    val cur = ManifestFileIndex.read(spark, dir)
    assert(cur.count() === 7900L)
    assert(cur.filter(col("k").between(100L, 199L)).count() === 0L)
    assert(FileManifest.fastCount(spark, dir) === 7900L)
    // CDC-invisible: the optimize span nets to zero
    val vs = FileManifest.versions(spark, dir)
    assert(FileManifest.changesBetween(spark, dir, vs.init.last, vs.last)
      .count() === 0L)
  }

  // ---- snapshot isolation + batch-schema guard ----------------------------------

  test("a held DV-read frame survives a rival swap at its pinned version") {
    val dir = freshDir("dv_held_frame")
    val df = spark.range(2000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(2, col("k")), dir,
      Seq("k"), mode = "overwrite")
    FileManifest.deleteRangeDV(spark, dir, "k", lit(10L), lit(19L), Seq("k"))
    // plan a current read of the DV table, HOLD it across a rival commit
    val held = ManifestFileIndex.read(spark, dir)
    FileManifest.deleteRangeDV(spark, dir, "k", lit(100L), lit(109L), Seq("k"))
    // the held frame answers at ITS version (pre-second-delete), not the
    // new one
    assert(held.count() === 1990L)
    assert(ManifestFileIndex.read(spark, dir).count() === 1980L)
  }

  test("merge-on-read refuses a batch missing table columns") {
    import spark.implicits._
    val dir = freshDir("dv_mor_schema")
    val df = spark.range(100L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartition(1), dir, Seq("k"),
      mode = "overwrite")
    // the batch lacks `v`: appending it verbatim would make merged keys
    // silently read v = NULL — must fail loud like the CoW twin
    val e = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dir,
        Seq(5L).toDF("k"), "k", Seq("k"))
    }
    assert(e.getMessage.contains("lacks table column"))
    // extra batch columns are evolution — allowed
    FileManifest.mergeKeysDV(spark, dir,
      Seq((5L, -1L, "x")).toDF("k", "v", "w"), "k", Seq("k"))
    val cur = ManifestFileIndex.read(spark, dir,
      schema = Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType)))))
    assert(cur.count() === 100L)
    assert(cur.filter(col("k") === 5L).select("v").head().getLong(0) === -1L)
  }

  // ---- history + flat-table guard ---------------------------------------------

  test("history records each version's verb; surgeries refuse partitioned trees") {
    import spark.implicits._
    val dir = freshDir("dv_history")
    val df = spark.range(2000L).select(col("id").as("k"), (col("id") % 7).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(2, col("k")), dir,
      Seq("k"), mode = "overwrite")
    FileManifest.deleteRangeDV(spark, dir, "k", lit(10L), lit(19L), Seq("k"))
    FileManifest.purgeDv(spark, dir, Seq("k"))
    FileManifest.optimizeTable(spark, dir, Seq("k"), targetRowsPerFile = 4000L)
    val h = FileManifest.history(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(h.map(_._2).toSeq === Seq("build", "dv-delete", "purge", "optimize"))
    assert(h.map(_._3).toSeq === Seq(2000L, 1990L, 1990L, 1990L))

    // a hive-partitioned tree must fail LOUD on any root-level surgery
    val pdir = freshDir("dv_part_guard")
    df.withColumn("p", col("k") % 2).write.partitionBy("p").parquet(pdir)
    FileManifest.build(spark, pdir, Seq("k"))
    val e = intercept[IllegalArgumentException] {
      FileManifest.deleteRange(spark, pdir, "k", lit(0L), lit(10L), Seq("k"))
    }
    assert(e.getMessage.contains("FLAT"))
    intercept[IllegalArgumentException] {
      FileManifest.deleteRangeDV(spark, pdir, "k", lit(0L), lit(10L), Seq("k"))
    }
    // a keyed DV verb reads the layout from the manifest and takes the
    // partitioned path on this tree: key 1 moves from p=1 to p=0
    FileManifest.mergeKeysDV(spark, pdir, Seq((1L, 1L, 0L)).toDF("k", "v", "p"),
      "k", Seq("k"))
    val moved = ManifestFileIndex.read(spark, pdir).filter(col("k") === 1L)
      .select(col("v"), col("p").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(moved.toSeq === Seq((1L, 0L)))
    assert(ManifestFileIndex.read(spark, pdir).count() === 2000L)
  }

  // ---- interop with the other surgeries --------------------------------------

  test("rebuild fails loud on live DVs; refresh and surgeries carry them") {
    val dir = freshDir("dv_interop")
    val df = spark.range(3000L).select(col("id").as("k"), (col("id") % 5).as("v"))
    FileManifest.writeThrough(df.repartitionByRange(3, col("k")), dir,
      Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    FileManifest.deleteRangeDV(spark, dir, "k", lit(0L), lit(49L),
      Seq("k"), bloomCols = Seq("k"))
    assert(ManifestFileIndex.read(spark, dir).count() === 2950L)

    // a from-scratch rebuild would resurrect the 50 dead rows — refuse
    val e = intercept[IllegalArgumentException] {
      FileManifest.build(spark, dir, Seq("k"))
    }
    assert(e.getMessage.contains("purgeDv"))

    // append-through refresh carries the DV
    FileManifest.writeThrough(
      spark.range(3000L, 3100L).select(col("id").as("k"), (col("id") % 5).as("v")),
      dir, Seq("k"), bloomCols = Seq("k"))
    assert(ManifestFileIndex.read(spark, dir).count() === 2950L + 100L)

    // rewrite-based deleteRange on a DV'd file must not resurrect:
    // delete [50, 99] via rewrite on the file already carrying dv[0,49]
    FileManifest.deleteRange(spark, dir, "k", lit(50L), lit(99L),
      Seq("k"), bloomCols = Seq("k"))
    val afterDel = ManifestFileIndex.read(spark, dir)
    assert(afterDel.count() === 3000L - 100L + 100L)
    assert(afterDel.filter(col("k") < 100L).count() === 0L)

    // mergeKeys on a table with DVs elsewhere: upsert into a clean range
    FileManifest.deleteRangeDV(spark, dir, "k", lit(1000L), lit(1009L),
      Seq("k"), bloomCols = Seq("k"))
    import spark.implicits._
    val updates = Seq((2000L, 99L), (5000L, 99L)).toDF("k", "v")
    FileManifest.mergeKeys(spark, dir, updates, "k",
      Seq("k"), bloomCols = Seq("k"))
    val afterMerge = ManifestFileIndex.read(spark, dir)
    // 3000 - 100 (deleted <100) + 100 (append) - 10 (dv'd 1000s) + 1 new key
    assert(afterMerge.count() === 2991L)
    assert(afterMerge.filter(col("k").between(1000L, 1009L)).count() === 0L)
    assert(afterMerge.filter(col("k") === 2000L).select("v").head().getLong(0) === 99L)
    assert(afterMerge.filter(col("k") === 5000L).count() === 1L)
  }
}
