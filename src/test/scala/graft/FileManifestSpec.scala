package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** Pins the file-level min/max manifest: range reads skip every file
  * whose bounds can't intersect, never lose a qualifying row, keep
  * unknown-bounds files, and read only what the current version names —
  * a raw write into the tree stays invisible until `build` adopts it or
  * `vacuum` reaps it.
  */
class FileManifestSpec extends AnyFunSuite with SparkSpec {

  test("range read skips non-intersecting files and equals the full scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    // range-laid-out: 8 files with disjoint ts ranges (0-99, 100-199, …)
    (0 until 8).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v${f}_$i"))
        .toDF("ts", "payload").coalesce(1).write.mode("append").parquet(dir)
    }
    FileManifest.build(spark, dir, Seq("ts"))

    val (df, kept, total) = FileManifest.readPruned(spark, dir, "ts",
      lit(250L), lit(420L))
    assert(total == 8)
    assert(kept == 3, s"expected files 2,3,4 kept, got $kept of $total")
    val expect = spark.read.parquet(dir)
      .filter(col("ts") >= 250 && col("ts") <= 420)
      .select("ts", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = df.select("ts", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expect && got.size == 171)

    // an empty range keeps zero files but stays schema-stable
    val (none, k0, _) = FileManifest.readPruned(spark, dir, "ts",
      lit(5000L), lit(6000L))
    assert(k0 == 0 && none.count() == 0 && none.columns.toSeq == Seq("ts", "payload"))
  }

  test("files with unknown (all-NULL) bounds are never skipped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_null").toString
    Seq((1L, "a"), (2L, "b")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((null.asInstanceOf[java.lang.Long], "n1"),
      (null.asInstanceOf[java.lang.Long], "n2")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("ts"))
    val (df, kept, total) = FileManifest.readPruned(spark, dir, "ts",
      lit(1L), lit(1L))
    assert(total == 2 && kept == 2, "the unknown-bounds file must be kept")
    // …but NULL ts rows still never satisfy the range predicate
    assert(df.select("payload").collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("raw writes in partition subdirs: invisible, build adopts, vacuum reaps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_part").toString
    Seq((1L, "a")).toDF("ts", "p").write.partitionBy("p").mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("ts"))
    // a file lands in a NEW partition subdir after the build, outside
    // the version log: no read sees it
    Seq((9L, "b")).toDF("ts", "p").write.partitionBy("p").mode("append").parquet(dir)
    val (raw, _, rawTotal) =
      FileManifest.readPruned(spark, dir, "ts", lit(0L), lit(100L))
    assert(rawTotal == 1 && raw.select("ts").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // build lists the tree, partition subdirs included, and adopts it
    FileManifest.build(spark, dir, Seq("ts"))
    val (df, kept, total) = FileManifest.readPruned(spark, dir, "ts",
      lit(5L), lit(100L))
    assert(total == 2 && kept == 1 && df.select("ts").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // schema parity with the full scan: the partition column survives
    // the leaf-file pruned read (basePath), so group-bys on it resolve
    assert(df.columns.toSet == spark.read.parquet(dir).columns.toSet)
    assert(df.select("p").collect().map(_.getString(0)).toSeq == Seq("b"))
    // vacuum reaps a raw write in a partition subdir no version names
    Seq((7L, "c")).toDF("ts", "p").write.partitionBy("p").mode("append").parquet(dir)
    val reaped = FileManifest.vacuum(spark, dir, graceMs = 0L)
    assert(reaped.size == 1 && reaped.head.contains("/p=c/"), s"reaped $reaped")
    assert(FileManifest.fastCount(spark, dir) == 2L)
  }

  test("data dirs with URI-special characters (spaces) stay readable") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft manifest sp")
    val dir = base.toString
    Seq((1L, "a"), (2L, "b")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("ts"))
    // input_file_name() percent-encodes the space; the staleness compare
    // must reconcile that against the listing's literal form
    val (df, kept, total) = FileManifest.readPruned(spark, dir, "ts",
      lit(0L), lit(10L))
    assert(total == 1 && kept == 1 && df.count() == 2)
  }

  test("bloom point lookup: skips files, equals the full scan, no false negatives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_bloom").toString
    // hash-distributed layout: every file's [min,max] spans ~the whole id
    // range, so min/max bounds prune NOTHING for a point probe — the
    // exact scenario the sidecar exists for
    val ids = (0L until 1600L)
    ids.map(i => (i, s"p$i")).toDF("id", "payload")
      .repartition(16, col("id")).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("id"), Seq("id"),
      expectedPerFile = 1024, fpp = 0.01)

    val keys = Seq(7L, 555L, 1201L, 9999L) // 9999 absent everywhere
    val (df, kept, total) = FileManifest.readPointLookup(spark, dir, "id", keys)
    assert(total == 16)
    // 3 present keys live in ≤3 files; fpp 1% over 16 files adds ~0 FPs —
    // allow a little slack but require real skipping
    assert(kept <= 6, s"bloom pruned nothing: kept $kept of $total")
    val got = df.select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((7L, "p7"), (555L, "p555"), (1201L, "p1201")))

    // min/max alone keeps every file for the same probe (the contrast)
    val (_, keptRange, _) = FileManifest.readPruned(spark, dir, "id",
      lit(555L), lit(555L))
    assert(keptRange == 16, "hash layout should defeat min/max bounds")

    // no false negatives: every id individually findable through the sidecar
    val probe = Seq(0L, 1L, 255L, 256L, 800L, 1599L)
    probe.foreach { k =>
      val (one, _, _) = FileManifest.readPointLookup(spark, dir, "id", Seq(k))
      assert(one.count() == 1, s"bloom lost id $k")
    }
  }

  test("bloom point lookup reads only the version's files and requires the sidecar") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_bloom2").toString
    Seq((1L, "a")).toDF("id", "payload").coalesce(1).write.mode("append").parquet(dir)
    // no sidecar built → loud refusal, not a silent full keep
    FileManifest.build(spark, dir, Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      FileManifest.readPointLookup(spark, dir, "id", Seq(1L))
    }
    assert(e1.getMessage.contains("bloom sidecar"))
    FileManifest.build(spark, dir, Seq("id"), Seq("id"))
    // a raw append no version names is invisible to the probe
    Seq((2L, "late")).toDF("id", "payload").coalesce(1).write.mode("append").parquet(dir)
    val (none, _, total0) = FileManifest.readPointLookup(spark, dir, "id", Seq(2L))
    assert(total0 == 1 && none.count() == 0)
    // build adopts it
    FileManifest.build(spark, dir, Seq("id"), Seq("id"))
    val (df, kept, total) = FileManifest.readPointLookup(spark, dir, "id", Seq(2L))
    assert(total == 2 && kept >= 1 &&
      df.select("payload").collect().map(_.getString(0)).toSeq == Seq("late"))
  }

  test("point lookup guards the bloom ENCODING: string sidecars refuse long probes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_strbloom").toString
    val ids = (0 until 1600).map(i => (f"doc_$i%06d", i.toLong))
    ids.toDF("doc_id", "v").repartition(16, col("doc_id"))
      .write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("doc_id"), Seq("doc_id"),
      expectedPerFile = 1024, fpp = 0.01)
    // the long probe on a string-built sidecar would hash different bytes
    // than the build side stored — a silent false-negative machine. It
    // must fail loud, naming the key type the column takes.
    val e = intercept[IllegalArgumentException] {
      FileManifest.readPointLookup(spark, dir, "doc_id", Seq(7L))
    }
    assert(e.getMessage.contains("pass string keys"))
    // string keys probe the build encoding: real skipping, no false
    // negatives, exact rows
    val (df, kept, total) = FileManifest.readPointLookup(
      spark, dir, "doc_id", Seq("doc_id_absent", "doc_000007", "doc_001201"))
    assert(total == 16 && kept <= 6, s"string bloom pruned nothing: $kept/$total")
    assert(df.select("v").collect().map(_.getLong(0)).toSet == Set(7L, 1201L))
    Seq(0, 1, 255, 1599).foreach { i =>
      val (one, _, _) = FileManifest.readPointLookup(
        spark, dir, "doc_id", Seq(f"doc_$i%06d"))
      assert(one.count() == 1, s"string bloom lost doc_$i")
    }
    // and the mirror-image misuse fails loud too
    val dirL = java.nio.file.Files.createTempDirectory("graft_manifest_strbloom2").toString
    Seq((1L, "a")).toDF("id", "p").coalesce(1).write.mode("append").parquet(dirL)
    FileManifest.build(spark, dirL, Seq("id"), Seq("id"))
    val e2 = intercept[IllegalArgumentException] {
      FileManifest.readPointLookup(spark, dirL, "id", Seq("1"))
    }
    assert(e2.getMessage.contains("pass long keys"))
  }

  test("publishVia rejects the reserved reorg opNames (CDC invariance is asserted, not free)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_opname").toString
    FileManifest.writeThrough((1L to 10L).toDF("k"), dir, Seq("k"),
      mode = "overwrite")
    // a data-changing publish stamped 'optimize' would vanish from every
    // changesBetween span (the skip treats the stamp as proof of
    // multiset-invariance) — the public entry must refuse the stamp
    Seq("optimize", "purge").foreach { op =>
      val e = intercept[IllegalArgumentException] {
        FileManifest.publishVia((11L to 20L).toDF("k"),
          s"${dir}_stg", dir, Seq("k"), opName = op)
      }
      assert(e.getMessage.contains("reserved"), s"opName $op must be rejected")
    }
    // any non-reorg opName still publishes
    FileManifest.publishVia((11L to 20L).toDF("k"),
      s"${dir}_stg", dir, Seq("k"), opName = "rewrite")
    assert(FileManifest.fastCount(spark, dir) == 10L)
  }

  test("a file of only NULL keys yields an empty filter every probe skips soundly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_bloom3").toString
    Seq((java.lang.Long.valueOf(5L), "a")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((null.asInstanceOf[java.lang.Long], "n")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("id"), Seq("id"))
    val (df, kept, total) = FileManifest.readPointLookup(spark, dir, "id", Seq(5L))
    // NULL never equals a point probe, so skipping the all-NULL file is exact
    assert(total == 2 && kept == 1)
    assert(df.select("payload").collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("writeThrough: append refreshes the manifest incrementally, no stale trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_wt").toString
    // initial land: 2 range files, manifest (+bloom) in the same call
    (0 until 200).map(i => (i.toLong, s"a$i")).toDF("ts", "payload")
      .repartitionByRange(2, col("ts"))
      .transform { d =>
        FileManifest.writeThrough(d, dir, Seq("ts"), Seq("ts")); d
      }
    val before = spark.read.parquet(ManifestDir(spark, dir))
      .collect().map(r => r.getString(r.fieldIndex("file")) ->
        r.getAs[Array[Byte]](r.fieldIndex("bloom_ts")).toSeq).toMap
    assert(before.size == 2)

    // append: one new file — the commit must carry the old entries
    // BYTE-IDENTICALLY (immutable files are never re-statted) and the
    // transparent index must read through with zero manual rebuilds
    FileManifest.writeThrough(
      (200 until 300).map(i => (i.toLong, s"b$i")).toDF("ts", "payload")
        .coalesce(1), dir, Seq("ts"), Seq("ts"))
    val after = spark.read.parquet(ManifestDir(spark, dir))
      .collect().map(r => r.getString(r.fieldIndex("file")) ->
        r.getAs[Array[Byte]](r.fieldIndex("bloom_ts")).toSeq).toMap
    assert(after.size == 3)
    before.foreach { case (f, bloom) =>
      assert(after(f) == bloom, s"carried entry for $f was re-statted or altered")
    }

    // range pruning live over all three files
    val (df, keptN, total) = FileManifest.readPruned(spark, dir, "ts",
      lit(250L), lit(260L))
    assert(total == 3 && keptN == 1)
    assert(df.count() == 11)
    // an append with different tracked columns is refused loud (no
    // half-schema manifest, no silent rebuild); build changes them
    val v = FileManifest.versions(spark, dir).max
    val e = intercept[IllegalArgumentException] {
      FileManifest.writeThrough(Seq((300L, "c")).toDF("ts", "payload"),
        dir, Seq("ts"), Nil)
    }
    assert(e.getMessage.contains("tracks"), e.getMessage)
    assert(FileManifest.versions(spark, dir).max == v)
    FileManifest.build(spark, dir, Seq("ts"), Nil)
    val rebuilt = spark.read.parquet(ManifestDir(spark, dir))
    assert(!rebuilt.columns.contains("bloom_ts") && rebuilt.count() == 3)
  }

  test("a raw append is invisible until build adopts it; vacuum reaps one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_stale").toString
    Seq((1L, "a")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("ts"))
    Seq((2L, "late")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    val (raw, _, rawTotal) = FileManifest.readPruned(spark, dir, "ts",
      lit(0L), lit(10L))
    assert(rawTotal == 1 && raw.count() == 1)
    assert(FileManifest.fastCount(spark, dir) == 1L)
    // build adopts the files already on disk
    FileManifest.build(spark, dir, Seq("ts"))
    val (df, kept, total) = FileManifest.readPruned(spark, dir, "ts",
      lit(0L), lit(10L))
    assert(total == 2 && kept == 2 && df.count() == 2)
    // vacuum reaps a raw append instead, and only it
    Seq((3L, "later")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(FileManifest.vacuum(spark, dir, graceMs = 0L).size == 1)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("manifest read of an absent table fails immediately, no swap backoff") {
    // versions are written once, so a read never waits out a rename
    // gap: a genuinely absent or unmanifested dir fails on the first
    // attempt (an old swap-era backoff took ~1.2s, so an under-1s
    // failure proves no retry loop ran).
    val t0 = System.nanoTime()
    intercept[org.apache.spark.sql.AnalysisException] {
      FileManifest.readPruned(spark,
        s"${sys.props("java.io.tmpdir")}/graft_io/spec/definitely_absent_table",
        "ts", lit(0L), lit(1L))
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs < 1000L,
      s"absent-table probe took ${elapsedMs}ms — the swap backoff ran")
  }
}
