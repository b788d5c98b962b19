package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** Pins the transparent manifest FileIndex: pushed conjuncts prune the
  * listing (measured at the index AND at the executed scan), results
  * stay exact, unknown bounds and untracked predicates never prune,
  * strict bounds relax conservatively, and a stale manifest fails at
  * construction.
  */
class ManifestFileIndexSpec extends AnyFunSuite with SparkSpec {

  private def mkDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi").toString
    (0 until 8).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v${f}_$i"))
        .toDF("ts", "payload").coalesce(1).write.mode("append").parquet(dir)
    }
    FileManifest.build(spark, dir, Seq("ts"))
    dir
  }

  private def ts = AttributeReference("ts", LongType)()

  test("listFiles prunes by pushed conjuncts; scan results are exact") {
    val dir = mkDir()
    val idx = new ManifestFileIndex(spark, dir)
    def kept(filters: org.apache.spark.sql.catalyst.expressions.Expression*): Int =
      idx.listFiles(Nil, filters).map(_.files.size).sum

    assert(kept() == 8) // no filters: everything
    assert(kept(GreaterThanOrEqual(ts, Literal(250L)),
      LessThanOrEqual(ts, Literal(420L))) == 3) // files 2,3,4
    assert(kept(EqualTo(ts, Literal(101L))) == 1) // point probe
    assert(kept(EqualTo(Literal(101L), ts)) == 1) // literal-on-left mirror
    assert(kept(GreaterThan(ts, Literal(699L))) == 2,
      "strict bound relaxes to inclusive: boundary file 6 (max=699) stays")
    assert(kept(IsNotNull(ts)) == 8) // non-range conjunct: no pruning
    // untracked attribute: contributes nothing
    val other = AttributeReference("payload", org.apache.spark.sql.types.StringType)()
    assert(kept(EqualTo(other, Literal(org.apache.spark.unsafe.types.UTF8String
      .fromString("v0_1"), org.apache.spark.sql.types.StringType))) == 8)

    // end-to-end: a PLAIN filter over the transparent read scans 3 files
    // and returns exactly the full scan's rows
    val df = ManifestFileIndex.read(spark, dir)
      .filter(col("ts") >= 250 && col("ts") <= 420)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = spark.read.parquet(dir)
      .filter(col("ts") >= 250 && col("ts") <= 420)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && got.size == 171)
    val scan = df.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head
    assert(scan.metrics("numFiles").value == 3,
      s"scan opened ${scan.metrics("numFiles").value} files, expected 3")
  }

  test("bounds Catalyst cannot hold as literals keep files, never crash planning") {
    // a pushed bound like > 1e45 (precision 46) or <= 1e-45 (scale 46)
    // exceeds DecimalType's 38-digit ceiling: building the pruning
    // literal would throw at listFiles time. The contract is the same
    // as any unknown bound — prove nothing, keep the file, let the
    // main filter decide — not a planning crash on a legal query.
    val dir = mkDir()
    val idx = new ManifestFileIndex(spark, dir)
    def kept(filters: org.apache.spark.sql.catalyst.expressions.Expression*): Int =
      idx.listFiles(Nil, filters).map(_.files.size).sum
    assert(kept(GreaterThan(ts, Literal(1.0e45))) == 8)
    assert(kept(LessThanOrEqual(ts, Literal(1.0e-45))) == 8)
  }

  test("equality conjuncts compose with the bloom sidecar under a hash layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_bloom").toString
    // hash-distributed: every file's [min,max] spans ~the whole id range,
    // so bounds alone keep all 16 — the sidecar must do the pruning
    (0L until 1600L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartition(16, col("id")).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("id"), Seq("id"),
      expectedPerFile = 1024, fpp = 0.01)
    val idx = new ManifestFileIndex(spark, dir)
    val id = AttributeReference("id", LongType)()
    val keptEq = idx.listFiles(Nil, Seq(EqualTo(id, Literal(555L))))
      .map(_.files.size).sum
    assert(keptEq <= 3, s"bloom membership pruned nothing: kept $keptEq of 16")
    // a pure range over the same layout can't prune (the contrast)
    val keptRange = idx.listFiles(Nil, Seq(GreaterThanOrEqual(id, Literal(555L)),
      LessThanOrEqual(id, Literal(556L)))).map(_.files.size).sum
    assert(keptRange == 16)
    // end-to-end through a PLAIN filter, row-exact incl. an absent key
    val df = ManifestFileIndex.read(spark, dir)
    assert(df.filter(col("id") === 555L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((555L, "p555")))
    assert(df.filter(col("id") === 99999L).count() == 0)
  }

  test("string bounds prune in STRING order, never via numeric parsing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_str").toString
    // one file with values {"9","10"}: string-ordered min="10", max="9" —
    // a NUMERIC comparison against these bounds would wrongly skip
    // `name = "10"` (10 > 9); the string-order disjointness test keeps
    // the file and the result stays exact
    Seq(("9", 1L), ("10", 2L)).toDF("name", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("name"))
    val got = ManifestFileIndex.read(spark, dir)
      .filter(col("name") === "10").collect()
    assert(got.length == 1 && got.head.getLong(1) == 2L,
      "string bounds must never be compared numerically")
  }

  test("string-tracked columns prune transparently: bounds windows + equality blooms") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_strprune").toString
    // 3 disjoint string-key files: a000..a099, b000.., c000..
    Seq("a", "b", "c").foreach { p =>
      (0 until 100).map(i => (f"$p$i%03d", p)).toDF("id", "grp")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    FileManifest.build(spark, dir, Seq("id"), Seq("id"))
    val idx = new ManifestFileIndex(spark, dir)
    val id = AttributeReference("id", org.apache.spark.sql.types.StringType)()
    def kept(f: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      idx.listFiles(Nil, Seq(f)).map(_.files.size).sum
    def slit(v: String) = Literal.create(v, org.apache.spark.sql.types.StringType)
    assert(kept(EqualTo(id, slit("b050"))) == 1, "equality opens one file")
    assert(kept(GreaterThanOrEqual(id, slit("c000"))) == 1, "range window")
    assert(kept(EqualTo(id, slit("b999"))) == 0, "bounds exclude absent key")
    // results stay exact through the transparent path
    val got = ManifestFileIndex.read(spark, dir)
      .filter(col("id") === "b050").collect()
    assert(got.length == 1 && got.head.getString(1) == "b")
  }

  test("hive-partitioned tree: directory pruning and bounds pruning compose in one listing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_part").toString
    // 4 partitions × 4 files; every partition holds the SAME ts ranges
    // ([f·100, f·100+99] for f = 0..3), so the two layers prune on
    // independent axes: `part` drops directories, `ts` bounds drop files
    // WITHIN every surviving directory
    (0 until 4).foreach { f =>
      (0 until 4).flatMap(p => (0 until 100).map(i => (p, f * 100L + i, s"v${p}_${f}_$i")))
        .toDF("part", "ts", "payload")
        .coalesce(1).write.partitionBy("part").mode("append").parquet(dir)
    }
    FileManifest.build(spark, dir, Seq("ts"))

    def scanFiles(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      // collect() (not count()) so the metrics belong to THIS plan's
      // execution — count() builds its own queryExecution
      val rows = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }.head
      (scan.metrics("numFiles").value, rows)
    }
    val base = ManifestFileIndex.read(spark, dir)
    assert(scanFiles(base) == (16L, 1600L))
    // partition layer alone: one directory survives
    assert(scanFiles(base.filter(col("part") === 2)) == (4L, 400L))
    // bounds layer alone: two ts files survive in EVERY directory
    assert(scanFiles(base.filter(col("ts") >= 150L && col("ts") <= 249L)) == (8L, 400L))
    // composed: one directory × two ts files
    val both = base.filter(col("part") === 2 && col("ts") >= 150L && col("ts") <= 249L)
    assert(scanFiles(both) == (2L, 100L))
    // row-exact against the plain read
    val want = spark.read.parquet(dir)
      .filter(col("part") === 2 && col("ts") >= 150L && col("ts") <= 249L)
      .select("ts", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(both.select("ts", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == want)
  }

  test("10k-file manifest: planning runs as a Spark job, driver retains only surviving paths") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_10k").toString
    (0 until 8).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v${f}_$i"))
        .toDF("ts", "payload").coalesce(1).write.mode("append").parquet(dir)
    }
    FileManifest.build(spark, dir, Seq("ts"), Seq("ts"),
      expectedPerFile = 1024, fpp = 0.01)

    // inflate the manifest to 10_008 entries: 10k synthetic files whose
    // bounds sit far above every query range, each carrying a REAL
    // multi-KB bloom sidecar — a driver-side planner would have to
    // materialize ~10 MB of filter binaries; the distributed planner
    // must never see them. (Superset manifests are legal: coverage
    // requires live ⊆ manifested, and a fake entry matches no listed
    // file.)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1024, 0.01)
    (0 until 1000).foreach(i => bf.putLong(1000000L + i))
    val os = new java.io.ByteArrayOutputStream(); bf.writeTo(os)
    val bloomBytes = os.toByteArray
    val mPath = ManifestDir(spark, dir)
    val realCols = spark.read.parquet(mPath).columns.toSeq
    spark.range(10000).select(
        concat(lit("file:/graft_fake/f_"), col("id"), lit(".parquet")).as("file"),
        lit(100L).as("n_rows"),
        (lit(1000000L) + col("id") * lit(100L)).as("min_ts"),
        (lit(1000000L) + col("id") * lit(100L) + lit(99L)).as("max_ts"),
        lit(bloomBytes).as("bloom_ts"))
      .select(realCols.map(col): _*)
      .coalesce(1).write.mode("append").parquet(mPath)

    val idx = new ManifestFileIndex(spark, dir)
    val range = Seq(GreaterThanOrEqual(ts, Literal(250L)),
      LessThanOrEqual(ts, Literal(420L)))
    val keptDirs = idx.listFiles(Nil, range)
    assert(keptDirs.map(_.files.size).sum == 3)

    // bounded driver bytes: three surviving path strings vs ~12 MB of
    // sidecar binaries the old driver-resident planner would have held
    val pathBytes = idx.lastListingDriverBytes
    assert(pathBytes > 0 && pathBytes < 4096,
      s"driver held $pathBytes bytes of planning state for 3 surviving files")
    val totalBloomBytes = spark.read.parquet(mPath)
      .select(sum(length(col("bloom_ts")))).head.getLong(0)
    assert(totalBloomBytes > 1000L * pathBytes,
      s"manifest sidecars ($totalBloomBytes B) should dwarf driver state ($pathBytes B)")

    // listing equality with a straightforward driver-side evaluation of
    // the same manifest (the pre-distribution semantics): intersect
    // bounds, keep unknowns
    val fIdx = spark.read.parquet(mPath).schema.fieldIndex("file")
    val loIdx = spark.read.parquet(mPath).schema.fieldIndex("min_ts")
    val hiIdx = spark.read.parquet(mPath).schema.fieldIndex("max_ts")
    val refKeptNames = spark.read.parquet(mPath).collect().iterator
      .filter { r =>
        r.isNullAt(loIdx) || r.isNullAt(hiIdx) ||
          (r.getLong(hiIdx) >= 250L && r.getLong(loIdx) <= 420L)
      }
      .map(r => new org.apache.hadoop.fs.Path(
        new java.net.URI(r.getString(fIdx))).getName).toSet
    val gotNames = keptDirs.flatMap(_.files.map(_.getPath.getName)).toSet
    assert(gotNames.nonEmpty && gotNames.subsetOf(refKeptNames),
      "distributed listing diverged from the reference driver-side evaluation")

    // bloom point probe at the same scale: fakes die on bounds, real
    // files die on membership — one survivor, still O(kept) driver state
    assert(idx.listFiles(Nil, Seq(EqualTo(ts, Literal(101L))))
      .map(_.files.size).sum == 1)
    assert(idx.lastListingDriverBytes < 2048)
  }

  test("bloom sidecar rejects non-integral key columns at build time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_btype").toString
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L))
      .toDF("ts", "v").coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      FileManifest.build(spark, dir, Seq("v"), Seq("ts"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("unknown bounds are never pruned; a raw write stays out of the index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_null").toString
    Seq((1L, "a")).toDF("ts", "payload").coalesce(1).write.mode("append").parquet(dir)
    Seq((null.asInstanceOf[java.lang.Long], "n")).toDF("ts", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    FileManifest.build(spark, dir, Seq("ts"))
    val idx = new ManifestFileIndex(spark, dir)
    assert(idx.listFiles(Nil,
      Seq(EqualTo(ts, Literal(1L)))).map(_.files.size).sum == 2,
      "the unknown-bounds file must be kept")
    // rows with NULL ts still never satisfy the row filter
    assert(ManifestFileIndex.read(spark, dir).filter(col("ts") === 1L).count() == 1)

    // a file no version names: the index lists it but never reads it
    Seq((9L, "late")).toDF("ts", "payload").coalesce(1).write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val raw = new ManifestFileIndex(spark, dir)
    assert(raw.allFiles().length == 3)
    assert(raw.listFiles(Nil, Nil).map(_.files.size).sum == 2)
    assert(ManifestFileIndex.read(spark, dir).count() == 2)
    // vacuum reaps it; build would have adopted it
    assert(FileManifest.vacuum(spark, dir, graceMs = 0L).size == 1)
    spark.catalog.refreshByPath(dir)
    FileManifest.build(spark, dir, Seq("ts"))
    assert(ManifestFileIndex.read(spark, dir).count() == 2)
  }
}
