package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, ManifestFileIndex}

/** The KEYED surgery verbs (mergeKeysDV / deleteKeysDV) on a
  * hive-partitioned tree — the
  * GDPR/right-to-be-forgotten workload in its production layout: a keyed
  * erase/upsert batch against a hive-partitioned tree, as ONE atomic
  * commit. Parity contract with the flat paths: candidates bounds/bloom-
  * pruned per file, DV marks metadata-only, rewrites/appends land INSIDE
  * their partition dirs with the partition column directory-encoded, and
  * erasing BY the partition column fails loud toward the directory-drop
  * path (the PartitionedSurgerySpec contract, extended to keys).
  */
class PartitionedKeyedSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/partkey_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  /** 3 partitions (part=p0..p2 by k%3), k range-clustered within each. */
  private def build(dir: String): Unit = {
    import spark.implicits._
    val df = (1L to 600L).map(k => (k, s"p${k % 3}", k * 10L))
      .toDF("k", "part", "v")
      .repartitionByRange(6, col("part"), col("k"))
    FileManifest.writeThrough(df, dir, Seq("k"), bloomCols = Seq("k"),
      partitionCols = Seq("part"), mode = "overwrite")
  }

  private def manifestFiles(dir: String): Seq[String] =
    spark.read.parquet(ManifestDir(spark, dir))
      .select("file").collect().map(_.getString(0).replace("%3D", "="))
      .toSeq

  test("mergeKeysDVPartitioned: cross-partition upsert, one commit, appends in their dirs") {
    import spark.implicits._
    val dir = freshDir("merge")
    build(dir)
    val v1 = FileManifest.versions(spark, dir).max
    val nFiles = manifestFiles(dir).size
    val updates = Seq(
      (5L, "p2", -50L), // 5 % 3 == 2: matched, same partition
      (300L, "p0", -3000L), // matched
      (9001L, "p1", -1L), // fresh inserts
      (9002L, "p2", -2L))
      .toDF("k", "part", "v")
    val (dvN, rwN, carried) = FileManifest.mergeKeysDV(
      spark, dir, updates, "k", Seq("k"), bloomCols = Seq("k"))
    assert(FileManifest.versions(spark, dir).max === v1 + 1,
      "the whole cross-partition merge must be ONE commit")
    assert(rwN === 0, s"under-threshold matches retire by DV, got $rwN rewrites")
    assert(dvN === 2, s"exactly the two matched keys' files take DVs: $dvN")
    assert(carried === nFiles - 2,
      s"bloom/bounds must carry every unmatched file: $carried of $nFiles")
    val got = ManifestFileIndex.read(spark, dir)
      .select("k", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expect = (1L to 600L).map { k =>
      if (k == 5L) (5L, "p2", -50L)
      else if (k == 300L) (300L, "p0", -3000L)
      else (k, s"p${k % 3}", k * 10L)
    }.toSet ++ Set((9001L, "p1", -1L), (9002L, "p2", -2L))
    assert(got === expect)
    // every file (carried and fresh) lives inside a partition dir, and
    // the partition column never flattens into file data
    val m = manifestFiles(dir)
    assert(m.forall(_.contains("/part=p")), s"files outside partition dirs: $m")
    m.foreach { f =>
      assert(!spark.read.parquet(f).schema.fieldNames.contains("part"),
        s"partition column flattened into $f")
    }
  }

  test("a merged key can MOVE partitions: old row dies by DV, new row lands in its dir") {
    import spark.implicits._
    val dir = freshDir("move")
    build(dir)
    // key 7 lives in part=p1; the update reroutes it to p0
    FileManifest.mergeKeysDV(spark, dir,
      Seq((7L, "p0", -70L)).toDF("k", "part", "v"),
      "k", Seq("k"), bloomCols = Seq("k"))
    val rows = ManifestFileIndex.read(spark, dir)
      .filter(col("k") === 7L)
      .select("part", "v").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq === Seq(("p0", -70L)),
      s"moved key must exist exactly once, in its NEW partition: ${rows.toSeq}")
    assert(ManifestFileIndex.read(spark, dir).count() === 600L)
  }

  test("deleteKeysDVStringPartitioned: the GDPR batch shape end to end") {
    import spark.implicits._
    val dir = freshDir("strdel")
    val df = (1L to 600L).map(k => (f"id_$k%06d", s"p${k % 3}", k))
      .toDF("id", "part", "k")
      .repartitionByRange(6, col("part"), col("id"))
    FileManifest.writeThrough(df, dir, Seq("id"), bloomCols = Seq("id"),
      partitionCols = Seq("part"), mode = "overwrite")
    val v1 = FileManifest.versions(spark, dir).max
    val doomed = Seq("id_000005", "id_000300", "id_000599", "id_absent")
    val (dvN, rwN, _) = FileManifest.deleteKeysDV(
      spark, dir, "id", doomed, Seq("id"), bloomCols = Seq("id"))
    assert(rwN === 0 && dvN >= 2, s"($dvN, $rwN)")
    assert(FileManifest.versions(spark, dir).max === v1 + 1)
    val got = ManifestFileIndex.read(spark, dir)
      .select("id").collect().map(_.getString(0)).toSet
    assert(got.size === 597 && !doomed.exists(got))
    // a long batch refuses a string key loudly (encoding guard parity)
    intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(spark, dir, "id", Seq(5L), Seq("id"))
    }
  }

  test("over-threshold partitioned erase REWRITES inside partition dirs") {
    val dir = freshDir("rw")
    build(dir)
    // kill most of partition p1 with a tight DV budget → its files rewrite
    val doomed = (1L to 600L).filter(k => k % 3 == 1 && k % 5 != 0)
    val (_, rwN, _) = FileManifest.deleteKeysDV(
      spark, dir, "k", doomed, Seq("k"), bloomCols = Seq("k"),
      maxDvFraction = 0.3)
    assert(rwN >= 1, "over-threshold files must rewrite, not DV")
    val gotK = ManifestFileIndex.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotK === (1L to 600L).filterNot(doomed.toSet).toSeq)
    val m = manifestFiles(dir)
    assert(m.forall(_.contains("/part=p")), s"rewrite leaked outside partition dirs: $m")
    m.foreach { f =>
      assert(!spark.read.parquet(f).schema.fieldNames.contains("part"),
        s"partition column flattened into rewritten $f")
    }
    // partition membership survived the rewrite
    val parts = ManifestFileIndex.read(spark, dir)
      .groupBy("part").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(parts("p1") === (1L to 600L).count(k => k % 3 == 1 && k % 5 == 0))
    assert(parts("p0") === 200L && parts("p2") === 200L)
  }

  test("guards: partition-column key, missing batch, one keyed verb on a tree") {
    import spark.implicits._
    val dir = freshDir("guards")
    build(dir)
    // erasing BY the partition column → directory-drop guidance
    val e1 = intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(
        spark, dir, "part", Seq("p1"), Seq("k"))
    }
    assert(e1.getMessage.contains("PARTITION column"), e1.getMessage)
    // merge batch MISSING the partition column → loud, not NULL-routed
    val e2 = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dir,
        Seq((5L, -50L)).toDF("k", "v"), "k", Seq("k"))
    }
    assert(e2.getMessage.contains("part"), e2.getMessage)
    // the keyed verbs read the layout from the manifest: on this tree
    // they take the partitioned path, and every file stays inside a
    // partition dir with the partition column directory-only
    FileManifest.deleteKeysDV(spark, dir, "k", Seq(5L), Seq("k"),
      bloomCols = Seq("k"))
    FileManifest.mergeKeysDV(spark, dir,
      Seq((5L, "p2", -50L)).toDF("k", "part", "v"), "k", Seq("k"),
      bloomCols = Seq("k"))
    val got = ManifestFileIndex.read(spark, dir)
      .select("k", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === (1L to 600L).map { k =>
      if (k == 5L) (5L, "p2", -50L) else (k, s"p${k % 3}", k * 10L)
    }.toSet)
    val m = manifestFiles(dir)
    assert(m.forall(_.contains("/part=p")), s"files outside partition dirs: $m")
    m.foreach { f =>
      assert(!spark.read.parquet(f).schema.fieldNames.contains("part"),
        s"partition column flattened into $f")
    }
  }

  test("a keyed verb that leaves out a tracked bloom column fails before writing into the table") {
    import spark.implicits._
    val dir = freshDir("untracked")
    build(dir)
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = FileManifest.versions(spark, dir).max
    val files = graft.sources.FsListing.listDataFiles(hfs, root).toSet
    // the append writes fresh files, whose stats would lack bloom_k
    val e = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dir,
        Seq((5L, "p2", -50L), (9001L, "p1", -1L)).toDF("k", "part", "v"),
        "k", Seq("k"))
    }
    assert(e.getMessage.contains("bloom_k"), e.getMessage)
    assert(FileManifest.versions(spark, dir).max === v1)
    assert(graft.sources.FsListing.listDataFiles(hfs, root).toSet === files,
      "no file may land in the table")
    assert(!hfs.listStatus(root.getParent)
      .exists(_.getPath.getName.startsWith("partkey_untracked_stg_")),
      "staging dir left behind")
    assert(ManifestFileIndex.read(spark, dir).count() === 600L)
  }

  test("a tree whose manifest was emptied refuses a keyed merge") {
    import spark.implicits._
    val dir = freshDir("emptied")
    build(dir)
    FileManifest.deleteKeysDV(spark, dir, "k", 1L to 600L, Seq("k"),
      bloomCols = Seq("k"))
    assert(manifestFiles(dir).isEmpty)
    val v1 = FileManifest.versions(spark, dir).max
    // no manifest file shows the layout, and the root still holds the
    // partition dirs: the batch can't be placed, so nothing is written
    val e = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dir,
        Seq((5L, "p2", -50L)).toDF("k", "part", "v"), "k", Seq("k"),
        bloomCols = Seq("k"))
    }
    assert(e.getMessage.contains("FLAT table"), e.getMessage)
    assert(FileManifest.versions(spark, dir).max === v1)
    assert(manifestFiles(dir).isEmpty)
  }

  test("above maxCollectedKeys: UNCAPPED partitioned merge — agg guards, key-join matchers, identical table") {
    import spark.implicits._
    val dirSmall = freshDir("bigm_ref")
    val dirBig = freshDir("bigm")
    build(dirSmall); build(dirBig)
    // 30 distinct keys: 20 matched updates (each routed to ITS partition)
    // + 10 inserts; cap forced to 4 on one table — the uncapped path
    // (global-bounds candidates + exact key joins, zero collected keys)
    // must produce byte-identical MERGE results
    val updates = ((41L to 60L).map(k => (k, s"p${k % 3}", -k)) ++
      (9001L to 9010L).map(k => (k, s"p${k % 3}", -k))).toDF("k", "part", "v")
    FileManifest.mergeKeysDV(spark, dirSmall, updates,
      "k", Seq("k"), bloomCols = Seq("k"))
    val v1 = FileManifest.versions(spark, dirBig).max
    FileManifest.mergeKeysDV(spark, dirBig, updates,
      "k", Seq("k"), bloomCols = Seq("k"), maxCollectedKeys = 4)
    assert(FileManifest.versions(spark, dirBig).max === v1 + 1,
      "the uncapped merge must still be ONE commit")
    def rows(d: String) = ManifestFileIndex.read(spark, d)
      .select("k", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(dirBig) === rows(dirSmall), "uncapped path changed MERGE results")
    // guards still fire on the aggregate-only path: dup keys named loud,
    // NULL keys loud — with NOTHING committed
    val vNow = FileManifest.versions(spark, dirBig).max
    val eDup = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dirBig,
        Seq((7L, "p1", -1L), (7L, "p1", -2L), (8L, "p2", -3L), (9L, "p0", -4L),
          (10L, "p1", -5L), (11L, "p2", -6L)).toDF("k", "part", "v"),
        "k", Seq("k"), maxCollectedKeys = 4)
    }
    assert(eDup.getMessage.contains("k=7"), eDup.getMessage)
    val eNull = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dirBig,
        (Seq((Some(7L), "p1", -1L), (None, "p1", -2L)) ++
          (20L to 23L).map(k => (Some(k), s"p${k % 3}", -k)))
          .toDF("k", "part", "v"),
        "k", Seq("k"), maxCollectedKeys = 4)
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    assert(FileManifest.versions(spark, dirBig).max === vNow,
      "failed guards must commit nothing")
  }

  test("deleteKeysDVFramePartitioned: query-shaped erase batch, capped and uncapped parity") {
    import spark.implicits._
    val dirSeq = freshDir("fdel_ref")
    val dirBig = freshDir("fdel")
    build(dirSeq); build(dirBig)
    val doomed = (1L to 600L).filter(k => k % 7 == 0)
    FileManifest.deleteKeysDV(spark, dirSeq, "k", doomed,
      Seq("k"), bloomCols = Seq("k"))
    // same erase from a DATAFRAME of keys, forced onto the uncapped path
    val v1 = FileManifest.versions(spark, dirBig).max
    val (dvN, rwN, _) = FileManifest.deleteKeysDV(
      spark, dirBig, "k", doomed.toDF("k"), Seq("k"), bloomCols = Seq("k"),
      maxCollectedKeys = 4)
    assert(dvN + rwN >= 1)
    assert(FileManifest.versions(spark, dirBig).max === v1 + 1)
    def ks(d: String) = ManifestFileIndex.read(spark, d)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(dirBig) === ks(dirSeq), "uncapped frame erase diverged from Seq erase")
    assert(ks(dirBig) === (1L to 600L).filterNot(doomed.toSet).toSeq)
    // the SMALL frame path delegates to the precise bloom probes and
    // dedups; NULL keys fail loud on both paths
    val (dv2, rw2, _) = FileManifest.deleteKeysDV(
      spark, dirBig, "k", Seq(3L, 3L, 9L).toDF("k"), Seq("k"),
      bloomCols = Seq("k"))
    assert(dv2 + rw2 >= 1)
    assert(!ks(dirBig).exists(Set(3L, 9L)))
    val eNull = intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(spark, dirBig, "k",
        Seq[Option[Long]](Some(4L), None).toDF("k"), Seq("k"))
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    // string dispatch guard: a long-key frame refuses a string table
    val sdir = freshDir("fdel_str")
    FileManifest.writeThrough(
      (1L to 60L).map(k => (f"id_$k%04d", k)).toDF("id", "v"),
      sdir, Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    val eTy = intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(spark, sdir, "id",
        Seq(5L).toDF("id"), Seq("id"))
    }
    assert(eTy.getMessage.contains("does not probe"), eTy.getMessage)
    // and the string frame path works uncapped end to end (flat tree)
    val (dv3, rw3, _) = FileManifest.deleteKeysDV(spark, sdir, "id",
      (1L to 20L).map(k => f"id_$k%04d").toDF("id"), Seq("id"),
      bloomCols = Seq("id"), maxCollectedKeys = 4)
    assert(dv3 + rw3 >= 1)
    assert(ManifestFileIndex.read(spark, sdir).count() === 40L)
  }
}
