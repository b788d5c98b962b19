package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileManifest

/** String-keyed surgery verbs (mergeKeys / mergeKeysDV /
  * deleteKeysDV): parity with the long-key paths, candidate
  * skipping through string bounds + string bloom sidecars, and the
  * UTF-8-vs-UTF-16 ordering trap (supplementary-plane keys sort
  * differently in Java strings and Catalyst/parquet bounds — the
  * slice search must use Catalyst's order or it false-negatives).
  */
class StringKeySpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/strkey_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  private def rows(dir: String): Seq[(String, Long)] =
    graft.sources.ManifestFileIndex.read(spark, dir)
      .select("id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

  test("string-keyed mergeKeys: replace + insert, bounds skip untouched files") {
    import spark.implicits._
    val dir = freshDir("merge")
    // 4 range files over a string key space: a000..a099, b000.., c000.., d000..
    val base = ('a' to 'd').flatMap { p =>
      (0 until 100).map(i => (f"$p$i%03d", 1L))
    }
    FileManifest.writeThrough(
      base.toDF("id", "v").repartitionByRange(4, col("id")),
      dir, Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    // updates touch ONLY the b-file's key range (+ one brand-new key)
    val updates = Seq(("b005", -5L), ("b042", -42L), ("e999", -9L))
      .toDF("id", "v")
    val (rewritten, carried) = FileManifest.mergeKeys(
      spark, dir, updates, "id", Seq("id"), bloomCols = Seq("id"))
    assert(rewritten === 1, "only the b-range file intersects the batch")
    assert(carried === 3)
    val got = rows(dir).toMap
    assert(got("b005") === -5L && got("b042") === -42L && got("e999") === -9L)
    assert(got("b006") === 1L && got.size === base.size + 1)
  }

  test("string-keyed mergeKeysDV: no-rewrite DV merge + deleteKeysDVString") {
    import spark.implicits._
    val dir = freshDir("dv")
    val base = ('a' to 'd').flatMap { p =>
      (0 until 100).map(i => (f"$p$i%03d", 1L))
    }
    FileManifest.writeThrough(
      base.toDF("id", "v").repartitionByRange(4, col("id")),
      dir, Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    val (dv, rw, untouched) = FileManifest.mergeKeysDV(
      spark, dir, Seq(("c007", -7L), ("f000", -1L)).toDF("id", "v"),
      "id", Seq("id"), bloomCols = Seq("id"))
    assert(dv === 1 && rw === 0 && untouched === 3,
      s"expected one DV-marked file, got ($dv, $rw, $untouched)")
    val (dv2, rw2, _) = FileManifest.deleteKeysDV(
      spark, dir, "id", Seq("a001", "a002", "nope"), Seq("id"),
      bloomCols = Seq("id"))
    assert(dv2 === 1 && rw2 === 0)
    val got = rows(dir).toMap
    assert(got("c007") === -7L && got("f000") === -1L)
    assert(!got.contains("a001") && !got.contains("a002"))
    assert(got.size === base.size + 1 - 2)
  }

  test("supplementary-plane keys: UTF-8 slice order never false-negatives") {
    import spark.implicits._
    val dir = freshDir("utf8")
    // U+FFFF sorts ABOVE U+10000 in Java's UTF-16 order but BELOW it in
    // Catalyst/parquet UTF-8 bounds. One file holding exactly these two
    // keys has bounds [U+FFFF, U+10000] in UTF-8 order; a Java-ordered
    // key array + slice search computes an EMPTY slice for that window
    // — both keys sliced out of the very file that holds them, a silent
    // lost update. The UTF-8-ordered search keeps the full slice.
    val hi = new String(Character.toChars(0x10000)) // U+10000
    FileManifest.writeThrough(
      Seq(("\uFFFF", 1L), (hi, 1L)).toDF("id", "v").coalesce(1),
      dir, Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    val (rewritten, _) = FileManifest.mergeKeys(
      spark, dir, Seq((hi, -1L), ("\uFFFF", -2L)).toDF("id", "v"),
      "id", Seq("id"), bloomCols = Seq("id"))
    assert(rewritten === 1,
      "the file holding both supplementary-window keys must be rewritten")
    val all = rows(dir)
    assert(all.size === 2, s"lost update leaves stale duplicates: $all")
    val got = all.toMap
    assert(got(hi) === -1L && got("\uFFFF") === -2L)
  }

  test("guards: null keys, duplicate keys, non-string type routing") {
    import spark.implicits._
    val dir = freshDir("guards")
    FileManifest.writeThrough(
      (1 to 10).map(i => (f"k$i%02d", 1L)).toDF("id", "v").coalesce(1),
      dir, Seq("id"), bloomCols = Seq("id"), mode = "overwrite")
    val dup = intercept[IllegalArgumentException] {
      FileManifest.mergeKeys(spark, dir,
        Seq(("k01", 1L), ("k01", 2L)).toDF("id", "v"), "id", Seq("id"))
    }
    assert(dup.getMessage.contains("multiple rows"))
    val nul = intercept[IllegalArgumentException] {
      FileManifest.mergeKeysDV(spark, dir,
        Seq((null.asInstanceOf[String], 1L)).toDF("id", "v"),
        "id", Seq("id"))
    }
    assert(nul.getMessage.contains("NULL"))
    val typ = intercept[IllegalArgumentException] {
      FileManifest.deleteKeysDV(spark, dir, "v", Seq("1"), Seq("id"))
    }
    assert(typ.getMessage.contains("deleteKeysDV"))
  }
}
