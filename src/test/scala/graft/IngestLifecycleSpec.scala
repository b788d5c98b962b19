package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileManifest, IncrementalLedger, ManifestFileIndex, Staging}
import graft.validate.TableConstraints
import graft.validate.TableConstraints.{RowCondition, UniqueKey}

/** The operational layer composed END-TO-END, the way a production
  * ingest actually strings it together — one lifecycle, every piece's
  * output feeding the next piece's input, so an interface drift between
  * them fails here even if each unit spec stays green:
  *
  *   raw segments land → the INCREMENTAL LEDGER folds only the delta
  *   into running stats → the batch is PUBLISHED partitioned → a
  *   MANIFEST makes the published tree range-skippable → the DATA
  *   CONTRACT audits the publish → a bad partition is found, fixed by
  *   PARTITION BACKFILL, re-audited clean → the backfill rewrote
  *   files outside the version log, so a manifest read fails loud on
  *   the members it deleted until `build` adopts the backfilled tree.
  */
class IngestLifecycleSpec extends AnyFunSuite with SparkSpec {

  test("land → ledger → publish → manifest → audit → backfill → re-audit") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lifecycle").toString
    val (raw, ledger, published) = (s"$root/raw", s"$root/ledger", s"$root/pub")

    def agg(df: DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n"))
    def mergeStats(s: DataFrame, p: DataFrame) =
      s.unionByName(p).groupBy("lang").agg(sum("n").as("n"))

    // ---- day 1: two segments land; the ledger consumes both ----------
    Seq((1L, "en", 100L), (2L, "de", 80L)).toDF("id", "lang", "chars")
      .coalesce(1).write.mode("append").parquet(raw)
    Seq((3L, "en", 60L)).toDF("id", "lang", "chars")
      .coalesce(1).write.mode("append").parquet(raw)
    val day1 = IncrementalLedger.run(spark, raw, ledger, agg, mergeStats)
    assert(day1.newFiles.size == 2)

    // ---- day 2: one more segment; ONLY it is consumed -----------------
    Seq((4L, "fr", 40L), (5L, "en", 20L)).toDF("id", "lang", "chars")
      .coalesce(1).write.mode("append").parquet(raw)
    val day2 = IncrementalLedger.run(spark, raw, ledger, agg, mergeStats)
    assert(day2.newFiles.size == 1)
    val stats = day2.state.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("en" -> 3L, "de" -> 1L, "fr" -> 1L))

    // ---- publish: partitioned by lang, with a planted defect in en ----
    val derived = spark.read.parquet(raw)
      .withColumn("score", when(col("lang") === "en", col("chars") - 1)
        .otherwise(col("chars"))) // the bad-Tuesday derivation bug
    Staging.writePartitioned(derived, Seq("lang"), published)

    // ---- manifest over the published (partitioned) tree ---------------
    FileManifest.build(spark, published, Seq("id"))

    // ---- contract audit: catches the planted defect -------------------
    val contract = Seq(
      UniqueKey("pk", Seq("id")),
      RowCondition("score_matches_chars", col("score") === col("chars")))
    def audit(): Map[String, Long] =
      TableConstraints.audit(Staging.readPartitioned(spark, published), contract)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = audit()
    assert(bad("pk") == 0L && bad("score_matches_chars") == 3L,
      s"expected the 3 defective en rows flagged, got $bad")

    // ---- backfill JUST the bad partition; siblings untouched ----------
    Staging.overwritePartitions(
      derived.filter(col("lang") === "en").withColumn("score", col("chars")),
      Seq("lang"), published)
    val healed = audit()
    assert(healed.values.forall(_ == 0L), s"post-backfill audit: $healed")

    // ---- the backfill replaced manifested files outside the log: its
    // new files are invisible, and the members it deleted fail a
    // manifest read loud (never a silently thinner table); build adopts
    // the backfilled tree ---
    spark.catalog.refreshByPath(published)
    val e = intercept[IllegalArgumentException] {
      ManifestFileIndex.read(spark, published).count()
    }
    assert(e.getMessage.contains("no longer on disk"), e.getMessage)
    FileManifest.build(spark, published, Seq("id"))
    val (slice, kept, total) = FileManifest.readPruned(
      spark, published, "id", lit(2L), lit(4L))
    assert(kept <= total)
    assert(slice.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L, 4L))
  }
}
