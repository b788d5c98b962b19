package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{FileManifest, ManifestFileIndex}

/** `table_commits`: a keyed manifest table under a fixed write/read mix.
  * Each cycle merges and deletes a batch of keys, then reads the table
  * six ways; every [[OptimizeEvery]]-th cycle also compacts and vacuums.
  * A driver-side model of the live key set checks every answer.
  */
object TableCommits {
  val Rows = 30000L
  val FilesAtBuild = 32
  val Merges = 400
  val Deletes = 100
  val Lookups = 8
  val OptimizeEvery = 3
  /** Timed cycles per run, however short `--seconds` is (see WhaleEtl). */
  val MinPasses = 2
  val Key = "o_orderkey"
  private val Cols = Seq(Key)
  private val Bloom = Seq(Key)

  /** The `orders` columns, derived from the key and the seed alone. */
  private def rows(keys: DataFrame, seed: Long, salt: Int): DataFrame = {
    def u(s: Int) = pmod(xxhash64(col(Key), lit(seed), lit(salt), lit(s)), lit(1000003L)) / 1000003.0
    keys.select(col(Key),
      floor(u(1) * 15000).cast("long").as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (floor(u(2) * 3) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), floor(u(4) * 2404).cast("int")).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (floor(u(5) * 5) + 1).cast("int")).as("o_orderpriority"))
  }

  private def keyFrame(spark: SparkSession, keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.toDF(Key)
  }

  /** Build the table: [[Rows]] orders in [[FilesAtBuild]] key-ordered
    * files, with min/max bounds and a bloom filter on the key.
    */
  private def setup(ctx: Ctx, k: Int): String = {
    val dir = ctx.work.resolve(s"orders$k").toString
    val keys = ctx.spark.range(0, Rows, 1, FilesAtBuild).withColumnRenamed("id", Key)
    FileManifest.writeThrough(rows(keys, ctx.seed, 0), dir, Cols, Bloom, mode = "overwrite")
    dir
  }

  /** The live key set a correct table must hold. */
  private final class Model {
    val live = new java.util.BitSet()
    live.set(0, Rows.toInt)
    def count: Long = live.cardinality.toLong
    def keySum: Long = live.stream().asLongStream().sum()
    def inRange(lo: Long, hi: Long): Long =
      live.get(lo.toInt, hi.toInt + 1).cardinality.toLong
  }

  /** Latencies by verb, plus the per-layer tallies the traced run reports. */
  private final class Tally {
    val ms = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val kept = mutable.ArrayBuffer[(Int, Int)]()
    var dvMarked, rewritten, liveFilesMax = 0L
    var bytesWritten, userBytes = 0.0
    val cycleMs = mutable.ArrayBuffer[Double]()
    val writeRowsPerS = mutable.ArrayBuffer[Double]()
    def add(verb: String, t: Double): Unit = ms.getOrElseUpdate(verb, mutable.ArrayBuffer()) += t
  }

  private val Writes = Set("mergeKeysDV", "deleteKeysDV", "optimizeTable", "vacuum")

  private def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** One cycle. Returns nothing; latencies, checks and tallies land in
    * `tally` and `ops`.
    */
  private def cycle(ctx: Ctx, dir: String, c: Int, cy: Gen.Cycle, model: Model,
      tally: Tally, ops: Ops, tr: Tracer, bytesPerRow: Double): Unit = {
    val spark = ctx.spark
    // the cycle's time is its verbs' time, without the model bookkeeping
    var cycleMs = 0.0
    def verb[T](name: String)(body: => T): T = {
      val (r, t) = ctx.timed(tr.span(s"sources.manifest.$name")(body))
      tally.add(name, t)
      cycleMs += t
      r
    }
    val prevV = FileManifest.versions(spark, dir).max
    val prevCount = model.count
    val before = dirBytes(dir)
    tr.span("table_commits.cycle") {
      val updates = rows(keyFrame(spark, cy.merge), ctx.seed, c + 1)
      val (m1, m2, _) = verb("mergeKeysDV")(FileManifest.mergeKeysDV(spark, dir, updates, Key, Cols, Bloom))
      cy.merge.foreach(k => model.live.set(k.toInt))
      val (d1, d2, _) = verb("deleteKeysDV")(FileManifest.deleteKeysDV(spark, dir, Key, cy.delete, Cols, Bloom))
      cy.delete.foreach(k => model.live.clear(k.toInt))
      val writeMs = tally.ms("mergeKeysDV").last + tally.ms("deleteKeysDV").last
      tally.writeRowsPerS += (Merges + Deletes) / (writeMs / 1000)
      tally.dvMarked += m1 + d1
      tally.rewritten += m2 + d2
      tally.bytesWritten += math.max(0L, dirBytes(dir) - before)
      tally.userBytes += Merges * bytesPerRow

      val hits = verb("readPointLookup") {
        val (df, kept, total) = FileManifest.readPointLookup(spark, dir, Key, cy.lookup)
        tally.kept += ((kept, total))
        tally.liveFilesMax = math.max(tally.liveFilesMax, total.toLong)
        df.select(Key).collect().map(_.getLong(0)).toSet
      }
      ops.check(s"cycle $c: point lookup hits $hits", hits == cy.lookup.filter(k => model.live.get(k.toInt)).toSet)
      val span = (Rows * 0.02).toLong
      val inRange = verb("readPruned") {
        val (df, kept, total) = FileManifest.readPruned(spark, dir, Key, lit(cy.rangeLo), lit(cy.rangeLo + span))
        tally.kept += ((kept, total))
        df.filter(col(Key).between(cy.rangeLo, cy.rangeLo + span)).count()
      }
      ops.check(s"cycle $c: pruned range count $inRange", inRange == model.inRange(cy.rangeLo, cy.rangeLo + span))
      val n = verb("fastCount")(FileManifest.fastCount(spark, dir))
      ops.check(s"cycle $c: fastCount $n != ${model.count}", n == model.count)
      val asOf = verb("readAsOf")(FileManifest.readAsOf(spark, dir, prevV).count())
      ops.check(s"cycle $c: readAsOf($prevV) count $asOf != $prevCount", asOf == prevCount)
      val hist = verb("history")(FileManifest.history(spark, dir).count())
      ops.check(s"cycle $c: history has $hist versions", hist == FileManifest.versions(spark, dir).size)
      val curV = FileManifest.versions(spark, dir).max
      val changed = verb("changesBetween") {
        FileManifest.changesBetween(spark, dir, prevV, curV).select(Key).distinct()
          .collect().map(_.getLong(0)).toSet
      }
      ops.check(s"cycle $c: change feed keys outside this cycle's batches",
        changed.nonEmpty && changed.subsetOf((cy.merge ++ cy.delete).toSet))

      if (c % OptimizeEvery == OptimizeEvery - 1) {
        verb("optimizeTable")(FileManifest.optimizeTable(spark, dir, Cols, Bloom))
        verb("vacuum")(FileManifest.vacuum(spark, dir, graceMs = 0L))
      }
    }
    tally.cycleMs += cycleMs

    // untimed full read: exact live count and key checksum
    val r = ManifestFileIndex.read(spark, dir)
      .agg(count(lit(1)), countDistinct(col(Key)), sum(col(Key))).head()
    ops.check(s"cycle $c: full read (${r.getLong(0)}, ${r.getLong(1)}, ${r.get(2)}) " +
      s"!= model (${model.count}, ${model.keySum})",
      r.getLong(0) == model.count && r.getLong(1) == model.count &&
        Option(r.get(2)).map(_.toString.toLong).getOrElse(0L) == model.keySum)
  }

  def run(ctx: Ctx): Result = {
    val setups = (0 until Main.SetupReps).map(k => ctx.timed(setup(ctx, k)))
    System.err.println(s"perfbench: set-ups ${setups.map(_._2.round)} ms")
    val dir = setups.last._1
    val bytesPerRow = dirBytes(dir).toDouble / Rows
    val model = new Model
    val keys = Gen.cycles(ctx.seed, Rows, Merges, Deletes, Lookups)
    val off = new Tracer(false)
    // warm-up: one cycle that also compacts and vacuums (so every run
    // times the same compacted layout), untimed and outside the tally
    val (_, warmMs) = ctx.timed(cycle(ctx, dir, OptimizeEvery - 1, keys.next(), model,
      new Tally, new Ops, off, bytesPerRow))
    val tr = if (ctx.trace) new Tracer(true, Some(ctx.spark.sparkContext)) else off
    val tally = new Tally
    val plainCycles = mutable.ArrayBuffer[Double]()
    ctx.startWindow()
    var c = OptimizeEvery
    // a traced run goes on to the next compaction cycle, which it traces
    while (c < OptimizeEvery + (if (ctx.trace) OptimizeEvery else MinPasses) || ctx.windowOpen) {
      // a traced run alternates untraced and traced cycles
      val traceThis = ctx.trace && c % 2 == 1
      tr.pass = c
      if (traceThis) cycle(ctx, dir, c, keys.next(), model, tally, ctx.ops, tr, bytesPerRow)
      else {
        val t = if (ctx.trace) new Tally else tally
        cycle(ctx, dir, c, keys.next(), model, t, ctx.ops, off, bytesPerRow)
        if (ctx.trace) plainCycles ++= t.cycleMs
      }
      System.err.println(s"perfbench: table_commits cycle $c: ${tally.cycleMs.lastOption.map(_.round)} ms")
      c += 1
    }
    if (!ctx.trace)
      Result(ctx.ops.correct, ctx.ops.attempted, ctx.ops.failed, ctx.endToEnd(
        setupS = (Stats.median(setups.map(_._2)) + warmMs) / 1000,
        passS = tally.cycleMs.map(_ / 1000).toSeq,
        rowsPerS = Stats.median(tally.writeRowsPerS.toSeq)))
    else {
      tr.drain()
      tr.close()
      val values = mutable.HashMap[String, Double]()
      for (v <- Layers.ManifestVerbs) {
        val ss = tr.spans.filter(_.name == s"sources.manifest.$v").toSeq
        if (ss.nonEmpty) {
          values(s"sources.manifest.$v.ms") = Stats.median(ss.map(_.ms))
          values(s"sources.manifest.$v.jobs") = Stats.median(ss.map(s => tr.jobs(s).size.toDouble))
          values(s"sources.manifest.$v.driver_gap_ms") = Stats.median(ss.map(tr.driverGapMs))
        }
      }
      values("sources.manifest.files_kept_ratio") =
        Stats.ratio(tally.kept.map(_._1).sum.toDouble, tally.kept.map(_._2).sum.toDouble)
      val cycles = tally.cycleMs.size.toDouble
      values("sources.manifest.dv_marked_files") = tally.dvMarked / cycles
      values("sources.manifest.rewritten_files") = tally.rewritten / cycles
      values("sources.manifest.live_files_max") = tally.liveFilesMax.toDouble
      values("sources.manifest.bytes_written_per_user_byte") =
        Stats.ratio(tally.bytesWritten, tally.userBytes)
      values("sources.manifest.bytes_per_live_row") =
        dirBytes(dir).toDouble / FileManifest.fastCount(ctx.spark, dir)
      values("sources.manifest.commit_ms_p90") =
        Stats.percentile(tally.ms.filter(e => Writes(e._1)).values.flatten.toSeq, 90)
      values("sources.manifest.read_ms_p90") =
        Stats.percentile(tally.ms.filterNot(e => Writes(e._1)).values.flatten.toSeq, 90)
      ctx.traceSummary(tr, "table_commits.cycle", plainCycles.toSeq, tally.cycleMs.toSeq, values)
      Result(ctx.ops.correct, ctx.ops.attempted, ctx.ops.failed, Layers.emit(values))
    }
  }
}
