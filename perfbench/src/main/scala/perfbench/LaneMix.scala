package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** `lane_mix`: registry lanes from `graft.SparkEntry.queries`, each
  * materialized through `queryExecution.toRdd` as `graft.Bench` does, over
  * seeded tables of the test data's shape.
  *
  * The tables come from the fixed [[DataSeed]], so every lane call is
  * checked against a fingerprint pinned in `lane_fingerprints.tsv`; the
  * run's seed picks the order the lanes run in on each pass.
  */
object LaneMix {
  val DataSeed = 42L
  val Scale = 0.02
  /** Timed passes per run, however short `--seconds` is: a pass takes
    * about 4 s, and the first timed pass is still slower than the rest, so the
    * median needs three.
    */
  val MinPasses = 3

  /** Materializes `df` through `queryExecution.toRdd`, as `graft.Bench`
    * times a lane, and returns its row count and an order-insensitive hash
    * of its rows, computed in the same tasks. Rows are hashed as their
    * UnsafeRow bytes, which are equal exactly when the values are.
    */
  def materialize(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var (n, sum, xor) = (0L, 0L, 0L)
      rows.foreach { r =>
        val u = proj(r)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
        sum += h
        xor ^= h
      }
      Iterator((n, sum, xor))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((n, sum, xor), (pn, ps, px)) =>
      (n + pn, sum + ps, xor ^ px)
    } match { case (n, sum, xor) => (n, sum * 31 + xor) }
  }

  /** Pinned (rows, hash) of [[materialize]] per lane, for [[DataSeed]] at
    * [[Scale]].
    */
  lazy val pinned: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/lane_fingerprints.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(lane, rows, hash) = l.split("\t")
        lane -> ((rows.toLong, hash.toLong))
      }.toMap
    finally in.close()
  }

  def run(ctx: Ctx): Result = {
    val setups = (0 until Main.SetupReps).map { k =>
      val dir = ctx.work.resolve(s"tables$k").toString
      ctx.timed { LaneData.write(ctx.spark, DataSeed, Scale, dir); dir }
    }
    System.err.println(s"perfbench: set-ups ${setups.map(_._2.round)} ms")
    val dir = setups.last._1
    val queries = graft.SparkEntry.queries
    def lane(name: String): (Long, Long) = materialize(queries(name)(ctx.spark, dir))
    def check(l: String, fp: (Long, Long)): Unit =
      ctx.ops.check(s"lane $l fingerprint $l\t${fp._1}\t${fp._2} != pinned ${pinned.get(l)}",
        pinned.get(l).contains(fp))

    val (_, warmMs) = ctx.timed(Layers.Lanes.foreach(l => check(l, lane(l))))

    val tr = if (ctx.trace) new Tracer(true, Some(ctx.spark.sparkContext)) else new Tracer(false)
    val rnd = new scala.util.Random(ctx.seed)
    val passMs, plainMs, tracedMs = mutable.ArrayBuffer[Double]()
    val outRows = Layers.Lanes.flatMap(pinned.get).map(_._1).sum.toDouble
    ctx.startWindow()
    var p = 0
    while (p < MinPasses || ctx.windowOpen) {
      val traceThis = ctx.trace && p % 2 == 1
      tr.pass = p
      def onePass(): Double = {
        var sum = 0.0
        rnd.shuffle(Layers.Lanes).foreach { l =>
          val (fp, ms) = ctx.timed(if (traceThis) tr.span(s"lane.$l")(lane(l)) else lane(l))
          check(l, fp)
          System.err.println(s"perfbench: lane $l ${ms.round} ms")
          sum += ms
        }
        sum
      }
      val ms = if (traceThis) tr.span("lane_mix.pass")(onePass()) else onePass()
      (if (!ctx.trace) passMs else if (traceThis) tracedMs else plainMs) += ms
      System.err.println(s"perfbench: lane_mix pass $p: ${ms.round} ms")
      p += 1
    }
    if (!ctx.trace)
      Result(ctx.ops.correct, ctx.ops.attempted, ctx.ops.failed, ctx.endToEnd(
        setupS = (Stats.median(setups.map(_._2)) + warmMs) / 1000,
        passS = passMs.map(_ / 1000).toSeq,
        rowsPerS = outRows / (Stats.median(passMs.toSeq) / 1000)))
    else {
      tr.drain()
      tr.close()
      val values = mutable.HashMap[String, Double]()
      for (l <- Layers.Lanes) {
        val ss = tr.spans.filter(_.name == s"lane.$l").toSeq
        values(s"lane.$l.s") = Stats.median(ss.map(_.ms)) / 1000
        values(s"lane.$l.jobs") = Stats.median(ss.map(s => tr.jobs(s).size.toDouble))
        values(s"lane.$l.driver_gap_ms") = Stats.median(ss.map(tr.driverGapMs))
      }
      ctx.traceSummary(tr, "lane_mix.pass", plainMs.toSeq, tracedMs.toSeq, values)
      Result(ctx.ops.correct, ctx.ops.attempted, ctx.ops.failed, Layers.emit(values))
    }
  }
}
