package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric value as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run prints as its last line. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric]) {
  def json: String = {
    def num(x: Double): String =
      if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Operation tally of a run. An operation fails when it throws a known,
  * counted failure or when its output check finds a mismatch; a mismatch
  * also makes the run incorrect.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  var correct = true

  /** Record one attempted operation whose output check gave `ok`. */
  def check(what: => String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      correct = false
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }
    ok
  }

  /** Record one attempted operation that threw a counted failure. */
  def fail(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    val causes = Iterator.iterate(e)(c => c match {
      case s: java.sql.SQLException if s.getNextException != null => s.getNextException
      case _ => c.getCause
    }).takeWhile(_ != null).take(4).map(c => s"${c.getClass.getName}: ${c.getMessage}")
    System.err.println(s"perfbench: operation failed: $what: ${causes.mkString(" <- ")}")
  }
}

/** Everything a workload run needs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path) {
  val ops = new Ops

  /** Runs `body`, returning its value and its wall time in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private var deadlineNs = Long.MaxValue
  /** Start the measured window of `seconds`. */
  def startWindow(): Unit = deadlineNs = System.nanoTime() + seconds * 1000000000L
  def windowOpen: Boolean = System.nanoTime() < deadlineNs

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Checks that each pass's child spans fit inside it, records the
    * overhead, and writes the spans out.
    */
  def traceSummary(tr: Tracer, passSpan: String, plain: Seq[Double],
      traced: Seq[Double], values: mutable.Map[String, Double]): Unit = {
    val passes = tr.spans.filter(_.name == passSpan).toSeq
    val ratios = passes.map { s =>
      val selfSum = tr.subtree(s.id).toSeq.map(i => tr.selfMs(tr.spans(i))).sum
      val nested = tr.subtree(s.id).forall { i =>
        val c = tr.spans(i)
        c.parent < 0 || (c.startMs >= tr.spans(c.parent).startMs && c.endMs <= tr.spans(c.parent).endMs)
      }
      ops.check(s"spans of pass ${s.pass} do not nest", nested)
      val childSum = tr.children(s.id).map(_.ms).sum
      ops.check(s"child spans of pass ${s.pass} sum to $childSum ms > wall ${s.ms} ms",
        childSum <= s.ms)
      ops.check(s"self times of pass ${s.pass} sum to $selfSum ms > wall ${s.ms} ms",
        selfSum <= s.ms * (1 + 1e-9))
      Stats.ratio(childSum, s.ms)
    }
    values("trace.overhead_ms") = Stats.median(traced) - Stats.median(plain)
    values("jvm.peak_rss_mb") = peakRssMb
    values("trace.child_time_ratio") = Stats.median(ratios)
    val out = work.resolve("trace.jsonl")
    java.nio.file.Files.write(out, tr.jsonLines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"perfbench: ${tr.spans.size} spans written to $out")
  }

  /** The end-to-end metrics every workload reports. */
  def endToEnd(setupS: Double, passS: Seq[Double], rowsPerS: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("pass_s", Stats.median(passS), "s"),
    Metric("rows_per_s", rowsPerS, "rows/s"))
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints the run's result as the last line of standard output.
  */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "whale_etl" -> WhaleEtl.run,
    "table_commits" -> TableCommits.run,
    "lane_mix" -> LaneMix.run)

  /** Cores used when SPARK_GRAFT_CPUS does not say. */
  val MaxCpus = 4

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3


  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val run = Workloads.getOrElse(opt("workload"), throw new IllegalArgumentException(
      s"unknown workload ${opt("workload")}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    // the inputs are small: more than MaxCpus cores adds per-task
    // overhead, not speed, and would make runs incomparable across hosts
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(math.min(MaxCpus, Runtime.getRuntime.availableProcessors).toString)
    // the session graft.Bench builds, plus paths kept inside the work dir
    val spark = graft.sources.FastLocalFileSystem.install(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try run(new Ctx(spark, opt("seed").toLong, opt("seconds").toInt, trace, work))
      finally spark.stop()
    println(result.json)
  }
}
