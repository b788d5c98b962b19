package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constrained-memory SPILL smoke (`runMain graft.SpillSmoke [dir]`, or
  * `graft.ScaleSmoke spill`): the 128 GiB local[32] sandbox never
  * spills, but a 100 TB cluster lives in spill — every wide shuffle's
  * per-task state routinely exceeds its execution-memory slice and the
  * operator must stream through `ExternalAppendOnlyUnsafeRowArray` /
  * `UnsafeExternalSorter` spill files with the SAME results, just
  * slower. This smoke proves that memory-pressure invariance for the
  * widest shuffles in the registry:
  *
  *  1. run each query on a NORMAL session and fingerprint its output
  *     (row count + order-independent sum of row hashes);
  *  2. restart Spark with `spark.memory.fraction=0.02` and 8 shuffle
  *     partitions — ~150 MB of execution+storage shared by one task
  *     thread per core (~5 MB per task on 32 cores), a budget that
  *     10×-replica shuffle state cannot fit;
  *  3. re-run, assert fingerprint equality, and report per-query
  *     memory/disk spill bytes from a task-metrics listener — naming
  *     which operators actually exercised their spill path.
  *
  * The queries are the registry's widest shuffles: keep-first dedup
  * window (q05), salted fact⋈fact join (q50), two-pass global deciles
  * (q93), substring-window digest shuffle (q140), IVF+PQ ANN build+scan
  * (q106). Measured (2026-08-14): q05/q93/q140/q106 all spill
  * (100-500 MB memoryBytesSpilled each) and return bit-identical
  * fingerprints; q50 spills NOTHING — by design: salting spreads the
  * hot key so no single task ever accumulates join state, which is the
  * operator's entire reason to exist.
  */
object SpillSmoke {

  val Queries: Seq[String] = Seq(
    "q05_dedup_keepfirst", "q50_salted_join", "q93_global_deciles",
    "q140_substring_dedup", "q106_ann_ivf_pq")

  /** Order-independent output fingerprint: (rows, Σ xxhash64(row) mod
    * 2³¹−1). The mod keeps the ANSI-mode sum far from long overflow
    * (2³¹ × row counts ≪ 2⁶³); registry queries are deterministic by
    * the oracle gate, so equal multisets ⇔ equal fingerprints up to
    * hash collision.
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df
      .select(pmod(xxhash64(df.columns.map(col): _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)).as("s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private final class SpillListener extends SparkListener {
    val mem = new java.util.concurrent.atomic.AtomicLong
    val disk = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
      }
    }
    def reset(): Unit = { mem.set(0); disk.set(0) }
  }

  private def session(constrained: Boolean): SparkSession =
    if (!constrained) Session("graft-spill-normal")
    else Session("graft-spill-constrained", callSite = Map(
      "spark.memory.fraction" -> "0.02",
      // storage gets almost nothing so execution pressure is real and
      // localCheckpoint blocks overflow to disk instead of stealing
      // the execution pool
      "spark.memory.storageFraction" -> "0.1",
      // FEWER, FATTER partitions: 8 reducers over the 10x replicas put
      // more state in each task than the normal session's one per core,
      // so sort/agg/join buffers genuinely overflow their ~5 MB slice
      "spark.sql.shuffle.partitions" -> "8"))

  def main(args: Array[String]): Unit = run(
    args.headOption.filterNot(_ == "spill").getOrElse("/tmp/sf1ish"))

  def run(dir: String): Unit = {
    require(new java.io.File(dir).exists(),
      s"$dir missing — run `graft.ScaleSmoke` once to build the 10x replicas")

    // pass 1: reference fingerprints under the normal memory budget
    val normal = session(constrained = false)
    val base = Queries.map { q =>
      val t0 = System.nanoTime()
      val fp = fingerprint(SparkEntry.queries(q)(normal, dir))
      println(f"spill-smoke $q%-24s normal      ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=${fp._1}")
      q -> fp
    }.toMap
    normal.stop()

    // pass 2: constrained session — spark.memory.fraction is read when
    // the context's MemoryManager is built, so this MUST be a fresh
    // SparkContext, not a runtime conf set
    val tight = session(constrained = true)
    val listener = new SpillListener
    tight.sparkContext.addSparkListener(listener)
    var allMatch = true
    val rows = Queries.map { q =>
      listener.reset()
      val t0 = System.nanoTime()
      val fp = fingerprint(SparkEntry.queries(q)(tight, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events are posted async (the public API exposes no
      // drain hook); a short grace period lets the bus flush task-end
      // events before the counters are read
      Thread.sleep(1000)
      val ok = fp == base(q)
      allMatch &&= ok
      val memMb = listener.mem.get / 1048576
      val diskMb = listener.disk.get / 1048576
      println(f"spill-smoke $q%-24s constrained $dt%7.2f s  rows=${fp._1}  " +
        f"spill_mem=${memMb}MB spill_disk=${diskMb}MB hash_match=$ok")
      (q, dt, memMb, diskMb, ok)
    }
    val spilled = rows.filter(_._3 > 0).map(_._1)
    println(s"spill-smoke spilling_operators=${spilled.mkString(",")}")
    require(allMatch, "constrained-memory run changed results — spill path is NOT invariant")
    println("spill-smoke PASS: identical fingerprints under ~12MB/task execution memory")
    tight.stop()
  }
}
