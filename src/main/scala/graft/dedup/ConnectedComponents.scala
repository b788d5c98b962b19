package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sizing

/** Distributed connected components over an edge list — the step a dedup
  * pipeline needs between near-dup PAIRS (q26/q28/q29/q31 emit them) and a
  * deletion decision: transitively-connected documents form one duplicate
  * cluster, and exactly one member per cluster is kept. Pairs alone miss
  * transitivity (A~B, B~C ⇒ {A,B,C} even when A~C was never emitted).
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC 2014 — public literature). Each round is
  * one groupBy-min plus one equi-join per star step; neighbor sets are
  * never collected to a single row, so power-law hub nodes (the failure
  * mode of naive label propagation over collect_list) cost nothing extra,
  * and convergence is O(log n) rounds on any graph — at 100 TB the round
  * count stays in the teens while every round is an ordinary shuffled
  * aggregation Catalyst plans like any other.
  *
  *  - large-star: every node connects its LARGER neighbors to its current
  *    minimum (m(u) = min(N(u) ∪ {u})): edge (v, m(u)) for v ∈ N(u), v > u.
  *  - small-star: on the (u > v)-oriented result, every node connects its
  *    smaller neighbors AND itself to its minimum: (v, m(u)) for
  *    v ∈ N(u) ∪ {u}.
  *
  * At the fixpoint the edge set is a star forest: every non-root node
  * carries exactly the edge (node, componentMin).
  *
  * The reference has no clustering step (its dedup is exact keep-first,
  * cleaner.py:60-64); this is part of the training-data extension surface.
  */
object ConnectedComponents {

  /** Large-star round. Input: symmetric edge set (u, v) with u ≠ v.
    * Output: oriented edges (u, v) with u > v.
    */
  private[dedup] def largeStar(sym: DataFrame): DataFrame = {
    // m(u) = min over N(u) ∪ {u}; min(v) alone is wrong for nodes whose
    // neighbors are all larger than themselves
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.filter(col("v") > col("u"))
      .join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
    // no distinct here: the consumer (smallStar) takes a duplicate-
    // agnostic groupBy-min and dedups its own output — dropping the
    // exchange saves one full shuffle per round
  }

  /** Small-star round. Input: oriented edges (u, v), u > v.
    * Output: oriented edges (u, v), u > v (self-edges dropped).
    */
  private[dedup] def smallStar(oriented: DataFrame): DataFrame = {
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Component assignment for every endpoint of `edges` (long columns
    * `u`, `v`; direction, duplicates and self-loops are all tolerated).
    * Returns (`node`, `label`) where label = the component's minimum node
    * id — the canonical cluster id both engines can agree on.
    */
  def run(edges: DataFrame, maxRounds: Int = 50): DataFrame =
    runWithRounds(edges, maxRounds)._1

  /** As [[run]], additionally returning the contraction round count —
    * the observable the skew smoke asserts O(log n) on (ScaleSmoke's
    * power-law section; a chain component of length L must converge in
    * ~log L alternating rounds, not L).
    */
  def runWithRounds(edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val clean = edges.select(col("u").cast("long"), col("v").cast("long"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))

    // iterative refinement: localCheckpoint each round so the plan does
    // not double in depth per iteration (lineage cut is what makes a
    // driver-side loop over DataFrames viable; blocks are reclaimed by
    // the ContextCleaner when the previous round's frame is dropped).
    // LAZY: the stats aggregate below is the materializing action, so
    // setup costs one job, not an eager-checkpoint job plus a stats job.
    // no defensive distinct here: duplicate input edges cost one full
    // shuffle to remove, survive at most one round (smallStar's own
    // distinct clears them), and cannot fake convergence — a duplicated
    // (u, v) makes |distinct u| < n, so the star-forest test stays
    // conservative and the digest fallback compares unequal counts
    val first = clean.filter(col("u") > col("v"))
      .unionByName(clean.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    var cur = first
    // endpoints off the CHECKPOINT, not the raw input — the edge list is
    // often the tail of an expensive pipeline (LSH pairs), and reading it
    // twice would re-run that pipeline for what is just a projection
    val nodes = first.select(col("u").as("node"))
      .unionByName(first.select(col("v").as("node"))).distinct()

    // Convergence: a (u > v)-oriented edge set is the star-contraction
    // fixpoint exactly when it IS a star forest — every u appears once
    // (one edge per non-root node) and no node is on both sides (roots
    // never re-point). Both are checkable on the CURRENT round's output
    // with one aggregate over a two-sided union (|U| = n and
    // |U ∪ V| = |U| + |V| ⇔ disjoint), so the loop stops the round the
    // forest appears instead of paying a full extra round to observe
    // "nothing changed" (the profile showed exactly one such confirm
    // round per run: ~6 shuffles + a digest for zero information). The
    // (count, xor-hash) digest rides along as a no-progress fallback
    // (xor, not sum: ANSI mode throws on signed-long SUM overflow).
    final case class EdgeStats(n: Long, h: Long, du: Long, dn: Long, dv: Long) {
      def starForest: Boolean = du == n && dn == du + dv
      def digest: (Long, Long) = (n, h)
    }
    def stats(df: DataFrame): EdgeStats = {
      val sided = df.select(col("u"), col("v"), lit(0).as("side"))
        .unionByName(df.select(col("v").as("u"),
          lit(null).cast("long").as("v"), lit(1).as("side")))
      val r = sided.agg(
        count(when(col("side") === 0, 1)).as("n"),
        coalesce(bit_xor(when(col("side") === 0,
          xxhash64(col("u"), col("v")))), lit(0L)).as("h"),
        countDistinct(when(col("side") === 0, col("u"))).as("du"),
        countDistinct(col("u")).as("dn"),
        countDistinct(when(col("side") === 1, col("u"))).as("dv")).head()
      EdgeStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }

    var prev = stats(cur)
    var round = 0
    var done = prev.n == 0L || prev.starForest
    // each round runs ~6 shuffles; size them to the MEASURED edge count
    // (from the digest we already paid for), not the session default — a
    // 20k-edge graph at 32 partitions pays 6 × 32 empty-task overheads
    // per round, while a 100 TB pair list (billions of edges) keeps the
    // session's (large) setting. Scoped set/restore: the loop owns every
    // action between here and convergence. ~2M edges/partition keeps a
    // partition's groupBy hash map comfortably in executor memory.
    // AQE's per-stage re-planning is also pure latency on a loop whose
    // partition count is already sized to measured data — off inside the
    // loop, restored after.
    val spark = edges.sparkSession
    val scoped = Seq(
      // the loop runs ~6 shuffle stages per round, so on a
      // converged-in-one-round small graph (the bench's 1.2k edges) every
      // excess partition is 6 mostly-empty tasks per round of pure launch
      // overhead; [[graft.Sizing.measuredWidth]] is the shared rule
      "spark.sql.shuffle.partitions" ->
        Sizing.measuredWidth(spark, prev.n, 2000000L).toString,
      "spark.sql.adaptive.enabled" -> "false")
    val prior = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      while (!done && round < maxRounds) {
        val sym = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
        // LAZY checkpoint: the stats below are the materializing action,
        // so each round schedules one job instead of an eager-checkpoint
        // job plus a stats job (same total work, half the job-submission
        // round-trips — which is what a busy 1000-executor driver queues on)
        val next = smallStar(largeStar(sym)).localCheckpoint(false)
        val st = stats(next)
        done = st.starForest || st.digest == prev.digest
        prev = st
        cur = next
        round += 1
      }
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // convergence is proven O(log n) rounds for star contraction, so 50
    // covers any physical graph — but if the loop DID exit on the cap,
    // `cur` is not a star forest and the labels below would be silently
    // wrong. Fail loud instead. (The no-progress digest exit requires the
    // same proof: equal digests on a non-forest would mean the contraction
    // is stuck, which the algorithm excludes — assert it anyway.)
    require(done && prev.starForest,
      s"connected components did not converge within $maxRounds rounds " +
        s"(${prev.n} edges remain, starForest=${prev.starForest}) — raise maxRounds")

    // star forest → assignment; roots (and nothing else) are absent from
    // the `u` side and label themselves
    (nodes.join(cur.select(col("u").as("node"), col("v").as("label")), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label")),
      round)
  }
}
