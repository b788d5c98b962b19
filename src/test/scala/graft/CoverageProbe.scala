package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Dev measurement: the STRUCTURAL recall ceiling of the IVF layer at
  * sf0.1 — the fraction of exact top-3 neighbor pairs whose neighbor
  * lives in one of the query's nprobe probed cells. No PQ involved: this
  * is the number NO codebook improvement (OPQ included) can exceed at a
  * given nprobe, so it adjudicates whether the 0.60 recall plateau is a
  * quantization problem or a cell-coverage problem.
  * Run: sbt "Test/runMain graft.CoverageProbe [sfDir]"
  */
object CoverageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // 8 cores: RecallAtScaleSpec's bounds cite runs at this count
    val s = Session("graft-coverage-probe", cpus = 8)

    val e = Tables.embeddings(s, sfDir)
    val n = e.count()
    val exact = Similarity.topkNeighbors(
      e.filter(col("vec_id") % 100 === 0), e, 3)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val train = e.filter(col("vec_id") % 4 === 0)
    val cellMod = math.max(1, (n / math.sqrt(n.toDouble)).round.toInt)
    val cents = Similarity.ivfTrain(train,
      e.filter(col("vec_id") % cellMod === 0), 64, 2)
    val homeCell = Similarity.ivfAssign(e, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    println(s"corpus $n, cells ${cents.count()}, exact pairs ${exact.length}")

    for (nprobe <- Seq(1, 2, 4, 8, 12, 16, 24, 45)) {
      val probed = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, nprobe)
        .select("vec_id", "cell").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val covered = exact.count { case (q, nb) =>
        probed.getOrElse(q, Set.empty).contains(homeCell(nb))
      }
      println(f"nprobe=$nprobe%-3d coverage_ceiling=${covered.toDouble / exact.length}%.3f")
    }
    s.stop()
  }
}
