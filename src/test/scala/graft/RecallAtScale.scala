package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.sim.Similarity

/** Measurement main behind RecallAtScaleSpec: recall@3 of the composed
  * IVF+PQ tiers at sf0.1 with PRODUCTION-SHAPED books — cells ~√n, 256
  * codewords per subspace (the classic PQ paper's K) — across nprobe and
  * codebook sizes, raw vs residual coding at identical budgets. Pins the
  * honest thresholds; the spec gates a subset.
  * Run: sbt "Test/runMain graft.RecallAtScale [sfDir]"
  */
object RecallAtScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // 8 cores: RecallAtScaleSpec's bounds cite runs at this count
    val s = Session("graft-recall-at-scale", cpus = 8)

    val e = Tables.embeddings(s, sfDir)
    val n = e.count()
    val exact = Similarity.topkNeighbors(
      e.filter(col("vec_id") % 100 === 0), e, 3)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"corpus $n, exact pairs ${exact.size}")

    val train = e.filter(col("vec_id") % 4 === 0)
    // cells ~ sqrt(n): pick the init modulus giving the closest count
    val cellMod = math.max(1, (n / math.sqrt(n.toDouble)).round.toInt)
    val cents = Similarity.ivfTrain(train,
      e.filter(col("vec_id") % cellMod === 0), 64, 2)
    val nCells = cents.count()
    val asg = Similarity.ivfAssign(e, cents)
    val res = Similarity.residuals(asg, cents)
    println(s"cells $nCells (mod $cellMod)")

    def recallOf(df: DataFrame): Double = {
      val hits = df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
      s.sharedState.cacheManager.clearCache()
      hits.toDouble / exact.size
    }
    def idxOf(vecs: DataFrame, cb: DataFrame): DataFrame =
      vecs.select(col("vec_id"), col("cell"))
        .join(Similarity.pqIndex(vecs.select("vec_id", "embedding"), cb, 8, 64)
          .select(col("vec_id"), col("pcode")), "vec_id")
        .select(col("vec_id").as("n_id"), col("cell"), col("pcode"))

    for (k <- Seq(8, 64, 256)) {
      // K distinct init vectors: the first K corpus ids (raw) / residual
      // rows (residual) — deterministic, production inits sample similarly
      val cbRaw = Similarity.pqTrain(train,
        Similarity.pqCodebook(e.filter(col("vec_id") < k), 8, 64), 8, 64, 2)
      val cbRes = Similarity.pqTrain(res.join(train.select("vec_id"), "vec_id"),
        Similarity.pqCodebook(res.filter(col("vec_id") < k), 8, 64), 8, 64, 2)
      val rawIdx = idxOf(asg, cbRaw)
      val resIdx = idxOf(res, cbRes)
      for (nprobe <- Seq(1, 2, 4, 8, nCells.toInt)) {
        val probes = Similarity.ivfProbes(
          e.filter(col("vec_id") % 100 === 0), cents, nprobe)
        val rRaw = recallOf(Similarity.ivfPqSearch(rawIdx, probes, cbRaw, e, 8, 64, 3))
        val rRes = recallOf(Similarity.ivfPqResidualSearch(resIdx, probes, cbRes, cents, e, 8, 64, 3))
        println(f"K=$k%-4d nprobe=$nprobe%-2d raw=$rRaw%.3f residual=$rRes%.3f")
      }
      // re-rank depth sweep: exact-cosine refine over the ADC top-depth
      for (nprobe <- Seq(2, 8); depth <- Seq(12, 24, 48)) {
        val probes = Similarity.ivfProbes(
          e.filter(col("vec_id") % 100 === 0), cents, nprobe)
        val rRaw = recallOf(Similarity.ivfPqSearch(rawIdx, probes, cbRaw,
          e, 8, 64, 3, rerankDepth = depth))
        val rRes = recallOf(Similarity.ivfPqResidualSearch(resIdx, probes,
          cbRes, cents, e, 8, 64, 3, rerankDepth = depth))
        println(f"K=$k%-4d nprobe=$nprobe%-2d depth=$depth%-3d raw=$rRaw%.3f residual=$rRes%.3f")
      }
    }

    // OPQ tier at the production budget: fixed seeded rotation vs the
    // learned alternation, against the K=256 raw baseline above. Plain
    // ADC recall isolates the quantizer (re-rank + coverage ceilings
    // mask it — CoverageProbe: np=8 caps at 0.600, np=16 at 0.783).
    val k = 256
    val cbRaw = Similarity.pqTrain(train,
      Similarity.pqCodebook(e.filter(col("vec_id") < k), 8, 64), 8, 64, 2)
    val rawIdx = idxOf(asg, cbRaw)
    def idxRot(cb: DataFrame, r: Array[Array[Double]]): DataFrame =
      asg.select(col("vec_id"), col("cell"))
        .join(Similarity.pqIndex(
            Similarity.rotate(asg.select("vec_id", "embedding"), r), cb, 8, 64)
          .select(col("vec_id"), col("pcode")), "vec_id")
        .select(col("vec_id").as("n_id"), col("cell"), col("pcode"))
    val rFixed = Similarity.rotationMatrix(64)
    val cbFixed = Similarity.pqTrain(
      Similarity.rotate(train, rFixed),
      Similarity.pqCodebook(Similarity.rotate(e.filter(col("vec_id") < k), rFixed), 8, 64),
      8, 64, 2)
    val fixedIdx = idxRot(cbFixed, rFixed)
    val (rOpq, cbOpq) = Similarity.opqTrain(train,
      e.filter(col("vec_id") < k), 8, 64, pqIters = 2, opqIters = 4)
    val opqIdx = idxRot(cbOpq, rOpq)
    for (nprobe <- Seq(8, 16, nCells.toInt)) {
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, nprobe)
      val rRaw = recallOf(Similarity.ivfPqSearch(rawIdx, probes, cbRaw, e, 8, 64, 3))
      val rFix = recallOf(Similarity.ivfPqSearch(fixedIdx, probes, cbFixed, e, 8, 64, 3,
        rotation = Some(rFixed)))
      val rOpt = recallOf(Similarity.ivfPqSearch(opqIdx, probes, cbOpq, e, 8, 64, 3,
        rotation = Some(rOpq)))
      println(f"OPQ K=$k nprobe=$nprobe%-2d plain: raw=$rRaw%.3f fixedrot=$rFix%.3f opq=$rOpt%.3f")
    }
    for (nprobe <- Seq(8, 16, 24); depth <- Seq(48)) {
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, nprobe)
      val rRaw = recallOf(Similarity.ivfPqSearch(rawIdx, probes, cbRaw, e, 8, 64, 3,
        rerankDepth = depth))
      val rOpt = recallOf(Similarity.ivfPqSearch(opqIdx, probes, cbOpq, e, 8, 64, 3,
        rerankDepth = depth, rotation = Some(rOpq)))
      println(f"OPQ K=$k nprobe=$nprobe%-2d depth=$depth raw=$rRaw%.3f opq=$rOpt%.3f")
    }
    s.stop()
  }
}
