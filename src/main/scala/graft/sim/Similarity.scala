package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Exact, VectorFold}

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`array<float>`). (Driver extension surface.)
  *
  * Layout for 100 TB:
  *  - Brute-force top-k broadcasts the QUERY set (small by definition) and
  *    streams the corpus through a BroadcastNestedLoopJoin — one corpus
  *    scan, no corpus shuffle; the only shuffle is the per-query top-k
  *    window keyed by query id (tiny: k rows per query survive the
  *    map-side).
  *  - IVF: centroids broadcast; cell assignment is map-side argmax; the
  *    search joins query-cell to corpus-cell — an equi-join on cell id
  *    that prunes the candidate set by ~|cells|× vs brute force. Larger
  *    deployments re-partition the corpus BY cell once and reuse it
  *    across query batches.
  *  - Cosine math is `zip_with`+`aggregate` (codegen, no UDF), sequential
  *    fold order pinned so a DuckDB oracle reproduces bits exactly
  *    ([[Exact.foldCosine]]).
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = Exact.foldCosine(a, b)

  /** Exact top-k neighbors for each query vector (self excluded).
    * Output: (q_id, n_id, sim, rank).
    */
  def topkNeighbors(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    VectorFold.register(queries.sparkSession)
    // norms are computed once per row (not once per pair); the float ops
    // are identical to inline cosine, so oracle bits don't change
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
      Exact.foldNorm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("nv"),
      Exact.foldNorm(col("embedding")).as("nn"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (Exact.foldDot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The ONE nearest-centroid kernel (broadcast cross + per-vector
    * argmax of cosine, ties → lowest centroid id), shared by
    * [[ivfAssign]] and [[assignDistortion]] so the index and the drift
    * probe can never disagree on what "nearest centroid" means — q110's
    * comparability argument depends on exactly that. Output: one row
    * per input vector, (vec_id, embedding, cent_id, csim) with
    * `carryEmbedding`, (vec_id, cent_id, csim) without — the embedding
    * array would otherwise ride the |vectors|×|centroids| window
    * shuffle only to be discarded (the distortion path needs csim
    * alone).
    */
  private def nearestCentroid(vectors: DataFrame, centroids: DataFrame,
      carryEmbedding: Boolean): DataFrame = {
    VectorFold.register(vectors.sparkSession)
    val c = centroids.select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    val keep = (if (carryEmbedding) Seq(col("vec_id"), col("embedding"))
      else Seq(col("vec_id"))) ++
      Seq(col("cent_id"), cosine(col("embedding"), col("cv")).as("csim"))
    vectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(c))
      .select(keep: _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** IVF cell assignment: nearest centroid by cosine (ties → lowest
    * centroid id). Output: input columns + `cell`.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    nearestCentroid(vectors, centroids, carryEmbedding = true)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))

  /** The served IVF+PQ index rows — (n_id, cell, pcode): home-cell
    * assignment joined to the PQ encoding by id. The ONE definition of
    * the index row shape shared by build (q106), delta ingest
    * (q107/q147), upsert (q148), tombstones (q109), filtered serve
    * (q149), compaction (q146) and their specs/smokes — a drift here
    * would silently fork a gate from its spec. Both sides are keyed and
    * co-sized by vec_id, so at scale this equi-join IS the one-time
    * index-build job; nothing downstream re-touches raw embeddings.
    */
  def buildIvfPqIndex(part: DataFrame, cents: DataFrame, cb: DataFrame,
      m: Int, dim: Int): DataFrame =
    ivfAssign(part, cents).select(col("vec_id"), col("cell"))
      .join(pqIndex(part, cb, m, dim).select(col("vec_id"), col("pcode")),
        "vec_id")
      .select(col("vec_id").as("n_id"), col("cell"), col("pcode"))

  /** Per-vector assignment distortion: `1 − cos` to the nearest trained
    * centroid (the quantity [[ivfTrain]]'s assignment minimizes, so it is
    * directly comparable across batches). This is the books-staleness
    * signal for a persisted index (q107/q109): a post-training batch
    * whose average distortion materially exceeds the training batches'
    * means the frozen cells no longer describe the incoming data and a
    * retrain is due — the number a production ingest pipeline alerts on.
    * Output: (vec_id, dist).
    */
  def assignDistortion(vectors: DataFrame, centroids: DataFrame): DataFrame =
    nearestCentroid(vectors, centroids, carryEmbedding = false)
      .select(col("vec_id"), (lit(1.0) - col("csim")).as("dist"))

  /** IVF search: top-k within the query's own cell (nprobe=1), self
    * excluded. Output: (q_id, n_id, sim, rank).
    */
  def ivfSearch(assigned: DataFrame, queryIds: Column, k: Int): DataFrame = {
    VectorFold.register(assigned.sparkSession)
    val q = assigned.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("cell"))
    val c = assigned
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("qv"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * cluster-then-prune. K-means cells bound the pairwise work; WITHIN a
    * cell a vector is a duplicate iff some lower-id member sits above
    * `tau` cosine (greedy keep-first — deterministic, and the lowest-id
    * member of every cell is always kept). Input is [[ivfAssign]] output
    * (vec_id, embedding, cell); output (cell, vec_id, is_dup).
    *
    * Scale: the quadratic term is per-cell only — the semi/anti joins
    * are equi-joins on `cell` (hash-partitioned both sides, the SAME
    * shuffle reused across the two joins), never corpus×corpus; with
    * cells ≈ √n the worst case is ~n^1.5 spread over all cells. This is
    * precisely the SemDeDup design point: clustering exists to make the
    * within-cluster O(c²) affordable.
    */
  def semDedupFlags(assigned: DataFrame, tau: Double): DataFrame = {
    VectorFold.register(assigned.sparkSession)
    val l = assigned.as("l")
    val r = assigned.select(col("cell"), col("vec_id").as("r_id"),
      col("embedding").as("r_emb")).as("r")
    // the join condition carries the threshold so semi/anti see the
    // identical predicate — one definition, two quantifiers
    val near = col("l.cell") === col("r.cell") &&
      col("r.r_id") < col("l.vec_id") &&
      cosine(col("l.embedding"), col("r.r_emb")) >= tau
    val dups = l.join(r, near, "left_semi")
      .select(col("cell"), col("vec_id"), lit(true).as("is_dup"))
    val kept = l.join(r, near, "left_anti")
      .select(col("cell"), col("vec_id"), lit(false).as("is_dup"))
    dups.unionByName(kept)
  }

  /** SemDeDup, SEQUENTIAL-GREEDY mode — the paper's literal chain
    * semantics, opt-in beside [[semDedupFlags]]'s parallel ∃-lower-id
    * rule: walk each cell in vec_id order and prune a vector iff it is
    * within `tau` of an already-KEPT lower-id member. The two modes
    * diverge exactly on chains: for A < B < C with A~B, B~C, A≁C the
    * parallel rule prunes both B and C (each has *some* lower near
    * neighbor) while the chain keeps C (its only near-lower neighbor B
    * was itself pruned, and pruned documents don't suppress anyone).
    * The parallel rule therefore keeps a SUBSET of the chain's keepers
    * — never more — and SemDedupSpec pins both labelings on a chain
    * fixture.
    *
    * Distributed form: label propagation to FIXPOINT, never a per-cell
    * sequential scan. Each round decides every still-undecided vector
    * whose lower near-neighbors are all labeled: DUP if a KEPT near
    * lower-id member exists (semi-join vs the kept set), KEPT if no
    * undecided-or-kept near lower-id member remains (anti-join) — both
    * equi-joins on `cell` like the parallel mode, per-round lineage cut
    * by localCheckpoint (the ConnectedComponents loop discipline). The
    * minimum undecided member of every cell is decidable each round, so
    * rounds are bounded by the longest similarity CHAIN within a cell —
    * short at any practical tau — with a fail-loud cap, and each round's
    * work is cell-bounded exactly like the parallel mode (the SemDeDup
    * clustering design point, unchanged).
    */
  def semDedupFlagsSequential(assigned: DataFrame, tau: Double,
      maxRounds: Int = 100): DataFrame = {
    VectorFold.register(assigned.sparkSession)
    def near(l: DataFrame, r: DataFrame) =
      l.as("l").join(
        r.select(col("cell"), col("vec_id").as("r_id"),
          col("embedding").as("r_emb")).as("r"),
        col("l.cell") === col("r.cell") &&
          col("r.r_id") < col("l.vec_id") &&
          cosine(col("l.embedding"), col("r.r_emb")) >= tau,
        "left_semi")
    def anti(l: DataFrame, r: DataFrame) =
      l.as("l").join(
        r.select(col("cell"), col("vec_id").as("r_id"),
          col("embedding").as("r_emb")).as("r"),
        col("l.cell") === col("r.cell") &&
          col("r.r_id") < col("l.vec_id") &&
          cosine(col("l.embedding"), col("r.r_emb")) >= tau,
        "left_anti")

    var und = assigned.select(col("cell"), col("vec_id"), col("embedding"))
      .localCheckpoint(false)
    var kept = und.filter(lit(false)).localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var remaining = und.count()
    while (remaining > 0 && round < maxRounds) {
      val newDup = near(und, kept).localCheckpoint(false)
      // a vector is safely KEPT when no undecided-or-kept lower near
      // neighbor remains (every other near-lower member is already DUP,
      // and duplicates suppress no one in chain semantics)
      val blockers = und.unionByName(kept)
      val newKept = anti(und, blockers).localCheckpoint(false)
      out += newDup.select(col("cell"), col("vec_id"), lit(true).as("is_dup"))
        .unionByName(
          newKept.select(col("cell"), col("vec_id"), lit(false).as("is_dup")))
        .localCheckpoint(false)
      val decidedIds = newDup.select("cell", "vec_id")
        .unionByName(newKept.select("cell", "vec_id"))
      und = und.join(decidedIds, Seq("cell", "vec_id"), "left_anti")
        .localCheckpoint(false)
      kept = kept.unionByName(newKept).localCheckpoint(false)
      remaining = und.count()
      round += 1
    }
    require(remaining == 0,
      s"semDedup chain did not resolve within $maxRounds rounds " +
        s"($remaining vectors undecided) — raise maxRounds")
    if (out.isEmpty)
      assigned.select(col("cell"), col("vec_id"), lit(true).as("is_dup"))
        .filter(lit(false))
    else out.reduce(_ unionByName _)
  }

  /** Query-side probe fan-out for multi-probe IVF: each vector's `nprobe`
    * nearest centroids (ties → lowest centroid id). The corpus keeps its
    * single home cell — probing replicates only the (small) query side,
    * so recall grows with `nprobe` at `nprobe×` query-side join input and
    * zero extra corpus shuffle. Output: (vec_id, embedding, cell),
    * `nprobe` rows per vector.
    */
  def ivfProbes(vectors: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    VectorFold.register(vectors.sparkSession)
    val c = centroids.select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    vectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(c))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        cosine(col("embedding"), col("cv")).as("csim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /** Multi-probe IVF search: queries meet the corpus in every probed
    * cell (equi-join on cell id; candidates are unique because a corpus
    * vector lives in exactly one cell). Output: (q_id, n_id, sim, rank).
    */
  def ivfSearchProbes(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    VectorFold.register(assigned.sparkSession)
    val q = probes.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
      col("cell"))
    val c = assigned
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosine(col("qv"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes for random-projection LSH:
    * component i of plane j is `((j·1000003 + i·7919) mod 97 − 48)/48`
    * ∈ [−1, 1] — pure integer math then one division, so an oracle can
    * reproduce every coefficient exactly.
    */
  def rpPlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(j => (0 until dim).map(i =>
      ((j * 1000003 + i * 7919) % 97 - 48) / 48.0))

  /** Random-hyperplane LSH bucket id: bit j set when dot(v, plane_j) ≥ 0.
    * Map-side only — nPlanes dot products per vector, no shuffle.
    */
  def rpLshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (w, j) =>
      // long bits: signatures wider than 31 planes (the grow-r-with-n
      // scale rule at large corpora) must not overflow the bucket id
      when(Exact.foldDot(v, typedlit(w)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Banded RP-LSH near-duplicate pairs — the OR-construction: the
    * `planes.size`-bit signature splits into `bands` bands of
    * `r = planes.size / bands` planes; candidates are pairs agreeing on
    * ≥1 whole band (within `blockCol`), then exact cosine verifies. Per-
    * band match probability for angle θ is `(1 − θ/π)^r`, so recall is
    * `1 − (1 − (1−θ/π)^r)^bands` — at 16 planes / 4 bands ≈ 0.96 for
    * sim 0.9 pairs. Scale rule: grow `r` with corpus size to hold
    * per-bucket membership (`r ≈ log2(n / target_bucket)`), adding bands
    * to keep recall.
    *
    * Plan shape: signature is map-side; only (block, band, key) rows
    * shuffle for the equi-join; vectors join back by id for verification
    * — the same LSH-banding shape as the MinHash dedup path, never a
    * per-block O(n²) explosion.
    * Output: (d1, d2, sim).
    */
  def bandedNearDupPairs(vectors: DataFrame, blockCol: String,
      planes: Seq[Seq[Double]], bands: Int, threshold: Double): DataFrame = {
    VectorFold.register(vectors.sparkSession)
    require(planes.size % bands == 0, "planes must split evenly into bands")
    val r = planes.size / bands
    val sig = vectors.select(col(blockCol).as("blk"), col("vec_id"),
      rpLshBucket(col("embedding"), planes).as("bucket"))
    val banded = sig.select(col("blk"), col("vec_id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("bucket"), b * r).bitwiseAND(lit((1 << r) - 1))): _*))
        .as(Seq("band", "key")))
    val cand = banded.as("a")
      .join(banded.as("b"), col("a.blk") === col("b.blk") &&
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
    val v = vectors.select(col("vec_id"), col("embedding"),
      Exact.foldNorm(col("embedding")).as("nrm"))
    cand
      .join(v.select(col("vec_id").as("d1"), col("embedding").as("v1"),
        col("nrm").as("n1")), "d1")
      .join(v.select(col("vec_id").as("d2"), col("embedding").as("v2"),
        col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (Exact.foldDot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-space benchmark decontamination — the ANN ANTI-JOIN shape:
    * find every TRAIN vector whose cosine against ANY benchmark vector
    * reaches `threshold`, so the caller can drop them (the embedding
    * twin of the shingle semi-join decontamination, catching paraphrased
    * contamination that exact n-grams miss). Contract, mirrored in the
    * oracle exactly like [[bandedNearDupPairs]]: a train vector is
    * indictable only via a benchmark vector sharing ≥1 RP-LSH band.
    *
    * Plan shape for 100 TB: the benchmark set is small by definition —
    * its banded form BROADCASTS, so candidate generation is a map-side
    * hash probe over the train scan (no train shuffle at all); only the
    * surviving candidate ids shuffle to fetch vectors for the exact-
    * cosine verify, and the per-train-id max aggregates partial map-side.
    * Output: (vec_id, max_sim) of CONTAMINATED train vectors.
    */
  def annContaminated(train: DataFrame, bench: DataFrame,
      planes: Seq[Seq[Double]], bands: Int, threshold: Double): DataFrame = {
    VectorFold.register(train.sparkSession)
    require(planes.size % bands == 0, "planes must split evenly into bands")
    val r = planes.size / bands
    def banded(df: DataFrame): DataFrame =
      df.select(col("vec_id"), rpLshBucket(col("embedding"), planes).as("bucket"))
        .select(col("vec_id"),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("bucket"), b * r).bitwiseAND(lit((1 << r) - 1))): _*))
            .as(Seq("band", "key")))
    val cand = banded(train)
      .join(broadcast(banded(bench).withColumnRenamed("vec_id", "bid")),
        Seq("band", "key"))
      .select(col("vec_id"), col("bid")).distinct()
    val tv = train.select(col("vec_id"), col("embedding").as("v1"),
      Exact.foldNorm(col("embedding")).as("n1"))
    val bv = bench.select(col("vec_id").as("bid"), col("embedding").as("v2"),
      Exact.foldNorm(col("embedding")).as("n2"))
    cand.join(tv, "vec_id")
      .join(broadcast(bv), "bid")
      .select(col("vec_id"),
        (Exact.foldDot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id")
      .agg(max(col("sim")).as("max_sim"))
  }

  /** Long-form PQ codebook from explicit codeword source vectors: one row
    * per (subspace `j`, codeword `cent_id`) carrying that codeword's
    * subvector `cv` as `array<double>` — the shape [[pqTrain]] refines and
    * [[pqIndex]] encodes against. Doubles from here on: Lloyd means are
    * doubles, and the float→double cast of an untrained (subset) codeword
    * is exact, so subset-codebook scores are bit-identical to slicing the
    * float source directly.
    */
  def pqCodebook(src: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sub = dim / m
    src.select(col("vec_id").as("cent_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("embedding"))
      .select(col("j"), col("cent_id"),
        transform(slice(col("embedding"), col("j") * sub + 1, lit(sub)),
          x => x.cast("double")).as("cv"))
  }

  /** Map-side per-subspace nearest-codeword assignment. The codebook is
    * regrouped to ONE ROW PER SUBSPACE carrying its codewords as an array
    * sorted by cent_id, so after an 8-row broadcast hash join each vector
    * row runs its own candidate loop ([[graft.functions.PqArgmin]]) — the
    * candidates never become rows, which matters twice: no k× row blowup
    * before a shuffle, and no `min(struct)` aggregation (struct aggregation
    * buffers aren't hash-aggregable, so that form degrades to a
    * SortAggregate over corpus × codewords rows — measured 3× slower here).
    *
    * Squared L2 is `dot(a,a) − 2·dot(a,b) + dot(b,b)` with [[Exact.foldDot]]
    * sequential folds, the exact op order the DuckDB oracle mirrors; the
    * strict `<` fold over the cent_id-ordered array keeps the FIRST
    * minimum — (dist asc, cent_id asc), the oracle's row_number order.
    * Output: (vec_id, j, va, best struct(cent_id, cv)).
    */
  private def pqAssign(vectors: DataFrame, codebook: DataFrame,
      m: Int, sub: Int): DataFrame =
    pqAssignByJ(vectors,
      codebook.groupBy("j")
        .agg(array_sort(collect_list(struct(col("cent_id"), col("cv"))))
          .as("cands"))
        .select(col("j"),
          transform(col("cands"), c => c.getField("cent_id")).as("cent_ids"),
          transform(col("cands"), c => c.getField("cv")).as("cvs")),
      m, sub)

  /** Per-subspace nearest-codeword assignment. `byJ` carries ONE ROW PER
    * SUBSPACE with its codewords as parallel cent_id-sorted arrays —
    * [[pqTrain]] builds that form on the driver (its codebook already
    * lives there between rounds), so the broadcast side is a bare m-row
    * local relation and each Lloyd round is ONE job; after the broadcast
    * hash join each vector row runs its own candidate loop — the native
    * codegen [[graft.functions.PqArgmin]] expression, which reads the
    * broadcast codeword ArrayData in place (a Scala UDF re-boxed the
    * identical nested array per row) and returns the winning INDEX; the
    * winner's id and subvector are plain `element_at` picks. The
    * candidates never become rows, which matters twice: no k× row blowup
    * before a shuffle, and no `min(struct)` aggregation (struct
    * aggregation buffers aren't hash-aggregable, so that form degrades
    * to a SortAggregate over corpus × codewords rows — measured 3×
    * slower here).
    * Output: (vec_id, j, va, best struct(cent_id, cv)).
    */
  private def pqAssignByJ(vectors: DataFrame, byJ: DataFrame,
      m: Int, sub: Int): DataFrame = {
    val va = transform(slice(col("embedding"), col("j") * sub + 1, lit(sub)),
      x => x.cast("double"))
    vectors.select(col("vec_id"), col("embedding"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("embedding"))
      .select(col("vec_id"), col("j"), va.as("va"))
      .join(broadcast(byJ), Seq("j"))
      .withColumn("bi", VectorFold.pqArgmin(col("va"), col("cvs")) + 1)
      .select(col("vec_id"), col("j"), col("va"), col("bi"),
        struct(element_at(col("cent_ids"), col("bi")).as("cent_id"),
          element_at(col("cvs"), col("bi")).as("cv")).as("best"))
  }

  /** Lloyd's k-means refinement of a PQ codebook, as DataFrame ops — the
    * production ingredient the `vec_id % 97` subset device stood in for:
    * `iters` rounds of (assign every training subvector to its nearest
    * codeword) → (recenter each codeword on the mean of its assignees),
    * per subspace. Codewords that attract no assignees keep their previous
    * position (the deterministic empty-cluster rule, mirrored in the
    * oracle's left-join/coalesce).
    *
    * 100 TB shape: assignment is the same broadcast-probe-over-the-scan as
    * encoding ([[pqAssignByJ]]); the recenter groups on (j, cent_id) — at most
    * m × |codebook| groups, partial-aggregated map-side — so per-iteration
    * cost is one training scan plus a codebook-sized shuffle. PQ codebooks
    * train on a SAMPLE by standard practice (the classic PQ paper trains
    * 256-codeword books on ~100k vectors); callers pass that sample as
    * `train`, never 100 TB — the corpus here is already sample-sized.
    * Between rounds the codebook lives ON THE DRIVER (the MLlib KMeans
    * shape): it is k×m rows by construction, so the per-round collect is
    * small-by-construction — same class as the CC convergence stats — and
    * the next round broadcasts a local relation instead of paying a
    * materialize + join per iteration (measured: the join/checkpoint form
    * cost ~1 s/round of pure scheduling overhead on a 168-row codebook).
    * The training-assignment plan shape stays audited through the shared
    * [[pqAssignByJ]] the q100 ENCODE path exposes to PlanAuditSpec.
    *
    * Bit-exact contract (how a DuckDB oracle reproduces trained doubles):
    * assignment ties break on lowest cent_id; each mean sums its members'
    * subvectors ELEMENTWISE IN vec_id ORDER via one sequential
    * `aggregate`+`zip_with` fold from a zero vector, then divides by the
    * member count — `list_reduce(list_prepend(0.0, list(… ORDER BY
    * vec_id)))` per dimension on the oracle side, the same IEEE op
    * sequence; codewords no member picked keep their position (the
    * driver-side merge ≡ the oracle's left-join/coalesce). PqIndexSpec
    * pins the whole loop against a JVM twin.
    */
  def pqTrain(train: DataFrame, init: DataFrame, m: Int, dim: Int,
      iters: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    VectorFold.register(train.sparkSession)
    val sub = dim / m
    val session = train.sparkSession
    import session.implicits._
    // grouped-by-subspace form built on the DRIVER (codewords sorted by
    // cent_id, the argmin tie order), so the broadcast side is a bare
    // m-row local relation and each round is one job
    def toByJ(cb: Map[(Int, Long), Seq[Double]]): DataFrame =
      cb.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
        .map { case (j, cws) =>
          val sorted = cws.sortBy(_._1._2)
          (j, sorted.map(_._1._2), sorted.map(_._2))
        }
        .toDF("j", "cent_ids", "cvs")
    var cb: Map[(Int, Long), Seq[Double]] =
      init.select("j", "cent_id", "cv").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    for (_ <- 0 until iters) {
      val upd = pqAssignByJ(train, toByJ(cb), m, sub)
        .select(col("j"), col("best.cent_id").as("cent_id"),
          col("vec_id"), col("va"))
        // a degenerate training subvector (NaN/Inf component) has no
        // nearest codeword (pq_argmin → null): exclude it from the
        // recenter — its "mean" would poison a codeword, and the row
        // collector below reads a null cent_id as codeword 0 (primitive
        // getLong), silently corrupting that cell. Encoding (pqIndex)
        // PROPAGATES the null instead: the dirty vector's dv nulls out
        // and its score sorts nulls-last (it can only surface in a
        // ≤ k-candidate cell, always with a null score), but it is
        // never dropped from the index.
        .filter(col("cent_id").isNotNull)
        .groupBy("j", "cent_id")
        // vec_id leads the struct, so array_sort pins member order; the
        // per-group list is bounded by the TRAINING SAMPLE size, the same
        // small-by-construction bound the two-pass deciles rely on
        .agg(array_sort(collect_list(struct(col("vec_id"), col("va"))))
          .as("rows"))
        .select(col("j"), col("cent_id"),
          transform(
            aggregate(transform(col("rows"), r => r.getField("va")),
              typedlit(Seq.fill(sub)(0.0d)),
              (acc, x) => zip_with(acc, x, (a, b) => a + b)),
            s => s / size(col("rows"))).as("ncv"))
        .collect()
      cb = cb ++ upd.map(r =>
        (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2))
    }
    // return the long form pqIndex/pqCodebook speak
    cb.toSeq.sortBy(_._1)
      .map { case ((j, cid), cv) => (j, cid, cv) }
      .toDF("j", "cent_id", "cv")
  }

  /** Composed IVF+PQ search — the corpus-scale ANN tier every production
    * vector store ships, assembled from the two halves q66 and q100 prove
    * separately: IVF cell probing BOUNDS the candidate set (query-side
    * nprobe fan-out only — the corpus keeps its single home cell, so
    * candidates stay unique and the corpus never replicates), and PQ
    * codes RANK it via true table-ADC (asymmetric distance computation):
    * each probe precomputes a flat lookup table `tdot[j·K + p] =
    * dot(query subvector j, codeword p)` against the broadcast codebook,
    * the codebook side contributes the query-independent codeword norms
    * `tn2` once, and scoring a candidate is then m array derefs + m adds
    * — O(m) per candidate instead of O(dim) multiplies, against an index
    * row of m small ints instead of dim doubles. psim is algebraically
    * cosine(query, decoded vector), and the IEEE op order is pinned for
    * the oracle: each table entry is one sub-wide sequential fold, the m
    * looked-up entries sum in subspace order from 0.0 (NOT one flat
    * dim-wide fold — the grouping differs in the last bits, and the
    * oracle mirrors the grouped order).
    *
    * `index` is the PERSISTED form — (n_id, cell, pcode): home cell from
    * [[ivfAssign]], positional codes from [[pqIndex]], and NO raw
    * embedding and no decoded vector either (the whole point: the
    * candidate scan carries m×4 bytes per vector, a 64× cut vs the
    * dim×8-byte decoded form, which is why PQ indexes fit in memory at
    * corpus scale). The top-k selection runs entirely on that compressed
    * index; only the k×|queries| WINNERS then re-join `source`
    * (broadcast of the tiny winner set, hash probe over the source scan)
    * to surface the true cosine — so quantization error is visible in
    * the output without the candidate stage ever touching raw vectors.
    * A null pcode entry (degenerate NaN subvector) propagates: its
    * lookup nulls the fold and psim, so the row sorts after every real
    * score (nulls-last DESC in both engines) and can surface only when
    * its cell has ≤ k candidates — always with psim null, never with a
    * fabricated score — the [[pqIndex]] encode contract unchanged.
    * Output: (q_id, n_id, psim, sim, rank).
    */
  def ivfPqSearch(index: DataFrame, probes: DataFrame, codebook: DataFrame,
      source: DataFrame, m: Int, dim: Int, k: Int,
      rerankDepth: Int = 0,
      rotation: Option[Array[Array[Double]]] = None): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    VectorFold.register(index.sparkSession)
    val sub = dim / m
    val flat = flattenedCodebook(codebook)
      .select(col("allCvs"),
        flatten(transform(col("allCvs"),
          cvsJ => transform(cvsJ, cv => Exact.foldDot(cv, cv)))).as("tn2"),
        col("kk"))
    // per-probe ADC tables: one sub-wide fold per (j, codeword), flat in
    // (j, position) order; qn once per probe — all on the tiny query side.
    // An OPQ `rotation` applies to the ADC side ONLY (the codebook was
    // trained in rotated space, so the query must ask its table in that
    // space); cell probing and the exact re-rank tail stay in the
    // original space — the raw probe embedding flows to topKRejoin
    // untouched, so `sim` remains the true cosine.
    val qvAdc = rotation
      .map(r => rotateUdf(r)(col("qv").cast("array<double>")))
      .getOrElse(col("qv"))
    val q = probes
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("cell"))
      .withColumn("qvr", qvAdc)
      .crossJoin(broadcast(flat))
      .select(col("q_id"), col("qv"), col("cell"),
        adcTable(col("qvr"), col("allCvs"), sub).as("tdot"),
        col("tn2"), col("kk"), Exact.foldNorm(col("qvr")).as("qn"))
    val scored = index.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (lookupSum(m, col("tdot")) / (col("qn") * sqrt(lookupSum(m, col("tn2")))))
          .as("psim"))
    topKRejoin(scored, probes, source, k, math.max(k, rerankDepth))
  }

  /** Cell-relative residuals — the IVFADC ingredient: PQ codes carry far
    * more information when they encode `vec − centroid` instead of the
    * raw vector, because the centroid already explains the coarse
    * position and the codebook's quantization budget is spent entirely
    * on the (much smaller) within-cell displacement. Input is
    * [[ivfAssign]]'s (vec_id, embedding, cell); output keeps the shape
    * with `embedding` rewritten to the double residual, so the whole PQ
    * stack ([[pqCodebook]]/[[pqTrain]]/[[pqIndex]]) runs on residuals
    * unchanged. Map-side: one broadcast hash join on the k-row centroid
    * table, one `zip_with` — no shuffle, no corpus replication.
    *
    * Bit-exact contract: each element is `CAST(e_i AS DOUBLE) − c_i`,
    * one IEEE subtraction on exactly-converted operands — order-free per
    * element, so the oracle's `list_transform` replays it exactly. A NaN
    * embedding component stays NaN in the residual and flows into the
    * encode null contract unchanged.
    */
  def residuals(assigned: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    assigned.join(broadcast(c), Seq("cell"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("cvec"),
          (x, cc) => x.cast("double") - cc).as("embedding"),
        col("cell"))
  }

  /** Composed IVF+PQ search over RESIDUAL codes — [[ivfPqSearch]]'s
    * table-ADC upgraded to the classic IVFADC reconstruction
    * `v̂ = c_cell + decode(residual codes)`. Scoring stays O(m) per
    * candidate because every query-independent term is precomputed on
    * the broadcast side:
    *
    *   cos(q, c + r̂) = (dot(q,c) + Σⱼ dot(qⱼ, r̂ⱼ))
    *                  / (‖q‖ · sqrt(‖c‖² + Σⱼ (2·dot(cⱼ, r̂ⱼ) + ‖r̂ⱼ‖²)))
    *
    * Per probe, `qc = dot(q, c_probedCell)` and the `tdot` table are
    * query-side work as before; the NEW per-cell table `crossT[j·K+p] =
    * 2·dot(cⱼ, cwₚ) + dot(cwₚ, cwₚ)` (plus `cn2 = ‖c‖²`) is the FAISS
    * "precomputed tables" idea — k_cells × m × K doubles built ONCE from
    * the broadcast centroids × codebook, independent of both corpus and
    * queries. A candidate still costs m derefs + m adds per table; the
    * candidate scan still reads (cell, pcode) only; the rank exchange
    * still moves (q_id, n_id, psim) triples; only the k winners touch
    * raw vectors (the [[ivfPqSearch]] contract, unchanged). IEEE op
    * order pinned for the oracle: `qc + (per-subspace folds summed in j
    * order from 0.0)` over `qn · sqrt(cn2 + (crossT entries summed the
    * same way))`; a null pcode (NaN residual subvector) nulls both sums
    * and psim, so the row sorts after every real score (nulls-last DESC
    * in both engines) and can surface only when its cell has ≤ k
    * candidates — always with psim null, never with a fabricated score.
    * Output: (q_id, n_id, psim, sim, rank).
    */
  def ivfPqResidualSearch(index: DataFrame, probes: DataFrame,
      codebook: DataFrame, cents: DataFrame, source: DataFrame,
      m: Int, dim: Int, k: Int, rerankDepth: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    VectorFold.register(index.sparkSession)
    val sub = dim / m
    val flat = flattenedCodebook(codebook)
    // per-cell reconstruction constants (query-independent, built once):
    // cn2 = ||c||^2; crossT[j*K+p] = 2*dot(c_j, cw_p) + dot(cw_p, cw_p)
    val cellT = cents
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
      .crossJoin(broadcast(flat.select("allCvs")))
      .select(col("cell"), col("cvec"),
        Exact.foldDot(col("cvec"), col("cvec")).as("cn2"),
        flatten(transform(col("allCvs"), (cvsJ, j) =>
          transform(cvsJ, cw =>
            lit(2.0d) * Exact.foldDot(slice(col("cvec"), j * sub + 1, lit(sub)), cw)
              + Exact.foldDot(cw, cw)))).as("crossT"))
    // per-probe ADC tables: tdot against the codebook (as ivfPqSearch),
    // plus the probed cell's qc/cn2/crossT — all broadcast-side
    val q = probes
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("cell"))
      .crossJoin(broadcast(flat))
      .join(broadcast(cellT), Seq("cell"))
      .select(col("q_id"), col("cell"),
        adcTable(col("qv"), col("allCvs"), sub).as("tdot"),
        col("crossT"), col("cn2"), col("kk"),
        Exact.foldDot(col("qv"), col("cvec")).as("qc"),
        Exact.foldNorm(col("qv")).as("qn"))
    val scored = index.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        ((col("qc") + lookupSum(m, col("tdot"))) /
          (col("qn") * sqrt(col("cn2") + lookupSum(m, col("crossT")))))
          .as("psim"))
    topKRejoin(scored, probes, source, k, math.max(k, rerankDepth))
  }

  /** One-row broadcast form of a long-form codebook: codewords grouped
    * per subspace, cent_id-sorted (the pqAssign POSITION order `pcode`
    * indexes into), flattened so entry j·K+p is subspace j's codeword p;
    * `kk` = codewords per subspace. Shared by both ADC tiers — a change
    * to the positional layout here changes BOTH dereference sites or
    * neither.
    */
  private def flattenedCodebook(codebook: DataFrame): DataFrame =
    codebook.groupBy("j")
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cv"))))
        .as("cands"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("j"), col("cands")))).as("js"))
      .select(transform(col("js"),
        x => transform(x.getField("cands"), c => c.getField("cv")))
        .as("allCvs"))
      .select(col("allCvs"), size(element_at(col("allCvs"), 1)).as("kk"))

  /** The per-probe ADC lookup table: one sub-wide sequential fold per
    * (subspace j, codeword), flat in (j, position) order — `tbl[j·K+p] =
    * dot(query subvector j, codeword p)`.
    */
  private def adcTable(qv: Column, allCvs: Column, sub: Int): Column =
    flatten(transform(allCvs, (cvsJ, j) =>
      transform(cvsJ, cv => Exact.foldDot(
        transform(slice(qv, j * sub + 1, lit(sub)),
          x => x.cast("double")), cv))))

  /** Score-side table dereference: m lookups by positional code, summed
    * in j order from 0.0 — the pinned ADC summation grouping every
    * oracle mirrors. Evaluates against the row's `pcode` and `kk`.
    */
  private def lookupSum(m: Int, tbl: Column): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, j) =>
      acc + element_at(tbl, j * col("kk") + element_at(col("pcode"), j + 1)))

  /** The shared search tail: rank scored candidates per query on
    * (psim DESC, n_id) — the rank exchange moves ONLY the
    * (q_id, n_id, psim) triple, never a dim-wide vector (riding the raw
    * query vector would multiply candidate shuffle bytes ~17× at
    * dim=64) — keep the top `depth`, re-attach the query vector to the
    * depth×|queries| winners (probes carry one identical embedding per
    * probed cell, so `first()` per q_id is deterministic), and join the
    * source table for the true cosine.
    *
    * `depth == k` is the plain tier: `rank` is the ADC rank and the
    * true cosine is informational. `depth > k` is the REFINE stage of
    * standard IVFADC practice: the quantized score only has to get a
    * true neighbor into the top `depth` (a far weaker ask than top k),
    * then the exact cosine — computed for depth×|queries| rows only,
    * still never inside the candidate scan — re-ranks and cuts to k, so
    * `rank` becomes the exact-cosine rank (ties → n_id). Quantization
    * error then costs recall only when it pushes a true neighbor below
    * depth; RecallAtScaleSpec measures the lift at production books.
    */
  private def topKRejoin(scored: DataFrame, probes: DataFrame,
      source: DataFrame, k: Int, depth: Int): DataFrame = {
    require(depth >= k, s"re-rank depth $depth < k $k")
    val w = Window.partitionBy("q_id").orderBy(col("psim").desc, col("n_id"))
    val top = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= depth)
    val qvs = probes.groupBy(col("vec_id").as("q_id"))
      .agg(first(col("embedding")).as("qv"))
    val rejoined = broadcast(top.join(qvs, "q_id"))
      .join(source.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
        "n_id")
      .select(col("q_id"), col("n_id"), col("psim"),
        Exact.foldCosine(col("qv"), col("nv")).as("sim"), col("rank"))
    if (depth == k) rejoined
    else {
      // exact re-rank over the depth-deep winner set (depth rows per
      // query — a tiny window), then cut to k. NULL sims (a null-pcode
      // candidate that surfaced in a sparse cell) sort last, as in the
      // ADC rank.
      val wx = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      rejoined
        .withColumn("rank", row_number().over(wx).cast("long"))
        .filter(col("rank") <= k)
    }
  }

  /** K-means-trained IVF centroids — [[pqTrain]] generalized to FULL-WIDTH
    * vectors: one subspace spanning the whole embedding (m=1), so the
    * identical Lloyd loop, tie-break (lowest cent_id), vec_id-ordered
    * sequential recenter fold, empty-cell keep-position rule, and NaN
    * exclusion all carry over — and so does the bit-exact DuckDB replay
    * contract PqIndexSpec pins. This replaces the `vec_id % 97` subset
    * device as the CELL QUALITY ingredient: Lloyd's descends the
    * squared-L2 assignment distortion the subset init merely samples
    * (IvfTrainSpec asserts trained cells strictly beat the subset on
    * full-corpus distortion).
    *
    * Like the PQ codebook, IVF centroids train on a SAMPLE by standard
    * practice (the IVF literature trains k cells on O(k·100) vectors);
    * each Lloyd round is one broadcast-probe job over the sample plus a
    * k-row driver collect — the [[pqTrain]] shape unchanged.
    *
    * Output: (vec_id, embedding) centroid rows — the exact shape
    * [[ivfAssign]]/[[ivfProbes]] take, with `embedding` as
    * `array<double>` (the cosine fold casts float→double per element
    * either way, so an UNTRAINED centroid passed through here scores
    * bit-identically to its float source).
    */
  def ivfTrain(train: DataFrame, init: DataFrame, dim: Int,
      iters: Int): DataFrame =
    pqTrain(train, pqCodebook(init, 1, dim), 1, dim, iters)
      .select(col("cent_id").as("vec_id"), col("cv").as("embedding"))

  /** Product-quantization index: split each `dim`-wide embedding into `m`
    * subspaces of `dim/m` dims; per subspace, snap the subvector to its
    * nearest codeword (squared-L2 argmin, ties → lowest codeword id) from
    * the given long-form `codebook` ([[pqCodebook]] subset or [[pqTrain]]
    * trained — same plan either way, only reconstruction error differs).
    * Output: (vec_id, codes, pcode, dv) where `codes` is the m-byte PQ
    * code (one codeword id per subspace), `pcode` its POSITIONAL form
    * (1-based index into the cent_id-sorted codewords — the form
    * [[ivfPqSearch]]'s ADC tables index by), and `dv` the decoded
    * (reconstructed) vector for decode-on-read consumers (q100) —
    * deliberately NO raw embedding column (the index would otherwise
    * carry the very bytes it exists to avoid scanning); callers needing
    * the true vector re-join the source table by vec_id (the
    * true-cosine column).
    *
    * 100 TB shape: the codebook is a broadcast (codewords × m subvectors);
    * encoding is one broadcast join + per-subspace argmin — map-side per
    * corpus row, no corpus shuffle (the groupBy re-assembling subspaces
    * keys on vec_id, which partial-aggregates map-side: m rows per key).
    * What a deployment PERSISTS is `codes` — m bytes against the raw
    * vector's dim×4 (16 B vs 256 B here, 16×) — and `dv` is decode-on-read
    * from the broadcast codebook at scan time, which is how the scan gets
    * its 16× bandwidth cut. Like the IVF index, built once, queried many
    * times.
    *
    * Distance/ranking floats stay bit-exact across engines: squared L2 is
    * the [[graft.functions.PqArgmin]] fold decomposition; q100's
    * decode-on-read cosine is ONE dim-wide fold over `dv`, while
    * [[ivfPqSearch]]'s table-ADC sums per-subspace folds in j order —
    * two different (both pinned) IEEE groupings, each mirrored by its
    * oracle.
    */
  def pqIndex(vectors: DataFrame, codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    VectorFold.register(vectors.sparkSession)
    val sub = dim / m
    // the argmin happens map-side inside pqAssign; the only shuffle is
    // the groupBy(vec_id) re-assembling the m subspace codes per vector
    // (m rows per key, partial-aggregated map-side). The raw embedding
    // never enters the shuffle at all (only id, j, codeword) — callers
    // re-join the original table by vec_id when they need it.
    pqAssign(vectors, codebook, m, sub)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"),
          col("best.cent_id").as("cent_id"), col("bi"),
          col("best.cv").as("sub"))))
        .as("parts"))
      .select(col("vec_id"),
        transform(col("parts"), p => p.getField("cent_id")).as("codes"),
        // positional form: 1-based index into the cent_id-sorted codeword
        // array per subspace — what [[ivfPqSearch]]'s ADC tables index by
        transform(col("parts"), p => p.getField("bi")).as("pcode"),
        flatten(transform(col("parts"), p => p.getField("sub"))).as("dv"))
  }

  /** INDEX COMPACTION (q146): persist a SERVED code set — base ∪ delta
    * − tombstones, the exact stream q109 anti-joins per query — as the
    * new base index, so tombstoned codes are physically reclaimed, the
    * delta's rows fold into the base files, and serving drops the
    * per-query anti-join until the next delete lands.
    *
    * Scale contract: the rewrite moves (n_id, cell, pcode) rows ONLY —
    * the raw corpus is never re-read, nothing re-encodes, no retrain —
    * so compaction I/O is INDEX-sized (m×4 B codes per vector vs the
    * raw vector's dim×4 B), schedulable at any corpus size. Rows are
    * range-clustered by home cell before the write, so each parquet
    * file holds a contiguous cell range and the write-through manifest's
    * [min_cell, max_cell] bounds give a cell-probing serve path
    * file-level pruning for free ([[graft.sources.ManifestFileIndex]]
    * composes over the same manifest). CompactAnnSpec pins the
    * physical claims (row-set equality with the served stream, no
    * tombstoned id survives); the q146 gate pins that search answers
    * are bit-identical to q109's serve — compaction must never change
    * an answer.
    */
  def compactIndex(served: DataFrame, dir: String,
      numFiles: Option[Int] = None): DataFrame = {
    val spark = served.sparkSession
    // default: let the range shuffle size itself (AQE coalesces a small
    // index into few right-sized files; a 100 TB index keeps the full
    // partition count). `numFiles` pins the layout where a caller — or
    // CompactAnnSpec's pruning case — needs a deterministic file count.
    val clustered = numFiles match {
      case Some(n) => served.repartitionByRange(n, col("cell"), col("n_id"))
      case None => served.repartitionByRange(col("cell"), col("n_id"))
    }
    // MVCC publish, NOT writeThrough(overwrite): the natural production
    // call compacts the base index IN PLACE, i.e. `served` READS `dir` —
    // an overwrite would clear the tree before the lazy plan scans it,
    // destroying the input it is compacting. publishVia materializes into
    // a sibling staging dir first and commits the next manifest version under
    // the writer lock; the pre-compaction snapshot's files stay on disk
    // (readable via FileManifest.readAsOf) until vacuum retention. The
    // returned frame plans through the manifest — membership is the
    // CURRENT version, never the raw directory union.
    graft.sources.FileManifest.publishVia(
      clustered, s"${dir}_compact_staging", dir, cols = Seq("cell"))
    // compaction is the maintenance point where table formats hook
    // snapshot expiration (Delta OPTIMIZE→VACUUM, Iceberg
    // expire_snapshots) — without it, every publish adds a history
    // manifest that all later refresh/coverage passes must union, so an
    // often-compacted index degrades without bound. Amortized: vacuum
    // only once history depth exceeds 4× the retention target (a pure
    // directory listing — zero Spark jobs on the no-op path), so a
    // compaction burst pays no cleanup inline while depth stays bounded
    // at threshold + burst width. keepVersions=2 keeps the
    // pre-compaction snapshot readable for in-flight as-of readers; the
    // grace window additionally spares anything younger than the
    // default retention.
    // graceMs is sized to THIS table's write discipline, not the global
    // default: vacuum's 10-min grace exists to spare unlocked
    // append→refresh windows, but every write to an index dir goes
    // through locked publishVia/writeThrough — there is no unlocked
    // window. Under the default, a compaction burst's expired manifests
    // all have sub-10-min-old exclusive files, so the resurrection
    // guard spares every one: depth grows past the threshold unbounded
    // and each further compaction pays vacuum's full all-manifest read
    // while reaping NOTHING. One minute covers any reader that resolved
    // paths moments ago; older as-of readers are bounded by
    // keepVersions, the documented loud-failure contract.
    if (graft.sources.FileManifest.versions(spark, dir).size > 8)
      graft.sources.FileManifest.vacuum(spark, dir, graceMs = 60000L,
        keepVersions = 2)
    graft.sources.ManifestFileIndex.read(spark, dir)
      .select("n_id", "cell", "pcode")
  }

  // ---- OPQ: orthogonal rotation before PQ --------------------------------

  /** Deterministic orthogonal matrix (rows orthonormal): modified
    * Gram-Schmidt over a SplitMix64-filled matrix with a FIXED seed —
    * the "fixed random rotation" PQ pre-transform (OPQ's non-parametric
    * baseline; FAISS ships it as `OPQ`'s init and as `RandomRotation`).
    * Bit-exact replayable: same seed → same matrix, and applying it is
    * one matrix multiply per vector.
    */
  def rotationMatrix(dim: Int, seed: Long = 0x5DEECE66DL): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val a = Array.fill(dim, dim)(next())
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        var d = 0.0
        var k = 0
        while (k < dim) { d += a(i)(k) * a(j)(k); k += 1 }
        k = 0
        while (k < dim) { a(i)(k) -= d * a(j)(k); k += 1 }
      }
      var n2 = 0.0
      var k = 0
      while (k < dim) { n2 += a(i)(k) * a(i)(k); k += 1 }
      val n = math.sqrt(n2)
      require(n > 1e-12, s"degenerate Gram-Schmidt row $i — change the seed")
      k = 0
      while (k < dim) { a(i)(k) /= n; k += 1 }
    }
    a
  }

  /** y = R·x per vector, as a broadcast-matrix JVM kernel (dim² mults per
    * row, map-side, no shuffle). Null vectors stay null. The rotated
    * column is `array<double>`, which the whole PQ stack accepts
    * unchanged (its slices cast elementwise anyway).
    */
  def rotate(vectors: DataFrame, r: Array[Array[Double]]): DataFrame =
    vectors.withColumn("embedding",
      rotateUdf(r)(col("embedding").cast("array<double>")))

  private def rotateUdf(r: Array[Array[Double]]) =
    udf { (x: Seq[Double]) =>
      if (x == null) null
      else {
        val n = r.length
        val xa = x.toArray
        val y = new Array[Double](n)
        var i = 0
        while (i < n) {
          val ri = r(i)
          var s = 0.0
          var j = 0
          while (j < n) { s += ri(j) * xa(j); j += 1 }
          y(i) = s
          i += 1
        }
        y
      }
    }

  private def matInv(m0: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m0.length
    // Gauss-Jordan with partial pivoting — deterministic pivot choice
    val a = Array.tabulate(n, 2 * n)((i, j) =>
      if (j < n) m0(i)(j) else if (j - n == i) 1.0 else 0.0)
    for (c <- 0 until n) {
      var p = c
      for (r <- c + 1 until n) if (math.abs(a(r)(c)) > math.abs(a(p)(c))) p = r
      val t = a(c); a(c) = a(p); a(p) = t
      require(math.abs(a(c)(c)) > 1e-14, "singular matrix in polar iteration")
      val d = a(c)(c)
      for (j <- 0 until 2 * n) a(c)(j) /= d
      for (r <- 0 until n) if (r != c) {
        val f = a(r)(c)
        if (f != 0.0) for (j <- 0 until 2 * n) a(r)(j) -= f * a(c)(j)
      }
    }
    Array.tabulate(n, n)((i, j) => a(i)(j + n))
  }

  /** The orthogonal POLAR factor of `m` (= U·Vᵀ of its SVD) via Newton's
    * iteration Q ← ½(Q + Q⁻ᵀ) — the closed-form Procrustes solution
    * `argmax_R tr(Rᵀ m)` over orthogonal R, without needing a full SVD.
    * Quadratic convergence for nonsingular m; deterministic (fixed
    * iteration count cap, driver-side d×d arithmetic).
    */
  private[graft] def polarOrthogonal(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    var fro = 0.0
    for (i <- 0 until n; j <- 0 until n) fro += m(i)(j) * m(i)(j)
    require(fro > 0, "zero matrix has no polar factor")
    val scale = 1.0 / math.sqrt(fro)
    var q = Array.tabulate(n, n)((i, j) => m(i)(j) * scale)
    var it = 0
    var delta = Double.MaxValue
    while (it < 100 && delta > 1e-13) {
      val qi = matInv(q)
      val next = Array.tabulate(n, n)((i, j) => 0.5 * (q(i)(j) + qi(j)(i)))
      delta = 0.0
      for (i <- 0 until n; j <- 0 until n)
        delta = math.max(delta, math.abs(next(i)(j) - q(i)(j)))
      q = next
      it += 1
    }
    q
  }

  /** OPQ training (Ge, He, Ke, Sun, "Optimized Product Quantization",
    * CVPR 2013 — the non-parametric alternating solver): jointly learn
    * an orthogonal rotation R and a PQ codebook minimizing
    * Σ‖R·x − q(R·x)‖². Each round (a) Lloyd-refines the codebook in the
    * CURRENT rotated space ([[pqTrain]] unchanged — warm-started from
    * the previous round's book), (b) encodes the rotated sample and
    * accumulates the d×d correlation M = Σ q(R·x)·xᵀ DISTRIBUTED
    * (treeAggregate of per-partition outer-product sums — d² doubles per
    * partition, never a per-row collect), and (c) re-solves R as M's
    * orthogonal polar factor (the Procrustes optimum). The returned
    * rotation is a plain matrix: applying it is one fixed matrix
    * multiply per vector, bit-exact replayable at encode and query time.
    *
    * Like every trainer here, runs on a SAMPLE by standard practice; the
    * rotation and codebook are then fixed artifacts for corpus-scale
    * encoding. `r0` seeds the alternation (the fixed
    * [[rotationMatrix]] by default — starting from a variance-balancing
    * rotation beats identity when leading dimensions dominate).
    */
  def opqTrain(train: DataFrame, init: DataFrame, m: Int, dim: Int,
      pqIters: Int, opqIters: Int,
      r0: Array[Array[Double]] = null): (Array[Array[Double]], DataFrame) = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    // cb is only assigned inside the alternation loop: opqIters = 0 would
    // feed a null codebook into the final pqTrain — fail with the real
    // contract instead of an NPE three calls deep
    require(opqIters >= 1, s"opqIters=$opqIters: OPQ needs >= 1 alternation round")
    var r = if (r0 != null) r0 else rotationMatrix(dim)
    var cb: DataFrame = null
    for (_ <- 0 until opqIters) {
      val rot = rotate(train, r)
      cb = pqTrain(rot,
        if (cb == null) pqCodebook(rotate(init, r), m, dim) else cb,
        m, dim, pqIters)
      val enc = pqIndex(rot, cb, m, dim).select(col("vec_id"), col("dv"))
      val pairs = train
        .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
        .join(enc, "vec_id")
        .select(col("dv"), col("x"))
      val flatM = pairs.rdd.treeAggregate(new Array[Double](dim * dim))(
        (acc, row) => {
          val y = row.getSeq[Double](0)
          val x = row.getSeq[Double](1)
          var i = 0
          while (i < dim) {
            val yi = y(i)
            var j = 0
            while (j < dim) { acc(i * dim + j) += yi * x(j); j += 1 }
            i += 1
          }
          acc
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      r = polarOrthogonal(Array.tabulate(dim, dim)((i, j) => flatM(i * dim + j)))
    }
    // final Lloyd pass in the final rotation, so book and rotation agree
    ((r, pqTrain(rotate(train, r), cb, m, dim, pqIters)))
  }

  /** Persist trained OPQ artifacts — the rotation as (i, j, v) rows, the
    * codebook in its long (j, cent_id, cv) form — under one root, so an
    * encode/search session REPLAYS a training session bit-for-bit
    * without retraining (the operational half of "fixed matrix
    * multiply": the matrix is data, not code). Parquet doubles
    * round-trip exactly; [[loadOpq]] restores both.
    */
  def saveOpq(root: String, rotation: Array[Array[Double]],
      codebook: DataFrame): Unit = {
    val session = codebook.sparkSession
    import session.implicits._
    val dim = rotation.length
    (for (i <- 0 until dim; j <- 0 until dim) yield (i, j, rotation(i)(j)))
      .toDF("i", "j", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/rotation")
    codebook.select(col("j"), col("cent_id"), col("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/codebook")
  }

  /** Restore [[saveOpq]] artifacts: (rotation, codebook). */
  def loadOpq(spark: org.apache.spark.sql.SparkSession,
      root: String): (Array[Array[Double]], DataFrame) = {
    val rows = spark.read.parquet(s"$root/rotation")
      .select("i", "j", "v").collect()
    val dim = math.sqrt(rows.length.toDouble).round.toInt
    require(dim * dim == rows.length,
      s"rotation under $root has ${rows.length} entries — not square")
    val r = Array.ofDim[Double](dim, dim)
    rows.foreach(x => r(x.getInt(0))(x.getInt(1)) = x.getDouble(2))
    (r, spark.read.parquet(s"$root/codebook"))
  }
}
