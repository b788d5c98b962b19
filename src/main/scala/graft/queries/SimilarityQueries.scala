package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.sim.Similarity

/** Similarity-search coverage over `embeddings`: exact brute-force cosine
  * top-k (the baseline every ANN variant is judged against), IVF nprobe=1
  * search (the scale path), and blocked embedding-cosine near-dup pairs.
  * DuckDB oracles pin the identical sequential fold order for every dot
  * product, so similarities compare bit-for-bit.
  */
object SimilarityQueries {

  /** DuckDB mirror of [[graft.functions.Exact.foldDot]]. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** DuckDB mirror of [[graft.functions.Exact.foldCosine]]. */
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** The PINNED IEEE decomposition of squared L2 shared by every
    * training/assignment oracle (q32/q66/q100/q106/q107): touching one
    * copy must touch them all, or the bit-exact replay forks.
    */
  private def l2Sql(a: String, b: String): String =
    s"(${dotSql(a, a)} - 2.0 * ${dotSql(a, b)} + ${dotSql(b, b)})"

  /** DuckDB replay of [[graft.sim.Similarity.pqTrain]]'s Lloyd loop —
    * the bit-exact training contract (assignment ties → lowest cent_id;
    * NaN-dist rows excluded before the rank; each recenter sums members
    * elementwise in vec_id order from 0.0 then divides by the member
    * count; empty codewords keep position via left-join/coalesce).
    * Emits the CTE chain `{p}cb0 … {p}cb{iters}`: codewords init from
    * the vec_id%97 subset sliced into `m` `sub`-wide pieces; training
    * rows come from `trainRel(vec_id, embedding)`. Full-width k-means
    * ([[graft.sim.Similarity.ivfTrain]]) is the m=1 instance — same
    * loop, one subspace spanning the vector. The prefix `p` keeps two
    * trainings (IVF cells + PQ codebook, q106) in one WITH list.
    */
  private def trainCtesSql(p: String, m: Int, sub: Int, iters: Int,
      trainRel: String, initWhere: String = "vec_id % 97 = 0",
      initRel: String = "embeddings"): String = {
    // one literal fold per dimension: inner lambdas don't capture an
    // outer lambda's variable, so the per-dim index is baked in
    val meanDims = (1 to sub).map { dd =>
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(u.subs, s -> s[$dd])), (a, b) -> a + b) / u.n"
    }.mkString(",\n      ")
    val vaSql =
      s"list_transform(e.embedding[(c.j*$sub+1):(c.j*$sub+$sub)], x -> CAST(x AS DOUBLE))"
    val cb0 =
      s"""${p}cb0 AS MATERIALIZED (
         |  SELECT j, vec_id AS cent_id,
         |    list_transform(embedding[(j*$sub+1):(j*$sub+$sub)], x -> CAST(x AS DOUBLE)) AS cv
         |  FROM $initRel CROSS JOIN range($m) t(j)
         |  WHERE $initWhere)""".stripMargin
    val rounds = (1 to iters).flatMap { i =>
      val prev = s"${p}cb${i - 1}"
      Seq(
        s"""${p}asg$i AS (
           |  SELECT vec_id, j, cent_id, ${l2Sql("va", "cv")} AS dist, va FROM (
           |    SELECT e.vec_id, c.j, c.cent_id, c.cv, $vaSql AS va
           |    FROM $trainRel e CROSS JOIN $prev c) t)""".stripMargin,
        s"""${p}ch$i AS (
           |  SELECT vec_id, j, cent_id, va FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
           |                                 ORDER BY dist, cent_id) AS rn
           |    FROM ${p}asg$i WHERE NOT isnan(dist)) WHERE rn = 1)""".stripMargin,
        s"""${p}upd$i AS (
           |  SELECT j, cent_id, list(va ORDER BY vec_id) AS subs, count(*) AS n
           |  FROM ${p}ch$i GROUP BY j, cent_id)""".stripMargin,
        s"""${p}cb$i AS MATERIALIZED (
           |  SELECT c.j, c.cent_id,
           |    CASE WHEN u.n IS NULL THEN c.cv ELSE list_value(
           |      $meanDims) END AS cv
           |  FROM ${p}cb${i - 1} c LEFT JOIN ${p}upd$i u
           |    ON c.j = u.j AND c.cent_id = u.cent_id)""".stripMargin)
    }
    (cb0 +: rounds).mkString(",\n")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-k (exact ANN baseline) -------------------
    QueryDef.sql(
      "q30_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
         |s AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS sim
         |      FROM c JOIN q ON q_id <> n_id),
         |r AS (SELECT q_id, n_id, sim,
         |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
         |      FROM s)
         |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""") { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id")) // widen ONLY if scan splits < cores
      Similarity.topkNeighbors(e.filter(col("vec_id") % 100 === 0), e, 5)
        .orderBy("q_id", "rank")
    },

    // ---- banded-LSH embedding-cosine near-dup pairs ----------------------
    // Contract (mirrored in the oracle, like q26/q28's banding): candidates
    // share the label AND at least one of 4 RP-LSH bands (4 planes each
    // from a 16-plane signature), verified by exact cosine ≥ 0.3. Label
    // alone is NOT the block key — per-label membership grows O(n), so
    // label-blocked pair work grows O(n²); the bands bound bucket sizes.
    QueryDef.sql(
      "q31_embedding_neardup", {
        val nPlanes = 16
        val bands = 4
        val rpb = nPlanes / bands
        def dotSqlPlane(j: Int): String =
          s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> " +
            s"CAST(embedding[i] AS DOUBLE) * (CAST((($j * 1000003 + (i - 1) * 7919) % 97 - 48) AS DOUBLE) / 48.0::DOUBLE))), (x, y) -> x + y)"
        val bucketSql = (0 until nPlanes).map { j =>
          s"CASE WHEN ${dotSqlPlane(j)} >= 0 THEN ${1 << j} ELSE 0 END"
        }.mkString(" + ")
        val bandsSql = (0 until bands).map { b =>
          s"SELECT vec_id, label, $b AS band, (bucket >> ${b * rpb}) & ${(1 << rpb) - 1} AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH sig AS (
           |  SELECT vec_id, label, CAST($bucketSql AS INT) AS bucket FROM embeddings),
           |bands AS (
           |  $bandsSql),
           |cand AS (
           |  SELECT DISTINCT l.vec_id AS d1, r.vec_id AS d2
           |  FROM bands l JOIN bands r
           |    ON l.label = r.label AND l.band = r.band AND l.key = r.key
           |   AND l.vec_id < r.vec_id),
           |s AS (
           |  SELECT d1, d2, ${cosSql("a.embedding", "b.embedding")} AS sim
           |  FROM cand JOIN embeddings a ON d1 = a.vec_id
           |            JOIN embeddings b ON d2 = b.vec_id)
           |SELECT d1, d2, sim FROM s WHERE sim >= 0.3 ORDER BY d1, d2"""
      }) { (s, d) =>
      Similarity.bandedNearDupPairs(
        Tables.spread(Tables.embeddings(s, d), col("vec_id")),
        "label", Similarity.rpPlanes(16, 64), 4, 0.3)
        .orderBy("d1", "d2")
    },

    // ---- random-hyperplane LSH ANN: sign-bit buckets, search own bucket --
    QueryDef.sql(
      "q57_ann_lsh", {
        val nPlanes = 8
        def dotSqlPlane(j: Int): String =
          s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> " +
            s"CAST(embedding[i] AS DOUBLE) * (CAST((($j * 1000003 + (i - 1) * 7919) % 97 - 48) AS DOUBLE) / 48.0::DOUBLE))), (x, y) -> x + y)"
        val bucketSql = (0 until nPlanes).map { j =>
          s"CASE WHEN ${dotSqlPlane(j)} >= 0 THEN ${1 << j} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH b AS (
           |  SELECT vec_id, embedding, CAST($bucketSql AS INT) AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM b WHERE vec_id % 100 = 0),
           |c AS (SELECT vec_id AS n_id, embedding AS nv, bucket FROM b),
           |s AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS sim
           |      FROM c JOIN q USING (bucket) WHERE q_id <> n_id),
           |r AS (SELECT q_id, n_id, sim,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
           |      FROM s)
           |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 3
           |ORDER BY q_id, rank"""
      }) { (s, d) =>
      graft.functions.VectorFold.register(s)
      val planes = Similarity.rpPlanes(8, 64)
      val b = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .select(col("vec_id"), col("embedding"),
          Similarity.rpLshBucket(col("embedding"), planes).as("bucket"))
        // query and corpus sides share the bucket pass; localCheckpoint so
        // the blocks are ContextCleaner-released once the plan is dropped
        // (no session-lifetime cache entry — geo/Geo.gridSpatialJoin)
        .transform(graft.Materialize.checkpoint)
      val q = b.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("bucket"))
      val c = b.select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          Similarity.cosine(col("qv"), col("nv")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("q_id", "rank")
    },

    // ---- IVF (inverted-file) ANN: assign to centroid cells, search own cell
    // Cells are k-means-TRAINED (Similarity.ivfTrain — pqTrain's Lloyd
    // loop at full vector width, m=1): 2 rounds from the deterministic
    // vec_id%97 subset init, training on the vec_id%4 quarter-sample (the
    // q100 sample rule — IVF cells train on a sample by standard
    // practice). The oracle replays the whole training bit-exactly via
    // the shared CTE builder, then assigns every vector to its best
    // trained cell by cosine (ties → lowest cent_id), exactly like the
    // engine's ivfAssign. IvfTrainSpec asserts trained cells strictly
    // beat the subset init on full-corpus assignment distortion.
    QueryDef.sql(
      "q32_ann_ivf",
      s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
         |               WHERE vec_id % 4 = 0),
         |${trainCtesSql("", 1, 64, 2, "train")},
         |cents AS (SELECT cent_id, cv FROM cb2),
         |asg AS (SELECT e.vec_id, e.embedding, cent_id,
         |          ${cosSql("e.embedding", "cv")} AS csim
         |        FROM embeddings e CROSS JOIN cents),
         |cell AS (SELECT vec_id, embedding, cent_id AS cell FROM (
         |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
         |           FROM asg) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS qv, cell FROM cell WHERE vec_id % 100 = 0),
         |c AS (SELECT vec_id AS n_id, embedding AS nv, cell FROM cell),
         |s AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS sim
         |      FROM c JOIN q USING (cell) WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, sim,
         |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
         |      FROM s)
         |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 3
         |ORDER BY q_id, rank""") { (s, d) =>
      // training (one pass per Lloyd round), assignment, and the search's
      // two sides all re-read the spread scan — checkpoint it once
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val cents = Similarity.ivfTrain(e.filter(col("vec_id") % 4 === 0),
        e.filter(col("vec_id") % 97 === 0), 64, 2)
      // cell assignment feeds both the query and corpus sides — materialize
      // once (at scale: the IVF index is a table, built once, queried many)
      val assigned = Similarity.ivfAssign(e, cents)
        .transform(graft.Materialize.checkpoint)
      Similarity.ivfSearch(assigned, col("vec_id") % 100 === 0, 3)
        .orderBy("q_id", "rank")
    },

    // ---- multi-probe IVF: queries probe their 2 nearest cells ------------
    // The recall knob nprobe=1 lacks: query-side-only fan-out (corpus
    // never replicates), candidates stay unique because each corpus
    // vector has one home cell.
    QueryDef.sql(
      "q66_ann_ivf_nprobe",
      s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
         |               WHERE vec_id % 4 = 0),
         |${trainCtesSql("", 1, 64, 2, "train")},
         |cents AS (SELECT cent_id, cv FROM cb2),
         |asg AS (SELECT e.vec_id, e.embedding, cent_id,
         |          ${cosSql("e.embedding", "cv")} AS csim
         |        FROM embeddings e CROSS JOIN cents),
         |cell AS (SELECT vec_id, embedding, cent_id AS cell FROM (
         |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
         |           FROM asg) WHERE rn = 1),
         |probe AS (SELECT vec_id AS q_id, embedding AS qv, cent_id AS cell FROM (
         |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
         |           FROM asg WHERE vec_id % 100 = 0) WHERE rn <= 2),
         |c AS (SELECT vec_id AS n_id, embedding AS nv, cell FROM cell),
         |s AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS sim
         |      FROM c JOIN probe USING (cell) WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, sim,
         |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
         |      FROM s)
         |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 3
         |ORDER BY q_id, rank""") { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      // same trained cells as q32 (2 Lloyd rounds, %4 sample, %97 init)
      val cents = Similarity.ivfTrain(e.filter(col("vec_id") % 4 === 0),
        e.filter(col("vec_id") % 97 === 0), 64, 2)
      val assigned = Similarity.ivfAssign(e, cents).transform(graft.Materialize.checkpoint)
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfSearchProbes(assigned, probes, 3)
        .orderBy("q_id", "rank")
    },

    // ---- int8-quantized brute-force ANN ----------------------------------
    // The memory-bandwidth lever for scan-heavy vector search: per-vector
    // symmetric int8 quantization (scale = max |x|, q_i = ⌊x/scale·127 +
    // .5⌋) shrinks the scanned bytes 4× vs float32, and the score is pure
    // integer dot products (the scales cancel in cosine) — which makes
    // the WHOLE ranking bit-exact in DuckDB, no accuracy-contract hedging
    // needed. Output carries both the quantized score and the true
    // cosine of each selected neighbor, so quantization error is visible
    // in the gated result itself. Quantization and norms are map-side,
    // once per vector; the search is the same broadcast-query BNLJ shape
    // as q30.
    QueryDef.sql(
      "q80_quantized_ann", {
        def qdotSql(a: String, b: String): String =
          s"CAST(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])), (x, y) -> x + y) AS DOUBLE)"
        s"""WITH s AS (
           |  SELECT vec_id, embedding,
           |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS sc
           |  FROM embeddings),
           |qv AS (
           |  SELECT vec_id, embedding,
           |    CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0::BIGINT)
           |         ELSE list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) / sc * 127.0 + 0.5) AS BIGINT)) END AS q
           |  FROM s),
           |n AS (SELECT vec_id, embedding, q, sqrt(${qdotSql("q", "q")}) AS qn FROM qv),
           |p AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           |    ${qdotSql("a.q", "b.q")} / (a.qn * b.qn) AS qsim,
           |    ${cosSql("a.embedding", "b.embedding")} AS sim
           |  FROM n a JOIN n b ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
           |  WHERE a.qn > 0 AND b.qn > 0),
           |r AS (
           |  SELECT q_id, n_id, qsim, sim,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY qsim DESC, n_id) AS BIGINT) AS rank
           |  FROM p)
           |SELECT q_id, n_id, qsim, sim, rank FROM r WHERE rank <= 5
           |ORDER BY q_id, rank"""
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Exact
      graft.functions.VectorFold.register(s)
      val sc = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      val qCol = when(col("sc") === 0,
        transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") / col("sc") * 127.0 + 0.5)))
      // native codegen integer fold (exact long math — order-free), not
      // the CodegenFallback HOF pair; see functions/VectorFold
      def qdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.functions.VectorFold.dotLong(a, b).cast("double")
      val n = Tables.spread(Tables.embeddings(s, d), col("vec_id")) // per-vector quantization wants all cores
        .withColumn("sc", sc)
        .withColumn("q", qCol)
        .withColumn("qn", sqrt(qdot(col("q"), col("q"))))
        .select("vec_id", "embedding", "q", "qn")
        // probe AND broadcast sides read it — quantize once
        .transform(graft.Materialize.checkpoint)
      val queries = n.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("q").as("qq"), col("qn").as("qqn"))
      val w = Window.partitionBy("q_id").orderBy(col("qsim").desc, col("n_id"))
      // qn > 0 on both sides: an all-zero vector would otherwise emit
      // a NaN score (0/0) with engine-dependent NaN ordering in the
      // rank window — excluded identically in the oracle
      n.filter(col("qn") > 0)
        .join(broadcast(queries.filter(col("qqn") > 0)),
          col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (qdot(col("qq"), col("q")) / (col("qqn") * col("qn"))).as("qsim"),
          Exact.foldCosine(col("qe"), col("embedding")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("q_id", "rank")
    },

    // ---- product-quantization (PQ) ANN -------------------------------------
    // The compression step past q80's int8: 8 subspaces × 8 dims, each
    // subvector snapped to its nearest codeword, so a vector persists as
    // 8 codeword ids (≈16 B) instead of 64 floats (256 B) — the 16×
    // scan-bandwidth lever for corpus-scale vector search. Ranking uses
    // the RECONSTRUCTED vector (decode-on-read from the broadcast
    // codebook): one 64-wide exact fold, bit-exact in DuckDB. (The
    // composed tier q106/q107 ranks by true table-ADC instead — same
    // algebra, per-subspace summation grouping, its own oracle order.) The codebook is k-means-TRAINED (Similarity.pqTrain: 3 Lloyd
    // rounds from the deterministic vec_id%97 subset init, the q32
    // centroid device) — the oracle replays the whole training loop:
    // assignment ties break on lowest cent_id, each recenter sums members
    // elementwise in vec_id order from 0.0 and divides by the member
    // count, and empty codewords keep their position (left-join/coalesce),
    // so trained doubles land bit-identical. A degenerate (NaN) training
    // subvector has no nearest codeword (pq_argmin → null) and is
    // excluded from the recenter; the oracle mirrors that with NOT
    // isnan(dist) before the rank — without it DuckDB would rank the
    // all-NaN group on cent_id alone and poison the lowest codeword's
    // mean. ENCODING instead PROPAGATES the null (the vector stays in
    // the index, its dv nulls out, psim NULL ranks last under DESC in
    // both engines): the oracle's final encode mirrors that too — a
    // NaN-dist winner nulls its cv, and any null subspace nulls the
    // whole dv (Spark `flatten` of a null element is null, = the
    // count(cv) < count(*) CASE). True cosine rides along per row, so
    // quantization error is visible inside the gated output.
    QueryDef.sql(
      "q100_ann_pq", {
        val iters = 3
        val vaSql =
          "list_transform(e.embedding[(c.j*8+1):(c.j*8+8)], x -> CAST(x AS DOUBLE))"
        s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
           |               WHERE vec_id % 4 = 0),
           |${trainCtesSql("", 8, 8, iters, "train")},
           |asg AS (
           |  SELECT vec_id, j, cent_id, ${l2Sql("va", "cv")} AS dist, cv FROM (
           |    SELECT e.vec_id, c.j, c.cent_id, c.cv, $vaSql AS va
           |    FROM embeddings e CROSS JOIN cb$iters c) t),
           |chosen AS (SELECT vec_id, j,
           |    CASE WHEN isnan(dist) THEN NULL ELSE cv END AS cv FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
           |                                 ORDER BY dist, cent_id) AS rn
           |    FROM asg) WHERE rn = 1),
           |dec AS (SELECT vec_id, CASE WHEN count(cv) < count(*) THEN NULL
           |          ELSE flatten(list(cv ORDER BY j)) END AS dv
           |        FROM chosen GROUP BY vec_id),
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           |      WHERE vec_id % 100 = 0),
           |c AS (SELECT e.vec_id AS n_id, e.embedding AS nv, dv
           |      FROM embeddings e JOIN dec ON e.vec_id = dec.vec_id),
           |s AS (SELECT q_id, n_id,
           |        ${cosSql("qv", "dv")} AS psim, ${cosSql("qv", "nv")} AS sim
           |      FROM c JOIN q ON q_id <> n_id),
           |r AS (SELECT q_id, n_id, psim, sim,
           |        CAST(row_number() OVER (PARTITION BY q_id
           |               ORDER BY psim DESC, n_id) AS BIGINT) AS rank
           |      FROM s)
           |SELECT q_id, n_id, psim, sim, rank FROM r WHERE rank <= 3
           |ORDER BY q_id, rank"""
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Exact
      // checkpoint the spread scan once: training (one pass per Lloyd
      // round), encoding, the corpus join, and the query side all re-read
      // it — without this each of those ~6 jobs re-runs the parquet scan
      // AND the spread repartition
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      // the index (codes + decoded form, no raw vectors) is built once
      // and materialized (like q32's cell index); the search re-joins the
      // original table for the true-cosine column. Training reads the
      // deterministic vec_id%4 QUARTER-sample — codebooks train on a
      // sample by standard practice (pqTrain's scaladoc), and the sample
      // rule is part of the declared contract the oracle replays
      // (measured at sf0.001: sample-trained 379 vs subset 534 total
      // squared reconstruction error on the FULL corpus; full-trained 366)
      val cb = Similarity.pqTrain(e.filter(col("vec_id") % 4 === 0),
        Similarity.pqCodebook(e.filter(col("vec_id") % 97 === 0), 8, 64),
        8, 64, 3)
      val idx = Similarity.pqIndex(e, cb, 8, 64)
        .transform(graft.Materialize.checkpoint)
      val corpus = e.select(col("vec_id"), col("embedding").as("nv"))
        .join(idx, "vec_id")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("psim").desc, col("n_id"))
      corpus.select(col("vec_id").as("n_id"), col("nv"), col("dv"))
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          Exact.foldCosine(col("qv"), col("dv")).as("psim"),
          Exact.foldCosine(col("qv"), col("nv")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("q_id", "rank")
    },

    // ---- OPQ: fixed orthogonal rotation before PQ (q145) ------------------
    // The rotation-aware coding tier gated end-to-end: a FIXED seeded
    // orthogonal matrix (Similarity.rotationMatrix — bit-exact
    // replayable, its 4096 doubles injected into the oracle as literals
    // via shortest-round-trip text) rotates the corpus, the PQ codebook
    // Lloyd-trains IN ROTATED SPACE (same trainCtesSql replay as q100,
    // sourced from the rotated CTE), encoding/decoding and the
    // quantized score live in rotated space, and the true-cosine column
    // is computed in the ORIGINAL space — so the gate covers the whole
    // rotate→train→encode→score path bit-for-bit. On isotropic data the
    // rotation is recall-neutral (RecallAtScaleSpec's adjudication);
    // the learned opqTrain variant shares every code path but its
    // trained matrix (OpqSpec pins the anisotropic 2.6× MSE win).
    QueryDef.sql(
      "q145_ann_opq", {
        val iters = 2
        val rm = graft.sim.Similarity.rotationMatrix(64)
        // string-cast literals, NOT bare numerics: DuckDB types a bare
        // 0.1175... as DECIMAL and its decimal→double conversion is not
        // correctly rounded (measured 1-ULP drift on ~1/64 entries);
        // '...'::DOUBLE goes through strtod, which is — so the oracle's
        // matrix is bit-identical to the JVM's
        val rmLit = rm.flatten.map(v => s"'$v'::DOUBLE").mkString("[", ", ", "]")
        // one literal fold per output dim: DuckDB inner lambdas can't
        // capture an outer lambda's variable (the trainCtesSql rule), so
        // the row index is baked into each fold
        val dims = (0 until 64).map { i =>
          s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, 64), " +
            s"j -> rm[${i * 64} + j + 1] * CAST(e.embedding[j + 1] AS DOUBLE))), (a, b) -> a + b)"
        }.mkString("list_value(", ",\n      ", ")")
        s"""WITH rmc AS (SELECT $rmLit AS rm),
           |rot AS MATERIALIZED (
           |  SELECT e.vec_id, $dims AS embedding
           |  FROM embeddings e CROSS JOIN rmc),
           |rtrain AS (SELECT vec_id, embedding FROM rot WHERE vec_id % 4 = 0),
           |${trainCtesSql("", 8, 8, iters, "rtrain", initRel = "rot")},
           |asg AS (
           |  SELECT vec_id, j, cent_id, ${l2Sql("va", "cv")} AS dist, cv FROM (
           |    SELECT e.vec_id, c.j, c.cent_id, c.cv,
           |      list_transform(e.embedding[(c.j*8+1):(c.j*8+8)], x -> CAST(x AS DOUBLE)) AS va
           |    FROM rot e CROSS JOIN cb$iters c) t),
           |chosen AS (SELECT vec_id, j,
           |    CASE WHEN isnan(dist) THEN NULL ELSE cv END AS cv FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
           |                                 ORDER BY dist, cent_id) AS rn
           |    FROM asg) WHERE rn = 1),
           |dec AS (SELECT vec_id, CASE WHEN count(cv) < count(*) THEN NULL
           |          ELSE flatten(list(cv ORDER BY j)) END AS dv
           |        FROM chosen GROUP BY vec_id),
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM rot
           |      WHERE vec_id % 100 = 0),
           |qraw AS (SELECT vec_id AS q_id, embedding AS qvr FROM embeddings
           |         WHERE vec_id % 100 = 0),
           |c AS (SELECT e.vec_id AS n_id, e.embedding AS nv, dv
           |      FROM embeddings e JOIN dec ON e.vec_id = dec.vec_id),
           |s AS (SELECT q.q_id, n_id,
           |        ${cosSql("qv", "dv")} AS psim, ${cosSql("qvr", "nv")} AS sim
           |      FROM c JOIN q ON q.q_id <> n_id JOIN qraw ON qraw.q_id = q.q_id),
           |r AS (SELECT q_id, n_id, psim, sim,
           |        CAST(row_number() OVER (PARTITION BY q_id
           |               ORDER BY psim DESC, n_id) AS BIGINT) AS rank
           |      FROM s)
           |SELECT q_id, n_id, psim, sim, rank FROM r WHERE rank <= 3
           |ORDER BY q_id, rank"""
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Exact
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val rm = Similarity.rotationMatrix(64)
      val rote = Similarity.rotate(e.select("vec_id", "embedding"), rm)
        .transform(graft.Materialize.checkpoint)
      val cb = Similarity.pqTrain(rote.filter(col("vec_id") % 4 === 0),
        Similarity.pqCodebook(rote.filter(col("vec_id") % 97 === 0), 8, 64),
        8, 64, 2)
      val idx = Similarity.pqIndex(rote, cb, 8, 64)
      val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
        .join(idx.select(col("vec_id").as("n_id"), col("dv")), "n_id")
      val q = rote.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        .join(e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("qvr")), "q_id")
      val w = Window.partitionBy("q_id").orderBy(col("psim").desc, col("n_id"))
      corpus
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          Exact.foldCosine(col("qv"), col("dv")).as("psim"),
          Exact.foldCosine(col("qvr"), col("nv")).as("sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("q_id", "rank")
    },

    // ---- index compaction: tombstones reclaimed, delta folded in ---------
    // q109 serves (base ∪ delta − tombstones) by anti-joining EVERY
    // query; this is the maintenance job its Scaladoc promises: rewrite
    // the served code set as the NEW persisted base — cell-range-
    // clustered parquet behind a write-through manifest with
    // [min_cell, max_cell] bounds — then serve from it with EMPTY delta
    // and tombstone sets. The rewrite moves (n_id, cell, pcode) rows
    // only (index-sized I/O: the raw corpus is never re-read, nothing
    // re-encodes, no retrain), which is what makes compaction
    // schedulable at any corpus size; the clustered layout gives a
    // cell-probing serve file-level pruning via the manifest. The
    // oracle is IDENTICAL to q109's — the whole point of the gate:
    // compaction must not change a single answer. CompactAnnSpec pins
    // the physical claims (served ≡ compacted row-for-row, no
    // tombstoned id in the persisted files).
    QueryDef.sql(
      "q146_ann_compact",
      ivfPqSql("vec_id % 10 <> 9 AND vec_id % 4 = 0",
        "vec_id % 97 = 0 AND vec_id % 10 <> 9",
        "NOT (l.vec_id % 10 <> 9 AND l.vec_id % 7 = 3)")) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val existing = e.filter(col("vec_id") % 10 =!= 9)
      val delta = e.filter(col("vec_id") % 10 === 9)
      val tombstones = existing.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("n_id"))
      val train = existing.filter(col("vec_id") % 4 === 0)
      val init = existing.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      def indexOf(part: org.apache.spark.sql.DataFrame) =
        Similarity.buildIvfPqIndex(part, cents, cb, 8, 64)
      // NOT checkpointed before compaction (measured r16): the range
      // sampler inside compactIndex does re-execute this pipeline, but
      // it is map-side encode over the already-checkpointed base — the
      // recompute costs less than materializing the full index twice.
      val served = indexOf(existing).unionByName(indexOf(delta))
        .join(tombstones, Seq("n_id"), "left_anti")
      val compacted = Similarity.compactIndex(served,
        QueryDef.scratch(d, "ann_compact_mvcc"))
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(compacted, probes, cb, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- streaming ANN ingest: q107's delta arriving as a stream ---------
    // The vector-store ingestion loop as Structured Streaming: books and
    // base index are the same persisted state as q107, and the delta now
    // ARRIVES as a file stream (3 files, maxFilesPerTrigger=1 — three
    // real micro-batches). Each batch is assigned and encoded with the
    // STALE books inside foreachBatch — batch-sized jobs, the base
    // corpus never re-read — and lands through the idempotent batch-id
    // sink, so a replayed micro-batch (restart after crash) can never
    // double-index a vector. Serving unions base + committed sink rows.
    // Per-row encode is batching-invariant by construction (no
    // cross-row state in assign/encode; IncrementalAnnSpec pins
    // encode-then-union ≡ union-then-encode), so the oracle is q107's
    // VERBATIM — streaming the delta must not change a single answer.
    QueryDef.sql(
      "q147_stream_ann_ingest",
      ivfPqSql("vec_id % 10 <> 9 AND vec_id % 4 = 0",
        "vec_id % 97 = 0 AND vec_id % 10 <> 9")) { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.sinks.IdempotentFileSink
      val root = QueryDef.scratch(d, "stream_ann")
      // fresh state per run: committed batches from an earlier code
      // version must not leak into this run's index
      val rootP = new org.apache.hadoop.fs.Path(root)
      val hfs = rootP.getFileSystem(s.sessionState.newHadoopConf())
      if (hfs.exists(rootP)) hfs.delete(rootP, true)
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val existing = e.filter(col("vec_id") % 10 =!= 9)
      val train = existing.filter(col("vec_id") % 4 === 0)
      val init = existing.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      def indexOf(part: org.apache.spark.sql.DataFrame) =
        Similarity.buildIvfPqIndex(part, cents, cb, 8, 64)
      val baseIdx = indexOf(existing).transform(graft.Materialize.checkpoint)
      // the delta lands as 3 files; the stream consumes one per batch
      e.filter(col("vec_id") % 10 === 9).select("vec_id", "embedding")
        .repartition(3).write.parquet(s"$root/delta")
      val sch = s.read.parquet(s"$root/delta").schema
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/delta")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          IdempotentFileSink.writeBatch(indexOf(batch), s"$root/sink", id)
        }
        .start()
      q.awaitTermination()
      val idx = baseIdx.unionByName(
        IdempotentFileSink.read(s, s"$root/sink")
          .select("n_id", "cell", "pcode"))
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(idx, probes, cb, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- vector upsert: updates absorbed as keyed delete + re-encode -----
    // The remaining CRUD verb (insert q107, delete q109, compact q146,
    // stream-ingest q147): an UPDATE batch arrives carrying NEW vectors
    // for already-indexed ids. The persisted base is untouched — the
    // updated ids are tombstoned out of it (keyed anti-join, exactly
    // q109's delete path) and the batch re-encodes with the STALE books
    // (batch-sized jobs; no retrain, base never re-read) and appends.
    // Training EXCLUDES the updated ids entirely, so the books the
    // oracle trains over the post-update corpus are bit-identical to
    // the engine's pre-update books — which is what lets one oracle
    // replay both sides of the update. The update itself is a
    // deterministic halving (double-mult then round to float — exact
    // and bit-replayable in DuckDB as CAST(CAST(x AS DOUBLE)*0.5 AS
    // REAL)), and the oracle SHADOWS the embeddings table with the
    // post-update corpus CTE so cell assignment, encode, probes, and
    // the true-cosine re-join all see updated vectors — serving stale
    // codes for an updated row fails the gate. UpsertAnnSpec pins
    // serve ≡ rebuild-over-updated-corpus with the same books.
    QueryDef.sql(
      "q148_ann_upsert", {
        // rewrite the replay body to read the POST-UPDATE corpus: every
        // `embeddings` table reference becomes the `emb2` CTE (plain
        // rename, no schema-qualified shadowing — robust to how the
        // harness registers the parquet views). `embedding` (the
        // column) never matches the \b-bounded table regex.
        val body = ivfPqSql("vec_id % 4 = 0 AND vec_id % 13 <> 5",
          "vec_id % 97 = 0 AND vec_id % 13 <> 5")
          .replaceAll("\\bembeddings\\b", "emb2")
        """WITH emb2 AS (
          |  SELECT vec_id, CASE WHEN vec_id % 13 = 5
          |    THEN list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 0.5 AS REAL))
          |    ELSE embedding END AS embedding FROM embeddings),
          |""".stripMargin + body.stripPrefix("WITH ")
      }) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val updMask = col("vec_id") % 13 === 5
      // the update batch: same ids, NEW vectors (exact halving)
      val upd = e.filter(updMask).withColumn("embedding",
        transform(col("embedding"),
          x => (x.cast("double") * lit(0.5)).cast("float")))
      val corpus2 = e.filter(!updMask).unionByName(upd)
      val train = e.filter(col("vec_id") % 4 === 0 && !updMask)
      val init = e.filter(col("vec_id") % 97 === 0 && !updMask)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      def indexOf(part: org.apache.spark.sql.DataFrame) =
        Similarity.buildIvfPqIndex(part, cents, cb, 8, 64)
      // persisted pre-update base; the upsert touches only the batch
      val baseIdx = indexOf(e).transform(graft.Materialize.checkpoint)
      val served = baseIdx
        .join(upd.select(col("vec_id").as("n_id")), Seq("n_id"), "left_anti")
        .unionByName(indexOf(upd))
      val probes = Similarity.ivfProbes(
        corpus2.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(served, probes, cb, corpus2, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- filtered ANN: metadata predicate pushed BEFORE ranking ----------
    // Production vector search is rarely unfiltered ("nearest docs IN
    // THIS LANGUAGE / tenant / date range"). The sound order is
    // filter-THEN-rank: the allow-set semi-joins the candidate stream
    // before any ADC lookup, so excluded rows cost zero table derefs
    // and the top-k is filter-consistent. The tempting alternative —
    // rank first, filter the top-k after — under-fills k whenever a
    // near neighbor is excluded, and silently returns fewer/worse
    // rows; this gate's oracle (the serveCond hook, evaluated at the
    // oracle's candidate CTE) fails that ordering. The allow-set
    // arrives as an id DataFrame — the GENERAL case, where the
    // predicate lives in another table (tenant membership, a dedup
    // drop-list): broadcast semi-join when small, shuffle semi-join
    // when corpus-scale. When the predicate is over columns the index
    // itself carries (a `lang`/date column stored beside the codes),
    // it is a plain map-side `.filter` on the candidate scan — no join
    // at all; q109's tombstone anti-join is this same shape with the
    // polarity flipped.
    QueryDef.sql(
      "q149_ann_filtered",
      ivfPqSql("vec_id % 4 = 0", "vec_id % 97 = 0",
        "l.vec_id % 3 <> 1")) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val train = e.filter(col("vec_id") % 4 === 0)
      val init = e.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      val idx = Similarity.buildIvfPqIndex(e, cents, cb, 8, 64)
      // the metadata allow-set: ids surviving the predicate, semi-joined
      // into the candidate stream BEFORE ADC ranking
      val allowed = e.filter(col("vec_id") % 3 =!= 1)
        .select(col("vec_id").as("n_id"))
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(idx.join(allowed, Seq("n_id"), "left_semi"),
        probes, cb, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- index health: cell-occupancy histogram + imbalance --------------
    // The second ops signal beside q110's drift probe: per-cell
    // occupancy of the trained IVF partitioning, with each cell's
    // corpus fraction and the global imbalance factor max/mean — the
    // number a serving pipeline alerts on BEFORE a hot cell turns
    // every probe of it into a scan (candidate cost is occupancy ×
    // nprobe; imbalance ≫ 1 means re-train or split). One broadcast
    // assignment pass + a 64-group aggregate — no index read, no
    // ranking; runs against live books at any corpus size. The
    // unpartitioned window runs over the POST-aggregate table — at most
    // K = |cells| rows regardless of corpus — so the single-partition
    // move Spark warns about is a K-row exchange, not a data path. The
    // oracle replays training + assignment bit-exactly and the same
    // max/(sum/count) window arithmetic.
    QueryDef.sql(
      "q150_ann_cell_stats",
      s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
         |               WHERE vec_id % 4 = 0),
         |${trainCtesSql("iv", 1, 64, 2, "train")},
         |cents AS (SELECT cent_id, cv FROM ivcb2),
         |casg AS (SELECT e.vec_id, cent_id,
         |          ${cosSql("e.embedding", "cv")} AS csim
         |        FROM embeddings e CROSS JOIN cents),
         |cell AS (SELECT vec_id, cent_id AS cell FROM (
         |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
         |           FROM casg) WHERE rn = 1),
         |h AS (SELECT cell, COUNT(*) AS n FROM cell GROUP BY cell)
         |SELECT cell, n,
         |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS frac,
         |  CAST(MAX(n) OVER () AS DOUBLE) /
         |    (CAST(SUM(n) OVER () AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)) AS imbalance
         |FROM h ORDER BY cell""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val cents = Similarity.ivfTrain(e.filter(col("vec_id") % 4 === 0),
        e.filter(col("vec_id") % 97 === 0), 64, 2)
      val w = Window.partitionBy()
      Similarity.ivfAssign(e, cents)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .select(col("cell"), col("n"),
          (col("n").cast("double") / sum("n").over(w).cast("double"))
            .as("frac"),
          (max("n").over(w).cast("double") /
            (sum("n").over(w).cast("double") /
              count(lit(1)).over(w).cast("double"))).as("imbalance"))
        .orderBy("cell")
    },

    // ---- embedding-space benchmark decontamination (ANN anti-join) -------
    // q67 drops training docs sharing exact shingles with a benchmark;
    // this is the embedding twin, catching PARAPHRASED contamination:
    // drop every train vector within cosine 0.3 of any benchmark vector
    // (vec_id % 50 = 0 plays the benchmark). Banded RP-LSH is the
    // candidate filter — part of the declared contract, mirrored in the
    // oracle like q31 — so candidate generation is a broadcast hash probe
    // over the train scan, never a train × bench cross join. The output
    // is the DROP LIST (id + max offending cosine); callers anti-join it.
    QueryDef.sql(
      "q101_embed_decontaminate", {
        val nPlanes = 16
        val bands = 4
        val rpb = nPlanes / bands
        def dotSqlPlane(j: Int): String =
          s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> " +
            s"CAST(embedding[i] AS DOUBLE) * (CAST((($j * 1000003 + (i - 1) * 7919) % 97 - 48) AS DOUBLE) / 48.0::DOUBLE))), (x, y) -> x + y)"
        val bucketSql = (0 until nPlanes).map { j =>
          s"CASE WHEN ${dotSqlPlane(j)} >= 0 THEN ${1 << j} ELSE 0 END"
        }.mkString(" + ")
        val bandsSql = (0 until bands).map { b =>
          s"SELECT vec_id, $b AS band, (bucket >> ${b * rpb}) & ${(1 << rpb) - 1} AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH sig AS (
           |  SELECT vec_id, CAST($bucketSql AS INT) AS bucket FROM embeddings),
           |bands AS (
           |  $bandsSql),
           |cand AS (
           |  SELECT DISTINCT l.vec_id, r.vec_id AS bid
           |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
           |  WHERE l.vec_id % 50 <> 0 AND r.vec_id % 50 = 0),
           |s AS (
           |  SELECT cand.vec_id, ${cosSql("a.embedding", "b.embedding")} AS sim
           |  FROM cand JOIN embeddings a ON cand.vec_id = a.vec_id
           |            JOIN embeddings b ON cand.bid = b.vec_id)
           |SELECT vec_id, max(sim) AS max_sim FROM s WHERE sim >= 0.3
           |GROUP BY vec_id ORDER BY vec_id"""
      }) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
      Similarity.annContaminated(
        e.filter(col("vec_id") % 50 =!= 0),
        e.filter(col("vec_id") % 50 === 0),
        Similarity.rpPlanes(16, 64), 4, 0.3)
        .orderBy("vec_id")
    },

    // ---- composed IVF+PQ: the corpus-scale ANN tier ----------------------
    // q66 and q100 each prove half of the shape every production vector
    // store ships; this composes them: k-means-trained IVF cells bound
    // the candidate set (nprobe=2 query-side fan-out), PQ codes rank it
    // by TABLE-ADC (per-probe lookup tables against the broadcast
    // codebook; scoring a candidate is m derefs + m adds over m×4-byte
    // positional codes), and only the top-k WINNERS re-join the source
    // table for the true cosine. Both trainings (full-width cells, m=1;
    // 8×8 codebook) run 2 Lloyd rounds from the %97 subset init on the
    // %4 quarter-sample, and the oracle replays BOTH bit-exactly through
    // the shared CTE builder (iv/pq prefixes), then mirrors cell
    // assignment, NaN-null encode propagation, the ADC summation
    // grouping (per-subspace folds summed in j order — see ivfPqSearch),
    // and the winners-only true-cosine join. The candidate stage never
    // touches a raw embedding or decoded vector — it scans (cell, pcode)
    // only, the persisted-index contract pqIndex documents.
    QueryDef.sql(
      "q106_ann_ivf_pq",
      ivfPqSql("vec_id % 4 = 0", "vec_id % 97 = 0")) { (s, d) =>
      // trainings (2 rounds × 2 books), cell assignment, encode, probes,
      // and the winner re-join all re-read the spread scan — checkpoint it
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val train = e.filter(col("vec_id") % 4 === 0)
      val init = e.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      // the persisted production index: home cell + m positional codes
      // per vector — 8×4 B against the raw vector's 256 B — NO raw
      // embedding, no decoded vector; built once, queried many (at scale
      // this join is the one-time index build, both sides keyed and
      // co-sized by vec_id)
      val idx = Similarity.buildIvfPqIndex(e, cents, cb, 8, 64)
        .transform(graft.Materialize.checkpoint)
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(idx, probes, cb, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- incremental ANN index maintenance -------------------------------
    // q79's contract, vector edition: once the corpus is too big to
    // re-index, the trained books (IVF cells + PQ codebook) and the base
    // index are persisted STATE; a delta batch is assigned and encoded
    // with the STALE books — delta-sized jobs only, the base corpus's
    // raw vectors never re-read, no retrain — and the union serves
    // queries. Training (and its %97 init) sees ONLY the base corpus, so
    // the oracle's replay filters both; encode-then-union equals
    // union-then-encode given the same books (IncrementalAnnSpec asserts
    // that rebuild equivalence row-for-row), which is why the oracle can
    // encode the full corpus in one pass.
    QueryDef.sql(
      "q107_incremental_ann",
      ivfPqSql("vec_id % 10 <> 9 AND vec_id % 4 = 0",
        "vec_id % 97 = 0 AND vec_id % 10 <> 9")) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val existing = e.filter(col("vec_id") % 10 =!= 9)
      val delta = e.filter(col("vec_id") % 10 === 9)
      val train = existing.filter(col("vec_id") % 4 === 0)
      val init = existing.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      def indexOf(part: org.apache.spark.sql.DataFrame) =
        Similarity.buildIvfPqIndex(part, cents, cb, 8, 64)
      // base index = persisted state (checkpoint stands in for the index
      // table a production run reads back); the delta encode is the ONLY
      // job sized to new data
      val baseIdx = indexOf(existing).transform(graft.Materialize.checkpoint)
      val idx = baseIdx.unionByName(indexOf(delta))
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(idx, probes, cb, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- residual-coded IVF+PQ (IVFADC) ----------------------------------
    // q106 ranks by codes of RAW vectors; production IVFADC spends the
    // codebook's whole quantization budget on the within-cell residual
    // `vec − centroid` instead — the centroid already explains the
    // coarse position, so the same m×K code budget reconstructs far
    // closer (ResidualPqSpec asserts strictly lower reconstruction
    // error than q106's raw coding on identical budgets). Ranking
    // replays cos(q, c + r̂) by table-ADC: per-probe qc/tdot as before,
    // plus the per-CELL precomputed cross tables (2·dot(cⱼ,cwₚ)+‖cwₚ‖²
    // and ‖c‖²) — the FAISS precomputed-tables idea, built once from
    // broadcast centroids × codebook, so a candidate still costs m
    // derefs + m adds and the candidate scan still reads (cell, pcode)
    // only. Oracle replays both trainings, the residual encode, and the
    // exact reconstruction-term grouping bit-for-bit.
    QueryDef.sql(
      "q108_ann_residual_pq",
      ivfPqResidualSql("vec_id % 4 = 0", "vec_id % 97 = 0")) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val train = e.filter(col("vec_id") % 4 === 0)
      val init = e.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      // residuals carry (vec_id, residual, cell) — the ONE full-corpus
      // materialization every downstream consumer reads (2 Lloyd rounds,
      // the encode, and the index's cell column), so the assignment
      // cross runs once and training iterations re-read an RDD
      val res = Similarity.residuals(Similarity.ivfAssign(e, cents), cents)
        .transform(graft.Materialize.checkpoint)
      val cb = Similarity.pqTrain(
        res.filter(col("vec_id") % 4 === 0),
        Similarity.pqCodebook(res.filter(col("vec_id") % 97 === 0), 8, 64),
        8, 64, 2)
      val idx = res.select(col("vec_id"), col("cell"))
        .join(Similarity.pqIndex(res, cb, 8, 64).select(col("vec_id"), col("pcode")),
          "vec_id")
        .select(col("vec_id").as("n_id"), col("cell"), col("pcode"))
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqResidualSearch(idx, probes, cb, cents, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- serve-time deletes: tombstoned incremental ANN ------------------
    // q107's missing half: a production index absorbs DELETES without
    // touching the persisted state — a delete batch lands as a tombstone
    // id-set, and serving anti-joins it out of the candidate stream
    // (codes stay in the index files; compaction reclaims them whenever
    // the next retrain rewrites the index anyway). Books + base index are
    // the same persisted state as q107, the insert delta is encoded with
    // stale books, and the tombstones here are a slice of the BASE corpus
    // (deletes of already-indexed rows — the hard case; deleting an
    // unflushed delta row would never reach the index at all). The
    // anti-join keys on n_id only — an id-set probe, broadcast when small
    // — and runs BEFORE ADC ranking, so tombstoned rows cost zero table
    // lookups and can never shadow a live row out of the top-k.
    // TombstoneAnnSpec asserts serve ≡ rebuild-without-deleted
    // row-identically; the oracle replays the same exclusion at its
    // candidate CTE with both trainings bit-exact.
    QueryDef.sql(
      "q109_ann_tombstones",
      ivfPqSql("vec_id % 10 <> 9 AND vec_id % 4 = 0",
        "vec_id % 97 = 0 AND vec_id % 10 <> 9",
        "NOT (l.vec_id % 10 <> 9 AND l.vec_id % 7 = 3)")) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val existing = e.filter(col("vec_id") % 10 =!= 9)
      val delta = e.filter(col("vec_id") % 10 === 9)
      val tombstones = existing.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("n_id"))
      val train = existing.filter(col("vec_id") % 4 === 0)
      val init = existing.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      def indexOf(part: org.apache.spark.sql.DataFrame) =
        Similarity.buildIvfPqIndex(part, cents, cb, 8, 64)
      val baseIdx = indexOf(existing).transform(graft.Materialize.checkpoint)
      val served = baseIdx.unionByName(indexOf(delta))
        .join(tombstones, Seq("n_id"), "left_anti")
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(served, probes, cb, e, 8, 64, 3)
        .orderBy("q_id", "rank")
    },

    // ---- books-staleness drift probe --------------------------------------
    // The retrain signal for the q107/q109 persisted state: per-batch
    // average assignment distortion (1 − cos to the nearest frozen
    // centroid — the quantity training minimized) for the rows that
    // TRAINED the books, the base rows held out of training, and the
    // post-training delta, plus each batch's ratio to the training
    // distortion (`drift`; 1.0 by construction for the train row). An
    // in-distribution delta reads drift ≈ heldout ≈ 1; a drifted ingest
    // reads > that, and the number is what an ingest pipeline alerts on
    // before recall quietly decays (DriftProbeSpec pins both regimes).
    // One broadcast-centroid cross over the corpus, a map-side argmin,
    // and a 3-group aggregate. The per-batch mean folds in pinned vec_id
    // order on both sides (oracle parity), which collects each batch's
    // distortions into one task — bounded here by the corpus, and in
    // production by the SAMPLE the probe runs on: a mean distortion is
    // an estimate, ~10⁴ rows pin it to ~1%, so a 100 TB ingest batch
    // samples before this aggregate exactly as training itself does
    // (pqTrain's sample-sized contract) — or swaps the fold for a plain
    // avg once bit-replay is not required.
    QueryDef.sql(
      "q110_ann_drift", {
        val batchSql =
          "CASE WHEN vec_id % 10 = 9 THEN 'delta' WHEN vec_id % 4 = 0 THEN 'train' ELSE 'base_heldout' END"
        s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
           |               WHERE vec_id % 10 <> 9 AND vec_id % 4 = 0),
           |${trainCtesSql("iv", 1, 64, 2, "train", "vec_id % 97 = 0 AND vec_id % 10 <> 9")},
           |cents AS (SELECT cent_id, cv FROM ivcb2),
           |casg AS (SELECT e.vec_id, cent_id,
           |          ${cosSql("e.embedding", "cv")} AS csim
           |        FROM embeddings e CROSS JOIN cents),
           |best AS (SELECT vec_id, 1.0 - csim AS dist FROM (
           |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
           |           FROM casg) WHERE rn = 1),
           |agg AS (SELECT $batchSql AS batch, count(*) AS n_vec,
           |          list_reduce(list_prepend(0.0::DOUBLE, list(dist ORDER BY vec_id)),
           |                      (x, y) -> x + y) / count(*) AS avg_dist
           |        FROM best GROUP BY 1)
           |SELECT batch, n_vec, avg_dist,
           |       avg_dist / t.td AS drift
           |FROM agg CROSS JOIN (SELECT avg_dist AS td FROM agg WHERE batch = 'train') t
           |ORDER BY batch"""
      }) { (s, d) =>
      import graft.functions.Exact
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val existing = e.filter(col("vec_id") % 10 =!= 9)
      val train = existing.filter(col("vec_id") % 4 === 0)
      val init = existing.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val agg = Similarity.assignDistortion(e, cents)
        .withColumn("batch",
          when(col("vec_id") % 10 === 9, "delta")
            .when(col("vec_id") % 4 === 0, "train")
            .otherwise("base_heldout"))
        .groupBy("batch")
        .agg(count(lit(1)).as("n_vec"),
          (Exact.foldSum(expr(
            "transform(array_sort(collect_list(struct(vec_id, dist))), s -> s.dist)"))
            / count(lit(1))).as("avg_dist"))
      val trainDist = agg.filter(col("batch") === "train")
        .select(col("avg_dist").as("td"))
      agg.crossJoin(broadcast(trainDist))
        .select(col("batch"), col("n_vec"), col("avg_dist"),
          (col("avg_dist") / col("td")).as("drift"))
        .orderBy("batch")
    },

    // ---- re-rank refine: exact-cosine tail over the ADC top-depth --------
    // q106 with the standard IVFADC refine stage: the quantized score
    // only has to land a true neighbor in the ADC top-12 (4×k — a far
    // weaker ask than top-3), then the exact cosine re-ranks those
    // 12×|queries| rows and cuts to k. The candidate scan is UNCHANGED —
    // (cell, pcode) only, no raw vectors — and the exact work is
    // winner-set-sized, so the tier buys back the ranking error
    // production-sized books still leave (RecallAtScaleSpec measures
    // +0.25 recall@3 at K=256 np=8 depth=48) at refine-stage cost. The
    // oracle replays the depth cut, the winners-only cosine, and the
    // (sim DESC, n_id) re-rank — NULL sims last in both engines.
    QueryDef.sql(
      "q135_ann_rerank",
      ivfPqSql("vec_id % 4 = 0", "vec_id % 97 = 0", rerankDepth = 12)) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val train = e.filter(col("vec_id") % 4 === 0)
      val init = e.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      val idx = Similarity.buildIvfPqIndex(e, cents, cb, 8, 64)
      val probes = Similarity.ivfProbes(
        e.filter(col("vec_id") % 100 === 0), cents, 2)
      Similarity.ivfPqSearch(idx, probes, cb, e, 8, 64, 3, rerankDepth = 12)
        .orderBy("q_id", "rank")
    },

    // ---- SemDeDup: cluster-then-prune semantic dedup ---------------------
    // The embedding-space dedup family's third member (exact q25 and
    // LSH-pair q31 are the others): k-means cells from the SAME trained
    // books as q32 (one CTE chain, bit-identical assignment), then a
    // greedy keep-first prune WITHIN each cell — a vector is duplicate
    // iff a lower-id cellmate is ≥ τ cosine. Clustering is what makes
    // the pairwise term affordable: the only join is the within-cell
    // self-join (equi-join on cell, reused shuffle), never n². Output
    // is the per-cell dedup ledger: members, duplicates, first keeper.
    QueryDef.sql(
      "q139_semdedup",
      s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
         |               WHERE vec_id % 4 = 0),
         |${trainCtesSql("", 1, 64, 2, "train")},
         |cents AS (SELECT cent_id, cv FROM cb2),
         |asg AS (SELECT e.vec_id, e.embedding, cent_id,
         |          ${cosSql("e.embedding", "cv")} AS csim
         |        FROM embeddings e CROSS JOIN cents),
         |cell AS (SELECT vec_id, embedding, cent_id AS cell FROM (
         |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
         |           FROM asg) WHERE rn = 1),
         |dup AS (SELECT DISTINCT l.vec_id
         |        FROM cell l JOIN cell r ON l.cell = r.cell AND r.vec_id < l.vec_id
         |        WHERE ${cosSql("l.embedding", "r.embedding")} >= 0.3)
         |SELECT c.cell, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  MIN(CASE WHEN d.vec_id IS NULL THEN c.vec_id END) AS first_kept
         |FROM cell c LEFT JOIN dup d ON c.vec_id = d.vec_id
         |GROUP BY c.cell ORDER BY c.cell""") { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .transform(graft.Materialize.checkpoint)
      val cents = Similarity.ivfTrain(e.filter(col("vec_id") % 4 === 0),
        e.filter(col("vec_id") % 97 === 0), 64, 2)
      // assignment feeds both sides of the within-cell join — one index
      // build, many consumers (at scale the assigned table IS the index)
      val assigned = Similarity.ivfAssign(e, cents)
        .transform(graft.Materialize.checkpoint)
      Similarity.semDedupFlags(assigned, 0.3)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1).otherwise(0)).cast("long").as("n_dup"),
          min(when(!col("is_dup"), col("vec_id"))).as("first_kept"))
        .orderBy("cell")
    },

    // ---- approximate kNN graph (banded LSH candidates, per-node top-k) ---
    // The graph primitive under graph-based curation — NN-Descent seeds,
    // label propagation, diversity sampling, cluster summarization: every
    // node's top-3 neighbors among its RP-LSH band candidates ([[
    // Similarity.bandedNearDupPairs]] with no similarity floor — the
    // graph wants each node's BEST edges, however weak). 24 planes / 3
    // bands of 8 bits: per-band buckets hold ~n/256 members, so candidate
    // pairs stay Σr² ≲ n·(n/256) per band — and the documented scale rule
    // (grow r with log n to hold bucket membership flat) makes that
    // linear-in-n at any corpus size; a node isolated in all its buckets
    // simply has < k edges (approximate-kNN semantics, replayed by the
    // oracle exactly). Plan: signatures map-side; only (band, key) rows
    // shuffle for candidate generation; vectors join back BY ID for the
    // exact cosine (the index never carries raw vectors); the symmetric
    // union doubles edges linearly, and the rank window partitions by
    // src — no global sort anywhere.
    QueryDef.sql(
      "q153_knn_graph", {
        val nPlanes = 24
        val bands = 3
        val rpb = nPlanes / bands
        def dotSqlPlane(j: Int): String =
          s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> " +
            s"CAST(embedding[i] AS DOUBLE) * (CAST((($j * 1000003 + (i - 1) * 7919) % 97 - 48) AS DOUBLE) / 48.0::DOUBLE))), (x, y) -> x + y)"
        val bucketSql = (0 until nPlanes).map { j =>
          s"CASE WHEN ${dotSqlPlane(j)} >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        val bandsSql = (0 until bands).map { b =>
          s"SELECT vec_id, $b AS band, (bucket >> ${b * rpb}) & ${(1 << rpb) - 1} AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH sig AS (
           |  SELECT vec_id, CAST($bucketSql AS BIGINT) AS bucket FROM embeddings),
           |bands AS (
           |  $bandsSql),
           |cand AS (
           |  SELECT DISTINCT l.vec_id AS d1, r.vec_id AS d2
           |  FROM bands l JOIN bands r
           |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id),
           |s AS (
           |  SELECT d1, d2, ${cosSql("a.embedding", "b.embedding")} AS sim
           |  FROM cand JOIN embeddings a ON d1 = a.vec_id
           |            JOIN embeddings b ON d2 = b.vec_id),
           |e AS (SELECT d1 AS src, d2 AS dst, sim FROM s
           |      UNION ALL SELECT d2 AS src, d1 AS dst, sim FROM s),
           |r AS (SELECT src, dst, sim,
           |        CAST(row_number() OVER (PARTITION BY src
           |               ORDER BY sim DESC, dst) AS BIGINT) AS rank
           |      FROM e)
           |SELECT src, dst, sim, rank FROM r WHERE rank <= 3
           |ORDER BY src, rank"""
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = Similarity.bandedNearDupPairs(
        Tables.spread(Tables.embeddings(s, d), col("vec_id"))
          .withColumn("g", lit(0)),
        "g", Similarity.rpPlanes(24, 64), 3, -1.0)
        // one candidate+cosine pass feeds both edge directions
        .transform(graft.Materialize.checkpoint)
      val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"), col("sim"))
        .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst"), col("sim")))
      val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
      edges
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("src", "rank")
    }
  )

  /** The composed IVF+PQ pipeline as DuckDB SQL, shared by q106 (books
    * trained on the full corpus), q107 (books trained on the base
    * corpus only, delta excluded) and q109 (q107 plus delete
    * tombstones): `trainWhere` filters the Lloyd training rows,
    * `initWhere` the codeword init subset, `serveCond` (over
    * `l.vec_id`) the rows the index SERVES — a tombstoned row is still
    * assigned/encoded (its code exists in the persisted state) but is
    * excluded at candidate time, exactly the engine's serve-time
    * anti-join. Assignment, encode, probing, and the winners-only
    * true-cosine join always run over the FULL corpus — with fixed
    * books, encoding distributes over union, so one full-corpus pass
    * equals the engine's base ∪ delta.
    */
  /** `rerankDepth > 0` appends the refine replay: ADC-rank to depth,
    * exact-cosine those winners only, re-rank on (sim DESC, n_id) —
    * NULLs last in both engines — and cut to k. Mirrors
    * [[graft.sim.Similarity]]'s `topKRejoin` depth path exactly.
    */
  private def ivfPqSql(trainWhere: String, initWhere: String,
      serveCond: String = "TRUE", rerankDepth: Int = 0): String = {
        val vaSql =
          "list_transform(e.embedding[(c.j*8+1):(c.j*8+8)], x -> CAST(x AS DOUBLE))"
        // the query subvector for subspace ch.j — one ADC table entry is
        // its sub-wide fold against the chosen codeword, and psim sums
        // those entries IN j ORDER from 0.0 (the engine's table-lookup
        // grouping, NOT a flat 64-wide fold)
        val qSliceSql =
          "list_transform(cand.qv[(ch.j*8+1):(ch.j*8+8)], x -> CAST(x AS DOUBLE))"
        s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
           |               WHERE $trainWhere),
           |${trainCtesSql("iv", 1, 64, 2, "train", initWhere)},
           |${trainCtesSql("pq", 8, 8, 2, "train", initWhere)},
           |cents AS (SELECT cent_id, cv FROM ivcb2),
           |casg AS (SELECT e.vec_id, e.embedding, cent_id,
           |          ${cosSql("e.embedding", "cv")} AS csim
           |        FROM embeddings e CROSS JOIN cents),
           |cell AS (SELECT vec_id, cent_id AS cell FROM (
           |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
           |           FROM casg) WHERE rn = 1),
           |probe AS (SELECT vec_id AS q_id, embedding AS qv, cent_id AS cell FROM (
           |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
           |           FROM casg WHERE vec_id % 100 = 0) WHERE rn <= 2),
           |easg AS (
           |  SELECT vec_id, j, cent_id, ${l2Sql("va", "cv")} AS dist FROM (
           |    SELECT e.vec_id, c.j, c.cent_id, c.cv, $vaSql AS va
           |    FROM embeddings e CROSS JOIN pqcb2 c) t),
           |chosen AS (SELECT vec_id, j,
           |    CASE WHEN isnan(dist) THEN NULL ELSE cent_id END AS cent_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
           |                                 ORDER BY dist, cent_id) AS rn
           |    FROM easg) WHERE rn = 1),
           |cand AS (SELECT p.q_id, p.qv, l.vec_id AS n_id
           |         FROM cell l JOIN probe p USING (cell)
           |         WHERE p.q_id <> l.vec_id AND ($serveCond)),
           |parts AS (
           |  SELECT cand.q_id, cand.n_id, ch.j,
           |    CASE WHEN ch.cent_id IS NULL THEN NULL
           |         ELSE ${dotSql(qSliceSql, "cb.cv")} END AS dj,
           |    CASE WHEN ch.cent_id IS NULL THEN NULL
           |         ELSE ${dotSql("cb.cv", "cb.cv")} END AS nj
           |  FROM cand JOIN chosen ch ON cand.n_id = ch.vec_id
           |       LEFT JOIN pqcb2 cb ON ch.j = cb.j AND ch.cent_id = cb.cent_id),
           |ssum AS (SELECT q_id, n_id,
           |    list_reduce(list_prepend(0.0::DOUBLE, list(dj ORDER BY j)),
           |                (x, y) -> x + y) AS num,
           |    list_reduce(list_prepend(0.0::DOUBLE, list(nj ORDER BY j)),
           |                (x, y) -> x + y) AS den2
           |  FROM parts GROUP BY q_id, n_id),
           |pq AS (SELECT DISTINCT q_id, qv FROM probe),
           |s AS (SELECT ssum.q_id, ssum.n_id, pq.qv,
           |        ssum.num / (sqrt(${dotSql("pq.qv", "pq.qv")}) *
           |                    sqrt(ssum.den2)) AS psim
           |      FROM ssum JOIN pq ON ssum.q_id = pq.q_id),
           |r AS (SELECT q_id, n_id, qv, psim,
           |        CAST(row_number() OVER (PARTITION BY q_id
           |               ORDER BY psim DESC, n_id) AS BIGINT) AS rank
           |      FROM s)
           |${
             if (rerankDepth <= 0)
               s"""SELECT q_id, n_id, psim, ${cosSql("qv", "e.embedding")} AS sim, rank
                  |FROM r JOIN embeddings e ON r.n_id = e.vec_id
                  |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
             else
               s""",deep AS (
                  |  SELECT q_id, n_id, psim, ${cosSql("qv", "e.embedding")} AS sim
                  |  FROM r JOIN embeddings e ON r.n_id = e.vec_id
                  |  WHERE rank <= $rerankDepth)
                  |SELECT q_id, n_id, psim, sim, rank FROM (
                  |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                  |         ORDER BY sim DESC, n_id) AS BIGINT) AS rank
                  |  FROM deep)
                  |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
           }"""
  }

  /** The RESIDUAL-coded IVF+PQ pipeline (q108) as DuckDB SQL — the
    * IVFADC replay: IVF cells train on raw vectors exactly as in
    * [[ivfPqSql]], but the PQ codebook inits, trains, and encodes on
    * CELL RESIDUALS (`CAST(e_i AS DOUBLE) − c_i`), and ranking replays
    * the reconstruction cosine `cos(q, c + r̂)` with the engine's exact
    * term grouping: `qc + (per-subspace dot folds summed in j order from
    * 0.0)` over `sqrt(q·q) · sqrt(cn2 + (2·dot(cⱼ,r̂ⱼ)+‖r̂ⱼ‖² summed the
    * same way))`. A NaN residual subvector nulls its chosen codeword and
    * thereby both sums — the encode propagation contract unchanged.
    */
  private def ivfPqResidualSql(trainWhere: String, initWhere: String): String = {
    val vaSql =
      "list_transform(e.embedding[(c.j*8+1):(c.j*8+8)], x -> CAST(x AS DOUBLE))"
    val qSliceSql =
      "list_transform(cand.qv[(ch.j*8+1):(ch.j*8+8)], x -> CAST(x AS DOUBLE))"
    // the candidate's home-cell centroid slice for the cross term — cv is
    // already DOUBLE (a trained mean), the cast is identity
    val cSliceSql = "list_transform(ct.cv[(ch.j*8+1):(ch.j*8+8)], x -> CAST(x AS DOUBLE))"
    s"""WITH train AS (SELECT vec_id, embedding FROM embeddings
       |               WHERE $trainWhere),
       |${trainCtesSql("iv", 1, 64, 2, "train", initWhere)},
       |cents AS (SELECT cent_id, cv FROM ivcb2),
       |casg AS (SELECT e.vec_id, e.embedding, cent_id,
       |          ${cosSql("e.embedding", "cv")} AS csim
       |        FROM embeddings e CROSS JOIN cents),
       |cell AS (SELECT vec_id, cent_id AS cell FROM (
       |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |           FROM casg) WHERE rn = 1),
       |probe AS (SELECT vec_id AS q_id, embedding AS qv, cent_id AS cell FROM (
       |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |           FROM casg WHERE vec_id % 100 = 0) WHERE rn <= 2),
       |eres AS MATERIALIZED (
       |  SELECT e.vec_id, cell.cell,
       |    list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) AS embedding
       |  FROM embeddings e JOIN cell ON e.vec_id = cell.vec_id
       |       JOIN cents c ON cell.cell = c.cent_id),
       |tres AS (SELECT vec_id, embedding FROM eres
       |         WHERE vec_id IN (SELECT vec_id FROM train)),
       |${trainCtesSql("pq", 8, 8, 2, "tres", initWhere, "eres")},
       |easg AS (
       |  SELECT vec_id, j, cent_id, ${l2Sql("va", "cv")} AS dist FROM (
       |    SELECT e.vec_id, c.j, c.cent_id, c.cv, $vaSql AS va
       |    FROM eres e CROSS JOIN pqcb2 c) t),
       |chosen AS (SELECT vec_id, j,
       |    CASE WHEN isnan(dist) THEN NULL ELSE cent_id END AS cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |                                 ORDER BY dist, cent_id) AS rn
       |    FROM easg) WHERE rn = 1),
       |cand AS (SELECT p.q_id, p.qv, l.vec_id AS n_id, cell
       |         FROM cell l JOIN probe p USING (cell)
       |         WHERE p.q_id <> l.vec_id),
       |parts AS (
       |  SELECT cand.q_id, cand.n_id, cand.cell, ch.j,
       |    CASE WHEN ch.cent_id IS NULL THEN NULL
       |         ELSE ${dotSql(qSliceSql, "cb.cv")} END AS dj,
       |    CASE WHEN ch.cent_id IS NULL THEN NULL
       |         ELSE 2.0 * ${dotSql(cSliceSql, "cb.cv")} + ${dotSql("cb.cv", "cb.cv")} END AS xj
       |  FROM cand JOIN chosen ch ON cand.n_id = ch.vec_id
       |       JOIN cents ct ON cand.cell = ct.cent_id
       |       LEFT JOIN pqcb2 cb ON ch.j = cb.j AND ch.cent_id = cb.cent_id),
       |ssum AS (SELECT q_id, n_id, any_value(cell) AS cell,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(dj ORDER BY j)),
       |                (x, y) -> x + y) AS sumd,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(xj ORDER BY j)),
       |                (x, y) -> x + y) AS sumx
       |  FROM parts GROUP BY q_id, n_id),
       |pq AS (SELECT DISTINCT q_id, qv FROM probe),
       |qcell AS (SELECT p.q_id, p.cell, ${dotSql("p.qv", "c.cv")} AS qc,
       |            ${dotSql("c.cv", "c.cv")} AS cn2
       |          FROM probe p JOIN cents c ON p.cell = c.cent_id),
       |s AS (SELECT ssum.q_id, ssum.n_id, pq.qv,
       |        (qcell.qc + ssum.sumd) /
       |          (sqrt(${dotSql("pq.qv", "pq.qv")}) * sqrt(qcell.cn2 + ssum.sumx)) AS psim
       |      FROM ssum JOIN pq ON ssum.q_id = pq.q_id
       |           JOIN qcell ON ssum.q_id = qcell.q_id AND ssum.cell = qcell.cell),
       |r AS (SELECT q_id, n_id, qv, psim,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |               ORDER BY psim DESC, n_id) AS BIGINT) AS rank
       |      FROM s)
       |SELECT q_id, n_id, psim, ${cosSql("qv", "e.embedding")} AS sim, rank
       |FROM r JOIN embeddings e ON r.n_id = e.vec_id
       |WHERE rank <= 3 ORDER BY q_id, rank"""
  }
}
