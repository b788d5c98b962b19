package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // `spill` tier delegates BEFORE any session exists: the constrained
    // pass needs spark.memory.fraction at context construction
    if (args.contains("spill")) {
      SpillSmoke.main(args.filterNot(_ == "spill"))
      return
    }
    val spark = graft.sources.FastLocalFileSystem.install(
      SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/sf1ish"
    // `win100` arg → only the 100x window-family tier below (the brief's
    // bar is 100x; the general smoke is 10x — reducer-SORTED costs are
    // the ops where another decade changes the verdict, so they get one)
    if (args.contains("win100")) {
      win100(spark, base, rebuild = !args.contains("nobuild"),
        pitOnly = args.contains("pitonly"),
        only = args.collectFirst {
          case a if a.startsWith("only=") =>
            a.stripPrefix("only=").split(",").toSet
        })
      spark.stop(); return
    }
    if (args.contains("sketch100")) {
      sketch100(spark, base, rebuild = !args.contains("nobuild"))
      spark.stop(); return
    }
    if (args.contains("compact100")) {
      compact100(spark, base, rebuild = !args.contains("nobuild"))
      spark.stop(); return
    }
    if (args.contains("mvcc")) {
      mvccSmoke(spark)
      spark.stop(); return
    }
    if (args.contains("partsurg")) {
      partsurgSmoke(spark)
      spark.stop(); return
    }
    if (args.contains("manifest10k")) {
      manifest10kSmoke(spark, if (args.contains("small")) 2048 else 10000)
      spark.stop(); return
    }
    if (args.contains("manifest100k")) {
      // the next decade of the manifest ceiling (the 64→1024 part-cap
      // lift): same probe at 10⁵ entries, fewer rows per file — the
      // cost under test is per-ENTRY, not per-row
      manifest10kSmoke(spark, 100000, rowsPerFile = 200L)
      spark.stop(); return
    }
    if (args.contains("bigkeys")) {
      bigkeysSmoke(spark)
      spark.stop(); return
    }
    // 10x replicate lineitem/orders with shifted keys; copy dims
    val reps = (0 until 10)
    def rep(t: String, keyCols: Seq[String], shift: Long): Unit = {
      val df = spark.read.parquet(s"$base/$t.parquet")
      // replica key ranges must stay disjoint: a base key >= shift would
      // alias into the next replica's range, manufacturing duplicate keys
      // that silently corrupt the 10x stateful-scaling measurement
      // (dedup, sessionization) at a larger base SF
      val bounds = df.agg(count(lit(1)).as("n"),
        keyCols.zipWithIndex.flatMap { case (k, i) => Seq(
          max(col(k)).cast("long").as(s"mx$i"),
          min(col(k)).cast("long").as(s"mn$i")) }: _*).head()
      if (bounds.getLong(0) > 0) keyCols.indices.foreach { i =>
        // non-empty table: a NULL max means the key column is all NULL
        // (or not castable to long) — replicas would then share identical
        // NULL keys, the very duplicate-key corruption the guard exists
        // to catch. Fail loud rather than skip.
        require(!bounds.isNullAt(2 * i + 1),
          s"$t.${keyCols(i)} has no numeric max (all NULL?) — cannot shift replicas safely")
        val (mx, mn) = (bounds.getLong(2 * i + 1), bounds.getLong(2 * i + 2))
        // disjointness needs BOTH bounds: replica r spans [mn+r*shift,
        // mx+r*shift], so ranges stay disjoint iff mx - mn < shift — a
        // max-only check misses negative mins (mx < shift but the span
        // still wider than shift)
        require(mx - mn < shift,
          s"$t.${keyCols(i)} range [$mn,$mx] spans >= replica shift $shift — raise the shift")
      }
      val u = reps.map { r =>
        keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * shift)))
      }.reduce(_ unionByName _)
      u.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // `nobuild` reuses /tmp/sf1ish from a prior run; `only=q..,q..`
    // times a subset (the win100 tier's dev-loop knobs, general edition)
    val generalOnly = args.collectFirst {
      case a if a.startsWith("only=") => a.stripPrefix("only=").split(",").toSet
    }
    // `skew` arg → run only the skew-shaped stress below (dev loop)
    if (!args.contains("skew")) {
    if (!args.contains("nobuild")) {
    rep("lineitem", Seq("l_orderkey"), 100000000L)
    rep("orders", Seq("o_orderkey"), 100000000L)
    // documents: shifted ids AND per-replica text perturbation, so the
    // corpus grows 10x without manufacturing 10-way exact-duplicate
    // groups (which would measure corpus pathology, not engine scaling).
    // NOTE the suffix perturbation still makes replicas edit-distance
    // near-dups of each other (distance ≤ 2, same 16-char prefix), so
    // q98's 10x number includes finding ~45 planted true pairs per
    // original (~2.7M output rows) — duplicate RECALL work, not blocking
    // saturation; q28's 10x blowup, by contrast, IS the documented
    // 24-bit simhash band saturation (q78 is the production width).
    locally {
      val df = spark.read.parquet(s"$base/documents.parquet")
      val b = df.agg(count(lit(1)), max(col("doc_id")), min(col("doc_id"))).head()
      if (b.getLong(0) > 0) {
        require(!b.isNullAt(1), "documents.doc_id has no max (all NULL?) — cannot shift replicas safely")
        val (mx, mn) = (b.getLong(1), b.getLong(2))
        require(mx - mn < 10000000L,
          s"documents.doc_id range [$mn,$mx] spans >= replica shift 10000000 — raise the shift")
      }
      reps.map { r =>
        df.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
          .withColumn("text", concat(col("text"), lit(s" rep$r")))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    // events: 10x USERS (shifted user_id + event_id, same time range) —
    // per-user window/session state and stream-stream join state grow
    // 10x while the watermark horizon stays put, which is exactly how a
    // larger deployment's stateful load scales
    rep("events", Seq("event_id", "user_id"), 10000000L)
    // embeddings: shifted ids AND a per-replica float nudge on dimension
    // 0 — identical replicas would park 10 copies of every vector in the
    // same LSH/IVF bucket and the ANN smokes would measure duplicate
    // pathology, not corpus growth (the documents rule, vector edition)
    locally {
      val df = spark.read.parquet(s"$base/embeddings.parquet")
      val b = df.agg(count(lit(1)), max(col("vec_id")), min(col("vec_id"))).head()
      if (b.getLong(0) > 0) {
        require(!b.isNullAt(1), "embeddings.vec_id has no max — cannot shift replicas")
        require(b.getLong(1) - b.getLong(2) < 10000L,
          s"embeddings.vec_id range >= replica shift 10000 — raise the shift")
      }
      reps.map { r =>
        df.withColumn("vec_id", col("vec_id") + lit(r * 10000L))
          .withColumn("embedding",
            transform(col("embedding"), (x, i) =>
              when(i === 0, (x + lit((r * 0.01).toFloat)).cast("float"))
                .otherwise(x)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    for (t <- Seq("customer", "supplier", "part", "nation", "region"))
      spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
    println("rows: " + spark.read.parquet(s"$out/lineitem.parquet").count())
    }
    // time key queries at 1x vs 10x
    for (q <- Seq("q01_pricing_summary", "q05_dedup_keepfirst", "q08_join_broadcast_dim",
      "q11_anti_join", "q50_salted_join", "q07_negative_ids", "q26_minhash_lsh",
      "q63_dateutil_gate", "q28_simhash_pairs", "q71_dup_clusters",
      "q74_pii_scrub", "q75_profile", "q76_freq_sketch", "q78_simhash64_pairs",
      "q79_incremental_dedup", "q82_bloom_join", "q83_gaps_islands",
      "q93_global_deciles", "q96_bucketed_join", "q98_edit_distance",
      "q35_sessionize", "q38_stateful_sessionize", "q103_tws_sessionize",
      "q84_funnel", "q90_ewma_smooth", "q36_stream_tumbling",
      "q65_stream_dedup", "q39b_stream_stream_join", "q99_stream_outer_join",
      "q100_ann_pq", "q101_embed_decontaminate", "q104_hll_merge",
      "q105_binary_ingest", "q66_ann_ivf_nprobe", "q106_ann_ivf_pq",
      "q108_ann_residual_pq",
      // round-11 operational/training ops over the replicated tables
      // (events/documents/orders grow 10x; q118/q124 stay off the list —
      // their customer base is a deliberately-unreplicated dimension)
      "q119_bloom_point_lookup", "q120_shuffle_shards",
      "q121_hashed_classifier", "q123_compact_zorder", "q125_pit_join",
      "q126_boilerplate_strip", "q127_rank_normalize",
      "q128_stratified_topn", "q131_manifest_transparent",
      "q132_pipeline_e2e", "q133_manifest_partitioned",
      // round-12 dedup additions: substring windows grow with the corpus
      // (token-linear, digest-keyed shuffle — 10x row is ~1.5x); semdedup
      // trains cells from the %97 init, so cell COUNT grows with the
      // corpus and per-cell pair work stays ~constant — total linear,
      // and the 10x row runs flat (1x pays first-query JVM warmup)
      "q139_semdedup", "q140_substring_dedup",
      // count-min state: the build is a ×d map-side explode + partial
      // agg (shuffle carries ≤ days·d·W counter rows, not events), the
      // probe a broadcast join — expected ~flat at 10x events
      "q141_cms_state_merge",
      // round-14 sequence-prep: q151's LM build/score shuffles bigram
      // KEYS (vocab-bounded) while the corpus side is map-side — ~linear;
      // q152 is pure map-side chunking — linear by construction;
      // q157's only corpus-sized work is one token-count groupBy (the
      // windows run on the K-source aggregate) — expected flat; q158 is
      // a reporting aggregate over q26's pair relation — q26's growth
      "q151_bigram_lm_nll", "q152_chunk_sliding",
      "q157_mixture_waterfill", "q158_dup_source_matrix")
      .filter(q => generalOnly.forall(_.contains(q)))) {
      for ((tag, dir) <- Seq("1x" -> base, "10x" -> out)) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
        println(f"$q%-28s $tag%-4s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    if (generalOnly.forall(_.contains("grid_spatial_polys")))
    // grid spatial at a 10x POLYGON table (the points side stays 1x:
    // replicating both sides would grow per-cell pair work 100x and
    // measure quadratic pathology, not polygon-table scaling). Replicas
    // are offset WITHIN the [0,100)^2 point box so every replica still
    // overlays real points — grid cells carry 10x polygon entries.
    locally {
      import spark.implicits._
      graft.geo.Geo.register(spark)
      def polyDf(nReps: Int) =
        (0 until nReps).flatMap { r =>
          graft.queries.GeoQueries.Polygons.map { case (nm, vs) =>
            (s"$nm-r$r", vs.map(_._1 + r * 0.37).toArray, vs.map(_._2 + r * 0.53).toArray)
          }
        }.toDF("name", "xs", "ys")
      val pts = spark.read.parquet(s"$out/customer.parquet").select(
        col("c_custkey"),
        (((col("c_custkey") * 7) % 1000).cast("double") / 10.0).as("x"),
        (((col("c_custkey") * 13) % 1000).cast("double") / 10.0).as("y"))
      for ((tag, n) <- Seq("1x" -> 1, "10x" -> 10)) {
        val t0 = System.nanoTime()
        graft.geo.Geo.gridSpatialJoin(pts, polyDf(n), cellSize = 10.0)
          .groupBy("name").agg(count(lit(1)))
          .queryExecution.toRdd.count()
        println(f"${"grid_spatial_polys"}%-28s $tag%-4s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    }
    // ---- kNN-graph r-scaling (q153's scale mechanism, demonstrated) ----
    // A fixed band width at 10x data grows per-bucket membership 10x and
    // candidate-pair work ~100x — the exact quadratic pathology q26 was
    // flagged for. q153's documented rule (r ≈ log2(n / target_bucket))
    // instead holds bucket occupancy flat: +ceil(log2(10)) ≈ 3 extra
    // planes per band at 10x (24 → 33; buckets 256 → 2048 per band), so
    // candidate work grows with n, not n². Both tiers run the full
    // construction (candidates → exact cosine → symmetric top-3).
    if (!args.contains("skew") && generalOnly.forall(_.contains("knn_graph_rscale")))
    locally {
      import org.apache.spark.sql.expressions.Window
      for ((tag, dir, nPlanes) <- Seq(("1x", base, 24), ("10x", out, 33))) {
        val t0 = System.nanoTime()
        val pairs = graft.sim.Similarity.bandedNearDupPairs(
          Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
            .withColumn("g", lit(0)),
          "g", graft.sim.Similarity.rpPlanes(nPlanes, 64), 3, -1.0)
          .transform(graft.Materialize.checkpoint)
        val edges = pairs
          .select(col("d1").as("src"), col("d2").as("dst"), col("sim"))
          .unionAll(pairs
            .select(col("d2").as("src"), col("d1").as("dst"), col("sim")))
        val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
        val n = edges.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .queryExecution.toRdd.count()
        println(f"knn_graph_rscale $tag%-4s planes=$nPlanes edges=$n ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    // ---- sparse retrieval under corpus growth (q156's shape) -----------
    // The registered q156 grows its QUERY SET with the corpus (doc_id %
    // 100 matches in every replica), which would measure queries ×
    // corpus. Production retrieval holds the query set fixed while the
    // corpus grows, so this block pins 5 query docs (the 1x set) and
    // re-times the full inverted-index retrieval at 1x and 10x: cost
    // per query tracks POSTING-LIST LENGTH — linear in the corpus,
    // never corpus² (pairs exist only where tokens are shared).
    if (!args.contains("skew") && generalOnly.forall(_.contains("tfidf_fixedq")))
    locally {
      import org.apache.spark.sql.expressions.Window
      for ((tag, dir) <- Seq("1x" -> base, "10x" -> out)) {
        val t0 = System.nanoTime()
        val docs = Tables.documents(spark, dir)
        val tf = docs.select(col("doc_id"),
            explode(graft.text.TextAnalysis.tokens(lower(col("text")))).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dft = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val nd = docs.agg(count(lit(1)).as("n"))
        // no hint on dft (vocab-sized, Heaps' law): mirrors q156's plan
        val w = tf.join(dft, "token").crossJoin(broadcast(nd))
          .select(col("doc_id"), col("token"),
            (col("tf").cast("double") *
              log(col("n").cast("double") / col("df").cast("double"))).as("w"))
          .transform(Materialize.checkpoint)
        val nrm = w.groupBy("doc_id")
          .agg(sum(floor(col("w") * col("w") * lit(1e6) + lit(0.5))).as("n2e6"))
          .select(col("doc_id"), sqrt(col("n2e6").cast("double") / lit(1e6)).as("nrm"))
        // FIXED query set: the 1x queries only, in every tier
        val q = w.filter(col("doc_id") < 500 && col("doc_id") % 100 === 0)
          .select(col("doc_id").as("q_id"), col("token"), col("w").as("wq"))
        val pairs = broadcast(q)
          .join(w.select(col("doc_id").as("n_id"), col("token"), col("w").as("wc")),
            "token")
          .filter(col("q_id") =!= col("n_id"))
          .groupBy("q_id", "n_id")
          .agg(sum(floor(col("wq") * col("wc") * lit(1e6) + lit(0.5))).as("dot_e6"))
        val win = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
        val rows = pairs
          .join(nrm.select(col("doc_id").as("q_id"), col("nrm").as("nq")), "q_id")
          .join(nrm.select(col("doc_id").as("n_id"), col("nrm").as("nc")), "n_id")
          .select(col("q_id"), col("n_id"),
            ((col("dot_e6").cast("double") / lit(1e6)) /
              (col("nq") * col("nc"))).as("sim"))
          .withColumn("rank", row_number().over(win))
          .filter(col("rank") <= 3)
          .queryExecution.toRdd.count()
        println(f"tfidf_fixedq $tag%-4s rows=$rows ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    // ---- skew-shaped stress (dedup/CC family) --------------------------
    // Everything above replicates UNIFORM testdata; the scale claims for
    // q26/q28/q71 rest on SKEW behavior no uniform smoke exercises. Three
    // asserts on a synthesized power-law workload:
    //  (1) CC round count stays O(log n) — never O(diameter) — on a graph
    //      with both hub clusters and a deep chain component;
    //  (2) no task of the contraction's shuffle-heavy stages reads more
    //      than 2x the stage mean (hub keys must be absorbed by map-side
    //      combine / stay within join balance at this degree);
    //  (3) the LSH band-bucket histogram tracks PLANTED cluster sizes
    //      under power-law duplicate clusters — buckets never merge
    //      across clusters, so candidate-pair work is the true-dup work.
    locally {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      // ~10M-edge power-law graph over 4M nodes: endpoint v drawn from a
      // cubic-skew law via a deterministic hash (v=0 needs s < (1/4e6)^⅓
      // ≈ 6.3e-3, so P(v=0) ≈ 0.63% → top hub degree ≈ 63k, ~250× the
      // 2.5-mean-degree baseline), plus a 65,536-node CHAIN — hub stars
      // alone contract in 2 rounds and would not exercise depth at all
      val nNodes = 4000000L
      val nEdges = 10000000L
      val chainLen = 65536L
      def skew01(c: org.apache.spark.sql.Column) =
        pmod(xxhash64(c), lit(1 << 20)).cast("double") / (1 << 20).toDouble
      val powerLaw = spark.range(nEdges).select(
        (col("id") % nNodes).as("u"),
        floor(lit(nNodes.toDouble) * pow(skew01(col("id")), 3.0))
          .cast("long").as("v"))
      val chain = spark.range(chainLen - 1).select(
        (col("id") + nNodes).as("u"), (col("id") + nNodes + 1).as("v"))
      val edges = powerLaw.unionByName(chain)

      val stageReads = scala.collection.concurrent.TrieMap.empty[Int, List[Long]]
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null && te.taskInfo != null && te.taskInfo.successful) {
            val bytes = m.shuffleReadMetrics.totalBytesRead
            stageReads.updateWith(te.stageId) {
              case Some(l) => Some(bytes :: l)
              case None => Some(bytes :: Nil)
            }
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val (labels, rounds) =
        graft.dedup.ConnectedComponents.runWithRounds(edges)
      val nComponents = labels.select("label").distinct().count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(3000) // let the listener bus drain before reading
      spark.sparkContext.removeSparkListener(listener)
      println(f"cc_powerlaw rounds=$rounds components=$nComponents $dt%8.2f s")
      // (1) log2(4.3M nodes) = 22, chain depth 65k → log-order rounds
      require(rounds <= 30,
        s"CC took $rounds rounds on a 65k chain — not O(log n)")
      // (2) per-task shuffle-read balance inside every heavy stage. Mean
      // over tasks that READ anything: a stage unioning two shuffle
      // dependencies schedules one task set per side, and the empty
      // side's zero-read tasks would halve the mean and flag a perfectly
      // balanced stage at exactly 2.0x.
      val offenders = stageReads.toSeq.flatMap { case (sid, reads) =>
        val live = reads.filter(_ > 0)
        if (live.size >= 4 && live.sum > (64L << 20)) {
          val mean = live.sum.toDouble / live.size
          if (live.max > 2.0 * mean)
            Some(f"stage $sid: max=${live.max} mean=$mean%.0f over ${live.size} live tasks")
          else None
        } else None
      }
      require(offenders.isEmpty, "skewed stages:\n" + offenders.mkString("\n"))

      // (3) band buckets under power-law duplicate clusters: 1M docs in
      // zipf-sized identical-text clusters (top cluster ~21k docs; texts
      // of DIFFERENT clusters share no tokens, so only planted dups
      // should bucket together). Identical docs share every band, so the
      // max bucket must equal the top planted cluster — any excess means
      // banding merged clusters and candidate work stopped tracking true
      // duplicate mass.
      val nDocs = 1000000L
      val nClusters = 100000L
      val toks = (0 until 8).map(j =>
        pmod(col("cluster") * lit(31 + 2 * j) + lit(j), lit(999983L)))
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        floor(lit(nClusters.toDouble) * pow(skew01(col("id") + 7777777L), 3.0))
          .cast("long").as("cluster"))
        .withColumn("text", concat_ws(" ", toks: _*))
      val bands = docs
        .select(col("doc_id"), col("cluster"),
          graft.dedup.Dedup.minhashUdf(
            graft.dedup.Dedup.distinctShinglesUdf(col("text"), lit(3))).as("mh"))
        .select(col("doc_id"), col("cluster"),
          posexplode(graft.dedup.Dedup.bandKeys(col("mh"))).as(Seq("band", "key")))
      val hist = bands.groupBy("band", "key")
        .agg(count(lit(1)).as("n"), countDistinct(col("cluster")).as("nc"))
        .agg(max(col("n")).as("maxBucket"), max(col("nc")).as("maxClusters"))
        .head()
      val topCluster = docs.groupBy("cluster").count()
        .agg(max(col("count"))).head().getLong(0)
      println(s"lsh_bucket_histogram maxBucket=${hist.getLong(0)} " +
        s"maxClustersPerBucket=${hist.getLong(1)} topPlantedCluster=$topCluster")
      require(hist.getLong(0) <= topCluster,
        s"band bucket ${hist.getLong(0)} exceeds top planted cluster $topCluster — clusters merged")
      require(hist.getLong(1) <= 2,
        s"${hist.getLong(1)} distinct clusters share one band bucket")
    }
    spark.stop()
  }

  /** 100× tier for the SKETCH-STATE family (q104 HLL / q137 mergeable
    * quantile histogram / q141 count-min): these claim corpus-size-
    * INDEPENDENT merge cost — the state is (group, cell, count) rows
    * whose cardinality is days × types × cells, never corpus rows — so
    * the proof splits each query at its persistence boundary: the state
    * BUILD (the one corpus-sized partial-agg pass, written to parquet
    * like a deployment would) is timed apart from the READ-TIME merge +
    * estimate (which touches only the state table). Expected shape:
    * build ~linear in the decade (parallel map work at fixed cores),
    * merge ~flat (state cardinality does not grow — events replicas
    * shift USERS, not the time range, exactly how a larger deployment's
    * day-cell population scales).
    */
  private def sketch100(spark: SparkSession, base: String, rebuild: Boolean): Unit = {
    import graft.functions.Cms
    val d10 = "/tmp/graft_sketch10x"
    val d100 = "/tmp/graft_sketch100x"
    if (rebuild) for ((out, n) <- Seq((d10, 10), (d100, 100))) {
      val df = spark.read.parquet(s"$base/events.parquet")
      (0 until n).map { r =>
        df.withColumn("event_id", col("event_id") + lit(r * 100000000L))
          .withColumn("user_id", col("user_id") + lit(r * 100000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    val dayNs = 86400L * 1000 * 1000 * 1000
    for ((tag, dir) <- Seq("1x" -> base, "10x" -> d10, "100x" -> d100)) {
      val stateRoot = s"/tmp/graft_sketch_state/$tag"
      val ev = Tables.events(spark, dir)
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      // HLL daily sketches
      val tHb = timed {
        ev.groupBy(col("event_type"), (col("ts_ns") - col("ts_ns") % dayNs).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .write.mode("overwrite").parquet(s"$stateRoot/hll")
      }
      val tHm = timed {
        spark.read.parquet(s"$stateRoot/hll").groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
          .queryExecution.toRdd.count()
      }
      val hllRows = spark.read.parquet(s"$stateRoot/hll").count()
      println(f"sketch100 hll  $tag%-4s build=$tHb%7.2f s merge=$tHm%6.2f s state_rows=$hllRows")
      // quantile histogram (fixed [0,1]-ish bounds avoid re-deriving
      // min/max per tier — value range is SF-invariant in testdata)
      val b = ev.agg(min("value"), max("value")).head()
      val (lo, hi) = (b.getDouble(0), b.getDouble(1))
      val w = (hi - lo) / 256
      val tQb = timed {
        ev.groupBy(col("event_type"), (col("ts_ns") - col("ts_ns") % dayNs).as("day"),
          least(lit(255L), floor((col("value") - lo) / w).cast("long")).as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$stateRoot/hist")
      }
      val tQm = timed {
        val merged = spark.read.parquet(s"$stateRoot/hist")
          .groupBy("event_type", "bin").agg(sum(col("cnt")).as("cnt"))
        merged.queryExecution.toRdd.count()
      }
      val histRows = spark.read.parquet(s"$stateRoot/hist").count()
      println(f"sketch100 hist $tag%-4s build=$tQb%7.2f s merge=$tQm%6.2f s state_rows=$histRows")
      // count-min daily counters
      val tCb = timed {
        Cms.state(ev.withColumn("day", col("ts_ns") - col("ts_ns") % dayNs),
          col("user_id"), Seq("day"))
          .write.mode("overwrite").parquet(s"$stateRoot/cms")
      }
      val tCm = timed {
        Cms.merge(spark.read.parquet(s"$stateRoot/cms"))
          .queryExecution.toRdd.count()
      }
      val cmsRows = spark.read.parquet(s"$stateRoot/cms").count()
      println(f"sketch100 cms  $tag%-4s build=$tCb%7.2f s merge=$tCm%6.2f s state_rows=$cmsRows")
      times(tag) = Map("hll" -> (tHb, tHm), "hist" -> (tQb, tQm), "cms" -> (tCb, tCm))
    }
    for (fam <- Seq("hll", "hist", "cms");
         t10 <- times.get("10x"); t100 <- times.get("100x")) {
      val (b10, m10) = t10(fam)
      val (b100, m100) = t100(fam)
      println(f"sketch100 $fam%-4s exponent(10x->100x) build=${math.log10(b100 / b10)}%5.2f " +
        f"merge=${math.log10(m100 / m10)}%5.2f")
    }
  }
  private val times =
    scala.collection.mutable.Map.empty[String, Map[String, (Double, Double)]]

  /** 100× tier for ANN index COMPACTION (q146): the claim is that
    * compaction cost tracks INDEX rows — (n_id, cell, pcode), ~40 B a
    * vector — never corpus bytes (the raw embeddings are 256 B each
    * and compaction must not read them at all). Train real books once
    * at sf0.1, build the real index, replicate its ROWS 10×/100× by
    * n_id shift (cells unchanged — a growing corpus under a fixed cell
    * count, the steady-state shape), then time the full served →
    * compacted rewrite including the ~1/7 tombstone anti-join and the
    * manifest refresh. Expected ~linear in index rows (the range
    * shuffle is the whole job) with second-scale constants; the smoke
    * exists to catch any accidental corpus-sized dependency creeping
    * into the rewrite.
    */
  /** MVCC write-surgery smoke: deleteRange and mergeKeys claim
    * O(touched files) — a narrow delete / small upsert batch against a
    * table of N files must cost ~flat wall as N (and table rows with
    * it) grow 16×, because only the 1-3 evidence-intersecting files
    * rewrite and every other manifest entry carries by reference. The
    * contrast row is the naive full-table rewrite at the same N, which
    * grows with the data. A super-flat delete/merge row here would mean
    * an accidental table-sized dependency crept into the surgery.
    */
  private def mvccSmoke(spark: SparkSession): Unit = {
    import graft.sources.FileManifest
    for (n <- Seq(64, 256, 1024)) {
      val dir = s"/tmp/graft_mvcc/$n"
      val p = new org.apache.hadoop.fs.Path(dir)
      val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (hfs.exists(p)) hfs.delete(p, true)
      val rows = n * 20000L
      val df = spark.range(rows).select(col("id").as("k"), (col("id") % 97).as("v"))
      FileManifest.writeThrough(df.repartitionByRange(n, col("k")), dir,
        Seq("k"), mode = "overwrite")
      // DELETION VECTORS first (v2): the same narrow-delete shape as a
      // DV write must stay flat AND beat the rewrite form — the cost is
      // one column-pruned scan of the 1-2 intersecting files plus a
      // manifest commit, with NO data-file write at all
      var t0 = System.nanoTime()
      val (dvN, dvRw, dvCar) = FileManifest.deleteRangeDV(
        spark, dir, "k", lit(45000L), lit(46000L), Seq("k"))
      val dvDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_dv_delete files=$n%-5d rows=$rows%-9d dv=$dvN rewritten=$dvRw carried=$dvCar $dvDt%7.2f s")
      t0 = System.nanoTime()
      val (dRw, dCar) = FileManifest.deleteRange(
        spark, dir, "k", lit(15000L), lit(25000L), Seq("k"))
      val dDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_delete files=$n%-5d rows=$rows%-9d rewritten=$dRw carried=$dCar $dDt%7.2f s")
      t0 = System.nanoTime()
      import spark.implicits._
      val ups = Seq((100L, -1L), (40000L, -1L), (rows + 5L, -2L)).toDF("k", "v")
      val (mRw, mCar) = FileManifest.mergeKeys(spark, dir, ups, "k", Seq("k"))
      val mDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_merge  files=$n%-5d rows=$rows%-9d rewritten=$mRw carried=$mCar $mDt%7.2f s")
      // MERGE-ON-READ twin: the same upsert shape through mergeKeysDV —
      // old rows DV'd, batch appended, zero candidate rewrites — must
      // stay flat AND undercut the copy-on-write merge above
      t0 = System.nanoTime()
      val ups2 = Seq((101L, -1L), (40001L, -1L), (rows + 6L, -2L)).toDF("k", "v")
      val (morDv, morRw, morCar) =
        FileManifest.mergeKeysDV(spark, dir, ups2, "k", Seq("k"))
      val morDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_mor    files=$n%-5d rows=$rows%-9d dv=$morDv rewritten=$morRw carried=$morCar $morDt%7.2f s")
      // PRUNED TIME TRAVEL: a filtered as-of read of v1 must stay ~flat
      // as the snapshot grows 16× (the version-pinned index opens only
      // the 1-2 bounds-intersecting files), while the full as-of scan
      // grows with the data — the same skip asymmetry the current-read
      // path shows, now on history
      // sum(v), not count(): parquet count() answers from row-group
      // metadata without touching a data page, so it can't witness the
      // scan the pruning saves
      t0 = System.nanoTime()
      val fullS = FileManifest.readAsOf(spark, dir, 1L)
        .agg(sum("v")).head().getLong(0)
      val fullDt = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val sliceS = FileManifest.readAsOf(spark, dir, 1L)
        .filter(col("k") >= 17000L && col("k") <= 18000L)
        .agg(sum("v")).head().getLong(0)
      val sliceDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_asof   files=$n%-5d full_sum=$fullS%-12d full=$fullDt%6.2f s " +
        f"slice_sum=$sliceS%-8d pruned=$sliceDt%6.2f s")
      // DV read overhead: the CURRENT read carries the dv anti-filter
      // (broadcast join against the manifest's 1 dv row + the codegen
      // binary-search probe) — compare against the as-of v1 full read
      // just above, which scans the same bytes with NO wrap (v1's
      // manifest predates the dv column)
      t0 = System.nanoTime()
      val curS = graft.sources.ManifestFileIndex.read(spark, dir)
        .agg(sum("v")).head().getLong(0)
      val curDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_dv_read files=$n%-5d cur_sum=$curS%-12d wrapped=$curDt%6.2f s (vs unwrapped $fullDt%6.2f s)")
      // contrast: what a non-surgical engine pays — rewrite the table
      t0 = System.nanoTime()
      graft.sources.ManifestFileIndex.read(spark, dir)
        .filter(!col("k").between(30000L, 31000L))
        .write.mode("overwrite").parquet(s"$dir.naive")
      println(f"mvcc_naive_rewrite files=$n%-5d rows=$rows%-9d ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    // WIDE-ROW tier: the copy-on-write / merge-on-read trade in its
    // honest shape — CoW rewrites every candidate file at FULL row
    // width, MoR scans one key column and writes a batch-sized file.
    // Narrow smoke rows hide this; ~0.5 KB payloads expose it.
    locally {
      import spark.implicits._
      val dir = "/tmp/graft_mvcc/wide"
      val p = new org.apache.hadoop.fs.Path(dir)
      val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (hfs.exists(p)) hfs.delete(p, true)
      val rows = 16 * 100000L
      val df = spark.range(rows).select(col("id").as("k"),
        concat_ws("-", (0 until 16).map(i => md5(concat(col("id"), lit(i)))): _*)
          .as("payload"))
      FileManifest.writeThrough(df.repartitionByRange(16, col("k")), dir,
        Seq("k"), mode = "overwrite")
      // keys strided so EVERY file is a candidate — the worst CoW case
      val ks = (0 until 16).map(i => i * 100000L + 50000L)
      val upsCow = ks.map(k => (k, "updated")).toDF("k", "payload")
      var t0 = System.nanoTime()
      val (cowRw, _) = FileManifest.mergeKeys(spark, dir, upsCow, "k", Seq("k"))
      val cowDt = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_wide_cow files=16 rows=$rows%-9d rewritten=$cowRw $cowDt%7.2f s")
      val upsMor = ks.map(k => (k + 1L, "updated")).toDF("k", "payload")
      t0 = System.nanoTime()
      val (morDv2, morRw2, _) =
        FileManifest.mergeKeysDV(spark, dir, upsMor, "k", Seq("k"))
      val morDt2 = (System.nanoTime() - t0) / 1e9
      println(f"mvcc_wide_mor files=16 rows=$rows%-9d dv=$morDv2 rewritten=$morRw2 $morDt2%7.2f s")
      // worst-case DV read: after the MoR merge EVERY file carries a DV
      // — the whole scan rides the position join (no fast-path side), so
      // this prices the anti-filter itself, not the split
      t0 = System.nanoTime()
      val wSum = graft.sources.ManifestFileIndex.read(spark, dir)
        .agg(sum(length(col("payload")))).head().getLong(0)
      println(f"mvcc_wide_dv_read files=16 rows=$rows%-9d sum=$wSum ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }

    // measured-count guard tier: the update BATCH grows 10×/100× across
    // the collected-key cap (default 100k). Above it mergeKeys switches
    // to bounds-only candidate selection — ZERO driver-resident key
    // state — so driver heap must stay flat while only the (genuinely
    // data-sized) rewrite grows. Keys stride the whole table, so every
    // file is a candidate under either path and the rows are
    // like-for-like.
    locally {
      import spark.implicits._
      import graft.sources.FileManifest
      def usedMB: Long = {
        // settle before measuring: broadcast blocks (the anti-join ships
        // the update keys executor-side) release through the async
        // ContextCleaner after refs drop, and gc is advisory — without
        // the pause the reading mostly shows not-yet-collected garbage
        System.gc(); Thread.sleep(1500); System.gc()
        val r = Runtime.getRuntime
        (r.totalMemory() - r.freeMemory()) >> 20
      }
      val rows = 256 * 20000L
      for (bs <- Seq(10000L, 100000L, 1000000L)) {
        val dir = s"/tmp/graft_mvcc/batch"
        val p = new org.apache.hadoop.fs.Path(dir)
        val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (hfs.exists(p)) hfs.delete(p, true)
        val df = spark.range(rows).select(col("id").as("k"), (col("id") % 97).as("v"))
        FileManifest.writeThrough(df.repartitionByRange(256, col("k")), dir,
          Seq("k"), mode = "overwrite")
        val stride = math.max(1L, rows / bs)
        val ups = spark.range(bs)
          .select((col("id") * stride).as("k"), lit(-1L).as("v"))
        val before = usedMB
        val t0 = System.nanoTime()
        val (rw, car) = FileManifest.mergeKeys(spark, dir, ups, "k", Seq("k"))
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"mvcc_merge_batch batch=$bs%-8d rewritten=$rw carried=$car " +
          f"driver_heap=${before}%4d->${usedMB}%4d MB $dt%7.2f s")
      }
    }

    // DV-SPILL tier: the NUMBER of DV-carrying files grows 4×/16× (one
    // key erased per file, so EVERY file carries a DV) and the read is
    // timed on both sides of the broadcast size gate — default
    // threshold (driver LocalRelation broadcast) vs forced spill
    // (version-keyed parquet, shuffle-side join). The claim: the
    // fallback ENGAGES (no driver collect of dv bytes), returns
    // identical sums, and its read time scales with the data like the
    // broadcast path does — never a driver-memory cliff.
    locally {
      import graft.sources.FileManifest
      for (n <- Seq(64, 256, 1024)) {
        val dir = s"/tmp/graft_mvcc/spill_$n"
        val p = new org.apache.hadoop.fs.Path(dir)
        val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (hfs.exists(p)) hfs.delete(p, true)
        val rows = n * 20000L
        val df = spark.range(rows).select(col("id").as("k"), (col("id") % 97).as("v"))
        FileManifest.writeThrough(df.repartitionByRange(n, col("k")), dir,
          Seq("k"), mode = "overwrite")
        val keys = (0 until n).map(i => i * 20000L + 7L)
        val (dvN, _, _) = FileManifest.deleteKeysDV(spark, dir, "k", keys, Seq("k"))
        var t0 = System.nanoTime()
        val bSum = graft.sources.ManifestFileIndex.read(spark, dir)
          .agg(sum("v")).head().getLong(0)
        val bDt = (System.nanoTime() - t0) / 1e9
        val (sSum, sDt, sDt2) =
          try {
            spark.conf.set(FileManifest.DvBroadcastMaxBytesKey, "1") // force the fallback
            t0 = System.nanoTime()
            val s1 = graft.sources.ManifestFileIndex.read(spark, dir)
              .agg(sum("v")).head().getLong(0)
            val d1 = (System.nanoTime() - t0) / 1e9
            t0 = System.nanoTime() // second read reuses the spill
            graft.sources.ManifestFileIndex.read(spark, dir)
              .agg(sum("v")).head().getLong(0)
            (s1, d1, (System.nanoTime() - t0) / 1e9)
          } finally spark.conf.unset(FileManifest.DvBroadcastMaxBytesKey)
        println(f"mvcc_dv_spill files=$n%-5d dvfiles=$dvN%-5d bcast=$bDt%6.2f s " +
          f"spill_cold=$sDt%6.2f s spill_warm=$sDt2%6.2f s equal=${bSum == sSum}")
      }
    }
  }

  /** PARTITIONED-SURGERY staging scaling: constant total rows across a
    * growing partition-dir count, optimizePartitioned timed with the
    * staging pool at 1 (the old sequential loop) vs the default 8. The
    * I/O is identical; the delta is pure job-scheduling latency — the
    * quantity that grows linearly with tree width when staging is
    * sequential and ~flat when it overlaps.
    */
  private def partsurgSmoke(spark: SparkSession): Unit = {
    import graft.sources.FileManifest
    for (p <- Seq(16, 64)) {
      val rows = 1600000L
      def build(dir: String): Unit = {
        val path = new org.apache.hadoop.fs.Path(dir)
        val hfs = path.getFileSystem(spark.sessionState.newHadoopConf())
        if (hfs.exists(path)) hfs.delete(path, true)
        val df = spark.range(rows)
          .select(col("id").as("k"), (col("id") % p).as("part"))
        FileManifest.writeThrough(
          df.repartitionByRange(p * 2, col("part"), col("k")),
          dir, Seq("k"), partitionCols = Seq("part"), mode = "overwrite")
      }
      for (conc <- Seq(1, 8)) {
        val dir = s"/tmp/graft_partsurg/p${p}_c$conc"
        build(dir)
        spark.conf.set(FileManifest.MaxConcurrentStagingKey, conc.toString)
        try {
          val t0 = System.nanoTime()
          val w = FileManifest.optimizePartitioned(spark, dir, Seq("k"),
            targetRowsPerFile = rows / p)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"partsurg_optimize parts=$p%-4d conc=$conc%-2d files=$w%-5d $dt%7.2f s")
        } finally spark.conf.unset(FileManifest.MaxConcurrentStagingKey)
      }
    }
  }

  /** MANIFEST CEILING at 10⁴ files with bloom sidecars — the publish
    * cost question the coalesce(1)-era write left unmeasured: time the
    * initial buildWithBloom (stats job + manifest write), then a keyed
    * MERGE commit (whose manifest rewrite carries every entry byte-for-
    * byte through the sharded write), then a planned read. Prints the
    * manifest part count and total bytes so the sharding is observable.
    */
  private def manifest10kSmoke(spark: SparkSession, n: Int,
      rowsPerFile: Long = 2000L): Unit = {
    import graft.sources.FileManifest
    import spark.implicits._
    val dir = s"/tmp/graft_manifest10k/$n"
    val path = new org.apache.hadoop.fs.Path(dir)
    val hfs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(path)) hfs.delete(path, true)
    val rows = n * rowsPerFile // small files: the cost under test is per-ENTRY
    var t0 = System.nanoTime()
    FileManifest.writeThrough(
      spark.range(rows).select(col("id").as("k"), (col("id") % 97).as("v"))
        .repartitionByRange(n, col("k")),
      dir, Seq("k"), bloomCols = Seq("k"), expectedPerFile = 4096L,
      mode = "overwrite")
    val buildDt = (System.nanoTime() - t0) / 1e9
    def manifestShape(): (Int, Long) = {
      val parts = hfs.listStatus(new org.apache.hadoop.fs.Path(
          FileManifest.versionDir(dir, FileManifest.versions(spark, dir).last)))
        .filter(_.getPath.getName.startsWith("part-"))
      (parts.length, parts.map(_.getLen).sum)
    }
    val (parts0, bytes0) = manifestShape()
    println(f"manifest10k build files=$n%-6d parts=$parts0%-3d mbytes=${bytes0 / (1 << 20)}%-5d $buildDt%8.2f s")
    // a keyed merge: candidate probes over n sidecars + full-manifest
    // carry through the sharded write — the per-commit cost a CDC loop
    // pays at this file count
    t0 = System.nanoTime()
    val (rw, car) = FileManifest.mergeKeys(spark, dir,
      Seq((5L, -1L), (rows / 2, -1L), (rows + 9L, -2L)).toDF("k", "v"),
      "k", Seq("k"), bloomCols = Seq("k"), expectedPerFile = 4096L)
    val mergeDt = (System.nanoTime() - t0) / 1e9
    val (parts1, bytes1) = manifestShape()
    println(f"manifest10k merge files=$n%-6d rewritten=$rw carried=$car parts=$parts1%-3d mbytes=${bytes1 / (1 << 20)}%-5d $mergeDt%8.2f s")
    // planned read: coverage guard + bounds pruning over the sharded
    // manifest — the read-side cost of the same ceiling
    t0 = System.nanoTime()
    val (pruned, kept, total) = FileManifest.readPruned(spark, dir, "k",
      lit(rows / 2), lit(rows / 2 + 3000L))
    val s1 = pruned.agg(sum("v")).head().getLong(0)
    val readDt = (System.nanoTime() - t0) / 1e9
    println(f"manifest10k read  files=$n%-6d kept=$kept%-4d of=$total%-6d sum=$s1 $readDt%8.2f s")
  }

  /** UNCAPPED KEYED ERASE at production shape: a 64-partition tree and
    * an erase batch of 10⁶ QUERY-SELECTED keys (10× past the collect
    * cap) through deleteKeysDV with a frame batch — aggregate-only guards,
    * global-bounds candidates, exact key-JOIN matchers, zero
    * driver-resident key state. Every file matches ~1/8 of its rows
    * (under maxDvFraction), so the commit is DV-only: the timing
    * separates the one matched-position scan+join from a rewrite
    * storm, and the (dv, rw, carried) split printed makes the
    * metadata-only story observable. A follow-up planned read verifies
    * the count so a silently-partial erase can't pass as fast.
    */
  private def bigkeysSmoke(spark: SparkSession): Unit = {
    import graft.sources.FileManifest
    val dir = "/tmp/graft_bigkeys/t"
    val path = new org.apache.hadoop.fs.Path(dir)
    val hfs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(path)) hfs.delete(path, true)
    val rows = 8000000L // 64 partitions x 125k rows; 10^6 doomed keys
    var t0 = System.nanoTime()
    FileManifest.writeThrough(
      spark.range(rows).select(col("id").as("k"),
          (col("id") % 64).as("part"), (col("id") * 7 % 1000).as("v"))
        .repartitionByRange(128, col("part"), col("k")),
      dir, Seq("k"), bloomCols = Seq("k"),
      partitionCols = Seq("part"), mode = "overwrite")
    val buildDt = (System.nanoTime() - t0) / 1e9
    println(f"bigkeys build rows=$rows part=64 $buildDt%8.2f s")
    // k%512<64 dooms exactly 1/8 of EVERY partition (part = k%64, so a
    // k%8 predicate would correlate with the partition value and doom 8
    // whole partitions — a rewrite storm, not the DV story under test)
    val doomed = spark.range(rows).select(col("id").as("k"))
      .filter(col("k") % 512 < 64)
    t0 = System.nanoTime()
    val (dv, rw, car) = FileManifest.deleteKeysDV(
      spark, dir, "k", doomed, Seq("k"), bloomCols = Seq("k"))
    val delDt = (System.nanoTime() - t0) / 1e9
    println(f"bigkeys erase keys=${rows / 8} dv=$dv rw=$rw carried=$car $delDt%8.2f s")
    t0 = System.nanoTime()
    val n = graft.sources.ManifestFileIndex.read(spark, dir).count()
    val readDt = (System.nanoTime() - t0) / 1e9
    require(n == rows - rows / 8, s"erase lost rows: $n")
    println(f"bigkeys read  rows=$n $readDt%8.2f s")
  }

  private def compact100(spark: SparkSession, base: String,
      rebuild: Boolean = true): Unit = {
    import graft.sim.Similarity
    val idxRoot = "/tmp/graft_compact_idx"
    if (rebuild) {
      val e = Tables.spread(Tables.embeddings(spark, base), col("vec_id"))
        .transform(Materialize.checkpoint)
      val train = e.filter(col("vec_id") % 4 === 0)
      val init = e.filter(col("vec_id") % 97 === 0)
      val cents = Similarity.ivfTrain(train, init, 64, 2)
      val cb = Similarity.pqTrain(train, Similarity.pqCodebook(init, 8, 64),
        8, 64, 2)
      Similarity.buildIvfPqIndex(e, cents, cb, 8, 64)
        .write.mode("overwrite").parquet(s"$idxRoot/1x")
      val b = spark.read.parquet(s"$idxRoot/1x")
      for ((tag, n) <- Seq("10x" -> 10, "100x" -> 100))
        (0 until n).map(r => b.withColumn("n_id", col("n_id") + lit(r * 100000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$idxRoot/$tag")
      // 1000x rides on 100x × 10 (a 1000-way union would bloat the plan)
      val c = spark.read.parquet(s"$idxRoot/100x")
      (0 until 10).map(r => c.withColumn("n_id", col("n_id") + lit(r * 100000000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$idxRoot/1000x")
    }
    val t = scala.collection.mutable.Map.empty[String, Double]
    for (tag <- Seq("1x", "10x", "100x", "1000x")) {
      val idx = spark.read.parquet(s"$idxRoot/$tag")
      val tomb = idx.filter(col("n_id") % 7 === 3).select("n_id")
      val served = idx.join(tomb, Seq("n_id"), "left_anti")
      val rows = idx.count()
      val t0 = System.nanoTime()
      val out = Similarity.compactIndex(served, s"/tmp/graft_compact_out/$tag")
      val kept = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      t(tag) = secs
      println(f"compact100 $tag%-4s index_rows=$rows%9d kept=$kept%9d compact=$secs%7.2f s")
    }
    println(f"compact100 exponent(10x->100x) ${math.log10(t("100x") / t("10x"))}%5.2f " +
      f"exponent(100x->1000x) ${math.log10(t("1000x") / t("100x"))}%5.2f")
  }

  /** 100× tier for the WINDOW family — the ops whose naive form is a
    * reducer sort (keep-first dedup, global numbering, percentile
    * normalization, stratified top-N, PIT): replicate only the tables
    * they read at 10× and 100×, time each tier, and print the last-
    * decade growth exponent `log10(t100x / t10x)` — ~0 is flat, 1.0 is
    * linear-with-one-reducer (the failure the two-pass rewrites exist
    * to prevent; parallel linear WORK at fixed cores also reads ~1.0,
    * so the exponent is read together with the absolute seconds).
    * Plus a synthetic hot-key PIT contrast: one key owning 90% of facts
    * at 1e5/1e6/1e7 rows, plain window vs range-bucketed escape.
    */
  private def win100(spark: SparkSession, base: String,
      rebuild: Boolean = true, pitOnly: Boolean = false,
      only: Option[Set[String]] = None): Unit = {
    val d10 = "/tmp/graft_win10x"
    val d100 = "/tmp/graft_win100x"
    def rep(t: String, key: String, shift: Long, out: String, n: Int,
        perturbText: Boolean): Unit = {
      val df = spark.read.parquet(s"$base/$t.parquet")
      val b = df.agg(count(lit(1)), max(col(key)).cast("long"),
        min(col(key)).cast("long")).head()
      if (b.getLong(0) > 0) {
        require(!b.isNullAt(1), s"$t.$key has no numeric max — cannot shift replicas")
        require(b.getLong(1) - b.getLong(2) < shift,
          s"$t.$key range >= replica shift $shift — raise the shift")
      }
      (0 until n).map { r =>
        val shifted = df.withColumn(key, col(key) + lit(r * shift))
        if (perturbText) shifted.withColumn("text", concat(col("text"), lit(s" rep$r")))
        else shifted
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // the PIT contrast below is pure synthetic spark.range work — in
    // pitOnly mode skip the replica build AND the replica reads entirely
    if (rebuild && !pitOnly) for ((out, n) <- Seq((d10, 10), (d100, 100))) {
      rep("lineitem", "l_orderkey", 100000000L, out, n, perturbText = false)
      rep("orders", "o_orderkey", 100000000L, out, n, perturbText = false)
      rep("documents", "doc_id", 10000000L, out, n, perturbText = true)
    }
    // dimensions stay 1x (the main smoke's rule) — q11's anti-join probe
    // side. Copied even under `nobuild` (it's dim-sized), so replica
    // dirs built by an older revision don't crash the join tier.
    if (!pitOnly) for (out <- Seq(d10, d100))
      spark.read.parquet(s"$base/customer.parquet")
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
    if (!pitOnly)
      println(s"win100 rows: lineitem=${spark.read.parquet(s"$d100/lineitem.parquet").count()} " +
        s"orders=${spark.read.parquet(s"$d100/orders.parquet").count()} " +
        s"documents=${spark.read.parquet(s"$d100/documents.parquet").count()}")

    if (!pitOnly) for (q <- Seq("q05_dedup_keepfirst", "q07_negative_ids", "q93_global_deciles",
      "q120_shuffle_shards", "q127_rank_normalize", "q128_stratified_topn",
      // dedup/chunk family at 100x documents: banded LSH and the
      // boilerplate chunk pass are the other ops whose naive forms
      // (all-pairs, global chunk sort) would not survive the decade;
      // q140's window set is token-linear (digest-keyed shuffle), the
      // substring analog of the chunk pass
      "q26_minhash_lsh", "q144_bucket_clusters", "q126_boilerplate_strip",
      "q140_substring_dedup",
      // pair-free dedup analytics: combinatorial tallies over q144's
      // clusters — the exp here is what separates them from the
      // pair-fed q158/q161 forms, which inherit q26's quadratic feed
      "q162_dup_matrix_clustered",
      // shuffle-bound joins + the scan/agg baseline: the decade
      // exponent for a 60M x 15M fact-fact join is the other number a
      // 100 TB plan review asks for
      "q01_pricing_summary", "q11_anti_join", "q50_salted_join",
      // map-side text kernels: expected ~flat per decade (pure
      // parallelizable per-doc work, JVM kernels where measured)
      "q74_pii_scrub", "q75_profile", "q121_hashed_classifier")
      .filter(q => only.forall(_.contains(q)))) {
      val times = for ((tag, dir) <- Seq("1x" -> base, "10x" -> d10, "100x" -> d100)) yield {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"$q%-28s $tag%-4s $dt%8.2f s")
        dt
      }
      println(f"$q%-28s exponent(10x->100x) ${math.log10(times(2) / times(1))}%5.2f")
    }

    // decomposition for the q127 row: the per-doc quality SCORE alone
    // (embarrassingly parallel map work — its growth is input growth at
    // fixed cores, not a window pathology). q127's exponent minus this
    // row's exponent is what the percentile machinery itself adds.
    // the decomposition and PIT sweeps carry their own `only=` keys so a
    // filtered run pays for exactly what it asked
    if (!pitOnly && only.forall(_.contains("score_decomposition")))
      for ((tag, dir) <- Seq("1x" -> base, "10x" -> d10, "100x" -> d100);
        (form, scoreOf) <- Seq(
          "expr" -> ((c: org.apache.spark.sql.Column) =>
            graft.text.TextAnalysis.qualityScore(c, graft.queries.TextQueries.EnStop)),
          "jvm" -> ((c: org.apache.spark.sql.Column) =>
            graft.text.TextAnalysis.qualityScoreFast(c, graft.queries.TextQueries.EnStop)))) {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), scoreOf(col("text")).as("score"))
        .queryExecution.toRdd.count()
      println(f"${s"q127_score_$form"}%-28s $tag%-4s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // hot-key PIT: plain window (one reducer owns the hot key) vs the
    // bucketed escape, at three decades of fact count
    if (!pitOnly && !only.forall(_.contains("pit_hotkey"))) return
    import graft.operators.PitJoin
    // `id div 2` (integer), NOT Column `/` (double): 199/2 = 99.5 would
    // half-step every odd key's boundaries and never hit the ===99 open
    val dim = spark.range(200).select(
      (col("id") % 2).as("k"), lit("seg").as("seg"),
      (expr("id div 2") * 10000L).as("valid_from"),
      when(expr("id div 2") === 99, lit(null).cast("long"))
        .otherwise((expr("id div 2") + 1) * 10000L).as("valid_to"))
    for (n <- Seq(100000L, 1000000L, 10000000L)) {
      val facts = spark.range(n).select(
        when(col("id") % 10 === 0, 1L).otherwise(0L).as("k"),
        (col("id") % 1000000L).as("ts"))
      for ((tag, f) <- Seq(
        "plain" -> (() => PitJoin.atTime(facts, dim, Seq("k"), "ts", Seq("seg"))),
        "bucketed" -> (() => PitJoin.atTimeBucketed(facts, dim, Seq("k"), "ts", Seq("seg"), 64)))) {
        val t0 = System.nanoTime()
        f().queryExecution.toRdd.count()
        println(f"pit_hotkey n=$n%-9d $tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
  }
}
