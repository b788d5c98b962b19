package perfbench

/** The per-layer metrics of the traced run, named after the engine's
  * modules. Every workload prints all of them; a layer a workload never
  * calls reads 0 there, which is the predicted effect of changing it.
  * BENCHMARK.json's `per_layer` list mirrors [[catalog]] (LayersSpec).
  */
object Layers {

  val ManifestVerbs: Seq[String] = Seq("mergeKeysDV", "deleteKeysDV",
    "readPointLookup", "readPruned", "fastCount", "readAsOf", "history",
    "changesBetween", "optimizeTable", "vacuum")

  /** `Cli.process`'s steps, in order, as the traced replay spans them. */
  val EtlSteps: Seq[String] = Seq("sources.staging.read", "validate.annotate",
    "dates.repair", "dates.merge_channels", "dedup.keep_first",
    "geo.load_polygons", "geo.enrich", "dims.fk", "pipeline.checkpoint_write")

  val JdbcTables: Seq[String] = Seq("locations", "species", "occurrences")

  /** `lane_mix`'s registry lanes (graft.SparkEntry.queries), one per
    * kernel family: a relational join chain, date splitting, MinHash
    * dedup, streaming dedup, LSH nearest-neighbour search and BM25
    * ranking.
    */
  val Lanes: Seq[String] = Seq("q09_join_snowflake", "q17_split_dates",
    "q26_minhash_lsh", "q57_ann_lsh", "q65_stream_dedup", "q143_bm25_topk")

  /** (name, unit, better) of every per-layer metric. */
  val catalog: Seq[(String, String, String)] =
    ManifestVerbs.flatMap { v =>
      Seq((s"sources.manifest.$v.ms", "ms", "lower"),
        (s"sources.manifest.$v.jobs", "count", "lower"),
        (s"sources.manifest.$v.driver_gap_ms", "ms", "lower"))
    } ++ Seq(
      ("sources.manifest.files_kept_ratio", "ratio", "lower"),
      ("sources.manifest.dv_marked_files", "count", "lower"),
      ("sources.manifest.rewritten_files", "count", "lower"),
      ("sources.manifest.live_files_max", "count", "lower"),
      ("sources.manifest.bytes_written_per_user_byte", "ratio", "lower"),
      ("sources.manifest.bytes_per_live_row", "bytes/row", "lower"),
      ("sources.manifest.commit_ms_p90", "ms", "lower"),
      ("sources.manifest.read_ms_p90", "ms", "lower")) ++
    EtlSteps.flatMap { s =>
      Seq((s"${s}_ms", "ms", "lower"), (s"$s.jobs", "count", "lower"),
        (s"$s.shuffle_bytes", "bytes", "lower"), (s"$s.task_skew", "ratio", "lower"))
    } ++ Seq(
      ("validate.rows_invalid", "count", "lower"),
      ("dates.rows_repaired", "count", "higher"),
      ("dedup.rows_removed", "count", "higher"),
      ("geo.edge_tests", "count", "lower"),
      ("geo.matched_ratio", "ratio", "higher")) ++
    JdbcTables.map(t => (s"sinks.jdbc_upsert_ms.$t", "ms", "lower")) ++ Seq(
      ("sinks.jdbc_rows_per_s", "rows/s", "higher"),
      ("sinks.jdbc_failed", "count", "lower")) ++
    Lanes.flatMap { l =>
      Seq((s"lane.$l.s", "s", "lower"), (s"lane.$l.jobs", "count", "lower"),
        (s"lane.$l.driver_gap_ms", "ms", "lower"))
    } ++ Seq(
      ("jvm.peak_rss_mb", "MB", "lower"),
      ("trace.overhead_ms", "ms", "lower"),
      ("trace.child_time_ratio", "ratio", "higher"))

  /** The catalog with `values` filled in, 0 for a layer not measured. */
  def emit(values: collection.Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- catalog.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.toSeq.sorted}")
    catalog.map { case (n, u, _) => Metric(n, values.getOrElse(n, 0.0), u) }
  }
}
