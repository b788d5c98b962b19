package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver testdata star schema (TESTDATA.md).
  *
  * All engine queries take a `sfDir` (e.g. `/root/testdata/sf0.01`) and read
  * single-parquet tables from it. Reads always go through here so that scan
  * options stay uniform (schema comes from parquet footers — fixed, never
  * inferred from data).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** The engine's event-time column is `ts_ns`: an exact epoch-nanosecond
    * BIGINT, so all time-bucket arithmetic stays in integer math with no
    * floating point anywhere (DuckDB oracle side: `epoch_ns(ts)`). Driver
    * testdata has shipped `events.ts` as both parquet TIMESTAMP(NANOS)
    * (read as a raw ns long via the legacy conf) and TIMESTAMP(MICROS)
    * timestamp_ntz (current) — [[normalizeEventTs]] dispatches on the
    * type the scan actually resolved, so both land on the same `ts_ns`.
    */
  def events(spark: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(spark, d, "events"))

  /** Rewrite a raw events frame's `ts` into epoch-ns `ts_ns` (in place,
    * preserving column order). Three shapes arrive here:
    *   - BIGINT: a TIMESTAMP(NANOS) file read raw under
    *     `spark.sql.legacy.parquet.nanosAsLong` — already epoch ns.
    *     NANOS support REQUIRES that conf at session BUILD time (Verify/
    *     Bench/ScaleSmoke set it): schema inference runs outside a query
    *     execution where only builder/SparkConf-backed values are
    *     visible, so a runtime `spark.conf.set` never reaches it, and
    *     without the conf Spark 4 REFUSES a NANOS column outright
    *     (illegal-parquet-type error — there is no ntz-truncation
    *     fallback; verified against the 4.1.2 schema converter).
    *   - TIMESTAMP_NTZ (current testdata, µs): wall-clock µs since the
    *     ntz epoch via `timestampdiff`, which is pure timestamp
    *     arithmetic — exact and independent of the session time zone,
    *     unlike an ntz→ltz cast whose meaning shifts with
    *     `spark.sql.session.timeZone`.
    *   - TIMESTAMP (ltz): `unix_micros` is the exact epoch-µs extraction.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    val tsNs: Column = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01 00:00:00'), ts) * 1000")
      case TimestampType => unix_micros(col("ts")) * 1000
      case t => throw new IllegalArgumentException(
        s"events.ts: expected BIGINT/TIMESTAMP/TIMESTAMP_NTZ, got $t")
    }
    raw.select(raw.columns.toSeq.map {
      case "ts" => tsNs.as("ts_ns")
      case c => col(c)
    }: _*)
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Widen a scan ONLY when it yields fewer splits than the session has
    * cores — the single-parquet testdata tables scan as a handful of
    * row-group splits, starving a CPU-heavy downstream kernel (cosine,
    * quantization, shingling) at local[32]. At scale this is the
    * identity: a 100 TB table scans as thousands of splits, and an
    * unconditional `repartition` there is a full exchange bought for
    * parallelism the scan already provides.
    *
    * Hash on a caller-supplied high-cardinality key, NOT round-robin:
    * `repartition(n)` must stay deterministic under task retry, so Spark
    * first sorts every row by ALL columns
    * (`spark.sql.execution.sortBeforeRepartition`) — measured on q29 a
    * full sort of document text, 2.1 s → 6.9 s. Hash-by-key exchanges
    * without sorting.
    *
    * Call-site audit (r9, the reason each call site exists; QTime
    * medians at sf0.1 single-file tables and at a 10x directory with 9
    * scan splits, spread ON vs OFF):
    *   - events (q19 validate):     1.37/1.68 at 1x, 1.87/2.34 at 10x —
    *     spread wins ~20% at both scales; KEPT (ValidationQueries).
    *   - embeddings (q30 cosine):   1.38/0.80 at 1x, 1.61/1.84 at 10x —
    *     ~0.5 s exchange overhead at 1x flips to a +12% win once the
    *     kernel work grows; KEPT (SimilarityQueries) — the overhead is
    *     bounded, the win scales until the scan yields >= cores splits
    *     and spread becomes the identity.
    *   - documents (q26/q29):       wash at 10x (1.18/1.10, 4.29/4.40;
    *     q29 51.97/53.33) — the 10x layout already gives 9 splits and
    *     AQE balances the rest; KEPT only on the kernel-bound sites
    *     (Dedup/Mix/Source queries) where 1x starvation is measurable.
    *   - orders (q17/q18 dates):    0.82/0.84 at 1x, 1.20/1.14 at 10x —
    *     spread never wins on the row-cheap date parse; RETIRED
    *     (DateQueries reads the scan as-is).
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedScanSplits(df).forall(_ < cores)) df.repartition(cores, key)
    else df
  }

  /** Scan-split count from the relation's FILE LISTING — NOT
    * `df.rdd.getNumPartitions`, which forces a full physical-plan
    * conversion (analyze → optimize → plan → RDD) per call site per
    * query build just to read a number the file index already knows.
    * The per-file lengths come from the listing the read already built
    * and cached (InMemoryFileIndex), so this is arithmetic, not I/O.
    * `None` when the frame has no file relation underneath (in-memory
    * test frames) — [[spread]] treats that as "starved", matching the
    * old probe's behavior on tiny local relations.
    *
    * The arithmetic replicates `FilePartition.maxSplitBytes` +
    * `getFilePartitions` (spark/sql/execution/datasources/
    * FilePartition.scala) on the same inputs Spark will use: chunk each
    * file at `maxSplit`, sort chunks descending, pack greedily where a
    * partition closes only when the NEXT chunk's length (openCost
    * excluded — Spark's exact comparison) would pass `maxSplit`.
    * Decision parity with the physical count is pinned per table and
    * layout in TablesSpreadSpec.
    *
    * Known estimate/physical divergences, all outside [[spread]]'s call
    * sites (unpartitioned, unbucketed single-table loads) and all
    * erring toward SKIPPING the widen (a perf miss), never a wrong
    * result: the listing ignores pushed partition filters (a
    * partition-pruned scan yields fewer physical splits than estimated)
    * and bucketed scans partition by bucket count, not size packing. A
    * DSv2 relation in the tree reports the session width — "unknown,
    * assume adequate" — so spread never buys parallelism there at the
    * price of a blind full exchange over a possibly-huge V2 scan.
    */
  private[graft] def estimatedScanSplits(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val conf = df.sparkSession.sessionState.conf
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val openCost = conf.filesOpenCostInBytes
    val minPart = math.max(1, conf.filesMinPartitionNum.getOrElse(cores))
    val scans = df.queryExecution.analyzed.collect {
      case _: DataSourceV2Relation => cores // unknown width: never starved
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          val sizes = fs.location.listFiles(Nil, Nil)
            .flatMap(_.files.map(_.getLen)).filter(_ > 0)
          val totalBytes = sizes.map(_ + openCost).sum
          val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
            math.max(openCost, totalBytes / minPart)))
          val chunks = sizes.flatMap { len =>
            val whole = len / maxSplit
            val rem = len - whole * maxSplit
            Seq.fill(whole.toInt)(maxSplit) ++ (if (rem > 0) Seq(rem) else Nil)
          }.sortBy(-_)
          var bins = 0
          var cur = 0L
          chunks.foreach { sz =>
            if (cur + sz > maxSplit && cur > 0) { bins += 1; cur = 0L }
            cur += sz + openCost
          }
          if (cur > 0) bins += 1
          bins
        case _ => 0 // non-file relation (JDBC…): contributes no scan splits
      }
    }
    if (scans.isEmpty) None else Some(scans.sum)
  }
}
