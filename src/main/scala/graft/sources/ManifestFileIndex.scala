package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit, udf, when}

/** TRANSPARENT manifest skipping: a custom [[org.apache.spark.sql
  * .execution.datasources.FileIndex]] that consults the table's manifest
  * per-file bounds DURING file listing — the integration point table
  * formats use (Delta's TahoeFileIndex, Iceberg's scan planning), so
  * callers write a PLAIN `df.filter(range)` and the scan opens only
  * intersecting files. [[FileManifest.readPruned]] is the explicit
  * form; this makes the same skipping invisible: Catalyst pushes the
  * filter conjuncts to `listFiles(_, dataFilters)`, and the index drops
  * every file whose tracked bounds can't satisfy them BEFORE the scan
  * plans its partitions — fewer splits, fewer footer reads, and the
  * pruning composes with everything downstream (joins, aggregates,
  * AQE) because it happens below the plan.
  *
  * DISTRIBUTED planning: the keep/drop decision runs as a Spark job
  * over the manifest table itself (bounds conjuncts and bloom
  * probes evaluated as expressions on executors — the same move
  * Delta/Iceberg make when they scan their metadata with Spark jobs),
  * and ONLY the surviving file paths come back to the driver. Driver
  * state per listing is O(kept files) path strings; the per-file
  * bounds and multi-KB bloom sidecar binaries are never materialized
  * driver-side — at ~10⁶ tracked files that is the difference between
  * a metadata join and GBs of planner heap.
  *
  * Soundness rules (identical to `readPruned`): unknown (NULL) bounds
  * keep the file (the drop test is `coalesce(provably-disjoint,
  * false)` — a NULL bound can never prove disjointness); only
  * conjuncts of the shape `col (=|<|<=|>|>=) lit` (either operand
  * order) on numerically-comparable tracked columns prune, plus
  * string-literal conjuncts on string-typed tracked columns (one
  * Catalyst string ordering end to end) — anything else contributes
  * nothing; strict bounds are relaxed to inclusive
  * (conservative); NULL-valued rows can never satisfy a range
  * conjunct, so bound-based skipping loses no row. Kept-set membership
  * is exact because the construction-time coverage guard (which fails
  * LOUD on a stale manifest) verifies every file of this index's
  * frozen listing is manifested — a file landed later is absent from
  * the frozen listing itself, so it can never be wrongly dropped.
  */
class ManifestFileIndex(spark: SparkSession, dataDir: String,
    asOf: Option[Long] = None, dvSide: Option[Boolean] = None)
    extends InMemoryFileIndex(
      spark, Seq(new Path(dataDir)), Map.empty, None,
      FileStatusCache.getOrCreate(spark), None, None) {

  /** The manifest this index plans from: the CURRENT one, or — PRUNED
    * TIME TRAVEL — the retained manifest of `asOf`. A history manifest
    * carries the same per-file bounds/bloom stats it had when it was
    * current, so an as-of read skips files exactly like a live read;
    * resolution fails loud (named retained range) when the version was
    * vacuumed.
    */
  private def planningFrame: DataFrame = asOf match {
    case None => FileManifest.manifestFrame(spark, dataDir)
    case Some(v) => FileManifest.manifestFrameAt(spark, dataDir, v)
  }

  /** Manifest METADATA only (schema-derived, one footer read): which
    * columns carry numeric bounds / bloom sidecars. Only NUMERIC-typed
    * bounds participate: a string column's manifest min/max is
    * LEXICOGRAPHIC (min "10" < "9"), so comparing it against a
    * numerically-parsed literal would skip files that match —
    * non-numeric tracked columns simply never prune here (sound;
    * `readPrunedMulti` evaluates them in Spark expression semantics if
    * the explicit form is needed).
    */
  private val manifestSchema = planningFrame.schema
  private val trackedNumeric: Set[String] =
    manifestSchema.fieldNames.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      .filter(c => manifestSchema.fieldNames.contains(s"max_$c"))
      .filter(c => manifestSchema(s"min_$c").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]).toSet
  // STRING-typed bounds prune too — but only against STRING literals,
  // compared as Catalyst expressions on the manifest frame: string
  // bounds and string literals share one ordering (UTF-8 binary) end to
  // end, so `max_c < lit` / `min_c > lit` is exact disjointness — the
  // unsoundness that keeps strings out of trackedNumeric is numeric
  // PARSING of lexicographic bounds, which never happens here.
  private val trackedString: Set[String] =
    manifestSchema.fieldNames.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      .filter(c => manifestSchema.fieldNames.contains(s"max_$c"))
      .filter(c => manifestSchema(s"min_$c").dataType ==
        org.apache.spark.sql.types.StringType).toSet
  // bloom sidecars (buildWithBloom): an EQUALITY conjunct on a
  // bloom-tracked column additionally prunes by MEMBERSHIP — the
  // point-lookup layer min/max bounds can't provide (a
  // hash-distributed key intersects every file's range), composed
  // transparently with the bounds test. Bloom semantics keep it
  // sound: no false negatives; a NULL sidecar cell keeps the file.
  private val bloomTracked: Set[String] =
    manifestSchema.fieldNames.filter(_.startsWith("bloom_"))
      .map(_.stripPrefix("bloom_")).toSet

  /** DELETION-VECTOR side split: `read` over a DV-carrying manifest
    * plans TWO scans — files without a DV on the untouched fast path,
    * files with one under the position anti-filter — so the per-row DV
    * join prices only DV-carrying data, never the whole table.
    * `dvSide` restricts this index's MEMBERSHIP to one side; None (all
    * other callers) keeps full membership. A dv-less manifest makes
    * Some(true) empty and Some(false) total, so the split degenerates
    * correctly if a table loses its dv column between planning steps.
    */
  private def dvPred: Column = dvSide match {
    case None => lit(true)
    case Some(true) =>
      if (manifestSchema.fieldNames.contains("dv")) col("dv").isNotNull
      else lit(false)
    case Some(false) =>
      if (manifestSchema.fieldNames.contains("dv")) col("dv").isNull
      else lit(true)
  }

  // coverage guard at CONSTRUCTION (fail loud on a stale manifest),
  // run as a distributed anti-join — manifest file names stay on
  // executors; the live listing is already driver-resident by
  // InMemoryFileIndex's own contract, so it adds no new driver state.
  //
  // An AS-OF index needs the INVERSE check: the historical snapshot is
  // complete by construction (its manifest froze the file set), so
  // current-table staleness is irrelevant — but every file the version
  // references must still be on disk. A vacuumed member would otherwise
  // be dropped by the listing intersection SILENTLY — partial results,
  // the one failure mode the time-travel contract forbids (the raw
  // path-list read at least failed loud mid-scan). The file set is
  // collected once here — O(files-of-version) driver path strings, the
  // listing-sized state this FileIndex already holds.
  private[sources] val asOfFiles: Option[IndexedSeq[String]] = asOf.map { v =>
    val vf = planningFrame.filter(dvPred)
      .select(ManifestFileIndex.normPath(col("file")))
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val live = allFiles().iterator
      .map(f => FsListing.norm(f.getPath.toString)).toSet
    val gone = vf.filterNot(live)
    require(gone.isEmpty,
      s"version $v of $dataDir references ${gone.size} file(s) no longer " +
        s"on disk (e.g. ${gone.head}) — vacuumed mid-retention or " +
        "externally deleted; an as-of read would be silently partial")
    vf
  }
  locally {
    // the guard is a GLOBAL property (every live file manifested) — in
    // a dv-split read the Some(false) index runs it once; the paired
    // Some(true) index over the same manifest would only repeat it
    if (asOf.isEmpty && dvSide != Some(true))
      FileManifest.requireCovering(spark, dataDir)
  }

  /** Observability for the scale contract: bytes of path text the last
    * pruned `listFiles` collected to the driver — O(kept files), pinned
    * by ManifestFileIndexSpec against a manifest whose bloom sidecars
    * alone are thousands of times larger.
    */
  @volatile private[graft] var lastListingDriverBytes: Long = 0L

  /** listing-job memo per pushed-filter signature: a query's planner may
    * call `listFiles` more than once; the manifest job runs once.
    * BOUNDED: a long-lived index serving many distinct point-lookup
    * literals (bloom probes keyed by user input) would otherwise pin one
    * kept-path Set per distinct key forever. Entries are cheap to
    * recompute (one small manifest job), so on overflow the memo just
    * clears — cap-and-clear beats LRU bookkeeping at this entry cost.
    */
  private val KeptCacheMax = 64
  private val keptCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** Directory-level partition pruning (hive-style trees) COMPOSES with
    * the per-file bounds/bloom test: `super.listFiles` first drops whole
    * partition directories via `partitionFilters` (Catalyst's own
    * pruning over the inferred partition spec), then the manifest test
    * filters the surviving leaf files — two independent skipping layers
    * in one listing, each sound on its own.
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val ranges = extractRanges(dataFilters)
    val strRanges = extractStringRanges(dataFilters)
    // bloom probes are sound only for INTEGRAL-typed attributes: the
    // sidecar stores cast-to-long keys, and a non-integral equality
    // literal (timestamp micros vs stored seconds, fractional double)
    // could false-negative — the buildWithBloom guard enforces this at
    // build time, and this read-side check keeps even an off-contract
    // legacy sidecar from pruning unsoundly.
    val integralAttrs = dataFilters.flatMap(_.collect {
      case a: Attribute if FsListing.isIntegral(a.dataType) => a.name
    }).toSet
    // string equality probes need the ATTRIBUTE to be string-typed too:
    // the sidecar's encoding follows the column dtype at build time
    // (putString for strings), so a string-typed attr proves the filter
    // was built with mightContainString's byte layout
    val stringAttrs = dataFilters.flatMap(_.collect {
      case a: Attribute
        if a.dataType == org.apache.spark.sql.types.StringType => a.name
    }).toSet
    // the manifest defines TABLE MEMBERSHIP, not just skipping: an MVCC
    // publish (index compaction rewriting its own dir) leaves prior
    // snapshots' files on disk for as-of readers until vacuum retention,
    // so even a filterless read must restrict the listing to the CURRENT
    // manifest's file set — a raw directory union would double-count.
    // With no pushed ranges the kept set is the full membership list
    // (same driver bytes any FileIndex already holds for its listing).
    val kept = keptFiles(ranges, strRanges, integralAttrs, stringAttrs)
    base.map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { f =>
        kept.contains(FsListing.norm(f.getPath.toString))
      })
    }.filter(_.files.nonEmpty)
  }

  /** VERSION-AWARE equality: InMemoryFileIndex.equals compares only
    * rootPaths, so two indexes over one table pinned to DIFFERENT
    * versions would compare equal — HadoopFsRelation is a case class, so
    * the relations (and canonicalized scans) would too, and Spark's
    * scan/exchange reuse would silently serve one version's files for
    * every as-of read in a multi-version query (exactly q164's
    * union-of-three-snapshots shape). Equality must include the pinned
    * version and reject a plain InMemoryFileIndex over the same dir.
    */
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex =>
      rootPaths == m.rootPaths && asOf == m.pinnedVersion &&
        dvSide == m.pinnedDvSide
    case _ => false
  }
  override def hashCode(): Int =
    (rootPaths, asOf, dvSide).hashCode()
  private[sources] def pinnedVersion: Option[Long] = asOf
  private[sources] def pinnedDvSide: Option[Boolean] = dvSide


  /** The distributed keep/drop job: one filter over the manifest
    * parquet, predicates on executors, only surviving path strings
    * collected.
    */
  private def keptFiles(
      ranges: Map[String, (Option[BigDecimal], Option[BigDecimal])],
      strRanges: Map[String, (Option[String], Option[String])],
      integralAttrs: Set[String], stringAttrs: Set[String]): Set[String] = {
    // as-of membership-only listing: the version's file set is already
    // driver-resident (collected + liveness-checked at construction) —
    // re-running a manifest job to recompute it would double every
    // unfiltered as-of read's metadata cost
    if (ranges.isEmpty && strRanges.isEmpty && asOfFiles.isDefined)
      return asOfFiles.get.toSet

    val sig = ranges.toSeq.sortBy(_._1).mkString("|") + "¦" +
      strRanges.toSeq.sortBy(_._1).mkString("|") + "§" +
      integralAttrs.toSeq.sorted.mkString(",") + "¶" +
      stringAttrs.toSeq.sorted.mkString(",")
    val hit = keptCache.get(sig)
    if (hit != null) return hit

    val keep = ranges.map { case (c, (lo, hi)) =>
      val bounds: Column =
        if (!trackedNumeric.contains(c)) lit(true)
        else {
          // drop only on PROVABLE disjointness; any NULL (unknown
          // bound, or a cast that couldn't represent the value) makes
          // the disjointness test NULL → coalesce(…, false) → keep.
          // A bound Catalyst cannot even hold as a literal (decimal
          // precision > 38, e.g. a pushed `> 1e45`) proves nothing
          // here either — it contributes lit(false) and the file is
          // kept for the main filter to decide, instead of crashing
          // the planning job.
          // NB: lit() itself is lazy in the Column-node API — the throw
          // happens at Column→Expression conversion inside filter(), so
          // representability is probed eagerly with the same arithmetic
          // Literal.apply→DecimalType.fromDecimal uses: negative scales
          // normalize to 0 by widening precision; precision and scale
          // must both land within the 38-digit ceiling
          def safeLit(v: BigDecimal): Option[Column] = {
            val bd = v.underlying
            val (p, s) =
              if (bd.scale < 0) (bd.precision.toLong - bd.scale, 0L)
              else (math.max(bd.precision, bd.scale).toLong, bd.scale.toLong)
            if (p <= 38 && s <= 38) Some(lit(v)) else None
          }
          val disjoint =
            lo.flatMap(safeLit).map(v => col(s"max_$c") < v).getOrElse(lit(false)) ||
            hi.flatMap(safeLit).map(v => col(s"min_$c") > v).getOrElse(lit(false))
          !org.apache.spark.sql.functions.coalesce(disjoint, lit(false))
        }
      // a degenerate range (lo == hi — every EqualTo, and any >=v && <=v
      // pair collapsing to a point) additionally probes the bloom
      // sidecar ON THE EXECUTOR (deserialize + membership test per
      // manifest row). Long-representable keys only (the sidecar hashes
      // longs); a NULL sidecar cell keeps the file.
      val bloom: Column = (lo, hi) match {
        case (Some(l), Some(h))
          if l == h && l.isValidLong && integralAttrs.contains(c) &&
            bloomTracked.contains(c) =>
          when(col(s"bloom_$c").isNull, lit(true))
            .otherwise(ManifestFileIndex.bloomProbe(
              col(s"bloom_$c"), lit(l.toLongExact)))
        case _ => lit(true)
      }
      bounds && bloom
    }.reduceOption(_ && _).getOrElse(lit(true)) // no ranges → membership-only
    // STRING conjuncts: bounds disjointness evaluated wholly in Catalyst
    // (one string ordering end to end — see trackedString), equality
    // additionally probing the string bloom sidecar
    val keepStr = strRanges.map { case (c, (lo, hi)) =>
      val bounds: Column =
        if (!trackedString.contains(c)) lit(true)
        else {
          val disjoint =
            lo.map(v => col(s"max_$c") < lit(v)).getOrElse(lit(false)) ||
              hi.map(v => col(s"min_$c") > lit(v)).getOrElse(lit(false))
          !org.apache.spark.sql.functions.coalesce(disjoint, lit(false))
        }
      val bloom: Column = (lo, hi) match {
        case (Some(l), Some(h))
          if l == h && stringAttrs.contains(c) && bloomTracked.contains(c) =>
          when(col(s"bloom_$c").isNull, lit(true))
            .otherwise(ManifestFileIndex.bloomProbeStr(
              col(s"bloom_$c"), lit(l)))
        case _ => lit(true)
      }
      bounds && bloom
    }.reduceOption(_ && _).getOrElse(lit(true))

    val kept = planningFrame.filter(keep && keepStr && dvPred)
      .select(ManifestFileIndex.normPath(col("file")))
      .collect().map(_.getString(0)).toSet
    lastListingDriverBytes = kept.iterator.map(_.length.toLong * 2).sum
    if (keptCache.size >= KeptCacheMax) keptCache.clear()
    keptCache.put(sig, kept)
    kept
  }

  /** Per tracked column, the tightest [lo, hi] the pushed conjuncts
    * imply (strict bounds relaxed to inclusive — conservative).
    */
  private def extractRanges(dataFilters: Seq[Expression])
    : Map[String, (Option[BigDecimal], Option[BigDecimal])] = {
    def lit(e: Expression): Option[BigDecimal] = e match {
      case Literal(v, _) if v != null =>
        try Some(BigDecimal(v.toString)) catch { case _: NumberFormatException => None }
      case _ => None
    }
    def attr(e: Expression): Option[String] = e match {
      case a: Attribute
        if trackedNumeric.contains(a.name) || bloomTracked.contains(a.name) =>
        Some(a.name)
      case _ => None
    }
    val perCol = scala.collection.mutable.Map[String, (Option[BigDecimal], Option[BigDecimal])]()
    def tighten(c: String, lo: Option[BigDecimal], hi: Option[BigDecimal]): Unit = {
      val (l0, h0) = perCol.getOrElse(c, (None, None))
      perCol(c) = (
        Seq(l0, lo).flatten.reduceOption(_ max _),
        Seq(h0, hi).flatten.reduceOption(_ min _))
    }
    dataFilters.foreach {
      // literal-on-the-LEFT mirrors must come first: an untyped
      // `case EqualTo(a, l)` matches EVERY EqualTo (patterns don't
      // discriminate operand types), which would shadow them into dead
      // code and silently lose lit-op-col pruning
      case GreaterThanOrEqual(l: Literal, a) => // lit >= col  ⇒  col <= lit
        for (c <- attr(a); v <- lit(l)) tighten(c, None, Some(v))
      case GreaterThan(l: Literal, a) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, None, Some(v))
      case LessThanOrEqual(l: Literal, a) => // lit <= col  ⇒  col >= lit
        for (c <- attr(a); v <- lit(l)) tighten(c, Some(v), None)
      case LessThan(l: Literal, a) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, Some(v), None)
      case EqualTo(l: Literal, a) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, Some(v), Some(v))
      case GreaterThanOrEqual(a, l: Literal) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, Some(v), None)
      case GreaterThan(a, l: Literal) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, Some(v), None)
      case LessThanOrEqual(a, l: Literal) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, None, Some(v))
      case LessThan(a, l: Literal) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, None, Some(v))
      case EqualTo(a, l: Literal) =>
        for (c <- attr(a); v <- lit(l)) tighten(c, Some(v), Some(v))
      case _ => () // untracked/complex conjunct: contributes no pruning
    }
    perCol.toMap
  }

  /** Per STRING-tracked column, one [lo, hi] window the pushed string
    * conjuncts imply. Combining multiple conjuncts on one column picks
    * bounds with Java's string max/min — potentially the LOOSER of two
    * (Java and UTF-8 order diverge beyond the BMP), never a tighter
    * one the data filter doesn't imply: any single conjunct's bound is
    * sound alone, so whichever is picked only keeps extra files.
    */
  private def extractStringRanges(dataFilters: Seq[Expression])
    : Map[String, (Option[String], Option[String])] = {
    def slit(e: Expression): Option[String] = e match {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
        Some(v.toString)
      case _ => None
    }
    def attr(e: Expression): Option[String] = e match {
      case a: Attribute
        if a.dataType == org.apache.spark.sql.types.StringType &&
          (trackedString.contains(a.name) || bloomTracked.contains(a.name)) =>
        Some(a.name)
      case _ => None
    }
    val perCol = scala.collection.mutable.Map[String, (Option[String], Option[String])]()
    def tighten(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = perCol.getOrElse(c, (None, None))
      perCol(c) = (
        Seq(l0, lo).flatten.reduceOption((a, b) => if (a >= b) a else b),
        Seq(h0, hi).flatten.reduceOption((a, b) => if (a <= b) a else b))
    }
    dataFilters.foreach {
      case GreaterThanOrEqual(l: Literal, a) => // lit >= col ⇒ col <= lit
        for (c <- attr(a); v <- slit(l)) tighten(c, None, Some(v))
      case GreaterThan(l: Literal, a) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, None, Some(v))
      case LessThanOrEqual(l: Literal, a) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, Some(v), None)
      case LessThan(l: Literal, a) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, Some(v), None)
      case EqualTo(l: Literal, a) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, Some(v), Some(v))
      case GreaterThanOrEqual(a, l: Literal) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, Some(v), None)
      case GreaterThan(a, l: Literal) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, Some(v), None)
      case LessThanOrEqual(a, l: Literal) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, None, Some(v))
      case LessThan(a, l: Literal) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, None, Some(v))
      case EqualTo(a, l: Literal) =>
        for (c <- attr(a); v <- slit(l)) tighten(c, Some(v), Some(v))
      case _ => ()
    }
    perCol.toMap
  }
}

object ManifestFileIndex {

  /** Executor-side bloom membership: deserialize the sidecar bytes and
    * probe — the bytes live in the manifest scan's partition, never on
    * the driver. Metadata-sized input, so a (non-codegen) UDF is the
    * right tool; no false negatives by Bloom semantics.
    */
  private[sources] val bloomProbe =
    udf { (bytes: Array[Byte], key: Long) =>
      bytes == null ||
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(key)
    }

  /** [[bloomProbe]] for string sidecars — UTF-8 bytes on both sides. */
  private[sources] val bloomProbeStr =
    udf { (bytes: Array[Byte], key: String) =>
      bytes == null ||
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainString(key)
    }

  /** [[FsListing.norm]] as an executor-side expression, so manifest
    * `file` entries (percent-encoded `input_file_name()` URIs)
    * canonicalize inside the planning job rather than after a collect.
    */
  private[sources] val normPath =
    udf { (s: String) => FsListing.norm(s) }

  /** The manifest-backed read: a plain DataFrame whose scans consult the
    * manifest transparently for every pushed range/equality filter.
    * Hive-partitioned trees compose: predicates on partition columns
    * prune whole directories (Catalyst partition pruning over the
    * inferred partition spec), predicates on tracked data columns prune
    * the surviving leaf files by bounds/bloom — both inside one
    * `listFiles`.
    *
    * Schema contract: with `schema = None` the data schema comes from
    * ONE footer (the index just listed everything; manifest dirs are
    * single-writer uniform). A schema-EVOLVED directory MUST pass the
    * declared target schema explicitly — first-footer inference would
    * silently drop columns absent from that one file (evolved staging
    * reads go through `Staging.readEvolved`, which requires the declared
    * schema for exactly this reason).
    */
  def read(spark: SparkSession, dataDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      asOf: Option[Long] = None): DataFrame = {
    def frameOver(idx: ManifestFileIndex,
        dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
      // the options TAG makes relation equality version-aware in BOTH
      // directions: the index's own equals override can't help when a
      // PLAIN InMemoryFileIndex is the equality receiver (its equals
      // matches any InMemoryFileIndex — including this subclass — on
      // rootPaths alone), so a plan mixing a raw directory read with a
      // manifest/as-of read over the same dir could still be collapsed
      // by scan/exchange reuse through HadoopFsRelation's case-class
      // equality. Options participate in that equality; parquet ignores
      // unknown keys, so the tag is inert at execution. The dv-side tag
      // keeps the split's two halves distinct the same way.
      val relation = HadoopFsRelation(idx, idx.partitionSchema, dataSchema,
        None, new ParquetFileFormat,
        Map("graft.manifest.version" ->
          asOf.map(_.toString).getOrElse("current"),
          "graft.manifest.dvside" ->
            idx.pinnedDvSide.map(_.toString).getOrElse("all")))(spark)
      spark.baseRelationToDataFrame(relation)
    }
    // probe the manifest SCHEMA (one footer) before building any index,
    // so the dv split constructs exactly the indexes it plans with
    val mf0 = asOf match {
      case None => FileManifest.manifestFrame(spark, dataDir)
      case Some(v) => FileManifest.manifestFrameAt(spark, dataDir, v)
    }
    val hasDv = mf0.schema.fieldNames.contains("dv")
    // one footer, not a full-directory inference sweep; partition
    // columns never appear in footers, so this stays the DATA schema
    // and the inferred partitionSchema rides separately. An as-of read
    // anchors on a file OF THAT VERSION — the directory's first file may
    // be a newer version's, and schema may have evolved between them.
    def dataSchemaOver(idx: ManifestFileIndex, extra: Option[ManifestFileIndex])
      : org.apache.spark.sql.types.StructType = schema.getOrElse {
      val first = idx.asOfFiles match {
        case Some(vf) =>
          val all = vf ++ extra.flatMap(_.asOfFiles).getOrElse(Nil)
          require(all.nonEmpty,
            s"version ${asOf.getOrElse('?')} of $dataDir is an empty snapshot")
          all.head
        case None =>
          idx.allFiles().headOption.getOrElse(
            throw new IllegalArgumentException(s"no data files under $dataDir"))
            .getPath.toString
      }
      spark.read.parquet(first).schema
    }
    // deletion vectors: a DV-carrying version's rows are the PHYSICAL
    // rows minus each file's dv positions. SPLIT SCAN: files without a
    // DV read through an untouched fast-path index; only DV-carrying
    // files pay the per-row position join — the anti-filter's cost is
    // proportional to DV'd data, never the table (a full-table wrap
    // measured 3-5× on a 20M-row scan with ONE dv'd file; the split
    // makes it ~the unwrapped cost). Tables whose manifest has no dv
    // column take the single-index path: plan identical to pre-DV.
    if (!hasDv) {
      val idx = new ManifestFileIndex(spark, dataDir, asOf)
      frameOver(idx, dataSchemaOver(idx, None))
    } else {
      // the split plans TWO listings plus the dv-row collect — pin all
      // three to ONE explicit version (the current one when none was
      // asked for): un-pinned, a rival commit landing between the sides'
      // resolutions could serve a MIXED snapshot (plain side vN, dv
      // side vN+1), the silent isolation hole MVCC exists to prevent.
      // A current read still runs the coverage guard (version pinning
      // must not skip staleness detection).
      val v0 = asOf.getOrElse(FileManifest.requireCovering(spark, dataDir)._3)
      val plainIdx = new ManifestFileIndex(spark, dataDir, Some(v0), Some(false))
      val dvIdx = new ManifestFileIndex(spark, dataDir, Some(v0), Some(true))
      val ds = dataSchemaOver(plainIdx, Some(dvIdx))
      // an EMPTY side contributes nothing — skip its scan (and, for an
      // empty dv side, the dv-row collect + union entirely: the common
      // case of a dv column whose vectors were all purged/rewritten)
      val dvEmpty = dvIdx.asOfFiles.exists(_.isEmpty)
      val plainEmpty = plainIdx.asOfFiles.exists(_.isEmpty)
      if (dvEmpty) frameOver(plainIdx, ds)
      else {
        val dvd = FileManifest.applyDv(frameOver(dvIdx, ds),
          () => FileManifest.manifestFrameAt(spark, dataDir, v0),
          spill = Some((dataDir, v0)))
        if (plainEmpty) dvd else frameOver(plainIdx, ds).unionByName(dvd)
      }
    }
  }
}
