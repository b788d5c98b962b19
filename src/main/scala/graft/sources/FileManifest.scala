package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level min/max MANIFEST over a staging directory — the
  * table-format-lite skipping layer (Iceberg/Delta keep the same
  * per-file column bounds in their metadata): one small parquet of
  * `(file, n_rows, min_c, max_c, ...)` per tracked column, stored
  * UNDER the data directory, one dir per committed version in
  * `_versions/<N>` (the underscore prefix makes every Spark/parquet
  * reader skip it as metadata, so the data dir stays directly
  * readable).
  *
  * Why it matters at 100 TB: parquet row-group statistics prune WITHIN
  * a file, but the scan still opens every footer, and the LISTING alone
  * is metadata-scale work. A range query over a time-laid-out staging
  * tree (repartitionByRange writes, or natural arrival order) should
  * never touch files whose [min,max] can't intersect — the manifest
  * answers that from ONE tiny read, and the driver plans a scan over
  * only the surviving files.
  *
  * The skip decision must be SOUND, not just effective: a file is kept
  * when its bounds intersect the range OR its bounds are unknown
  * (all-NULL column → null min/max — never silently skipped), and rows
  * with a NULL predicate column never satisfy a range predicate, so
  * pruning by bounds loses no qualifying row. FileManifestSpec pins
  * full-scan equivalence and the actual file-skip count; q115
  * hash-gates a range query through the manifest path.
  *
  * Staleness: the manifest is rebuilt by the writer that lands files
  * ([[build]] after a batch of appends — the `IncrementalLedger` commit
  * point is the natural hook). `readPruned` fails LOUD when a live data
  * file is missing from the manifest (files landed since the last
  * build) rather than returning silently-partial results.
  */
object FileManifest {

  /** Label the Spark jobs `body` submits (guide §1.5: a multi-commit
    * verb schedules many small actions — plan collects, staging writes,
    * manifest writes — and an unlabeled UI/profiler can't attribute
    * them). Thread-local, restores the caller's description on exit so
    * nesting and user-set labels compose.
    */
  private def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Every commit publishes version N as its own dir `_versions/<N>` —
    * the manifest parquet parts plus an `_op_<verb>` marker naming the
    * verb that produced it — and never touches that dir again: Delta's
    * log protocol, where each version is written once and writers
    * exclude each other by a put-if-absent of entry N
    * ([[commitVersion]]). `_versions` also holds the table's
    * `_table_<uuid>` INCARNATION marker, created with the first version.
    * Nothing a reader can list is ever renamed or rewritten, so readers
    * take no lock and need no retry: a listing of `_versions` names only
    * complete versions.
    */
  private def versionsDir(dataDir: String) = s"$dataDir/_versions"
  private[graft] def versionDir(dataDir: String, v: Long) = s"$dataDir/_versions/$v"

  /** A table's committed versions (ascending) and its incarnation token,
    * from ONE listing of `_versions` — never of the table root, which on
    * a flat table holds every data file. The current version is the
    * highest committed one (0: none yet). The token is the uuid of the
    * `_table_<uuid>` marker: a delete-and-rebuild at the same path
    * recycles version numbers but never the token, so a memo keyed
    * (table, token, version) can serve its entry forever.
    */
  private final case class Versions(token: String, all: Seq[Long]) {
    def current: Long = all.lastOption.getOrElse(0L)
  }

  private def listVersions(hfs: FileSystem, dataDir: String): Versions = {
    val names =
      try hfs.listStatus(new Path(versionsDir(dataDir))).map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    Versions(
      names.collectFirst { case n if n.startsWith("_table_") =>
        n.stripPrefix("_table_") }.getOrElse(""),
      names.filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .sorted.toSeq)
  }

  /** The version a manifest row was read from, in a multi-version read:
    * recovered from its source dir `_versions/<N>/`.
    */
  private def versionOfFile: Column =
    regexp_extract(input_file_name(), "_versions/(\\d+)/[^/]*$", 1).cast("long")

  /** Read schema of manifest reads that need only the `file` column —
    * present in every version whatever its tracked columns, so the read
    * skips footer inference and ignores min_/max_ type drift.
    */
  private val FileOnly = StructType(Seq(StructField("file", StringType)))

  private def fsOf(spark: SparkSession, dataDir: String): FileSystem =
    new Path(dataDir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The table root in the canonical qualified form manifest entries use. */
  private def rootQOf(hfs: FileSystem, dataDir: String): String =
    FsListing.norm(new Path(dataDir)
      .makeQualified(hfs.getUri, hfs.getWorkingDirectory).toString)

  private def versionsOf(spark: SparkSession, dataDir: String): Versions =
    listVersions(fsOf(spark, dataDir), dataDir)

  /** Schema memo for version dirs, keyed (table, incarnation token,
    * version). Every `spark.read.parquet(manifest)` used to pay
    * driver-side footer schema inference (~30 ms) — the single largest
    * sampled driver cost across the MVCC lanes (JProf r21: 0.5-0.7
    * s/lane in ParquetUtils.inferSchema), multiplied by the several
    * manifest resolutions each commit/CDC-poll performs. A version dir
    * is written once, so its schema is served forever; cap-and-clear
    * bounds a long session over many tables.
    */
  private val manifestSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), StructType]()

  /** Version `v`'s manifest as a (lazy, distributed) DataFrame — the ONE
    * way planning code touches manifest CONTENT. Bounds and bloom
    * binaries stay in scan partitions; callers filter/join this frame
    * with Spark jobs and collect only what is per-query driver-sized
    * (surviving paths, counts). A `v` with no dir — 0 on a table that
    * never committed — fails with Spark's PATH_NOT_FOUND.
    */
  private def readVersion(spark: SparkSession, dataDir: String,
      vs: Versions, v: Long): DataFrame = {
    val path = versionDir(dataDir, v)
    val key = (FsListing.norm(dataDir), vs.token, v)
    var sch = manifestSchemaMemo.get(key)
    if (sch == null) {
      sch = spark.read.parquet(path).schema
      if (manifestSchemaMemo.size >= 4096) manifestSchemaMemo.clear()
      manifestSchemaMemo.put(key, sch)
    }
    spark.read.schema(sch).parquet(path)
  }

  /** The current manifest and its version, from one listing — a
    * surgery plans from the frame and validates the version at commit,
    * so the two must be the same snapshot.
    */
  private def currentManifest(spark: SparkSession,
      dataDir: String): (DataFrame, Long) = {
    val vs = versionsOf(spark, dataDir)
    (readVersion(spark, dataDir, vs, vs.current), vs.current)
  }

  private[sources] def manifestFrame(spark: SparkSession, dataDir: String): DataFrame =
    currentManifest(spark, dataDir)._1

  /** The manifest of a specific RETAINED version. Fails loud with the
    * retained range when the version was vacuumed or never existed.
    */
  private[sources] def manifestFrameAt(spark: SparkSession, dataDir: String,
      version: Long): DataFrame = {
    val vs = versionsOf(spark, dataDir)
    require(vs.all.contains(version), s"version $version not retained " +
      s"under $dataDir (readable: ${vs.all.mkString(", ")})")
    readVersion(spark, dataDir, vs, version)
  }

  /** ONE manifest entry's `file` path, read DRIVER-side (parquet-hadoop
    * projected to the one column) — no Spark job. Three per-commit
    * probes need exactly one data-file path from the manifest (schema
    * anchoring, column-type resolution): each used to pay a full
    * `limit(1).collect()` — an analyzed, optimized, scheduled Spark job
    * of fixed ~0.1 s driver latency per surgery commit, to move one
    * string. Row-group projection keeps the read to one column chunk of
    * one part file; zero-row parts (a repartitioned shard can be empty)
    * fall through to the next. Returns the [[FsListing.norm]] canonical
    * form, exactly like the normPath-projected collect it replaces.
    */
  private def firstManifestFilePath(spark: SparkSession,
      dataDir: String): Option[String] =
    firstFileInManifestDir(spark.sessionState.newHadoopConf(),
      new Path(versionDir(dataDir, versionsOf(spark, dataDir).current)))

  /** The per-directory core of [[firstManifestFilePath]] — also probes a
    * specific version's dir (the CDC empty-span anchor).
    */
  private def firstFileInManifestDir(conf: org.apache.hadoop.conf.Configuration,
      md: Path): Option[String] = {
    val hfs = md.getFileSystem(conf)
    val parts = hfs.listStatus(md).iterator
      .filter { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && s.getLen > 0
      }
    while (parts.hasNext) {
      val p = parts.next().getPath
      // projection built from the part's OWN footer field (repetition
      // must match exactly — a hand-written `optional` projection fails
      // checkContains against the `required` field Spark writes)
      val fileField = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          fr.getFooter.getFileMetaData.getSchema.getFields.asScala
            .find(_.getName == "file")
        } finally fr.close()
      }
      if (fileField.nonEmpty) {
        val rconf = new org.apache.hadoop.conf.Configuration(conf)
        rconf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          new org.apache.parquet.schema.MessageType("graft_anchor",
            fileField.get).toString)
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
          .withConf(rconf).build()
        try {
          var g = reader.read()
          while (g != null) {
            if (g.getFieldRepetitionCount("file") > 0)
              return Some(FsListing.norm(g.getString("file", 0)))
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    None
  }

  /** Version of the CURRENT manifest — 0 when the table has no manifest
    * yet. The optimistic-concurrency token every write-surgery verb
    * validates under the commit lock before publishing.
    */
  private def currentVersion(hfs: FileSystem, dataDir: String): Long =
    listVersions(hfs, dataDir).current

  /** TEST SEAM: invoked once per write-surgery call (deleteRange /
    * mergeKeys / publishVia) after staging completes and right before
    * the commit lock is taken — specs inject a rival committer here to
    * pin the optimistic-concurrency conflict path deterministically.
    * No-op in production; mutated only by single-threaded specs.
    */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  private def uuid8(): String = java.util.UUID.randomUUID().toString.take(8)

  /** A fresh manifest staging dir beside the table's versions. */
  private def tmpManifest(dataDir: String): Path =
    new Path(s"$dataDir/_manifest_tmp_${uuid8()}")

  /** Publish the manifest written at `tmp` as version `v`: stamp its
    * `_op_<op>` marker, then rename it to `_versions/<v>` PUT-IF-ABSENT —
    * a no-overwrite rename, because Hadoop's plain rename onto an
    * existing dir nests the source inside it and returns true. Writers
    * hold the commit lock, so `v` is normally free; a rival that already
    * committed `v` (one that got past a stale-broken lock) makes this
    * fail loud with [[ConcurrentWriteException]] instead, `tmp` removed.
    * HDFS checks and renames in one atomic step; the local filesystem
    * checks, then renames. The table's first version also creates
    * `_versions` with the incarnation marker.
    */
  private[sources] def commitVersion(hfs: FileSystem, dataDir: String,
      tmp: Path, op: String, v: Long): Unit = {
    hfs.create(new Path(tmp, s"_op_$op"), true).close()
    val vdir = new Path(versionsDir(dataDir))
    if (!hfs.exists(vdir))
      hfs.create(new Path(vdir, s"_table_${java.util.UUID.randomUUID()}"),
        false).close()
    if (!renameIfAbsent(hfs, tmp, new Path(versionDir(dataDir, v)))) {
      hfs.delete(tmp, true)
      throw new ConcurrentWriteException(
        s"version $v of $dataDir is already committed — a rival writer " +
          "published it; re-run against the current version")
    }
  }

  /** Rename `src` to `dst` unless `dst` exists; false when it does. */
  private def renameIfAbsent(hfs: FileSystem, src: Path, dst: Path): Boolean =
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(hfs.getUri, hfs.getConf)
        .rename(src, dst, org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }

  /** Every staged surgery's commit. `stage` writes the surgery's new
    * data files under a WRITER-PRIVATE staging dir `<stgBase>_<uuid>`
    * (two concurrent surgeries must never clobber each other's
    * in-progress staging) outside the table, while the table is
    * untouched. Then, under the commit lock, it checks that the table is
    * still at `plannedV`: a rival commit in between means the staged
    * output came from a stale snapshot, and publishing it would silently
    * discard the rival's work, so it fails loud and the caller re-plans
    * (Delta's conflict-and-retry protocol). Then it moves the staged
    * data files into the table (partition dirs kept), writes
    * `manifestOf(moved)` and commits it as version plannedV + 1. If the
    * manifest or its commit fails, the moved files are deleted again —
    * no version references them — and the table stays as it was at
    * plannedV. The staging dir is gone on every exit. Returns the moved
    * files.
    */
  private def commitStaged(spark: SparkSession, dataDir: String,
      plannedV: Long, op: String, carriedEntries: Long, stgBase: String)(
      stage: Path => Unit)(
      manifestOf: Seq[String] => DataFrame): Seq[String] = {
    val root = new Path(dataDir)
    val hfs = fsOf(spark, dataDir)
    val stg = new Path(s"${stgBase}_${uuid8()}")
    try {
      stage(stg)
      beforeCommitHook()
      CommitLock.withLock(hfs, new Path(root, "_manifest.lock")) {
        val cur = currentVersion(hfs, dataDir)
        if (cur != plannedV) throw new ConcurrentWriteException(
          s"table $dataDir moved v$plannedV -> v$cur while this surgery " +
            "was planned/staged — a rival writer committed; re-run the " +
            "surgery against the current version")
        val moved =
          if (hfs.exists(stg)) movePartitionTree(hfs, stg, root) else Nil
        val tmp = tmpManifest(dataDir)
        try {
          writeManifest(manifestOf(moved), tmp, carriedEntries + moved.size)
          commitVersion(hfs, dataDir, tmp, op, plannedV + 1)
        } catch {
          case t: Throwable =>
            moved.foreach(p => hfs.delete(new Path(p), false))
            hfs.delete(tmp, true)
            throw t
        }
        spark.catalog.refreshByPath(dataDir)
        moved
      }
    } finally { if (hfs.exists(stg)) hfs.delete(stg, true) }
  }

  /** A surgery's fresh files get stats for `cols`/`bloomCols` only; when
    * the manifest (`tracked` columns) tracks more, the call must fail
    * while its files are still staged under `stg` — a `stage` step of
    * [[commitStaged]] — and not inside the commit, after the files moved
    * into the table. A call that staged no data file (a pure DV mark)
    * writes no stats and passes.
    */
  private def requireTracked(spark: SparkSession, op: String,
      dataDir: String, tracked: Seq[String], cols: Seq[String],
      bloomCols: Seq[String], stg: Path): Unit = {
    val hfs = fsOf(spark, dataDir)
    val fresh = statsColumns(cols, bloomCols).toSet
    val untracked = tracked.filterNot(c =>
      c == DvCol || c == DvDelCol || fresh.contains(c))
    require(untracked.isEmpty || !hfs.exists(stg) ||
      FsListing.listDataFiles(hfs, stg).isEmpty,
      s"$op: the manifest under $dataDir tracks ${untracked.mkString(", ")}" +
        " but cols/bloomCols leave them out — the files this call writes " +
        "would have no stats for them; pass the table's tracked columns")
  }

  /** `carried` manifest entries plus fresh stats for the `moved` files,
    * aligned to `carried`'s columns.
    */
  private def withFresh(spark: SparkSession, dataDir: String,
      carried: DataFrame, moved: Seq[String], cols: Seq[String],
      bloomCols: Seq[String], expectedPerFile: Long, fpp: Double): DataFrame =
    if (moved.isEmpty) carried
    else carried.unionByName(alignStats(statsForFiles(spark, dataDir, moved,
      cols, bloomCols, expectedPerFile, fpp), carried.columns.toIndexedSeq))

  /** One pass over the directory: per-file row count + min/max of each
    * tracked column, committed as the table's next version.
    */
  def build(spark: SparkSession, dataDir: String, cols: Seq[String]): Unit =
    buildWithBloom(spark, dataDir, cols, Nil)

  /** [[build]] plus a per-file BLOOM FILTER sidecar over each of
    * `bloomCols` (long-typed key columns) — the skipping layer min/max
    * bounds can't provide: a POINT lookup on a high-cardinality key that
    * is uncorrelated with file layout (an id probe over an
    * arrival-ordered tree) intersects every file's [min,max], but a
    * per-file Bloom answers "definitely not here" for all but the
    * files actually holding the key (+ the fpp's false positives).
    * Delta's bloom-filter index / Iceberg puffin blobs are the same
    * idea; here the serialized filter (Spark's `util.sketch.BloomFilter`,
    * `expectedPerFile`/`fpp`-sized) rides as a binary column in the one
    * manifest parquet. No false negatives ever — Bloom semantics —
    * so pruning stays SOUND; a false positive only costs one extra file
    * read under the exact row filter.
    */
  def buildWithBloom(spark: SparkSession, dataDir: String, cols: Seq[String],
      bloomCols: Seq[String], expectedPerFile: Long = 65536L,
      fpp: Double = 0.01, versionFloor: Long = 0L): Unit = {
    val root = new Path(dataDir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // a from-scratch rebuild re-stats the RAW files: live deletion
    // vectors would be dropped and every DV-deleted row silently
    // RESURRECTED — the failure mode the DV stack must never allow
    require(!hasLiveDv(spark, dataDir),
      s"table $dataDir carries live deletion vectors — a manifest " +
        "rebuild would resurrect DV-deleted rows; purgeDv(...) first")
    val paths = FsListing.listDataFiles(hfs, root)
    val stats =
      if (paths.isEmpty) // surface the same empty-dir failure a scan would
        fileStats(spark.read.parquet(dataDir), cols, bloomCols,
          expectedPerFile, fpp)
      else statsForFiles(spark, dataDir, paths, cols, bloomCols,
        expectedPerFile, fpp)
    val tmp = tmpManifest(dataDir)
    writeManifest(stats, tmp, math.max(1, paths.size).toLong)
    // the version token stays MONOTONIC across a rebuild: the next
    // number, never a reused one — and versionFloor carries it across a
    // rebuild that destroyed the previous versions (writeThrough
    // overwrite records the version before clearing the tree). A reused
    // number would let a surgery planned at it false-pass its commit
    // check and publish stale staging over the rebuild (the OCC ABA
    // hole).
    commitVersion(hfs, dataDir, tmp, "build",
      math.max(currentVersion(hfs, dataDir), versionFloor) + 1)
  }

  /** Spark types whose parquet footer statistics are BOTH trustworthy
    * and exactly convertible back to the values a Spark `min`/`max`
    * aggregate over the data would produce — the eligibility gate for
    * [[footerStats]]. Float/Double are excluded: a writer that saw NaN
    * may have persisted NaN-free bounds, and under Spark's
    * NaN-is-largest comparison semantics a range probe (`col >= lo` IS
    * true for NaN) could then skip a file whose NaN rows qualify.
    * Timestamp is excluded (Spark's default INT96 layout carries no
    * usable footer stats); Decimal for scale/precision re-encoding
    * complexity. Ineligible types simply keep the data-scan path.
    */
  private def footerEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         StringType | BooleanType => true
    case _ => false
  }

  /** Per-file `(n_rows, min_c, max_c, ...)` manifest entries read from
    * PARQUET FOOTER row-group statistics — metadata-sized reads instead
    * of re-scanning every data page the writer just finished writing.
    * This removes the avoidable half of a publish's read amplification:
    * [[publishVia]]/[[refresh]] used to land files and then re-READ
    * them wholesale just to re-derive bounds parquet had already
    * persisted per column chunk (Iceberg/Delta commit the same way —
    * per-file stats come off the write tasks' footers, never a second
    * scan).
    *
    * Soundness: row counts come from block metadata — always present,
    * exact. A column chunk with absent or unusable statistics (stats
    * dropped by parquet's corrupt-stats quarantine, physical type not
    * matching the expected Spark type, a partition column absent from
    * the file) makes that file's bound NULL, which every read-side
    * consumer already treats as unknown-never-skip. An all-null chunk
    * (no non-null value, numNulls == valueCount) contributes nothing,
    * matching `min(col)` over NULLs. String bounds merge in unsigned
    * UTF-8 byte order — the same ordering Spark's UTF8String comparison
    * and parquet's UNSIGNED_LEXICOGRAPHICAL comparator use.
    * FooterStatsSpec pins footer ≡ scan equality per eligible type and
    * the null-bound degradation cases.
    *
    * Distribution: the footers are opened in a Spark job over the path
    * list (a task reads only its partition's footers); the driver holds
    * the path strings it already had, never stats.
    */
  private[graft] def footerStats(spark: SparkSession, paths: Seq[String],
      schema: StructType, cols: Seq[String]): DataFrame = {
    val fields = cols.map(c => schema(c)).toIndexedSeq
    val outSchema = StructType(
      StructField("file", StringType, nullable = false) +:
        StructField("n_rows", LongType, nullable = false) +:
        fields.flatMap(f => Seq(
          StructField(s"min_${f.name}", f.dataType),
          StructField(s"max_${f.name}", f.dataType))))
    // Hadoop Configuration is Writable, not Serializable — ship it to
    // tasks as its own wire format
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(baos)
      spark.sessionState.newHadoopConf().write(dos)
      dos.close()
      baos.toByteArray
    }
    val colNames = fields.map(_.name)
    val colTypes = fields.map(_.dataType)
    val rdd = spark.sparkContext
      .parallelize(paths, math.max(1,
        math.min(paths.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.readFields(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(confBytes)))
        it.map { p =>
          // scheme-QUALIFY before storing: callers hand over bare
          // "/tmp/..." rename targets, but manifest entries must compare
          // against the qualified ("file:/...") live listing
          val p0 = new Path(p)
          val tfs = p0.getFileSystem(conf)
          val qualified = p0.makeQualified(tfs.getUri, tfs.getWorkingDirectory)
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(qualified, conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks
            var nRows = 0L
            val iter0 = blocks.iterator()
            while (iter0.hasNext) nRows += iter0.next().getRowCount
            // per tracked column: merge chunk stats in an internal rep
            // (Long for integrals/date/boolean, bytes for strings)
            val mins = new Array[Any](colNames.length)
            val maxs = new Array[Any](colNames.length)
            val unknown = new Array[Boolean](colNames.length)
            val biter = blocks.iterator()
            while (biter.hasNext) {
              val b = biter.next()
              var i = 0
              while (i < colNames.length) {
                if (!unknown(i)) {
                  var chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
                  val citer = b.getColumns.iterator()
                  while (citer.hasNext && chunk == null) {
                    val c = citer.next()
                    if (c.getPath.size() == 1 &&
                      c.getPath.toDotString == colNames(i)) chunk = c
                  }
                  if (chunk == null) unknown(i) = true
                  else {
                    val stats = chunk.getStatistics
                    if (stats == null) unknown(i) = true
                    else if (stats.isNumNullsSet &&
                      stats.getNumNulls == chunk.getValueCount) {
                      // proven all-null chunk: contributes nothing (some
                      // writers still populate zeroed min/max here, so
                      // this test must run BEFORE trusting hasNonNullValue)
                    } else if (!stats.hasNonNullValue) unknown(i) = true
                    else {
                      footerValue(colTypes(i), stats) match {
                        case Some((mn, mx)) =>
                          if (mins(i) == null ||
                            internalCompare(colTypes(i), mn, mins(i)) < 0)
                            mins(i) = mn
                          if (maxs(i) == null ||
                            internalCompare(colTypes(i), mx, maxs(i)) > 0)
                            maxs(i) = mx
                        case None => unknown(i) = true
                      }
                    }
                  }
                }
                i += 1
              }
            }
            val vals = (0 until colNames.length).flatMap { i =>
              // mins(i) == null: every chunk was all-null — bounds are
              // NULL exactly like min() over an all-NULL column
              if (unknown(i) || mins(i) == null) Seq(null, null)
              else Seq(internalFinish(colTypes(i), mins(i)),
                internalFinish(colTypes(i), maxs(i)))
            }
            Row.fromSeq(FsListing.norm(qualified.toString) +: nRows +: vals)
          } finally reader.close()
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Chunk min/max in the internal merge representation, or None when
    * the physical type doesn't match the expected Spark type (schema
    * evolution — bounds go unknown, never wrong).
    */
  private def footerValue(dt: DataType,
      stats: org.apache.parquet.column.statistics.Statistics[_]): Option[(Any, Any)] = {
    import org.apache.parquet.column.statistics._
    (dt, stats) match {
      case (ByteType | ShortType | IntegerType | DateType, s: IntStatistics) =>
        Some((s.getMin.toLong, s.getMax.toLong))
      case (LongType, s: LongStatistics) => Some((s.getMin, s.getMax))
      case (BooleanType, s: BooleanStatistics) =>
        Some((if (s.getMin) 1L else 0L, if (s.getMax) 1L else 0L))
      case (StringType, s: BinaryStatistics) =>
        Some((s.genericGetMin.getBytes, s.genericGetMax.getBytes))
      case _ => None
    }
  }

  private def internalCompare(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType => java.util.Arrays.compareUnsigned(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case _ => java.lang.Long.compare(
      a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  private def internalFinish(dt: DataType, v: Any): Any = dt match {
    case ByteType => v.asInstanceOf[Long].toByte
    case ShortType => v.asInstanceOf[Long].toShort
    case IntegerType => v.asInstanceOf[Long].toInt
    case LongType => v.asInstanceOf[Long]
    case BooleanType => v.asInstanceOf[Long] != 0L
    case DateType => java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long]))
    case StringType => new String(v.asInstanceOf[Array[Byte]],
      java.nio.charset.StandardCharsets.UTF_8)
    case other => throw new IllegalStateException(s"not footer-eligible: $other")
  }

  /** Stats for exactly `paths`: FOOTER-derived when no bloom sidecars
    * are requested (blooms must see every key value, so they pay the
    * scan anyway) and every tracked column is [[footerEligible]] and
    * physically present in the files (a partition column lives in the
    * directory name, not the footer); the [[fileStats]] data-scan
    * aggregation otherwise. Both paths produce the identical manifest
    * schema, so callers never care which ran.
    */
  private[graft] def statsForFiles(spark: SparkSession, dataDir: String,
      paths: Seq[String], cols: Seq[String], bloomCols: Seq[String],
      expectedPerFile: Long, fpp: Double): DataFrame = {
    val df = spark.read.option("basePath", dataDir).parquet(paths: _*)
    // short-circuit order matters: the physical-presence probe opens a
    // footer on the driver — skip it entirely when blooms or an
    // ineligible type already force the scan path
    if (bloomCols.isEmpty &&
        cols.forall(c => footerEligible(df.schema(c).dataType)) && {
          val physical = physicalFields(spark, paths.head)
          cols.forall(physical.contains)
        })
      footerStats(spark, paths, df.schema, cols)
    else {
      val scanned = fileStats(df, cols, bloomCols, expectedPerFile, fpp)
      // MATERIALIZE the per-file aggregation ONCE (eager localCheckpoint):
      // the zero-row completion below used to ride a distributed
      // anti-join against a second reference to `scanned`, so every
      // bloom-bearing commit's manifest write re-planned the aggregate
      // subtree (no exchange reuse once column pruning specialized the
      // anti side) and AQE split the write into 3-4 scheduled stage-jobs
      // — pure per-commit scheduling overhead. Checkpointed, the caller's
      // manifest write is exchange-free (one job), and the completion is
      // a driver-side set difference over the path strings this verb
      // already holds.
      val mat = labeled(spark, "graft: file-stats scan") {
        scanned.localCheckpoint()
      }
      // a ZERO-ROW part file produces no group (input_file_name never
      // fires) but IS live data — an all-rows-deleted rewrite lands one
      // schema-preserving empty file, and without an explicit
      // n_rows=0/null-stats entry the coverage guard bricks every later
      // read as "stale". The footer path emits these naturally; complete
      // the scan path to match. Null bounds/blooms keep the file on
      // every probe — sound, and the exact row filter reads nothing.
      val schema = mat.schema
      // scheme-QUALIFY like the footer path: callers hand bare "/tmp/..."
      // rename targets, but these entries must join against
      // input_file_name's qualified form and the qualified live listing
      val conf = spark.sessionState.newHadoopConf()
      def qualified(p: String): String = {
        val pp = new Path(p)
        val pfs = pp.getFileSystem(conf)
        FsListing.norm(
          pp.makeQualified(pfs.getUri, pfs.getWorkingDirectory).toString)
      }
      val present = labeled(spark, "graft: file-stats names") {
        mat.select(ManifestFileIndex.normPath(col("file"))).collect()
      }.map(_.getString(0)).toSet
      val missing = paths.map(qualified).filterNot(present)
      if (missing.isEmpty) mat
      else mat.unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(missing.map(p =>
          Row.fromSeq(p +: 0L +:
            Seq.fill(schema.length - 2)(null))), 1),
        schema))
    }
  }

  /** Top-level primitive field names of ONE file's parquet footer — the
    * physical-presence probe for [[statsForFiles]] (batches are
    * single-writer uniform; a straggler that differs anyway just
    * degrades to null bounds inside the footer job).
    */
  private def physicalFields(spark: SparkSession, path: String): Set[String] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(path),
      spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val s = reader.getFooter.getFileMetaData.getSchema
      import scala.jdk.CollectionConverters._
      s.getFields.asScala.filter(_.isPrimitive).map(_.getName).toSet
    } finally reader.close()
  }

  /** The one per-file stats aggregation both [[buildWithBloom]] and the
    * incremental [[refresh]] use — including the bloom-key type guard,
    * so the two paths can never drift: INTEGRAL key columns only (the
    * sidecar stores `cast(long)` and the probe compares Catalyst
    * literal values — a timestamp's cast yields SECONDS while equality
    * literals carry MICROS, so a non-integral bloomCol would prune with
    * silent false NEGATIVES, the one failure Bloom semantics must never
    * allow; fail loud at build time instead).
    */
  private[graft] def fileStats(data: DataFrame, cols: Seq[String],
      bloomCols: Seq[String], expectedPerFile: Long, fpp: Double): DataFrame = {
    bloomCols.foreach { c =>
      val dt = data.schema(c).dataType
      require(FsListing.isIntegral(dt) || dt == StringType,
        s"bloom sidecar column '$c' is $dt — only integral (cast-to-long " +
          "must be value-preserving) or string key columns are " +
          "bloom-trackable")
    }
    val bloomAgg = udaf(new BloomAgg(expectedPerFile, fpp),
      org.apache.spark.sql.Encoders.LONG)
    // string keys hash UTF-8 bytes (BloomFilter.putString/
    // mightContainString) — no cast, so probe-side literals agree with
    // build-side storage by construction; the sidecar's ENCODING is
    // keyed to the column dtype on both sides
    val strBloomAgg = udaf(new StringBloomAgg(expectedPerFile, fpp),
      org.apache.spark.sql.Encoders.STRING)
    val aggs = count(lit(1)).as("n_rows") +:
      (cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        bloomCols.map { c =>
          if (data.schema(c).dataType == StringType)
            strBloomAgg(col(c)).as(s"bloom_$c")
          else bloomAgg(col(c).cast("long")).as(s"bloom_$c")
        })
    data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Mergeable per-file Bloom accumulation: one filter per group, built
    * executor-side (null keys skipped — a NULL never equals a point
    * probe, so leaving it out of the filter is exact, and a file of only
    * NULL keys correctly yields an empty filter every probe misses).
    * One base, two key encodings: `putLong` for integral keys,
    * `putString` (UTF-8 bytes, matching `mightContainString` on every
    * probe path) for string keys — the put function is the ONLY
    * difference, kept in one place so the encodings can't drift.
    */
  private sealed class BloomAggBase[T](expected: Long, fpp: Double,
      put: (org.apache.spark.util.sketch.BloomFilter, T) => Unit)
      extends org.apache.spark.sql.expressions.Aggregator[
        T, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, k: T): BloomFilter = {
      if (k != null) put(b, k)
      b
    }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = a.mergeInPlace(b)
    def finish(b: BloomFilter): Array[Byte] = {
      val os = new java.io.ByteArrayOutputStream()
      b.writeTo(os)
      os.toByteArray
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[BloomFilter] =
      org.apache.spark.sql.Encoders.javaSerialization[BloomFilter]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  private final class BloomAgg(expected: Long, fpp: Double)
      extends BloomAggBase[java.lang.Long](expected, fpp, _ putLong _)

  private final class StringBloomAgg(expected: Long, fpp: Double)
      extends BloomAggBase[String](expected, fpp, _ putString _)

  /** Write-through sink: land `df` under `dataDir` AND refresh the
    * manifest (+ bloom sidecars) in the same call — the writer-owns-
    * the-manifest discipline table formats enforce (data and metadata
    * commit together), so readers never hit the stale-manifest guard
    * after a routine append. The refresh is INCREMENTAL via [[refresh]]:
    * an append stats only the files it just landed.
    */
  /** MULTI-WRITER: the whole write-through (append + refresh) runs
    * under the manifest [[CommitLock]] — concurrent Spark jobs writing
    * one directory race each other's `_temporary/0` staging (the
    * default FileOutputCommitter keys staging by an appID-local job id,
    * not a global one), so the data append itself must serialize with
    * rival writeThrough calls, not just the manifest commit. Each locked
    * refresh re-lists the live tree, so whichever writer commits last
    * leaves a manifest covering every rival's files — MultiWriterSpec
    * races two writers and pins coverage + readability.
    */
  def writeThrough(df: DataFrame, dataDir: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil, mode: String = "append",
      partitionCols: Seq[String] = Nil,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01): Unit = {
    val root = new Path(dataDir)
    val hfs = root.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    CommitLock.withLock(hfs,
      new Path(root, "_manifest.lock")) {
      // overwrite must NOT go through Spark's Overwrite mode: that
      // recursively deletes the root — including the _manifest.lock
      // file THIS writer is holding — so a rival would re-create the
      // lock and enter the critical section mid-overwrite (and this
      // writer's unlock would then delete the rival's live lock,
      // cascading the violation). Clear the tree manually, sparing the
      // lock, and land the data as an append into the emptied root.
      // the version token must stay MONOTONIC across the reset: record
      // the outgoing version before the clear and floor the rebuild one
      // past it, or a surgery planned pre-overwrite would see the same
      // version again at commit and publish stale staging (OCC ABA)
      val prevV =
        if (mode == "overwrite") currentVersion(hfs, dataDir) else 0L
      val effMode =
        if (mode == "overwrite") {
          if (hfs.exists(root))
            hfs.listStatus(root).iterator
              .filterNot(_.getPath.getName == "_manifest.lock")
              .foreach(s => hfs.delete(s.getPath, true))
          "append"
        } else mode
      val w = df.write.mode(effMode)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(dataDir)
      refreshLocked(df.sparkSession, dataDir, root, hfs, cols, bloomCols,
        expectedPerFile, fpp, versionFloor = prevV)
    }
  }

  /** MVCC publish — replace the table's CURRENT version with `df`
    * without touching prior versions' bytes (index compaction rewriting
    * its base in place, OPTIMIZE-style file rewrites): `df` first
    * materializes into a sibling staging dir — the write job scans the
    * untouched target freely even when it READS `dataDir` — then, under
    * the target's writer lock, the staged part-files MOVE in (renames,
    * job-unique names, no data copy), a manifest covering EXACTLY the
    * published file set is committed as the next version, and the
    * outgoing snapshot's files are left on disk: still readable through
    * [[readAsOf]] until [[vacuum]]'s `keepVersions` retention reaps
    * them. Readers are snapshot-isolated — [[ManifestFileIndex]] plans
    * membership from the current manifest, never the raw directory, so
    * a query planned mid-publish sees wholly the old version or wholly
    * the new one.
    */
  def publishVia(df: DataFrame, stagingDir: String, dataDir: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01,
      opName: String = "publish",
      expectedVersion: Option[Long] = None): Unit = {
    // opName is not just display metadata: [[changesBetween]] SKIPS
    // single-commit hops stamped 'optimize'/'purge' as multiset-invariant
    // reorganizations (Delta's dataChange=false). A caller stamping a
    // DATA-CHANGING publish with one of those names would silently drop
    // its changes from every CDC span — reserve the reorg verbs for the
    // internal operators that actually guarantee invariance
    // (optimizeTable/optimizePartitioned/purgeDv).
    require(!ReorgOps.contains(opName),
      s"publishVia opName '$opName' is reserved: it asserts the commit " +
        "is multiset-invariant to the change feed (changesBetween skips " +
        "such hops); use optimizeTable/optimizePartitioned/purgeDv for " +
        "reorganizations, or any other opName for data changes")
    publishViaUnchecked(df, stagingDir, dataDir, cols, bloomCols,
      expectedPerFile, fpp, opName, expectedVersion)
  }

  /** [[publishVia]] minus the reorg-opName guard — for the INTERNAL
    * reorganization verbs whose output is multiset-equal to their input
    * by construction.
    */
  private[sources] def publishViaUnchecked(df: DataFrame,
      stagingDir: String, dataDir: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01,
      opName: String = "publish",
      expectedVersion: Option[Long] = None): Unit = {
    val spark = df.sparkSession
    // `stagingDir` names the caller's staging LOCATION (its
    // filesystem/volume); commitStaged suffixes it per call
    val root = new Path(dataDir)
    val hfs = fsOf(spark, dataDir)
    // staging must live OUTSIDE the table tree entirely (qualified-path
    // prefix test, not bare equality): a staging dir under the root is
    // non-underscore, so its in-progress part files would list as live
    // data — tripping coverage for concurrent readers mid-publish
    locally {
      val rootQ = root.makeQualified(hfs.getUri, hfs.getWorkingDirectory).toString
      val stgQ = new Path(stagingDir)
        .makeQualified(hfs.getUri, hfs.getWorkingDirectory).toString
      require(stgQ != rootQ && !stgQ.startsWith(rootQ + "/"),
        s"staging dir must be outside the target table: $stagingDir is " +
          s"at or under $dataDir")
    }
    if (hfs.exists(root)) requireFlatTable(spark, dataDir, "publishVia")
    // optimistic token: `df` is typically a read-modify-write of the
    // current snapshot (compaction), so a rival commit between this
    // point and the locked publish would be silently overwritten —
    // validate under the lock, fail loud on movement. A caller whose
    // `df` EAGERLY pinned an earlier version (optimizeTable's
    // ManifestFileIndex.read collects its file set + dv rows at frame
    // construction) passes that version as `expectedVersion` — reading
    // the token here would otherwise observe a rival commit landing
    // AFTER the caller's resolution and publish stale content right
    // over it (lost update with a passing version check).
    val plannedV = expectedVersion.getOrElse(currentVersion(hfs, dataDir))
    commitStaged(spark, dataDir, plannedV, opName, 0L, stagingDir) { stg =>
      labeled(spark, s"graft: $opName stage") {
        df.write.parquet(stg.toString) // may read dataDir: still untouched
      }
    } { moved =>
      require(moved.nonEmpty, s"publish produced no data files for $dataDir")
      statsForFiles(spark, dataDir, moved, cols, bloomCols,
        expectedPerFile, fpp)
    }
  }

  /** Incremental manifest refresh: stat ONLY files not yet manifested
    * (delta-sized work — at 100 TB a daily append must never re-scan
    * the whole table for metadata), drop entries for files no longer
    * live (partition overwrites), carry every other entry byte-for-byte
    * (per-file stats and blooms never change once a file is immutable).
    * A manifest whose tracked-column set differs from `cols`/`bloomCols`
    * (or none at all) falls back to a full [[buildWithBloom]].
    */
  def refresh(spark: SparkSession, dataDir: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil, expectedPerFile: Long = 65536L,
      fpp: Double = 0.01): Unit = {
    val root = new Path(dataDir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // MULTI-WRITER: refreshes SERIALIZE on an advisory lock — two
    // concurrent writeThrough calls would otherwise interleave part
    // files in one tmp dir and race for the same version. Each locked
    // refresh re-LISTS the live tree, so the last refresh to run covers
    // every rival's appended files (and every append is followed by its
    // own refresh, so the final manifest always covers the final tree —
    // MultiWriterSpec races two writeThrough threads and pins coverage).
    // The data appends themselves need no lock: Spark part-file names
    // carry job-unique UUIDs.
    CommitLock.withLock(hfs, new Path(root, "_manifest.lock")) {
      refreshLocked(spark, dataDir, root, hfs, cols, bloomCols, expectedPerFile, fpp)
    }
  }

  /** All readable versions under `dataDir`, ascending — from one
    * listing of `_versions`; the last is the current version.
    */
  def versions(spark: SparkSession, dataDir: String): Seq[Long] =
    versionsOf(spark, dataDir).all

  /** The CURRENT manifest's version, for read-side pinning. */
  private[sources] def currentVersionOf(spark: SparkSession,
      dataDir: String): Long =
    versionsOf(spark, dataDir).current

  /** The operation marker (`_op_<verb>`) of one version, or "unknown"
    * when no retained version `v` carries one — the per-version
    * fallback of [[history]].
    */
  private[sources] def opOfVersion(hfs: FileSystem, dataDir: String,
      v: Long): String = {
    opOfVersionCalls.incrementAndGet() // spec probe (OpBatch regression pin)
    opsOfVersions(hfs, dataDir, Set(v)).getOrElse(v, "unknown")
  }

  /** Per-version resolver counter — a SPEC PROBE ONLY: OpBatchSpec pins
    * that changesBetween resolves its span's ops in one batch and never
    * through [[opOfVersion]], however many commits the span covers.
    */
  private[graft] val opOfVersionCalls =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Operation stamps for the `wanted` versions: one listing per wanted
    * version dir (the markers live inside the dirs), SCOPED to the
    * span — a short-lag CDC poll on a deep-retention table lists only
    * its span's dirs. A version without a dir (vacuumed) or without a
    * marker gets no entry, and every consumer treats a missing entry as
    * "unknown" = NOT-reorganization: the safe direction (a hop is never
    * skipped on unproven evidence).
    */
  private[graft] def opsOfVersions(hfs: FileSystem, dataDir: String,
      wanted: Set[Long]): Map[Long, String] =
    wanted.iterator.flatMap { v =>
      val names =
        try hfs.listStatus(new Path(versionDir(dataDir, v))).map(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Array.empty[String] }
      names.collectFirst { case n if n.startsWith("_op_") =>
        v -> n.stripPrefix("_op_") }
    }.toMap

  /** DESCRIBE HISTORY: one row per readable version — (version, op,
    * n_files, n_rows live) — from the retained manifests alone
    * (metadata-scale, no data page). The op is the verb that PRODUCED
    * the version (build / refresh / publish / optimize / delete /
    * dv-delete / merge / merge-dv / purge); a version without an op
    * marker reads as "unknown".
    *
    * ONE aggregation job over every retained version, not one per
    * version: all version dirs go through a single multi-path read
    * (version recovered from the dir name) and the per-dir (count,
    * live-row sum) pairs come back in one collect. EXPLICIT minimal
    * schema, not mergeSchema: only n_rows and the dv del count feed the
    * aggregate, and a mergeSchema read (a) pays a distributed
    * footer-merge job per DESCRIBE HISTORY and (b) throws 'Failed to
    * merge incompatible data types' the moment two versions' tracked
    * min_/max_ columns drifted type. A version missing the dv column
    * reads it as NULL (zero deletes); a version whose manifest holds
    * ZERO entries (delete-everything snapshot) produces no group and
    * fills in as (0 files, 0 rows).
    */
  def history(spark: SparkSession, dataDir: String): DataFrame = {
    val hfs = fsOf(spark, dataDir)
    val vs = listVersions(hfs, dataDir).all
    val ops = opsOfVersions(hfs, dataDir, vs.toSet)
    val byV: Map[Long, (Long, Long)] =
      if (vs.isEmpty) Map.empty
      else labeled(spark, "graft: history agg") {
        spark.read
          .schema(StructType(Seq(StructField("n_rows", LongType),
            StructField(DvDelCol, LongType))))
          .parquet(vs.map(versionDir(dataDir, _)): _*)
          .groupBy(versionOfFile)
          .agg(count(lit(1)),
            sum(col("n_rows") - coalesce(col(DvDelCol), lit(0L))))
          .collect()
      }.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    import spark.implicits._
    vs.map { v =>
      val (nf, nr) = byV.getOrElse(v, (0L, 0L))
      (v, ops.getOrElse(v, opOfVersion(hfs, dataDir, v)), nf, nr)
    }.toDF("version", "op", "n_files", "n_rows").orderBy("version")
  }

  /** Surgery guard: file rewrites land at the table ROOT, so a
    * hive-partitioned tree would silently migrate its partition column
    * into file data (and double it against the directory-inferred
    * one) — fail loud instead; partitioned trees compact/delete
    * per-partition directory.
    */
  private def requireFlatTable(spark: SparkSession, dataDir: String,
      verb: String): Unit = {
    val root = new Path(dataDir)
    val sub = fsOf(spark, dataDir).listStatus(root).filter(s => s.isDirectory && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    require(sub.isEmpty,
      s"$verb requires a FLAT table: $root has partition subdirs (e.g. " +
        s"${if (sub.nonEmpty) sub.head.getPath.getName else ""}) — a root-level " +
        "rewrite would flatten the partition column into file data; use " +
        "optimizePartitioned/deleteRangePartitioned (partition-aware, one " +
        s"atomic commit) or run the $verb per partition directory")
  }

  /** TIME TRAVEL: plan the table as it stood at `version`. Every
    * versioned manifest is a complete snapshot of the file set live at
    * its refresh, so an as-of read is just "read exactly those paths" —
    * append-only file immutability (parquet files never rewrite in
    * place) makes the old bytes still correct. Validity window: a
    * version is readable until [[vacuum]]'s `keepVersions` retention
    * reaps its manifest (resolution then fails loud here, naming the
    * retained range) or reaps data files no newer version references.
    *
    * RETENTION/READ RACE (the same contract Delta documents for
    * VACUUM): resolution pins the file PATHS, not the bytes — a reader
    * that resolved an as-of frame and is still scanning (or has not yet
    * scanned) when vacuum reaps that version fails MID-SCAN with the
    * task's FileNotFound/PATH_NOT_FOUND error, not with this method's
    * named resolution failure. That failure is loud, never silent
    * partial results; the operational remedy is retention sizing —
    * keepVersions/graceMs longer than the longest reader —
    * VacuumReaderRaceSpec pins the failure mode.
    *
    * The driver holds one path string per file of that version — the
    * same O(listing) any FileIndex already holds, never manifest
    * payload (bounds/blooms stay unread).
    */
  def readAsOf(spark: SparkSession, dataDir: String, version: Long): DataFrame =
    // PRUNED time travel: plan through a version-pinned
    // [[ManifestFileIndex]], so an as-of read gets the SAME bounds/bloom
    // file skipping a current-version read gets — the retained manifest
    // carries identical per-file stats, and the common audit query
    // ("yesterday's slice of one key range") should never open the whole
    // snapshot. Membership comes from the version's manifest; pushed
    // filters prune within it; a vacuumed file fails loud at index
    // construction (liveness check) instead of silently thinning the
    // snapshot. AsOfPrunedSpec pins result-equality with the raw
    // path-list read and the actual file-skip count.
    ManifestFileIndex.read(spark, dataDir, asOf = Some(version))

  /** Run a write surgery with optimistic-conflict retries — the caller
    * loop the OCC protocol assumes (Delta's retry-on-
    * ConcurrentModification): each attempt re-plans against the CURRENT
    * version, so a retry never republishes stale staging; any other
    * failure propagates untouched. No backoff: a conflict means the
    * rival has already committed, so the re-plan starts from its version.
    */
  def withConflictRetry[T](attempts: Int = 3)(body: => T): T = {
    require(attempts >= 1, s"attempts=$attempts")
    try body
    catch {
      case _: ConcurrentWriteException if attempts > 1 =>
        withConflictRetry(attempts - 1)(body)
    }
  }

  /** CHANGE DATA FEED between two retained versions — the incremental-
    * consumer verb beside append/compact/delete/merge/time-travel/
    * vacuum (Delta's table_changes, Iceberg's incremental read): emit
    * every row-level change that takes the table from `fromV` to `toV`
    * as the data columns plus a `change_type` of 'insert' or 'delete'
    * (an update surfaces as delete-of-old + insert-of-new, the
    * primitive CDC shape any downstream MERGE can re-apply).
    *
    * The diff is FILE-level first — versioned manifests are complete
    * file-set snapshots, so files present in both versions are PROVABLY
    * unchanged (parquet files are immutable) and are never opened; only
    * the file-set difference is read, O(touched files) I/O however
    * large the table. Row-level netting then cancels the carried rows a
    * file surgery rewrote byte-identically: multiset EXCEPT in both
    * directions (a row rewritten unchanged appears on both sides and
    * vanishes; a doubled row that lost one copy nets to exactly one
    * delete). The shuffle is over changed-file rows only.
    *
    * Both versions must still be retained — resolution fails loud with
    * the named retained range otherwise (same contract as [[readAsOf]],
    * including the mid-scan vacuum race documented there).
    *
    * REORGANIZATION hops (OPTIMIZE/purge commits, stamped `_op_`) are
    * SKIPPED: the span decomposes into runs of data-changing commits
    * and the feed composes from those alone — Delta's
    * `dataChange=false` semantics, so CDC across a nightly compaction
    * costs zero data I/O (see the decomposition comment in the body).
    */
  def changesBetween(spark: SparkSession, dataDir: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV,
      s"changesBetween needs fromV < toV, got $fromV >= $toV")
    val hfs = fsOf(spark, dataDir)
    // endpoint retention fails loud UP FRONT (the ChangeFeedTail
    // lag-past-retention contract) — the reorg decomposition below can
    // otherwise collapse the whole span without ever resolving an
    // endpoint manifest
    val retained = listVersions(hfs, dataDir).all
    Seq(fromV, toV).foreach { v =>
      require(retained.contains(v), s"version $v not retained under " +
        s"$dataDir (readable: ${retained.mkString(", ")})")
    }
    // REORGANIZATION-AWARE span decomposition (the dataChange=false
    // analog Delta stamps on OPTIMIZE commits): a hop v-1 → v whose
    // `_op_` verb is optimize/purge is a pure PHYSICAL reorganization —
    // its row-level net is ZERO by contract (CdfSpec, q176, q180 pin
    // it) — so the span's netted feed composes from the non-reorg RUNS
    // alone and the rewritten files are never opened. A consumer
    // polling across a nightly OPTIMIZE of a 100 TB table pays zero
    // data I/O to learn nothing changed, instead of two full scans.
    // Soundness: a hop is skipped only when it is EXACTLY one commit
    // (v == prev+1 among retained versions) and the stamp proves
    // reorganization; vacuumed gaps and unknown stamps stay
    // inside a run — a run diff between any two retained versions is
    // exact regardless of what happened between. Multiset telescoping
    // makes the composition exact: Σ_runs (state(b)−state(a)) =
    // state(toV)−state(fromV) when every skipped hop is
    // multiset-invariant.
    val runs: Seq[(Long, Long)] = {
      val mids = retained.filter(v => v > fromV && v <= toV)
      // ops for ALL mid versions from ONE span-scoped batched pass (see
      // opsOfVersions): a SHORT-lag poll must not pay for the table's
      // whole retention depth (the batch lists only its span's dirs). A
      // version the batch missed reads "unknown" = not-reorganization —
      // sound.
      val ops = opsOfVersions(hfs, dataDir, mids.toSet)
      val out = Seq.newBuilder[(Long, Long)]
      var runStart = fromV
      var prev = fromV
      mids.foreach { v =>
        if (v == prev + 1 && ReorgOps(ops.getOrElse(v, "unknown"))) {
          if (runStart < prev) out += ((runStart, prev))
          runStart = v
        }
        prev = v
      }
      if (runStart < toV) out += ((runStart, toV))
      out.result()
    }
    // file-identity is (path, deletion vector): a DV-delete changes a
    // file's LIVE rows without touching its bytes, so the "present in
    // both versions ⇒ provably unchanged" rule extends to "present with
    // an IDENTICAL dv". A file whose dv changed is read on BOTH sides —
    // each side under its own version's dv — and the signed net below
    // emits exactly the newly-dead rows as deletes. Only the diff FLAG
    // is collected (O(files) path strings + booleans); dv binaries stay
    // on executors.
    // per-run file diff — (changed@from read at a, changed@to read at b,
    // dv-carrying files per side). ONE resolution pass per run hands the
    // downstream reads their dv-file sets too, so readSide never
    // re-resolves a manifest it was already diffed from. The common
    // dv-less case (neither side's manifest carries a dv column —
    // provable from schema alone) diffs the two path lists driver-side
    // with two plain collects: the full-outer join exists only to
    // compare dv binaries exactly, and scheduling it on a dv-less pair
    // is pure per-commit overhead for a CDC consumer.
    val runDiffs: Seq[(Long, Long, Seq[String], Seq[String],
        Set[String], Set[String])] =
      runs.map { case (a, b) =>
        labeled(spark, s"graft: cdf diff v$a..v$b") {
          val ma = manifestFrameAt(spark, dataDir, a)
          val mb = manifestFrameAt(spark, dataDir, b)
          val hasDvA = ma.columns.contains(DvCol)
          val hasDvB = mb.columns.contains(DvCol)
          if (!hasDvA && !hasDvB) {
            // ONE job for both sides (side-tagged union), not a collect
            // per endpoint: the diff is pure per-commit overhead on a
            // CDC poll, and each scheduled job is fixed driver latency
            val both = ma
              .select(ManifestFileIndex.normPath(col("file")).as("f"),
                lit(false).as("isB"))
              .unionByName(mb.select(
                ManifestFileIndex.normPath(col("file")).as("f"),
                lit(true).as("isB")))
              .collect()
            val (rb, ra) = both.partition(_.getBoolean(1))
            val fa = ra.map(_.getString(0))
            val fb = rb.map(_.getString(0))
            val (faSet, fbSet) = (fa.toSet, fb.toSet)
            (a, b, fa.filterNot(fbSet).sorted.toSeq,
              fb.filterNot(faSet).sorted.toSeq,
              Set.empty[String], Set.empty[String])
          } else {
            def side(m: DataFrame, hasDv: Boolean, fn: String,
                dvn: String): DataFrame = {
              val dvc = if (hasDv) col(DvCol) else lit(null).cast(BinaryType)
              m.select(ManifestFileIndex.normPath(col("file")).as(fn),
                dvc.as(dvn))
            }
            val diff = side(ma, hasDvA, "fa", "dva")
              .join(side(mb, hasDvB, "fb", "dvb"),
                col("fa") === col("fb"), "full_outer")
              .select(col("fa"), col("fb"),
                (!(col("dva") <=> col("dvb"))).as("dvDiff"),
                col("dva").isNotNull.as("hasA"),
                col("dvb").isNotNull.as("hasB"))
              .collect()
            val changedTo = diff.filter(r =>
              !r.isNullAt(1) && (r.isNullAt(0) || r.getBoolean(2)))
              .map(_.getString(1)).sorted.toSeq
            val changedFrom = diff.filter(r =>
              !r.isNullAt(0) && (r.isNullAt(1) || r.getBoolean(2)))
              .map(_.getString(0)).sorted.toSeq
            val dvA = diff.filter(r => !r.isNullAt(0) && r.getBoolean(3))
              .map(_.getString(0)).toSet
            val dvB = diff.filter(r => !r.isNullAt(1) && r.getBoolean(4))
              .map(_.getString(1)).toSet
            (a, b, changedFrom, changedTo, dvA, dvB)
          }
        }
      }
    val anyChanged = runDiffs.flatMap(d => d._3 ++ d._4)
    if (anyChanged.isEmpty) {
      // nothing changed anywhere in the span (pure-reorg span, or
      // refresh no-ops): return an EMPTY LOCAL frame — no file scan in
      // the plan at all (the zero-data-I/O guarantee CdfSpec pins). The
      // schema anchors on one file of an endpoint snapshot (a footer
      // read, metadata-sized); both endpoints empty has no schema to
      // derive and no changes to emit — fail loud as before.
      // DRIVER-side probe of each endpoint's version dir — the pure-reorg
      // span pays no Spark job for its schema anchor
      val conf = spark.sessionState.newHadoopConf()
      val anchor = Seq(toV, fromV).iterator.flatMap { v =>
        firstFileInManifestDir(conf, new Path(versionDir(dataDir, v)))
      }.nextOption()
      require(anchor.nonEmpty,
        s"changesBetween: versions $fromV and $toV of $dataDir are both " +
          "empty snapshots — no schema to derive and no changes to emit")
      val sch = spark.read.option("basePath", dataDir).parquet(anchor.get)
        .schema.add(StructField("change_type", StringType, nullable = false))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
    }
    val anchor = anyChanged.head
    def readSet(fs: Seq[String]): DataFrame =
      if (fs.isEmpty)
        spark.read.option("basePath", dataDir).parquet(anchor)
          .filter(lit(false))
      else spark.read.option("basePath", dataDir).parquet(fs: _*)
    // split-by-side like every other DV read: only a side's DV-carrying
    // changed files pay the position join (readSet keeps the anchored
    // empty-frame shape for the no-changes case). The dv-file set comes
    // from the SAME per-run resolution that produced the diff — one
    // snapshot per (run, side).
    def readSide(fs: Seq[String], v: Long, dvFiles: Set[String]): DataFrame =
      if (fs.isEmpty) readSet(fs)
      else {
        val (withDv, plain) = fs.partition(dvFiles)
        if (withDv.isEmpty) readSet(plain)
        else {
          val dvd = liveAt(readSet(withDv), dataDir, v)
          if (plain.isEmpty) dvd else readSet(plain).unionByName(dvd)
        }
      }
    // ONE signed-net pass over ALL runs, not two directional EXCEPT
    // ALLs per run (which would read each side twice and shuffle
    // twice): tag rows ±1, group by the full row, keep the nonzero nets
    // and expand |net| copies with the sign's change_type. Multiset-
    // identical to insEXCEPTdel ∪ delEXCEPTins composed across runs —
    // a row appearing i times inserted and d times deleted nets to
    // max(i−d,0) inserts / max(d−i,0) deletes either way — and float
    // grouping normalizes NaN/−0.0 exactly as EXCEPT ALL does.
    val tagged = runDiffs.iterator.flatMap {
      case (a, b, chFrom, chTo, dvA, dvB) =>
        val side = Seq.newBuilder[DataFrame]
        if (chTo.nonEmpty)
          side += readSide(chTo, b, dvB).withColumn("_sgn", lit(1L))
        if (chFrom.nonEmpty)
          side += readSide(chFrom, a, dvA).withColumn("_sgn", lit(-1L))
        side.result()
    }.reduce(_ unionByName _)
    val dataCols = tagged.columns.filterNot(_ == "_sgn").toIndexedSeq
    val net = tagged
      .groupBy(dataCols.map(col): _*)
      .agg(sum("_sgn").as("_net"))
      .filter(col("_net") =!= 0L)
    // BOUNDED expansion: a single explode(sequence(1, abs(_net)))
    // materializes one O(|net|) array per group inside one task — a row
    // value duplicated millions of times and deleted in one surgery
    // would build a multi-million-element array and risk executor OOM.
    // Two nested generators instead: an outer one over ≤ B-sized chunk
    // ids, an inner one over the within-chunk count — identical multiset
    // output, per-task array never larger than B. The common |net| = 1
    // case costs two one-element generators (generator rows are
    // streamed, not buffered — negligible).
    val B = 65536L
    net
      .select(dataCols.map(col) :+ col("_net") :+
        explode(expr(s"sequence(0L, (abs(_net) - 1L) div ${B}L)"))
          .as("_chunk"): _*)
      .select(dataCols.map(col) :+ col("_net") :+
        explode(expr(s"sequence(1L, least(${B}L, abs(_net) - _chunk * ${B}L))"))
          .as("_i"): _*)
      .select(dataCols.map(col) :+
        when(col("_net") > 0, lit("insert")).otherwise(lit("delete"))
          .as("change_type"): _*)
  }

  /** [[changesBetween]] with UPDATE PAIRING (Delta's
    * update_preimage/update_postimage): a key that lost exactly one row
    * and gained exactly one row across the span was UPDATED — relabel
    * its delete/insert pair so a consumer reconstructing per-key
    * updates doesn't join the two sides itself. Any other multiplicity
    * (pure insert, pure delete, a key that went from two rows to one —
    * no unambiguous pairing exists) keeps the primitive labels, and
    * NULL keys never pair (NULL matches nothing, the same rule as
    * MERGE). One hash shuffle by key over the netted delta only — the
    * pairing adds O(changed rows), never O(table).
    */
  def changesBetweenKeyed(spark: SparkSession, dataDir: String,
      fromV: Long, toV: Long, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    changesBetween(spark, dataDir, fromV, toV)
      .withColumn("_ins", sum(
        when(col("change_type") === "insert", lit(1L)).otherwise(lit(0L))).over(w))
      .withColumn("_del", sum(
        when(col("change_type") === "delete", lit(1L)).otherwise(lit(0L))).over(w))
      .withColumn("change_type",
        when(col(key).isNotNull && col("_ins") === 1L && col("_del") === 1L,
          when(col("change_type") === "insert", lit("update_postimage"))
            .otherwise(lit("update_preimage")))
          .otherwise(col("change_type")))
      .drop("_ins", "_del")
  }

  // ---- deletion vectors ---------------------------------------------------

  /** Manifest column holding a file's [[DeletionVectors]] sidecar bytes
    * (nullable binary; absent entirely on tables never DV-deleted) and
    * its deleted-row count twin. `n_rows` stays the PHYSICAL row count
    * — `n_rows - n_del` is the live count — and min/max bounds stay
    * physical too (a deleted row can only WIDEN them: conservative,
    * so bounds/bloom pruning over a DV-carrying file remains sound).
    */
  private[sources] val DvCol = "dv"
  private[sources] val DvDelCol = "n_del"

  /** Version stamps that assert MULTISET-INVARIANCE to the change feed
    * (Delta's dataChange=false): [[changesBetween]] skips single-commit
    * hops carrying one of these, so only the internal reorganization
    * verbs may stamp them — [[publishVia]] rejects them from callers.
    */
  private[sources] val ReorgOps = Set("optimize", "purge")

  /** Manifest `file` entry → the exact `_metadata.file_path`
    * representation (a percent-encoded URI — verified equal to
    * `new Path(norm(s)).toUri.toString`, space/# cases included). The
    * DV join runs once per DATA row, so the per-row side must carry
    * ZERO transformation: this UDF runs on the metadata-sized manifest
    * side only, and the data side joins on the raw `_metadata`
    * attribute (codegen string hash against a tiny broadcast).
    */
  private[sources] val metaPathOf =
    udf { (s: String) =>
      new Path(FsListing.norm(s)).toUri.toString }

  /** Anti-filter a parquet-backed frame against per-file deletion
    * vectors: tag each row with its file + row position (parquet's
    * `_metadata` constant columns — exactly the hook Delta's DV reads
    * use), broadcast-join the manifest's (file → dv) rows, and drop the
    * positions the DV marks. No-op (plan untouched, zero overhead) when
    * the manifest has no `dv` column — the common never-DV-deleted
    * table. Files without a DV entry miss the join → null dv →
    * `dv_contains` is total-false → every row kept, no null guard.
    */
  private[sources] def applyDv(df: DataFrame, mkM: () => DataFrame,
      spill: Option[(String, Long)] = None): DataFrame =
    applyDvOn(df, mkM, col("_metadata.file_path"), col("_metadata.row_index"),
      spill)

  /** `df`'s rows still live at version `v`: [[applyDv]] with v's dv
    * rows, the spill keyed by v. PINNED to the caller's planned version:
    * the spill is immutable once written, so an unpinned resolver racing
    * a rival commit would materialize the RIVAL's dv rows under v's key
    * and serve them to every later reader of v. `hasDv` false — the
    * plan-time manifest carries no dv column, which a rival commit could
    * only change by failing the caller's version check — skips the
    * resolver.
    */
  private def liveAt(df: DataFrame, dataDir: String, v: Long,
      hasDv: Boolean = true): DataFrame =
    if (!hasDv) df
    else applyDv(df, () => manifestFrameAt(df.sparkSession, dataDir, v),
      spill = Some((dataDir, v)))

  /** A manifest entry's live rows: `n_rows - n_del`. */
  private def liveRows(m: DataFrame): Column =
    col("n_rows") - (if (m.columns.contains(DvDelCol))
      coalesce(col(DvDelCol), lit(0L)) else lit(0L))

  /** [[applyDv]] core with caller-supplied position columns — for
    * frames that already materialized `_metadata` into named columns
    * (metadata attributes don't survive a join, so a pipeline that
    * needs them downstream must capture them on the raw scan first).
    *
    * The dv rows MATERIALIZE EAGERLY into a LocalRelation (driver-side
    * rows, metadata-sized — exactly what the broadcast would collect at
    * execution anyway). `mkM` is a RESOLVER of the manifest the dv rows
    * come from. Zero live DVs → the frame is returned untouched.
    */
  /** SIZE GATE for the dv broadcast: per-file DVs are bounded by
    * `maxDvFraction` (4 B/deleted row), but nothing bounds the NUMBER
    * of DV-carrying files — 10⁵ lightly-deleted files would make the
    * LocalRelation collect + broadcast multi-GB driver state. Above
    * this many estimated bytes (Σ n_del × 4 + per-file overhead, one
    * column-pruned metadata agg that never reads a dv binary), the dv
    * rows SPILL to an immutable parquet keyed by (incarnation, version)
    * under the table (`_dv_spill/v{N}_<token>` — underscore-prefixed:
    * invisible to data listings/coverage) and the read joins it
    * shuffle-side instead of broadcasting; the spill is written once
    * per version and reused, and [[vacuum]] reaps spills of unretained
    * versions. PER-SESSION conf (`graft.dv.broadcastMaxBytes`) — a
    * JVM-global mutable field would race two sessions sharing the
    * process with different needs; specs override the conf to force
    * the fallback at toy scale.
    */
  private[graft] val DvBroadcastMaxBytesKey = "graft.dv.broadcastMaxBytes"
  private[graft] def dvBroadcastMaxBytes(spark: SparkSession): Long =
    spark.conf.get(DvBroadcastMaxBytesKey, (64L << 20).toString).toLong

  private def dvSpillDir(dataDir: String, token: String, v: Long): String =
    s"$dataDir/_dv_spill/v${v}_$token"

  /** Version `v`'s dv spill dir under the table's current incarnation. */
  private[graft] def dvSpillDir(spark: SparkSession, dataDir: String,
      v: Long): String =
    dvSpillDir(dataDir, versionsOf(spark, dataDir).token, v)

  /** Materialize version `v`'s dv rows to the spill parquet if not
    * already there; idempotent and concurrency-safe. The rows and an
    * explicit `_GRAFT_SPILL_OK` completion marker land in a private tmp
    * dir that is then renamed PUT-IF-ABSENT into place, so a published
    * spill is complete, and the loser of a race between two readers
    * drops its tmp and reuses the winner's (identical) spill.
    */
  private def ensureDvSpill(spark: SparkSession, dataDir: String,
      token: String, v: Long, mkM: () => DataFrame): String = {
    val dir = new Path(dvSpillDir(dataDir, token, v))
    val hfs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val done = new Path(dir, "_GRAFT_SPILL_OK")
    if (!hfs.exists(done)) {
      val tmp = new Path(s"$dataDir/_dv_spill/.tmp_v${v}_${uuid8()}")
      mkM().filter(col(DvCol).isNotNull)
        .select(metaPathOf(col("file")).as("__graft_dv_file"),
          col(DvCol).as("__graft_dv"))
        .write.mode("overwrite").parquet(tmp.toString)
      hfs.create(new Path(tmp, done.getName), true).close()
      if (!renameIfAbsent(hfs, tmp, dir)) hfs.delete(tmp, true)
      require(hfs.exists(done), s"dv spill publish incomplete under $dir")
    }
    dir.toString
  }

  /** Size-estimate memo for the gate below, keyed (table, incarnation
    * token, version): the dv state of a committed version never
    * changes, so repeated DV-reads of one version (the dominant pattern —
    * every split read, pruned read, and CDF side of a version runs the
    * gate) pay the metadata agg once. Cap-and-clear like every planner
    * memo here.
    */
  private val dvEstMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), java.lang.Long]()

  private def applyDvOn(df: DataFrame, mkM: () => DataFrame,
      fileCol: Column, idxCol: Column,
      spill: Option[(String, Long)] = None): DataFrame = {
    val spark = df.sparkSession
    // gate FIRST, with a column-pruned metadata agg (n_del + a file
    // count — dv binaries unread), so an over-threshold dv set is never
    // collected to the driver at all; memoized per (table, incarnation,
    // version) so the gate adds no per-read job on repeated reads
    def estOnce(): Long = {
      val m = mkM()
      if (!m.columns.contains(DvCol)) 0L
      else {
        val r = m.filter(col(DvCol).isNotNull)
          .agg(sum(coalesce(col(DvDelCol), lit(0L))).as("nd"),
            count(lit(1)).as("nf")).head()
        if (r.isNullAt(1) || r.getLong(1) == 0L) 0L
        else r.getLong(0) * 4L + r.getLong(1) * 64L
      }
    }
    val spillAt = spill.map { case (dataDir, v) =>
      (dataDir, versionsOf(spark, dataDir).token, v) }
    val est = spillAt match {
      case Some((dataDir, token, v)) =>
        val key = (FsListing.norm(dataDir), token, v)
        val hit = dvEstMemo.get(key)
        if (hit != null) hit.longValue()
        else {
          val e = estOnce()
          if (dvEstMemo.size >= 256) dvEstMemo.clear()
          dvEstMemo.put(key, e)
          e
        }
      case None => estOnce()
    }
    if (est == 0L) return df
    graft.functions.DvContains.register(spark)
    val overCap = est > dvBroadcastMaxBytes(spark)
    val dvSide: (DataFrame, Boolean) = spillAt match {
      case Some((dataDir, token, v)) if overCap =>
        // shuffle-side fallback: the dv table reads from the immutable
        // version-keyed spill — executor-side bytes, zero driver
        // collect — and the join builds its hash side from it
        // (shuffle_hash hint: the dv side is always the small side
        // relative to the data rows being filtered; only DV-carrying
        // files' rows reach this join at all, per the split read)
        (spark.read.parquet(ensureDvSpill(spark, dataDir, token, v, mkM))
          .hint("shuffle_hash"), false)
      case _ =>
        // in-bounds (or no spill context): eager LocalRelation — the
        // rows a broadcast would collect at execution anyway
        val rows = mkM().filter(col(DvCol).isNotNull)
          .select(metaPathOf(col("file")).as("__graft_dv_file"),
            col(DvCol).as("__graft_dv"))
          .collect()
        (spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          StructType(Seq(
            StructField("__graft_dv_file", StringType, nullable = false),
            StructField("__graft_dv", BinaryType, nullable = false)))), true)
    }
    val joined = df.withColumn("__graft_dv_file", fileCol)
      .withColumn("__graft_dv_idx", idxCol)
    (if (dvSide._2)
      joined.join(broadcast(dvSide._1), Seq("__graft_dv_file"), "left")
    else joined.join(dvSide._1, Seq("__graft_dv_file"), "left"))
      .filter(!expr("dv_contains(__graft_dv, __graft_dv_idx)"))
      .drop("__graft_dv_file", "__graft_dv_idx", "__graft_dv")
  }

  /** Scan exactly `kept` with per-file DVs applied, SPLIT by side:
    * files without a DV read on the plain fast path; only DV-carrying
    * files pay the position join — same cost shape as
    * [[ManifestFileIndex.read]]'s split. One extra metadata-sized
    * collect (the dv file list) on DV tables; zero change otherwise.
    *
    * `pinnedV` is the version the CALLER planned `kept` from — the dv
    * file set and the dv rows both resolve at that same version. Un-pinned
    * this served a MIXED snapshot: version-N kept files anti-filtered
    * by version-N+1 DVs, the isolation hole [[ManifestFileIndex.read]]'s
    * split explicitly pins v0 to prevent.
    */
  private def readKeptDv(spark: SparkSession, dataDir: String,
      kept: Seq[String], pinnedV: Long): DataFrame = {
    val mf = manifestFrameAt(spark, dataDir, pinnedV)
    val dvFiles =
      if (!mf.columns.contains(DvCol)) Set.empty[String]
      else mf.filter(col(DvCol).isNotNull)
        .select(ManifestFileIndex.normPath(col("file")))
        .collect().map(_.getString(0)).toSet
    val (withDv, plain) = kept.partition(dvFiles)
    if (withDv.isEmpty) readKept(spark, dataDir, plain)
    else {
      val dvd = liveAt(readKept(spark, dataDir, withDv), dataDir, pinnedV)
      if (plain.isEmpty) dvd
      else readKept(spark, dataDir, plain).unionByName(dvd)
    }
  }

  /** The manifest columns [[fileStats]] writes for `cols`/`bloomCols`. */
  private def statsColumns(cols: Seq[String], bloomCols: Seq[String]): Seq[String] =
    Seq("file", "n_rows") ++ cols.flatMap(c => Seq(s"min_$c", s"max_$c")) ++
      bloomCols.map(c => s"bloom_$c")

  /** Align fresh per-file stats to an existing manifest's column set:
    * a just-written file carries no deletion vector (`dv` NULL,
    * `n_del` 0). Shared by every surgery that unions carried manifest
    * entries with [[statsForFiles]] output.
    */
  private def alignStats(stats: DataFrame, target: Seq[String]): DataFrame =
    stats.select(target.map {
      case DvCol if !stats.columns.contains(DvCol) =>
        lit(null).cast(BinaryType).as(DvCol)
      case DvDelCol if !stats.columns.contains(DvDelCol) => lit(0L).as(DvDelCol)
      case c => col(c)
    }.toIndexedSeq: _*)

  /** Does the CURRENT manifest carry any live deletion vector? The
    * rebuild guard: [[build]]/[[buildWithBloom]] re-stat raw files and
    * would silently RESURRECT DV-deleted rows — they fail loud instead
    * (purge first). One tiny manifest job, only on rebuild paths.
    */
  private def hasLiveDv(spark: SparkSession, dataDir: String): Boolean =
    currentVersionOf(spark, dataDir) > 0 && {
      val m = manifestFrame(spark, dataDir)
      m.columns.contains(DvCol) &&
        m.filter(col(DvCol).isNotNull).limit(1).count() > 0
    }

  /** Range DELETE via DELETION VECTORS — the row-level form of
    * [[deleteRange]] (Delta's deletion vectors / Iceberg's positional
    * deletes): instead of rewriting every intersecting file, mark the
    * matched ROW POSITIONS deleted in a per-file DV carried by the
    * manifest. The write cost is one COLUMN-PRUNED scan of the
    * intersecting files (just `c` + the metadata position — no
    * full-width read, NO data-file write at all) plus a manifest commit,
    * so deleting a sliver from a table of GB-sized files costs
    * metadata, not I/O proportional to file width. Readers anti-filter
    * positions via [[applyDv]] on every path (current, as-of, pruned,
    * point-lookup, CDF), and the bytes physically leave disk at
    * [[purgeDv]]/rewrite + [[vacuum]] — the same two-phase purge
    * contract as the rewrite form.
    *
    * HYBRID threshold (what production formats do): a file whose
    * cumulative deleted fraction would exceed `maxDvFraction` is
    * REWRITTEN instead (reading it pays mostly-dead rows forever, and
    * an unbounded DV defeats the metadata-sized story) — both shapes
    * can land in one call, atomically in one version. DVs merge across
    * calls (union of positions); a second delete of an already-dead row
    * is idempotent. MVCC/OCC protocol identical to [[deleteRange]].
    *
    * Returns (files DV-marked, files rewritten, files untouched).
    */
  def deleteRangeDV(spark: SparkSession, dataDir: String, c: String,
      lo: Column, hi: Column, cols: Seq[String],
      bloomCols: Seq[String] = Nil, expectedPerFile: Long = 65536L,
      fpp: Double = 0.01, maxDvFraction: Double = 0.5): (Int, Int, Int) = {
    requireFlatTable(spark, dataDir, "deleteRangeDV")
    val (m, plannedV) = currentManifest(spark, dataDir)
    require(m.columns.contains(s"min_$c") && m.columns.contains(s"max_$c"),
      s"deleteRangeDV needs tracked bounds for $c under $dataDir")
    // candidates by bounds — same soundness rule as deleteRange
    val candidate = !coalesce(
      col(s"max_$c") < lo || col(s"min_$c") > hi, lit(false))
    deleteDvCore(spark, dataDir, m, plannedV, candidate,
      scanCols = Seq(c),
      matchRows = _.filter(col(c) >= lo && col(c) <= hi),
      // NULL never satisfies a range predicate — NULL-c rows survive: a
      // bare !(between) evaluates to NULL for them and the filter would
      // silently delete every NULL row in a rewritten file
      keepRows = _.filter(col(c).isNull || !(col(c) >= lo && col(c) <= hi)),
      cols, bloomCols, expectedPerFile, fpp, maxDvFraction)
  }

  /** Keyed DELETE via DELETION VECTORS — the right-to-be-forgotten verb
    * in its production shape (a batch of record ids to erase): mark the
    * matched rows' positions in per-file DVs, planning candidates
    * through the same bounds + bloom key probes [[mergeKeys]] uses
    * (binary-searched key slices per file), so a spread key batch
    * against a huge table opens only the files that might hold a key.
    * Hybrid threshold, merge-across-calls, idempotence, and read-side
    * application are all [[deleteRangeDV]]'s.
    *
    * The batch is a `Seq[Long]`, a `Seq[String]` or a DataFrame with a
    * `key` column ([[KeyBatch]]); its key type must probe the table's
    * (integral with integral, string with string — see
    * [[requireKeyTypes]]). Duplicates are collapsed, a NULL key fails
    * loud (it matches no row), a key present nowhere deletes nothing. A
    * batch of at most `maxCollectedKeys` distinct keys takes the precise
    * per-key bounds + bloom candidate path on the driver (a frame
    * collects once, cap+1 rows decide the path AND below the cap already
    * ARE the key set). A larger batch never lands on the driver — the
    * NULL guard runs as an aggregate, candidates fall back to global-
    * bounds overlap (a batch past the cap is dense over its range, and
    * zero-match candidates are carried untouched by the count pass), and
    * matched positions / rewrite survivors become exact key JOINS.
    *
    * On a HIVE-PARTITIONED tree (read from the manifest paths) the DV
    * marks stay metadata-only and over-threshold rewrites stage as ONE
    * dynamic-partition job into their own partition dirs, publishing
    * as ONE manifest version (same contract as [[optimizePartitioned]]);
    * erasing BY the partition column fails loud toward the
    * directory-drop path. Returns (files DV-marked, files rewritten,
    * files untouched).
    */
  def deleteKeysDV(spark: SparkSession, dataDir: String, key: String,
      keys: KeyBatch, cols: Seq[String],
      bloomCols: Seq[String] = Nil, expectedPerFile: Long = 65536L,
      fpp: Double = 0.01, maxDvFraction: Double = 0.5,
      maxCollectedKeys: Int = 100000): (Int, Int, Int) = {
    val verb = "deleteKeysDV"
    def erase(m: DataFrame, plannedV: Long, plan: KeyPlan): (Int, Int, Int) =
      deleteDvCore(spark, dataDir, m, plannedV, plan.candidate,
        scanCols = Seq(key),
        matchRows = plan.matchRows,
        keepRows = plan.keepRows,
        cols, bloomCols, expectedPerFile, fpp, maxDvFraction)
    keys match {
      case lits: LiteralKeys if lits.values.size <= maxCollectedKeys =>
        requireLiterals(verb, lits)
        val (m, plannedV) = currentManifest(spark, dataDir)
        requireKeyTypes(verb, key, lits.dataType,
          resolveColumnType(spark, dataDir, key, verb), dataDir)
        erase(m, plannedV, literalPlan(m, key, lits))
      case _ =>
        val frame = keys match {
          case KeyBatch.Frame(df) => df
          case lits: LiteralKeys => lits.toFrame(spark, key)
        }
        require(frame.columns.contains(key),
          s"$verb: key frame has no column '$key' (has: " +
            s"${frame.columns.mkString(", ")})")
        val keyDt = frame.schema(key).dataType
        requireKeyTypes(verb, key, keyDt,
          resolveColumnType(spark, dataDir, key, verb), dataDir)
        val strKey = keyDt == StringType
        val nullMsg = s"$verb: NULL key in batch — a NULL key matches no row"
        // PERSISTED for the whole verb: the probe, the guards, and the
        // matcher joins must all see ONE evaluation of the caller's key
        // query — a re-evaluated non-deterministic query (or one racing a
        // concurrent append to its source) would erase file A's positions
        // against a different key set than file B's survivors, a silent
        // partial right-to-be-forgotten erase (see uncappedPlan)
        val kDistinct = frame
          .select((if (strKey) col(key) else col(key).cast("long")).as("k"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // measured-size decision, one job in the common case (mergeKeys'
          // cap-probe pattern)
          val capped = kDistinct.limit(maxCollectedKeys + 1).collect()
          require(capped.nonEmpty, s"$verb with no keys")
          require(!capped.exists(_.isNullAt(0)), nullMsg)
          if (capped.length <= maxCollectedKeys)
            deleteKeysDV(spark, dataDir, key, literalsOf(capped, strKey), cols,
              bloomCols, expectedPerFile, fpp, maxDvFraction, maxCollectedKeys)
          else {
            // UNCAPPED: aggregate-only guard + global key bounds from one
            // job (which also materializes the persisted key set in full)
            // — zero driver-resident key state however large the batch
            val st = kDistinct.agg(
              sum(when(col("k").isNull, lit(1L)).otherwise(lit(0L))).as("nulls"),
              min("k").as("kmin"), max("k").as("kmax")).head()
            require(st.getLong(0) == 0L, nullMsg)
            val (m, plannedV) = currentManifest(spark, dataDir)
            erase(m, plannedV, uncappedPlan(m, key, strKey,
              kDistinct.select(col("k").as(key)), st.get(1), st.get(2)))
          }
        } finally kDistinct.unpersist(false)
    }
  }

  /** The shared DV-delete engine behind [[deleteRangeDV]] and
    * [[deleteKeysDV]]: plan candidates via `candidate` (a boolean over
    * MANIFEST rows), find matched row positions via `matchRows` (keeps
    * exactly the MATCHED data rows, reading only `scanCols` — a
    * predicate filter for driver-sized key sets, a key semi-join for
    * uncapped batches), split by the dead-fraction threshold, write DVs
    * for the light side and rewrite the heavy side (`keepRows` keeps a
    * rewrite file's live rows — the complement filter, or an anti-join),
    * and commit both shapes atomically as one MVCC version under the
    * usual OCC protocol. matchRows/keepRows MUST be exact complements
    * over non-null match columns (an approximate matcher would mark
    * wrong positions dead); both may be invoked more than once, each
    * time on a fresh scan. Returns (dv files, rewritten files,
    * untouched files).
    */
  private def deleteDvCore(spark: SparkSession, dataDir: String,
      m: DataFrame, plannedV: Long, candidate: Column, scanCols: Seq[String],
      matchRows: DataFrame => DataFrame,
      keepRows: DataFrame => DataFrame, cols: Seq[String],
      bloomCols: Seq[String], expectedPerFile: Long, fpp: Double,
      maxDvFraction: Double,
      appendDf: Option[DataFrame] = None,
      op: String = "dv-delete"): (Int, Int, Int) = {
    require(maxDvFraction > 0 && maxDvFraction <= 1,
      s"maxDvFraction must be in (0, 1], got $maxDvFraction")
    val hasDvCols = m.columns.contains(DvCol)
    // ONE metadata job for plan + tally: candidate flag evaluated in the
    // same collect that brings back per-file counts (a separate
    // carried-count job is pure scheduling overhead per surgery)
    val allMeta = labeled(spark, s"graft: $op plan") {
      m.select(
        ManifestFileIndex.normPath(col("file")).as("f"),
        col("n_rows"),
        (if (hasDvCols) coalesce(col(DvDelCol), lit(0L)) else lit(0L)).as("nd0"),
        // NULL proves nothing → CANDIDATE (examined, at worst a wasted
        // scan — the sound direction; callers' predicates are non-null
        // by construction today)
        coalesce(candidate, lit(true)).as("c"))
        .collect()
    }.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // partition layout (names of the hive `k=v` dir levels) from the
    // already-collected manifest paths — zero extra I/O; Nil is a flat
    // table. Candidate planning, the matched-position passes and the
    // DV/manifest shapes are partition-agnostic (bounds/bloom sidecars
    // are per-FILE, DV writes are metadata); only the REWRITE/APPEND
    // staging must keep the partition encoding directory-only, which
    // the dynamic-partition staged write below does. An EMPTY manifest
    // shows no layout, so only then the root listing decides: a tree
    // must not take root-level files. The key/scan columns must be
    // PHYSICAL: erasing BY the partition column is a directory drop, not
    // a row surgery (same guard as deleteRangePartitioned), and a
    // partition-column matchPred would rewrite every file of the matched
    // dirs for nothing.
    val partCols: Seq[String] =
      if (allMeta.isEmpty) { requireFlatTable(spark, dataDir, op); Nil }
      else {
        val pc = partitionColsOf(rootQOf(fsOf(spark, dataDir), dataDir),
          allMeta.map(_._1).toSeq, op)
        scanCols.find(pc.contains).foreach { c =>
          throw new IllegalArgumentException(
            s"$op column '$c' is a PARTITION column under $dataDir — " +
              "drop the matching partition directories and refresh " +
              "instead of a row-level surgery")
        }
        pc
      }
    val candMeta = allMeta.filter(_._4).map(t => (t._1, t._2, t._3)).sortBy(_._1)
    val nCarriedBounds = allMeta.length - candMeta.length
    // pure-delete with no candidates: no version bump (an appendDf —
    // the merge-on-read shape — must still commit its insert-only batch)
    if (candMeta.isEmpty && appendDf.isEmpty) return (0, 0, nCarriedBounds)
    val candPaths = candMeta.map(_._1)

    // PASS 1 — per-file matched count, column-pruned (scanCols + the
    // metadata position only — no full-width read). Rows a prior DV
    // already killed must not count toward this delete (idempotence):
    // DV-filter first, on positions captured from the raw scan.
    def matchedRows(paths: Seq[String]): DataFrame = {
      // "f" stays the RAW `_metadata.file_path` — no per-row UDF; keys
      // normalize at per-FILE granularity (driver-side for counts,
      // manifest-side via metaPathOf for the dv join)
      val tagged = spark.read.option("basePath", dataDir)
        .parquet(paths.toIndexedSeq: _*)
        .select(col("_metadata.file_path").as("f") +:
          col("_metadata.row_index").as("i") +:
          scanCols.map(col): _*)
      // a dv-less plan-time manifest proves no positions to anti-filter;
      // the resolver is pinned to plannedV, as in [[liveAt]]
      matchRows(
        if (hasDvCols)
          applyDvOn(tagged, () => manifestFrameAt(spark, dataDir, plannedV),
            col("f"), col("i"), spill = Some((dataDir, plannedV)))
        else tagged)
    }
    val counts =
      if (candPaths.isEmpty) Map.empty[String, Long]
      else labeled(spark, s"graft: $op matched-count") {
        matchedRows(candPaths.toIndexedSeq)
          .groupBy("f").agg(count(lit(1)).as("nd"))
          .collect()
      }.map(r => (FsListing.norm(r.getString(0)), r.getLong(1))).toMap
    // split: files whose CUMULATIVE dead fraction stays under the
    // threshold get a DV; the rest rewrite (a fully-matched file always
    // rewrites — to zero survivors, i.e. drops from the version)
    val split = candMeta.filter(f => counts.contains(f._1)).partition {
      case (f, nRows, nd0) =>
        (nd0 + counts(f)).toDouble <= maxDvFraction * nRows
    }
    val dvSet = split._1.map(_._1).toSet
    val rwSet = split._2.map(_._1).toSet
    val zeroMatch = candMeta.map(_._1).filterNot(counts.contains) // carried as-is
    // nothing matched anywhere and nothing to append: no version bump
    if (counts.isEmpty && appendDf.isEmpty)
      return (0, 0, nCarriedBounds + zeroMatch.size)
    // dv columns enter the manifest only when a vector is actually
    // written — a pure-insert merge on a DV-less table must not push
    // every future read onto the split path for nothing
    val targetCols =
      if (hasDvCols || dvSet.nonEmpty)
        (if (hasDvCols) m.columns.toSeq
         else m.columns.toSeq ++ Seq(DvCol, DvDelCol))
      else m.columns.toSeq

    // PASS 2 — positions for DV-eligible files only (bounded by the
    // threshold: collect_list per file holds <= maxDvFraction*n_rows
    // ints, never a fully-matched file's whole index space)
    val serDv = udf { (ps: Seq[Long]) => DeletionVectors.serialize(ps.toArray) }
    val mergeDv = udf { (a: Array[Byte], b: Array[Byte]) =>
      DeletionVectors.merge(a, b) }
    val newDvs =
      if (dvSet.isEmpty) null
      else matchedRows(dvSet.toSeq.sorted)
        .groupBy("f")
        .agg(serDv(sort_array(collect_list(col("i")))).as("__dv_new"),
          count(lit(1)).as("__nd_new"))

    // one staged write carries BOTH publish shapes: rewrite survivors
    // (live rows of over-threshold files) and the merge-on-read append
    // batch — they land as one version's fresh files
    val rwPaths = rwSet.toSeq.sorted
    val rewriteSurvivors =
      if (rwPaths.isEmpty) None
      else Some(keepRows(liveAt(spark.read.option("basePath", dataDir)
        .parquet(rwPaths.toIndexedSeq: _*), dataDir, plannedV, hasDvCols)))
    val staged = (rewriteSurvivors, appendDf) match {
      case (Some(s), Some(a)) => Some(s.unionByName(a))
      case (s, a) => s.orElse(a)
    }
    commitStaged(spark, dataDir, plannedV, op, allMeta.length.toLong,
        s"${dataDir}_stg") { stg =>
      // ONE staging job either way. Partitioned: a dynamic-partition
      // write — the basePath read above resolved the partition columns
      // as data columns, and partitionBy moves them back to directories,
      // so the encoding stays directory-only in the staged files; every
      // touched partition stages in this single job (no per-partition
      // job loop), and rewrite tasks are file-aligned so output files
      // land in their own partition dir.
      staged.foreach { df =>
        labeled(spark, s"graft: $op stage") {
          if (partCols.nonEmpty)
            df.write.partitionBy(partCols: _*).parquet(stg.toString)
          else df.write.parquet(stg.toString)
        }
      }
      requireTracked(spark, op, dataDir, m.columns.toSeq, cols, bloomCols, stg)
    } { moved =>
      // new manifest: carried entries (non-candidates + zero-match
      // candidates) byte-for-byte, DV-updated entries with merged
      // vectors, fresh stats for rewritten output
      val mAligned = alignStats(m, targetCols)
      val fNorm = ManifestFileIndex.normPath(col("file"))
      val carriedOut = mAligned
        .filter(!fNorm.isin((dvSet ++ rwSet).toSeq: _*))
      val withDvs =
        if (newDvs == null) carriedOut
        else carriedOut.unionByName(
          mAligned.filter(fNorm.isin(dvSet.toSeq: _*))
            .join(newDvs, metaPathOf(col("file")) === col("f"), "inner")
            .withColumn(DvCol, mergeDv(col(DvCol), col("__dv_new")))
            .withColumn(DvDelCol,
              coalesce(col(DvDelCol), lit(0L)) + col("__nd_new"))
            .drop("f", "__dv_new", "__nd_new")
            .select(targetCols.map(col).toIndexedSeq: _*))
      withFresh(spark, dataDir, withDvs, moved, cols, bloomCols,
        expectedPerFile, fpp)
    }
    (dvSet.size, rwSet.size, nCarriedBounds + zeroMatch.size)
  }

  /** MATERIALIZE deletion vectors (Delta's `REORG TABLE ... APPLY
    * (PURGE)`): rewrite every DV-carrying file with its dead rows
    * dropped and publish a version whose manifest has NO `dv` columns —
    * reads return to the zero-overhead fast path, and the deleted bytes
    * leave disk once [[vacuum]] retention reaps the pre-purge files.
    * Logical content is unchanged: [[changesBetween]] across a purge
    * nets to zero rows. Returns the number of files rewritten.
    */
  def purgeDv(spark: SparkSession, dataDir: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil, expectedPerFile: Long = 65536L,
      fpp: Double = 0.01): Int = {
    requireFlatTable(spark, dataDir, "purgeDv")
    val (m, plannedV) = currentManifest(spark, dataDir)
    if (!m.columns.contains(DvCol)) return 0
    // one metadata collect serves BOTH the dv file list and the entry
    // tally the sharded manifest write sizes itself by
    val allFlags = m.select(ManifestFileIndex.normPath(col("file")).as("f"),
        col(DvCol).isNotNull.as("d"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    val dvPaths = allFlags.filter(_._2).map(_._1).sorted
    val bareCols = m.columns.toSeq.filterNot(c => c == DvCol || c == DvDelCol)
    commitStaged(spark, dataDir, plannedV, "purge",
        (allFlags.length - dvPaths.length).toLong, s"${dataDir}_stg") { stg =>
      if (dvPaths.nonEmpty)
        liveAt(spark.read.option("basePath", dataDir)
          .parquet(dvPaths.toIndexedSeq: _*), dataDir, plannedV)
          .write.parquet(stg.toString)
      requireTracked(spark, "purge", dataDir, bareCols, cols, bloomCols, stg)
    } { moved =>
      withFresh(spark, dataDir, m.filter(col(DvCol).isNull)
        .select(bareCols.map(col).toIndexedSeq: _*), moved, cols, bloomCols,
        expectedPerFile, fpp)
    }
    dvPaths.length
  }

  /** Range DELETE with FILE-LEVEL SURGERY (the Delta/Iceberg DELETE
    * shape — also the retention/right-to-be-forgotten verb a
    * training-data table needs): delete every row with `c` in
    * `[lo, hi]` by rewriting ONLY the files whose manifest `[min, max]`
    * bounds intersect the range (files with unknown bounds are
    * conservatively rewritten). Untouched files are CARRIED BY
    * REFERENCE — their manifest entries, per-file stats and bloom
    * binaries ride into the new version byte-for-byte, so the cost is
    * O(intersecting files), never a table rewrite. Publishes as a new MVCC
    * version: the pre-delete snapshot stays readable through
    * [[readAsOf]] until [[vacuum]]'s retention reaps it — which is when
    * the deleted bytes actually leave disk (the compliance purge point,
    * exactly Delta's VACUUM contract).
    *
    * Returns (files rewritten, files carried).
    */
  def deleteRange(spark: SparkSession, dataDir: String, c: String,
      lo: Column, hi: Column, cols: Seq[String],
      bloomCols: Seq[String] = Nil, expectedPerFile: Long = 65536L,
      fpp: Double = 0.01): (Int, Int) = {
    requireFlatTable(spark, dataDir, "deleteRange")
    // optimistic token: plan + staging run OUTSIDE the lock (long Spark
    // jobs must not serialize rival readers/writers); the locked commit
    // validates the version is still the one this plan read
    val (m, plannedV) = currentManifest(spark, dataDir)
    require(m.columns.contains(s"min_$c") && m.columns.contains(s"max_$c"),
      s"deleteRange needs tracked bounds for $c under $dataDir")
    // a file is a rewrite candidate unless its bounds PROVE disjointness
    // (NULL bounds prove nothing → candidate) — the same soundness rule
    // as read-side pruning, pointed the other way
    val disjoint = coalesce(
      col(s"max_$c") < lo || col(s"min_$c") > hi, lit(false))
    // ONE metadata job for plan + tally (flag evaluated in the same
    // collect; a separate carried-count job is pure scheduling overhead)
    val flags = labeled(spark, "graft: deleteRange plan") {
      m.select(ManifestFileIndex.normPath(col("file")).as("f"),
        disjoint.as("d")).collect()
    }.map(r => (r.getString(0), r.getBoolean(1)))
    val candPaths = flags.filter(!_._2).map(_._1).sorted
    val nCarried = flags.count(_._2)
    if (candPaths.isEmpty) return (0, nCarried)
    // DV'd rows must not resurrect. NULL-c rows SURVIVE: a NULL never
    // satisfies the range predicate (the same rule that makes read-side
    // bound pruning sound), but a bare !(between) evaluates to NULL for
    // them and the filter would silently delete every NULL row in a
    // rewritten file
    val survivors = liveAt(spark.read.option("basePath", dataDir)
      .parquet(candPaths.toIndexedSeq: _*), dataDir, plannedV,
      m.columns.contains(DvCol))
      .filter(col(c).isNull || !(col(c) >= lo && col(c) <= hi))
    commitStaged(spark, dataDir, plannedV, "delete", flags.length.toLong,
        s"${dataDir}_stg") { stg =>
      labeled(spark, "graft: deleteRange stage") {
        survivors.write.parquet(stg.toString) // reads the CURRENT files: untouched
      }
      requireTracked(spark, "delete", dataDir, m.columns.toSeq, cols,
        bloomCols, stg)
    } { moved =>
      // `m.filter(disjoint)` reads the version this commit supersedes —
      // written once, so it stays readable while the new one is written
      withFresh(spark, dataDir, m.filter(disjoint), moved, cols,
        bloomCols, expectedPerFile, fpp)
    }
    (candPaths.length, nCarried)
  }

  /** MERGE-ON-READ keyed upsert (Delta's DV-backed MERGE / Iceberg's
    * merge-on-read mode): instead of REWRITING every file that might
    * hold a matched key ([[mergeKeys]]'s copy-on-write shape), mark the
    * matched rows' old versions dead in per-file DELETION VECTORS and
    * append the whole update batch as fresh file(s) — one column-pruned
    * scan of the candidate files plus a batch-sized write, however wide
    * the table's rows. Both land atomically as one MVCC version; files
    * whose dead fraction would cross `maxDvFraction` rewrite instead
    * (same hybrid as [[deleteRangeDV]]). The read-side contract is
    * identical to mergeKeys' output — matched keys have exactly their
    * new row, inserts appear once — because every read path
    * anti-filters the DVs.
    *
    * Same preconditions as mergeKeys (integral or string key, no
    * NULL/duplicate keys in the batch, schema equality via
    * unionByName), and the batch key's type must probe the table's
    * (see [[requireKeyTypes]]). The table's layout comes from the
    * manifest-anchored file the schema check already reads. On a
    * HIVE-PARTITIONED tree the
    * batch must carry the partition column(s) as data columns — the
    * staged append re-encodes them directory-side via a dynamic-partition
    * write, so each upserted row lands in its key's partition dir and the
    * partition column never flattens into file data. A matched key whose
    * update row carries a DIFFERENT partition value than the old row
    * MOVES partitions — the old row dies in its old dir, the new row
    * lands in the new dir, in one commit, so readers never see the row
    * doubled or missing.
    *
    * A batch larger than `maxCollectedKeys`: on a flat table it falls
    * back to [[mergeKeys]]'s bounds-only copy-on-write path (a batch that
    * dense rewrites most candidates anyway); on a tree (no flat CoW
    * there) it stays UNCAPPED — the guards run as aggregates, candidates
    * fall back to global-bounds overlap, and matched positions / rewrite
    * survivors become exact key JOINS, zero driver-resident key state.
    * Returns (files DV-marked, files rewritten, files untouched); the
    * appended batch files ride in whichever version commits.
    */
  def mergeKeysDV(spark: SparkSession, dataDir: String, updates: DataFrame,
      key: String, cols: Seq[String], bloomCols: Seq[String] = Nil,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01,
      maxDvFraction: Double = 0.5,
      maxCollectedKeys: Int = 100000): (Int, Int, Int) = {
    val keyDt = updates.schema(key).dataType
    val strKey = keyDt == StringType
    val keysOpt = mergeBatchKeys(spark, "mergeKeysDV", updates, key,
      maxCollectedKeys)
    val bigBatch = keysOpt.isEmpty
    // the table's physical schema and layout from ONE manifest-anchored
    // file — a driver-side probe, no Spark job per commit. A merged row
    // must cover the anchor's columns plus, on a partitioned tree, the
    // directory-encoded partition columns (an update batch missing those
    // couldn't be routed to a partition dir at all)
    val (anchorSchema, partCols) =
      firstManifestFilePath(spark, dataDir).map { a =>
        (spark.read.parquet(a).schema, partitionColsOf(
          rootQOf(fsOf(spark, dataDir), dataDir), Seq(a), "mergeKeysDV"))
      }.getOrElse((new StructType(), Nil))
    val anchorCols = anchorSchema.fieldNames.toSet
    // the same anchor types the table key: a batch key in the other
    // encoding would probe the bloom sidecar with the wrong hashes and
    // miss the file holding a matched key (a key that is a partition
    // column is not in the file; deleteDvCore refuses it)
    anchorSchema.find(_.name == key).foreach { f =>
      requireKeyTypes("mergeKeysDV", key, keyDt, f.dataType, dataDir) }
    if (bigBatch && partCols.isEmpty) {
      // flat fallback: the CoW verb has its own uncapped bounds-only
      // path, and a batch this dense rewrites most candidates anyway
      val (rw, car) = mergeKeys(spark, dataDir, updates, key, cols,
        bloomCols, expectedPerFile, fpp, maxCollectedKeys)
      return (0, rw, car)
    }
    // UNCAPPED partitioned batch (the GDPR/CDC sweep at 100 TB carries
    // millions of keys): guards run as AGGREGATES and the global key
    // bounds come back from the same job — ZERO driver-resident key
    // state, mirroring mergeKeys' measured-count fallback
    val bigBounds: Option[(Any, Any)] =
      if (bigBatch) Some(mergeBatchBounds("mergeKeysDV", updates, key))
      else None
    val (m, plannedV) = currentManifest(spark, dataDir)
    // the batch appends VERBATIM on the common no-rewrite path, so the
    // unionByName schema check mergeKeys gets for free must run here
    // explicitly: a batch MISSING table columns would land rows whose
    // missing fields read as NULL — silent corruption where the CoW twin
    // fails loud. Extra batch columns are allowed (schema evolution).
    val missing = (anchorCols ++ partCols).diff(updates.columns.toSet)
    require(missing.isEmpty,
      s"mergeKeysDV: update batch lacks table column(s) " +
        s"${missing.mkString(", ")} — merged keys would silently read " +
        "NULL for them; align the batch schema (unionByName semantics)")
    val (plan, persistedKeys) = bigBounds match {
      case Some((kmin, kmax)) =>
        // key column PERSISTED and materialized ONCE — the matcher pair
        // runs on several independent scans and must see one key set
        // even when `updates` is an expensive or non-deterministic query
        // (see uncappedPlan). `updates` itself stays lazy for the
        // append, same determinism contract as mergeKeys' CoW survivors.
        val kcol = updates.select(col(key)).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        kcol.count()
        (uncappedPlan(m, key, strKey, kcol, kmin, kmax), Some(kcol))
      case None => (literalPlan(m, key, keysOpt.get), None)
    }
    try deleteDvCore(spark, dataDir, m, plannedV, plan.candidate,
      scanCols = Seq(key),
      matchRows = plan.matchRows,
      keepRows = plan.keepRows,
      cols, bloomCols, expectedPerFile, fpp, maxDvFraction,
      appendDf = Some(updates), op = "merge-dv")
    finally persistedKeys.foreach(_.unpersist(false))
  }

  /** The TRACKED TYPE of column `c` under `dataDir`: from the manifest's
    * `min_<c>` bounds when present (exact — the bound carries the
    * column's own type), else ONE manifest-anchored footer — never a
    * raw-directory inference, which lists every retained leftover and
    * may anchor a pre-evolution file. Shared by every keyed verb and
    * bloom probe whose ENCODING must match the sidecar's build encoding
    * (putLong vs putString): probing a string-built bloom with long
    * hashes would silently false-negative files out of the kept set —
    * the one failure mode bloom semantics must never allow — so callers
    * fail loud on a type mismatch instead.
    *
    * A column absent from the anchor's PHYSICAL schema that names one of
    * its hive partition dir levels fails with the directory-drop
    * guidance instead of "missing column": a keyed verb on a partitioned
    * tree routes "erase BY the partition column" here with zero extra I/O
    * (the anchor path is already in hand). A partition column whose
    * bounds ARE tracked resolves a type here and is caught by
    * [[deleteDvCore]]'s scanCols-vs-partCols guard instead — loud either
    * way.
    */
  private def resolveColumnType(spark: SparkSession, dataDir: String,
      c: String, verb: String): DataType = {
    val mf = manifestFrame(spark, dataDir)
    mf.schema.find(_.name == s"min_$c").map(_.dataType).getOrElse {
      // driver-side single-entry probe — no Spark job per resolution
      val anchor = firstManifestFilePath(spark, dataDir)
        .getOrElse(throw new IllegalArgumentException(
          s"$verb: empty manifest under $dataDir"))
      val sch = spark.read.parquet(anchor).schema
      if (!sch.fieldNames.contains(c)) {
        val rel = relPartitionDir(rootQOf(fsOf(spark, dataDir), dataDir), anchor)
        val isPartCol = rel.nonEmpty &&
          rel.split('/').exists(_.takeWhile(_ != '=') == c)
        if (isPartCol) throw new IllegalArgumentException(
          s"$verb column '$c' is a PARTITION column under $dataDir — " +
            "drop the matching partition directories and refresh " +
            "instead of a row-level surgery")
        throw new IllegalArgumentException(
          s"requirement failed: $verb column '$c' not in table schema " +
            s"under $dataDir (anchored on $anchor)")
      }
      sch(c).dataType
    }
  }

  /** Candidate-file predicate over MANIFEST rows for a SORTED DISTINCT
    * long key array — shared by [[mergeKeys]] and [[deleteKeysDV]].
    * PRE-FILTER BY BOUNDS INTERSECTION before any per-file probe: (a) a
    * pure-column test against the batch's global [kmin, kmax] — And
    * short-circuits, so a file whose bounds prove disjointness never
    * pays the bloom UDF (deserialize + probes); (b) inside the probe,
    * BINARY SEARCH restricts the key set to the slice inside that
    * file's own bounds — O(log keys + keys-in-file-range) per file
    * instead of keyArr.exists over the whole batch, which on a
    * range-laid-out tree (each file covering a sliver of the key space)
    * turns candidate selection O(files × keys). Sound: unknown
    * bounds/sidecars keep the file.
    */
  private def keyCandidate(m: DataFrame, key: String,
      keyArr: Array[Long]): Column = {
    val (kmin, kmax) = (keyArr.head, keyArr.last)
    val hasBounds = m.columns.contains(s"min_$key")
    val hasBloom = m.columns.contains(s"bloom_$key")
    val boundsPre: Column =
      if (hasBounds)
        coalesce(!(col(s"max_$key").cast("long") < kmin ||
          col(s"min_$key").cast("long") > kmax), lit(true))
      else lit(true)
    // [from, until) of sorted keyArr inside [mn, mx]; keys are distinct
    // (callers dedup/guard first), so a binarySearch hit is unique
    def keySlice(mn: Long, mx: Long): (Int, Int) = {
      val i = java.util.Arrays.binarySearch(keyArr, mn)
      val from = if (i >= 0) i else -i - 1
      val j = java.util.Arrays.binarySearch(keyArr, mx)
      val until = if (j >= 0) j + 1 else -j - 1
      (from, until)
    }
    val bloomProbe = udf {
      (bytes: Array[Byte], mn: java.lang.Long, mx: java.lang.Long) =>
        bytes == null || {
          // unknown bounds → probe every key (sound); known bounds →
          // only the slice they admit; an empty slice means the bounds
          // already prove no key matches — skip without even
          // deserializing the filter
          val (from, until) =
            if (mn == null || mx == null) (0, keyArr.length)
            else keySlice(mn, mx)
          from < until && {
            val bf = org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes))
            var i = from
            var hit = false
            while (i < until && !hit) {
              hit = bf.mightContainLong(keyArr(i)); i += 1
            }
            hit
          }
        }
    }
    val boundsProbe = udf { (mn: java.lang.Long, mx: java.lang.Long) =>
      mn == null || mx == null || {
        val (from, until) = keySlice(mn, mx)
        from < until
      }
    }
    if (hasBloom)
      boundsPre && bloomProbe(col(s"bloom_$key"),
        (if (hasBounds) col(s"min_$key") else lit(null)).cast("long"),
        (if (hasBounds) col(s"max_$key") else lit(null)).cast("long"))
    else if (hasBounds)
      boundsPre &&
        boundsProbe(col(s"min_$key").cast("long"), col(s"max_$key").cast("long"))
    else lit(true)
  }

  /** [[keyCandidate]] for STRING keys — same bounds-prefilter +
    * bounds-sliced bloom probe, in the string key space. ORDERING is
    * the one soundness trap: the per-file slice binary-searches the
    * sorted key array against the file's min/max bounds, and those
    * bounds come from Spark's min/max agg, which ranks strings by
    * UTF-8 BINARY order (UTF8String) — NOT Java's UTF-16 code-unit
    * order (they disagree beyond the BMP: U+FFFF sorts above U+10000
    * in UTF-16, below it in UTF-8). Every comparison here — the sort
    * the caller must apply ([[utf8Ordering]]) and the slice search —
    * uses UTF8String, so a supplementary-plane key can never be
    * sliced out of a file whose bounds admit it (StringKeySpec pins
    * exactly that pair). The bounds PRE-filter runs as a Catalyst
    * expression on the manifest frame — Catalyst's own string order,
    * trivially consistent.
    */
  private def keyCandidateStr(m: DataFrame, key: String,
      keyArr: Array[String]): Column = {
    val (kmin, kmax) = (keyArr.head, keyArr.last)
    val hasBounds = m.columns.contains(s"min_$key")
    val hasBloom = m.columns.contains(s"bloom_$key")
    val boundsPre: Column =
      if (hasBounds)
        coalesce(!(col(s"max_$key") < lit(kmin) ||
          col(s"min_$key") > lit(kmax)), lit(true))
      else lit(true)
    // ONE definition of the string order ([[utf8Ordering]] — the same
    // Ordering the caller sorted keyArr with), so the slice search can
    // never diverge from the sort. LOCAL copy: referencing the object
    // member inside the UDF closure would capture the (non-serializable)
    // enclosing object; the Ordering value itself is a captureless
    // serializable lambda.
    val ord = utf8Ordering
    def lowerBound(x: String): Int = {
      var lo = 0; var hi = keyArr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.compare(keyArr(mid), x) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    def upperBound(x: String): Int = {
      var lo = 0; var hi = keyArr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.compare(keyArr(mid), x) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    val bloomProbe = udf { (bytes: Array[Byte], mn: String, mx: String) =>
      bytes == null || {
        val (from, until) =
          if (mn == null || mx == null) (0, keyArr.length)
          else (lowerBound(mn), upperBound(mx))
        from < until && {
          val bf = org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes))
          var i = from
          var hit = false
          while (i < until && !hit) {
            hit = bf.mightContainString(keyArr(i)); i += 1
          }
          hit
        }
      }
    }
    val boundsProbe = udf { (mn: String, mx: String) =>
      mn == null || mx == null || lowerBound(mn) < upperBound(mx)
    }
    if (hasBloom)
      boundsPre && bloomProbe(col(s"bloom_$key"),
        if (hasBounds) col(s"min_$key") else lit(null).cast(StringType),
        if (hasBounds) col(s"max_$key") else lit(null).cast(StringType))
    else if (hasBounds)
      boundsPre && boundsProbe(col(s"min_$key"), col(s"max_$key"))
    else lit(true)
  }

  /** Where a keyed DV verb looks and what it matches there: a
    * candidate predicate over MANIFEST rows, `matchRows` keeping exactly
    * the batch's rows and `keepRows` their exact complement (NULL-key
    * rows survive) — the pair [[deleteDvCore]] requires.
    */
  private final case class KeyPlan(candidate: Column,
      matchRows: DataFrame => DataFrame, keepRows: DataFrame => DataFrame)

  /** The plan for a driver-held batch: per-key bounds + bloom probes
    * ([[keyCandidate]] / [[keyCandidateStr]], each in its key space's
    * order) and InSet matchers.
    */
  private def literalPlan(m: DataFrame, key: String,
      keys: LiteralKeys): KeyPlan = {
    val (candidate, inSet) = keys match {
      case KeyBatch.Longs(ks) =>
        val arr = ks.distinct.sorted.toArray
        (keyCandidate(m, key, arr), arr.toIndexedSeq)
      case KeyBatch.Strings(ks) =>
        val arr = ks.distinct.sorted(utf8Ordering).toArray
        (keyCandidateStr(m, key, arr), arr.toIndexedSeq)
    }
    KeyPlan(candidate, _.filter(col(key).isin(inSet: _*)),
      _.filter(col(key).isNull || !col(key).isin(inSet: _*)))
  }

  /** The plan for a batch past the collect cap. Candidates: a file is
    * one unless its tracked [min,max] provably excludes the whole batch
    * range [kmin,kmax], compared in the key's NATIVE type (the agg
    * min/max arrive as Catalyst values and compare as literals; NULL
    * bounds prove nothing → candidate, the sound direction). Matchers: a
    * key semi-join and its anti-join complement (anti keeps NULL-key
    * rows, the `isNull || !isin` rule of the literal plan). `kcol` MUST
    * be a one-column frame named `key`, PERSISTED AND MATERIALIZED by the
    * caller: the pair runs on several independent scans (count pass, DV
    * position pass, rewrite staging), and an unpersisted
    * non-deterministic key query would re-evaluate per pass — marking
    * file A's dead positions with a different key set than the one file
    * B's survivors were kept against, a silent partial erase.
    */
  private def uncappedPlan(m: DataFrame, key: String, strKey: Boolean,
      kcol: DataFrame, kmin: Any, kmax: Any): KeyPlan = {
    val candidate =
      if (!m.columns.contains(s"min_$key")) lit(true)
      else if (strKey)
        coalesce(!(col(s"max_$key") < lit(kmin.asInstanceOf[String]) ||
          col(s"min_$key") > lit(kmax.asInstanceOf[String])), lit(true))
      else
        coalesce(!(col(s"max_$key").cast("long") < kmin.asInstanceOf[Long] ||
          col(s"min_$key").cast("long") > kmax.asInstanceOf[Long]), lit(true))
    KeyPlan(candidate, _.join(kcol, Seq(key), "left_semi"),
      _.join(kcol, Seq(key), "left_anti"))
  }

  /** A driver-held batch must be non-empty and NULL-free (a NULL key
    * matches no row).
    */
  private def requireLiterals(verb: String, keys: LiteralKeys): Unit = {
    require(keys.values.nonEmpty, s"$verb with no keys")
    require(!keys.values.contains(null),
      s"$verb: NULL key in batch — a NULL key matches no row")
  }

  /** The batch's key type must probe the table key's encoding: integral
    * keys as cast-to-long (value- and order-preserving) against an
    * integral column, string keys against a string column. A probe in
    * the other encoding (putLong vs putString bloom hashes, long vs
    * UTF-8 bounds) would silently false-negative files out of the
    * candidate set, so any other pairing fails loud.
    */
  private def requireKeyTypes(verb: String, key: String, batchDt: DataType,
      tableDt: DataType, dataDir: String): Unit = {
    require(FsListing.isIntegral(batchDt) || batchDt == StringType,
      s"$verb key '$key' is $batchDt — only integral (cast-to-long must " +
        "be value- and order-preserving) or string keys probe")
    val takes =
      if (tableDt == StringType) "pass string keys"
      else if (FsListing.isIntegral(tableDt)) "pass long keys"
      else "only integral or string columns take keys"
    require(
      if (batchDt == StringType) tableDt == StringType
      else FsListing.isIntegral(tableDt),
      s"$verb: batch key type $batchDt does not probe table key type " +
        s"$tableDt of '$key' under $dataDir — bloom/bounds encodings " +
        s"must match; $takes")
  }

  /** Collected one-column key rows as a driver-held batch. */
  private def literalsOf(rows: Array[Row], strKey: Boolean): LiteralKeys =
    if (strKey) KeyBatch.Strings(rows.toIndexedSeq.map(_.getString(0)))
    else KeyBatch.Longs(rows.toIndexedSeq.map(_.getLong(0)))

  /** The batch guards of both MERGE verbs — per-key multiplicity (MERGE
    * replaces exactly one row per key: Delta fails loud on multiple
    * matches, and so do we — an anti-join-then-append would otherwise
    * silently insert BOTH rows of a doubled key) and null keys (match
    * nothing — reject) — plus the measured-size decision, all from ONE
    * EXCHANGE-FREE job: at most cap+2 RAW key rows (executeTake
    * short-circuits the scan, no groupBy shuffle stage — the old grouped
    * probe was two AQE stage-jobs per commit). A complete result (≤ cap+1
    * rows) is the whole key multiset, so every guard derives driver-side
    * and the distinct keys come back; None means the batch is past the
    * cap, and [[mergeBatchBounds]] guards it with an aggregate instead.
    * Integral keys probe as cast-to-long (value- and order-preserving),
    * string keys in their native order/encoding; any other key type
    * (a timestamp whose cast drops micros, a double whose bounds order
    * diverges from its long cast) could false-negative a file out of
    * the rewrite set — the silent lost update Bloom/bounds semantics
    * must never allow — so it fails loud.
    */
  private def mergeBatchKeys(spark: SparkSession, verb: String,
      updates: DataFrame, key: String,
      maxCollectedKeys: Int): Option[LiteralKeys] = {
    val keyDt = updates.schema(key).dataType
    val strKey = keyDt == StringType
    require(FsListing.isIntegral(keyDt) || strKey,
      s"$verb key '$key' is $keyDt — only integral (cast-to-long " +
        "must be value- and order-preserving) or string key columns merge")
    val raw = labeled(spark, s"graft: $verb key-guard") {
      mergeKeyCol(updates, key).limit(maxCollectedKeys + 2).collect()
    }
    require(raw.nonEmpty, s"$verb: empty update batch")
    if (raw.length > maxCollectedKeys + 1) None
    else {
      if (raw.exists(_.isNullAt(0)))
        throw new IllegalArgumentException(nullKeyMsg(verb, key))
      val seen = new java.util.HashSet[Any](raw.length * 2)
      raw.foreach { r =>
        if (!seen.add(r.get(0)))
          throw new IllegalArgumentException(dupKeyMsg(verb, key, r.get(0))) }
      if (seen.size > maxCollectedKeys) None
      else Some(literalsOf(raw, strKey))
    }
  }

  /** The guards of a MERGE batch past the collect cap, as ONE aggregate
    * job that also returns the batch's global key bounds (min, max) —
    * zero driver-resident key state however large the batch.
    */
  private def mergeBatchBounds(verb: String, updates: DataFrame,
      key: String): (Any, Any) = {
    val keyStats = mergeKeyCol(updates, key).groupBy("k")
      .agg(count(lit(1)).as("c"))
    val st = keyStats.agg(max("c").as("maxc"),
      sum(when(col("k").isNull, lit(1L)).otherwise(lit(0L))).as("nulls"),
      min("k").as("kmin"), max("k").as("kmax")).head()
    require(st.getLong(1) == 0L, nullKeyMsg(verb, key))
    if (st.getLong(0) > 1L)
      throw new IllegalArgumentException(dupKeyMsg(verb, key,
        keyStats.filter(col("c") > 1).select("k").head().get(0)))
    (st.get(2), st.get(3))
  }

  /** A MERGE batch's key column as `k`, integral keys cast to long. */
  private def mergeKeyCol(updates: DataFrame, key: String): DataFrame =
    updates.select((if (updates.schema(key).dataType == StringType) col(key)
      else col(key).cast("long")).as("k"))

  private def nullKeyMsg(verb: String, key: String) =
    s"$verb: update batch has NULL '$key' keys — a NULL key " +
      "matches no row and cannot MERGE; filter or fill the batch first"

  private def dupKeyMsg(verb: String, key: String, k: Any) =
    s"$verb: update batch has multiple rows for key $key=$k — " +
      "MERGE replaces exactly one row per matched key; dedup the " +
      "batch (e.g. keep-last by an ordering column) before merging"

  /** Catalyst's string order (UTF-8 binary) as a driver-side Ordering —
    * the sort every string key array MUST use before binary-searching
    * against manifest bounds (see [[keyCandidateStr]]).
    */
  private[sources] val utf8Ordering: Ordering[String] =
    (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Keyed MERGE (upsert) with bloom/bounds-pruned FILE SURGERY — the
    * table-format MERGE verb: rows of `updates` REPLACE same-key rows
    * and insert the rest, rewriting only the files that might hold a
    * matched key. Candidate selection is the skipping stack pointed at
    * a write: a file whose bloom sidecar rejects EVERY update key (no
    * false negatives — skipping is sound), or whose `[min, max]` bounds
    * exclude them all, carries BY REFERENCE with its stats and bloom
    * bytes intact; unknown evidence → conservatively rewritten. The
    * update batch's key set is operationally bounded (a CDC/upsert
    * payload), collected once for the executor-side probes — the same
    * contract as the bloom point-lookup read path. Publishes as an MVCC
    * version: the pre-merge snapshot stays readable until vacuum
    * retention. Integral or string keys (each probes in its native
    * order/encoding — see keyCandidate / keyCandidateStr).
    *
    * Returns (files rewritten, files carried).
    */
  def mergeKeys(spark: SparkSession, dataDir: String, updates: DataFrame,
      key: String, cols: Seq[String], bloomCols: Seq[String] = Nil,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01,
      maxCollectedKeys: Int = 100000): (Int, Int) = {
    val keys = mergeBatchKeys(spark, "mergeKeys", updates, key, maxCollectedKeys)
    requireFlatTable(spark, dataDir, "mergeKeys")
    val (m, plannedV) = currentManifest(spark, dataDir)
    // a driver-held batch probes per key (bounds + bloom slices) and
    // prunes survivors with a predicate instead of a distributed
    // anti-join — the staged write loses its join exchanges entirely
    // (guide §2.4; AQE was scheduling the join as two stage-jobs per
    // commit) and `updates` is computed once (the append arm) instead
    // of twice. MEASURED-COUNT GUARD: above the cap, candidates fall
    // back to the batch's global key range — zero driver key state,
    // still sound (a file disjoint from [kmin, kmax] holds no matched
    // key), and a batch that large is dense over its range anyway, so
    // per-key bloom precision would rescue few files while the probe
    // cost itself turns O(files × keys) — and survivors to the exact key
    // anti-join.
    val plan = keys match {
      case Some(lits) => literalPlan(m, key, lits)
      case None =>
        val (kmin, kmax) = mergeBatchBounds("mergeKeys", updates, key)
        uncappedPlan(m, key, updates.schema(key).dataType == StringType,
          updates.select(col(key)), kmin, kmax)
    }
    // ONE metadata job for plan + tally (same fold as deleteRange)
    val mFlags = labeled(spark, "graft: mergeKeys plan") {
      m.select(ManifestFileIndex.normPath(col("file")).as("f"),
        plan.candidate.as("c")).collect()
    }.map(r => (r.getString(0), r.getBoolean(1)))
    val candPaths = mFlags.filter(_._2).map(_._1).sorted
    val nCarried = mFlags.count(!_._2)
    // DV'd rows must not resurrect; NULL-keyed live rows survive (a NULL
    // key matches no update)
    val survivors =
      if (candPaths.isEmpty) updates
      else plan.keepRows(liveAt(spark.read.option("basePath", dataDir)
        .parquet(candPaths.toIndexedSeq: _*), dataDir, plannedV,
        m.columns.contains(DvCol))).unionByName(updates)
    commitStaged(spark, dataDir, plannedV, "merge", mFlags.length.toLong,
        s"${dataDir}_stg") { stg =>
      labeled(spark, "graft: mergeKeys stage") {
        survivors.write.parquet(stg.toString) // reads the CURRENT files: untouched
      }
      requireTracked(spark, "merge", dataDir, m.columns.toSeq, cols,
        bloomCols, stg)
    } { moved =>
      withFresh(spark, dataDir, m.filter(!plan.candidate), moved, cols,
        bloomCols, expectedPerFile, fpp)
    }
    (candPaths.length, nCarried)
  }

  /** METADATA-ONLY live row count: `Σ n_rows − Σ n_del` over the
    * manifest — the Delta/Iceberg "answer COUNT(*) from the snapshot
    * stats" move, no data page touched however large the table. Runs
    * the same coverage guard as any planned read (a stale manifest
    * must fail loud, not undercount).
    */
  def fastCount(spark: SparkSession, dataDir: String): Long = {
    val (mdf, _, _) = requireCovering(spark, dataDir) // guard + the manifest
    liveCount(mdf)
  }

  private def liveCount(m: DataFrame): Long = {
    val r = m.agg(sum(liveRows(m))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0) // empty snapshot sums NULL
  }

  /** OPTIMIZE (bin-packing compaction) for the MVCC table: read the
    * CURRENT live rows (deletion vectors applied), rewrite them as
    * `ceil(liveRows / targetRowsPerFile)` right-sized files, and
    * publish as one MVCC version — small-file debt and DV debt retire
    * together (the post-optimize manifest carries no dv columns), the
    * pre-optimize snapshot stays readable until vacuum retention, and
    * the change feed across the optimize nets to ZERO rows (physical
    * reorganization is invisible to CDC consumers — the q165/q176
    * contract). For clustering-preserving compaction of a sort layout
    * use [[Staging.compactSorted]]; this verb is the generic
    * OPTIMIZE shape. FLAT TABLES ONLY: the rewrite lands root-level
    * files, so a hive-partitioned tree would migrate its partition
    * column into file data — compact such trees per-partition instead.
    * Returns the number of files written.
    */
  def optimizeTable(spark: SparkSession, dataDir: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil, targetRowsPerFile: Long = 1L << 20,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01): Int = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile=$targetRowsPerFile")
    // PIN the version BEFORE resolving any frame: ManifestFileIndex.read
    // collects its file set and dv rows eagerly at construction, so the
    // OCC token must be captured no later — a rival commit between the
    // frame's resolution and a late token read would make the commit check
    // validate against the RIVAL's version and publish v0-derived content
    // over it (silently reverting the rival's delete/merge). The live
    // count, the read, and publishVia's token all pin to v0; a rival
    // commit anywhere in the window now fails loud as
    // ConcurrentWriteException (withConflictRetry replans).
    val (mdf, _, v0) = requireCovering(spark, dataDir) // fastCount's guard
    val live = liveCount(mdf)
    require(live > 0, s"optimizeTable on empty table $dataDir")
    val nFiles = ((live + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    publishViaUnchecked(
      ManifestFileIndex.read(spark, dataDir, asOf = Some(v0))
        .repartition(nFiles),
      s"${dataDir}_optstg", dataDir, cols, bloomCols, expectedPerFile, fpp,
      opName = "optimize", expectedVersion = Some(v0))
    nFiles
  }

  /** The staged→live move for partition-aware surgeries: every data
    * file under `src`'s partition tree renames into the SAME relative
    * partition dir under the table root (no copy), committer metadata
    * skipped. Returns the moved files' destination paths.
    *
    * CRASH WINDOW: the walk renames one file at a time, so a failure
    * mid-walk (or between the walk and the manifest commit) leaves
    * already-moved files under the live tree unmanifested — the
    * coverage guard then fails EVERY read loud (never silent partials)
    * until [[vacuum]] reaps the orphans, which is the documented
    * recovery path (same shape as a crashed publishVia, with a window
    * widened by O(partition dirs)). The commit itself stays atomic: no
    * reader ever plans from a half-moved file set.
    */
  private def movePartitionTree(hfs: FileSystem,
      src: Path,
      dstDir: Path): Seq[String] = {
    val moved = Seq.newBuilder[String]
    def walk(s: Path,
        d: Path): Unit = {
      if (!hfs.exists(d)) hfs.mkdirs(d)
      hfs.listStatus(s).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath, new Path(d, n))
          else {
            val dst = new Path(d, n)
            require(hfs.rename(st.getPath, dst),
              s"partitioned publish rename failed: ${st.getPath} -> $dst")
            moved += dst.toString
          }
        }
      }
    }
    walk(src, dstDir)
    moved.result()
  }

  /** Bounded-concurrency submitter for per-partition STAGING jobs (the
    * partition-aware surgeries): each partition's staged write is its
    * own Spark job — at 10⁴ partitions a sequential loop pays 10⁴ job-
    * scheduling latencies for work the cluster could overlap, turning a
    * minutes-long I/O into tens of minutes of pure scheduling. Spark's
    * scheduler is thread-safe (concurrent action submission is the
    * documented fair-scheduling pattern), and every structure these
    * jobs share (the dv estimate memo, the spill publish, the UDF
    * registry) is already concurrency-safe, so a small pool submits
    * partitions in parallel; `graft.surgery.maxConcurrentStaging`
    * (default 8) bounds it — enough to hide scheduling latency, small
    * enough that per-job shuffle memory stays bounded. The FIRST
    * failure propagates (its cause, not the ExecutionException wrapper)
    * and cancels the remainder — the caller's staging-dir cleanup and
    * the untouched manifest make a partial stage invisible.
    */
  private[graft] val MaxConcurrentStagingKey =
    "graft.surgery.maxConcurrentStaging"
  private def stageConcurrently[T](spark: SparkSession, items: Seq[T])(
      f: T => Unit): Unit = {
    val maxC = spark.conf.get(MaxConcurrentStagingKey, "8").toInt
    require(maxC >= 1, s"$MaxConcurrentStagingKey=$maxC")
    if (items.size <= 1 || maxC == 1) items.foreach(f)
    else {
      // per-call job group: on failure the surviving IN-FLIGHT staging
      // jobs must be CANCELLED, not just their threads interrupted — a
      // thread interrupt does not stop an already-submitted Spark job,
      // and a job still writing would re-create staging files AFTER the
      // caller's cleanup deleted the staging dir (bytes outside the
      // table root that no vacuum ever reaps)
      val group =
        s"graft_stage_${uuid8()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxC, items.size))
      val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
      try {
        val futs = items.map(it => pool.submit(
          new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              // a QUEUED task starting after the abort must not submit a
              // fresh job — the group cancel only reaches jobs already
              // submitted when it fires
              if (aborted.get()) return
              // the group tag is per-thread state — set it in the worker
              spark.sparkContext.setJobGroup(group,
                "graft partitioned-surgery staging", interruptOnCancel = true)
              // re-check under the tag: a worker that passed the first
              // check while the abort was firing now has its jobs
              // covered by the finally-loop's re-issued group cancel;
              // this check just avoids starting doomed work at all
              try { if (!aborted.get()) f(it) }
              finally spark.sparkContext.clearJobGroup()
            }
          }))
        var firstErr: Throwable = null
        futs.foreach { fu =>
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstErr == null) {
                firstErr = e.getCause
                aborted.set(true)
                spark.sparkContext.cancelJobGroup(group)
              }
          }
        }
        if (firstErr != null) throw firstErr
      } finally {
        pool.shutdownNow()
        // the caller's cleanup deletes the staging dir next — wait for
        // every worker to actually exit. cancelJobGroup is ONE-SHOT: a
        // worker that passed its abort check while the first cancel was
        // firing submits its job AFTER it, and that job would re-create
        // the staging dir post-cleanup (unreapable bytes outside the
        // table root). Re-issue the cancel on every wait tick until the
        // pool drains, so no straggler job can outlive this method. On
        // the success path the first await returns immediately and no
        // cancel is ever issued.
        var waitedMs = 0L
        while (!pool.awaitTermination(
            2, java.util.concurrent.TimeUnit.SECONDS) && waitedMs < 120000L) {
          spark.sparkContext.cancelJobGroup(group)
          waitedMs += 2000L
        }
      }
    }
  }

  /** Relative partition dir of a manifest `file` entry ("" for a
    * root-level file) — the grouping key of the partition-aware verbs.
    */
  private def relPartitionDir(rootQ: String, f: String): String = {
    require(f == rootQ || f.startsWith(rootQ + "/"),
      s"manifest entry outside table root $rootQ: $f")
    val rel = f.stripPrefix(rootQ).stripPrefix("/")
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** The hive partition COLUMN NAMES of a manifest table, derived from
    * its (already collected, metadata-scale) file paths: each `k=v` dir
    * level contributes its `k`, in tree order. Empty for a flat table.
    * Fails loud on a non-hive segment or a layout that differs between
    * files — the partition-aware verbs need ONE consistent column
    * sequence to re-encode staged rewrites with partitionBy.
    */
  private def partitionColsOf(rootQ: String, files: Seq[String],
      verb: String): Seq[String] = {
    require(files.nonEmpty, s"$verb: no manifest entries under $rootQ")
    def colsOf(f: String): Seq[String] = {
      val rel = relPartitionDir(rootQ, f)
      if (rel.isEmpty) Nil
      else rel.split('/').toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0,
          s"$verb: non-hive partition dir segment '$seg' under $rootQ")
        seg.substring(0, i)
      }
    }
    val first = colsOf(files.head)
    files.find(colsOf(_) != first).foreach { f =>
      throw new IllegalArgumentException(
        s"$verb: inconsistent partition layout under $rootQ — " +
          s"${files.head} vs $f")
    }
    first
  }

  /** OPTIMIZE for a HIVE-PARTITIONED manifest table — the partition-
    * aware twin of [[optimizeTable]] (which guards itself FLAT-only,
    * since a root-level rewrite would flatten the partition column into
    * file data). Each partition directory's live rows (DVs applied)
    * rewrite into `ceil(live / targetRowsPerFile)` files INSIDE that
    * directory — read without basePath, so only physical columns land
    * in the files and the partition encoding stays directory-only —
    * and, crucially, ALL partitions stage first and publish under ONE
    * manifest version: single-version atomicity across the whole tree,
    * where a per-partition loop of N optimizeTable calls would be N
    * commits with readers seeing intermediate states. DV debt retires
    * tree-wide (the post-optimize manifest carries no dv columns), the
    * pre-optimize snapshot stays readable until vacuum retention, and
    * the change feed across it nets to zero — same contract as the
    * flat verb, q180. Partitions stage CONCURRENTLY under a bounded
    * pool (`graft.surgery.maxConcurrentStaging`, default 8 — see
    * [[stageConcurrently]]): the job count is still O(partition dirs)
    * but the per-job scheduling latency overlaps instead of summing.
    * Works on flat tables too (one "" partition ≡ optimizeTable).
    * Returns the number of files written.
    */
  def optimizePartitioned(spark: SparkSession, dataDir: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      targetRowsPerFile: Long = 1L << 20,
      expectedPerFile: Long = 65536L, fpp: Double = 0.01): Int = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile=$targetRowsPerFile")
    // staleness guard; pins v0 BEFORE any frame resolution — same OCC
    // discipline as optimizeTable (the eager reads below all resolve at
    // v0, and the commit validates against v0)
    val (m, _, v0) = requireCovering(spark, dataDir)
    val rootQ = rootQOf(fsOf(spark, dataDir), dataDir)
    val meta = m.select(ManifestFileIndex.normPath(col("file")).as("f"),
        liveRows(m).as("nr"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val hasDv = m.columns.contains(DvCol)
    require(meta.nonEmpty, s"optimizePartitioned on empty table $dataDir")
    val byPart = meta.groupBy(t => relPartitionDir(rootQ, t._1)).toSeq.sortBy(_._1)
    val written = new java.util.concurrent.atomic.AtomicInteger(0)
    commitStaged(spark, dataDir, v0, "optimize", 0L, s"${dataDir}_stg") { stg =>
      // partitions stage CONCURRENTLY (bounded pool): the I/O is O(live
      // bytes) either way, but sequential submission pays one job-
      // scheduling latency PER partition dir — linear in tree width —
      // where the pool overlaps them (ScaleSmoke's partitioned_surgery
      // tier measures the wall-time difference at 64 dirs)
      stageConcurrently(spark, byPart) { case (rel, files) =>
        val live = files.map(_._2).sum
        if (live > 0) {
          val n = ((live + targetRowsPerFile - 1) / targetRowsPerFile).toInt
          liveAt(spark.read.parquet(files.map(_._1).toIndexedSeq: _*),
            dataDir, v0, hasDv)
            .repartition(n).write.parquet(
              if (rel.isEmpty) stg.toString else s"$stg/$rel")
          written.addAndGet(n)
        }
      }
    } { moved =>
      require(moved.nonEmpty,
        s"optimizePartitioned produced no data files for $dataDir")
      // fresh stats for the WHOLE new file set (basePath-anchored, so
      // tracked partition columns get real bounds — that is what lets
      // the manifest prune partitions by range later)
      statsForFiles(spark, dataDir, moved, cols, bloomCols,
        expectedPerFile, fpp)
    }
    written.get()
  }

  /** Range DELETE for a HIVE-PARTITIONED manifest table — the
    * partition-aware twin of [[deleteRange]], same stage-all-then-
    * one-commit atomicity as [[optimizePartitioned]]: candidate files
    * (manifest bounds intersecting `[lo, hi]`) rewrite their survivors
    * INTO their own partition directories; untouched files carry by
    * reference byte-for-byte; everything publishes as ONE MVCC version.
    * `c` must be a PHYSICAL file column — deleting by the partition
    * column itself is a directory-level operation (drop the matching
    * `col=value` dirs and refresh), and silently treating it as a row
    * filter would rewrite every file to delete whole partitions. Fails
    * loud in that case. Returns (files rewritten, files carried).
    */
  def deleteRangePartitioned(spark: SparkSession, dataDir: String, c: String,
      lo: Column, hi: Column, cols: Seq[String],
      bloomCols: Seq[String] = Nil, expectedPerFile: Long = 65536L,
      fpp: Double = 0.01): (Int, Int) = {
    val (m, _, v0) = requireCovering(spark, dataDir)
    val rootQ = rootQOf(fsOf(spark, dataDir), dataDir)
    require(m.columns.contains(s"min_$c") && m.columns.contains(s"max_$c"),
      s"deleteRangePartitioned needs tracked bounds for $c under $dataDir")
    val disjoint = coalesce(col(s"max_$c") < lo || col(s"min_$c") > hi,
      lit(false))
    val flags = m.select(ManifestFileIndex.normPath(col("file")).as("f"),
        disjoint.as("d")).collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    val hasDv = m.columns.contains(DvCol)
    val candPaths = flags.filter(!_._2).map(_._1).sorted
    val nCarried = flags.count(_._2)
    if (candPaths.isEmpty) return (0, nCarried)
    // partition-column guard: the predicate column must live in the
    // file bytes, or the survivor filter below would read it from the
    // DIRECTORY and rewrite files only to re-encode whole-partition
    // deletes the cheap dir-drop path should handle
    require(physicalFields(spark, candPaths.head).contains(c),
      s"deleteRangePartitioned column '$c' is a PARTITION column under " +
        s"$dataDir — drop the matching partition directories and refresh " +
        "instead of a row-level rewrite")
    val byPart = candPaths.groupBy(relPartitionDir(rootQ, _)).toSeq.sortBy(_._1)
    val keep = col(c).isNull || !(col(c) >= lo && col(c) <= hi)
    commitStaged(spark, dataDir, v0, "delete", flags.length.toLong,
        s"${dataDir}_stg") { stg =>
      // concurrent staging — see optimizePartitioned
      stageConcurrently(spark, byPart) { case (rel, files) =>
        liveAt(spark.read.parquet(files.toIndexedSeq: _*), dataDir, v0, hasDv)
          .filter(keep).write.parquet(
            if (rel.isEmpty) stg.toString else s"$stg/$rel")
      }
      requireTracked(spark, "delete", dataDir, m.columns.toSeq, cols,
        bloomCols, stg)
    } { moved =>
      withFresh(spark, dataDir, m.filter(disjoint), moved, cols, bloomCols,
        expectedPerFile, fpp)
    }
    (candPaths.length, nCarried)
  }

  /** Manifest-aware orphan-file VACUUM (the remove-orphans verb of the
    * table-format lifecycle, beside write-through / compact / time
    * travel): delete every data file under `dataDir` the live manifest
    * does not reference — the residue of crashed or raced writers whose
    * append landed but whose refresh never committed. Manifest readers
    * ([[ManifestFileIndex]]) never see orphans, but a naive directory
    * read double-counts them and they leak storage forever.
    *
    * Safety contract: runs under the SAME advisory lock as
    * writeThrough/refresh, so an in-flight rival's freshly-landed (not
    * yet manifested) files can never be reaped mid-commit — by the time
    * the lock is held, every committed writer's refresh has run. Refuses
    * to operate without a manifest (everything would be "orphan").
    *
    * Scale contract: the orphan decision is a distributed anti-join of
    * the live listing against the manifest's path column; only the
    * doomed paths are collected — O(orphans) driver bytes, the same
    * distributed-planning rule as [[ManifestFileIndex.listFiles]].
    * Returns the deleted paths, sorted.
    */
  def vacuum(spark: SparkSession, dataDir: String,
      graceMs: Long = 600000L, keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions=$keepVersions: must retain the current version")
    val root = new Path(dataDir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    CommitLock.withLock(hfs, new Path(root, "_manifest.lock")) {
      val vs = listVersions(hfs, dataDir)
      require(vs.current > 0,
        s"no manifest under $dataDir — vacuum without one would reap the whole table")
      import spark.implicits._
      val cutoff = System.currentTimeMillis() - graceMs
      // a file already gone counts as reapable; a LIVE file younger than
      // graceMs is possibly in-flight (see the orphan-sweep note below)
      def pastGrace(p: String): Boolean =
        try hfs.getFileStatus(new Path(p)).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => true }
      // the `file` column of the given versions' manifests as ONE
      // multi-path read (explicit one-column schema: no footer inference)
      def versionFiles(versions: Seq[Long]): DataFrame =
        spark.read.schema(FileOnly)
          .parquet(versions.map(versionDir(dataDir, _)): _*)
      // TIME-TRAVEL retention: the live set is the UNION of the newest
      // `keepVersions` versions; older versions are reaped, making
      // "version not retained" a loud resolution failure in readAsOf
      // rather than a half-missing read. keepVersions = 1 is the classic
      // semantics: live = current manifest only.
      //
      // RESURRECTION GUARD: an expired version's manifest and the data
      // files ONLY IT references must leave disk TOGETHER. Reaping the
      // manifest while graceMs spares its young files would strand them
      // as unreferenced-but-live — the next refresh, no longer seeing
      // them in any version, would re-manifest them as fresh appends,
      // and a pre-surgery file's rows (deleted ranges, stale pre-merge
      // key values) would silently REJOIN the current version. So an
      // expired version is reaped only once every file it exclusively
      // references (not referenced by any retained version or any other
      // still-present expired version) is past the grace cutoff;
      // otherwise it is SPARED this pass — still covering its young
      // files against re-manifesting — and retried next vacuum. The
      // per-version reference sets are collected path strings:
      // O(files-per-version) driver bytes, the listing-sized state any
      // FileIndex already holds, never manifest payload.
      val kept = vs.all.takeRight(keepVersions)
      val expired = vs.all.dropRight(keepVersions)
      val reapedWith = Seq.newBuilder[String]
      if (expired.nonEmpty) {
        // ONE Spark job over every version's manifest, the owning version
        // recovered from each row's source dir
        val byVersion: Map[Long, Set[String]] = versionFiles(vs.all)
          .select(versionOfFile.as("v"),
            ManifestFileIndex.normPath(col("file")).as("f"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (v, rows) => v -> rows.map(_.getString(1)).toSet }
        val retainedRefs =
          kept.flatMap(v => byVersion.getOrElse(v, Set.empty[String])).toSet
        val expiredRefs: Map[Long, Set[String]] =
          expired.map(v => v -> byVersion.getOrElse(v, Set.empty[String])).toMap
        // ONE-PASS reference counting, not a per-version set rebuild
        // (that was O(versions² × files-per-version) driver work on
        // exactly the deep-history tables this file optimizes elsewhere):
        // a file is exclusive to v iff no retained version knows it and
        // v is the only still-present expired manifest referencing it.
        // Reaping v decrements its files' counts, so a file shared with
        // an already-reaped older version re-qualifies at the younger
        // one's turn; sparing v leaves counts intact, so the spared
        // manifest keeps covering its files.
        val refCount = scala.collection.mutable.Map.empty[String, Int]
        expiredRefs.valuesIterator.foreach(_.foreach { p =>
          refCount(p) = refCount.getOrElse(p, 0) + 1 })
        // oldest-first: a file shared between two expired versions stays
        // until the LAST manifest referencing it is itself reapable
        expired.foreach { v =>
          val exclusive = expiredRefs(v)
            .filter(p => !retainedRefs(p) && refCount(p) == 1)
          if (exclusive.forall(pastGrace)) {
            // DATA FILES FIRST, manifest LAST: a crash between the two
            // deletes must leave the safe half. Files-gone-manifest-alive
            // only degrades to the loud readAsOf/mid-scan failure already
            // documented, and the next vacuum reaps the manifest (a
            // missing file counts as pastGrace). The other order strands
            // past-grace files unreferenced-but-live, and the next
            // refresh would re-manifest them — deleted/stale rows
            // silently REJOINING the current version, the exact
            // resurrection this guard exists to prevent.
            exclusive.foreach { p =>
              if (hfs.delete(new Path(p), false)) reapedWith += p
            }
            hfs.delete(new Path(versionDir(dataDir, v)), true)
            expiredRefs(v).foreach(p => refCount(p) -= 1)
          }
        }
      }
      // ORPHAN SWEEP: a live file no still-present version references —
      // retained, or expired-but-SPARED (re-listed after the reaping
      // loop so spared versions keep protecting their files) — is
      // crashed/raced writer residue.
      val manifested = versionFiles(listVersions(hfs, dataDir).all)
        .select(ManifestFileIndex.normPath(col("file")).as("m_file"))
        .distinct()
      val candidates = FsListing.listDataFiles(hfs, root).toDF("live_file")
        .join(manifested, col("live_file") === col("m_file"), "left_anti")
        .collect().map(_.getString(0)).sorted.toSeq
      // retention threshold: the lock only serializes against
      // writeThrough users; refresh()'s contract blesses UNLOCKED data
      // appends followed by a locked refresh, and a vacuum landing in
      // that gap would see the append as orphaned and destroy committed
      // rows. A file younger than `graceMs` is treated as possibly
      // in-flight and spared (the standard remove-orphans retention;
      // size graceMs above the longest append→refresh latency). The
      // stats are O(candidate) driver RPCs — already the doomed set,
      // never the table.
      val orphans = candidates.filter { p =>
        try hfs.getFileStatus(new Path(p)).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => false }
      }
      orphans.foreach(p => hfs.delete(new Path(p), false))
      // DV-SPILL RETENTION: `_dv_spill` parquets are CACHES keyed by
      // (incarnation, version) — ensureDvSpill re-creates them
      // idempotently — so reaping follows manifest retention: every
      // entry that is not a retained version's spill (unretained
      // versions, another incarnation's, abandoned tmp dirs) goes once
      // past grace; a reader mid-scan on one hits the same loud
      // retention race the data files document
      locally {
        val spillRoot = new Path(s"$dataDir/_dv_spill")
        if (hfs.exists(spillRoot)) {
          val keep = kept.map(v =>
            new Path(dvSpillDir(dataDir, vs.token, v)).getName).toSet
          hfs.listStatus(spillRoot).foreach { st =>
            if (!keep(st.getPath.getName) && st.getModificationTime < cutoff)
              hfs.delete(st.getPath, true)
          }
        }
      }
      // drop any cached listings/footers for the pruned tree so a reader
      // planned after the vacuum never references a deleted file
      spark.catalog.refreshByPath(dataDir)
      (orphans ++ reapedWith.result()).sorted
    }
  }

  private def refreshLocked(spark: SparkSession, dataDir: String,
      root: Path, hfs: FileSystem,
      cols: Seq[String], bloomCols: Seq[String], expectedPerFile: Long,
      fpp: Double, versionFloor: Long = 0L): Unit = {
    val vs = listVersions(hfs, dataDir)
    val wantCols = statsColumns(cols, bloomCols).sorted
    if (vs.current == 0L)
      return buildWithBloom(spark, dataDir, cols, bloomCols, expectedPerFile,
        fpp, versionFloor)
    val existing = readVersion(spark, dataDir, vs, vs.current)
    // dv columns are ORTHOGONAL to the tracked-column set: a refresh
    // must carry them (a rebuild re-stats raw files and would resurrect
    // DV-deleted rows — buildWithBloom's own guard fails loud on that)
    val existingCore =
      existing.columns.filterNot(c => c == DvCol || c == DvDelCol)
    if (existingCore.sorted.toSeq != wantCols)
      return buildWithBloom(spark, dataDir, cols, bloomCols, expectedPerFile,
        fpp, versionFloor)

    val live = FsListing.listDataFiles(hfs, root)
    // carried entries stay DISTRIBUTED: a broadcast semi-join against
    // the (path-strings-only) live listing keeps every still-live
    // entry — bounds and bloom binaries never visit the driver. The
    // only rows collected are the NEW paths (anti-join the other way),
    // which is exactly the delta the driver must hand to spark.read.
    import spark.implicits._
    val liveDf = broadcast(live.toDF("live_file"))
    val normFile = ManifestFileIndex.normPath(col("file")).as("m_file")
    val kept = existing.join(liveDf,
      ManifestFileIndex.normPath(existing("file")) === col("live_file"),
      "left_semi")
    // "new" means never-manifested: a file referenced only by RETAINED
    // OLDER versions is a prior snapshot's member (an MVCC publish left
    // it for as-of readers), not a fresh append — re-manifesting it
    // would double-count its rows in the current version. The subtract
    // runs DRIVER-side over path strings (one column-pruned collect of
    // the existing manifest's `file` column — the same paths the driver
    // must hand to spark.read anyway — plus the memoized per-version
    // file sets), so an append on a deep-retention table stops
    // re-reading every older manifest per refresh.
    val existingFiles = labeled(spark, "graft: refresh new-files") {
      existing.select(normFile).collect()
    }.map(_.getString(0)).toSet
    val histSets = historyFileSets(spark, dataDir, vs)
    val newFiles = live
      .filterNot(existingFiles)
      .filterNot(f => histSets.exists(_.contains(f)))
      .sorted
    val merged =
      if (newFiles.isEmpty) kept
      else {
        // basePath keeps partition columns resolvable when the tree is
        // hive-partitioned and a partition column is tracked
        val fresh = statsForFiles(spark, dataDir, newFiles.toSeq,
          cols, bloomCols, expectedPerFile, fpp)
        kept.unionByName(alignStats(fresh, kept.columns.toIndexedSeq))
      }
    // sweep torn tmp dirs from crashed predecessors BEFORE staging ours:
    // we hold the manifest lock, so no rival is mid-write under a
    // different nonce, and underscore-prefixed leftovers are invisible
    // to readers but would otherwise accumulate forever
    hfs.listStatus(root).iterator
      .filter(_.getPath.getName.startsWith("_manifest_tmp_"))
      .foreach(s => hfs.delete(s.getPath, true))
    // `merged` READS the current version's manifest — written once, so
    // it stays readable while the next version is written beside it
    val tmp = tmpManifest(dataDir)
    writeManifest(merged, tmp, live.size.toLong)
    commitVersion(hfs, dataDir, tmp, "refresh", vs.current + 1)
  }

  /** Entries per manifest part file for [[writeManifest]]'s sharding:
    * with inline bloom sidecars at the default expectedPerFile/fpp a
    * manifest row is ~80 KB, so 4096 entries ≈ a 300 MB part — large
    * enough that the common table (≤ 4096 files) keeps the single-part
    * fast path, small enough that a 10⁵-file table's multi-GB manifest
    * never funnels through one write task (or lands as one multi-GB
    * object a reader must fetch serially).
    */
  private[graft] val ManifestEntriesPerPart = 4096L

  /** Land a manifest frame at `tmp` with a part count sized to its
    * (approximate — an upper bound is fine) entry count. Readers glob
    * the manifest dir ([[manifestFrame]]), so the part count is
    * invisible to them; the version/op markers are dir-level files
    * beside the parts either way. Single-part stays `coalesce(1)` (no
    * shuffle); sharded uses `repartition` because upstream frames
    * (carried ∪ fresh unions) may hold fewer partitions than parts and
    * coalesce can only reduce. The part-count ceiling (1024 — publish
    * commits are rename-per-part, so an unbounded count would turn the
    * manifest write into 10⁴ driver RPCs) re-binds entry growth only past
    * `1024 × ManifestEntriesPerPart ≈ 4.2M` files — a table whose
    * MANIFEST is hundreds of GB with default blooms, i.e. planning cost
    * is dominated by content long before part sizing matters again.
    */
  private def writeManifest(df: DataFrame, tmp: Path,
      approxEntries: Long): Unit = {
    val parts = math.max(1L, math.min(1024L,
      (approxEntries + ManifestEntriesPerPart - 1) / ManifestEntriesPerPart))
      .toInt
    labeled(df.sparkSession, "graft: manifest write") {
      (if (parts == 1) df.coalesce(1) else df.repartition(parts))
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Range scan planned through the manifest: read only the files whose
    * `[min_c, max_c]` intersects `[lo, hi]` (unknown bounds kept, never
    * skipped). Returns the pruned-and-filtered frame plus the
    * (kept, total) manifest file counts so callers/specs observe the
    * skip.
    */
  def readPruned(spark: SparkSession, dataDir: String, c: String,
      lo: Column, hi: Column): (DataFrame, Int, Int) =
    readPrunedMulti(spark, dataDir, Seq((c, lo, hi)))

  /** Conjunctive multi-column range scan: a file is kept only when EVERY
    * `(col, lo, hi)` bound intersects its tracked `[min, max]` — the
    * payoff of pairing the manifest with a Z-ORDER layout
    * (LayoutQueries.morton, q88): a z-ordered write gives every file
    * tight bounds on BOTH interleaved dimensions, so a 2-D box query
    * skips at FILE granularity on both — a linearly-sorted layout can
    * only ever skip on its sort dimension (ZorderManifestSpec measures
    * exactly that asymmetry). Unknown bounds still keep the file.
    */
  def readPrunedMulti(spark: SparkSession, dataDir: String,
      bounds: Seq[(String, Column, Column)]): (DataFrame, Int, Int) = {
    require(bounds.nonEmpty, "readPrunedMulti with no bounds")
    // staleness guard; PINS ONE VERSION for the kept-set collect AND the
    // dv resolution readKeptDv performs — un-pinned, a rival commit
    // between the two would mix snapshots (see readKeptDv)
    val (mdf, total, v0) = requireCovering(spark, dataDir)
    // bound test in Spark expression semantics (same coercions the data
    // filter gets), on the tiny manifest frame
    val keepFile = bounds.map { case (c, lo, hi) =>
      col(s"min_$c").isNull || col(s"max_$c").isNull ||
        (col(s"min_$c") <= hi && col(s"max_$c") >= lo)
    }.reduce(_ && _)
    bounds.foreach { case (c, _, _) =>
      require(mdf.columns.contains(s"min_$c") && mdf.columns.contains(s"max_$c"),
        s"manifest under $dataDir has no tracked bounds for '$c' — " +
          s"rebuild with the column in cols")
    }
    val kept = mdf.filter(keepFile)
      .select("file").collect().map(r => norm(r.getString(0))).toSeq
    val rowPred = bounds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _)
    (readKeptDv(spark, dataDir, kept, v0).filter(rowPred),
      kept.size, total)
  }

  /** POINT lookup planned through the Bloom sidecar: open only the files
    * whose filter might contain at least one probe key (a missing/null
    * sidecar cell keeps the file — unknown is never skipped). The
    * membership probes run as a Spark job over the manifest — each
    * executor task deserializes only its partition's sidecars and tests
    * the (driver-sized, closure-captured) key set; the driver sees
    * surviving path strings, never filter binaries (O(kept) driver
    * state; ManifestFileIndexSpec pins the byte bound). The exact `IN`
    * filter behind it removes false positives, so the result is
    * identical to the full scan's. Long keys probe an integral column,
    * string keys a string column; any other pairing fails loud.
    */
  def readPointLookup(spark: SparkSession, dataDir: String, c: String,
      keys: LiteralKeys): (DataFrame, Int, Int) = {
    requireLiterals("readPointLookup", keys)
    // ENCODING GUARD: the sidecar was built with putLong for integral
    // columns and putString for string columns (fileStats) — a probe in
    // the other encoding silently false-negatives files out of the kept
    // set (rows vanish)
    requireKeyTypes("readPointLookup", c, keys.dataType,
      resolveColumnType(spark, dataDir, c, "readPointLookup"), dataDir)
    // mightContain dispatches on the boxed key: mightContainLong for a
    // Long, mightContainString (UTF-8 bytes) for a String
    val keyArr = keys.values.map(_.asInstanceOf[AnyRef]).toArray
    val probe = udf { (bytes: Array[Byte]) =>
      bytes == null || {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        keyArr.exists(bf.mightContain)
      }
    }
    // staleness guard; one pinned version for the bloom probe and the
    // dv resolution
    val (mdf, total, v0) = requireCovering(spark, dataDir)
    require(mdf.columns.contains(s"bloom_$c"),
      s"manifest under $dataDir has no bloom sidecar for '$c' — " +
        s"buildWithBloom(..., bloomCols = Seq(\"$c\")) first")
    val kept = mdf.filter(probe(col(s"bloom_$c")))
      .select(ManifestFileIndex.normPath(col("file")))
      .collect().map(_.getString(0)).toSeq
    val df = readKeptDv(spark, dataDir, kept, v0)
      .filter(col(c).isin(keys.values: _*))
    (df, kept.size, total)
  }


  /** Coverage-guard memo: `dataDir → ((incarnation, version), live-listing
    * fingerprint, manifest row count)`. The guard's verdict is a PURE
    * function of (manifest version, live file set) — the version
    * changes on every commit, and a raw append/delete changes the
    * listing fingerprint (part-file names carry job UUIDs) — so an
    * unchanged pair can skip the probe job outright. Repeated reads of
    * one table (the dominant pattern: every index construction guards)
    * pay one cheap listing instead of a Spark job each.
    */
  private val coveringMemo = new java.util.concurrent.ConcurrentHashMap[
    String, ((String, Long), Long, Int)]()

  /** Per-(table, incarnation token, version) memo of an older version's
    * file-path set. A version dir is written once, so an entry can be
    * served forever, and the token tells a delete-and-rebuild at the
    * same path (which recycles version numbers) from the table it
    * replaced. A stale entry (vacuum reaped the version, or a rebuild
    * orphaned the token) is never LOOKED UP again, so it is dead weight
    * until [[HistFilesMemoMaxPaths]] cap-and-clears. Driver cost is path
    * STRINGS — the same O(files) state the live listing (any
    * FileIndex's contract) already holds.
    */
  private val histFilesMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), Set[String]]()
  private[graft] val HistFilesMemoMaxPaths = 4 * 1024 * 1024
  private val histFilesMemoPaths = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The file sets of the retained versions OLDER than the current one —
    * prior-snapshot members that refresh must not re-manifest and
    * coverage must not flag. Memoized per version; only versions absent
    * from the memo pay a read (ONE multi-path spark read for all of
    * them), so a poll loop stops re-reading the whole retention depth on
    * every coverage probe.
    */
  private def historyFileSets(spark: SparkSession, dataDir: String,
      vs: Versions): Seq[Set[String]] = {
    def key(v: Long) = (FsListing.norm(dataDir), vs.token, v)
    val older = vs.all.dropRight(1)
    val hits = older.flatMap(v => Option(histFilesMemo.get(key(v))).map(v -> _)).toMap
    val missV = older.filterNot(hits.contains)
    val loaded: Map[Long, Set[String]] =
      if (missV.isEmpty) Map.empty
      else labeled(spark, "graft: coverage history load") {
        spark.read.schema(FileOnly)
          .parquet(missV.map(versionDir(dataDir, _)): _*)
          .select(ManifestFileIndex.normPath(col("file")).as("f"),
            versionOfFile.as("_v"))
          .collect()
      }.groupBy(_.getLong(1)).map { case (v, rs) =>
        v -> rs.map(_.getString(0)).toSet
      }
    missV.foreach { v =>
      val s = loaded.getOrElse(v, Set.empty[String])
      if (histFilesMemoPaths.addAndGet(s.size.toLong) > HistFilesMemoMaxPaths) {
        histFilesMemo.clear()
        histFilesMemoPaths.set(s.size.toLong)
      }
      histFilesMemo.put(key(v), s)
    }
    older.map(v => hits.getOrElse(v, loaded.getOrElse(v, Set.empty[String])))
  }

  /** Enforce COVERAGE: every live data file under the directory must be
    * manifested — a file landed after the last build would otherwise be
    * silently absent from every planned query. Fail loud; the writer
    * owes a rebuild. Returns the current manifest frame, its file count
    * and its version — one listing of `_versions` serves the guard and
    * the caller's plan, so both see the same snapshot.
    */
  private[sources] def requireCovering(spark: SparkSession,
      dataDir: String): (DataFrame, Int, Long) = {
    val root = new Path(dataDir)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = listVersions(hfs, dataDir)
    val mdf = readVersion(spark, dataDir, vs, vs.current)
    // RECURSIVE data-file listing (build() reads through
    // spark.read.parquet, which descends into partition subdirs) with
    // metadata excluded and paths canonicalized — shared with the
    // ledger's delta selection, one definition of "data file": FsListing
    val live = FsListing.listDataFiles(hfs, root)
    val fp = (live.size.toLong << 32) |
      (scala.util.hashing.MurmurHash3.orderedHash(live).toLong & 0xffffffffL)
    val at = (vs.token, vs.current)
    val memoKey = rootQOf(hfs, dataDir)
    val hit = coveringMemo.get(memoKey)
    if (hit != null && hit._1 == at && hit._2 == fp)
      return (mdf, hit._3, vs.current)
    // coverage = every live file is CURRENT data or a retained prior
    // snapshot's member (an MVCC publish leaves old files on disk for
    // as-of readers until vacuum retention) — only a file NO retained
    // version knows is a staleness trip. The verdict runs DRIVER-side
    // over path strings (the state this guard already holds: the live
    // listing): one column-pruned collect of the current manifest's
    // `file` column — blooms/bounds never leave executors — plus the
    // per-version sets from [[historyFileSets]]'s memo, so a CDC poll's
    // coverage check is one tiny job, then set membership.
    val curFiles = labeled(spark, "graft: coverage probe") {
      mdf.select(ManifestFileIndex.normPath(col("file"))).collect()
    }.map(_.getString(0))
    val total = curFiles.length
    require(total > 0, s"empty manifest under $dataDir — build() first")
    val known = curFiles.toSet
    val missing0 = live.filterNot(known)
    if (missing0.nonEmpty) {
      val histSets = historyFileSets(spark, dataDir, vs)
      val unknown = missing0.filterNot(f => histSets.exists(_.contains(f)))
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"requirement failed: manifest under $dataDir is stale: " +
            s"${unknown.size} unmanifested files (e.g. ${unknown.head}) — " +
            "rebuild")
    }
    // only PASSING verdicts memoize (a failure must re-probe and re-throw);
    // cap-and-clear bounds a long-lived session over many tables
    if (coveringMemo.size >= 256) coveringMemo.clear()
    coveringMemo.put(memoKey, (at, fp, total))
    (mdf, total, vs.current)
  }

  /** See [[FsListing.norm]] — manifest `file` entries come from
    * `input_file_name()` (percent-encoded URIs) and must both compare
    * against the listing and feed `spark.read` in decoded form.
    */
  private def norm(s: String): String = FsListing.norm(s)

  /** Scan exactly `kept`. basePath pins schema parity with the unpruned
    * read: without it, a leaf-file read under hive-style partition dirs
    * drops the partition columns, so the pruned frame's schema would
    * diverge from the full scan (and from the kept-empty branch).
    */
  private def readKept(spark: SparkSession, dataDir: String,
      kept: Seq[String]): DataFrame =
    if (kept.isEmpty)
      spark.read.parquet(dataDir).filter(lit(false)) // schema-stable empty
    else spark.read.option("basePath", dataDir).parquet(kept: _*)
}

/** Thrown when a write surgery (deleteRange / mergeKeys / publishVia)
  * finds, under the commit lock, that the table is no longer at the
  * manifest version its plan read: a rival writer committed between plan
  * and publish, and publishing the staged output would silently discard
  * that rival's work. The caller's remedy is to re-run the surgery
  * against the current version — the same optimistic
  * conflict-and-retry protocol Delta raises as
  * ConcurrentModificationException.
  */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)
