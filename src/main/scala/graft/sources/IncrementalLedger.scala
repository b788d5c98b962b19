package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-incremental processing over a growing file directory — the
  * BATCH analog of streaming source offsets. A daily 100 TB ingest
  * reprocessing its whole history every run is the operational failure
  * this replaces: a LEDGER records which input files each committed run
  * consumed, so a run reads ONLY unprocessed files, folds their partial
  * aggregate into the persisted state, and commits both atomically.
  *
  * Commit protocol (versioned dirs + last-writer pointer):
  *
  *   ledger/v_N/state.parquet   merged state after run N
  *   ledger/v_N/files.txt       every input file consumed through run N
  *   ledger/LATEST              "N", written by atomic rename, LAST
  *
  * A run reads LATEST → v_N, processes `listing − files.txt`, writes the
  * complete v_{N+1} (overwrite — a torn previous attempt is clobbered),
  * then renames LATEST. A crash ANYWHERE before the rename leaves LATEST
  * at N: the next run re-reads the same delta and overwrites v_{N+1} —
  * at-least-once input, exactly-once STATE, the same shape as
  * [[graft.sinks.IdempotentFileSink]]'s batch-id protocol on the write
  * side. Old versions are pruned to a small keep-window so the ledger
  * doesn't grow with ingest lifetime.
  *
  * The caller supplies the aggregation (files → partial) and the merge
  * (state ⊎ partial → state); both must be MERGEABLE (count/sum/min/max,
  * sketches — anything with an associative combine). The engine owns
  * listing, delta selection, state round-trip, and the commit.
  *
  * `files.txt` grows with TOTAL files ever ingested (one line each) —
  * the same trade-off as Spark's file-stream offset log, whose answer
  * (log compaction) applies here too if a deployment ever outgrows a
  * driver-side read of the list; at one line per landed file that is
  * millions of files away, and the data-plane cost per run stays
  * delta-sized regardless.
  */
object IncrementalLedger {

  /** One committed run: the files this run consumed (empty = no-op run)
    * and the merged state AFTER the run, read back from the committed
    * version so callers observe exactly what durably landed.
    */
  final case class Run(newFiles: Seq[String], state: DataFrame)

  private val KeepVersions = 3

  private def versionDir(ledger: org.apache.hadoop.fs.Path, n: Long) =
    new org.apache.hadoop.fs.Path(ledger, s"v_$n")

  /** COMPLETE = every artifact landed. files.txt is written after the
    * state parquet, so its presence (plus the parquet's _SUCCESS)
    * certifies the version; a torn attempt is missing one of them.
    */
  private def isComplete(fs: org.apache.hadoop.fs.FileSystem,
      ledger: org.apache.hadoop.fs.Path, n: Long): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(versionDir(ledger, n), "files.txt")) &&
      fs.exists(new org.apache.hadoop.fs.Path(versionDir(ledger, n),
        "state.parquet/_SUCCESS"))

  /** The committed versions still on disk, ascending — the TIME-TRAVEL
    * window (bounded by the keep-window prune, so it does not grow with
    * ingest lifetime). Torn attempts are excluded.
    */
  def versions(spark: SparkSession, ledgerDir: String): Seq[Long] = {
    val ledger = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = ledger.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(ledger)) Seq.empty
    else fs.listStatus(ledger).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v_") => n.stripPrefix("v_").toLong }
      .filter(isComplete(fs, ledger, _))
      .toSeq.sorted
  }

  /** TIME TRAVEL: the committed state AS OF `version` — exactly what a
    * reader at that commit observed, because every version dir is
    * immutable once its pointer moves past it (runs only ever write the
    * NEXT version). This is the audit/debug read every snapshot store
    * grows: "what did the aggregate say after Tuesday's run". Fails
    * LOUD on a missing/torn/pruned version rather than silently serving
    * a neighbor.
    */
  def stateAt(spark: SparkSession, ledgerDir: String, version: Long): DataFrame = {
    val ledger = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = ledger.getFileSystem(spark.sessionState.newHadoopConf())
    require(isComplete(fs, ledger, version),
      s"ledger version v_$version under $ledgerDir is missing or incomplete " +
        s"(torn attempt, or pruned past the $KeepVersions-version keep window); " +
        s"available: ${versions(spark, ledgerDir).mkString(", ")}")
    spark.read.parquet(
      new org.apache.hadoop.fs.Path(versionDir(ledger, version), "state.parquet").toString)
  }

  /** MULTI-WRITER contract: the entire run (read pointer → compute →
    * commit) executes under an exclusive [[CommitLock]] on the ledger
    * root, so concurrent `run` calls SERIALIZE — the second writer
    * blocks, then observes the first's commit as its starting pointer
    * and consumes only the delta that remains (usually nothing),
    * instead of both computing v_{N+1} into the same directory and
    * racing the pointer rename. Mutual exclusion rather than
    * optimistic retry because the version dir is the commit artifact:
    * two writers building `v_{N+1}` concurrently would interleave
    * parquet part-files into one directory — torn state no pointer
    * protocol can repair. A writer that dies mid-run leaves a lock
    * rivals break after `staleMs` (sized generously: the lock spans the
    * aggregation job, not just the rename); its torn version dir is
    * clobbered by the next run's overwrite, the existing crash story.
    * MultiWriterSpec races two threads and pins exactly-once input
    * consumption and a consistent final state.
    */
  def run(
      spark: SparkSession,
      inputDir: String,
      ledgerDir: String,
      aggregate: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      lockWaitMs: Long = 600000L,
      lockStaleMs: Long = 3600000L): Run = {
    val hconf = spark.sessionState.newHadoopConf()
    val ledger = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = ledger.getFileSystem(hconf)
    CommitLock.withLock(fs, new org.apache.hadoop.fs.Path(ledger, ".lock"),
      waitMs = lockWaitMs, staleMs = lockStaleMs) {
      runLocked(spark, inputDir, ledger, fs, aggregate, merge)
    }
  }

  private def runLocked(
      spark: SparkSession,
      inputDir: String,
      ledger: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem,
      aggregate: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Run = {
    val hconf = spark.sessionState.newHadoopConf()

    def readSmall(p: org.apache.hadoop.fs.Path): String = {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }
    def writeSmall(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    val latestPath = new org.apache.hadoop.fs.Path(ledger, "LATEST")
    def vdir(n: Long) = versionDir(ledger, n)
    def complete(n: Long): Boolean = isComplete(fs, ledger, n)
    val current: Option[Long] =
      if (fs.exists(latestPath)) Some(readSmall(latestPath).trim.toLong)
      else if (!fs.exists(ledger)) None
      else {
        // LOST POINTER (crash inside the delete+rename window): recover
        // by RE-POINTING to the highest complete version instead of
        // rebuilding from the listing — a rebuild would silently
        // undercount any input file consumed by earlier runs but since
        // archived from inputDir, and the state it rebuilt would then
        // clobber the only durable copy of the good one. A complete
        // version that was never pointed (crash after files.txt, before
        // rename) is exactly what its run would have committed, so
        // re-pointing to it is correct too.
        val recovered = fs.listStatus(ledger).iterator
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("v_") => n.stripPrefix("v_").toLong }
          .toSeq.sorted.reverse.find(complete)
        recovered.foreach { n =>
          val tmp = new org.apache.hadoop.fs.Path(ledger, s".LATEST.recover.tmp")
          writeSmall(tmp, n.toString)
          if (!fs.rename(tmp, latestPath))
            throw new java.io.IOException(s"ledger pointer recovery failed for v_$n")
        }
        recovered
      }

    // entries normalized through FsListing.norm at read time: ledgers
    // written before the canonical-path change stored percent-encoded
    // URIs — norm is idempotent across both forms, so an existing
    // ledger's consumed set still matches the new listing (a format
    // flip without the normalize would reclassify EVERY consumed file
    // as fresh delta and double-count the whole history)
    val processed: Set[String] = current match {
      case Some(n) =>
        readSmall(new org.apache.hadoop.fs.Path(vdir(n), "files.txt"))
          .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
          .map(FsListing.norm).toSet
      case None => Set.empty
    }

    // data files only, listed RECURSIVELY with metadata excluded and
    // paths canonicalized — FsListing, the SAME definition the manifest's
    // build and vacuum use. Canonical (decoded) form is also what
    // spark.read needs: it treats path strings literally, so a
    // percent-encoded %20 from a URI-keyed listing would be read as a
    // literal "%20" directory and wedge the ledger on any input tree
    // containing a URI-special character.
    val inRoot = new org.apache.hadoop.fs.Path(inputDir)
    val inFs = inRoot.getFileSystem(hconf)
    val listing = FsListing.listDataFiles(inFs, inRoot)
    val delta = listing.filterNot(processed)

    val next = current.getOrElse(-1L) + 1
    require(delta.nonEmpty || current.isDefined,
      s"first ledger run over $inputDir found no input files")
    if (delta.isEmpty && current.isDefined) {
      // no-op run: nothing consumed, state is the committed one
      return Run(Nil, spark.read.parquet(
        new org.apache.hadoop.fs.Path(vdir(current.get), "state.parquet").toString))
    }

    val partial = aggregate(spark.read.parquet(delta: _*))
    val merged = current match {
      case Some(n) => merge(spark.read.parquet(
        new org.apache.hadoop.fs.Path(vdir(n), "state.parquet").toString), partial)
      case None => partial
    }

    // write the COMPLETE next version (overwrite clobbers any torn
    // attempt from a crashed predecessor), then commit via rename
    val nd = vdir(next)
    merged.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(nd, "state.parquet").toString)
    writeSmall(new org.apache.hadoop.fs.Path(nd, "files.txt"),
      (processed ++ delta).toSeq.sorted.mkString("\n"))
    val tmp = new org.apache.hadoop.fs.Path(ledger, s".LATEST.$next.tmp")
    writeSmall(tmp, next.toString)
    // delete+rename because rename-onto-existing fails on local/HDFS
    // semantics. A crash INSIDE this two-call window leaves no LATEST;
    // the next run RECOVERS by re-pointing to the highest complete
    // version (see `current` above) — no recompute, no loss
    fs.delete(latestPath, false)
    if (!fs.rename(tmp, latestPath))
      throw new java.io.IOException(s"ledger commit rename failed for v_$next")

    // Cleanup runs strictly AFTER the commit rename, so a crash at any
    // earlier point leaves the previously committed version intact and
    // recoverable (re-pointable by hand even after a lost pointer —
    // sweeping orphans BEFORE the replacement lands would destroy the
    // only copy of the last good state during the recompute window).
    if (current.isEmpty) {
      // fresh start: sweep orphaned version dirs from a previous
      // incarnation (the counter restarted; stale high-numbered dirs
      // would otherwise linger), keeping only the version just committed
      fs.listStatus(ledger).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_") &&
          s.getPath.getName != nd.getName)
        .foreach(s => fs.delete(s.getPath, true))
    } else {
      // steady state: walk down from the version falling out of the keep
      // window until a gap — O(1) amortized, and SELF-HEALING: a run
      // killed between rename and prune leaves one extra dir that the
      // next run's walk removes (delete returns false on a non-existent
      // path, ending the walk)
      var o = next - KeepVersions
      while (o >= 0 && fs.delete(vdir(o), true)) o -= 1
    }

    Run(delta, spark.read.parquet(
      new org.apache.hadoop.fs.Path(nd, "state.parquet").toString))
  }
}
