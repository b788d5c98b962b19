package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ChangeFeedTail, FileManifest}

/** The decoupled CDF consumer behind q173: an independent reader
  * tailing the MVCC version chain with a durable cursor — NOT inside
  * the writer's foreachBatch. Pins the cursor protocol (no-op poll,
  * multi-commit gap in one feed, at-least-once on apply failure,
  * crash-window recovery from the tmp backup), snapshot retention, the
  * loud failure when the consumer lags past vacuum retention, and a
  * REAL two-thread writer/consumer race converging to the from-scratch
  * aggregate.
  */
class ChangeFeedTailSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/cft_$tag"
    val p = new Path(dir)
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (hfs.exists(p)) hfs.delete(p, true)
    dir
  }

  /** The canonical consumer: version-keyed grouped-view snapshots
    * (count + key-sum per group) maintained from signed deltas.
    */
  private def applyToView(root: String)(
      feed: DataFrame, fromV: Long, toV: Long): Unit = {
    val delta = feed.select(col("g"),
        when(col("change_type") === "insert", lit(1L))
          .otherwise(lit(-1L)).as("sgn"), col("k"))
      .groupBy("g")
      .agg(sum("sgn").as("n"), sum(col("sgn") * col("k")).as("key_sum"))
    spark.read.parquet(s"$root/mv/v$fromV")
      .unionByName(delta)
      .groupBy("g").agg(sum("n").as("n"), sum("key_sum").as("key_sum"))
      .filter(col("n") > 0)
      .write.mode("overwrite").parquet(s"$root/mv/v$toV")
    ChangeFeedTail.pruneSnapshots(spark, s"$root/mv", "v", keep = 3)
  }

  private def seedTable(root: String, n: Long): String = {
    import spark.implicits._
    val table = s"$root/table"
    FileManifest.writeThrough(
      (1L to n).map(k => (k, k % 7)).toDF("k", "g")
        .repartitionByRange(4, col("k")),
      table, Seq("k"), bloomCols = Seq("k"), mode = "overwrite")
    FileManifest.readAsOf(spark, table, 1L)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("k").as("key_sum"))
      .write.mode("overwrite").parquet(s"$root/mv/v1")
    ChangeFeedTail.init(spark, s"$root/cursor", 1L)
    table
  }

  private def viewOf(root: String): Map[Long, (Long, Long)] = {
    val v = ChangeFeedTail.cursor(spark, s"$root/cursor").get
    spark.read.parquet(s"$root/mv/v$v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  private def fromScratch(table: String): Map[Long, (Long, Long)] =
    graft.sources.ManifestFileIndex.read(spark, table)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("k").as("key_sum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("poll consumes a multi-commit gap in one feed; no-op poll is None") {
    import spark.implicits._
    val root = freshDir("gap")
    val table = seedTable(root, 200L)
    // caught up: no feed, no cursor movement
    assert(ChangeFeedTail.poll(spark, table, s"$root/cursor")(
      (_, _, _) => fail("apply must not run when caught up")).isEmpty)
    // two commits land BEFORE the consumer wakes
    FileManifest.mergeKeys(spark, table,
      Seq((5L, 100L), (501L, 100L)).toDF("k", "g"), "k", Seq("k"),
      bloomCols = Seq("k"))
    FileManifest.mergeKeys(spark, table,
      Seq((6L, 100L)).toDF("k", "g"), "k", Seq("k"), bloomCols = Seq("k"))
    val r = ChangeFeedTail.poll(spark, table, s"$root/cursor")(applyToView(root))
    assert(r === Some((1L, 3L)), "one poll spans both commits")
    assert(ChangeFeedTail.cursor(spark, s"$root/cursor") === Some(3L))
    assert(viewOf(root) === fromScratch(table))
  }

  test("at-least-once: a failed apply leaves the cursor; replay converges") {
    import spark.implicits._
    val root = freshDir("alo")
    val table = seedTable(root, 100L)
    FileManifest.mergeKeys(spark, table, Seq((3L, 50L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    // apply crashes AFTER materializing its side effect (the worst case:
    // output landed, cursor didn't) — the snapshot is version-keyed, so
    // the redelivery overwrites it with identical content
    intercept[RuntimeException] {
      ChangeFeedTail.poll(spark, table, s"$root/cursor") { (f, from, to) =>
        applyToView(root)(f, from, to)
        throw new RuntimeException("crash between apply and cursor commit")
      }
    }
    assert(ChangeFeedTail.cursor(spark, s"$root/cursor") === Some(1L),
      "cursor must not advance past a failed apply")
    assert(ChangeFeedTail.poll(spark, table, s"$root/cursor")(
      applyToView(root)) === Some((1L, 2L)))
    assert(viewOf(root) === fromScratch(table))
  }

  test("a torn cursor commit recovers from the newest backup") {
    import spark.implicits._
    val root = freshDir("torn")
    val table = seedTable(root, 50L)
    FileManifest.mergeKeys(spark, table, Seq((2L, 9L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    ChangeFeedTail.drain(spark, table, s"$root/cursor")(applyToView(root))
    // simulate a crash inside delete+rename: cursor file gone, the
    // completed cursor.v2 tmp still present
    val dir = new Path(s"$root/cursor")
    val hfs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(dir, "cursor.v2")
    val out = hfs.create(tmp, true)
    out.write("2".getBytes); out.close()
    hfs.delete(new Path(dir, "cursor"), false)
    assert(ChangeFeedTail.cursor(spark, s"$root/cursor") === Some(2L))
    // and the next poll proceeds from the recovered value
    FileManifest.mergeKeys(spark, table, Seq((4L, 9L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    assert(ChangeFeedTail.poll(spark, table, s"$root/cursor")(
      applyToView(root)) === Some((2L, 3L)))
    assert(viewOf(root) === fromScratch(table))
  }

  test("backward re-init sweeps stale higher cursor backups") {
    import spark.implicits._
    val root = freshDir("reinit")
    val table = seedTable(root, 40L)
    FileManifest.mergeKeys(spark, table, Seq((3L, 9L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    ChangeFeedTail.drain(spark, table, s"$root/cursor")(applyToView(root))
    // a torn commit's leftover backup from a FUTURE the restarted group
    // never applied — without the != v sweep, a later torn commit would
    // "recover" forward to it, silently skipping the gap
    val dir = new Path(s"$root/cursor")
    val hfs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val stale = hfs.create(new Path(dir, "cursor.v9"), true)
    stale.write("9".getBytes); stale.close()
    ChangeFeedTail.init(spark, s"$root/cursor", 1L)
    assert(ChangeFeedTail.cursor(spark, s"$root/cursor") === Some(1L))
    assert(!hfs.exists(new Path(dir, "cursor.v9")),
      "re-init must sweep stale higher backups, not just lower ones")
    // and the restarted group re-consumes from v1
    assert(ChangeFeedTail.poll(spark, table, s"$root/cursor")(
      (_, from, to) => assert(from === 1L && to === 2L)) === Some((1L, 2L)))
  }

  test("snapshot retention prunes old view versions, sparing the window") {
    import spark.implicits._
    val root = freshDir("ret")
    val table = seedTable(root, 80L)
    (1 to 5).foreach { i =>
      FileManifest.mergeKeys(spark, table,
        Seq((i.toLong, 60L + i)).toDF("k", "g"), "k", Seq("k"),
        bloomCols = Seq("k"))
      ChangeFeedTail.drain(spark, table, s"$root/cursor")(applyToView(root))
    }
    val hfs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val snaps = hfs.listStatus(new Path(s"$root/mv")).map(_.getPath.getName).sorted
    assert(snaps.toSeq === Seq("v4", "v5", "v6"),
      s"keep=3 retention should leave the newest three snapshots, got $snaps")
    assert(viewOf(root) === fromScratch(table))
  }

  test("a consumer lagging past vacuum retention fails LOUD, never skips") {
    import spark.implicits._
    val root = freshDir("lag")
    val table = seedTable(root, 60L)
    FileManifest.mergeKeys(spark, table, Seq((7L, 33L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    FileManifest.mergeKeys(spark, table, Seq((8L, 33L)).toDF("k", "g"),
      "k", Seq("k"), bloomCols = Seq("k"))
    // retention reaps v1 while the cursor still points at it
    FileManifest.vacuum(spark, table, graceMs = 0L, keepVersions = 2)
    val e = intercept[IllegalArgumentException] {
      ChangeFeedTail.poll(spark, table, s"$root/cursor")(applyToView(root))
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("two threads: writer commits, consumer tails; both converge") {
    import spark.implicits._
    val root = freshDir("race")
    val table = seedTable(root, 300L)
    val batches = 6
    val writer = new Thread(() => {
      (1 to batches).foreach { i =>
        ConflictRetry.withConflictRetry() {
          FileManifest.mergeKeys(spark, table,
            Seq((i * 37L, 90L + i), (1000L + i, 90L + i)).toDF("k", "g"),
            "k", Seq("k"), bloomCols = Seq("k"))
        }
        Thread.sleep(30L)
      }
    })
    val consumerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val consumer = new Thread(() => {
      try {
        while (ChangeFeedTail.cursor(spark, s"$root/cursor").get <
            (batches + 1).toLong) {
          ChangeFeedTail.drain(spark, table, s"$root/cursor")(applyToView(root))
          Thread.sleep(15L)
        }
      } catch { case t: Throwable => consumerErr.set(t) }
    })
    writer.start(); consumer.start()
    writer.join(120000L); consumer.join(120000L)
    assert(!writer.isAlive && !consumer.isAlive, "threads wedged")
    assert(consumerErr.get() == null,
      s"consumer thread failed: ${consumerErr.get()}")
    assert(ChangeFeedTail.cursor(spark, s"$root/cursor") ===
      Some((batches + 1).toLong))
    assert(viewOf(root) === fromScratch(table))
  }
}
