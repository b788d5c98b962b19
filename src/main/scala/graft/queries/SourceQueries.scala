package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal
import graft.sources.{FileManifest, IncrementalLedger, Staging}

/** Source/sink + multimodal coverage. Round-trip queries write through the
  * engine's own sinks to scratch space and read back with declared
  * schemas; the oracle reads the ORIGINAL parquet, so any loss or
  * corruption in the round trip fails the gate.
  */
object SourceQueries {

  private def scratch(sfDir: String, tag: String): String =
    QueryDef.scratch(sfDir, tag)

  /** Portable multiplicative byte fold over ASCII-safe text (byte values
    * == code points): `h = (h*31 + byte) mod 1e9+7`, DuckDB formulation —
    * the oracle twin of q105's JVM byte-checksum.
    */
  private def foldBytesSql(e: String): String =
    s"CASE WHEN length($e) = 0 THEN 0 ELSE list_reduce(list_prepend(0::BIGINT, list_transform(string_split($e, ''), c -> unicode(c)::BIGINT)), (a, x) -> (a * 31 + x) % 1000000007) END"

  val defs: Seq[QueryDef] = Seq(

    // ---- S7/S8: CSV sink + fixed-schema CSV source round trip ------------
    QueryDef.sql(
      "q40_csv_roundtrip",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
        |       o_orderpriority
        |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""") { (s, d) =>
      val src = Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
      val path = scratch(d, "orders_csv")
      Staging.writeCsv(src, path)
      Staging.readCsv(s, src.schema, path)
        .withColumn("o_orderdate_s", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .drop("o_orderdate")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate_s", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // ---- S4/S5: JSON staging sink + fixed-schema JSON source round trip --
    QueryDef.sql(
      "q41_json_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""") { (s, d) =>
      val src = Tables.supplier(s, d)
      val path = scratch(d, "supplier_json")
      Staging.writeJson(src, path)
      Staging.readJson(s, src.schema, path)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    },

    // ---- S7/S8 (columnar): ORC sink + declared-schema ORC source ---------
    // The second native columnar format: unlike CSV/JSON the round trip
    // keeps types without a parse, and the post-read filter pushes into
    // the ORC scan (predicate pushdown + column pruning, like parquet).
    QueryDef.sql(
      "q73_orc_roundtrip",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""") { (s, d) =>
      val src = Tables.customer(s, d)
      val path = scratch(d, "customer_orc")
      Staging.writeOrc(src, path)
      Staging.readOrc(s, src.schema, path)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // ---- P9/S4: partitioned staging with partition pruning ---------------
    QueryDef.sql(
      "q42_partitioned_staging",
      """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""") { (s, d) =>
      val path = scratch(d, "docs_by_lang")
      Staging.writePartitioned(Tables.documents(s, d), Seq("lang"), path)
      // the lang filter prunes to the lang=en directory at file-listing time
      Staging.readPartitioned(s, path)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy("source")
    },

    // ---- multimodal frame sampling: fixed-size frames + per-frame stats --
    // The media analog of video frame-sampling: chunk the opaque payload
    // into fixed 64-byte frames map-side, explode, keep every 4th frame.
    QueryDef.sql(
      "q55_frame_sample",
      """WITH f AS (
        |  SELECT doc_id, k AS frame_no, substr(text, k * 64 + 1, 64) AS frame
        |  FROM documents,
        |       (SELECT unnest(range(0, 16)) AS k)
        |  WHERE k * 64 < length(text) AND k % 4 = 0)
        |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(length(frame) AS BIGINT) AS frame_len,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(frame, ''), c -> unicode(c)::BIGINT)),
        |    (a, x) -> (a + x) % 1000000007) AS frame_sum
        |FROM f ORDER BY doc_id, frame_no""") { (s, d) =>
      val frames = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), lit(15L))).as("frame_no"))
        .filter(col("frame_no") * 64 < length(col("text")) &&
          col("frame_no") % 4 === 0)
        .withColumn("frame", col("text").substr(
          (col("frame_no") * 64 + 1).cast("int"), lit(64)))
      frames.select(col("doc_id"), col("frame_no"),
        length(col("frame")).cast("long").as("frame_len"),
        aggregate(filter(split(col("frame"), ""), c => c =!= ""),
          lit(0L), (a, c) => (a + ascii(c)) % 1000000007L).as("frame_sum"))
        .orderBy("doc_id", "frame_no")
    },

    // ---- multimodal resize: nearest-neighbor 1-D downsample (every 4th) --
    QueryDef.sql(
      "q58_resize",
      """WITH r AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(0, (length(text) - 1) // 4 + 1),
        |      i -> substr(text, i * 4 + 1, 1)), '') AS rs
        |  FROM documents)
        |SELECT doc_id, CAST(length(rs) AS BIGINT) AS resized_len,
        |  CASE WHEN length(rs) = 0 THEN 0 ELSE list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(rs, ''), c -> unicode(c)::BIGINT)),
        |    (a, x) -> (a * 31 + x) % 1000000007) END AS rhash
        |FROM r ORDER BY doc_id""") { (s, d) =>
      val n = expr("(length(text) - 1) div 4")
      val resized = array_join(
        transform(sequence(lit(0L), n),
          i => col("text").substr((i * 4 + 1).cast("int"), lit(1))), "")
      Tables.documents(s, d)
        .select(col("doc_id"), resized.as("rs"))
        .select(col("doc_id"), length(col("rs")).cast("long").as("resized_len"),
          graft.functions.Exact.foldHashUdf(col("rs")).as("rhash"))
        .orderBy("doc_id")
    },

    // ---- custom DataSourceV2 with pushdown + stats-planned partitions ----
    QueryDef.sql(
      "q54_dsv2_stats",
      """SELECT y - y % 10 AS decade,
        |  COUNT(*) AS n_years,
        |  CAST(SUM((y * 2654435761) % 10000) AS BIGINT) AS records
        |FROM (SELECT unnest(range(1900, 2026)) AS y)
        |WHERE y >= 1960 AND y < 2000
        |GROUP BY 1 ORDER BY 1""") { (s, _) =>
      s.read.format("graft.sources.v2.StatsSource").load()
        .filter(col("year") >= 1960 && col("year") < 2000) // pushed to source
        .groupBy((col("year") - col("year") % 10).as("decade"))
        .agg(count(lit(1)).as("n_years"), sum(col("records")).as("records"))
        .withColumn("decade", col("decade").cast("long"))
        .orderBy("decade")
    },

    // ---- binaryFile source: the raw-payload on-ramp ----------------------
    // How image/audio/video actually ARRIVES at a 100 TB pipeline: one
    // opaque file per asset. The engine stages one .bin per selected doc
    // (foreachPartition — executors write their own partitions' files,
    // no driver funnel), then ingests the DIRECTORY with Spark's builtin
    // `binaryFile` source (path, length, content) and recomputes each
    // payload's length + portable fold checksum FROM THE BYTES READ
    // BACK. The oracle computes the same from the source table's text
    // (ASCII-safe: byte values == code points), so a lost, truncated, or
    // corrupted file fails the gate — q73's roundtrip contract, binary
    // edition.
    QueryDef.sql(
      "q105_binary_ingest",
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
         |  ${foldBytesSql("text")} AS checksum
         |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""") { (s, d) =>
      val dir = scratch(d, "blobs")
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(root)
      Tables.documents(s, d)
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      val checksum = udf((b: Array[Byte]) =>
        if (b == null) null.asInstanceOf[java.lang.Long]
        else {
          var h = 0L
          var i = 0
          while (i < b.length) { h = (h * 31 + (b(i) & 0xffL)) % 1000000007L; i += 1 }
          java.lang.Long.valueOf(h)
        })
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(dir)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          checksum(col("content")).as("checksum"))
        .orderBy("doc_id")
    },

    // ---- multimodal: binary payloads + mapPartitions feature extraction --
    QueryDef.sql(
      "q43_multimodal_features",
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  unicode(text[1]) AS b0, unicode(text[2]) AS b1,
        |  unicode(text[3]) AS b2, unicode(text[4]) AS b3,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(text, ''), c -> unicode(c)::BIGINT)),
        |    (a, x) -> (a + x) % 1000000007) END AS checksum,
        |  CAST(length(text) % 640 AS INT) AS width,
        |  CAST(length(text) % 480 AS INT) AS height
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF().orderBy("doc_id")
    },

    // ---- multimodal near-dup: perceptual average-hash + band blocking ----
    // Image-style dedup over opaque payloads: 32 evenly-spaced "pixels"
    // (stub decode — bytes of the payload; a real deployment swaps in the
    // codec), aHash bit k set iff pixel k ≥ the mean (integer form:
    // 32·p_k ≥ Σp, no floats), near-pairs via the q28 byte-band
    // pigeonhole (4 bands of 8 bits ⇒ exact recall at hamming ≤ 3).
    // Map-side hashing; only (band, key) rows shuffle — never payloads.
    QueryDef.sql(
      "q70_phash_neardup",
      """WITH px AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 32), k -> unicode(text[1 + ((k * length(text)) // 32)])) AS ps
        |  FROM documents WHERE length(text) > 0),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN 32 * ps[i] >= list_sum(ps) THEN 1::BIGINT << (i - 1) ELSE 0 END)) AS BIGINT) AS ah
        |  FROM px),
        |bands AS (
        |  SELECT doc_id, ah, b.band, (ah >> (b.band * 8)) & 255 AS key
        |  FROM h, (SELECT unnest(range(0, 4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS d1, l.ah AS a1, r.doc_id AS d2, r.ah AS a2
        |  FROM bands l JOIN bands r
        |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(a1, a2)) AS BIGINT) AS ham
        |FROM cand WHERE bit_count(xor(a1, a2)) <= 3 ORDER BY d1, d2""") { (s, d) =>
      val len = length(col("text"))
      // (k·len)/32 is exact in doubles (dividing a small int by 2^5)
      val ps = transform(sequence(lit(0), lit(31)),
        k => ascii(col("text").substr(
          (lit(1) + (k * len / 32).cast("int")), lit(1))).cast("long"))
      val sig = Tables.documents(s, d)
        .filter(len > 0)
        .transform(graft.Tables.spread(_, col("doc_id"))) // hash kernels want all cores
        .select(col("doc_id"), ps.as("ps"))
        .withColumn("s", aggregate(col("ps"), lit(0L), _ + _))
        .select(col("doc_id"),
          (0 until 32).map { k =>
            when(element_at(col("ps"), k + 1) * 32 >= col("s"), lit(1L << k))
              .otherwise(lit(0L))
          }.reduce(_ + _).as("ah"))
        // both sides of the band self-join; localCheckpoint so the blocks
        // are ContextCleaner-released (no leaked cache entry — see
        // geo/Geo.gridSpatialJoin)
        .transform(graft.Materialize.checkpoint)
      val bands = sig.select(col("doc_id"), col("ah"),
        posexplode(array((0 until 4).map(b =>
          pmod(shiftright(col("ah"), b * 8), lit(256L))): _*))
          .as(Seq("band", "key")))
      bands.as("l")
        .join(bands.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("d1"), col("l.ah").as("a1"),
          col("r.doc_id").as("d2"), col("r.ah").as("a2"))
        .distinct()
        .filter(graft.dedup.Dedup.hamming(col("a1"), col("a2")) <= 3)
        .select(col("d1"), col("d2"),
          graft.dedup.Dedup.hamming(col("a1"), col("a2")).cast("long").as("ham"))
        .orderBy("d1", "d2")
    },

    // ---- schema-evolved staging read (one declared target, N versions) ---
    // A 100 TB staging tree is written over months under an EVOLVING
    // schema. Stage the documents table as two physical versions — v1
    // under the old contract (doc_id INT32, score FLOAT, no lang yet,
    // plus a since-retired column) and v2 under the current one (lang
    // added, types widened, different column order) — then read BOTH
    // through Staging.readEvolved's single declared-target scan: added
    // column nulls for v1 rows, retired column pruned unread, INT32/
    // FLOAT widen at scan time, order resolves by name. The oracle
    // rebuilds the same union semantics from the source table, so any
    // row the reconciliation dropped, nulled wrongly, or mis-widened
    // fails the gate. (SchemaEvolutionSpec pins each class in isolation,
    // incl. loud failure on narrowing drift.)
    QueryDef.sql(
      "q111_schema_evolution",
      """WITH v1 AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS score,
        |         CAST(NULL AS VARCHAR) AS lang
        |  FROM documents WHERE doc_id % 2 = 0),
        |v2 AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS score, lang
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(score) AS DOUBLE) AS total_score,
        |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |GROUP BY lang ORDER BY lang NULLS FIRST""") { (s, d) =>
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
      val docs = Tables.documents(s, d)
      val base = scratch(d, "docs_evolve")
      // v1: the old contract — INT32 ids, FLOAT score (exact: integer
      // char counts < 2^24), a retired column, no lang
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("int").as("doc_id"),
          length(col("text")).cast("float").as("score"),
          lit("retired").as("legacy_note"))
        .write.mode("overwrite").parquet(s"$base/v1")
      // v2: the current contract — widened types, lang added, reordered
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("lang"),
          col("doc_id"),
          length(col("text")).cast("double").as("score"))
        .write.mode("overwrite").parquet(s"$base/v2")
      val target = StructType(Seq(
        StructField("doc_id", LongType), StructField("score", DoubleType),
        StructField("lang", StringType)))
      Staging.readEvolved(s, target, Seq(s"$base/v1", s"$base/v2"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("total_score"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang").asc_nulls_first)
    },

    // ---- partition backfill: recompute one partition, land it atomically -
    // The idempotent-backfill pattern: a partitioned staging table where
    // ONE partition's derivation was wrong (en's score off by one — the
    // bad Tuesday), fixed by recomputing JUST that partition and landing
    // it with Staging.overwritePartitions (dynamic partition overwrite).
    // The oracle is the fully-correct table: it fails if the backfill
    // didn't replace the bad partition, AND if overwrite ran in static
    // mode (which deletes every sibling partition first — de/fr/... rows
    // would vanish). Sibling files staying byte-identical (not rewritten)
    // is pinned separately in PartitionBackfillSpec.
    QueryDef.sql(
      "q112_partition_backfill",
      """SELECT lang, COUNT(*) AS n, CAST(SUM(length(text)) AS BIGINT) AS total_score
        |FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val path = scratch(d, "docs_backfill")
      val derived = docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("score"))
      // initial load with the planted defect in en only
      Staging.writePartitioned(
        derived.withColumn("score",
          when(col("lang") === "en", col("score") - 1).otherwise(col("score"))),
        Seq("lang"), path)
      // backfill: recompute en correctly; land ONLY that partition
      Staging.overwritePartitions(
        derived.filter(col("lang") === "en"), Seq("lang"), path)
      Staging.readPartitioned(s, path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("total_score"))
        .orderBy("lang")
    },

    // ---- incremental batch ingest: ledger + mergeable partial state ------
    // The batch analog of streaming offsets (IncrementalLedger): events
    // land as segment files across two "days"; each run consumes ONLY
    // the unprocessed segments, folds their partial (count + exact
    // decimal sum — a MERGEABLE aggregate) into the persisted state, and
    // commits atomically. The gate compares the final committed state to
    // a full recompute of all input — double-counted replays, dropped
    // segments, or a broken merge all fail. Crash/torn-commit replay
    // convergence is pinned separately in IncrementalLedgerSpec.
    QueryDef.sql(
      "q113_incremental_batch",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
      val src = scratch(d, "events_segments")
      val led = scratch(d, "events_ledger")
      for (dir <- Seq(src, led)) {
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => java.nio.file.Files.delete(q))
      }
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("decimal(24,2)").as("t"))
      def merge(state: org.apache.spark.sql.DataFrame,
          partial: org.apache.spark.sql.DataFrame) =
        state.unionByName(partial).groupBy("event_type")
          // state schema stays pinned at decimal(24,2) across versions
          // (sum() would otherwise widen precision every merge)
          .agg(sum("n").as("n"), sum("t").cast("decimal(24,2)").as("t"))
      // day 1: two segments; day 2: one more — only it is consumed
      ev.filter(col("event_id") % 3 =!= 0).repartition(2)
        .write.mode("append").parquet(src)
      IncrementalLedger.run(s, src, led, agg, merge)
      ev.filter(col("event_id") % 3 === 0).coalesce(1)
        .write.mode("append").parquet(src)
      val run2 = IncrementalLedger.run(s, src, led, agg, merge)
      run2.state
        .select(col("event_type"), col("n"),
          col("t").cast("double").as("total"))
        .orderBy("event_type")
    },

    // ---- Bloom-sidecar point lookup (q115's high-cardinality twin) -------
    // An id probe over a HASH-distributed tree: every file's [min,max]
    // spans ~the whole key range, so q115's bounds keep all 16 files —
    // but each event_id lives in exactly ONE file, and the per-file
    // Bloom sidecar (FileManifest.build with bloomCols) answers "definitely
    // not here" for the rest from one tiny manifest read. Kept files ≈
    // |keys| + fpp·files instead of all of them; the exact IN filter
    // absorbs false positives, so the result — and the oracle — is the
    // plain point query. One probe key (20011) only exists at sf ≥ 0.1,
    // pinning absent-key behavior at the small gates. FileManifestSpec
    // measures the skip and the no-false-negative contract.
    QueryDef.sql(
      "q119_bloom_point_lookup",
      """SELECT event_id, event_type, user_id, CAST(value AS DOUBLE) AS value
        |FROM events WHERE event_id IN (1, 4097, 9973, 20011)
        |ORDER BY event_id""") { (s, d) =>
      val dir = scratch(d, "events_bloom")
      Tables.events(s, d)
        .select("event_id", "event_type", "user_id", "value")
        .repartition(16, col("event_id"))
        .write.mode("overwrite").parquet(dir)
      FileManifest.build(s, dir, Seq("event_id"), Seq("event_id"))
      val (df, _, _) = FileManifest.readPointLookup(s, dir, "event_id",
        Seq(1L, 4097L, 9973L, 20011L))
      df.select(col("event_id"), col("event_type"), col("user_id"),
        col("value").cast("double").as("value"))
        .orderBy("event_id")
    },

    // ---- ledger time travel: state AS OF an earlier committed version ----
    // q113's ingest, read back at version 0: after BOTH days commit, the
    // query serves the day-1-only aggregate from the ledger's immutable
    // v_0 snapshot (IncrementalLedger.stateAt) — the "what did the
    // nightly say on Tuesday" audit read. The oracle recomputes day 1
    // from the source, so serving the wrong version, a state the second
    // run mutated in place, or a snapshot polluted by day-2 segments
    // all fail. Missing/pruned versions fail loud
    // (IncrementalLedgerSpec).
    QueryDef.sql(
      "q122_ledger_time_travel",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 3 <> 0 GROUP BY 1 ORDER BY 1""") { (s, d) =>
      val src = scratch(d, "events_segments_tt")
      val led = scratch(d, "events_ledger_tt")
      for (dir <- Seq(src, led)) {
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => java.nio.file.Files.delete(q))
      }
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("decimal(24,2)").as("t"))
      def merge(state: org.apache.spark.sql.DataFrame,
          partial: org.apache.spark.sql.DataFrame) =
        state.unionByName(partial).groupBy("event_type")
          .agg(sum("n").as("n"), sum("t").cast("decimal(24,2)").as("t"))
      ev.filter(col("event_id") % 3 =!= 0).repartition(2)
        .write.mode("append").parquet(src)
      IncrementalLedger.run(s, src, led, agg, merge)
      ev.filter(col("event_id") % 3 === 0).coalesce(1)
        .write.mode("append").parquet(src)
      IncrementalLedger.run(s, src, led, agg, merge)
      IncrementalLedger.stateAt(s, led, 0L)
        .select(col("event_type"), col("n"),
          col("t").cast("double").as("total"))
        .orderBy("event_type")
    }
  )
}
