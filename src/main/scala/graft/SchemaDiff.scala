package graft

import org.apache.spark.sql.SparkSession

/** Round-start testdata schema fingerprint.
  *
  * The driver regenerates `/root/testdata` between rounds and has silently
  * changed physical encodings before (round 9: `events.ts` flipped from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS)/ntz, which cost in-round
  * debugging). This pins the RESOLVED Spark schema of all 10 tables —
  * the level at which an encoding flip becomes visible to the engine
  * (NANOS→`bigint` under the build-time legacy conf, MICROS/ntz→
  * `timestamp_ntz`, a decimal-precision or int32-date change → new
  * simpleString) — and diffs it loudly BEFORE any query runs.
  *
  * Print-only by design: a drifted table must be a first-class signal,
  * not an abort — [[Tables.normalizeEventTs]]-style dispatch may already
  * absorb the change, and the oracle compare is the real gate.
  */
object SchemaDiff {
  /** table → expected resolved schema, pinned against the round-10
    * testdata (all sf dirs ship identical schemas). Regenerate with
    * [[dump]] after an INTENDED change.
    */
  val pinned: Map[String, String] = Map(
    "region" -> "r_regionkey:int,r_name:string",
    "nation" -> "n_nationkey:int,n_name:string,n_regionkey:int",
    "customer" -> "c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string",
    "supplier" -> "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
    "part" -> "p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double",
    "orders" -> "o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string",
    "lineitem" -> "l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz",
    "events" -> "event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string,value:double,props:string",
    "documents" -> "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
    "embeddings" -> "vec_id:bigint,embedding:array<float>,label:int")

  /** `events.ts` has one KNOWN-GOOD alternative: a TIMESTAMP(NANOS) file
    * resolves as `bigint` under the build-time legacy conf and
    * [[Tables.normalizeEventTs]] handles it. Still printed (it IS the
    * signal the fingerprint exists for) but labeled as handled.
    */
  private val knownAlternatives: Map[String, Set[String]] = Map(
    "events" -> Set("event_id:bigint,ts:bigint,user_id:bigint,event_type:string,value:double,props:string"))

  def actual(spark: SparkSession, sfDir: String, table: String): String =
    spark.read.parquet(s"$sfDir/$table.parquet").schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** Diff all tables; returns human-readable mismatch lines (empty = clean). */
  def diff(spark: SparkSession, sfDir: String): Seq[String] =
    Tables.names.flatMap { t =>
      val got =
        try actual(spark, sfDir, t)
        catch { case e: Throwable => s"<unreadable: ${e.getMessage}>" }
      pinned.get(t) match {
        // a table in Tables.names with no pinned line (added without
        // re-pinning) is itself drift — reported, never a preamble crash
        case None => Some(s"$t: UNPINNED table (add it to SchemaDiff.pinned via --dump)\n    got      $got")
        case Some(want) if got == want => None
        case Some(want) if knownAlternatives.getOrElse(t, Set.empty).contains(got) =>
          Some(s"$t: KNOWN-ALTERNATE encoding (handled by type dispatch)\n    got      $got\n    pinned   $want")
        case Some(want) =>
          Some(s"$t: SCHEMA DRIFT\n    got      $got\n    pinned   $want")
      }
    }

  /** Preamble check for Verify/Bench — stderr only (Bench stdout is
    * json-parsed by the driver's 2k tail window and must stay clean).
    */
  def report(spark: SparkSession, sfDir: String): Unit = {
    val d = diff(spark, sfDir)
    if (d.isEmpty)
      System.err.println(s"[schema-fingerprint] $sfDir: all 10 tables match the pinned snapshot")
    else {
      System.err.println("=" * 72)
      System.err.println(s"[schema-fingerprint] TESTDATA SCHEMA CHANGED under $sfDir — " +
        "the driver regenerated parquet with different types. Inspect before " +
        "trusting any downstream failure:")
      d.foreach(line => System.err.println("  " + line))
      System.err.println("=" * 72)
    }
  }

  /** Regeneration helper: print the current pinned-map literal for a dir. */
  def dump(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach(t => println(s""""$t" -> "${actual(spark, sfDir, t)}","""))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session("graft-schema-diff")
    if (args.contains("--dump")) dump(spark, sfDir) else report(spark, sfDir)
    spark.stop()
  }
}
