package graft

import org.apache.spark.sql.SparkSession

import graft.sources.FastLocalFileSystem

/** The one place a SparkSession is built. Every main, the spec suites'
  * shared session and the test-dir probes come through here, so they all
  * run with the same confs; the benchmark (`perfbench`) builds the same
  * list plus its work-dir paths.
  *
  * A call site names only what differs from the defaults: its core count
  * and, rarely, confs of its own (SpillSmoke's memory-constrained pass).
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` overlays confs on every session,
  * the A/B seam for trying a conf without a code change.
  */
object Session {

  /** `$SPARK_GRAFT_CPUS`, or every core the JVM sees when it is unset. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session confs for `cpus` local cores: the defaults, then
    * `callSite`, then the `extra` overlay (`k=v;k=v`), a later entry
    * replacing an earlier one with the same key.
    */
  def confs(cpus: Int, callSite: Map[String, String] = Map.empty,
      extra: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONF"))
      : Map[String, String] = {
    val defaults = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // build-time, not runtime: parquet schema inference (which decides
      // whether a TIMESTAMP(NANOS) events.ts is legal at all) only sees
      // builder/SparkConf-backed values — see Tables.normalizeEventTs
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ FastLocalFileSystem.sparkConfs
    val overlay = extra.toSeq.flatMap(_.split(';')).filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }
    defaults ++ callSite ++ overlay
  }

  /** The JVM's session, built from [[confs]] if none is running. */
  def apply(appName: String, cpus: Int = defaultCpus,
      callSite: Map[String, String] = Map.empty): SparkSession = {
    val spark = confs(cpus, callSite)
      .foldLeft(SparkSession.builder().appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
