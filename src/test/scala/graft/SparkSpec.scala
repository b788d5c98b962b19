package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all suites (getOrCreate — one JVM-wide
  * session, so suites don't pay repeated startup). Four cores whatever
  * the host has, so spec plans and job counts do not move with it.
  */
trait SparkSpec {
  lazy val spark: SparkSession = Session("graft-spec", cpus = 4)
}
