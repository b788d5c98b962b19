package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine operator: a Spark plan over the testdata tables
  * plus (when SQL-expressible) a DuckDB oracle the driver hash-compares
  * against. Conventions that keep the comparison bit-exact:
  *
  *  - every query ends in a fully-deterministic `orderBy` (all-column
  *    tie-break) mirrored by the oracle's ORDER BY;
  *  - column names are aliased identically on both sides;
  *  - doubles only ever come from exact decimal sums or identical
  *    sequential fold order (see [[graft.functions.Exact]]);
  *  - int-typed Spark outputs that DuckDB widens (row_number, year, ...)
  *    are cast to long.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle.stripMargin.trim))(run)

  /** Per-(sfDir, tag) scratch directory under java.io.tmpdir — the ONE
    * convention for queries that stage through the engine's own sinks
    * (round-trips, backfill, ledger, manifest), so cleanup and collision
    * behavior live in one place.
    */
  def scratch(sfDir: String, tag: String): String = {
    val h = Integer.toHexString(sfDir.hashCode)
    s"${sys.props("java.io.tmpdir")}/graft_io/$h/$tag"
  }
}
