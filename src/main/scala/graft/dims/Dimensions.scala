package graft.dims

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-key dimension handling (SURVEY.md §2.1 S10/S11, §2.5 W2).
  *
  * The reference resolves dimension keys one row at a time through a MySQL
  * stored procedure (`/root/reference/db/scripts/procedures.sql:4-28`):
  * probe by name, insert `max(id)+1` when absent, return the id. That
  * get-or-create is re-expressed set-based: one anti-join finds the new
  * names, one window numbers them past the current max, one union yields
  * the updated dimension. The reference proc also has a bug — it returns
  * `highest_id + 1` (with `highest_id` defaulting to −1 → id 0) when the
  * name already exists (`procedures.sql:7,27`); we implement the clearly
  * *intended* lookup-by-name semantics and document the deviation.
  *
  * Scale: dimensions are tiny by definition (9 species / ≤10 oceans in the
  * reference; segments/nations here), so `incoming` is distinct-reduced
  * first (map-side partial agg) and the result broadcasts into the fact
  * FK-resolution join. The only global ordering — numbering the new names
  * — runs on the already-deduped dimension delta, never on fact rows.
  */
object Dimensions {

  /** Returns `existing ∪ new` where new names (anti-joined by name,
    * null-safe like the proc's `<=>` NULL handling) receive ids
    * `max(existing.id) + row_number() over (order by name)`.
    *
    * An empty dimension numbers from 0 — the proc's
    * `IFNULL(MAX(location_id), -1) + 1` (procedures.sql:22-23) — so ids
    * agree row-for-row with a reference-populated database.
    *
    * Both inputs must have columns `(id: long | absent, name: string)`;
    * `existing` must have `(id, name)`.
    */
  def getOrCreate(existing: DataFrame, incoming: DataFrame): DataFrame = {
    // a collect, not an agg(max): a LOCAL dimension (the pipeline's
    // empty one) collects on the driver with no Spark job, and a
    // dimension is small enough to bring back whole
    val maxId = existing.select(col("id").cast("long")).collect()
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }
      .maxOption.getOrElse(-1L)
    val known = existing.select(col("name").as("__known"))
    val fresh = incoming.select("name").distinct()
      .join(known, col("name") <=> col("__known"), "left_anti")
      .withColumn("id",
        lit(maxId) + row_number().over(Window.orderBy("name")).cast("long"))
      .select("id", "name")
    existing.select("id", "name").unionByName(fresh)
  }

  /** FK resolution: resolve `fact(nameCol)` to dimension ids via a
    * broadcast null-safe equi-join (the proc treats NULL names as a match
    * for the NULL dimension row — `procedures.sql:12-13`).
    */
  def resolveFk(fact: DataFrame, dim: DataFrame, nameCol: String,
      outCol: String): DataFrame =
    fact.join(broadcast(dim), fact(nameCol) <=> dim("name"), "left")
      .withColumnRenamed("id", outCol)
      .drop(dim("name"))
}
