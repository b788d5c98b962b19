package graft.sinks

import java.sql.DriverManager

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Batched JDBC upsert sink (SURVEY.md §2.1 S9–S11).
  *
  * The reference loads MySQL one row at a time — three statements per fact
  * row through a stored procedure (`db/storage.py:140-143`), measured at
  * ~160 rows/s (BASELINE.md). Spark's builtin JDBC writer has no upsert
  * mode, so this sink runs `foreachPartition`: one connection per
  * partition, one prepared MERGE/upsert statement, `addBatch`/
  * `executeBatch` in `batchSize` groups, one transaction per partition.
  * Dimension get-or-create is NOT done row-wise here — callers resolve
  * dimensions set-based first ([[graft.dims.Dimensions]]) and upsert only
  * facts with resolved FKs. At 1000 executors this gives
  * partitions × batched-roundtrips parallel write throughput, bounded by
  * the database, not the engine.
  */
object JdbcUpsert {

  /** ANSI/Derby MERGE upsert. Derby's MERGE source must be a base table,
    * so the single-row idiom merges against SYSIBM.SYSDUMMY1 with typed
    * parameter CASTs; bind order is [[paramOrder]] (keys, then non-keys,
    * then all insert columns). `alias` is the target's correlation name:
    * [[upsert]] gives each partition its own, so each compiles its own
    * plan (see there).
    */
  def mergeSql(table: String, schema: StructType, keys: Seq[String],
      alias: String = "t"): String = {
    val cols = schema.fields.map(_.name)
    val nonKeys = cols.filterNot(keys.contains)
    def cast(c: String): String =
      s"CAST(? AS ${sqlType(schema(c).dataType)})"
    val on = keys.map(k => s"$alias.$k = ${cast(k)}").mkString(" AND ")
    val setList = nonKeys.map(c => s"$alias.$c = ${cast(c)}").mkString(", ")
    val update =
      if (nonKeys.isEmpty) "" else s" WHEN MATCHED THEN UPDATE SET $setList"
    val insVals = cols.map(cast).mkString(", ")
    s"MERGE INTO $table $alias USING SYSIBM.SYSDUMMY1 ON $on$update" +
      s" WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) VALUES ($insVals)"
  }

  /** Column indices in parameter-binding order for the chosen dialect.
    * Key indices follow the `keys` ARGUMENT order — [[mergeSql]] emits
    * its ON clause in that order, so binding them in schema order would
    * swap values between the key columns of a composite key (matching
    * against the wrong rows, silently).
    */
  def paramOrder(schema: StructType, keys: Seq[String], mysql: Boolean): Seq[Int] = {
    val cols = schema.fields.map(_.name)
    val all = cols.indices
    if (mysql) all
    else {
      val keyIdx = keys.map(k => cols.indexOf(k))
      require(keyIdx.forall(_ >= 0), s"key not in schema: $keys vs ${cols.toSeq}")
      val nonKeyIdx = all.filterNot(i => keys.contains(cols(i)))
      keyIdx ++ nonKeyIdx ++ all
    }
  }

  /** MySQL dialect (the reference's target): INSERT ... ON DUPLICATE KEY
    * UPDATE, update list excluding the key columns (mirrors
    * `db/storage.py:71-78`).
    */
  def mysqlUpsertSql(table: String, schema: StructType, keys: Seq[String]): String = {
    val cols = schema.fields.map(_.name)
    val nonKeys = cols.filterNot(keys.contains)
    val params = cols.map(_ => "?").mkString(", ")
    val updates = nonKeys.map(c => s"$c = VALUES($c)").mkString(", ")
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($params)" +
      s" ON DUPLICATE KEY UPDATE $updates"
  }

  def sqlType(dt: DataType): String = dt match {
    case IntegerType => "INT"
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case _ => "VARCHAR(32672)"
  }

  /** Distributed batched upsert. `sqlFor` picks the dialect from the URL
    * (`jdbc:mysql`/`jdbc:mariadb` → the MySQL-family upsert, else ANSI
    * MERGE); each partition writes in its own transaction.
    *
    * Contract: the frame must be KEY-UNIQUE. Rows sharing a key land
    * from different partitions in arbitrary commit order, so duplicate
    * keys within one call make the surviving row nondeterministic —
    * which would also break [[JdbcStreamSink]]'s replay-convergence
    * guarantee. Aggregate or [[graft.dims.Scd2.latestPerKey]]-style
    * collapse the batch first (every caller here writes post-aggregate
    * or post-dedup frames, which are key-unique by construction).
    *
    * Derby limit: the MERGE text is unique per partition id, not per
    * call, so two `upsert` calls running at once into one Derby database
    * still share a text (hence a compiled plan) between their partitions
    * of equal id, and can hit the shared-plan NPE noted in the body. Run
    * concurrent upserts into one Derby database one after another.
    *
    * Returns the number of rows written, counted by the committed
    * partitions themselves (an accumulator in an action counts each
    * task once), so a caller needs no second scan to report it.
    */
  def upsert(df: DataFrame, url: String, table: String, keys: Seq[String],
      batchSize: Int = 500): Long = {
    val schema = df.schema
    val mysql = url.startsWith("jdbc:mysql") || url.startsWith("jdbc:mariadb")
    val order = paramOrder(schema, keys, mysql)
    val written = df.sparkSession.sparkContext.longAccumulator(s"upsert $table")
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        // Derby shares one compiled plan among all executions of the same
        // statement text, and its MERGE action keeps per-execution state
        // on that plan (`MatchingClauseConstantAction._rowMakingMethod`,
        // nulled by one execution's cleanUp while another reads it: an
        // NPE when partitions MERGE at once). A per-partition correlation
        // name gives each partition its own text, hence its own plan.
        val sql =
          if (mysql) mysqlUpsertSql(table, schema, keys)
          else mergeSql(table, schema, keys, s"t${TaskContext.getPartitionId()}")
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          try {
            val ps = conn.prepareStatement(sql)
            var pending = 0
            var n = 0L
            rows.foreach { r =>
              var i = 0
              while (i < order.length) { ps.setObject(i + 1, r.get(order(i))); i += 1 }
              ps.addBatch()
              pending += 1
              n += 1
              if (pending >= batchSize) { ps.executeBatch(); pending = 0 }
            }
            if (pending > 0) ps.executeBatch()
            conn.commit()
            written.add(n)
          } catch {
            // roll back BEFORE close: closing with an active transaction
            // makes Derby throw from the finally and mask the real batch
            // error (and leaves the txn to time out elsewhere)
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          }
        } finally conn.close()
      }
    }
    written.value
  }
}
