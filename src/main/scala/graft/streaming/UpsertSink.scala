package graft.streaming

import java.sql.{Connection, DatabaseMetaData, DriverManager, SQLException}
import java.util.Locale

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row}

/** The idempotent JDBC upsert sink — the Spark form of the reference's
  * X1–X3 sink family (SURVEY.md §2), whose six near-identical Data-API
  * sink classes (sink/SinkDataApiSingle/Batch/TumblingBatch/Tumbling/
  * Sliding/Hopping) collapse into [[jdbcForeachBatchUpsert]].
  *
  * The reference's most elaborate code is a 274-line write-ahead sink
  * that buffers rows per checkpoint and publishes on
  * `notifyCheckpointComplete` (sink/SinkDataApiTumbling.java:88–194).
  * Under Structured Streaming that machinery is engine-provided:
  * `foreachBatch` runs under the streaming commit log, replayed batches
  * re-run with the same epochId, and **idempotent upsert keyed on the
  * window key makes replays harmless** — exactly-once to the target
  * without a WAL. The upsert key (key, window_start, window_end)
  * matches the reference's `tumbling_pkey` (reference README.MD:88).
  *
  * One executing backend: any JDBC database, one transaction per
  * statement batch, reaching the same converged state as a native
  * `INSERT … ON CONFLICT` upsert on targets that have none (Derby, which
  * the demo and every sink test run against):
  *
  *  - when the table's primary key is exactly the upsert-key set, each
  *    batch is written INSERT-first; only a batch that fails with an
  *    integrity violation (SQLState class 23) is rolled back and
  *    rewritten as DELETE-keys + INSERT. A fresh key costs one INSERT
  *    instead of a DELETE probe plus an INSERT;
  *  - any other table gets DELETE-keys + INSERT on every batch — without
  *    a key constraint to reject it, an INSERT-first replay would
  *    duplicate rows.
  *
  * The cost of INSERT-first: in update mode every re-emitted window
  * conflicts, so its batch pays one failed INSERT batch plus the
  * rewrite. The demo and the benchmark run in append mode, where a
  * conflict happens only on a replayed epoch or on equal-key rows split
  * across statement batches.
  */
object UpsertSink {

  /** Rows per statement batch (an INSERT batch, or a DELETE batch plus
    * an INSERT batch, then COMMIT) — an amortization unit, not a
    * correctness device, like the reference's sink buffer threshold
    * (sink/SinkDataApiBatch.java:61). */
  private val BatchRows = 500

  /** SQL identifiers are interpolated into statement text, so they must
    * be plain identifiers — anything else (quotes, spaces, semicolons)
    * is rejected rather than spliced (injection guard for
    * config-sourced table/column names). */
  private[streaming] def checkIdent(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"illegal SQL identifier: '$name'")
    name
  }

  /** How one database spells identifiers: case-folded the way it stores
    * unquoted names, then quoted. The quoted form names exactly the
    * object the unquoted spelling names, and also makes reserved words
    * such as `key` (Derby) legal column names. Read once per connection.
    */
  final class Idents(meta: DatabaseMetaData) {
    // a single space means the database does not support quoting
    private val quote = Option(meta.getIdentifierQuoteString).map(_.trim).getOrElse("")
    private val upper = meta.storesUpperCaseIdentifiers
    private val lower = !upper && meta.storesLowerCaseIdentifiers

    /** The name as the catalog stores it (for metadata lookups). */
    def stored(name: String): String = {
      checkIdent(name)
      if (upper) name.toUpperCase(Locale.ROOT)
      else if (lower) name.toLowerCase(Locale.ROOT)
      else name
    }

    /** The name as statement text. */
    def apply(name: String): String = quote + stored(name) + quote
  }

  object Idents {
    def apply(conn: Connection): Idents = new Idents(conn.getMetaData)
  }

  private[streaming] def deleteSql(id: Idents, table: String, keyCols: Seq[String]): String =
    s"DELETE FROM ${id(table)} WHERE ${keyCols.map(k => s"${id(k)} = ?").mkString(" AND ")}"

  private[streaming] def insertSql(id: Idents, table: String, cols: Seq[String]): String =
    s"INSERT INTO ${id(table)} (${cols.map(id(_)).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** The table's primary-key columns as the catalog stores them (empty
    * when it has none, or when the table is not in the connection's
    * current schema). */
  private def primaryKey(conn: Connection, id: Idents, table: String): Set[String] =
    Using.resource(conn.getMetaData.getPrimaryKeys(null, conn.getSchema, id.stored(table))) { rs =>
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString("COLUMN_NAME")).toSet
    }

  /** An integrity-constraint violation (SQLState class 23) anywhere in
    * the exception's `getNextException` chain — a batch error often
    * carries the row's error as its next exception. */
  private def isConstraintViolation(e: SQLException): Boolean =
    Iterator.iterate(e)(_.getNextException).takeWhile(_ != null)
      .exists(s => Option(s.getSQLState).exists(_.startsWith("23")))

  /** The `foreachBatch` body: writes through standard
    * `addBatch`/`executeBatch` from `foreachPartition` — the Spark form
    * of the reference's batched Data-API sink
    * (sink/SinkDataApiBatch.java:61–78, `BatchExecuteStatement` of
    * buffered rows per threshold).
    *
    *  - one connection per partition task, opened executor-side (the
    *    url string is the only thing serialized into the closure); it
    *    reads the table's primary key once;
    *  - per statement batch of up to 500 rows, then COMMIT: if the
    *    primary key is exactly `keyCols`, INSERT all rows, and on a
    *    class-23 failure roll back that batch and rewrite it as below;
    *    otherwise DELETE all keys, then INSERT all rows. Either way a
    *    replayed epoch rewrites identical rows instead of duplicating
    *    them: exactly-once to the table;
    *  - rows of one statement batch with equal keys collapse to the
    *    last of them (the per-row OVER jobs emit one identical row per
    *    equal-timestamp peer);
    *  - a batch whose DELETE+INSERT fails rolls back and rethrows the
    *    database's error; earlier committed batches stay.
    *
    * Usage (Derby in-memory for the demo and tests; any JDBC url in
    * production):
    * {{{
    * df.writeStream.outputMode("update")
    *   .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(url, "tumbling",
    *     Seq("key", "window_start", "window_end")) _)
    *   .option("checkpointLocation", dir).start()
    * }}}
    */
  def jdbcForeachBatchUpsert(url: String, table: String, keyCols: Seq[String])(
      df: DataFrame, epochId: Long): Unit = {
    val cols = df.columns.toSeq
    (table +: (cols ++ keyCols)).foreach(checkIdent)
    val keyIdx = keyCols.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0), s"key columns $keyCols not all in $cols")
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) Using.resource(DriverManager.getConnection(url)) { conn =>
        conn.setAutoCommit(false)
        try {
          val id = Idents(conn)
          val insertFirst = primaryKey(conn, id, table) == keyCols.map(id.stored).toSet
          Using.resources(conn.prepareStatement(deleteSql(id, table, keyCols)),
              conn.prepareStatement(insertSql(id, table, cols))) { (delSt, insSt) =>
            rows.grouped(BatchRows).foreach { batch =>
              val byKey = mutable.LinkedHashMap.empty[Seq[Any], Row]
              batch.foreach(r => byKey.update(keyIdx.map(r.get), r))
              def write(deleteFirst: Boolean): Unit = {
                byKey.foreach { case (key, r) =>
                  if (deleteFirst) {
                    key.indices.foreach(p => delSt.setObject(p + 1, key(p)))
                    delSt.addBatch()
                  }
                  cols.indices.foreach(i => insSt.setObject(i + 1, r.get(i)))
                  insSt.addBatch()
                }
                if (deleteFirst) delSt.executeBatch()
                insSt.executeBatch()
                conn.commit()
              }
              if (!insertFirst) write(deleteFirst = true)
              else try write(deleteFirst = false) catch {
                case e: SQLException if isConstraintViolation(e) =>
                  insSt.clearBatch()
                  conn.rollback() // this batch only: earlier ones are committed
                  write(deleteFirst = true)
              }
            }
          }
        } catch {
          case t: Throwable =>
            try conn.rollback() catch { case r: Throwable => t.addSuppressed(r) }
            throw t
        }
      }
    }
  }
}
