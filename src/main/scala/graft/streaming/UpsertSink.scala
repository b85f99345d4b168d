package graft.streaming

import java.sql.{Connection, DatabaseMetaData, DriverManager}
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
  * One executing backend: any JDBC database, written as DELETE-keys +
  * INSERT in one transaction per statement batch — the same converged
  * state as a native `INSERT … ON CONFLICT` upsert, on targets that
  * have none (Derby, which the demo and every sink test run against).
  */
object UpsertSink {

  /** Rows per statement batch (one DELETE batch + one INSERT batch +
    * COMMIT) — an amortization unit, not a correctness device, like the
    * reference's sink buffer threshold (sink/SinkDataApiBatch.java:61). */
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

  /** The `foreachBatch` body: writes through standard
    * `addBatch`/`executeBatch` from `foreachPartition` — the Spark form
    * of the reference's batched Data-API sink
    * (sink/SinkDataApiBatch.java:61–78, `BatchExecuteStatement` of
    * buffered rows per threshold).
    *
    *  - one connection per partition task, opened executor-side (the
    *    url string is the only thing serialized into the closure);
    *  - per statement batch of up to 500 rows: DELETE all keys, INSERT
    *    all rows, then COMMIT — the delete+insert pair is atomic, so a
    *    replayed epoch rewrites identical rows instead of duplicating
    *    them: exactly-once to the table;
    *  - rows of one statement batch with equal keys collapse to the
    *    last of them (the per-row OVER jobs emit one identical row per
    *    equal-timestamp peer);
    *  - a failing batch rolls back and rethrows the database's error;
    *    earlier committed batches stay.
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
          Using.resources(conn.prepareStatement(deleteSql(id, table, keyCols)),
              conn.prepareStatement(insertSql(id, table, cols))) { (delSt, insSt) =>
            rows.grouped(BatchRows).foreach { batch =>
              val byKey = mutable.LinkedHashMap.empty[Seq[Any], Row]
              batch.foreach(r => byKey.update(keyIdx.map(r.get), r))
              byKey.foreach { case (key, r) =>
                key.indices.foreach(p => delSt.setObject(p + 1, key(p)))
                delSt.addBatch()
                cols.indices.foreach(i => insSt.setObject(i + 1, r.get(i)))
                insSt.addBatch()
              }
              delSt.executeBatch()
              insSt.executeBatch()
              conn.commit()
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
