package graft

import java.sql.{DriverManager, Timestamp}

import scala.util.Using

import graft.streaming.UpsertSink

/** The embedded in-memory Derby database that every sink test writes
  * into through [[UpsertSink.jdbcForeachBatchUpsert]]: (re)create a
  * table, read it back. Derby ships on Spark's classpath, so this runs
  * hermetically; the database lives as long as the test JVM, so each
  * test uses its own table name.
  */
object DerbyTables {
  val url = "jdbc:derby:memory:graft_test;create=true"

  /** Columns of a tumbling-count sink table, without a primary key. */
  val TumblingColumnsNoKey: String =
    """"KEY" VARCHAR(64) NOT NULL, cnt BIGINT NOT NULL,
      |window_start TIMESTAMP NOT NULL, window_end TIMESTAMP NOT NULL""".stripMargin

  /** Columns of a tumbling-count sink table keyed like the reference's
    * `tumbling_pkey` (reference README.MD:88). */
  val TumblingColumns: String =
    TumblingColumnsNoKey + """, PRIMARY KEY ("KEY", window_start, window_end)"""

  /** Drops `table` if it exists and creates it with `columns` (DDL text
    * between the parentheses; quote `"KEY"`, a Derby reserved word). */
  def create(table: String, columns: String): Unit =
    Using.resource(DriverManager.getConnection(url)) { conn =>
      Using.resource(conn.createStatement()) { st =>
        try st.execute(s"DROP TABLE $table") catch { case _: java.sql.SQLException => () }
        st.execute(s"CREATE TABLE $table ($columns)")
      }
    }

  /** Every row of `table`, projected to `cols` in order, as JDBC
    * objects (String, java.lang.Long, java.sql.Timestamp, …). */
  def rows(table: String, cols: String*): Seq[Seq[Any]] =
    Using.resource(DriverManager.getConnection(url)) { conn =>
      val id = UpsertSink.Idents(conn)
      Using.resource(conn.createStatement()) { st =>
        val rs = st.executeQuery(s"SELECT ${cols.map(id(_)).mkString(", ")} FROM ${id(table)}")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => cols.indices.map(i => r.getObject(i + 1)))
          .toVector
      }
    }

  /** A tumbling-count sink table as (key, cnt, window_start) triples. */
  def windowCounts(table: String): Set[(String, Long, Timestamp)] =
    rows(table, "key", "cnt", "window_start")
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long], r(2).asInstanceOf[Timestamp]))
      .toSet
}
