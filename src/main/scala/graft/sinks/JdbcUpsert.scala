package graft.sinks

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, Row}

/** Conflict policy per output table (reference: etl_result.rs —
  * transactions ON CONFLICT DO NOTHING :153-159, contracts DO NOTHING
  * :213-216, blocks DO UPDATE full overwrite :267-281).
  */
sealed trait ConflictPolicy
case object DoNothing extends ConflictPolicy
case object Overwrite extends ConflictPolicy

case class UpsertSpec(
    table: String,
    columns: Seq[String],
    conflictKeys: Seq[String],
    policy: ConflictPolicy,
)

/** SNK1/SNK2: batched idempotent JDBC upsert for `foreachBatch`.
  *
  * Shape mirrors the reference's dump loop (main.rs:88-141): rows are
  * written in per-partition PreparedStatement batches inside one
  * transaction per partition, with ON CONFLICT making redelivery
  * idempotent (at-least-once + idempotent sink = the reference's
  * delivery contract; SURVEY §2.9).
  *
  * Dialects: `postgres` emits INSERT .. ON CONFLICT; `derby` emits an
  * equivalent MERGE (used by the in-process integration test, since
  * Derby ships with Spark). Derby's MERGE is only safe from concurrent
  * partitions with the database booted under
  * `derby.language.statementCacheSize=0`: with the cache on, every
  * connection runs one shared compiled plan, and concurrent MERGEs on
  * distinct keys then fail, lose committed rows or deadlock.
  */
/** A prepared upsert statement plus the column order its `?`
  * placeholders bind in (dialects differ).
  */
case class UpsertStatement(sql: String, paramCols: Seq[String])

object JdbcUpsert {

  /** Identifiers are emitted double-quoted so reserved words
    * (`input`, `value`, `size` — all real trace columns) are legal in
    * every dialect; tables must therefore be created with (lowercase)
    * quoted column names.
    */
  private def q(c: String): String = "\"" + c + "\""

  def upsertStatement(spec: UpsertSpec, dialect: String): UpsertStatement = {
    val cols = spec.columns.map(q).mkString(", ")
    val placeholders = spec.columns.map(_ => "?").mkString(", ")
    dialect match {
      case "postgres" =>
        val conflict = spec.policy match {
          case DoNothing => "DO NOTHING"
          case Overwrite =>
            val sets = spec.columns.filterNot(spec.conflictKeys.contains)
              .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
            s"DO UPDATE SET $sets"
        }
        UpsertStatement(
          s"INSERT INTO ${spec.table} ($cols) VALUES ($placeholders) " +
            s"ON CONFLICT (${spec.conflictKeys.map(q).mkString(", ")}) $conflict",
          spec.columns)
      case "derby" =>
        // Derby MERGE against the one-row dummy table; the row's values
        // are bound directly into the ON / SET / INSERT positions
        val on = spec.conflictKeys.map(k => s"t.${q(k)} = ?").mkString(" AND ")
        val nonKeys = spec.columns.filterNot(spec.conflictKeys.contains)
        val matched = spec.policy match {
          case DoNothing => ""
          case Overwrite =>
            s"WHEN MATCHED THEN UPDATE SET ${nonKeys.map(c => s"t.${q(c)} = ?").mkString(", ")} "
        }
        val sql = s"MERGE INTO ${spec.table} t USING SYSIBM.SYSDUMMY1 ON $on " +
          matched +
          s"WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($placeholders)"
        val params = spec.policy match {
          case DoNothing => spec.conflictKeys ++ spec.columns
          case Overwrite => spec.conflictKeys ++ nonKeys ++ spec.columns
        }
        UpsertStatement(sql, params)
      case other => throw new IllegalArgumentException(s"unknown dialect: $other")
    }
  }

  /** Upsert a DataFrame. Executor-side: one connection + prepared
    * statement per partition, addBatch/executeBatch in `batchSize`
    * chunks, commit per partition. Returns the rows bound, counted by
    * the partitions that committed (rows offered, not rows inserted:
    * a conflict still counts).
    */
  def upsert(df: DataFrame, url: String, spec: UpsertSpec,
      dialect: String, batchSize: Int = 1000): Long = {
    val bound = df.sparkSession.sparkContext.longAccumulator
    val stmt = upsertStatement(spec, dialect)
    val cols = spec.columns
    // bind positions: index of each param column in the selected row
    val paramIdx = stmt.paramCols.map(cols.indexOf).toArray
    df.select(cols.head, cols.tail: _*).foreachPartition { (rows: Iterator[Row]) =>
      val conn: Connection = DriverManager.getConnection(url)
      var ok = false
      try {
        conn.setAutoCommit(false)
        val st = conn.prepareStatement(stmt.sql)
        var n = 0
        rows.foreach { r =>
          var i = 0
          while (i < paramIdx.length) {
            st.setObject(i + 1, r.get(paramIdx(i)))
            i += 1
          }
          st.addBatch()
          n += 1
          if (n % batchSize == 0) st.executeBatch()
        }
        st.executeBatch()
        conn.commit()
        bound.add(n)
        st.close()
        ok = true
      } finally {
        // roll back first so close() can't mask the original failure
        if (!ok) try conn.rollback() catch { case _: Throwable => () }
        try conn.close() catch { case _: Throwable => if (ok) throw new RuntimeException("close failed") }
      }
    }
    bound.value
  }
}
