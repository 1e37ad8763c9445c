package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, struct}

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

/** A prepared upsert statement plus the column order its `?`
  * placeholders bind in (dialects differ).
  */
case class UpsertStatement(sql: String, paramCols: Seq[String])

/** SNK1/SNK2: batched idempotent JDBC upsert for `foreachBatch`.
  *
  * Shape mirrors the reference's dump loop (main.rs:88-141): one flush
  * of mixed results lands in one transaction. Each Spark partition is
  * written over one connection, with one PreparedStatement per table
  * it holds, in addBatch/executeBatch chunks, and one commit, so a
  * partition's rows of every table commit together or not at all.
  * ON CONFLICT makes redelivery idempotent (at-least-once +
  * idempotent sink = the reference's delivery contract; SURVEY §2.9).
  *
  * Dialects: `postgres` emits INSERT .. ON CONFLICT; `derby` emits an
  * equivalent MERGE (used by the in-process integration test, since
  * Derby ships with Spark). Derby's MERGE is only safe from concurrent
  * partitions with the database booted under
  * `derby.language.statementCacheSize=0`: with the cache on, every
  * connection runs one shared compiled plan, and concurrent MERGEs on
  * distinct keys then fail, lose committed rows or deadlock.
  */
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

  /** Upsert one table's rows: `df` holds (at least) `spec.columns`.
    * The one-table case of [[upsertTagged]]. Returns the rows bound.
    */
  def upsert(df: DataFrame, url: String, spec: UpsertSpec,
      dialect: String, batchSize: Int = 1000): Long =
    upsertTagged(df.select(lit(0).as("table"), struct(spec.columns.map(col): _*).as(spec.table)),
      url, Seq(spec), dialect, batchSize)

  /** Upsert the rows of several tables in one Spark action. `tagged`'s
    * first column is an int tag: the index in `specs` of the table a
    * row belongs to. Its column `1 + i` is a struct of
    * `specs(i).columns`, in that order, set on table `i`'s rows (the
    * other tables' structs are ignored there).
    *
    * Executor-side, each partition is one transaction: one
    * connection, one prepared statement per table present, `batchSize`
    * chunks per statement, one commit. A failed partition rolls back
    * every table's rows. Returns the rows bound, counted by the
    * partitions that committed (rows offered, not rows inserted: a
    * conflict still counts).
    */
  def upsertTagged(tagged: DataFrame, url: String, specs: Seq[UpsertSpec],
      dialect: String, batchSize: Int = 1000): Long = {
    val bound = tagged.sparkSession.sparkContext.longAccumulator
    val stmts = specs.map(upsertStatement(_, dialect))
    val sqls = stmts.map(_.sql).toArray
    // bind positions: index of each param column in the table's struct
    val paramIdx = specs.zip(stmts).map { case (spec, st) =>
      st.paramCols.map(spec.columns.indexOf).toArray }.toArray
    tagged.foreachPartition { (rows: Iterator[Row]) =>
      val conn: Connection = DriverManager.getConnection(url)
      val st = new Array[PreparedStatement](sqls.length)
      val pending = new Array[Int](sqls.length)
      var ok = false
      try {
        conn.setAutoCommit(false)
        var n = 0L
        rows.foreach { r =>
          val t = r.getInt(0)
          if (st(t) == null) st(t) = conn.prepareStatement(sqls(t))
          val v = r.getStruct(1 + t)
          val idx = paramIdx(t)
          var i = 0
          while (i < idx.length) {
            st(t).setObject(i + 1, v.get(idx(i)))
            i += 1
          }
          st(t).addBatch()
          pending(t) += 1
          if (pending(t) == batchSize) {
            st(t).executeBatch()
            pending(t) = 0
          }
          n += 1
        }
        st.foreach(s => if (s != null) s.executeBatch())
        conn.commit()
        bound.add(n)
        st.foreach(s => if (s != null) s.close())
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
