package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between [[Column]] and Catalyst [[Expression]] for graft's
  * kernel calls.
  *
  * Spark 4.x made `org.apache.spark.sql.classic.ExpressionUtils`
  * `private[sql]`; this file lives in the `org.apache.spark.sql`
  * package purely to re-export the two conversions graft needs, and
  * the `inputTypes` element type (`AbstractDataType`, also
  * `private[sql]`). No other Spark internals are touched.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** An entry of an expression's `inputTypes`: a concrete `DataType`
    * or a family such as [[ArrayOfStructs]]. */
  type InputType = types.AbstractDataType

  /** Accepts an array of any struct: the centroid and codebook tables
    * the ANN kernels take, whose field names vary by caller. */
  object ArrayOfStructs extends types.AbstractDataType with Serializable {
    override def defaultConcreteType: types.DataType = types.ArrayType(new types.StructType())
    override def acceptsType(other: types.DataType): Boolean = other match {
      case types.ArrayType(_: types.StructType, _) => true
      case _ => false
    }
    override def simpleString: String = "array<struct>"
  }

  /** Stable per-session unique id (`classic.SparkSession.sessionUUID`,
    * not surfaced on the api-level class). Unlike
    * `System.identityHashCode`, a UUID is never reused after GC, so
    * caches keyed on it cannot alias a dead session's entries.
    */
  def sessionUUID(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => "idhash-" + System.identityHashCode(other)
  }

  /** Release the storage blocks behind a `localCheckpoint`ed Dataset.
    *
    * `Dataset.unpersist()` only uncaches entries registered with the
    * `CacheManager`; a local checkpoint persists its blocks directly
    * on the internal RDD, so `unpersist()` on the Dataset is a no-op
    * and the blocks linger until the RDD is GC'd. Iterative operators
    * (PageRank supersteps) call this to free the previous iterate
    * deterministically. Returns false (and does nothing) when the
    * plan is not a checkpoint scan — safe to call unconditionally.
    */
  def releaseLocalCheckpoint(df: Dataset[Row]): Boolean =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); true
      case _ => false
    }
}
