package graft.functions

import graft.operators.Flatten
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** F1 as a Catalyst Generator: SQL surface for the recursive
  * call-frame flatten —
  * `SELECT ... FROM t LATERAL VIEW flatten_calls(frame_json) f`
  * (reference semantics: geth_trace.rs:46-84; see
  * [[graft.operators.Flatten]] for the Dataset-API form).
  *
  * CodegenFallback: the recursive JSON walk can't be inlined into
  * generated code, but generators sit at stage boundaries anyway so
  * the surrounding stages still fuse.
  */
case class FlattenCalls(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
  override def inputTypes: Seq[GraftShim.InputType] = Seq(StringType)

  override def elementSchema: StructType = FlattenCalls.schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val json = child.eval(input)
    if (json == null) Nil
    else Flatten.flattenJson(json.toString).map { f =>
      InternalRow(
        UTF8String.fromString(f.from_address),
        UTF8String.fromString(f.to_address),
        UTF8String.fromString(f.input),
        UTF8String.fromString(f.output),
        UTF8String.fromString(f.value),
        f.gas.map(java.lang.Long.valueOf).orNull,
        f.gas_used.map(java.lang.Long.valueOf).orNull,
        UTF8String.fromString(f.call_type),
        UTF8String.fromString(f.error),
        f.subtraces,
        new GenericArrayData(f.trace_address.toArray),
      )
    }
  }

  override protected def withNewChildInternal(newChild: Expression): FlattenCalls =
    copy(child = newChild)
}

object FlattenCalls {
  val schema: StructType = StructType(Seq(
    StructField("from_address", StringType),
    StructField("to_address", StringType),
    StructField("input", StringType),
    StructField("output", StringType),
    StructField("value", StringType),
    StructField("gas", LongType),
    StructField("gas_used", LongType),
    StructField("call_type", StringType),
    StructField("error", StringType),
    StructField("subtraces", IntegerType, nullable = false),
    StructField("trace_address", ArrayType(IntegerType, containsNull = false)),
  ))

  def flatten_calls(c: Column): Column =
    GraftShim.column(FlattenCalls(GraftShim.expression(c)))
}
