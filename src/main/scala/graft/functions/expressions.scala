package graft.functions

import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, TaggingExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** How every graft scalar kernel is called from Catalyst: Spark's
  * [[StaticInvoke]] of a static bridge method (its `child`), which
  * carries null propagation, a codegen'd static call and, with codegen
  * off, a reflective one. This wrapper evaluates and generates code
  * through its child. It checks the call's arguments against
  * `inputTypes` at analysis, exactly: the `StaticInvoke` gets no input
  * types, because Spark would then cast implicitly (an int column to a
  * string, a string to a bigint) where a kernel rejects another type.
  * It also keeps the kernel's name: an unaliased call reads
  * `name(args)`, and plans show `name(args)`, not `static_invoke(...)`.
  */
case class Kernel(name: String, inputTypes: Seq[GraftShim.InputType], child: Expression)
    extends TaggingExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(child.children, inputTypes)
  override def prettyName: String = name
  override def sql: String = child.children.map(_.sql).mkString(s"$name(", ", ", ")")
  override def toString: String = child.children.mkString(s"$name(", ", ", ")")
  override protected def withNewChildInternal(c: Expression): Kernel = copy(child = c)
}

object Kernel {

  /** The column `name(args)` computing `obj.fn(args)`, where `obj` is
    * the Scala object holding the static bridge. Constant parameters
    * are passed as [[const]] columns. `nullable` marks a result that
    * may be null on non-null inputs (a bridge returning a boxed value
    * or `null`).
    */
  def call(obj: AnyRef, name: String, fn: String, dataType: DataType,
      inputTypes: Seq[GraftShim.InputType], nullable: Boolean = false)(
      args: Column*): Column =
    GraftShim.column(Kernel(name, inputTypes, StaticInvoke(obj.getClass, dataType, fn,
      args.map(GraftShim.expression), returnNullable = nullable)))

  /** A constant parameter of [[call]], as a Catalyst `Literal`: a
    * `functions.lit` column stays an unconverted column node when the
    * call is built from SQL. */
  def const(v: Any): Column = GraftShim.column(Literal(v))
}

/** Column-API entry points for graft's custom scalar functions. */
object GraftFunctions {
  private val Text = Seq(StringType)

  /** Keccak-256 of the UTF-8 bytes of the input string, as lowercase hex. */
  def keccak256_hex(c: Column): Column =
    Kernel.call(ExprBridge, "keccak256_hex", "keccak256Hex", StringType, Text)(c)

  /** EIP-55 mixed-case checksum rendering of a hex address
    * (reference: ethers `to_checksum`, etl_result.rs:166-171).
    * Malformed addresses (not 40 hex chars after stripping 0x) yield null.
    */
  def checksum_address(c: Column): Column = Kernel.call(ExprBridge,
    "checksum_address", "checksumAddress", StringType, Text, nullable = true)(c)

  /** 64-bit SimHash of whitespace-separated tokens of the input string.
    * Each token is hashed (FNV-1a 64); bit-majority over token hashes
    * forms the signature. Near-duplicate texts differ in few bits.
    */
  def simhash64(c: Column): Column =
    Kernel.call(ExprBridge, "simhash64", "simhash64", LongType, Text)(c)

  private def col(e: Expression): Column = GraftShim.column(e)
  private def expr(c: Column): Expression = GraftShim.expression(c)

  private def unary(name: String, f: Column => Column)(es: Seq[Expression]): Expression = {
    if (es.length != 1)
      throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${es.length}")
    expr(f(col(es.head)))
  }

  private def binary(name: String, f: (Column, Column) => Column)(
      es: Seq[Expression]): Expression = {
    if (es.length != 2)
      throw new IllegalArgumentException(
        s"$name expects exactly 2 arguments, got ${es.length}")
    expr(f(col(es.head), col(es(1))))
  }

  /** Every SQL-callable function as (name, builder) — the single list
    * behind both [[register]] (per-session temp functions, the test /
    * notebook path) and [[graft.GraftExtensions]] (cluster-wide
    * injection via `spark.sql.extensions`, the deploy path).
    */
  def sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "keccak256_hex" -> unary("keccak256_hex", keccak256_hex) _,
    "checksum_address" -> unary("checksum_address", checksum_address) _,
    "simhash64" -> unary("simhash64", simhash64) _,
    "flatten_calls" -> unary("flatten_calls", FlattenCalls.flatten_calls) _,
    "quantized_dot" -> binary("quantized_dot", VecFunctions.quantized_dot) _,
    "dot_long" -> binary("dot_long", VecFunctions.dot_long) _,
    "cosine_sim" -> binary("cosine_sim", VecFunctions.cosine_sim) _,
    "arith_minhash_sig" -> unary("arith_minhash_sig", VecFunctions.arith_minhash_sig(_)) _,
    "fnv64" -> unary("fnv64", LlmFunctions.fnv64) _)

  /** Register SQL-callable names on a session (idempotent — names
    * already present are left alone, so repeated calls across a bench
    * run don't spam `SimpleFunctionRegistry ... replaced` WARNs). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!reg.functionExists(ident))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
