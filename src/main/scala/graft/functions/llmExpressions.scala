package graft.functions

import graft.functions.Kernel.const
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side bridges between TextHash/Keccak/VecHash and Catalyst's
  * internal representation (kept out of TextHash and Keccak so those
  * stay dependency-free).
  */
object ExprBridge {
  def keccak256Hex(s: UTF8String): UTF8String = UTF8String.fromString(Keccak.hash256Hex(s.getBytes))
  def checksumAddress(s: UTF8String): UTF8String = UTF8String.fromString(Keccak.toChecksumAddress(s.toString))
  def simhash64(s: UTF8String): Long = TextHash.simhash64(s.toString)
  def fingerprint64(s: UTF8String): Long = TextHash.fingerprint(s.toString, 16)
  def fnv64(s: UTF8String): Long = TextHash.fnv1a64(s.toString)

  def minhashBands(text: UTF8String, k: Int, shingle: Int, bands: Int): ArrayData =
    new GenericArrayData(
      TextHash.lshBands(TextHash.minhash(text.toString, k, shingle), bands))

  def hyperplaneBucket(arr: ArrayData, planes: Int, seed: Int): Int = {
    val n = arr.numElements()
    var bucket = 0
    var j = 0
    while (j < planes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        // deterministic ±1 hyperplane component from (seed, plane, dim)
        val h = TextHash.mix64((seed.toLong * 1000003L + j) * 1000003L + i)
        val sign = if ((h & 1L) == 0L) 1.0 else -1.0
        dot += sign * arr.getFloat(i)
        i += 1
      }
      if (dot >= 0) bucket |= (1 << j)
      j += 1
    }
    bucket
  }
}

object LlmFunctions {
  private val Text = Seq(StringType)

  /** MinHash-LSH band keys of a document: 64-slot MinHash signature over
    * 3-token shingles, folded into 16 band keys. Two documents sharing
    * any band key are near-duplicate candidates (Broder '97 / LSH
    * banding as in Mining of Massive Datasets ch.3). Rows per band = 4
    * -> P(candidate | s) = 1-(1-s^4)^16.
    */
  def minhash_bands(c: Column): Column =
    Kernel.call(ExprBridge, "minhash_bands", "minhashBands",
      ArrayType(LongType, containsNull = false),
      Seq(StringType, IntegerType, IntegerType, IntegerType))(c, const(64), const(3), const(16))

  /** Winnowing document fingerprint (min FNV hash over 16-char windows;
    * Schleimer et al., SIGMOD'03).
    */
  def fingerprint64(c: Column): Column =
    Kernel.call(ExprBridge, "fingerprint64", "fingerprint64", LongType, Text)(c)

  /** FNV-1a64 of a string — the shared feature-hashing primitive (the
    * same kernel MinHash/SimHash fold internally).
    */
  def fnv64(c: Column): Column =
    Kernel.call(ExprBridge, "fnv64", "fnv64", LongType, Text)(c)

  /** splitmix64 finalizer over a LONG column ([[TextHash.mix64]]) —
    * strengthens the high bits of a base hash before an ORDER-statistic
    * use (KMV's kth-min): raw FNV-1a of short sequential keys is
    * measurably non-uniform in its high bits (a u0..u799 key set read
    * 378 estimated distinct of 800 true), while low-bit uses (CMS /
    * classifier bucket masks) don't need it. Oracle mirror:
    * FnvOracleSql.mix64Ctes.
    */
  def mix64(c: Column): Column =
    Kernel.call(TextHash, "mix64", "mix64", LongType, Seq(LongType))(c)

  /** Random-hyperplane LSH bucket of an embedding vector: sign bits of
    * `planes` deterministic ±1 hyperplane projections (Charikar '02
    * SimHash for cosine similarity). Vectors in the same bucket are
    * likely cosine-similar.
    */
  def hyperplane_lsh(c: Column, planes: Int, seed: Int = 0): Column =
    Kernel.call(ExprBridge, "hyperplane_lsh", "hyperplaneBucket", IntegerType,
      Seq(ArrayType(FloatType), IntegerType, IntegerType))(c, const(planes), const(seed))
}
