package graft.functions

import graft.functions.Kernel.const
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Space-filling-curve kernels for [[graft.operators.Layout]]. Pure
  * JVM (dependency-free) so the kernel call ([[Kernel]]) can call
  * straight into it from generated code.
  */
object SpaceFill {

  /** Hilbert curve index of (x, y) on a 2^bits × 2^bits grid — the
    * classic xy2d bit-level walk (Warren, Hacker's Delight §16-1 /
    * the Wikipedia reference form): at each scale s the quadrant pair
    * (rx, ry) contributes s²·((3·rx) xor ry) and the lower bits are
    * reflected/swapped into the quadrant's local frame. Inputs are
    * masked to their low `bits` bits. Unlike the Morton code, EVERY
    * consecutive pair of Hilbert indices is a grid-neighbour
    * (manhattan distance 1) — no quadrant-boundary jumps — which is
    * why equal-width index ranges give tighter per-file bounding
    * boxes on adversarial query shapes.
    */
  def hilbert2d(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert curve index of `xs.length` coordinates on a
    * 2^bits-per-side grid, any dimension count — the Skilling
    * transform (John Skilling, "Programming the Hilbert curve", AIP
    * Conf. Proc. 707, 2004: AxesToTranspose), followed by bit
    * interleaving of the transposed words (axis 0's bit is the most
    * significant within each bit plane). Same contract as
    * [[hilbert2d]]: inputs masked to their low `bits` bits, every
    * consecutive pair of indices is a grid neighbour (Manhattan
    * distance 1), and the map is a bijection onto [0, 2^(d·bits)).
    * NOTE: at d = 2 this is a valid Hilbert curve but a different
    * orientation than [[hilbert2d]]'s xy2d walk — both are bijective
    * and neighbour-preserving; callers must not mix codes from the
    * two kernels within one layout.
    */
  def hilbertD(xs: Array[Long], bits: Int): Long = {
    val d = xs.length
    require(d >= 1, "hilbertD needs at least one dimension")
    require(bits > 0 && d * bits <= 62, s"bits=$bits × d=$d out of range")
    val mask = (1L << bits) - 1L
    val x = new Array[Long](d)
    var i = 0
    while (i < d) { x(i) = xs(i) & mask; i += 1 }
    // Skilling AxesToTranspose: inverse undo…
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < d) {
        if ((x(i) & q) != 0) x(0) ^= p // invert
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t } // exchange
        i += 1
      }
      q >>= 1
    }
    // …then Gray encode
    i = 1
    while (i < d) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((x(d - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < d) { x(i) ^= t; i += 1 }
    // interleave the transposed words: bit j of axis i lands at
    // output position j*d + (d-1-i), so axis 0 leads each bit plane
    var h = 0L
    var j = 0
    while (j < bits) {
      i = 0
      while (i < d) {
        h |= ((x(i) >> j) & 1L) << (j * d + (d - 1 - i))
        i += 1
      }
      j += 1
    }
    h
  }

  /** Fixed-arity 3-D [[hilbertD]] — the form generated code calls. */
  def hilbert3d(x: Long, y: Long, z: Long, bits: Int): Long =
    hilbertD(Array(x, y, z), bits)
}

object SpaceFillFunctions {
  /** Hilbert index of two long columns (`bits` low bits each). */
  def hilbert2d(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits > 0 && 2 * bits <= 62, s"bits=$bits out of range")
    Kernel.call(SpaceFill, "hilbert2d", "hilbert2d", LongType,
      Seq(LongType, LongType, IntegerType))(
      x.cast("long"), y.cast("long"), const(bits))
  }

  /** 3-D Skilling-Hilbert index of three long columns. */
  def hilbert3d(x: Column, y: Column, z: Column, bits: Int = 16): Column = {
    require(bits > 0 && 3 * bits <= 62, s"bits=$bits out of range")
    Kernel.call(SpaceFill, "hilbert3d", "hilbert3d", LongType,
      Seq(LongType, LongType, LongType, IntegerType))(
      x.cast("long"), y.cast("long"), z.cast("long"), const(bits))
  }
}
