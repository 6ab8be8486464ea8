package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types._

/**
 * Data-layout kernels. Z-ordering (Morton curve) is the standard
 * multi-dimensional clustering trick for 100 TB scan pruning: sort/
 * range-partition the table by the interleaved key and BOTH dimensions
 * become selective at the file level — parquet row-group min/max
 * statistics then skip files for predicates on either column (a plain
 * sort gives that for the leading column only). The write path is
 * `df.repartitionByRange(N, col(z)).sortWithinPartitions(z)` + parquet;
 * this expression supplies the key.
 */

/** The layout kernels, written once: each expression's `nullSafeEval`
  * calls its method and its generated code calls the same method. */
object LayoutKernels {
  /** Java name of this object's static methods, for generated code. */
  private[functions] val Name: String = getClass.getName.stripSuffix("$")

  /** Morton interleave: bit 2i = x bit i, bit 2i+1 = y bit i, i < 16. */
  def zorder2(x: Int, y: Int): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1).toLong << (2 * i)
      z |= ((y >> i) & 1).toLong << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Position of (x, y) mod 2^16 on the order-16 Hilbert curve. */
  def hilbert2(px: Int, py: Int): Long = {
    var x = px & 0xffff
    var y = py & 0xffff
    var d = 0L
    var s = 1 << 15
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Morton interleave of the low 16 bits of two non-negative ints:
  * result bit 2i = x bit i, bit 2i+1 = y bit i — a 32-bit z-value as
  * LONG. Callers reduce dimensions mod 2^16 (or bucket them) first;
  * locality is preserved under any monotone per-dimension bucketing. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override def nullSafeEval(a: Any, b: Any): Any =
    LayoutKernels.zorder2(a.asInstanceOf[Int], b.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${LayoutKernels.Name}.zorder2($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Hilbert-curve index of a 16-bit 2-D point (the classic xy→d walk,
  * public-domain algorithm as on the Hilbert-curve literature): a
  * 32-bit position on the order-16 curve as LONG. Hilbert keeps every
  * curve-contiguous range a CONNECTED 2-D region (Morton has octave
  * jumps), so equal-size buckets of the sort key have tighter per-file
  * min/max boxes — strictly better row-group skipping at the same
  * layout cost. Callers reduce dimensions mod 2^16 first, as with
  * [[ZOrder2]]. */
case class Hilbert2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert2"

  override def nullSafeEval(a: Any, b: Any): Any =
    LayoutKernels.hilbert2(a.asInstanceOf[Int], b.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${LayoutKernels.Name}.hilbert2($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Column-API entry points for the layout kernels. */
object layout {
  def zorder2(x: Column, y: Column): Column =
    SparkShims.column(ZOrder2(SparkShims.expression(x), SparkShims.expression(y)))
  def hilbert2(x: Column, y: Column): Column =
    SparkShims.column(Hilbert2(SparkShims.expression(x), SparkShims.expression(y)))
}
