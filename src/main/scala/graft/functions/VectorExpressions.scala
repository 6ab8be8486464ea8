package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the distance kernels (SURVEY.md §2.7;
 * reference: Distances.java:31-153) and PQ ADC lookup
 * (reference: FdbVectorIndex.java:1057-1079).
 *
 * Each kernel is written once, as a static method of [[VectorKernels]].
 * `nullSafeEval` calls it, and `doGenCode` emits a call to the same method
 * (Spark's `DateTimeUtils` idiom), so whole-stage codegen keeps the
 * computation inside the generated loop with no UDF serialization. The
 * segment task of `graft.index.Search` scores with the same methods.
 *
 * The kernels read primitive arrays: each array argument is copied out of
 * its `ArrayData` once per row (`toFloatArray()`, a bulk copy for unsafe
 * and columnar arrays), or once per plan when it is foldable ([[Folded]]).
 * A per-element `UnsafeArrayData.getFloat` loop measured slower than
 * that copy plus a `float[]` loop: 2.3x at dim 768 and 2.7x at dim 64
 * (cosine, one warm JVM on a 4-vCPU host).
 *
 * Accumulation: double, sequential in index order — bit-deterministic and
 * identical to graft.core.Distances and to a double-lambda DuckDB oracle.
 */
object VectorKernels {
  /** Java name of this object's static methods, for generated code. */
  private[functions] val Name: String = getClass.getName.stripSuffix("$")

  /** Squared L2 distance over the first min(len) lanes (reference: Distances.java:48-64). */
  def l2Squared(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x(i).toDouble - y(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Dot product over the first min(len) lanes (reference: Distances.java:103-118). */
  def dot(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x(i).toDouble * y(i).toDouble
      i += 1
    }
    acc
  }

  /** L2 norm of all lanes (reference: Distances.java:126-140). */
  def norm(x: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < x.length) {
      val v = x(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  /** Cosine similarity over the first min(len) lanes; 0.0 if either norm
    * is 0 (reference: Distances.java:149-153). */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble
      val yv = y(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosine]] of int8 codes `x` against float lanes `y`. */
  def cosineI8(x: Array[Byte], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble
      val yv = y(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ_m lut[m*K + (code[m] & 0xFF)], K = len(lut) / len(code); 0.0 for an
    * empty code. The LUT stays `ArrayData`: only M of its M*K entries are read. */
  def pqAdc(lut: ArrayData, code: Array[Byte]): Double = {
    val m = code.length
    if (m == 0) return 0.0
    val k = lut.numElements() / m
    var acc = 0.0
    var i = 0
    while (i < m) {
      acc += lut.getDouble(i * k + (code(i) & 0xff))
      i += 1
    }
    acc
  }

  /** Index in [0, k) of the row of the flat `cents` (k = len(cents) / len(vec))
    * nearest `vec` by squared L2; ties go to the lower index. */
  def argminL2(vec: Array[Float], cents: Array[Float]): Int =
    nearest(vec, 0, vec.length, cents, 0, if (vec.length == 0) 0 else cents.length / vec.length)

  /** PQ code of `emb` over `m` subspaces: code[s] is [[nearest]] over the
    * k centroids of subspace s, which start at (s*k + c)*subDim in `cents`. */
  def pqEncode(emb: Array[Float], cents: Array[Float], m: Int): Array[Byte] = {
    require(m > 0, s"pq_encode: m must be positive, got $m")
    val subDim = emb.length / m
    val k = if (subDim == 0) 0 else cents.length / (m * subDim)
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      out(s) = nearest(emb, s * subDim, subDim, cents, s * k * subDim, k).toByte
      s += 1
    }
    out
  }

  /** argmin over c ∈ [0, k) of ||x[off, off+len) - cents[base + c*len, +len)||²,
    * strict `<` so ties go to the lower c (Pq.encode's rule); 0 when k = 0. */
  private def nearest(
      x: Array[Float], off: Int, len: Int, cents: Array[Float], base: Int, k: Int): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val cOff = base + c * len
      var acc = 0.0
      var i = 0
      while (i < len) {
        val d = x(off + i).toDouble - cents(cOff + i).toDouble
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** `vec` (dIn lanes) times the row-major dOut×dIn `signs`, each
    * component snapped to 6 decimals HALF_UP. */
  def signProject(vec: Array[Float], signs: Array[Double]): ArrayData = {
    val dIn = vec.length
    val dOut = if (dIn == 0) 0 else signs.length / dIn
    val out = new Array[Double](dOut)
    var i = 0
    while (i < dOut) {
      val off = i * dIn
      var acc = 0.0
      var j = 0
      while (j < dIn) {
        acc += signs(off + j) * vec(j).toDouble
        j += 1
      }
      out(i) = java.math.BigDecimal.valueOf(acc)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sign bits (> 0) packed MSB-first, 32 per non-negative LONG word. */
  def binarizeSign(x: Array[Float]): ArrayData = {
    val n = x.length
    val words = (n + 31) / 32
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      var acc = 0L
      var j = w * 32
      val end = math.min(j + 32, n)
      while (j < end) {
        acc = acc * 2 + (if (x(j) > 0f) 1L else 0L)
        j += 1
      }
      out(w) = acc
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Σ popcount(x_i XOR y_i) over the first min(len) words. */
  def hamming(x: Array[Long], y: Array[Long]): Long = {
    val n = math.min(x.length, y.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(x(i) ^ y(i))
      i += 1
    }
    acc
  }
}

/**
 * A foldable array argument — trained centroids, a codebook, a sign
 * matrix, a query literal — flattened to a primitive array ONCE:
 * ArrayData.getFloat on a 200k-element GenericArrayData literal boxes per
 * access, which at dim 768 / m 16 / k 256 is 2e5 boxed reads PER ROW in a
 * build scan's hot loop. Generated code shares the flat array through a
 * codegen reference; a non-foldable argument is copied once per row.
 */
private[functions] object Folded {
  def floats(e: Expression): Array[Float] =
    if (!e.foldable) null
    else e.eval(null) match { case ad: ArrayData => ad.toFloatArray(); case _ => null }

  def doubles(e: Expression): Array[Double] =
    if (!e.foldable) null
    else e.eval(null) match { case ad: ArrayData => ad.toDoubleArray(); case _ => null }

  /** The kernel argument: the `folded` array, else the row's `value` copied. */
  def arg(folded: Array[Float], value: Any): Array[Float] =
    if (folded != null) folded else value.asInstanceOf[ArrayData].toFloatArray()

  def arg(folded: Array[Double], value: Any): Array[Double] =
    if (folded != null) folded else value.asInstanceOf[ArrayData].toDoubleArray()

  /** The same argument in generated code; `value` is the row's Java term. */
  def argCode(ctx: CodegenContext, folded: Array[Float], value: String): String =
    if (folded != null) ctx.addReferenceObj("folded", folded, "float[]")
    else s"$value.toFloatArray()"

  def argCode(ctx: CodegenContext, folded: Array[Double], value: String): String =
    if (folded != null) ctx.addReferenceObj("folded", folded, "double[]")
    else s"$value.toDoubleArray()"
}

/** A kernel of two ARRAY<FLOAT> vectors with a DOUBLE result: `nullSafeEval`
  * calls [[kernel]] and the generated code calls the [[VectorKernels]]
  * method named [[method]], both on the [[Folded]] arguments. */
trait VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  protected def method: String
  protected def kernel(x: Array[Float], y: Array[Float]): Double

  @transient private lazy val foldedLeft: Array[Float] = Folded.floats(left)
  @transient private lazy val foldedRight: Array[Float] = Folded.floats(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(Folded.arg(foldedLeft, a), Folded.arg(foldedRight, b))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.$method(" +
      s"${Folded.argCode(ctx, foldedLeft, a)}, ${Folded.argCode(ctx, foldedRight, b)})")
}

/** Squared L2 distance between two float arrays (reference: Distances.java:48-64). */
case class L2SquaredDistance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2_squared"
  override protected def method: String = "l2Squared"
  override protected def kernel(x: Array[Float], y: Array[Float]): Double =
    VectorKernels.l2Squared(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Dot product (reference: Distances.java:103-118). */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"
  override protected def method: String = "dot"
  override protected def kernel(x: Array[Float], y: Array[Float]): Double =
    VectorKernels.dot(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Cosine similarity; 0.0 if either norm is 0 (reference: Distances.java:149-153). */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"
  override protected def method: String = "cosine"
  override protected def kernel(x: Array[Float], y: Array[Float]): Double =
    VectorKernels.cosine(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** L2 norm of one float array (reference: Distances.java:126-140). */
case class VectorNorm(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"
  override def nullSafeEval(a: Any): Any =
    VectorKernels.norm(a.asInstanceOf[ArrayData].toFloatArray())
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${VectorKernels.Name}.norm($a.toFloatArray())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/**
 * PQ asymmetric-distance-computation lookup
 * (reference: FdbVectorIndex.java:1057-1065 `pqApproxDistance`).
 *
 * left:  flattened LUT ARRAY<DOUBLE> of length M*K — lut[m*K + c] is the
 *        squared sub-distance of the query's m-th subvector to centroid c.
 * right: BINARY code of length M (one centroid id per subspace).
 * result: Σ_m lut[m*K + (code[m] & 0xFF)].
 */
case class PqAdcDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(DoubleType), BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_distance"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.pqAdc($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/**
 * PQ encoding: nearest centroid per subspace by squared L2
 * (reference: pq/PqEncoder.java:18-38), as a codegen'd column so index
 * builds encode inside the scan's generated loop — one pass over the
 * corpus, no UDF serialization.
 *
 * first:  embedding ARRAY<FLOAT> of length m*subDim.
 * second: flat codebook ARRAY<FLOAT> of length m*k*subDim (centroid (s,c)
 *         starts at (s*k + c)*subDim — graft.index.Pq.Codebook layout),
 *         a broadcast-sized literal ([[Folded]]).
 * third:  m (number of subspaces; INT, must be positive).
 * result: BINARY code of length m, code[s] = argmin_c ||sub_s - cent||².
 * Ties break toward the lower centroid id (strict `<`), matching
 * Pq.encode; k must be ≤ 256 so a centroid id fits one byte.
 */
case class PqEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType), ArrayType(FloatType), IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  @transient private lazy val foldedCents: Array[Float] = Folded.floats(second)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VectorKernels.pqEncode(a.asInstanceOf[ArrayData].toFloatArray(),
      Folded.arg(foldedCents, b), c.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"${VectorKernels.Name}.pqEncode(" +
      s"$a.toFloatArray(), ${Folded.argCode(ctx, foldedCents, b)}, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, sE: Expression, t: Expression): Expression = copy(f, sE, t)
}

/**
 * argmin over a FLATTENED centroid matrix: the index c ∈ [0, k) whose
 * row minimizes squared L2 against `left` (k = centroids.length / dim;
 * ties break toward the lower index, matching `least()` on (d, c)
 * structs and Pq.encode).
 *
 * This is the cluster-assignment kernel for IVF builds. It exists
 * because composing it from built-ins — least(struct(l2_squared(emb,
 * cent_c), c) for every c) — inlines nlist independent distance kernels
 * into one generated method: at nlist=64 / dim=768 that method blows
 * past HotSpot's JIT size limits and runs interpreted (~100× slower;
 * observed 29 min for a 50k-row build). One compact loop stays
 * JIT-friendly at any (nlist, dim). A foldable centroid argument is
 * flattened once ([[Folded]]).
 */
case class ArgminL2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmin_l2"

  @transient private lazy val foldedCents: Array[Float] = Folded.floats(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.argminL2(a.asInstanceOf[ArrayData].toFloatArray(), Folded.arg(foldedCents, b))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.argminL2(" +
      s"$a.toFloatArray(), ${Folded.argCode(ctx, foldedCents, b)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/**
 * Cosine between an int8-quantized code array and a full-precision float
 * query — the SQ8 approximate-scan kernel. Symmetric per-vector
 * quantization (`round(x·127/maxAbs)`) preserves direction up to the
 * rounding grid and the positive scale drops out of cosine, so scanning
 * the 1-byte codes against the raw query needs NO dequantization pass —
 * a 4x narrower scan than float32 with the same loop shape as
 * [[CosineSimilarity]].
 */
case class CosineSimilarityI8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(ByteType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_i8"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineI8(a.asInstanceOf[ArrayData].toByteArray(),
      b.asInstanceOf[ArrayData].toFloatArray())
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${VectorKernels.Name}.cosineI8($a.toByteArray(), $b.toFloatArray())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/**
 * Dense sign-matrix projection in ONE compact kernel: `vec` (dIn floats)
 * × a plan-time ±1 matrix (`signs`, row-major dOut×dIn doubles) →
 * dOut-dim double array, each component snapped to 6 decimals
 * (HALF_UP, the k-means convention) so projected values reproduce
 * bit-for-bit in a SQL oracle. An unrolled per-component `Column` sum at
 * dOut×dIn = 2048 terms blows Janino's method limit and drops the whole
 * stage to interpreted mode — this loop stays inside whole-stage
 * codegen at any dimension (same motivation as [[ArgminL2]]).
 */
case class SignProject(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sign_project"

  @transient private lazy val foldedSigns: Array[Double] = Folded.doubles(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.signProject(a.asInstanceOf[ArrayData].toFloatArray(),
      Folded.arg(foldedSigns, b))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.Name}.signProject(" +
      s"$a.toFloatArray(), ${Folded.argCode(ctx, foldedSigns, b)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/**
 * Symmetric per-vector int8 quantization stats in ONE pass:
 * STRUCT(scale, codes_sum, codes_l1, max_abs_err, mse).
 *
 * scale = max|x| / 127; code_i = floor(x_i/scale + 0.5) ∈ [-127, 127];
 * errors measured against the dequantized values. A single expression —
 * not composed built-ins — because the shared `scale` subexpression would
 * be inlined into every element lambda by CollapseProject (O(dim²) work
 * per row). Every operation (float→double cast, max, divide, floor,
 * multiply-subtract, index-order sum) is IEEE-identical in DuckDB list
 * lambdas, so the stats are SQL-oracle-checkable at full precision.
 * Zero vectors yield scale 0 and all-zero stats.
 */
case class Int8QuantStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow

  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes_sum", LongType, nullable = false),
    StructField("codes_l1", LongType, nullable = false),
    StructField("max_abs_err", DoubleType, nullable = false),
    StructField("mse", DoubleType, nullable = false)))
  override def prettyName: String = "int8_quant_stats"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > m) m = v
      i += 1
    }
    if (m == 0.0 || n == 0) InternalRow(0.0, 0L, 0L, 0.0, 0.0)
    else {
      val scale = m / 127.0
      var sum = 0L
      var l1 = 0L
      var maxErr = 0.0
      var sq = 0.0
      i = 0
      while (i < n) {
        val v = x.getFloat(i).toDouble
        val q = math.floor(v / scale + 0.5).toLong
        val e = v - q * scale
        val ae = math.abs(e)
        if (ae > maxErr) maxErr = ae
        sq += e * e
        sum += q
        l1 += math.abs(q)
        i += 1
      }
      InternalRow(scale, sum, l1, maxErr, sq / n)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/**
 * Sign binarization of a float vector into packed 32-bit words (stored as
 * LONGs): bit = 1 iff the component is > 0, MSB-first within each word
 * (`acc = acc·2 + bit`, so word w covers components [32w, 32w+32) and a
 * short tail packs into the low bits). 32 bits per word — not 64 — keeps
 * every word non-negative and exactly representable in any engine's
 * signed BIGINT, so a SQL oracle can rebuild codes with pure integer
 * arithmetic (the FloatPacker cross-engine discipline). 128x narrower
 * than the float vector — the binary-sketch first pass of a
 * two-stage Hamming ANN (Charikar 2002 sign-random-projection family;
 * here the identity projection of already-trained embeddings).
 */
case class BinarizeSign(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "binarize_sign"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.binarizeSign(a.asInstanceOf[ArrayData].toFloatArray())
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${VectorKernels.Name}.binarizeSign($a.toFloatArray())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/**
 * Hamming distance between two packed-word code arrays ([[BinarizeSign]]
 * output): Σ popcount(aᵢ XOR bᵢ) — one `Long.bitCount` per word (a
 * hardware POPCNT in the JIT), so the approximate scan of a dim-768
 * vector reads 24 longs instead of 768 floats and does 24 xor+popcnt
 * instead of 768 multiply-adds. Plain integer arithmetic — bit-exact
 * everywhere.
 *
 * Mismatched code lengths compare the SHARED PREFIX (min length) — the
 * convention of every distance kernel in this file. Note the
 * consequence for dirty data: a short (malformed) code's distances are
 * understated, which can float it into bounded-shortlist candidate
 * sets; corpora with heterogeneous dims should validate
 * `size(embedding)` upstream (the index path's F3 dimension check does
 * exactly that), as no kernel here will throw for them.
 */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[SparkShims.AbstractType] =
    SparkShims.abstractTypes(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.hamming(a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray())
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${VectorKernels.Name}.hamming($a.toLongArray(), $b.toLongArray())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Column-API entry points for the native expressions. */
object vector {
  private def col(e: Expression): Column = SparkShims.column(e)
  private def expr(c: Column): Expression = SparkShims.expression(c)

  def l2_squared(a: Column, b: Column): Column = col(L2SquaredDistance(expr(a), expr(b)))
  def l2_distance(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.sqrt(l2_squared(a, b))
  def vec_dot(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(expr(a), expr(b)))
  def vec_norm(a: Column): Column = col(VectorNorm(expr(a)))
  def pq_adc_distance(lut: Column, code: Column): Column =
    col(PqAdcDistance(expr(lut), expr(code)))
  def pq_encode(emb: Column, centroids: Column, m: Column): Column =
    col(PqEncode(expr(emb), expr(centroids), expr(m)))
  def argmin_l2(emb: Column, centroids: Column): Column =
    col(ArgminL2(expr(emb), expr(centroids)))
  def int8_quant_stats(a: Column): Column = col(Int8QuantStatsExpr(expr(a)))
  def sign_project(vec: Column, signs: Column): Column =
    col(SignProject(expr(vec), expr(signs)))
  def cosine_sim_i8(codes: Column, q: Column): Column =
    col(CosineSimilarityI8(expr(codes), expr(q)))
  def binarize_sign(vec: Column): Column = col(BinarizeSign(expr(vec)))
  def hamming_dist(a: Column, b: Column): Column =
    col(HammingDistance(expr(a), expr(b)))
}
