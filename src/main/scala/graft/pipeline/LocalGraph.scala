package graft.pipeline

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * The kernels of [[GraphAlgos.GraphScope]]'s local regime: a whole round
 * loop run inside the one task that holds the scope's edge set, on
 * primitive arrays, emitting the rows the distributed loop would have
 * produced. Each kernel keeps the join semantics of its distributed twin:
 *  - a duplicated edge pushes twice (each copy joins);
 *  - an edge with a null `src` never joins, and a null `dst` is a node
 *    that can be reached but never matches a key (no anti-join, lookup or
 *    successor join ever finds it);
 *  - Long sums are `Math.addExact`, as Spark's ANSI `sum` and `+` are.
 */
private[pipeline] object LocalGraph {

  /** An edge list as CSR over its sorted distinct non-null node ids:
    * node `i`'s out-edges are `adj(off(i) until off(i + 1))` in input
    * order, `-1` standing for a null `dst`. `nullSrc` records an edge
    * with a null `src`, which has no adjacency. */
  final class Csr(val ids: Array[Long], val off: Array[Int], val adj: Array[Int],
      val nullSrc: Boolean) {
    def n: Int = ids.length
  }

  /** Reads `(src, dst)` rows of long ids into a [[Csr]]. */
  def csr(rows: Iterator[Row]): Csr = {
    val src, dst, nodes = new ArrayBuilder.ofLong
    val nullDst = new java.util.BitSet
    var m = 0
    var nullSrc = false
    rows.foreach { r =>
      if (!r.isNullAt(1)) nodes += r.getLong(1)
      if (r.isNullAt(0)) nullSrc = true
      else {
        nodes += r.getLong(0)
        src += r.getLong(0)
        if (r.isNullAt(1)) { nullDst.set(m); dst += 0L } else dst += r.getLong(1)
        m += 1
      }
    }
    val ids = sortedDistinct(nodes.result())
    val (s, d) = (src.result(), dst.result())
    val si = s.map(java.util.Arrays.binarySearch(ids, _))
    val off = new Array[Int](ids.length + 1)
    si.foreach(i => off(i + 1) += 1)
    for (i <- ids.indices) off(i + 1) += off(i)
    val next = java.util.Arrays.copyOf(off, ids.length)
    val adj = new Array[Int](m)
    for (k <- 0 until m) {
      adj(next(si(k))) = if (nullDst.get(k)) -1 else java.util.Arrays.binarySearch(ids, d(k))
      next(si(k)) += 1
    }
    new Csr(ids, off, adj, nullSrc)
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var k = 0
    for (i <- a.indices) if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
    java.util.Arrays.copyOf(a, k)
  }

  // --- shortest-path counts and the Brandes backward pass ------------------

  /** The value the backward pass folds per settled (seed, node):
    * betweenness' `delta` (Double) or stress' DAG-path-suffix count `g`
    * (Long). `None` runs the forward pass only. */
  sealed abstract class Fold(val column: String, val dataType: DataType)
  case object Delta extends Fold("delta", DoubleType)
  case object Suffix extends Fold("g", LongType)

  /** Rows of [[pathRows]]: the forward pass' (seed, node, dist, sigma),
    * plus the fold's value when there is one (NULL at dist 0, which no
    * backward layer covers). */
  def pathSchema(fold: Option[Fold]): StructType = StructType(Seq(
      StructField("seed", LongType, nullable = false),
      StructField("node", LongType),
      StructField("dist", LongType, nullable = false),
      StructField("sigma", LongType, nullable = false)) ++
    fold.map(f => StructField(f.column, f.dataType)))

  /**
   * `GraphAlgos.shortestPathCounts`' rounds and, with a `fold`, the
   * backward pass of betweenness or stress, for every seed that is a node
   * (a seed listed twice starts twice: its dist-0 row is emitted twice and
   * pushes σ = 2). Round r settles the nodes first reached from round
   * r−1's frontier, each with σ summed over its frontier in-edges; the loop
   * ends after `rounds` rounds or at an empty frontier. The backward pass
   * gives the horizon layer (dist `rounds`) the fold's horizon value and
   * every nearer layer d ≥ 1 the pull of its successors' pushes summed
   * over the edges into layer d+1.
   */
  def pathRows(g: Csr, sources: Array[Long], rounds: Int, fold: Option[Fold]): Iterator[Row] = {
    val starts = sources.groupBy(identity).view.mapValues(_.length).toMap
    val seeds = sources.distinct.filter(s => java.util.Arrays.binarySearch(g.ids, s) >= 0)
    val dist = Array.fill(g.n)(-1)
    val sigma = new Array[Long](g.n)
    val delta = if (fold.contains(Delta)) new Array[Double](g.n) else null
    val suffix = if (fold.contains(Suffix)) new Array[Long](g.n) else null
    seeds.iterator.flatMap { seed =>
      val s = java.util.Arrays.binarySearch(g.ids, seed)
      // layers(r) holds the nodes settled in round r; nullSigma(r) the σ a
      // null dst gathered in round r (0 when no frontier edge reached one)
      val layers = ArrayBuffer(Array(s))
      val nullSigma = new Array[Long](rounds + 1)
      dist(s) = 0
      sigma(s) = starts(seed).toLong
      var r = 0
      while (r < rounds && layers(r).nonEmpty) {
        r += 1
        val next = new ArrayBuilder.ofInt
        for (u <- layers(r - 1); k <- g.off(u) until g.off(u + 1)) {
          val v = g.adj(k)
          if (v < 0) nullSigma(r) = Math.addExact(nullSigma(r), sigma(u))
          else if (dist(v) < 0) { dist(v) = r; sigma(v) = sigma(u); next += v }
          else if (dist(v) == r) sigma(v) = Math.addExact(sigma(v), sigma(u))
        }
        layers += next.result()
      }
      fold.foreach(backward(g, _, layers, dist, sigma, delta, suffix, rounds))
      val out = ArrayBuffer.fill(starts(seed))(Row.fromSeq(Seq(seed, seed, 0L, 1L) ++ fold.map(_ => null)))
      // a null node has no successor: its value is the horizon's or the
      // pull of an empty sum, σ · 0.0 = 0.0 for betweenness, 1 + 0 for stress
      for (d <- 1 until layers.length) {
        for (v <- layers(d)) out += Row.fromSeq(Seq(seed, g.ids(v), d.toLong, sigma(v)) ++
          fold.map(f => if (f == Delta) delta(v) else suffix(v)))
        if (nullSigma(d) > 0) out += Row.fromSeq(Seq(seed, null, d.toLong, nullSigma(d)) ++
          fold.map(f => if (f == Delta) 0.0 else 1L))
      }
      for (layer <- layers; v <- layer) dist(v) = -1
      out
    }
  }

  /** One seed's backward layers, from the horizon inward: layer d's node v
    * sums its successors' pushes over its out-edges into layer d+1 (a
    * duplicated edge twice), then pulls — δ(v) = σ_v · Σ (1 + δ(w)) / σ_w,
    * g(v) = 1 + Σ g(w); no successor sums as 0. */
  private def backward(g: Csr, fold: Fold, layers: ArrayBuffer[Array[Int]],
      dist: Array[Int], sigma: Array[Long], delta: Array[Double], suffix: Array[Long],
      rounds: Int): Unit = {
    if (layers.length > rounds)
      for (v <- layers(rounds)) if (fold == Delta) delta(v) = 0.0 else suffix(v) = 1L
    for (d <- math.min(rounds - 1, layers.length - 1) to 1 by -1; v <- layers(d)) {
      var x = 0.0
      var y = 0L
      for (k <- g.off(v) until g.off(v + 1)) {
        val w = g.adj(k)
        if (w >= 0 && dist(w) == d + 1) {
          if (fold == Delta) x += (1.0 + delta(w)) / sigma(w)
          else y = Math.addExact(y, suffix(w))
        }
      }
      if (fold == Delta) delta(v) = sigma(v) * x else suffix(v) = Math.addExact(1L, y)
    }
  }

  // --- duplicate-cluster labels --------------------------------------------

  /** Rows of [[clusterLabels]]. */
  val LabelSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("label", LongType)))

  /**
   * `Dedup.duplicateClusters`' label loop over a MIRRORED edge set (every
   * node is a `src`): each round every id takes the minimum of its label
   * and its in-neighbours' labels, then jumps its label to that label's
   * label; the loop ends at the first round in which no label moved. A
   * null id (an edge with a null end) gathers labels but never lends one,
   * and leaves the result in a round that gives it none. Returns the
   * (id, label) rows and whether the loop converged within `maxRounds`.
   */
  def clusterLabels(g: Csr, maxRounds: Int): (Iterator[Row], Boolean) = {
    var label = Array.tabulate(g.n)(identity)
    // the null id's row: present from the start iff some src is null; its
    // label is -1 until a round gives it one
    var nullRow = g.nullSrc
    var nullLabel = -1
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      r += 1
      val stepped = label.clone()
      var nullStep = nullLabel
      var nullHit = nullRow
      for (u <- 0 until g.n; k <- g.off(u) until g.off(u + 1)) {
        val v = g.adj(k)
        if (v >= 0) { if (label(u) < stepped(v)) stepped(v) = label(u) }
        else {
          nullHit = true
          if (nullStep < 0 || label(u) < nullStep) nullStep = label(u)
        }
      }
      val next = Array.tabulate(g.n)(i => math.min(stepped(i), stepped(stepped(i))))
      var moved = (0 until g.n).exists(i => next(i) != label(i))
      // a row whose label is still null drops out at the pointer jump
      val nullNext = if (nullHit && nullStep >= 0) math.min(nullStep, stepped(nullStep)) else -1
      if (nullRow && nullLabel >= 0 && nullNext >= 0 && nullNext != nullLabel) moved = true
      nullRow = nullNext >= 0
      nullLabel = nullNext
      label = next
      converged = !moved
    }
    val rows = label.indices.iterator.map(i => Row(g.ids(i), g.ids(label(i)))) ++
      (if (nullRow) Iterator.single(Row(null, g.ids(nullLabel))) else Iterator.empty)
    (rows, converged)
  }
}
