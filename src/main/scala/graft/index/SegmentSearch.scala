package graft.index

import scala.collection.mutable

import graft.core.{SearchMode, SearchParams, SeedStrategy}

/**
 * In-memory, per-(query, segment) graph-search kernels for SEALED segments
 * (SURVEY.md §2.3 J2/J3/J4/J6; reference: fdb/FdbVectorIndex.java:730-968).
 *
 * Pure functions over a segment's code map + adjacency — the distributed
 * layer (graft.index.Search) loads one segment per task from its files and
 * runs these for every query; cross-segment and cross-query parallelism is
 * Spark's. Tolerances preserved from the reference: neighbors without a PQ
 * code are skipped silently (dangling-edge tolerance after vacuum,
 * FdbVectorIndex.java:956-957), out-of-range centroid ids skip a subspace.
 */
object SegmentSearch {

  /** One approximate candidate (reference's `Approx` record). */
  final case class Approx(vecId: Int, approx: Double)

  /** Per-phase instrumentation hook (reference: adcScanMs /
    * graphTraversalMs / rerankMs meters around each phase,
    * FdbVectorIndex.java:99-116, 787-837). Implementations must be
    * serializable — the call site passes Spark-accumulator-backed sinks
    * into executor tasks. */
  trait PhaseSink extends Serializable {
    def adcScan(nanos: Long): Unit
    def traversal(nanos: Long): Unit
    def candidates(n: Int): Unit
    /** One segment task's exact rerank: the nanoseconds of its pass over
      * the segment's live rows and the (row, query) candidate pairs it
      * scored. */
    def rerank(nanos: Long, scored: Int): Unit
  }

  object PhaseSink {
    object Noop extends PhaseSink {
      override def adcScan(nanos: Long): Unit = ()
      override def traversal(nanos: Long): Unit = ()
      override def candidates(n: Int): Unit = ()
      override def rerank(nanos: Long, scored: Int): Unit = ()
    }
  }

  /** BEAM is deprecated in the reference (SearchParams.java:33-37) — warn
    * once per JVM, exactly like FdbVectorIndex.java:369-372. */
  private val beamWarned = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[index] def warnBeamOnce(): Unit =
    if (beamWarned.compareAndSet(false, true)) {
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn("BEAM search mode is deprecated; prefer BEST_FIRST")
    }

  /** Query-time parameter auto-tune by segment cardinality — formulas kept
    * verbatim (reference: FdbVectorIndex.java:772-784). `k` is the
    * per-segment result budget (perSegLimit at the call site). */
  def autoTune(params: SearchParams, nCodes: Int, k: Int): SearchParams = {
    val baseEf = math.max(params.efSearch, k * math.max(1, params.perSegmentLimitMultiplier))
    val scale = math.max(1L, math.round(math.sqrt(math.max(1, nCodes) / 1000.0))).toInt
    val tunedEf = math.min(params.maxExplore, math.max(baseEf, math.min(nCodes, baseEf * scale)))
    val tunedBeam = math.max(1, math.min(nCodes,
      math.max(params.beamWidth, math.min(64, math.ceil(math.sqrt(nCodes.toDouble)).toInt))))
    params.copy(efSearch = tunedEf, beamWidth = tunedBeam)
  }

  /** Seed selection: top-`beam` ADC candidates, plus optional deterministic
    * random pivots seeded by `(segId<<21) ^ bits(lut[0])`
    * (reference: FdbVectorIndex.java:801-812). `approxSorted` must be
    * ascending by approx distance. */
  def selectSeeds(
      approxSorted: IndexedSeq[Approx],
      segId: Int,
      lut: Array[Double],
      params: SearchParams): IndexedSeq[Approx] = {
    val nCodes = approxSorted.length
    val beam = math.max(1, math.min(nCodes, params.beamWidth))
    val seeds = mutable.ArrayBuffer[Approx](approxSorted.take(beam): _*)
    if (params.seedStrategy == SeedStrategy.RandomPivots && nCodes > beam) {
      val pivots = math.min(params.pivots, nCodes - beam)
      val seed = (segId.toLong << 21) ^ java.lang.Double.doubleToLongBits(lut(0))
      val rnd = new java.util.Random(seed)
      var i = 0
      while (i < pivots) {
        val idx = beam + rnd.nextInt(math.max(1, nCodes - beam))
        seeds += approxSorted(idx)
        i += 1
      }
    }
    seeds.toIndexedSeq
  }

  /** Best-first (priority-queue) expansion — the default mode
    * (reference: diskannBestFirstExpand, FdbVectorIndex.java:911-968).
    * Pops ≤ beamWidth best nodes per step, scores their neighbors by ADC,
    * accumulates every newly visited node until efSearch/maxExplore. */
  def bestFirstExpand(
      seeds: IndexedSeq[Approx],
      codeMap: Int => Array[Byte], // null when absent
      adjacency: Int => Array[Int], // null when absent
      lut: Array[Double],
      kCent: Int,
      m: Int,
      params: SearchParams): IndexedSeq[Approx] = {
    implicit val ord: Ordering[Approx] = Ordering.by[Approx, Double](_.approx).reverse
    val pq = mutable.PriorityQueue.empty[Approx] // min-heap via reversed ordering
    val visited = mutable.HashSet.empty[Int]
    val chosen = mutable.ArrayBuffer.empty[Approx]
    seeds.foreach { a =>
      if (visited.add(a.vecId)) { pq.enqueue(a); chosen += a }
    }

    var step = 0
    var exhausted = false
    while (step < params.efSearch && !exhausted &&
      chosen.size < params.efSearch && chosen.size < params.maxExplore) {
      val batch = math.max(1, params.beamWidth)
      val expand = mutable.ArrayBuffer.empty[Approx]
      while (expand.size < batch && pq.nonEmpty) expand += pq.dequeue()
      if (expand.isEmpty) exhausted = true
      else {
        expand.foreach { cur =>
          val neigh = adjacency(cur.vecId)
          if (neigh != null) {
            var i = 0
            while (i < neigh.length && chosen.size < params.efSearch) {
              val nb = neigh(i)
              if (visited.add(nb)) {
                val codes = codeMap(nb)
                if (codes != null && codes.length >= m) {
                  val na = Approx(nb, Pq.adcDistance(lut, kCent, codes))
                  pq.enqueue(na)
                  chosen += na
                }
              }
              i += 1
            }
          }
        }
      }
      step += 1
    }
    chosen.toIndexedSeq
  }

  /** Deprecated fixed-iteration BEAM expansion, kept for parity
    * (reference: diskannExpand, FdbVectorIndex.java:841-903; deprecation
    * WARN-once at :369-372). */
  def beamExpand(
      seeds: IndexedSeq[Approx],
      codeMap: Int => Array[Byte],
      adjacency: Int => Array[Int],
      lut: Array[Double],
      kCent: Int,
      m: Int,
      params: SearchParams): IndexedSeq[Approx] = {
    val visited = mutable.HashSet.empty[Int]
    seeds.foreach(a => visited += a.vecId)
    val expanded = mutable.ArrayBuffer[Approx](seeds: _*)
    val minHops = math.max(0, params.minHops)

    var frontier: Seq[Approx] = seeds
    var iter = 0
    while (iter < params.maxIters && frontier.nonEmpty &&
      expanded.size < params.efSearch && expanded.size < params.maxExplore) {
      val newly = mutable.ArrayBuffer.empty[Approx]
      frontier.foreach { a =>
        val neigh = adjacency(a.vecId)
        if (neigh != null) {
          var i = 0
          while (i < neigh.length &&
            expanded.size + newly.size < params.efSearch &&
            expanded.size + newly.size < params.maxExplore) {
            val nb = neigh(i)
            if (visited.add(nb)) {
              val codes = codeMap(nb)
              if (codes != null && codes.length >= m)
                newly += Approx(nb, Pq.adcDistance(lut, kCent, codes))
            }
            i += 1
          }
        }
      }
      val newlySorted = newly.sortBy(_.approx)
      if (newlySorted.isEmpty) {
        // force minimum hops: keep the frontier alive without growth
        if (iter + 1 >= minHops) frontier = Nil
      } else {
        val next =
          if (params.refineFrontier)
            (newlySorted ++ frontier).sortBy(_.approx).take(params.beamWidth)
          else newlySorted.take(math.min(params.beamWidth, newlySorted.size))
        expanded ++= next
        frontier = next.toSeq
      }
      iter += 1
    }
    expanded.toIndexedSeq
  }

  /**
   * Full sealed-segment pipeline for one query: ADC scan → auto-tune →
   * seed → expand → top-max(ef, k) candidates, ascending by approx
   * distance (reference: searchSealedSegment, FdbVectorIndex.java:730-837;
   * the exact rerank runs after it in the same task, `Search.query`).
   */
  def searchSealed(
      segId: Int,
      cb: Pq.Codebook,
      q: Array[Float],
      codeMap: scala.collection.Map[Int, Array[Byte]],
      adjacency: scala.collection.Map[Int, Array[Int]],
      k: Int,
      params: SearchParams,
      phases: PhaseSink = PhaseSink.Noop): IndexedSeq[Approx] = {
    if (codeMap.isEmpty) return IndexedSeq.empty
    val tAdc = System.nanoTime()
    val lut = Pq.buildLut(cb, q)
    val approxAll = codeMap.iterator
      .filter(t => t._2 != null && t._2.length >= cb.m)
      .map(t => Approx(t._1, Pq.adcDistance(lut, cb.k, t._2)))
      .toIndexedSeq
      .sortBy(a => (a.approx, a.vecId))
    phases.adcScan(System.nanoTime() - tAdc)
    if (approxAll.isEmpty) return IndexedSeq.empty
    val eff = autoTune(params, approxAll.length, k)
    val seeds = selectSeeds(approxAll, segId, lut, params.copy(beamWidth = eff.beamWidth))
    val codeF: Int => Array[Byte] = codeMap.getOrElse(_, null)
    val adjF: Int => Array[Int] = adjacency.getOrElse(_, null)
    val tExp = System.nanoTime()
    val expanded =
      if (params.mode == SearchMode.BestFirst)
        bestFirstExpand(seeds, codeF, adjF, lut, cb.k, cb.m, eff)
      else {
        warnBeamOnce()
        beamExpand(seeds, codeF, adjF, lut, cb.k, cb.m, eff)
      }
    phases.traversal(System.nanoTime() - tExp)
    val topN = math.min(expanded.size, math.max(eff.efSearch, k))
    val out = expanded.sortBy(a => (a.approx, a.vecId)).take(topN)
    phases.candidates(out.size)
    out
  }
}
