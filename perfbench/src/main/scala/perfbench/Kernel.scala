package perfbench

import org.apache.spark.sql.SparkSession

import graft.util.{EngineMetrics, HistogramAccumulator}

/** The session's `EngineMetrics` accumulators at one moment; differences
  * of two snapshots give the kernel work between them. */
final case class Kernel(
    adcNanos: Long, traversalNanos: Long, candidates: Long, searches: Long,
    adcHist: Array[Long], candidatesHist: Array[Long]) {

  def -(o: Kernel): Kernel = Kernel(adcNanos - o.adcNanos, traversalNanos - o.traversalNanos,
    candidates - o.candidates, searches - o.searches,
    adcHist.zip(o.adcHist).map(p => p._1 - p._2),
    candidatesHist.zip(o.candidatesHist).map(p => p._1 - p._2))

  def +(o: Kernel): Kernel = Kernel(adcNanos + o.adcNanos, traversalNanos + o.traversalNanos,
    candidates + o.candidates, searches + o.searches,
    adcHist.zip(o.adcHist).map(p => p._1 + p._2),
    candidatesHist.zip(o.candidatesHist).map(p => p._1 + p._2))

  /** Per-search p50s are log2-bucket upper edges (within 2x). */
  def adcUsPerSearchP50: Double =
    if (searches == 0) 0.0 else HistogramAccumulator.percentile(adcHist, 0.5) / 1e3
  def candidatesPerSearchP50: Double =
    if (searches == 0) 0.0 else HistogramAccumulator.percentile(candidatesHist, 0.5).toDouble

  def attrs: Map[String, Double] = Map(
    "adc_s" -> adcNanos / 1e9, "traversal_s" -> traversalNanos / 1e9,
    "candidates" -> candidates.toDouble, "segment_searches" -> searches.toDouble)
}

object Kernel {
  val zero: Kernel = Kernel(0, 0, 0, 0, new Array[Long](64), new Array[Long](64))

  def snapshot(spark: SparkSession): Kernel = {
    val em = EngineMetrics.forSession(spark)
    Kernel(em.adcScanNanos.value, em.graphTraversalNanos.value, em.sealedCandidates.value,
      em.sealedSegmentsSearched.value, em.adcScanHist.value, em.candidatesHist.value)
  }
}
