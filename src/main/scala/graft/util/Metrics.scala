package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

import graft.index.SegmentSearch.PhaseSink

/**
 * Bounded log2-bucketed histogram as a Spark accumulator: bucket `i`
 * counts observations `v` with `floor(log2(max(v,1))) == i`. State is a
 * fixed 64-long array regardless of observation count — safe to register
 * per session forever, merges element-wise from any number of tasks. The
 * Spark re-expression of the reference's per-phase latency histograms
 * (util/Metrics.java:20-45 publishes OTel histograms; this gives the same
 * assertable distribution shape without an exporter dependency).
 *
 * Percentiles come back as the bucket's upper edge — within 2× of the
 * true value (HdrHistogram-style coarse bound), which is the right
 * resolution for "did p99 regress an order of magnitude", the question
 * these exist to answer.
 */
final class HistogramAccumulator extends AccumulatorV2[java.lang.Long, Array[Long]] {
  private val counts = new Array[Long](64)

  override def isZero: Boolean = counts.forall(_ == 0L)

  override def copy(): HistogramAccumulator = {
    val h = new HistogramAccumulator
    System.arraycopy(counts, 0, h.counts, 0, counts.length)
    h
  }

  override def reset(): Unit = java.util.Arrays.fill(counts, 0L)

  override def add(v: java.lang.Long): Unit = {
    val x = math.max(v.longValue(), 1L)
    counts(63 - java.lang.Long.numberOfLeadingZeros(x)) += 1
  }

  override def merge(other: AccumulatorV2[java.lang.Long, Array[Long]]): Unit =
    other match {
      case h: HistogramAccumulator =>
        var i = 0
        while (i < counts.length) { counts(i) += h.counts(i); i += 1 }
      case _ =>
        throw new UnsupportedOperationException(s"cannot merge ${other.getClass}")
    }

  override def value: Array[Long] = counts.clone()
}

object HistogramAccumulator {

  def total(counts: Array[Long]): Long = counts.sum

  /** Value-domain upper edge of the bucket where the cumulative count
    * first reaches `q` × total (0 < q ≤ 1); 0 for an empty histogram. */
  def percentile(counts: Array[Long], q: Double): Long = {
    require(q > 0.0 && q <= 1.0, "q must be in (0, 1]")
    val n = total(counts)
    if (n == 0L) return 0L
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    var i = 0
    while (i < counts.length) {
      cum += counts(i)
      if (cum >= target)
        return if (i >= 62) Long.MaxValue else (1L << (i + 1)) - 1
      i += 1
    }
    Long.MaxValue
  }
}

/**
 * Engine observability (reference: util/Metrics.java:20-45 publishes OTel
 * histograms for per-phase query timings; FdbVectorIndex.java:99-116
 * records adcScanMs / graphTraversalMs / rerankMs around each phase).
 *
 * Spark re-expression: per-phase work inside executor tasks is aggregated
 * through `LongAccumulator` totals AND bounded per-invocation histograms
 * (one observation per (query, sealed segment) kernel call), both visible
 * in the Spark UI and to the driver after each job. The exact rerank of
 * the bounded-batch sealed path runs inside the segment tasks, so its time
 * and the candidates it scored are totals here too; its per-(query,
 * segment) input volume is the candidate-count histogram. The declarative
 * stages (the distributed-queries rerank join, the top-k merge) are
 * whole-stage-codegen plans — per-row timers would break codegen, so their
 * wall-time lives in the per-stage SQL metrics, and their row counts (and
 * the rows the sealed rerank emits) surface through `Dataset.observe`
 * metrics readable from any `QueryExecutionListener`.
 */
final class EngineMetrics private[util] (
    /** Nanoseconds spent ADC-scanning codes (LUT build + table scan). */
    val adcScanNanos: LongAccumulator,
    /** Nanoseconds spent in graph expansion (best-first / beam). */
    val graphTraversalNanos: LongAccumulator,
    /** Approximate candidates emitted by sealed-segment searches. */
    val sealedCandidates: LongAccumulator,
    /** (query, sealed segment) search invocations. */
    val sealedSegmentsSearched: LongAccumulator,
    /** Per-invocation ADC-scan latency distribution (ns). */
    val adcScanHist: HistogramAccumulator,
    /** Per-invocation graph-traversal latency distribution (ns). */
    val graphTraversalHist: HistogramAccumulator,
    /** Per-invocation emitted-candidate-count distribution (== exact-rerank
      * input volume per (query, segment)). */
    val candidatesHist: HistogramAccumulator,
    /** Nanoseconds the sealed segment tasks spent in the exact rerank:
      * one pass over each segment's live rows, scoring candidates. */
    val rerankNanos: LongAccumulator,
    /** (row, query) candidate pairs the exact rerank scored. For
      * `Search.query` it equals the `sealedCandidates` those searches
      * added when no candidate is deleted. */
    val rerankScored: LongAccumulator) extends Serializable {

  /** Bridge into the per-(query, segment) kernel. */
  def phaseSink: PhaseSink = new EngineMetrics.AccumulatorSink(this)

  def adcScanPercentileNanos(q: Double): Long =
    HistogramAccumulator.percentile(adcScanHist.value, q)
  def graphTraversalPercentileNanos(q: Double): Long =
    HistogramAccumulator.percentile(graphTraversalHist.value, q)
  def candidatesPercentile(q: Double): Long =
    HistogramAccumulator.percentile(candidatesHist.value, q)
}

object EngineMetrics {

  // weak keys: metrics of stopped/discarded sessions become collectable
  // instead of accumulating in a JVM that cycles SparkSessions
  private val perSession =
    new java.util.WeakHashMap[SparkSession, EngineMetrics]()

  /** The engine metrics of a session (created on first use; accumulators
    * are registered once and aggregate across all queries of the session,
    * like the reference's process-wide meters). */
  def forSession(spark: SparkSession): EngineMetrics = perSession.synchronized {
    var em = perSession.get(spark)
    if (em == null) {
      val sc = spark.sparkContext
      def hist(name: String): HistogramAccumulator = {
        val h = new HistogramAccumulator
        sc.register(h, name)
        h
      }
      em = new EngineMetrics(
        sc.longAccumulator("graft.query.adcScanNanos"),
        sc.longAccumulator("graft.query.graphTraversalNanos"),
        sc.longAccumulator("graft.query.sealedCandidates"),
        sc.longAccumulator("graft.query.sealedSegmentsSearched"),
        hist("graft.query.adcScanHist"),
        hist("graft.query.graphTraversalHist"),
        hist("graft.query.candidatesHist"),
        sc.longAccumulator("graft.query.rerankNanos"),
        sc.longAccumulator("graft.query.rerankScored"))
      perSession.put(spark, em)
    }
    em
  }

  private final class AccumulatorSink(em: EngineMetrics) extends PhaseSink {
    override def adcScan(nanos: Long): Unit = {
      em.adcScanNanos.add(nanos)
      em.adcScanHist.add(nanos)
    }
    override def traversal(nanos: Long): Unit = {
      em.graphTraversalNanos.add(nanos)
      em.graphTraversalHist.add(nanos)
    }
    override def candidates(n: Int): Unit = {
      em.sealedCandidates.add(n.toLong)
      em.sealedSegmentsSearched.add(1L)
      em.candidatesHist.add(n.toLong)
    }
    override def rerank(nanos: Long, scored: Int): Unit = {
      em.rerankNanos.add(nanos)
      em.rerankScored.add(scored.toLong)
    }
  }
}

/**
 * File exporter for [[EngineMetrics]] — the offline stand-in for the
 * reference's OpenTelemetry push (util/Metrics.java:20-45): one JSON
 * line per snapshot, counters and log2-bucketed histograms with
 * p50/p90/p99 upper-edge percentiles, appended to a local file an OTel
 * collector tails with its `filelog` receiver (the standard zero-SDK
 * export path). No exporter dependency, no egress — the signal, not the
 * plumbing, matches upstream.
 */
object MetricsExport {

  /** One self-contained JSON line for the session's current totals. */
  def snapshotJson(em: EngineMetrics, atMs: Long): String = {
    def hist(name: String, counts: Array[Long]): String = {
      val nonZero = counts.zipWithIndex.collect {
        case (c, i) if c > 0L => s""""$i":$c"""
      }
      s""""$name":{"type":"histogram","log2_buckets":{${nonZero.mkString(",")}},""" +
        s""""count":${HistogramAccumulator.total(counts)},""" +
        s""""p50":${HistogramAccumulator.percentile(counts, 0.50)},""" +
        s""""p90":${HistogramAccumulator.percentile(counts, 0.90)},""" +
        s""""p99":${HistogramAccumulator.percentile(counts, 0.99)}}"""
    }
    def counter(name: String, v: Long): String =
      s""""$name":{"type":"counter","value":$v}"""
    val fields = Seq(
      counter("graft.query.adcScanNanos", em.adcScanNanos.value),
      counter("graft.query.graphTraversalNanos", em.graphTraversalNanos.value),
      counter("graft.query.sealedCandidates", em.sealedCandidates.value),
      counter("graft.query.sealedSegmentsSearched", em.sealedSegmentsSearched.value),
      counter("graft.query.rerankNanos", em.rerankNanos.value),
      counter("graft.query.rerankScored", em.rerankScored.value),
      hist("graft.query.adcScanHist", em.adcScanHist.value),
      hist("graft.query.graphTraversalHist", em.graphTraversalHist.value),
      hist("graft.query.candidatesHist", em.candidatesHist.value))
    s"""{"ts_ms":$atMs,"metrics":{${fields.mkString(",")}}}"""
  }

  /** Append a snapshot line (creates the file and parents if needed). */
  def appendTo(path: String, em: EngineMetrics, atMs: Long): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, snapshotJson(em, atMs) + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}
