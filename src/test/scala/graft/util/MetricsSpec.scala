package graft.util

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._
import graft.index.{IndexStore, Search, SegmentedIndex}

/** Engine observability parity (reference: VectorIndexTest.java:625-664
  * asserts the per-phase meters record after a query): a sealed query must
  * move every phase accumulator and surface row counts through the
  * observe() plan metrics. */
class MetricsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("sealed query records per-phase timings, candidate counts and observed row counts") {
    val dim = 8
    val dir = Files.createTempDirectory("graft-metrics").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("metrics", dimension = dim, maxSegmentSize = 30,
      pqM = 4, pqK = 16, graphDegree = 8, graphBuildBreadth = 32), 0L)
    val idx = new SegmentedIndex(spark, store)

    import spark.implicits._
    val r = new Random(3)
    val df = (0 until 90).map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
    idx.addAll(df, "embedding", "id")
    idx.sealPending() // 3 sealed segments

    val em = EngineMetrics.forSession(spark)
    val adc0 = em.adcScanNanos.value
    val trav0 = em.graphTraversalNanos.value
    val cand0 = em.sealedCandidates.value
    val segs0 = em.sealedSegmentsSearched.value
    val rerank0 = em.rerankNanos.value
    val scored0 = em.rerankScored.value
    val adcHist0 = HistogramAccumulator.total(em.adcScanHist.value)

    val queries = df.filter(col("id") < 4)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val res = Search.query(spark, store, queries, 5)
    val rows = res.collect()
    assert(rows.length == 20) // 4 queries × k=5

    // phase meters moved (aggregated from executor tasks via accumulators)
    assert(em.adcScanNanos.value > adc0)
    assert(em.graphTraversalNanos.value > trav0)
    assert(em.sealedCandidates.value > cand0)
    // 4 queries × 3 sealed segments
    assert(em.sealedSegmentsSearched.value >= segs0 + 12)
    // the in-task rerank phase: timed, and with nothing deleted it scores
    // every candidate the searches emitted
    assert(em.rerankNanos.value > rerank0)
    assert(em.rerankScored.value - scored0 == em.sealedCandidates.value - cand0)

    // observable plan metrics: rows the segment tasks emit and the final
    // top-k count (names carry a per-invocation suffix so query plans stay
    // composable). Each (query, sealed segment) emits at most k·oversample
    // rows and at least the k it contributes to; the empty ACTIVE segment
    // emits none.
    val om = res.queryExecution.observedMetrics
    val rerank = om.collectFirst { case (k, v) if k.startsWith("graft_segment_rows") => v }
    val merge = om.collectFirst { case (k, v) if k.startsWith("graft_topk_merge") => v }
    val perSegLimit = 5L * math.max(1, store.readManifest().meta.oversample)
    assert(rerank.exists(r => r.getLong(0) >= 12L * 5 && r.getLong(0) <= 12L * perSegLimit),
      s"sealed rerank rows $rerank")
    assert(merge.exists(_.getLong(0) == 20L))

    // per-invocation distributions: one observation per (query, segment)
    // kernel call, percentile extraction works and is monotone
    assert(HistogramAccumulator.total(em.adcScanHist.value) - adcHist0 ==
      em.sealedSegmentsSearched.value - segs0)
    val p50 = em.adcScanPercentileNanos(0.5)
    val p99 = em.adcScanPercentileNanos(0.99)
    assert(p50 > 0L && p99 >= p50)
    assert(em.graphTraversalPercentileNanos(0.99) >=
      em.graphTraversalPercentileNanos(0.5))
    assert(em.candidatesPercentile(1.0) >= em.candidatesPercentile(0.5))

    // file exporter: one parseable JSON line per snapshot, counters and
    // histograms present with monotone percentile fields; append extends
    val outFile = Files.createTempDirectory("graft-metrics-out")
      .resolve("metrics.jsonl").toString
    MetricsExport.appendTo(outFile, em, atMs = 1234L)
    MetricsExport.appendTo(outFile, em, atMs = 5678L)
    val lines = Files.readAllLines(java.nio.file.Paths.get(outFile))
    assert(lines.size == 2)
    // minimal structural parse with the JDK only: Spark's JacksonUtils
    // is internal, so pin the shape with substring checks + a Spark-SQL
    // JSON parse of the first line
    val parsed = spark.read.json(
      spark.createDataset(Seq(lines.get(0)))(org.apache.spark.sql.Encoders.STRING))
    val row = parsed.selectExpr("ts_ms",
      "metrics.`graft.query.adcScanNanos`.value",
      "metrics.`graft.query.adcScanHist`.count",
      "metrics.`graft.query.adcScanHist`.p50",
      "metrics.`graft.query.adcScanHist`.p99",
      "metrics.`graft.query.rerankNanos`.value",
      "metrics.`graft.query.rerankScored`.value").head()
    assert(row.getLong(0) == 1234L)
    assert(row.getLong(1) == em.adcScanNanos.value)
    assert(row.getLong(2) == HistogramAccumulator.total(em.adcScanHist.value))
    assert(row.getLong(3) > 0L && row.getLong(4) >= row.getLong(3))
    assert(row.getLong(5) == em.rerankNanos.value)
    assert(row.getLong(6) == em.rerankScored.value)
    assert(lines.get(1).startsWith("""{"ts_ms":5678,"""))
  }

  test("an ACTIVE segment caps its rows per query and feeds no rerank counter") {
    val dim = 8
    val dir = Files.createTempDirectory("graft-metrics-active").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("metrics-active", dimension = dim, maxSegmentSize = 40,
      pqM = 4, pqK = 16, graphDegree = 8, graphBuildBreadth = 32, oversample = 2), 0L)
    val idx = new SegmentedIndex(spark, store)

    import spark.implicits._
    val r = new Random(5)
    val df = (0 until 155).map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
    idx.addAll(df.filter(col("id") < 120), "embedding", "id")
    idx.sealPending() // 3 sealed segments
    idx.addAll(df.filter(col("id") >= 120), "embedding", "id") // 35 ACTIVE rows
    val m = store.readManifest()
    assert(m.segments.count(_.state == SegmentState.Sealed) == 3)
    assert(m.segments.filter(_.state == SegmentState.Active).map(_.count).sum == 35L)

    val em = EngineMetrics.forSession(spark)
    val cand0 = em.sealedCandidates.value
    val scored0 = em.rerankScored.value
    val queries = df.filter(col("id") < 4)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val res = Search.query(spark, store, queries, 5)
    assert(res.collect().length == 20)

    // the brute segment's 4 × 35 scored pairs are not rerank work: the
    // counter still equals the sealed candidates
    assert(em.rerankScored.value - scored0 == em.sealedCandidates.value - cand0)
    // every (query, segment), the brute one included, emits between k and
    // k·oversample rows: 4 queries × 4 segments. An uncapped brute segment
    // would emit its 35 rows per query, 140 with the sealed ones' 60 or
    // more, over the bound of 160.
    val perSegLimit = 5L * 2
    val rows = res.queryExecution.observedMetrics
      .collectFirst { case (k, v) if k.startsWith("graft_segment_rows") => v.getLong(0) }
    assert(rows.exists(n => n >= 16L * 5 && n <= 16L * perSegLimit), s"segment rows $rows")
  }

  test("histogram percentile extraction: known distribution, bounded state") {
    val h = new HistogramAccumulator
    // 90 fast observations (~1 µs) + 10 slow (~1 ms): p50 must sit in the
    // fast band, p95+ in the slow band, with the 2× bucket-edge bound
    (1 to 90).foreach(_ => h.add(1000L))
    (1 to 10).foreach(_ => h.add(1000000L))
    val v = h.value
    assert(HistogramAccumulator.total(v) == 100L)
    val p50 = HistogramAccumulator.percentile(v, 0.5)
    val p95 = HistogramAccumulator.percentile(v, 0.95)
    assert(p50 >= 1000L && p50 < 2048L)
    assert(p95 >= 1000000L && p95 < 2097152L)
    // merge is element-wise; copy is independent state
    val h2 = h.copy()
    h2.merge(h)
    assert(HistogramAccumulator.total(h2.value) == 200L)
    assert(HistogramAccumulator.total(h.value) == 100L)
    // empty histogram yields 0
    assert(HistogramAccumulator.percentile(new HistogramAccumulator().value, 0.99) == 0L)
  }
}
