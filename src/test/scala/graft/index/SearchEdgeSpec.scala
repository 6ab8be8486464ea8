package graft.index

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/** Degenerate-input behavior of the query path: a library must return
  * empty/short results for empty inputs, never throw or hang — the edge
  * paths the happy-path suites never reach. */
class SearchEdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newIndex(cap: Int = 50): SegmentedIndex = {
    val dir = Files.createTempDirectory("graft-edge").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("edge", dimension = 4, maxSegmentSize = cap,
      pqM = 2, pqK = 4, graphDegree = 4, graphBuildBreadth = 16), 1000L)
    new SegmentedIndex(spark, store)
  }

  private def gaussianDf(n: Int, seed: Long) = {
    val r = new Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(4)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
  }

  private def queriesOf(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.filter(col("id") < n)
      .select(col("id").as("queryId"), col("embedding").as("qv"))

  test("querying a brand-new index (one empty ACTIVE segment) returns no rows") {
    val idx = newIndex()
    val q = Seq((0L, Array(0.1f, 0.2f, 0.3f, 0.4f))).toDF("queryId", "qv")
    assert(Search.query(spark, idx.store, q, 5).count() == 0L)
  }

  test("an empty query batch returns an empty result against a populated index") {
    val idx = newIndex()
    val data = gaussianDf(60, 1)
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    val q = queriesOf(data, 0)
    assert(Search.query(spark, idx.store, q, 5).count() == 0L)
  }

  test("k larger than the corpus returns every live row exactly once, ranked") {
    val idx = newIndex()
    val data = gaussianDf(30, 2) // single ACTIVE segment, brute path
    idx.addAll(data, "embedding", "id")
    val q = queriesOf(data, 1)
    val rows = Search.query(spark, idx.store, q, 100)
      .select("gid", "rank").as[(Long, Long)].collect()
    assert(rows.length == 30)
    assert(rows.map(_._1).distinct.length == 30)
    assert(rows.map(_._2).sorted.toSeq == (1L to 30L))
  }

  test("a 5k-query batch chunks through the sealed path; results match the single-chunk plan") {
    val idx = newIndex()
    val data = gaussianDf(120, 9)
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    // 5000 queries: each reuses a corpus vector, queryId is its own id space
    val r = new Random(10)
    val base = data.select("embedding").as[Array[Float]].collect()
    val big = (0 until 5000).map(i => (i.toLong, base(r.nextInt(base.length))))
      .toDF("queryId", "qv")

    val chunk0 = Search.queryChunkSize
    try {
      Search.queryChunkSize = 1024 // 5 chunks
      val chunked = Search.query(spark, idx.store, big, 3)
        .select("queryId", "gid", "rank").as[(Long, Long, Long)].collect().sorted.toSeq
      assert(chunked.length == 5000 * 3)
      Search.queryChunkSize = Int.MaxValue // one chunk
      val single = Search.query(spark, idx.store, big, 3)
        .select("queryId", "gid", "rank").as[(Long, Long, Long)].collect().sorted.toSeq
      assert(chunked == single, "chunked batch must be plan-invariant")
    } finally Search.queryChunkSize = chunk0
  }

  test("a 40-chunk batch fuses into one LogicalRDD leaf; results and planning stay flat") {
    val idx = newIndex()
    val data = gaussianDf(120, 11)
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    val r = new Random(11)
    val base = data.select("embedding").as[Array[Float]].collect()
    val big = (0 until 400).map(i => (i.toLong, base(r.nextInt(base.length))))
      .toDF("queryId", "qv")

    val chunk0 = Search.queryChunkSize
    try {
      Search.queryChunkSize = Int.MaxValue // reference run: one chunk
      val single = Search.query(spark, idx.store, big, 3)
        .select("queryId", "gid", "rank").as[(Long, Long, Long)].collect().sorted.toSeq

      // 40 chunks: the sealed side is still ONE RDD leaf of the plan, not
      // a 40-way Catalyst union; same results, and the end-to-end wall
      // time (planning included) must stay sane — a 40-subtree plan
      // regressing to quadratic planning blows far past this bound
      Search.queryChunkSize = 10
      val t0 = System.nanoTime()
      val chunked = Search.query(spark, idx.store, big, 3)
      val rddLeaves = chunked.queryExecution.optimizedPlan
        .collectLeaves().count(_.isInstanceOf[org.apache.spark.sql.execution.ExternalRDD[_]])
      val fused = chunked.select("queryId", "gid", "rank").as[(Long, Long, Long)]
        .collect().sorted.toSeq
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(rddLeaves == 1, s"40 chunks planned as $rddLeaves RDD leaves")
      assert(fused == single, "fused chunk plan must be plan-invariant")
      assert(elapsedSec < 60.0, f"40-chunk query took $elapsedSec%.1f s — planning not flat")
    } finally Search.queryChunkSize = chunk0
  }

  test("sealed-path shuffle bytes do not grow with the query chunk count") {
    // 3 sealed segments of 200 dim-64 rows, 40 queries in one chunk, then
    // in four. Each segment task reads its own rows, so the only shuffle
    // is the top-k merge: one partial top-k per (query, segment) whatever
    // the chunking. A plan that moved the sealed vectors or state through
    // an exchange (once, or once per chunk) fails the record count or the
    // byte bound — the raw sealed vectors alone are 154 KB. Bytes are
    // bounded, not equal: smaller per-task blocks compress less well.
    val dir = Files.createTempDirectory("graft-edge-chunks").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("chunks", dimension = 64, maxSegmentSize = 200,
      pqM = 8, pqK = 16, graphDegree = 8, graphBuildBreadth = 32), 1000L)
    val idx = new SegmentedIndex(spark, store)
    val r = new Random(12)
    val rows = (0 until 600).map(i => (i.toLong, Array.fill(64)(r.nextGaussian().toFloat)))
    idx.addAll(rows.toDF("id", "embedding"), "embedding", "id")
    idx.sealPending()
    assert(store.readManifest().segments.count(_.state == SegmentState.Sealed) == 3)
    val queries = rows.take(40).toDF("queryId", "qv")

    val sc = spark.sparkContext
    val written = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        e.stageIds.foreach(groupOfStage.put(_, g))
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val g = groupOfStage.getOrDefault(e.stageId, "")
          val w = (m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten)
          written.merge(g, w, (a: (Long, Long), b: (Long, Long)) => (a._1 + b._1, a._2 + b._2))
        }
    }
    val chunk0 = Search.queryChunkSize
    sc.addSparkListener(listener)
    try {
      Search.query(spark, store, queries, 10).collect() // fills the state cache
      val byChunks = Seq(40, 10).map { size => // one chunk, then four
        Search.queryChunkSize = size
        sc.setJobGroup(s"chunks-$size", "query")
        val got = Search.query(spark, store, queries, 10)
          .select("queryId", "gid", "rank").as[(Long, Long, Long)].collect().sorted.toSeq
        size -> got
      }
      assert(byChunks.map(_._2).distinct.size == 1, "results depend on the chunking")
      sc.setJobGroup("chunks-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groupOfStage.containsValue("chunks-drain") && System.nanoTime() < deadline)
        Thread.sleep(5)
      val Seq(one, four) = Seq(40, 10).map(n => written.getOrDefault(s"chunks-$n", (0L, 0L)))
      println(s"[chunk shuffle] (bytes, records): one chunk=$one four chunks=$four")
      assert(one._2 == 40L * 3, s"one chunk wrote ${one._2} shuffle records")
      assert(four._2 == one._2, s"4 chunks wrote ${four._2} shuffle records against ${one._2}")
      assert(four._1 <= 2 * one._1 && four._1 < 600L * 64 * 4,
        s"4 chunks wrote ${four._1} shuffle bytes against ${one._1} for one chunk")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Search.queryChunkSize = chunk0
      Search.invalidate(store.path)
    }
  }

  test("addAll of zero rows is a no-op; manifest unchanged") {
    val idx = newIndex()
    val before = idx.manifest
    val m = idx.addAll(gaussianDf(0, 3), "embedding", "id")
    assert(m.nextGid == before.nextGid)
    assert(m.segments.map(_.count).sum == 0L)
  }

  test("deleting every row then querying the sealed path returns nothing") {
    val idx = newIndex()
    idx.addAll(gaussianDf(50, 4), "embedding", "id")
    idx.sealPending()
    idx.delete(0L until 50L)
    val q = Seq((0L, Array(0.1f, 0.2f, 0.3f, 0.4f))).toDF("queryId", "qv")
    assert(Search.query(spark, idx.store, q, 5).count() == 0L)
  }

  test("a sealed segment whose codebook vanished yields nothing, loudly-tolerantly, on BOTH query paths") {
    // operational reality: a partially-restored store (codebooks lost,
    // payload intact) must degrade to empty results, never throw or
    // fabricate scores. Codebooks are deleted BEFORE the first query so
    // the sealed-input cache never holds them.
    val idx = newIndex()
    idx.addAll(gaussianDf(50, 9), "embedding", "id")
    idx.sealPending()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx.store.codebooksDir))
    val q = queriesOf(gaussianDf(50, 9), 3)
    assert(Search.query(spark, idx.store, q, 5).count() == 0L)
    assert(Search.queryDistributed(spark, idx.store, q, 5).count() == 0L)
  }

  test("COSINE metric rides the heap merge and the distributed path; normalizeOnRead agrees") {
    val dir = Files.createTempDirectory("graft-edge-cos").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("edgecos", dimension = 4, metric = "COSINE",
      maxSegmentSize = 50, pqM = 2, pqK = 4, graphDegree = 4,
      graphBuildBreadth = 16), 1000L)
    val idx = new SegmentedIndex(spark, store)
    idx.addAll(gaussianDf(40, 13), "embedding", "id")
    idx.sealPending()
    val q = queriesOf(gaussianDf(40, 13), 3)
    val heap = Search.query(spark, store, q, 5)
      .select("queryId", "gid", "score", "distance", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    assert(heap.length == 15)
    // cosine distance must derive from score as 1 - score on the heap path
    heap.foreach { case (_, _, score, dist, _) =>
      assert(math.abs(dist - (1.0 - score)) < 1e-12)
    }
    val dist = Search.queryDistributed(spark, store, q, 5)
      .select("queryId", "gid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(dist == heap.map(t => (t._1, t._2, t._5)).toSet,
      "distributed cosine ranking must equal the bounded heap-merge ranking")
    val nor = Search.query(spark, store, q, 5,
      Some(SearchParams.defaults(5, 4).copy(normalizeOnRead = true)))
      .select("queryId", "gid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(nor == heap.map(t => (t._1, t._2, t._5)).toSet,
      "normalizeOnRead must not change the ranking on finite-norm data")
  }
}
