package graft.index

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/** Both query entries search and score inside each segment task, sealed
  * and brute segments alike. Their answer must be the one the join
  * formulation gives — approximate candidates joined back to the vectors
  * table, a brute cross join, exact scores from the codegen'd
  * expressions, a per-(query, segment) cap window and a global rank
  * window — written once below as the oracle, bit for bit, on every metric
  * and both entries. */
class SealedRerankSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 8
  private val K = 5

  /** Four sealed segments of 40 rows and an ACTIVE tail of 15. Fifty
    * vectors are inserted three times each, so scores tie and the gid
    * tie-break decides; one of them is the zero vector (the cosine guards).
    * Then: tombstones in two sealed segments (one keeps 3 live rows, fewer
    * than k), one sealed segment marked COMPACTING, and one sealed segment
    * whose codebook is gone. */
  private def fixture(metric: String): (IndexStore, Array[(Long, Array[Float])]) = {
    val dir = Files.createTempDirectory(s"graft-rerank-$metric").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("rerank", dimension = Dim, metric = metric,
      maxSegmentSize = 40, pqM = 4, pqK = 16, graphDegree = 8,
      graphBuildBreadth = 32, oversample = 2), 1000L)
    val idx = new SegmentedIndex(spark, store)
    val r = new Random(41)
    val base = Array.fill(50)(Array.fill(Dim)(r.nextGaussian().toFloat))
    base(7) = new Array[Float](Dim)
    val rows = (base ++ base ++ base ++ Array.fill(25)(Array.fill(Dim)(r.nextGaussian().toFloat)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    idx.addAll(rows.take(160).toSeq.toDF("id", "embedding"), "embedding", "id")
    idx.sealPending()
    idx.addAll(rows.drop(160).toSeq.toDF("id", "embedding"), "embedding", "id")
    // gids follow insert order: segment s holds gids 40s .. 40s+39
    idx.delete((40L until 77L) ++ Seq(3L, 11L, 12L, 130L))
    val m = store.readManifest()
    assert(m.segments.count(_.state == SegmentState.Sealed) == 4)
    val sealedIds = m.segments.filter(_.state == SegmentState.Sealed).map(_.segId).sorted
    store.writeManifest(m.copy(segments = m.segments.map(s =>
      if (s.segId == sealedIds(2)) s.copy(state = SegmentState.Compacting) else s)))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${store.codebooksDir}/segId=${sealedIds(3)}"))
    val queries = Array(0, 7, 9, 60, 110, 171).map(i => rows(i)) ++
      Array.fill(4)(Array.fill(Dim)(r.nextGaussian().toFloat)).zipWithIndex
        .map { case (v, i) => (1000L + i, v) }
    (store, queries)
  }

  /** The join formulation of the sealed rerank and the windowed cap and
    * merge, over the same approximate candidates. */
  private def oracle(
      store: IndexStore,
      queriesDf: DataFrame,
      queries: Array[(Long, Array[Float])],
      params: SearchParams): DataFrame = {
    val m = store.readManifest()
    val metric = m.meta.metricEnum
    val perSegLimit = K * math.max(1, m.meta.oversample)
    val sealedSegs = m.segments
      .filter(s => s.state == SegmentState.Sealed || s.state == SegmentState.Compacting).map(_.segId)
    val bruteSegs = m.segments
      .filter(s => s.state == SegmentState.Active || s.state == SegmentState.Pending).map(_.segId)
    val codebooks = store.readCodebooks(spark).collect().map(c => c.segId -> c).toMap
    val codes = store.readCodes(spark).collect().groupBy(_.segId)
    val graph = store.readGraph(spark).collect().groupBy(_.segId)
    val candidates = for {
      segId <- sealedSegs if codebooks.contains(segId)
      cbr = codebooks(segId)
      cb = Pq.Codebook(cbr.m, cbr.k, cbr.subDim, cbr.centroids)
      codeMap = codes.getOrElse(segId, Array.empty[CodeRow]).map(c => c.vecId -> c.code).toMap
      adj = graph.getOrElse(segId, Array.empty[GraphRow]).map(g => g.vecId -> g.neighbors).toMap
      (qid, qv) <- queries.toSeq
      a <- SegmentSearch.searchSealed(segId, cb, qv, codeMap, adj, perSegLimit, params)
    } yield (qid, segId, a.vecId)
    val vectors = store.readVectors(spark)
    val brute = Search.scored(vectors.filter(col("segId").isin(bruteSegs: _*)).filter(!col("deleted"))
      .crossJoin(queriesDf), metric, params.normalizeOnRead)
    val sealedRows = Search.scored(vectors.filter(col("segId").isin(sealedSegs: _*))
      .join(candidates.toDF("queryId", "segId", "vecId"), Seq("segId", "vecId"))
      .filter(!col("deleted"))
      .join(queriesDf, Seq("queryId")), metric, params.normalizeOnRead)
    val cols = Seq("queryId", "segId", "gid", "score", "distance", "payload").map(col)
    brute.select(cols: _*).unionByName(sealedRows.select(cols: _*))
      .withColumn("segRank", row_number().over(
        Window.partitionBy(col("queryId"), col("segId")).orderBy(col("score").desc, col("gid"))))
      .filter(col("segRank") <= perSegLimit)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("queryId")).orderBy(col("score").desc, col("gid"))))
      .filter(col("rank") <= K)
  }

  /** Rows as comparable values: doubles by their bits. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long, Long, Seq[Byte], Int)] =
    df.select("queryId", "gid", "score", "distance", "payload", "rank").collect().toSeq
      .map { (r: Row) =>
        (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
          Option(r.getAs[Array[Byte]](4)).map(_.toSeq).orNull, r.getInt(5))
      }.sorted(Ordering.by((t: (Long, Long, Long, Long, Seq[Byte], Int)) => (t._1, t._6)))

  for ((metric, normalize) <- Seq(("L2", false), ("COSINE", false), ("COSINE", true))) {
    test(s"in-task rerank equals the join formulation bit for bit: $metric, normalizeOnRead=$normalize") {
      val (store, queries) = fixture(metric)
      val queriesDf = queries.toSeq.toDF("queryId", "qv")
      val params = SearchParams.defaults(K, 2).copy(normalizeOnRead = normalize)
      val expected = bits(oracle(store, queriesDf, queries, params))
      // every query fills k from the surviving segments
      assert(expected.length == queries.length * K)
      // the fixture exercises the gid tie-break inside the top-k
      assert(expected.groupBy(t => (t._1, t._3)).exists(_._2.size > 1))
      assert(bits(Search.query(spark, store, queriesDf, K, Some(params))) == expected, "query")
      // 10 queries in 4 buckets
      assert(bits(Search.queryDistributed(spark, store, queriesDf, K, Some(params),
        queriesPerTask = 3)) == expected, "queryDistributed")
      Search.invalidate(store.path)
    }
  }

  test("one bounded-batch query runs at most 2 Spark jobs") {
    // 2 on this fixture: the top-k merge's map and result stages. Sealed
    // and brute segment tasks read their own files, so no exchange,
    // broadcast join or job of its own feeds them. Measured with the state
    // already cached.
    val (store, queries) = fixture("L2")
    val queriesDf = queries.toSeq.toDF("queryId", "qv")
    Search.query(spark, store, queriesDf, K).collect() // fills the state cache
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("rerank-query", "query")
      Search.query(spark, store, queriesDf, K).collect()
      // a marker job: the listener bus delivers its start after every
      // earlier event
      sc.setJobGroup("rerank-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.containsValue("rerank-drain") && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Search.invalidate(store.path)
    }
    val ran = jobs.values.toArray.count(_ == "rerank-query")
    println(s"[rerank jobs] query=$ran")
    assert(ran <= 2, s"a query ran $ran Spark jobs")
  }
}
