package graft.index

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/**
 * Search.queryDistributed must be result-identical to Search.query on
 * the same index and batch — the distributed-queries path changes only
 * how query buckets reach the segment tasks (hash-partitioned query
 * buckets paired with the segments by an RDD cartesian, instead of
 * driver-collected broadcast chunks), never the semantics. Exercised
 * across: multi-bucket layouts, tombstones, mixed brute+sealed manifests,
 * and an empty batch.
 *
 * GRAFT_HEAVY=1 adds a 1M-query wall-clock bound: the contract that a
 * query TABLE is a legal input, with nothing query-sized on the driver.
 */
class DistributedQuerySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def newIndex(cap: Int): SegmentedIndex = {
    val dir = Files.createTempDirectory("graft-distq").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("distq", dimension = dim, maxSegmentSize = cap,
      pqM = 2, pqK = 16, graphDegree = 8, graphBuildBreadth = 32,
      oversample = 4), 1000L)
    new SegmentedIndex(spark, store)
  }

  private def gaussianDf(n: Int, seed: Long) = {
    val r = new Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
  }

  private def queriesOf(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.filter(col("id") < n)
      .select(col("id").as("queryId"), col("embedding").as("qv"))

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("queryId"), col("gid"), col("rank"),
        round(col("distance"), 9).as("d"))
      .as[(Long, Long, Long, Double)].collect().toSet

  test("distributed == batch on a sealed index, multi-bucket layout") {
    val idx = newIndex(cap = 50)
    val data = gaussianDf(150, 7) // 3 sealed segments
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    val q = queriesOf(data, 9)
    val batch = resultSet(Search.query(spark, idx.store, q, 10))
    // queriesPerTask=2 → 5 buckets: payload replication and the
    // multi-bucket merge both execute
    val dist = resultSet(
      Search.queryDistributed(spark, idx.store, q, 10, queriesPerTask = 2))
    assert(dist === batch)
    assert(batch.nonEmpty)
  }

  test("distributed == batch with tombstones and a mixed brute+sealed manifest") {
    val idx = newIndex(cap = 40)
    val data = gaussianDf(100, 11) // 2 sealed (80) + 1 ACTIVE (20, brute)
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    idx.addAll(gaussianDf(120, 13).filter(col("id") >= 100), "embedding", "id")
    idx.delete((0L until 100L by 9).toSeq)
    val q = queriesOf(data, 6)
    val batch = resultSet(Search.query(spark, idx.store, q, 8))
    val dist = resultSet(
      Search.queryDistributed(spark, idx.store, q, 8, queriesPerTask = 3))
    assert(dist === batch)
    assert(batch.nonEmpty)
  }

  test("empty query table returns empty, single-bucket degenerate layout") {
    val idx = newIndex(cap = 50)
    val data = gaussianDf(60, 3)
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    val q = queriesOf(data, 0)
    assert(Search.queryDistributed(spark, idx.store, q, 5).count() === 0L)
  }

  test("single-class manifests: sealed-only skips the brute path, active-only skips the cogroup") {
    // sealed-only: drop the trailing empty ACTIVE segment from the
    // manifest — bruteSegs.isEmpty must produce an empty brute side, not
    // a degenerate cross join
    val idx = newIndex(cap = 50)
    val data = gaussianDf(100, 19)
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    val m = idx.manifest
    idx.store.writeManifest(m.copy(segments =
      m.segments.filter(_.state == SegmentState.Sealed)))
    val q = queriesOf(data, 5)
    val sealedOnly = resultSet(
      Search.queryDistributed(spark, idx.store, q, 6, queriesPerTask = 2))
    assert(sealedOnly === resultSet(Search.query(spark, idx.store, q, 6)))
    assert(sealedOnly.nonEmpty)
    // active-only: nothing sealed yet — sealedSegs.isEmpty must produce
    // an empty cogroup side and the brute scan alone must answer
    val idx2 = newIndex(cap = 500)
    val data2 = gaussianDf(80, 23)
    idx2.addAll(data2, "embedding", "id") // under cap: stays ACTIVE
    val q2 = queriesOf(data2, 5)
    val activeOnly = resultSet(
      Search.queryDistributed(spark, idx2.store, q2, 6, queriesPerTask = 2))
    assert(activeOnly === resultSet(Search.query(spark, idx2.store, q2, 6)))
    assert(activeOnly.nonEmpty)
  }

  test("1M-query table completes with bounded tasks (GRAFT_HEAVY)") {
    assume(sys.env.get("GRAFT_HEAVY").contains("1"), "GRAFT_HEAVY not set")
    val idx = newIndex(cap = 1000)
    val data = gaussianDf(2000, 17) // 2 sealed segments of 1000
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    // 1M queries as a generated DataFrame — never collected
    val q = spark.range(1000000).select(
      col("id").as("queryId"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(col("id") * 31 + i * 17, lit(1000)) / 500.0 - 1.0).cast("float"))
        .as("qv"))
    val t0 = System.nanoTime()
    val n = Search.queryDistributed(spark, idx.store, q, 5,
      queriesPerTask = 65536).count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"1M queries x 2 segments: $secs%.1f s, $n rows")
    assert(n === 5000000L)
    assert(secs < 1800.0, s"1M-query distributed KNN took $secs s")
  }
}
