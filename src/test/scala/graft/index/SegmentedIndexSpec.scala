package graft.index

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/** End-to-end lifecycle: ingest → rotation → seal → query → delete.
  * Mirrors the reference's integration invariants (VectorIndexTest.java:
  * 91-122 deterministic assignment, :212-259 recall@10 ≥ 0.9 gate,
  * :124-169 delete hides rows). */
class SegmentedIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tempIndex(meta: IndexMeta): SegmentedIndex = {
    val dir = Files.createTempDirectory("graft-idx").toString
    val store = new IndexStore(dir)
    store.createOrOpen(meta, 1000L)
    new SegmentedIndex(spark, store)
  }

  private def gaussianDf(n: Int, dim: Int, seed: Long) = {
    val r = new Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
  }

  test("ingest assigns deterministic (segId, vecId, gid) with strict-cap rotation") {
    val idx = tempIndex(IndexMeta("t1", dimension = 4, maxSegmentSize = 50,
      pqM = 2, pqK = 4, graphDegree = 4))
    val m1 = idx.addAll(gaussianDf(120, 4, 1), "embedding", "id")
    // 120 rows, cap 50 → segs 0,1 full (PENDING), seg 2 has 20 (ACTIVE)
    val states = m1.segments.map(s => s.segId -> (s.state, s.count)).toMap
    assert(states(0) == (SegmentState.Pending, 50L))
    assert(states(1) == (SegmentState.Pending, 50L))
    assert(states(2) == (SegmentState.Active, 20L))
    assert(m1.nextGid == 120L)

    // i-th vector → ((i/cap), (i%cap)) and gid == i (fresh index)
    val rows = idx.store.readVectors(spark)
      .select("gid", "segId", "vecId").as[(Long, Int, Int)].collect().sortBy(_._1)
    rows.foreach { case (gid, segId, vecId) =>
      assert(segId == (gid / 50).toInt && vecId == (gid % 50).toInt)
    }

    // second batch continues filling the ACTIVE segment
    val m2 = idx.addAll(gaussianDf(40, 4, 2), "embedding", "id")
    val s2 = m2.segments.map(s => s.segId -> (s.state, s.count)).toMap
    assert(s2(2) == (SegmentState.Pending, 50L)) // filled to cap → rotated
    assert(s2(3) == (SegmentState.Active, 10L))
    assert(m2.nextGid == 160L)
  }

  test("exact-cap batch leaves a fresh empty ACTIVE segment") {
    val idx = tempIndex(IndexMeta("t2", dimension = 4, maxSegmentSize = 10,
      pqM = 2, pqK = 4, graphDegree = 4))
    val m1 = idx.addAll(gaussianDf(20, 4, 3), "embedding", "id")
    assert(m1.segments.count(_.state == SegmentState.Pending) == 2)
    val active = m1.active.get
    assert(active.count == 0L)
  }

  test("dimension mismatch throws") {
    val idx = tempIndex(IndexMeta("t3", dimension = 8, maxSegmentSize = 10,
      pqM = 2, pqK = 4, graphDegree = 4))
    intercept[Exception] {
      idx.addAll(gaussianDf(5, 4, 4), "embedding", "id")
    }
  }

  test("maxSegmentSize is a per-task memory bound: oversized configs are rejected at construction") {
    // reference production shape (dim 768 / degree 64 / pqM 16): 100k
    // rows ≈ 341 MB of seal-task memory — well inside the 2 GB budget
    IndexMeta("ok", dimension = 768, maxSegmentSize = 100000)
    // the same shape at 1M rows needs ~3.2 GB in ONE seal task — the
    // validation names the memory and the fix (more, parallel segments)
    val e = intercept[IllegalArgumentException] {
      IndexMeta("big", dimension = 768, maxSegmentSize = 1000000)
    }
    assert(e.getMessage.contains("per-task seal memory") &&
      e.getMessage.contains("split into more"), e.getMessage)
    // low dims admit proportionally larger segments (the bound scales
    // with row bytes, it is not a blanket row cap)
    IndexMeta("low", dimension = 8, maxSegmentSize = 1000000, pqM = 2, pqK = 16)
  }

  test("config mismatch on reopen throws (every knob; reference tests 7 variants)") {
    val dir = Files.createTempDirectory("graft-idx").toString
    val store = new IndexStore(dir)
    val base = IndexMeta("t4", dimension = 8, maxSegmentSize = 10,
      pqM = 2, pqK = 4, graphDegree = 4)
    store.createOrOpen(base, 0L)
    // reopening with the identical config succeeds
    store.createOrOpen(base, 99L)
    val variants = Seq[IndexMeta => IndexMeta](
      _.copy(dimension = 16),
      _.copy(metric = Metric.Cosine.name),
      _.copy(maxSegmentSize = 20),
      _.copy(pqM = 4),
      _.copy(pqK = 8),
      _.copy(graphDegree = 8),
      _.copy(graphAlpha = 1.5),
      _.copy(oversample = 3),
      _.copy(graphBuildMode = GraphBuildMode.Pruned))
    variants.foreach { mutate =>
      intercept[IllegalStateException] { store.createOrOpen(mutate(base), 0L) }
    }
  }

  test("a manifest written before graphBuildMode existed reopens as AUTO") {
    val dir = Files.createTempDirectory("graft-idx").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("t4b", dimension = 8, maxSegmentSize = 10,
      pqM = 2, pqK = 4, graphDegree = 4), 0L)
    // strip the field, simulating a pre-upgrade manifest on disk
    val p = java.nio.file.Paths.get(store.manifestPath)
    val json = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll(""",\s*"graphBuildMode"\s*:\s*"AUTO"""", "")
    Files.write(p, json.getBytes("UTF-8"))
    assert(store.readManifest().meta.graphBuildMode == GraphBuildMode.Auto)
  }

  test("seal builds codes/graph/codebooks for PENDING only; ACTIVE untouched") {
    val idx = tempIndex(IndexMeta("t5", dimension = 8, maxSegmentSize = 50,
      pqM = 4, pqK = 16, graphDegree = 8))
    idx.addAll(gaussianDf(120, 8, 5), "embedding", "id")
    val m1 = idx.sealPending()
    assert(m1.segments.filter(_.segId <= 1).forall(_.state == SegmentState.Sealed))
    assert(m1.segment(2).get.state == SegmentState.Active)
    val codeSegs = idx.store.readCodes(spark).select("segId").distinct()
      .as[Int].collect().toSet
    assert(codeSegs == Set(0, 1))
    assert(idx.store.readCodebooks(spark).count() == 2)
    // every sealed vector has a code and an adjacency row
    assert(idx.store.readCodes(spark).count() == 100)
    assert(idx.store.readGraph(spark).count() == 100)
    // seal is idempotent / re-run safe
    val m2 = idx.sealPending()
    assert(m2.segments.map(_.state) == m1.segments.map(_.state))
  }

  test("recall@10 ≥ 0.9: sealed path vs brute-force oracle (reference quality gate)") {
    val dim = 8
    val idx = tempIndex(IndexMeta("t6", dimension = dim, maxSegmentSize = 50,
      pqM = 4, pqK = 16, graphDegree = 16, graphBuildBreadth = 64, graphAlpha = 1.2,
      oversample = 2))
    val data = gaussianDf(200, dim, 42).cache()
    idx.addAll(data, "embedding", "id")
    idx.sealPending()

    val k = 10
    // self-queries: 20 of the indexed vectors
    val queries = data.filter(col("id") < 20)
      .select(col("id").as("queryId"), col("embedding").as("qv"))

    val got = Search.query(spark, idx.store, queries, k)
      .select("queryId", "gid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // brute-force oracle on the driver
    val all = data.select("id", "embedding").as[(Long, Array[Float])].collect()
    val qs = all.filter(_._1 < 20)
    var hit = 0; var total = 0
    qs.foreach { case (qid, qv) =>
      val expect = all.sortBy { case (gid, v) => (Distances.l2Squared(qv, v), gid) }
        .take(k).map(_._1).toSet
      val actual = got.getOrElse(qid, Set.empty)
      hit += expect.intersect(actual).size
      total += k
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.9, s"recall@10 = $recall < 0.9")
  }

  test("recall@10 ≥ 0.9 at n=1000, 100 queries (reference parallel-query gate)") {
    // reference: VectorIndexTest.java:506-563 — n=1000, maxSegmentSize=200,
    // pqM=4, pqK=16, graphDegree=16, 100 queries, k=10
    val dim = 8
    val idx = tempIndex(IndexMeta("theavy", dimension = dim, maxSegmentSize = 200,
      pqM = 4, pqK = 16, graphDegree = 16, graphBuildBreadth = 64, graphAlpha = 1.2,
      oversample = 2))
    val data = gaussianDf(1000, dim, 1234).cache()
    idx.addAll(data, "embedding", "id")
    idx.sealPending()

    val k = 10
    val queries = data.filter(col("id") < 100)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val got = Search.query(spark, idx.store, queries, k)
      .select("queryId", "gid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val all = data.select("id", "embedding").as[(Long, Array[Float])].collect()
    var hit = 0
    all.filter(_._1 < 100).foreach { case (qid, qv) =>
      val expect = all.sortBy { case (gid, v) => (Distances.l2Squared(qv, v), gid) }
        .take(k).map(_._1).toSet
      hit += expect.intersect(got.getOrElse(qid, Set.empty)).size
    }
    val recall = hit.toDouble / (100 * k)
    assert(recall >= 0.9, s"recall@10 = $recall < 0.9 (n=1000)")
  }

  test("40-segment fan-out: sealed results exact-match brute force at recall-1.0 config") {
    // high segment fan-out exercises the cogroup + per-segment cap +
    // bounded-heap global merge at 5-20x the segment counts other suites
    // reach; ef 160 >> 50-row segments pins recall at 1.0, so the result
    // must EQUAL exact KNN row-for-row, not just overlap it
    val dim = 8
    val idx = tempIndex(IndexMeta("t40", dimension = dim, maxSegmentSize = 50,
      pqM = 4, pqK = 16, graphDegree = 8, graphBuildBreadth = 32, graphAlpha = 1.2,
      oversample = 4))
    val data = gaussianDf(2000, dim, 7).cache()
    idx.addAll(data, "embedding", "id")
    idx.sealPending()
    val m = idx.manifest
    assert(m.segments.count(_.state == SegmentState.Sealed) == 40)

    val k = 5
    val queries = data.filter(col("id") < 8)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val got = Search.query(spark, idx.store, queries, k)
      .select("queryId", "gid", "rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    val all = data.select("id", "embedding").as[(Long, Array[Float])].collect()
    all.filter(_._1 < 8).foreach { case (qid, qv) =>
      val expect = all.sortBy { case (gid, v) => (Distances.l2Squared(qv, v), gid) }
        .take(k).map(_._1).toSeq
      assert(got(qid) == expect, s"query $qid: ${got(qid)} != $expect")
    }
  }

  test("score conventions and WRITING invisibility") {
    val dim = 4
    val idx = tempIndex(IndexMeta("t7", dimension = dim, maxSegmentSize = 100,
      pqM = 2, pqK = 4, graphDegree = 4, metric = Metric.Cosine.name))
    idx.addAll(gaussianDf(30, dim, 7), "embedding", "id")
    val queries = gaussianDf(2, dim, 8)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val res = Search.query(spark, idx.store, queries, 5).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val score = r.getAs[Double]("score")
      val dist = r.getAs[Double]("distance")
      assert(math.abs((1.0 - score) - dist) < 1e-9) // cosine convention
    }
    // flip the ACTIVE segment to WRITING → invisible to search
    val m = idx.manifest
    idx.store.writeManifest(m.copy(segments =
      m.segments.map(_.copy(state = SegmentState.Writing))))
    assert(Search.query(spark, idx.store, queries, 5).count() == 0)
  }

  test("delete tombstones rows, updates counters, hides from search") {
    val dim = 4
    val idx = tempIndex(IndexMeta("t8", dimension = dim, maxSegmentSize = 100,
      pqM = 2, pqK = 4, graphDegree = 4))
    val data = gaussianDf(20, dim, 9).cache()
    idx.addAll(data, "embedding", "id")
    val m1 = idx.delete(Seq(0L, 1L, 2L))
    assert(m1.segment(0).get.count == 17L && m1.segment(0).get.deletedCount == 3L)

    // deleted gids never appear in results (self-query would otherwise hit)
    val queries = data.filter(col("id") < 3)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val gids = Search.query(spark, idx.store, queries, 5)
      .select("gid").as[Long].collect().toSet
    assert(gids.intersect(Set(0L, 1L, 2L)).isEmpty)

    // resolveIds: deleted/missing → (-1,-1)
    val resolved = idx.resolveIds(Seq(0L, 5L, 999L))
    assert(resolved(0L) == (-1, -1) && resolved(999L) == (-1, -1))
    assert(resolved(5L) == (0, 5))
  }

  test("sealing an empty PENDING segment writes an explicit zero codebook; queries stay safe") {
    // reference parity: SegmentBuildService.java:143-157,377-387 seals
    // degenerate segments with an all-zero codebook rather than leaving a
    // SEALED segment without artifacts
    val dim = 4
    val idx = tempIndex(IndexMeta("t9", dimension = dim, maxSegmentSize = 10,
      pqM = 2, pqK = 4, graphDegree = 4, graphBuildBreadth = 16))
    val data = gaussianDf(7, dim, 11).cache()
    idx.addAll(data, "embedding", "id")

    // an empty PENDING segment — the shape a crashed ingest or an
    // exact-cap rotation can leave behind
    val m0 = idx.store.readManifest()
    idx.store.writeManifest(
      m0.withSegment(SegmentMeta(5, SegmentState.Pending, 0L, 0L, 0L)).copy(nextSegId = 6))

    idx.sealPending()
    val m1 = idx.store.readManifest()
    assert(m1.segment(5).get.state == SegmentState.Sealed)

    val cb = idx.store.readCodebooks(spark).filter(col("segId") === 5).collect()
    assert(cb.length == 1)
    assert(cb.head.m == 2 && cb.head.k == 4 && cb.head.subDim == 2)
    assert(cb.head.centroids.length == 2 * 4 * 2 && cb.head.centroids.forall(_ == 0f))
    // no codes/graph rows for the empty segment
    assert(idx.store.readCodes(spark).filter(col("segId") === 5).count() == 0)

    // the sealed-but-empty segment contributes nothing; queries answer
    // from the remaining data without error
    val q = data.filter(col("id") === 3)
      .select(col("id").as("queryId"), col("embedding").as("qv"))
    val top = Search.query(spark, idx.store, q, 3).select("gid").as[Long].collect()
    assert(top.nonEmpty && top.head == 3L)
  }
}
