package graft.index

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/** Expiry semantics of the sealed-input cache (reference parity:
  * SegmentCaches.java:39-45 — expireAfterAccess(10 min) + size bound).
  * The clock is injected so the tests control time; every test restores
  * the production clock/TTL in a finally. */
class CacheExpirySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sealedIndex(seed: Long): SegmentedIndex = {
    val dir = Files.createTempDirectory("graft-exp").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta("exp", dimension = 4, maxSegmentSize = 50,
      pqM = 2, pqK = 4, graphDegree = 4, graphBuildBreadth = 16), 1000L)
    val idx = new SegmentedIndex(spark, store)
    val r = new Random(seed)
    val df = (0 until 100).map(i => (i.toLong, Array.fill(4)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
    idx.addAll(df, "embedding", "id")
    idx.sealPending()
    idx
  }

  private def q(idx: SegmentedIndex) =
    idx.store.readVectors(spark).filter(col("gid") < 2)
      .select(col("gid").as("queryId"), col("embedding").as("qv"))

  test("an entry idle past the TTL is evicted and its blocks released") {
    val clock0 = Search.clock
    val ttl0 = Search.ttlNanos
    val grace0 = Search.graceNanos
    var now = 1L
    try {
      Search.clock = () => now
      Search.ttlNanos = 1000L
      Search.graceNanos = 0L // park-and-release immediately in this test
      val a = sealedIndex(31)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      Search.query(spark, a.store, q(a), 5).collect()
      assert(Search.cachedPaths.contains(a.store.path))
      val aRdds = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(aRdds.nonEmpty, "sealed query should persist its inputs")

      now += Search.ttlNanos + 1 // A idles past the TTL
      val b = sealedIndex(32)
      Search.query(spark, b.store, q(b), 5).collect() // access sweeps A out
      assert(!Search.cachedPaths.contains(a.store.path), "idle entry not expired")
      assert((spark.sparkContext.getPersistentRDDs.keySet & aRdds).isEmpty,
        "expired entry's persisted blocks not released")
      Search.invalidate(b.store.path) // leave no residue for other suites
    } finally {
      Search.clock = clock0
      Search.ttlNanos = ttl0
      Search.graceNanos = grace0
    }
  }

  test("a TTL-expired entry parks for the grace period before its blocks release") {
    val clock0 = Search.clock
    val ttl0 = Search.ttlNanos
    val grace0 = Search.graceNanos
    var now = 1L
    try {
      Search.clock = () => now
      Search.ttlNanos = 1000L
      Search.graceNanos = 5000L
      val a = sealedIndex(36)
      Search.query(spark, a.store, q(a), 5).collect()
      // A is live — not parked (other suites may have parked THEIR paths)
      assert(Search.graceSnapshot.forall(_._2 != a.store.path))

      now += Search.ttlNanos + 1 // A idles past the TTL
      Search.drainExpired()
      assert(!Search.cachedPaths.contains(a.store.path), "idle entry not expired")
      val parked = Search.graceSnapshot.filter(_._2 == a.store.path)
      assert(parked.nonEmpty, "TTL-expired entry must park, not release —" +
        " a query planned against it can still be in flight")
      assert(parked.forall(_._3.state.getStorageLevel.useMemory),
        "TTL-expired entry's blocks released before the grace period")

      now += Search.graceNanos + 1
      Search.drainExpired()
      assert(Search.graceSnapshot.forall(_._2 != a.store.path))
      assert(parked.forall(!_._3.state.getStorageLevel.useMemory),
        "grace-listed blocks not released after the grace period")
    } finally {
      Search.clock = clock0
      Search.ttlNanos = ttl0
      Search.graceNanos = grace0
    }
  }

  test("a hit refreshes the access time — a busy entry never expires") {
    val clock0 = Search.clock
    val ttl0 = Search.ttlNanos
    var now = 1L
    try {
      Search.clock = () => now
      Search.ttlNanos = 1000L
      val a = sealedIndex(33)
      Search.query(spark, a.store, q(a), 5).collect()
      (1 to 3).foreach { _ =>
        now += 800L // always within TTL of the LAST access
        Search.query(spark, a.store, q(a), 5).collect()
        assert(Search.cachedPaths.contains(a.store.path))
      }
      Search.invalidate(a.store.path)
    } finally {
      Search.clock = clock0
      Search.ttlNanos = ttl0
    }
  }

  test("a superseded entry parks on the grace list, then releases after the grace period") {
    val clock0 = Search.clock
    val grace0 = Search.graceNanos
    var now = 1L
    try {
      Search.clock = () => now
      Search.graceNanos = 1000L
      val a = sealedIndex(34)
      Search.query(spark, a.store, q(a), 5).collect()

      // supersede: seal a new segment → new manifest version; assert
      // through the parked entry's RDD storage level
      val r = new Random(7)
      val more = (100 until 150).map(i => (i.toLong, Array.fill(4)(r.nextGaussian().toFloat)))
        .toDF("id", "embedding")
      a.addAll(more, "embedding", "id")
      a.sealPending()
      Search.query(spark, a.store, q(a), 5).collect() // rebuild under new version
      val parked = Search.graceSnapshot.filter(_._2 == a.store.path)
      assert(parked.nonEmpty, "superseded entry should park on the grace list")
      assert(parked.forall(_._3.state.getStorageLevel.useMemory),
        "superseded entry must NOT unpersist immediately (in-flight queries)")

      now += Search.graceNanos + 1
      Search.query(spark, a.store, q(a), 5).collect() // any access sweeps
      assert(Search.graceSnapshot.forall(_._2 != a.store.path),
        "grace list not drained after the grace period")
      assert(parked.forall(!_._3.state.getStorageLevel.useMemory),
        "grace-listed blocks not released after the grace period")
      Search.invalidate(a.store.path)
    } finally {
      Search.clock = clock0
      Search.graceNanos = grace0
    }
  }

  test("size overflow evicts the LEAST-RECENTLY-USED store, and a hit refreshes LRU order") {
    val clock0 = Search.clock
    val grace0 = Search.graceNanos
    val max0 = Search.maxCachedStores
    var now = 1L
    try {
      Search.clock = () => now
      Search.graceNanos = 0L // overflow evictions release immediately here
      Search.maxCachedStores = 2
      val a = sealedIndex(41)
      val b = sealedIndex(42)
      val c = sealedIndex(43)
      Search.query(spark, a.store, q(a), 5).collect()
      Search.query(spark, b.store, q(b), 5).collect()
      // refresh A: it must move to most-recently-used, so the overflow
      // below evicts B, not the insertion-older A
      Search.query(spark, a.store, q(a), 5).collect()
      Search.query(spark, c.store, q(c), 5).collect() // 3rd store overflows
      assert(Search.cachedPaths.contains(a.store.path),
        "LRU overflow evicted a store that was hit after B — eviction is " +
          "running in insertion order, not access order")
      assert(!Search.cachedPaths.contains(b.store.path),
        "3rd store did not evict the least-recently-used entry")
      assert(Search.cachedPaths.contains(c.store.path))
      // evicted-then-requeried store rebuilds and re-caches (evicting A)
      Search.query(spark, b.store, q(b), 5).collect()
      assert(Search.cachedPaths.contains(b.store.path))
      Seq(a, b, c).foreach(i => Search.invalidate(i.store.path))
    } finally {
      Search.clock = clock0
      Search.graceNanos = grace0
      Search.maxCachedStores = max0
    }
  }

  test("invalidate releases both cached and grace-listed entries for a path") {
    val clock0 = Search.clock
    val grace0 = Search.graceNanos
    var now = 1L
    try {
      Search.clock = () => now
      Search.graceNanos = 1000L * 1000 * 1000 // long grace — invalidate must bypass it
      val a = sealedIndex(35)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      Search.query(spark, a.store, q(a), 5).collect()
      val r = new Random(8)
      val more = (100 until 150).map(i => (i.toLong, Array.fill(4)(r.nextGaussian().toFloat)))
        .toDF("id", "embedding")
      a.addAll(more, "embedding", "id")
      a.sealPending()
      Search.query(spark, a.store, q(a), 5).collect() // old entry now grace-listed
      val aRdds = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(aRdds.nonEmpty)

      Search.invalidate(a.store.path)
      assert(!Search.cachedPaths.contains(a.store.path))
      assert((spark.sparkContext.getPersistentRDDs.keySet & aRdds).isEmpty,
        "invalidate must release blocks immediately (files are about to be deleted)")
    } finally {
      Search.clock = clock0
      Search.graceNanos = grace0
    }
  }
}
