package graft.maintenance

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._
import graft.index.{IndexStore, Search, SegmentedIndex}

/** Maintenance invariants mirrored from the reference
  * (VectorIndexTest.java:124-170 vacuum flow + cooldown,
  * CompactionPlannerAndThrottlingTest.java:53-424 planner,
  * GidCompactionStabilityTest.java:52 gid stability). */
class MaintenanceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newIndex(metaName: String, cap: Int = 50): (SegmentedIndex, Maintenance) = {
    val dir = Files.createTempDirectory("graft-maint").toString
    val store = new IndexStore(dir)
    store.createOrOpen(IndexMeta(metaName, dimension = 4, maxSegmentSize = cap,
      pqM = 2, pqK = 4, graphDegree = 4, graphBuildBreadth = 16), 1000L)
    val idx = new SegmentedIndex(spark, store)
    (idx, new Maintenance(idx))
  }

  private def gaussianDf(n: Int, seed: Long) = {
    val r = new Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(4)(r.nextGaussian().toFloat)))
      .toDF("id", "embedding")
  }

  test("vacuum policy: ratio threshold and cooldown") {
    val maint = newIndex("mv1")._2
    val base = SegmentMeta(0, SegmentState.Sealed, 80, 20, 0L) // ratio 0.2
    assert(!maint.shouldVacuum(base, nowMs = 100000))
    val frag = base.copy(count = 70, deletedCount = 30) // ratio 0.3
    assert(maint.shouldVacuum(frag, nowMs = 100000))
    // cooldown: vacuumed recently → skip
    assert(!maint.shouldVacuum(frag.copy(lastVacuumAtMs = 90000), nowMs = 100000))
    assert(maint.shouldVacuum(frag.copy(lastVacuumAtMs = 30000), nowMs = 100000))
  }

  test("vacuum physically removes tombstones + codes + graph rows; counters update") {
    val (idx, maint) = newIndex("mv2", cap = 40)
    idx.addAll(gaussianDf(40, 1), "embedding", "id") // one full PENDING segment
    idx.sealPending()
    idx.delete((0L until 12L))
    val before = idx.manifest.segment(0).get
    assert(before.count == 28 && before.deletedCount == 12)

    val removed = maint.vacuumSegment(0, nowMs = 77777)
    assert(removed == 12)
    val after = idx.manifest.segment(0).get
    assert(after.count == 28 && after.deletedCount == 0 && after.lastVacuumAtMs == 77777)
    assert(idx.store.readVectors(spark).filter(col("segId") === 0).count() == 28)
    assert(idx.store.readCodes(spark).filter(col("segId") === 0).count() == 28)
    assert(idx.store.readGraph(spark).filter(col("segId") === 0).count() == 28)
    // dangling neighbor ids are tolerated: search still works and never
    // returns the vacuumed gids
    val queries = gaussianDf(3, 2).select(col("id").as("queryId"), col("embedding").as("qv"))
    val gids = Search.query(spark, idx.store, queries, 5).select("gid").as[Long].collect()
    assert(gids.nonEmpty && gids.forall(_ >= 12))
  }

  test("vacuum below ratio threshold is a no-op") {
    val (idx, maint) = newIndex("mv3", cap = 40)
    idx.addAll(gaussianDf(40, 3), "embedding", "id")
    idx.sealPending()
    idx.delete(Seq(0L)) // ratio 1/40 < 0.25
    assert(maint.vacuumSegment(0, nowMs = 1) == 0)
    assert(idx.store.readVectors(spark).filter(col("segId") === 0).count() == 40)
  }

  test("compaction planner: weights, budget, thresholds (reference formulas)") {
    val (idx, maint) = newIndex("mp1", cap = 100)
    // hand-build a manifest of sealed segments
    val m0 = idx.manifest
    val segs = List(
      SegmentMeta(0, SegmentState.Sealed, 10, 10, createdAtMs = 1000), // old, small, fragmented
      SegmentMeta(1, SegmentState.Sealed, 20, 10, createdAtMs = 2000),
      SegmentMeta(2, SegmentState.Sealed, 90, 0, createdAtMs = 9000), // big, fresh, clean
      SegmentMeta(3, SegmentState.Active, 5, 0, createdAtMs = 9500))
    idx.store.writeManifest(m0.copy(segments = segs, nextSegId = 4))

    val picked = maint.findCompactionCandidates(anchorSegId = 0)
    // segment 0 scores highest (anchor too); seg 1 next; budget 80 stops
    // before the huge fresh seg 2 is needed (10+20 < 80 → it tries 2, sum 120 ≥ 80)
    assert(picked.startsWith(Seq(0, 1)))
    assert(picked.size >= 2 && picked.size <= 8)

    // all-clean segments → avgFrag < 0.1 → no candidates
    idx.store.writeManifest(m0.copy(segments = segs.map(_.copy(deletedCount = 0)), nextSegId = 4))
    assert(maint.findCompactionCandidates(0).isEmpty)

    // fewer than minSegments sealed → none
    idx.store.writeManifest(m0.copy(segments = segs.take(1), nextSegId = 4))
    assert(maint.findCompactionCandidates(0).isEmpty)
  }

  test("compaction throttling: in-flight cap and non-SEALED candidates refused") {
    val (idx, maint) = newIndex("mp2", cap = 100)
    val m0 = idx.manifest
    idx.store.writeManifest(m0.copy(segments = List(
      SegmentMeta(0, SegmentState.Sealed, 10, 5, 1000),
      SegmentMeta(1, SegmentState.Compacting, 10, 5, 1000),
      SegmentMeta(2, SegmentState.Sealed, 10, 5, 1000)), nextSegId = 3))
    assert(maint.countInFlightCompactions == 1)
    assert(!maint.markCandidatesCompacting(Seq(0, 2))) // throttle: max 1 in flight
    idx.store.writeManifest(m0.copy(segments = List(
      SegmentMeta(0, SegmentState.Sealed, 10, 5, 1000),
      SegmentMeta(1, SegmentState.Sealed, 10, 5, 1000)), nextSegId = 2))
    assert(!maint.markCandidatesCompacting(Seq(0, 5))) // unknown segment
    assert(maint.markCandidatesCompacting(Seq(0, 1)))
    assert(idx.manifest.segments.forall(_.state == SegmentState.Compacting))
  }

  test("compaction merges live rows, keeps gids stable, swaps registry atomically") {
    val (idx, maint) = newIndex("mc1", cap = 30)
    idx.addAll(gaussianDf(60, 5), "embedding", "id") // segs 0,1 full PENDING
    idx.sealPending()
    idx.delete(Seq(3L, 4L, 33L, 34L, 35L))

    // exact-cap ingest already opened empty ACTIVE segment 2 → compaction
    // target is segment 3
    val newSeg = maint.compactSegments(Seq(0, 1), nowMs = 5555)
    assert(newSeg == 3)
    val m = idx.manifest
    assert(m.segment(0).isEmpty && m.segment(1).isEmpty)
    assert(m.segment(3).get.state == SegmentState.Sealed)
    assert(m.segment(3).get.count == 55)

    // gid stability: all surviving gids present exactly once in the new segment
    val rows = idx.store.readVectors(spark)
      .filter(col("segId") === 3).select("gid").as[Long].collect().sorted
    val expect = (0L until 60L).filterNot(Set(3L, 4L, 33L, 34L, 35L))
    assert(rows.toSeq == expect)

    // old partitions physically gone
    assert(!Files.exists(java.nio.file.Paths.get(s"${idx.store.vectorsDir}/segId=0")))

    // search works against the compacted segment and resolves gids
    val queries = gaussianDf(2, 6).select(col("id").as("queryId"), col("embedding").as("qv"))
    assert(Search.query(spark, idx.store, queries, 5).count() == 10)
    val resolved = idx.resolveIds(Seq(5L, 3L))
    assert(resolved(5L)._1 == 3 && resolved(3L) == (-1, -1))
  }

  test("sweep chains vacuum into compaction when a fragmented neighbor joins the set") {
    // the vec_knn_post_vacuum gate scenario at unit scale: seg 0 deleted
    // 2/3 (vacuumed → under-half anchor, frag resets to 0), seg 1 at 20%
    // deletion (below the vacuum ratio) supplies the picked set's
    // fragmentation, so ONE sweep reports both phases
    val (idx, maint) = newIndex("swp", cap = 50)
    idx.addAll(gaussianDf(150, 11), "embedding", "id") // segs 0,1,2 full
    idx.sealPending()
    idx.delete((0L until 50L).filter(_ % 3 != 0) ++ (50L until 100L).filter(_ % 5 == 0))
    val (vacuumed, compacted) = maint.sweep(nowMs = 999999L)
    assert(vacuumed == Seq(0))
    assert(compacted == 1)
    // the compacted segment holds seg 0+1 survivors, gids stable,
    // seg 1's tombstones dropped during the copy
    val m = idx.manifest
    val newSeg = m.segments.filter(_.state == SegmentState.Sealed)
      .filterNot(s => s.segId == 2).maxBy(_.segId)
    assert(newSeg.count == 17 + 40) // 50-33 deleted in seg0, 50-10 in seg1
    assert(newSeg.deletedCount == 0)
    assert(m.segment(0).isEmpty && m.segment(1).isEmpty) // sources dropped
  }

  /** Every physical and registry fact the sweep can change: the manifest
    * (segIds, states, counts) and the rows of all four tables. */
  private def snapshot(idx: SegmentedIndex) = {
    val st = idx.store
    (idx.manifest.segments.map(s => (s.segId, s.state, s.count, s.deletedCount)),
      st.readVectors(spark).collect().map(r => (r.gid, r.segId, r.vecId, r.deleted)).sorted.toSeq,
      st.readCodes(spark).collect().map(r => (r.segId, r.vecId, r.code.toSeq)).sortBy(r => (r._1, r._2)).toSeq,
      st.readGraph(spark).collect().map(r => (r.segId, r.vecId, r.neighbors.toSeq)).sortBy(r => (r._1, r._2)).toSeq,
      st.readCodebooks(spark).collect().map(r => (r.segId, r.m, r.k, r.subDim, r.centroids.toSeq)).sortBy(_._1).toSeq)
  }

  /** The chain `sweep` fuses, through its public steps: vacuum every due
    * segment, then compact on every vacuumed anchor under half full. Each
    * surviving compacted segment is then rebuilt from the vectors table,
    * as the copy-then-build compaction did, so the comparison also pins the
    * in-task build to the table build. */
  private def chainSweep(maint: Maintenance, nowMs: Long): (Seq[Int], Int) = {
    val vacuumed = maint.segmentsNeedingVacuum(nowMs).filter(maint.vacuumSegment(_, nowMs) > 0)
    val built = vacuumed.filter(maint.suggestsCompaction).map(maint.maybeCompact(_, nowMs)).filter(_ >= 0)
    maint.index.buildArtifacts(built.filter(maint.index.manifest.segment(_).isDefined))
    (vacuumed, built.size)
  }

  /** Twin indexes over the same rows and deletes; one runs `sweep`, the
    * other the step-by-step chain. Returns the sweep's report and index. */
  private def assertSweepMatchesChain(name: String, rows: Int, deletes: Seq[Long]): ((Seq[Int], Int), SegmentedIndex) = {
    val twins = Seq(s"${name}f", s"${name}c").map { n =>
      val (idx, maint) = newIndex(n, cap = 50)
      idx.addAll(gaussianDf(rows, 11), "embedding", "id")
      idx.sealPending()
      idx.delete(deletes)
      (idx, maint)
    }
    val nowMs = 999999L
    val fused = twins(0)._2.sweep(nowMs)
    val chain = chainSweep(twins(1)._2, nowMs)
    assert(fused == chain)
    val (a, b) = (snapshot(twins(0)._1), snapshot(twins(1)._1))
    assert(a._1 == b._1, "manifest")
    assert(a._2 == b._2, "vectors")
    assert(a._3 == b._3, "codes")
    assert(a._4 == b._4, "graph")
    assert(a._5 == b._5, "codebooks")
    (fused, twins(0)._1)
  }

  private val twoThirdsOfSeg0 = (0L until 50L).filter(_ % 3 != 0)

  test("sweep equals the vacuum-then-compact chain: one anchor") {
    val (report, _) = assertSweepMatchesChain("eq1", 150, twoThirdsOfSeg0 ++ (50L until 100L).filter(_ % 5 == 0))
    assert(report == (Seq(0), 1))
  }

  test("sweep equals the chain: the first compaction consumes the second anchor") {
    // segs 0 and 1 both vacuum under half full (17 live of 50); seg 2 at
    // 20% deletion supplies the fragmentation; the set anchored on 0 picks
    // {0, 1, 2}, so anchor 1 is gone when its turn comes
    val (report, _) = assertSweepMatchesChain("eq2", 200,
      twoThirdsOfSeg0 ++ twoThirdsOfSeg0.map(_ + 50L) ++ (100L until 150L).filter(_ % 5 == 0))
    assert(report == (Seq(0, 1), 1))
  }

  test("sweep equals the chain: a refused compaction still vacuums on disk") {
    // only seg 0 is fragmented: the set's average fragmentation after the
    // vacuum is 0 < compactionMinFragmentation, so the vacuum must land
    val (report, idx) = assertSweepMatchesChain("eq3", 150, twoThirdsOfSeg0)
    assert(report == (Seq(0), 0))
    val seg0 = idx.store.readVectors(spark).filter(col("segId") === 0)
    assert(seg0.count() == 17 && seg0.filter(col("deleted")).count() == 0)
  }

  test("sweep converges: a second sweep at the same clock changes nothing") {
    val (idx, maint) = newIndex("conv", cap = 50)
    idx.addAll(gaussianDf(220, 11), "embedding", "id")
    idx.sealPending()
    // one compaction, and one stand-alone vacuum of the ACTIVE tail (10 of
    // its 20 rows deleted), which no compaction may consume
    idx.delete(twoThirdsOfSeg0 ++ (50L until 100L).filter(_ % 5 == 0) ++ (200L until 210L))
    def segDirs: Set[String] = {
      val st = idx.store
      Seq(st.vectorsDir, st.codesDir, st.graphDir, st.codebooksDir).flatMap { d =>
        Option(new java.io.File(d).list()).toSeq.flatten.filter(_.startsWith("segId=")).map(f => s"$d/$f")
      }.toSet
    }
    assert(maint.sweep(nowMs = 999999L) == (Seq(0, 4), 1))
    val (m1, dirs1) = (idx.manifest, segDirs)
    assert(maint.sweep(nowMs = 999999L) == (Nil, 0))
    assert(idx.manifest == m1)
    assert(segDirs == dirs1)
  }

  test("a one-anchor sweep runs at most half the Spark jobs of the step-by-step chain") {
    // The step-by-step chain (vacuum, then copy, count, read back and
    // build) ran 21 jobs on this scenario; the fused sweep skips the vacuum
    // of the consumed anchor and builds from the rows it copies: 5 jobs
    // (codes, graph and codebooks writes, the row count, the vectors write).
    val (idx, maint) = newIndex("jobs", cap = 50)
    idx.addAll(gaussianDf(150, 11), "embedding", "id")
    idx.sealPending()
    idx.delete(twoThirdsOfSeg0 ++ (50L until 100L).filter(_ % 5 == 0))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("maint-sweep", "sweep")
      assert(maint.sweep(nowMs = 999999L) == (Seq(0), 1))
      // a marker job: the listener bus delivers its start after every
      // earlier event
      sc.setJobGroup("maint-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.containsValue("maint-drain") && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val sweepJobs = jobs.values.toArray.count(_ == "maint-sweep")
    assert(sweepJobs <= 21 / 2, s"sweep ran $sweepJobs jobs")
  }

  test("maybeCompact end-to-end with policy gates") {
    val (idx, maint) = newIndex("mc2", cap = 30)
    idx.addAll(gaussianDf(60, 7), "embedding", "id")
    idx.sealPending()
    // below minFragmentation → refused
    assert(maint.maybeCompact(0, nowMs = 1) == -1)
    idx.delete((0L until 10L)) // frag 10/60 > 0.1
    val seg = maint.maybeCompact(0, nowMs = 2)
    assert(seg == 3)
    assert(idx.manifest.segment(3).get.count == 50)
  }

  test("vacuum of a fully-deleted segment drops its physical partitions") {
    val (idx, maint) = newIndex("mve1", cap = 40)
    idx.addAll(gaussianDf(40, 11), "embedding", "id")
    idx.sealPending()
    idx.delete((0L until 40L)) // everything tombstoned
    val removed = maint.vacuumSegment(0, nowMs = 5555, minDeletedRatio = 0.0)
    assert(removed == 40)
    // the nLive == 0 arm: dynamic overwrite writes nothing for an empty
    // partition, so the directories must be dropped directly
    val store = idx.store
    Seq(store.vectorsDir, store.codesDir, store.graphDir).foreach { d =>
      assert(!Files.exists(java.nio.file.Paths.get(s"$d/segId=0")),
        s"$d/segId=0 should be physically gone")
    }
    val after = idx.manifest.segment(0).get
    assert(after.deletedCount == 0 && after.lastVacuumAtMs == 5555)
    // the emptied index still answers queries (no dangling-scan crash)
    val q = Seq((0L, Array(0f, 0f, 0f, 0f))).toDF("queryId", "qv")
    assert(Search.query(spark, store, q, 5).count() == 0)
  }

  test("vacuumSegment threshold override gates in both directions") {
    val (idx, maint) = newIndex("mve2", cap = 40)
    idx.addAll(gaussianDf(40, 12), "embedding", "id")
    idx.sealPending()
    idx.delete((0L until 12L)) // ratio 0.3
    // explicit stricter override refuses (threshold arm, ratio < 0.5)
    assert(maint.vacuumSegment(0, nowMs = 1, minDeletedRatio = 0.5) == 0L)
    assert(idx.manifest.segment(0).get.deletedCount == 12)
    // default (-1) falls back to the policy ratio 0.25 and proceeds
    assert(maint.vacuumSegment(0, nowMs = 2) == 12L)
    assert(idx.manifest.segment(0).get.deletedCount == 0)
  }

  test("vacuum edge arms: empty-segment ratio, no-op vacuum, active segment without codes/graph") {
    val (idx, maint) = newIndex("mve3", cap = 40)
    idx.addAll(gaussianDf(40, 21), "embedding", "id")
    idx.sealPending()
    // (a) synthetic empty segment: count == 0 && deletedCount == 0 must
    // take the total == 0 arm (ratio 0.0) and refuse under any positive
    // threshold rather than divide by zero
    val m = idx.manifest
    idx.store.writeManifest(m.withSegment(
      SegmentMeta(99, SegmentState.Sealed, 0, 0, 0L)))
    assert(maint.vacuumSegment(99, nowMs = 1) == 0L)
    // (b) removed == 0: a segment with NO tombstones vacuumed under an
    // explicit 0.0 threshold proceeds past the gate but rewrites nothing;
    // the manifest still stamps lastVacuumAtMs
    assert(maint.vacuumSegment(0, nowMs = 7, minDeletedRatio = 0.0) == 0L)
    assert(idx.manifest.segment(0).get.lastVacuumAtMs == 7L)
    // (c) ACTIVE segment (never sealed -> no codes/graph partitions on
    // disk): vacuum must skip the codes/graph rewrite arms, not create
    // phantom directories
    val (idx2, maint2) = newIndex("mve4", cap = 100)
    idx2.addAll(gaussianDf(30, 22), "embedding", "id")
    val activeSeg = idx2.manifest.segments.head.segId
    idx2.delete(0L until 10L)
    assert(maint2.vacuumSegment(activeSeg, nowMs = 3, minDeletedRatio = 0.0) == 10L)
    val store2 = idx2.store
    assert(!Files.exists(java.nio.file.Paths.get(s"${store2.codesDir}/segId=$activeSeg")))
    assert(!Files.exists(java.nio.file.Paths.get(s"${store2.graphDir}/segId=$activeSeg")))
    // survivors remain queryable out of the rewritten vectors partition
    assert(idx2.manifest.segment(activeSeg).get.deletedCount == 0)
  }

  test("compaction planner edge arms: min-segments floor, max-segments cap, fragmentation gate") {
    // single fragmented segment: pick.size < compactionMinSegments -> Nil
    val (idx1, maint1) = newIndex("mcp1", cap = 40)
    idx1.addAll(gaussianDf(40, 31), "embedding", "id")
    idx1.sealPending()
    idx1.delete(0L until 12L)
    assert(maint1.findCompactionCandidates(anchorSegId = 0).isEmpty)
    // many small fragmented segments: the planner stops at
    // compactionMaxSegments even though more candidates qualify
    val (idx2, _) = newIndex("mcp2", cap = 10)
    idx2.addAll(gaussianDf(60, 32), "embedding", "id") // 6 segments of 10
    idx2.sealPending()
    idx2.delete((0L until 60L).filter(_ % 3 == 0))     // ~1/3 fragmentation
    val capped = new Maintenance(idx2,
      MaintenancePolicy(compactionMaxSegments = 3, compactionFillBudget = 10.0))
    val picked = capped.findCompactionCandidates(anchorSegId = 0)
    assert(picked.size == 3, s"cap must bind: got $picked")
    // fragmentation gate: pristine segments under a positive
    // compactionMinFragmentation are refused as a set
    val (idx3, _) = newIndex("mcp3", cap = 10)
    idx3.addAll(gaussianDf(30, 33), "embedding", "id")
    idx3.sealPending() // zero tombstones anywhere
    val strict = new Maintenance(idx3,
      MaintenancePolicy(compactionMinFragmentation = 0.2))
    assert(strict.findCompactionCandidates(anchorSegId = 0).isEmpty)
  }

  test("compaction executor edge arms: empty source list and a failed mark both return -1") {
    val (idx, maint) = newIndex("mcx1", cap = 100)
    idx.addAll(gaussianDf(20, 41), "embedding", "id") // stays ACTIVE (under cap)
    assert(maint.compactSegments(Nil, nowMs = 1) == -1)
    // markCandidatesCompacting must refuse an ACTIVE segment outright
    val activeSeg = idx.manifest.segments.head.segId
    assert(!maint.markCandidatesCompacting(Seq(activeSeg)))
    // maybeCompact: candidates EXIST but the mark step fails on the
    // in-flight throttle (an injected COMPACTING segment + cap 1) —
    // the planner's work must be discarded with -1, nothing mutated
    val (idx2, _) = newIndex("mcx2", cap = 10)
    idx2.addAll(gaussianDf(40, 42), "embedding", "id")
    idx2.sealPending()
    idx2.delete((0L until 40L).filter(_ % 3 == 0))
    val m = idx2.manifest
    idx2.store.writeManifest(m.withSegment(
      SegmentMeta(98, SegmentState.Compacting, 5, 0, 0L)))
    val throttled = new Maintenance(idx2,
      MaintenancePolicy(maxConcurrentCompactions = 1, compactionFillBudget = 10.0))
    assert(throttled.findCompactionCandidates(anchorSegId = 0).nonEmpty,
      "fixture must produce candidates for the mark step to refuse")
    assert(throttled.maybeCompact(anchorSegId = 0, nowMs = 2) == -1)
    assert(idx2.manifest.segments.count(_.state == SegmentState.Compacting) == 1,
      "a refused mark must not leave segments in COMPACTING")
  }

  test("compaction scoring degenerate ranges: identical age and size score 0.5") {
    val (idx, maint) = newIndex("mce1", cap = 20)
    // two identical full segments sealed in one pass → ageRange == 0 and
    // countRange == 0; both degenerate arms must yield the 0.5 midpoint
    // and the planner must still produce a deterministic candidate set
    idx.addAll(gaussianDf(40, 13), "embedding", "id")
    idx.sealPending()
    idx.delete((0L until 6L)) // some fragmentation so the frag gate passes
    val candidates = maint.findCompactionCandidates(anchorSegId = 0)
    assert(candidates.nonEmpty && candidates.contains(0))
    assert(candidates == candidates.sorted.distinct ||
      candidates.toSet.subsetOf(Set(0, 1)))
  }
}
