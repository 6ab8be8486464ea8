package graft.maintenance

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.core._
import graft.index.{IndexStore, Manifest, SegmentedIndex}

/**
 * Maintenance operators (SURVEY.md §2.9 M2-M5): vacuum policy + execution,
 * weighted compaction planning, and gid-stable compaction with a
 * single-commit registry swap.
 *
 * The reference runs these as task-queue-driven background workers
 * (MaintenanceWorker.java); here they are deterministic batch jobs invoked
 * by the engine driver — same policy math, same invariants, no queue
 * infrastructure (SURVEY.md §2.10). Because one batch call sees the whole
 * chain, `sweep` fuses it: the policy math runs on the manifest first, and
 * only the physical work that survives into the final state is done — a
 * segment a compaction consumes is never vacuumed, and a compaction builds
 * its segment from the rows it copies instead of reading its own copy back.
 */
final class Maintenance(
    val index: SegmentedIndex,
    val policy: MaintenancePolicy = MaintenancePolicy()) {

  private val spark = index.spark
  import spark.implicits._
  private def store: IndexStore = index.store

  // --- M2: vacuum policy ---------------------------------------------------

  /** Vacuum eligibility (reference: FdbVectorIndex.scheduleVacuumForSegment,
    * :552-608): deleted ratio ≥ threshold AND cooldown elapsed. */
  def shouldVacuum(sm: SegmentMeta, nowMs: Long): Boolean =
    Maintenance.shouldVacuum(policy, sm, nowMs)

  /** Segments the policy would schedule for vacuum now. */
  def segmentsNeedingVacuum(nowMs: Long): Seq[Int] =
    index.manifest.segments.filter(shouldVacuum(_, nowMs)).map(_.segId)

  // --- M3: vacuum execution ------------------------------------------------

  /**
   * Physically remove tombstoned rows of a segment plus their PQ codes and
   * adjacency rows (reference: MaintenanceService.vacuumSegment:88-126).
   * Other nodes' neighbor lists are deliberately NOT repaired — queries
   * tolerate dangling neighbor ids (reference: FdbVectorIndex.java:956-957;
   * SURVEY.md §7.4 item 6). Re-checks the ratio like the reference does.
   * Returns the number of physically removed rows.
   */
  def vacuumSegment(segId: Int, nowMs: Long, minDeletedRatio: Double = -1.0): Long = {
    val threshold = if (minDeletedRatio >= 0) minDeletedRatio else policy.vacuumMinDeletedRatio
    val m0 = index.manifest
    val sm = m0.segment(segId).getOrElse(return 0L)
    val total = sm.count + sm.deletedCount
    val ratio = if (total == 0) 0.0 else sm.deletedCount.toDouble / total
    if (threshold > 0.0 && ratio < threshold) return 0L

    val segVectors = store.readVectors(spark).filter(col("segId") === segId)
    val removed = segVectors.filter(col("deleted")).count()
    if (removed > 0) {
      // eager localCheckpoint: survivors must not lazily re-read the files
      // the overwrite below replaces
      val survivors = segVectors.filter(!col("deleted")).as[VectorRecord]
        .localCheckpoint(true)
      val nLive = survivors.count()
      if (nLive == 0) {
        // dynamic overwrite writes nothing for an empty partition — drop
        // the physical partitions directly
        Seq(store.vectorsDir, store.codesDir, store.graphDir)
          .foreach(dir => deleteRecursively(Paths.get(s"$dir/segId=$segId")))
      } else {
        store.overwriteVectorSegments(survivors)
        val liveIds = survivors.select(col("segId"), col("vecId"))
        val codes = store.readCodes(spark).filter(col("segId") === segId)
          .join(liveIds, Seq("segId", "vecId"), "left_semi")
          .as[graft.index.CodeRow]
        if (Files.exists(Paths.get(s"${store.codesDir}/segId=$segId"))) store.writeCodes(codes)
        val graph = store.readGraph(spark).filter(col("segId") === segId)
          .join(liveIds, Seq("segId", "vecId"), "left_semi")
          .as[graft.index.GraphRow]
        if (Files.exists(Paths.get(s"${store.graphDir}/segId=$segId"))) store.writeGraph(graph)
      }
    }
    val m1 = index.manifest
    val updated = m1.segment(segId).get.copy(
      deletedCount = math.max(0L, m1.segment(segId).get.deletedCount - removed),
      lastVacuumAtMs = nowMs)
    store.writeManifest(m1.withSegment(updated).copy(
      segments = m1.withSegment(updated).segments.sortBy(_.segId)))
    removed
  }

  /** Post-vacuum hook (reference: updateMetaAfterVacuum:182-217): a segment
    * at < maxSegmentSize/2 live rows suggests compaction-candidate search. */
  def suggestsCompaction(segId: Int): Boolean = underHalf(index.manifest, segId)

  private def underHalf(m: Manifest, segId: Int): Boolean =
    m.segment(segId).exists(_.count < m.meta.maxSegmentSize / 2)

  // --- M5: compaction planning --------------------------------------------

  /** In-flight throttle: segments currently COMPACTING
    * (reference: countInFlightCompactions:532-557). */
  def countInFlightCompactions: Int = inFlight(index.manifest)

  private def inFlight(m: Manifest): Int = m.segments.count(_.state == SegmentState.Compacting)

  /**
   * Weighted compaction-candidate selection over SEALED segments
   * (reference: MaintenanceService.findCompactionCandidates:430-529):
   * composite = ageW·ageScore + sizeW·sizeScore + fragW·fragScore with
   * min-max normalized age (older=higher) and size (smaller=higher) and
   * fragScore = deleted/(live+deleted); degenerate ranges score 0.5;
   * greedy pick (anchor forced first) to the 80% fill budget, bounded by
   * [minSegments, maxSegments]; rejected if the picked set's average
   * fragmentation is below minFragmentation. Pure manifest math — runs on
   * the driver.
   */
  def findCompactionCandidates(anchorSegId: Int): Seq[Int] =
    compactionCandidates(index.manifest, anchorSegId)

  private def compactionCandidates(m: Manifest, anchorSegId: Int): Seq[Int] = {
    val sealedSegs = m.segments.filter(_.state == SegmentState.Sealed)
    if (sealedSegs.size < policy.compactionMinSegments) return Nil
    // the anchor must itself be a compactable SEALED segment — silently
    // proceeding without it would compact an unrelated set of healthy
    // segments whenever the caller anchors on an ACTIVE/vanished segment
    if (!sealedSegs.exists(_.segId == anchorSegId)) return Nil

    val minCreated = sealedSegs.map(_.createdAtMs).min
    val maxCreated = sealedSegs.map(_.createdAtMs).max
    val minCount = sealedSegs.map(_.count).min
    val maxCount = sealedSegs.map(_.count).max
    val ageRange = maxCreated - minCreated
    val countRange = maxCount - minCount

    val scoredDesc = sealedSegs.map { s =>
      val ageScore = if (ageRange == 0) 0.5 else (maxCreated - s.createdAtMs).toDouble / ageRange
      val sizeScore = if (countRange == 0) 0.5 else (maxCount - s.count).toDouble / countRange
      val tot = s.count + s.deletedCount
      val fragScore = if (tot == 0) 0.0 else s.deletedCount.toDouble / tot
      val composite = policy.compactionAgeWeight * ageScore +
        policy.compactionSizeWeight * sizeScore +
        policy.compactionFragWeight * fragScore
      (s, composite)
    }.sortBy(-_._2)

    val budget = math.max(1L, math.round(policy.compactionFillBudget * m.meta.maxSegmentSize))
    val pick = scala.collection.mutable.ArrayBuffer.empty[Int]
    var sum = 0L
    scoredDesc.find(_._1.segId == anchorSegId).foreach { case (s, _) =>
      pick += s.segId; sum += s.count
    }
    var done = false
    scoredDesc.foreach { case (s, _) =>
      if (!done && !pick.contains(s.segId)) {
        if (pick.size >= policy.compactionMaxSegments) done = true
        else {
          pick += s.segId
          sum += s.count
          if (sum >= budget) done = true
        }
      }
    }
    if (pick.size < policy.compactionMinSegments) return Nil
    if (policy.compactionMinFragmentation > 0.0) {
      val picked = sealedSegs.filter(s => pick.contains(s.segId))
      val live = picked.map(_.count).sum.toDouble
      val del = picked.map(_.deletedCount).sum.toDouble
      val avgFrag = if (live + del == 0) 0.0 else del / (live + del)
      if (avgFrag < policy.compactionMinFragmentation) return Nil
    }
    pick.toSeq
  }

  // --- M4: compaction execution -------------------------------------------

  /** Mark the candidate set COMPACTING in one commit (reference:
    * MaintenanceWorker.markCandidatesCompacting:120-155); COMPACTING
    * segments stay searchable via the sealed path. Returns false if the
    * throttle (maxConcurrentCompactions) is hit or a candidate is not
    * SEALED. */
  def markCandidatesCompacting(segIds: Seq[Int]): Boolean = {
    val m0 = index.manifest
    if (!canMark(m0, segIds)) return false
    store.writeManifest(m0.copy(segments = m0.segments.map { s =>
      if (segIds.contains(s.segId)) s.copy(state = SegmentState.Compacting) else s
    }))
    true
  }

  private def canMark(m: Manifest, segIds: Seq[Int]): Boolean =
    inFlight(m) < policy.maxConcurrentCompactions &&
      segIds.forall(id => m.segment(id).exists(_.state == SegmentState.Sealed))

  /**
   * Compact source segments into one new segment
   * (reference: MaintenanceService.compactSegments:248-417): reserve a new
   * WRITING segment (invisible to search), copy live vectors preserving
   * gids (stability invariant: GidCompactionStabilityTest.java:52), build
   * PQ+graph artifacts, then ONE manifest commit flips the new segment to
   * SEALED and drops the sources. Source ids are processed in sorted order
   * for idempotency (reference: FdbVectorIndex.requestCompaction:531-543).
   *
   * The sources' live rows are read once: one task renumbers them and runs
   * the seal job's per-segment build on them (`SegmentedIndex.buildSegment`),
   * and the cached result feeds the artifact writes and then the vector
   * write. Vectors go LAST: a write into `vectors/` makes Spark drop every
   * cached plan that reads that table (`CacheManager.recacheByPath`), the
   * cached build included, so any write after it would rebuild the segment.
   * PARTITIONED indexes keep the copy-then-build path, whose point is that
   * no task holds a whole segment.
   */
  def compactSegments(segIds: Seq[Int], nowMs: Long): Int = {
    val sources = segIds.distinct.sorted
    if (sources.isEmpty) return -1
    val m0 = index.manifest
    val newSegId = m0.nextSegId

    // 1) reserve WRITING segment — invisible to queries from this moment
    store.writeManifest(m0
      .withSegment(SegmentMeta(newSegId, SegmentState.Writing, 0L, 0L, nowMs))
      .copy(nextSegId = newSegId + 1))

    // 2) + 3) live rows in (segId, vecId) order get fresh dense vecIds,
    // gids preserved; artifacts are built while WRITING (idempotent, G4)
    val live = store.readVectors(spark)
      .filter(col("segId").isin(sources: _*))
      .filter(!col("deleted"))
      .as[VectorRecord]
    val n =
      if (m0.meta.graphBuildMode == GraphBuildMode.Partitioned) copyThenBuild(live, newSegId)
      else buildFromRows(live, newSegId, m0.meta)

    // 4) single-commit registry swap: new SEALED + sources gone
    val m1 = index.manifest
    val swapped = m1.copy(segments =
      m1.segments.filterNot(s => sources.contains(s.segId)).map { s =>
        if (s.segId == newSegId) s.copy(state = SegmentState.Sealed, count = n) else s
      })
    store.writeManifest(swapped)

    // 5) physical cleanup of dropped partitions (post-commit; the manifest
    // no longer references them)
    sources.foreach { sid =>
      Seq(store.vectorsDir, store.codesDir, store.graphDir, store.codebooksDir)
        .foreach(dir => deleteRecursively(Paths.get(s"$dir/segId=$sid")))
    }
    newSegId
  }

  /** One task gathers `live`, renumbers it and builds the segment; returns
    * the rows copied. */
  private def buildFromRows(live: Dataset[VectorRecord], newSegId: Int, im: IndexMeta): Long = {
    val built = live.coalesce(1).mapPartitions { it =>
      val recs = it.toArray.sortBy(r => (r.segId, r.vecId)).zipWithIndex.map { case (r, i) =>
        r.copy(segId = newSegId, vecId = i)
      }
      // vecIds are now positions, so a "cg" row finds its vector by vecId
      SegmentedIndex.buildSegment(newSegId, recs, im).map { r =>
        if (r.kind != "cg") r
        else { val v = recs(r.vecId); r.copy(gid = v.gid, embedding = v.embedding, payload = v.payload) }
      }
    }.persist()
    index.writeArtifacts(built)
    val vectors = built.filter(_.kind == "cg")
    val n = vectors.count()
    if (n == 0) index.writeZeroCodebooks(Seq(newSegId), im)
    store.appendVectors(vectors.map(r =>
      VectorRecord(r.segId, r.vecId, r.gid, r.embedding, deleted = false, r.payload)))
    built.unpersist()
    n
  }

  /** PARTITIONED: append the renumbered copy, then build it from the table
    * with the sharded build; returns the rows copied. */
  private def copyThenBuild(live: Dataset[VectorRecord], newSegId: Int): Long = {
    val copied = live.orderBy(col("segId"), col("vecId")).as[VectorRecord]
      .rdd.zipWithIndex.map { case (r, i) => r.copy(segId = newSegId, vecId = i.toInt) }
      .toDS()
    store.appendVectors(copied)
    val n = copied.count()
    index.buildArtifacts(Seq(newSegId))
    n
  }

  /** Full policy-driven cycle for convenience/tests: plan around an anchor,
    * throttle-check, mark COMPACTING, compact. Returns the new segId or -1. */
  def maybeCompact(anchorSegId: Int, nowMs: Long): Int = {
    val cands = findCompactionCandidates(anchorSegId)
    if (cands.isEmpty) return -1
    if (!markCandidatesCompacting(cands)) return -1
    compactSegments(cands, nowMs)
  }

  /**
   * One full maintenance sweep — the reference's delete → vacuum →
   * compaction chain (FdbVectorIndex.java:552-608 scheduleVacuum…;
   * MaintenanceService.java:200-216 post-vacuum hook), fused into one
   * plan. The chain would vacuum every segment the policy trips, then
   * compact anchored on the vacuumed segments the hook leaves under
   * half-full. The sweep picks the same compaction sets by planning on the
   * manifest as if every due segment were already vacuumed (tombstones
   * gone, live counts unchanged), then vacuums on disk only the due
   * segments no compaction consumes — a compaction drops its sources'
   * tombstones while copying, so vacuuming a source first is wasted work —
   * and runs the compactions. The end state equals the chain's
   * (MaintenanceSpec pins it). Shared by the facade's auto-chain and the
   * global runner. Returns (vacuumed segIds, compactions run); a consumed
   * segment counts as vacuumed if it held tombstones.
   */
  def sweep(nowMs: Long): (Seq[Int], Int) = {
    val m0 = index.manifest
    val due = m0.segments.filter(shouldVacuum(_, nowMs)).map(_.segId)
    val tombstoned = due.filter(id => m0.segment(id).exists(_.deletedCount > 0))
    // sorted as vacuumSegment commits it: the planner breaks score ties by
    // manifest order
    val vacuumedPlan = m0.copy(segments = m0.segments.map { s =>
      if (due.contains(s.segId)) s.copy(deletedCount = 0L) else s
    }.sortBy(_.segId))
    val (_, compactions) = tombstoned.filter(underHalf(vacuumedPlan, _))
      .foldLeft((vacuumedPlan, Vector.empty[Seq[Int]])) { case ((plan, picked), anchor) =>
        val cands = compactionCandidates(plan, anchor)
        if (cands.isEmpty || !canMark(plan, cands)) (plan, picked)
        else (Maintenance.afterCompaction(plan, cands, nowMs), picked :+ cands)
      }
    val consumed = compactions.flatten.toSet
    val vacuumed = due.filter { id =>
      if (consumed(id)) tombstoned.contains(id) else vacuumSegment(id, nowMs) > 0
    }
    val compacted = compactions.count(c => markCandidatesCompacting(c) && compactSegments(c, nowMs) >= 0)
    (vacuumed, compacted)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }
}

object Maintenance {

  /** The manifest a compaction of `sources` commits: the sources gone and
    * one SEALED segment holding their live rows, under the next segId. */
  private def afterCompaction(m: Manifest, sources: Seq[Int], nowMs: Long): Manifest =
    m.copy(
      segments = m.segments.filterNot(s => sources.contains(s.segId)) :+
        SegmentMeta(m.nextSegId, SegmentState.Sealed,
          m.segments.filter(s => sources.contains(s.segId)).map(_.count).sum, 0L, nowMs),
      nextSegId = m.nextSegId + 1)

  /** The M2 policy math, index-free so the driver gate can exercise the
    * SAME function the sweep uses (reference:
    * FdbVectorIndex.scheduleVacuumForSegment:552-608). */
  def shouldVacuum(policy: MaintenancePolicy, sm: SegmentMeta, nowMs: Long): Boolean = {
    val total = sm.count + sm.deletedCount
    val ratio = if (total == 0) 0.0 else sm.deletedCount.toDouble / total
    if (ratio < policy.vacuumMinDeletedRatio) false
    else if (policy.vacuumCooldownMs > 0 && sm.lastVacuumAtMs > 0 &&
      nowMs - sm.lastVacuumAtMs < policy.vacuumCooldownMs) false
    else true
  }
}
