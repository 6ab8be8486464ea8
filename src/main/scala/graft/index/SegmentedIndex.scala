package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/**
 * The segmented vector index: batch ingest with strict-cap rotation, seal
 * jobs, tombstone deletes (SURVEY.md §2.1 S3/S5/S6, §2.8 G4, §2.9 M1).
 *
 * Spark re-expression of the reference's write path
 * (FdbVectorStore.java:210-727): FDB's transaction chunking disappears —
 * a batch job is the atomicity unit, committed by the manifest rename.
 *
 * Scale design: ingest assigns ids with per-partition offsets (zipWithIndex
 * — two narrow passes, no global window shuffle); seal runs one in-memory
 * build per segment inside `flatMapGroups`, so a 1000-executor cluster
 * seals 1000 segments concurrently; all tables are parquet partitioned by
 * segId for partition pruning.
 */
final class SegmentedIndex(val spark: SparkSession, val store: IndexStore) {

  import spark.implicits._

  def manifest: Manifest = store.readManifest()
  def meta: IndexMeta = manifest.meta

  /**
   * Batch insert (reference addAll semantics, FdbVectorIndex.java:321-334):
   * vectors fill the ACTIVE segment to `maxSegmentSize`, full segments
   * rotate to PENDING (enqueue-build ≙ "needs seal"), the tail partial
   * segment stays ACTIVE. Insert order — and therefore the deterministic
   * (segId, vecId) assignment invariant (i-th vector of the batch lands at
   * ((c+i)/cap, (c+i)%cap), reference test VectorIndexTest.java:91-122) —
   * follows `orderCol` ascending.
   *
   * @param df       input with `embeddingCol` ARRAY<FLOAT> (+ optional payload)
   * @param orderCol unique orderable column defining insert order
   * @return assigned rows (gid, segId, vecId) and the updated manifest
   */
  def addAll(
      df: DataFrame,
      embeddingCol: String,
      orderCol: String,
      payloadCol: Option[String] = None): Manifest = {
    val m0 = manifest
    val dim = m0.meta.dimension
    val cap = m0.meta.maxSegmentSize
    val active = m0.active.getOrElse(
      throw new IllegalStateException("no ACTIVE segment"))
    val startFill = active.count
    val activeSegId = active.segId
    val nextSegId = m0.nextSegId
    val gid0 = m0.nextGid

    // deterministic global positions without a single-partition window:
    // range-partition by the order column, sort within partitions, then
    // assign positions from per-partition counts. The batch is fully
    // evaluated exactly ONCE — in the counts job's shuffle map stage;
    // the assignment and write jobs re-read the shuffle files (stage
    // reuse), never the source plan. (Replaced count() + zipWithIndex,
    // which evaluated the batch twice.)
    val cols = Seq(col(orderCol), col(embeddingCol).cast("array<float>").as("emb")) ++
      payloadCol.map(c => col(c).cast("binary").as("payload"))
    val projected = df.select(cols: _*)
    // fan-out without a count scan: the source's own partition count is a
    // free size proxy (file splits for a scan, shuffle.partitions for a
    // shuffled plan) — a 1-partition 500-row batch keeps 1-2 range
    // partitions instead of paying 4x-parallelism empty-task overhead; a
    // many-split billion-row batch still fans out fully
    val parts = math.max(1, math.min(
      4 * spark.sparkContext.defaultParallelism,
      2 * projected.rdd.getNumPartitions))
    val prepared = projected
      .repartitionByRange(parts, col(orderCol))
      .sortWithinPartitions(orderCol)
    val hasPayload = payloadCol.isDefined

    // one lightweight pass over the shuffle output: per-partition row
    // counts → exclusive prefix offsets (parts entries — rides the task
    // closure). Range partitions are ordered by the order column, so
    // offset(i) + local index IS the global sorted position.
    val rdd = prepared.rdd
    val counts = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)),
        preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    val n = counts.sum
    val offsets = counts.scanLeft(0L)(_ + _)

    val assigned: Dataset[VectorRecord] = rdd
      .mapPartitionsWithIndex { (pi, it) =>
        var idx = offsets(pi)
        it.map { row =>
          val emb = row.getSeq[Float](1).toArray
          if (emb.length != dim)
            throw new IllegalArgumentException(
              s"embedding dimension ${emb.length} != index dimension $dim")
          val pos = startFill + idx
          val segOff = (pos / cap).toInt
          val segId = if (segOff == 0) activeSegId else nextSegId + segOff - 1
          val rec = VectorRecord(
            segId = segId,
            vecId = (pos % cap).toInt,
            gid = gid0 + idx,
            embedding = emb,
            deleted = false,
            payload = if (hasPayload) row.getAs[Array[Byte]](2) else Array.emptyByteArray)
          idx += 1
          rec
        }
      }
      .toDS()

    // output file sizing: merge the fixed shuffle fan-out down to
    // ~one task per segment-cap of rows before the partitionBy(segId)
    // write — a 2k-row batch otherwise writes `parts` tiny files into
    // one segment; a billion-row batch keeps full fan-out. coalesce is
    // narrow (merges adjacent ranges, no second shuffle).
    val outParts = math.max(1, math.min(parts, ((n + cap - 1) / cap).toInt))
    store.appendVectors(assigned.coalesce(outParts))

    // manifest update: derive new segment states from the insert count
    val endPos = startFill + n
    val lastSegOff = if (endPos == 0) 0 else ((endPos - 1) / cap).toInt
    val nowMs = System.currentTimeMillis()
    var segs = m0.segments
    var nextId = nextSegId
    for (off <- 0 to lastSegOff) {
      val segId = if (off == 0) activeSegId else nextSegId + off - 1
      val count = math.min(cap.toLong, endPos - off.toLong * cap)
      val existing = segs.find(_.segId == segId)
      val created = existing.map(_.createdAtMs).getOrElse(nowMs)
      val state = if (count >= cap) SegmentState.Pending else SegmentState.Active
      val sm = SegmentMeta(segId, state, count, existing.map(_.deletedCount).getOrElse(0L), created)
      segs = segs.filterNot(_.segId == segId) :+ sm
      if (off > 0) nextId = math.max(nextId, segId + 1)
    }
    // strict-cap rotation: if everything filled exactly, open a fresh ACTIVE
    // segment (reference rotateToNextActive, FdbVectorStore.java:512-539)
    if (segs.forall(_.state != SegmentState.Active)) {
      segs = segs :+ SegmentMeta(nextId, SegmentState.Active, 0L, 0L, nowMs)
      nextId += 1
    }
    val m1 = m0.copy(segments = segs.sortBy(_.segId), nextGid = gid0 + n, nextSegId = nextId)
    store.writeManifest(m1)
    m1
  }

  /**
   * Seal job (reference: SegmentBuildService.build, :72-141): for every
   * PENDING (or WRITING) segment — never ACTIVE — train PQ, encode codes,
   * build the graph, write artifacts, then flip state to SEALED in one
   * manifest commit. Idempotent: artifacts are dynamic-partition
   * overwrites, re-running is safe (reference invariant tested in
   * SegmentBuildServiceIdempotentTest.java:43).
   */
  def sealPending(states: Set[String] = Set(SegmentState.Pending, SegmentState.Writing)): Manifest = {
    val m0 = manifest
    val toSeal = m0.segments.filter(s => states.contains(s.state)).map(_.segId).toSet
    if (toSeal.isEmpty) return m0
    // retry bookkeeping (T1, reference SegmentBuildWorker.java:39-55): a
    // failed build commits attempt+error to the manifest BEFORE
    // rethrowing, so a scheduler sweeping manifests sees the failure
    // surface the reference exposes via task claims; the artifacts
    // themselves are idempotent overwrites, so the re-run is safe.
    try buildArtifacts(toSeal.toSeq)
    catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(512)
        store.writeManifest(m0.copy(segments = m0.segments.map { s =>
          if (toSeal.contains(s.segId))
            s.copy(buildAttempts = s.buildAttempts + 1, lastBuildError = msg)
          else s
        }))
        throw e
    }
    val m1 = m0.copy(segments = m0.segments.map { s =>
      if (toSeal.contains(s.segId))
        s.copy(state = SegmentState.Sealed,
          buildAttempts = s.buildAttempts + 1, lastBuildError = "")
      else s
    })
    store.writeManifest(m1)
    m1
  }

  /** Artifact half of the seal job — PQ + graph build and table writes,
    * with NO manifest change. The PARTITIONED compaction path uses this to
    * keep the final registry swap a single commit (reference:
    * MaintenanceService.java:391-414 swaps registry only after build
    * completes). */
  def buildArtifacts(toSeal: Seq[Int]): Unit = {
    if (toSeal.isEmpty) return
    val im0 = manifest.meta
    // PARTITIONED: sharded build — no task holds the whole segment, so
    // the per-task budget no longer caps maxSegmentSize (PartitionedBuild)
    if (im0.graphBuildMode == graft.core.GraphBuildMode.Partitioned) {
      val built = PartitionedBuild.buildSegments(spark, store, toSeal, im0)
      writeZeroCodebooks(toSeal.filterNot(built.contains), im0)
      return
    }
    val metaB = spark.sparkContext.broadcast(im0)

    val rows = store.readVectors(spark)
      .filter(col("segId").isin(toSeal: _*))
      .as[VectorRecord]
      .groupByKey(_.segId)
      .flatMapGroups((segId, it) => SegmentedIndex.buildSegment(segId, it.toArray.sortBy(_.vecId), metaB.value))
      .persist()

    writeArtifacts(rows)
    // (bounded collect: one segId per sealed segment of this sweep)
    val builtSegs = rows.filter(_.kind == "cb").map(_.segId).collect().toSet
    rows.unpersist()
    writeZeroCodebooks(toSeal.filterNot(builtSegs.contains), metaB.value)
  }

  /** Writes the codes, graph and codebooks of built segment rows
    * (`SegmentedIndex.buildSegment` output; dynamic-partition overwrites,
    * so only the built segments' partitions change). Three jobs over
    * `rows` — the caller persists it. */
  def writeArtifacts(rows: Dataset[SealRow]): Unit = {
    store.writeCodes(rows.filter(_.kind == "cg").map(r => CodeRow(r.segId, r.vecId, r.code)))
    store.writeGraph(rows.filter(_.kind == "cg").map(r => GraphRow(r.segId, r.vecId, r.neighbors)))
    store.writeCodebooks(rows.filter(_.kind == "cb").map(r => CodebookRow(r.segId, r.m, r.k, r.subDim, r.centroids)))
  }

  /** Reference parity (SegmentBuildService.java:143-157,377-387): a
    * row-less segment still seals with an explicit all-zero codebook, so
    * SEALED always implies artifacts exist. Shared by the classic and
    * PARTITIONED build paths and by compaction. */
  def writeZeroCodebooks(emptySegs: Seq[Int], im: IndexMeta): Unit =
    if (emptySegs.nonEmpty) {
      val subDim = im.dimension / im.pqM
      store.writeCodebooks(emptySegs
        .map(sid => CodebookRow(sid, im.pqM, im.pqK, subDim,
          new Array[Float](im.pqM * im.pqK * subDim)))
        .toDS())
    }

  /**
   * Tombstone delete by gid (reference M1, FdbVectorStore.deleteBatch
   * :276-346): flips `deleted` on the affected rows, rewriting only the
   * touched segment partitions; counters move count → deletedCount.
   */
  def delete(gids: Seq[Long]): Manifest = {
    val m0 = manifest
    if (gids.isEmpty) return m0
    val gidSet = gids.toSet
    val gidB = spark.sparkContext.broadcast(gidSet)

    val vectors = store.readVectors(spark)
    val touchedSegs = vectors
      .filter(r => gidB.value.contains(r.gid) && !r.deleted)
      .groupByKey(_.segId).count().collect().toMap

    if (touchedSegs.isEmpty) return m0
    val segIds = touchedSegs.keys.toSeq
    val rewritten = vectors
      .filter(col("segId").isin(segIds: _*))
      .as[VectorRecord]
      .map(r => if (gidB.value.contains(r.gid)) r.copy(deleted = true) else r)
    store.overwriteVectorSegments(rewritten)

    val m1 = m0.copy(segments = m0.segments.map { s =>
      touchedSegs.get(s.segId) match {
        case Some(d) => s.copy(count = s.count - d, deletedCount = s.deletedCount + d)
        case None => s
      }
    })
    store.writeManifest(m1)
    m1
  }

  /** gid → (segId, vecId) resolution (S9); missing gids yield (-1,-1)
    * (reference: FdbVectorIndex.java:500-525). */
  def resolveIds(gids: Seq[Long]): Map[Long, (Int, Int)] = {
    val gidB = spark.sparkContext.broadcast(gids.toSet)
    val found = store.readVectors(spark)
      .filter(r => gidB.value.contains(r.gid) && !r.deleted)
      .map(r => (r.gid, r.segId, r.vecId))
      .collect()
      .map { case (g, s, v) => g -> (s, v) }
      .toMap
    gids.map(g => g -> found.getOrElse(g, (-1, -1))).toMap
  }
}

object SegmentedIndex {

  /** The per-segment build, run inside one task: train PQ, encode codes and
    * build the graph over `recs` (one segment's rows, sorted by vecId).
    * Emits one "cg" row per vector, then one "cb" codebook row; nothing for
    * an empty segment. Shared by the seal job and compaction, so a segment
    * gets the same artifacts whichever path builds it. */
  def buildSegment(segId: Int, recs: Array[VectorRecord], im: IndexMeta): Iterator[SealRow] =
    if (recs.isEmpty) Iterator.empty
    else {
      val vecs: Array[Array[Float]] = recs.map(_.embedding)
      val cb = Pq.train(vecs.toIndexedSeq, im.dimension, im.pqM, im.pqK)
      // strategy selection mirrors SegmentBuildService.java:207-209;
      // PRUNED forces the brute-force top-L + α-prune builder the
      // reference drives via GraphBuilderPruningTest.java:12-85
      val graph =
        if (im.graphBuildMode == graft.core.GraphBuildMode.Pruned)
          GraphBuilder.buildPrunedNeighbors(vecs, im.graphDegree, im.graphBuildBreadth, im.graphAlpha)
        else if (im.graphAlpha <= 1.0) GraphBuilder.buildL2Neighbors(vecs, im.graphDegree)
        else GraphBuilder.buildVamanaGraph(vecs, im.graphDegree, im.graphBuildBreadth, im.graphAlpha)
      // graph neighbors are positions into the sorted array — remap to
      // vecIds (identical when ids are contiguous, they diverge after
      // vacuum leaves holes)
      val codeRows = recs.iterator.zipWithIndex.map { case (r, i) =>
        val neighVecIds = graph(i).map(p => recs(p).vecId)
        SealRow(segId, r.vecId, Pq.encode(cb, r.embedding), neighVecIds, 0, 0, 0, Array.emptyFloatArray, "cg")
      }
      val cbRow = Iterator.single(
        SealRow(segId, -1, Array.emptyByteArray, Array.emptyIntArray, cb.m, cb.k, cb.subDim, cb.centroids, "cb"))
      codeRows ++ cbRow
    }
}

/** Unified output row of the seal job (codes+graph, or the codebook).
  * Compaction's "cg" rows also carry the vector (`gid`, `embedding`,
  * `payload`), so one cached build feeds both the artifact and the vector
  * writes; the seal job leaves them empty. */
final case class SealRow(
    segId: Int,
    vecId: Int,
    code: Array[Byte],
    neighbors: Array[Int],
    m: Int,
    k: Int,
    subDim: Int,
    centroids: Array[Float],
    kind: String,
    gid: Long = 0L,
    embedding: Array[Float] = Array.emptyFloatArray,
    payload: Array[Byte] = Array.emptyByteArray)
