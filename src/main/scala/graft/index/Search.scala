package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.{TopKAggregator, vector}

/** One row of a sealed segment's cached search state: a PQ code
  * (`code != null`), an adjacency list (`neighbors != null`) or the
  * segment's codebook (`centroids != null`). Codes, graph and codebook
  * ride one keyed stream, so a single cogroup delivers everything a
  * segment task needs to search — the codebooks never pass through the
  * driver. */
final case class SegPayloadRow(
    segId: Int, vecId: Int, code: Array[Byte], neighbors: Array[Int],
    pqM: Int, pqK: Int, subDim: Int, centroids: Array[Float])

/** One replicated query row for the distributed-queries sealed search:
  * the query (queryId, qv) keyed to (segId, bucket) so it shuffles into
  * the segment task that owns its bucket. */
final case class QueryRep(segId: Int, bucket: Int, queryId: Long, qv: Array[Float])

/**
 * Distributed KNN query (SURVEY.md §3.1): the Spark re-expression of the
 * reference's per-segment fan-out (FdbVectorIndex.query, :351-467).
 *
 * Plan shape:
 *  1. driver: read manifest, collect + broadcast the query batch (small);
 *  2. SEALED/COMPACTING segments: one cogroup by segId of the cached
 *     segment state (codebook ∪ codes ∪ graph) with the segment's live
 *     rows of the vectors table (partition-pruned, `!deleted`). One task
 *     per segment loads its codebook, codes and graph (T5/T6 cache →
 *     per-segment cogroup load; the driver never holds codebooks), runs
 *     ADC + best-first expansion for every query (J2/J3), then streams
 *     the live rows once and scores each against the queries that have
 *     it as a candidate, keeping the best `k·oversample` per query (the
 *     exact rerank J5 and per-segment cap J8, as the reference's
 *     searchSealedSegment → fetchExactAndScore does). The task holds
 *     codes + graph, never the segment's raw vectors, and no candidate
 *     leaves it;
 *     ACTIVE/PENDING segments: brute-force scan (J1) via broadcast-join +
 *     codegen'd distance;
 *  3. global top-k merge (J7) over both paths: a bounded-heap aggregator
 *     (or a window); `gid` is the deterministic tie-break.
 *
 * WRITING segments are invisible (F2); deleted rows never reach the rerank
 * (F1); scores follow the reference conventions exactly (L2: -distance;
 * COSINE: similarity, distance = 1 - similarity), bit-identical to the
 * codegen'd expressions of [[scored]].
 */
object Search {

  /** observe() metric names must be unique within one Spark plan —
    * suffix them per invocation so two Search.query results can be
    * combined (union across indexes, different k) in a single action. */
  private val observeId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-process reuse of sealed-search inputs across query calls — the
    * Spark analog of the reference's TTL'd segment caches
    * (SegmentCaches.java:37-129), with the block manager playing
    * Caffeine. Caches ONLY the compressed representations built to be
    * cached — PQ codes, adjacency, codebooks — never raw vectors (the
    * reference caches exactly the same two tables). Keyed by the
    * manifest content hash: every mutation commits a new manifest, so a
    * changed index invalidates on the next call and the stale persisted
    * blocks are released. Entries keep full lineage (persist, not
    * checkpoint), so memory-pressure eviction degrades to a re-scan,
    * never an error. */
  /** Manifest-state partitions of the query fan-out (F2 dispatch):
    * sealed+compacting ride the PQ/graph path, active+pending ride the
    * brute scan, WRITING is invisible (in neither set). */
  private val SealedStates: Set[String] =
    Set(SegmentState.Sealed, SegmentState.Compacting)
  private val BruteStates: Set[String] =
    Set(SegmentState.Active, SegmentState.Pending)

  // plain class, not a case class: entries are compared by identity
  // only, and the synthetic equals/copy of a case class is dead weight
  private[index] final class CachedInputs(
      val version: String,
      val payload: org.apache.spark.sql.Dataset[SegPayloadRow]) {
    /** Updated on every hit — the expireAfterAccess clock. */
    var lastAccess: Long = 0L
  }
  /** Access-ordered (hits re-insert at the tail) so overflow evicts the
    * least-recently-used store — bounds a long-lived service querying
    * many ephemeral indexes. */
  private val inputCache = mutable.LinkedHashMap.empty[String, CachedInputs]
  /** Size bound on cached stores (reference parity: SegmentCaches.java:
    * 39-45 maximumSize). Var so CacheExpirySpec can drive the LRU
    * overflow arm with three tiny stores instead of 65. */
  private[index] var maxCachedStores: Int = 64
  /** Reference parity: SegmentCaches.java:39-45 evicts by
    * expireAfterAccess(10 min) as well as by size — without it a
    * long-lived service on one busy index pins codes+graph in the block
    * manager indefinitely. Swept on every cache access. */
  private[index] var ttlNanos: Long = 10L * 60 * 1000 * 1000 * 1000
  /** Superseded / size-evicted entries are NOT unpersisted at replacement
    * time: a concurrent query planned against the old manifest may still
    * be mid-flight, and its recompute-from-lineage could hit segment
    * files the very mutation that superseded the entry (vacuum,
    * compaction) has already deleted. They park on a grace list and are
    * released one grace period later, by which time any in-flight action
    * has finished or failed for its own reasons. */
  private[index] var graceNanos: Long = 60L * 1000 * 1000 * 1000
  private val graceList = mutable.ArrayBuffer.empty[(Long, String, CachedInputs)]
  /** Injectable for TTL tests; production uses the monotonic clock. */
  private[index] var clock: () => Long = () => System.nanoTime()

  /** Sealed-path query batches are broadcast and searched in chunks of
    * this size (one cogroup per chunk, unioned): per-segment task time
    * and broadcast size stay flat as the batch grows, and chunks
    * parallelize across the executor pool. Var for tests. */
  private[index] var queryChunkSize: Int = 1024

  /** Above this many chunks the per-chunk cogroup plans are fused into a
    * single LogicalRDD leaf via RDD-level union instead of a Catalyst
    * Union of N analyzed cogroup subtrees — a 100k-query batch (100
    * chunks) must not build a 100-subtree plan on the driver. Var for
    * tests. */
  private[index] var chunkUnionPlanThreshold: Int = 32

  /** Whether the last sealed-path query fused its chunk union into a
    * single LogicalRDD leaf (observability for tests). */
  @volatile private[index] var lastChunkPlanFused: Boolean = false

  private def release(e: CachedInputs): Unit =
    // an entry from a stopped context has nothing to release — its blocks
    // died with the context, and unpersist would throw
    if (!e.payload.sparkSession.sparkContext.isStopped)
      e.payload.unpersist(blocking = false)

  /** Park a no-longer-current entry for deferred release (see graceNanos). */
  private def parkSuperseded(path: String, e: CachedInputs, now: Long): Unit =
    graceList += ((now + graceNanos, path, e))

  /** Evict cache entries idle past the TTL and release grace-listed
    * entries past their deadline. TTL-expired entries are PARKED, not
    * released: a query planned >ttlNanos ago against a since-vacuumed
    * manifest can still be in flight, and an immediate unpersist would
    * let a memory-evicted block recompute from lineage into deleted
    * segment files. Parking precedes the drain so a zero grace period
    * still releases within the same sweep. Called under the cache lock. */
  private def sweep(now: Long): Unit = {
    val expired = inputCache.iterator
      .filter(kv => now - kv._2.lastAccess > ttlNanos).map(_._1).toList
    expired.foreach { p => inputCache.remove(p).foreach(parkSuperseded(p, _, now)) }
    val due = graceList.filter(_._1 <= now)
    if (due.nonEmpty) {
      due.foreach(t => release(t._3))
      graceList.filterInPlace(_._1 > now)
    }
  }

  /** Cheap idle-path drain: release overdue grace-listed entries and
    * TTL-expired cache entries without needing a sealed-segment query.
    * `sweep` otherwise runs only inside `sealedInputs`, so on an index
    * with no sealed segments parked blocks would stay pinned until JVM
    * exit. Called at every `query()` entry. */
  private[index] def drainExpired(): Unit = inputCache.synchronized {
    if (graceList.nonEmpty || inputCache.nonEmpty) sweep(clock())
  }

  /** Drop and release the cached entry for `storePath`, bypassing the
    * grace list. Call BEFORE deleting the store's files: once the files
    * are gone a lingering persisted entry is a trap — any block evicted
    * under memory pressure would recompute from lineage into the deleted
    * tree. Only correct when the caller owns the store exclusively (e.g.
    * a temp index being rebuilt on data-fingerprint change). */
  def invalidate(storePath: String): Unit = inputCache.synchronized {
    inputCache.remove(storePath).foreach(release)
    var i = 0
    while (i < graceList.length) {
      if (graceList(i)._2 == storePath) {
        release(graceList(i)._3)
        graceList.remove(i)
        ()
      } else i += 1
    }
  }

  /** Test hooks: entry count and grace-list depth under the lock. */
  private[index] def cacheStats: (Int, Int) =
    inputCache.synchronized((inputCache.size, graceList.size))
  private[index] def cachedPaths: Set[String] =
    inputCache.synchronized(inputCache.keySet.toSet)
  private[index] def graceSnapshot: List[(Long, String, CachedInputs)] =
    inputCache.synchronized(graceList.toList)

  private def sealedInputs(
      spark: SparkSession,
      store: IndexStore,
      sealedSegs: Seq[Int],
      version: String): org.apache.spark.sql.Dataset[SegPayloadRow] = inputCache.synchronized {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val now = clock()
    sweep(now)
    // `version` is the hash of the SAME manifest bytes the caller planned
    // against — never re-read here, or a concurrent seal between the two
    // reads would cache a payload filtered by the old segment set under
    // the new version (serving it, minus the new segment, forever after).
    inputCache.get(store.path) match {
      case Some(e) if e.version == version &&
          (e.payload.sparkSession.sparkContext eq spark.sparkContext) &&
          !spark.sparkContext.isStopped =>
        e.lastAccess = now
        // re-insert at the tail: LinkedHashMap iterates in insertion
        // order, so overflow eviction below sees true LRU order
        inputCache.remove(store.path)
        inputCache.put(store.path, e)
        e.payload
      case stale =>
        stale.foreach { e =>
          inputCache.remove(store.path)
          parkSuperseded(store.path, e, now)
        }
        val inSealed = col("segId").isin(sealedSegs: _*)
        val payload = store.readCodes(spark).filter(inSealed).as[CodeRow]
          .map(c => SegPayloadRow(c.segId, c.vecId, c.code, null, 0, 0, 0, null))
          .unionByName(store.readGraph(spark).filter(inSealed).as[GraphRow]
            .map(g => SegPayloadRow(g.segId, g.vecId, null, g.neighbors, 0, 0, 0, null)))
          .unionByName(store.readCodebooks(spark).filter(inSealed).as[CodebookRow]
            .map(c => SegPayloadRow(c.segId, -1, null, null, c.m, c.k, c.subDim, c.centroids)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val entry = new CachedInputs(version, payload)
        entry.lastAccess = now
        inputCache.put(store.path, entry)
        while (inputCache.size > maxCachedStores) {
          val (oldPath, old) = inputCache.head
          inputCache.remove(oldPath)
          parkSuperseded(oldPath, old, now)
        }
        payload
    }
  }

  /** queriesDf columns: (queryId LONG, qv ARRAY<FLOAT>).
    * Returns (queryId, gid, score, distance, payload, rank).
    * `useAggregatorMerge` selects the bounded-heap top-k merge (default,
    * map-side combining) vs the window-function merge (full sort). */
  def query(
      spark: SparkSession,
      store: IndexStore,
      queriesDf: DataFrame,
      k: Int,
      paramsOpt: Option[SearchParams] = None,
      useAggregatorMerge: Boolean = true): DataFrame = {
    import spark.implicits._

    drainExpired() // free stale cache blocks even on brute-only queries
    val (m, manifestVersion) = store.readManifestWithVersion()
    val im = m.meta
    val metric = im.metricEnum
    val params = paramsOpt.getOrElse(SearchParams.defaults(k, im.oversample))
    val perSegLimit = k * math.max(1, im.oversample) // FdbVectorIndex.java:420

    // per-phase engine metrics (reference Metrics.java meters): kernel
    // phases aggregate through accumulators; declarative stages report
    // row counts through observe() nodes
    val phaseSink = graft.util.EngineMetrics.forSession(spark).phaseSink
    val obsTag = observeId.incrementAndGet()

    val sealedSegs = m.segments.filter(s => SealedStates(s.state)).map(_.segId)
    val bruteSegs = m.segments.filter(s => BruteStates(s.state)).map(_.segId)

    // collect the query batch (the KNN contract is a bounded batch) — the
    // analog of sending q to every segment task. Broadcast and searched
    // in chunks of `queryChunkSize` below, so per-segment task time and
    // broadcast size stay flat as the batch grows.
    val queries: Array[(Long, Array[Float])] = queriesDf
      .select(col("queryId").cast("long"), col("qv").cast("array<float>"))
      .as[(Long, Array[Float])]
      .collect()

    val vectors = store.readVectors(spark)

    // ---- brute-force path over ACTIVE/PENDING segments (J1) -------------
    val bruteScored: DataFrame =
      if (bruteSegs.isEmpty) emptyResults(spark)
      else {
        val live = vectors
          .filter(col("segId").isin(bruteSegs: _*))
          .filter(!col("deleted"))
        scored(live.crossJoin(broadcast(queriesDf)), metric, params.normalizeOnRead)
          .select(col("queryId"), col("segId"), col("gid"), col("score"), col("distance"), col("payload"))
      }

    // ---- sealed path: per-segment search and exact rerank (J2/J3/J5) -----
    val sealedScored: DataFrame =
      if (sealedSegs.isEmpty) emptyResults(spark)
      else {
        // Codebooks are loaded PER SEGMENT inside the search task (the
        // Spark analog of the reference's per-segment cache bulk-load,
        // SegmentCaches.java:37-84) — never collected to the driver. At
        // production shape (dim 768, pqM 16, pqK 256) one codebook is
        // ~786 KB; at 10k sealed segments a driver collect+broadcast would
        // hold ~8 GB per query call. Instead each codebook rides the
        // cached state stream with its segment's codes and graph.
        val stateK = sealedInputs(spark, store, sealedSegs, manifestVersion)
          .groupByKey(_.segId)
        val liveK = vectors
          .filter(col("segId").isin(sealedSegs: _*))
          .filter(!col("deleted"))
          .groupByKey(_.segId)

        // the query batch enters in bounded chunks: one cogroup per chunk,
        // unioned. A single cogroup looping the WHOLE batch makes every
        // segment task a straggler proportional to batch size; chunking
        // bounds per-task time AND parallelizes chunks across the
        // executor pool (the state is persisted, so its per-chunk
        // re-shuffle reads cached blocks, not parquet; the chunks of a
        // Catalyst union reuse one exchange of the vectors side). Batches
        // up to `queryChunkSize` keep the exact single-cogroup plan.
        val chunks = // one empty chunk keeps the empty-batch plan shape
          if (queries.isEmpty) Seq(Array.empty[(Long, Array[Float])])
          else queries.grouped(queryChunkSize).toSeq
        val chunkScored = chunks.map { chunk =>
          val qB = spark.sparkContext.broadcast(chunk)
          stateK.cogroup(liveK) { (segId, state, live) =>
            val seg = new LoadedSegment(state)
            if (seg.cb == null) Iterator.empty // missing codebook → segment yields nothing
            else rerankSegment(segId, seg, qB.value, live, perSegLimit, params, metric, phaseSink)
          }.toDF("queryId", "segId", "gid", "score", "distance", "payload")
        }
        // small batches: plain Catalyst union (keeps the exact committed
        // plan shape). Past `chunkUnionPlanThreshold` chunks, fuse into
        // one LogicalRDD leaf — driver planning time stays flat instead
        // of growing with an N-subtree Union the optimizer re-walks.
        val fuse = chunkScored.lengthCompare(chunkUnionPlanThreshold) > 0
        lastChunkPlanFused = fuse
        val rows =
          if (!fuse) chunkScored.reduce(_ unionByName _)
          else org.apache.spark.sql.graft.SparkShims
            .unionAsSingleLeaf(spark, chunkScored)
        rows.observe(s"graft_sealed_rerank_$obsTag", count(lit(1)).as("rows"))
      }

    merge(spark, bruteScored.unionByName(sealedScored), k, metric,
      useAggregatorMerge, obsTag)
  }

  /** A sealed segment's search state, loaded from its cached rows: the
    * codebook (null when the segment has none), codes and adjacency. */
  private final class LoadedSegment(rows: Iterator[SegPayloadRow]) {
    var cb: Pq.Codebook = null
    val codes = new mutable.HashMap[Int, Array[Byte]]()
    val adj = new mutable.HashMap[Int, Array[Int]]()
    rows.foreach { r =>
      if (r.centroids != null) cb = Pq.Codebook(r.pqM, r.pqK, r.subDim, r.centroids)
      else if (r.code != null) codes.put(r.vecId, r.code)
      else adj.put(r.vecId, r.neighbors)
    }
  }

  /** Search and exact rerank of one sealed segment for a chunk of queries,
    * inside its task (J2/J3/J5/J8; reference: searchSealedSegment →
    * fetchExactAndScore, FdbVectorIndex.java:730-837,970-1046). Runs the
    * approximate search for every query, then streams the segment's live
    * rows once, scoring each row against the queries that have it as a
    * candidate, and keeps the best `perSegLimit` per query in a heap
    * ordered exactly as [[TopKAggregator]] (score desc, gid asc). The raw
    * vectors are never held: memory is the state, the candidate lists and
    * the heaps. A candidate listed twice for one query (repeated random
    * pivots) is scored twice, as a join would.
    * Emits (queryId, segId, gid, score, distance, payload). */
  private def rerankSegment(
      segId: Int,
      seg: LoadedSegment,
      queries: Array[(Long, Array[Float])],
      live: Iterator[VectorRecord],
      perSegLimit: Int,
      params: SearchParams,
      metric: Metric,
      phases: SegmentSearch.PhaseSink)
      : Iterator[(Long, Int, Long, Double, Double, Array[Byte])] = {
    // vecId → indexes of the queries that have it as a candidate
    val wanted = new mutable.HashMap[Int, mutable.ArrayBuffer[Int]]()
    queries.indices.foreach { qi =>
      SegmentSearch.searchSealed(segId, seg.cb, queries(qi)._2, seg.codes, seg.adj,
        perSegLimit, params, phases)
        .foreach(a => wanted.getOrElseUpdate(a.vecId, mutable.ArrayBuffer.empty[Int]) += qi)
    }
    if (wanted.isEmpty) return Iterator.empty

    val l2 = metric eq Metric.L2
    val qNorms =
      if (!l2 && params.normalizeOnRead) queries.map(t => ExactScore.norm(t._2)) else null
    val heaps = Array.fill(queries.length)(TopKAggregator.emptyHeap)
    val t0 = System.nanoTime()
    var scoredN = 0
    live.foreach { r =>
      val qs = wanted.getOrElse(r.vecId, null)
      if (qs != null) {
        val eNorm = if (qNorms != null) ExactScore.norm(r.embedding) else 0.0
        var j = 0
        while (j < qs.length) {
          val q = qs(j)
          val qv = queries(q)._2
          val score =
            if (l2) -math.sqrt(ExactScore.l2Squared(r.embedding, qv))
            else if (qNorms != null) {
              val denom = eNorm * qNorms(q)
              if (denom == 0.0) 0.0 else ExactScore.dot(r.embedding, qv) / denom
            } else ExactScore.cosine(r.embedding, qv)
          TopKAggregator.offer(heaps(q), (r.gid, score, r.payload), perSegLimit)
          scoredN += 1
          j += 1
        }
      }
    }
    phases.rerank(System.nanoTime() - t0, scoredN)
    Iterator.range(0, queries.length).flatMap { q =>
      heaps(q).iterator.map { h =>
        (queries(q)._1, segId, h._1, h._2, if (l2) -h._2 else 1.0 - h._2, h._3)
      }
    }
  }

  /** Distributed-queries KNN: identical semantics and results to
    * [[query]], but the query set STAYS a distributed DataFrame — nothing
    * query-sized ever passes through the driver, so a multi-million-row
    * query table (the offline-retrieval shape: "embed every training
    * document, fetch its neighbors") is a legal input.
    *
    * Layout (the block-nested-loop shape a 1000-executor cluster wants):
    * queries are hashed into `Q = ceil(M / queriesPerTask)` buckets and
    * replicated once per sealed segment (each replica is one (id, qv) row
    * — the small side); the cached per-segment state stream (codebook ∪
    * codes ∪ graph) is replicated once per BUCKET (the big side, so Q is
    * chosen to keep its replication factor minimal while bounding
    * per-task query count).
    * One cogroup on (segId, bucket) then gives every task exactly one
    * segment's state plus ≤ queriesPerTask queries — per-task memory and
    * time are both bounded regardless of M, and the M×S search work is
    * spread across Q×S tasks. Rerank joins candidates back to the
    * partition-pruned vectors table and to the (distributed) queries on
    * queryId — no broadcast anywhere, AQE free to pick strategies. (The
    * in-task rerank of [[query]] would need each segment's raw vectors in
    * every one of its Q bucket tasks, so this path keeps the join.)
    *
    * The single `count()` sizing job on the queries table is the one
    * driver-side action: the bucket count must be fixed before the
    * replication shuffle (AQE cannot re-plan a flatMap's fan-out).
    *
    * ACTIVE/PENDING segments take the brute path as a plain (un-hinted)
    * cross join: Catalyst broadcasts a small queries side by itself and
    * falls back to a partitioned cartesian for a huge one — both are the
    * honest M×N work the brute contract states. */
  def queryDistributed(
      spark: SparkSession,
      store: IndexStore,
      queriesDf: DataFrame,
      k: Int,
      paramsOpt: Option[SearchParams] = None,
      queriesPerTask: Int = 1024): DataFrame = {
    import spark.implicits._

    drainExpired()
    val (m, manifestVersion) = store.readManifestWithVersion()
    val im = m.meta
    val metric = im.metricEnum
    val params = paramsOpt.getOrElse(SearchParams.defaults(k, im.oversample))
    val perSegLimit = k * math.max(1, im.oversample)
    val phaseSink = graft.util.EngineMetrics.forSession(spark).phaseSink
    val obsTag = observeId.incrementAndGet()

    val sealedSegs = m.segments.filter(s => SealedStates(s.state)).map(_.segId)
    val bruteSegs = m.segments.filter(s => BruteStates(s.state)).map(_.segId)

    val q = queriesDf
      .select(col("queryId").cast("long"), col("qv").cast("array<float>"))
    val vectors = store.readVectors(spark)

    // ---- brute path: un-hinted cross join (queries side distributed) ----
    val bruteScored: DataFrame =
      if (bruteSegs.isEmpty) emptyResults(spark)
      else {
        val live = vectors
          .filter(col("segId").isin(bruteSegs: _*))
          .filter(!col("deleted"))
        scored(live.crossJoin(q), metric, params.normalizeOnRead)
          .select(col("queryId"), col("segId"), col("gid"), col("score"), col("distance"), col("payload"))
      }

    // ---- sealed path: (segId, bucket) cogroup ---------------------------
    val sealedScored: DataFrame =
      if (sealedSegs.isEmpty) emptyResults(spark)
      else {
        val qCount = q.count() // sizing job: fixes the bucket layout
        val numBuckets = math.max(1L,
          (qCount + queriesPerTask - 1) / queriesPerTask).toInt

        val payload = sealedInputs(spark, store, sealedSegs, manifestVersion)
        val segs = sealedSegs.toArray
        val qRep = q.as[(Long, Array[Float])].flatMap { t =>
          // floorMod: Int.MinValue.abs is still negative
          val b = java.lang.Math.floorMod(java.lang.Long.hashCode(t._1), numBuckets)
          segs.iterator.map(sid => QueryRep(sid, b, t._1, t._2))
        }
        // the state stream replicated once per query bucket: (bucket, row)
        val leftSide = payload.flatMap(r => Iterator.range(0, numBuckets).map(b => (b, r)))

        val candidates = leftSide.groupByKey(t => (t._2.segId, t._1))
          .cogroup(qRep.groupByKey(r => (r.segId, r.bucket))) { (key, rows, qs) =>
            val segId = key._1
            val seg = new LoadedSegment(rows.map(_._2))
            if (seg.cb == null) Iterator.empty // missing codebook → segment yields nothing
            else qs.flatMap { qr =>
              SegmentSearch.searchSealed(segId, seg.cb, qr.qv, seg.codes, seg.adj, perSegLimit, params, phaseSink)
                .iterator.map(a => (qr.queryId, segId, a.vecId))
            }
          }.toDF("queryId", "segId", "vecId")

        // Rerank joins are UN-hinted here (unlike the bounded-batch path,
        // which forces shuffle_hash building the contractually-small
        // candidates side): with unbounded queries the candidates table is
        // M × S × k·oversample rows and may dwarf the vectors side, so
        // neither side is always the right hash build — AQE picks from
        // runtime stats and sort-merge spills safely when both are huge.
        val sealedVectors = vectors.filter(col("segId").isin(sealedSegs: _*))
        val joined = sealedVectors
          .join(candidates, Seq("segId", "vecId"))
          .filter(!col("deleted"))
          .join(q, Seq("queryId"))
        scored(joined, metric, params.normalizeOnRead)
          .select(col("queryId"), col("segId"), col("gid"), col("score"), col("distance"), col("payload"))
          .observe(s"graft_dist_rerank_$obsTag", count(lit(1)).as("rows"))
      }

    merge(spark, bruteScored.unionByName(sealedScored), k, metric,
      useAggregatorMerge = true, obsTag)
  }

  /** Global top-k merge (J7) — the shared tail of both the bounded-batch
    * and the distributed-queries paths. No per-segment cap (J8) runs
    * here: it keeps the best `k·oversample ≥ k` rows of each (query,
    * segment) in the same (score desc, gid asc) order as this merge, so
    * it cannot change the top-k. The bounded-batch sealed path applies it
    * inside its segment tasks, where it bounds the rows they emit. */
  private def merge(
      spark: SparkSession,
      all: DataFrame,
      k: Int,
      metric: Metric,
      useAggregatorMerge: Boolean,
      obsTag: Long): DataFrame = {
    if (useAggregatorMerge) {
      // scale path: bounded-heap top-k Aggregator — partial aggregation
      // sends ≤ k hits per (query, partition) into the merge shuffle
      // instead of every candidate (SURVEY.md §7.3). The payload
      // rides through the heap and distance derives from score, so the
      // merge output IS the final result — the candidate subtree (segment
      // search + rerank) is evaluated exactly once.
      import spark.implicits._
      val topkAgg = new TopKAggregator(k)
      val merged = all.select(col("queryId"), col("gid"), col("score"), col("payload"))
        .as[(Long, Long, Double, Array[Byte])]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3, r._4))
        .agg(topkAgg.toColumn.name("topk"))
        .flatMap { t =>
          t._2.iterator.zipWithIndex.map { zi =>
            (t._1, zi._1._1, zi._1._2, zi._1._3, zi._2 + 1)
          }
        }
        .toDF("queryId", "gid", "score", "payload", "rank")
      val distance =
        if (metric eq Metric.L2) -col("score") else lit(1.0) - col("score")
      merged
        .withColumn("distance", distance)
        .select(col("queryId"), col("gid"), col("score"), col("distance"), col("payload"), col("rank"))
        .observe(s"graft_topk_merge_$obsTag", count(lit(1)).as("rows"))
    } else {
      val global = Window.partitionBy(col("queryId"))
        .orderBy(col("score").desc, col("gid"))
      all
        .withColumn("rank", row_number().over(global))
        .filter(col("rank") <= k)
        .select(col("queryId"), col("gid"), col("score"), col("distance"), col("payload"), col("rank"))
        .observe(s"graft_topk_merge_$obsTag", count(lit(1)).as("rows"))
    }
  }

  /** Attach score/distance columns per the reference's conventions
    * (FdbVectorIndex.java:686-693) via codegen'd expressions.
    *
    * `normalizeOnRead` (COSINE only, reference FdbVectorIndex.java:823-828,
    * 1006-1015): similarity is computed as dot(q,emb)/(‖q‖·‖emb‖) with the
    * reference's zero-PRODUCT → 0.0 guard (`denom == 0.0 ? 0.0 : …`) —
    * kept verbatim for parity, including its behavior on subnormal norms
    * whose product underflows (the fused kernel guards each norm
    * individually and would return a finite similarity there). */
  private[index] def scored(
      df: DataFrame,
      metric: Metric,
      normalizeOnRead: Boolean = false): DataFrame =
    // `eq`: Metric values are the parse() singletons, reference identity
    if (metric eq Metric.L2) {
      val d = sqrt(vector.l2_squared(col("embedding"), col("qv")))
      df.withColumn("distance", d).withColumn("score", -col("distance"))
    } else {
      val sim =
        if (normalizeOnRead) {
          val denom = vector.vec_norm(col("embedding")) * vector.vec_norm(col("qv"))
          when(denom === 0.0, 0.0)
            .otherwise(vector.vec_dot(col("embedding"), col("qv")) / denom)
        } else vector.cosine_sim(col("embedding"), col("qv"))
      df.withColumn("score", sim).withColumn("distance", lit(1.0) - col("score"))
    }

  /** Scalar exact-score kernels of the in-task rerank: the same loops as
    * the `VectorExpressions` kernels [[scored]] plans (`L2SquaredDistance`,
    * `DotProduct`, `CosineSimilarity`, `VectorNorm`) — double accumulation
    * in index order over the first `min(len)` lanes (all lanes for the
    * norm), `x` the row's embedding and `y` the query — so both paths score
    * bit-identically. Deliberately not `Distances`, whose opt-in SIMD
    * dispatch accumulates differently. */
  private object ExactScore {
    def l2Squared(x: Array[Float], y: Array[Float]): Double = {
      val n = math.min(x.length, y.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = x(i).toDouble - y(i).toDouble
        acc += d * d
        i += 1
      }
      acc
    }

    def dot(x: Array[Float], y: Array[Float]): Double = {
      val n = math.min(x.length, y.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x(i).toDouble * y(i).toDouble
        i += 1
      }
      acc
    }

    def norm(x: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < x.length) {
        val v = x(i).toDouble
        acc += v * v
        i += 1
      }
      math.sqrt(acc)
    }

    def cosine(x: Array[Float], y: Array[Float]): Double = {
      val n = math.min(x.length, y.length)
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x(i).toDouble
        val yv = y(i).toDouble
        dot += xv * yv
        na += xv * xv
        nb += yv * yv
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  private def emptyResults(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long, Double, Double, Array[Byte])]
      .toDF("queryId", "segId", "gid", "score", "distance", "payload")
  }
}
