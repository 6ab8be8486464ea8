package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.IndexMeta
import graft.functions.vector
import graft.index.{IndexStore, Search, SegmentedIndex}

/**
 * Vector-engine operator coverage against the DuckDB oracle (SURVEY.md §2):
 * the SQL-expressible operators are verified value-exactly (the distance
 * expressions and DuckDB's double-lambda forms accumulate identically);
 * the approximate sealed path (J2/J3/J5) is a rows-only entry here and
 * gets its recall gate in SegmentedIndexSpec.
 *
 * DuckDB parity notes: distances are written as double-precision
 * list_transform/list_sum lambdas on the oracle side — bit-identical to
 * the codegen'd expressions (verified); ranks carry a vec_id tie-break.
 */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** segment cap used by the pure-DataFrame assignment queries */
  private val Cap = 1000

  /** Shared sealed-index build, memoized per sf dir for the JVM: the full
    * lifecycle (ingest → PQ train → Vamana → seal) runs once; every
    * consumer of the sealed path (correctness query, bench query-path
    * timing) then exercises the QUERY side only. cap 250 ⇒ every sf seals
    * ≥ 2 segments (embeddings ≥ 500 rows), so this is the REAL sealed
    * path, not the brute fallback; PQ knobs sized for dim-64 data
    * (subDim 4, 256 centroids — the coarse pqM=8/pqK=16 combo loses ~90%
    * recall at this dimensionality); oversample 4 ⇒ ef 160 over 250-node
    * segments, which the recall gates pin at exactly 1.0 — making the
    * output exact-KNN-equal and therefore DuckDB-oracle-checkable. */
  private val sealedCache = scala.collection.mutable.HashMap.empty[String, (String, IndexStore)]

  /** Temp index trees built this JVM — removed on exit (repeated gate/
    * bench invocations must not leak one tree per run). */
  private val tempStores = scala.collection.mutable.ArrayBuffer.empty[String]
  sys.addShutdownHook { tempStores.synchronized { tempStores.foreach(deleteTree) } }

  private def deleteTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Size+mtime fingerprint of the source embeddings — a changed dataset
    * under the same path must invalidate the memoized sealed index, not
    * serve stale sealed results for the rest of the JVM. */
  private def dataFingerprint(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "embeddings.parquet")
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
          java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toSeq.sorted.mkString("|")
    }
  }

  /** Memoize a derived index (built + optionally mutated) per
    * (variant, data fingerprint): every derived-index gate row prices its
    * QUERY path after the first call in a JVM — build cost is priced
    * explicitly and solely by `vec_seal_build`, which always builds
    * fresh (the build/query split of the flagship row, applied
    * uniformly). A changed dataset invalidates and reclaims the old tree. */
  /** One lock object per cache key: a multi-minute first build of one
    * variant must not block cache hits (or first builds) of the others —
    * the shared map is only ever held for a get/put, never across a
    * Spark job. */
  private val keyLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def memoizedStore(
      variant: String, s: SparkSession, dir: String)(
      build: => IndexStore): IndexStore = {
    val key = s"$variant@$dir"
    keyLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val fp = dataFingerprint(dir)
      sealedCache.synchronized { sealedCache.get(key) } match {
        case Some((`fp`, store)) => store
        case stale =>
          stale.foreach { case (_, old) =>
            tempStores.synchronized { tempStores -= old.path }
            // release the sealed-input cache's persisted blocks for the
            // old tree BEFORE deleting its files — a lingering entry
            // whose blocks get memory-evicted would recompute from
            // lineage into the deleted tree
            graft.index.Search.invalidate(old.path)
            deleteTree(old.path)
          }
          val built = build
          sealedCache.synchronized { sealedCache.put(key, (fp, built)) }
          built
      }
    }
  }

  private[graft] def sealedStore(s: SparkSession, dir: String): IndexStore =
    memoizedStore("sealed_q", s, dir)(buildSealedIndex(s, dir))

  /** Build scaffold shared by every derived-index gate row: temp tree
    * registered for JVM-exit cleanup, recall-1.0 gate knobs (3×100-row
    * segments, exhaustive ef), ingest of `e`, then the variant's own
    * mutation (seal / manifest flip / delete / maintenance sweep). */
  private def buildVariant(
      name: String, s: SparkSession, e: DataFrame, alpha: Double = 1.2,
      graphMode: String = graft.core.GraphBuildMode.Auto)(
      mutate: SegmentedIndex => Unit): IndexStore = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    tempStores.synchronized { tempStores += tmp }
    val st = new IndexStore(tmp)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    st.createOrOpen(IndexMeta(name, dimension = dim, maxSegmentSize = 100,
      pqM = 16, pqK = 64, graphDegree = 16, graphBuildBreadth = 64, graphAlpha = alpha,
      oversample = 4, graphBuildMode = graphMode), System.currentTimeMillis())
    val idx = new SegmentedIndex(s, st)
    idx.addAll(e, "embedding", "vec_id")
    mutate(idx)
    st
  }

  /** The shared query tail of the sealed gate rows: 5 self-queries, k=10,
    * rank cast long for the oracle's dtype contract. */
  private def sealedGateQuery(
      s: SparkSession, store: IndexStore, e: DataFrame,
      params: Option[graft.core.SearchParams] = None): DataFrame = {
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("queryId"), col("embedding").as("qv"))
    Search.query(s, store, queries, 10, params)
      .select(col("queryId"), col("gid"), col("rank").cast("long").as("rank"), col("distance"))
      .orderBy(col("queryId"), col("rank"))
  }

  private[graft] def buildSealedIndex(s: SparkSession, dir: String): IndexStore = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sealed-q").toString
    tempStores.synchronized { tempStores += tmp }
    val store = new IndexStore(tmp)
    val dim = emb(s, dir).select(size(col("embedding"))).first().getInt(0)
    store.createOrOpen(IndexMeta("sealed_q", dimension = dim, maxSegmentSize = 250,
      pqM = 16, pqK = 256, graphDegree = 16, graphBuildBreadth = 64, graphAlpha = 1.2,
      oversample = 4), System.currentTimeMillis())
    val idx = new SegmentedIndex(s, store)
    idx.addAll(emb(s, dir), "embedding", "vec_id")
    idx.sealPending()
    store
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3/S5: deterministic ingest assignment — i-th vector (by vec_id
    // order) lands at (i/cap, i%cap) with gid=i (the reference's order
    // invariant, VectorIndexTest.java:91-122). Positions come from the
    // same scale-safe mechanism the real ingest uses (SegmentedIndex
    // .addAll:58-75): range-partition on the order column + per-partition
    // sort + zipWithIndex — never a global no-partition window.
    "vec_ingest_assignment" -> ((s, dir) => {
      import s.implicits._
      val assigned = emb(s, dir).select(col("vec_id").cast("long"))
        .repartitionByRange(s.sparkContext.defaultParallelism, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .rdd.zipWithIndex
        .map { case (row, idx) => (row.getLong(0), idx) }
        .toDF("vec_id", "gid")
      assigned.select(
          col("vec_id"),
          col("gid"),
          (col("gid") / Cap).cast("int").as("segId"),
          (col("gid") % Cap).cast("int").as("vecId"))
        .orderBy(col("vec_id"))
    }),

    // The reference's ONLINE-INSERT workflow (add/addAll against a live
    // index) through Structured Streaming: micro-batches land via
    // foreachBatch → SegmentedIndex.addAll, and gids CONTINUE across
    // batches from the manifest high-water mark — the invariant that
    // makes streaming ingest equal batch ingest. The embeddings table is
    // pre-split into 4 consecutive vec_id ranges (one file per
    // micro-batch, maxFilesPerTrigger=1, mtime/path ordered), so the
    // drained index's (vec_id → gid, segId, vecId) mapping must equal
    // the batch assignment — the gate shares vec_ingest_assignment's
    // oracle verbatim.
    "stream_vec_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val dim = e.select(size(col("embedding"))).first().getInt(0)
      val n = e.count()
      val root = java.nio.file.Files.createTempDirectory("graft-stream-ingest").toString
      tempStores.synchronized { tempStores += root }
      val filesDir = s"$root/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(filesDir))
      val bounds = (0 to 4).map(i => n * i / 4)
      StreamStage.stageBatches(new java.io.File(root), new java.io.File(filesDir),
        (0 until 4).map(b =>
          e.filter(col("vec_id") >= bounds(b) && col("vec_id") < bounds(b + 1))))
      val st = new IndexStore(s"$root/index")
      st.createOrOpen(IndexMeta("stream_ingest", dimension = dim, maxSegmentSize = Cap,
        pqM = 16, pqK = 64, graphDegree = 16, graphBuildBreadth = 64, graphAlpha = 1.2,
        oversample = 4), System.currentTimeMillis())
      val idx = new SegmentedIndex(s, st)
      val q = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(filesDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // ANSI mode forbids numeric→binary casts; hex/unhex round-trips
          idx.addAll(batch.withColumn("payload",
            unhex(lpad(hex(col("vec_id")), 16, "0"))),
            "embedding", "vec_id", Some("payload"))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      st.readVectors(s)
        .select(expr("cast(conv(hex(payload), 16, 10) as bigint)").as("vec_id"),
          col("gid"), col("segId"), col("vecId"))
        .orderBy(col("vec_id"))
    }),

    // A4: segment counters with a synthetic tombstone predicate.
    "vec_segment_counters" -> ((s, dir) => {
      emb(s, dir)
        .withColumn("segId", (col("vec_id") / Cap).cast("int"))
        .withColumn("deleted", col("vec_id") % 7 === 0)
        .groupBy(col("segId"))
        .agg(
          sum(when(col("deleted"), 0L).otherwise(1L)).as("live_count"),
          sum(when(col("deleted"), 1L).otherwise(0L)).as("deleted_count"))
        .orderBy(col("segId"))
    }),

    // S9: gid → (segId, vecId) resolution; missing gids yield (-1,-1).
    "vec_gid_resolve" -> ((s, dir) => {
      import s.implicits._
      val wanted = Seq(0L, 5L, 123L, 999999L).toDF("gid")
      val present = emb(s, dir).select(col("vec_id").as("gid"))
        .withColumn("segId", (col("gid") / Cap).cast("int"))
        .withColumn("vecId", (col("gid") % Cap).cast("int"))
      wanted.join(present, Seq("gid"), "left")
        .select(col("gid"),
          coalesce(col("segId"), lit(-1)).as("segId"),
          coalesce(col("vecId"), lit(-1)).as("vecId"))
        .orderBy(col("gid"))
    }),

    // J1: brute-force exact KNN, L2 metric — theta-join + codegen'd
    // distance + per-query top-k window (the reference's
    // searchBruteForceSegment re-expressed relationally).
    "vec_knn_brute_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("l2sq"), col("vec_id"))
      e.crossJoin(broadcast(q))
        .withColumn("l2sq", vector.l2_squared(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("l2sq"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // J1 cosine variant with the reference's score convention.
    "vec_knn_brute_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .withColumn("score", vector.cosine_sim(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
          col("score"), (lit(1.0) - col("score")).as("distance"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // A3: medoid — centroid by per-dimension average, then argmin
    // squared distance (GraphBuilder.findMedoid relationally).
    "vec_medoid" -> ((s, dir) => {
      val e = emb(s, dir)
      val dims = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "v")))
      val centroid = dims.groupBy(col("idx"))
        .agg(avg(col("v").cast("double")).as("c"))
      val d2 = dims.join(broadcast(centroid), Seq("idx"))
        .groupBy(col("vec_id"))
        .agg(sum((col("v").cast("double") - col("c")) * (col("v").cast("double") - col("c"))).as("d2"))
      d2.select(col("vec_id"), round(col("d2"), 6).as("d2r"))
        .orderBy(col("d2r"), col("vec_id"))
        .limit(1)
    }),

    // K5/K6 as aggregates: norm statistics over the corpus.
    // Radius (range) search: ALL neighbors within L2 distance 1.22 of
    // each query — the ε-neighborhood query every vector store offers
    // next to top-k (unbounded result set, no rank). Brute path with
    // the codegen'd kernel; the kernel's in-order double accumulation
    // is bit-identical to the oracle's lambda, so the radius boundary
    // decides identically in both engines.
    "vec_range_search" -> ((s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") >= 35 && col("vec_id") < 40)
        .select(col("vec_id").as("queryId"), col("embedding").as("qv"))
      e.crossJoin(broadcast(qs))
        .withColumn("dist", vector.l2_distance(col("embedding"), col("qv")))
        .filter(col("dist") <= 1.22)
        .select(col("queryId"), col("vec_id").as("neighbor_id"), col("dist"))
        .orderBy(col("queryId"), col("neighbor_id"))
    }),

    // K7 wire-format interop: ARRAY<FLOAT> → packed little-endian
    // float32 BINARY (the reference's FloatPacker layout) through a real
    // parquet write/read → back to ARRAY<FLOAT>. The gate emits a
    // per-vector bit-exactness flag against the original plus dim/norm;
    // any lossy byte would flip roundtrip_exact and hash-mismatch the
    // oracle's constant-true column. The roundtrip alone can't detect a
    // self-consistent wrong layout (e.g. big-endian both ways) — the LE
    // byte pattern itself is pinned in DistancesSpec
    // ("pack(1.0f) == 00 00 80 3F"); together they gate byte
    // compatibility with the reference's records.
    "vec_pack_roundtrip" -> ((s, dir) => {
      val e = emb(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft-pack").toString
      tempStores.synchronized { tempStores += root }
      e.select(col("vec_id"),
          graft.sources.VectorSources.packEmbedding(col("embedding")).as("packed"))
        .write.mode("overwrite").parquet(s"$root/packed")
      val back = s.read.parquet(s"$root/packed")
        .select(col("vec_id"),
          graft.sources.VectorSources.unpackEmbedding(col("packed")).as("emb2"))
      e.join(back, Seq("vec_id"))
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          round(vector.vec_norm(col("embedding")), 6).as("l2_norm"),
          (col("embedding") === col("emb2")).as("roundtrip_exact"))
        .orderBy(col("vec_id"))
    }),

    // K7 interop, proto edition: encode VectorRecords into the reference's
    // protobuf wire blobs (ProtoInterop ↔ vectorsearch.proto:108-126),
    // persist the blobs, decode them back, and verify (a) the exact
    // embedding/flag/id round-trip and (b) the encoded byte LENGTH against
    // the oracle's closed-form varint arithmetic — a value-level check
    // that the canonical proto3 encoding (defaults omitted, fields in
    // order, varint sizes) is what actually hit disk. Distributed both
    // ways (Dataset.map, no driver collection).
    "vec_proto_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft-proto").toString
      tempStores.synchronized { tempStores += root }
      e.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
        .as[(Int, Array[Float])]
        .map { case (vid, embArr) =>
          val rec = graft.core.VectorRecord(
            vid % 8, vid, vid.toLong, embArr, vid % 7 == 0, Array.emptyByteArray)
          (vid, graft.sources.ProtoInterop.encodeVectorRecord(rec))
        }.toDF("vec_id", "blob")
        .write.mode("overwrite").parquet(s"$root/proto")
      val back = s.read.parquet(s"$root/proto").as[(Int, Array[Byte])]
        .map { case (vid, blob) =>
          val rec = graft.sources.ProtoInterop.decodeVectorRecord(blob, (_, v) => v.toLong)
          (vid, blob.length, rec.segId, rec.vecId, rec.deleted, rec.embedding)
        }.toDF("vec_id", "proto_len", "dec_seg_id", "dec_vec_id", "dec_deleted", "emb2")
      e.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
        .join(back, Seq("vec_id"))
        .select(col("vec_id").cast("bigint").as("vec_id"), size(col("embedding")).as("dim"),
          col("proto_len"),
          round(vector.vec_norm(col("emb2")), 6).as("l2_norm"),
          (col("embedding") === col("emb2") &&
            col("dec_seg_id") === col("vec_id") % 8 &&
            col("dec_vec_id") === col("vec_id") &&
            col("dec_deleted") === (col("vec_id") % 7 === 0)).as("roundtrip_exact"))
        .orderBy(col("vec_id"))
    }),

    "vec_norm_stats" -> ((s, dir) => {
      emb(s, dir)
        .withColumn("nrm", vector.vec_norm(col("embedding")))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"),
          round(avg(col("nrm")), 6).as("avg_norm"))
    }),

    // A5: the compaction planner's weighted scoring (0.3·age + 0.5·size +
    // 0.2·frag, min-max normalized, 0.5 on degenerate ranges) over
    // segment stats derived deterministically from vec_id (cap 100,
    // deleted = vec_id%7==0, createdAtMs = segId·1000). The greedy budget
    // pick on top of these scores is covered in MaintenanceSpec.
    // M2: the vacuum eligibility policy itself (ratio ≥ 0.25 AND 60 s
    // cooldown elapsed, the reference defaults), driven through the REAL
    // Maintenance.shouldVacuum over synthetic segment counters derived
    // from embeddings. Even segIds delete every 3rd vec (ratio ≈ 1/3,
    // above threshold) and alternate lastVacuumAt between inside the
    // cooldown (segId%4=0 → blocked) and past it (segId%4=2 →
    // eligible); odd segIds sit below the ratio (1/7) — the oracle
    // recomputes all three branches in SQL. The per-segment collect is
    // bounded: one row per 100 vec_ids.
    "vec_vacuum_policy" -> ((s, dir) => {
      import s.implicits._
      val nowMs = 1000000000L
      val segs = emb(s, dir)
        .withColumn("segId", (col("vec_id") / 100).cast("int"))
        .withColumn("deleted",
          col("vec_id") % when(col("segId") % 2 === 0, 3).otherwise(7) === 0)
        .groupBy(col("segId"))
        .agg(
          sum(when(col("deleted"), 0L).otherwise(1L)).as("cnt"),
          sum(when(col("deleted"), 1L).otherwise(0L)).as("del"))
        .withColumn("last_vacuum_ms",
          when(col("segId") % 4 === 0, nowMs - 30000L)
            .when(col("segId") % 4 === 2, nowMs - 120000L)
            .otherwise(0L))
        .as[(Int, Long, Long, Long)].collect()
      val policy = graft.core.MaintenancePolicy()
      segs.toSeq.map { case (segId, cnt, del, lastVac) =>
        val sm = graft.core.SegmentMeta(segId, graft.core.SegmentState.Sealed,
          cnt, del, createdAtMs = 0L, lastVacuumAtMs = lastVac)
        (segId, cnt, del, lastVac,
          if (graft.maintenance.Maintenance.shouldVacuum(policy, sm, nowMs)) 1L else 0L)
      }.toDF("segId", "cnt", "del", "last_vacuum_ms", "eligible")
        .orderBy(col("segId"))
    }),

    "vec_compaction_scoring" -> ((s, dir) => {
      val segs = emb(s, dir)
        .withColumn("segId", (col("vec_id") / 100).cast("int"))
        .withColumn("deleted", col("vec_id") % 7 === 0)
        .groupBy(col("segId"))
        .agg(
          sum(when(col("deleted"), 0L).otherwise(1L)).as("cnt"),
          sum(when(col("deleted"), 1L).otherwise(0L)).as("del"))
        .withColumn("createdAtMs", col("segId").cast("long") * 1000)
      val bounds = segs.agg(
        min(col("createdAtMs")).as("minC"), max(col("createdAtMs")).as("maxC"),
        min(col("cnt")).as("minN"), max(col("cnt")).as("maxN"))
      val scored = segs.crossJoin(broadcast(bounds))
        .withColumn("ageScore",
          when(col("maxC") === col("minC"), 0.5)
            .otherwise((col("maxC") - col("createdAtMs")).cast("double") / (col("maxC") - col("minC"))))
        .withColumn("sizeScore",
          when(col("maxN") === col("minN"), 0.5)
            .otherwise((col("maxN") - col("cnt")).cast("double") / (col("maxN") - col("minN"))))
        .withColumn("fragScore",
          when(col("cnt") + col("del") === 0, 0.0)
            .otherwise(col("del").cast("double") / (col("cnt") + col("del"))))
      scored.select(col("segId"), col("cnt"), col("del"),
        round(col("ageScore"), 6).as("age_score"),
        round(col("sizeScore"), 6).as("size_score"),
        round(col("fragScore"), 6).as("frag_score"),
        round(col("ageScore") * 0.3 + col("sizeScore") * 0.5 + col("fragScore") * 0.2, 6)
          .as("composite"))
        .orderBy(col("composite").desc, col("segId"))
    }),

    // S6/G4 observable outcome of the seal job: ingest → rotation → seal
    // leaves a deterministic manifest (full segments SEALED at cap, the
    // partial/empty tail ACTIVE). Builds FRESH (not the cache) so the
    // bench row prices the full build path (PQ train ×N segments +
    // Vamana), separate from the query path below.
    "vec_seal_build" -> ((s, dir) => {
      import s.implicits._
      val store = buildSealedIndex(s, dir)
      store.readManifest().segments
        .map(sm => (sm.segId, sm.state, sm.count))
        .toDF("segId", "state", "count")
        .orderBy(col("segId"))
    }),

    // J2+J3+J5+J7 end-to-end on the shared sealed index, exact-checkable:
    // at this config the recall gates pin recall = 1.0, the rerank is
    // exact with the (score desc, gid) tie-break, and sqrt/L2 accumulate
    // bit-identically to DuckDB's double lambdas — so the ANN output
    // EQUALS the brute-force oracle row-for-row (the reference's quality
    // gate made exact, VectorIndexTest.java:212-259).
    "vec_knn_sealed" -> ((s, dir) =>
      sealedGateQuery(s, sealedStore(s, dir), emb(s, dir))),

    // Distributed-queries KNN (Search.queryDistributed): the query set
    // stays a DataFrame end-to-end — (segment × query bucket) tasks
    // instead of the bounded driver batch. Same index,
    // same batch, same recall-1.0 knobs as vec_knn_sealed, so the result
    // must be IDENTICAL row-for-row: the gates share one oracle.
    // queriesPerTask=2 forces numBuckets=3 at 5 queries, so the bucketed
    // (segment × bucket) tasks + multi-bucket merge paths actually execute.
    "vec_knn_distributed_queries" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("queryId"), col("embedding").as("qv"))
      Search.queryDistributed(s, sealedStore(s, dir), queries, 10,
          queriesPerTask = 2)
        .select(col("queryId"), col("gid"), col("rank").cast("long").as("rank"), col("distance"))
        .orderBy(col("queryId"), col("rank"))
    }),

    // G1: graphAlpha ≤ 1.0 selects the exact-kNN graph builder
    // (buildL2Neighbors) instead of Vamana — the reference's builder
    // dispatch rule. Fresh 3×100 build at alpha 1.0; ef 160 over 100-node
    // segments is exhaustive, so the query must equal exact KNN.
    "vec_knn_sealed_alpha1" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("alpha1", s, dir) {
        buildVariant("alpha1", s, e, alpha = 1.0)(_.sealPending())
      }
      sealedGateQuery(s, store, e)
    }),

    // T3 cross-INDEX federation at query time: two independent sealed
    // indexes (vec_id ranges [0,300) and [300,600)), one query batch
    // against both, global top-k merged by (distance, id) — correct
    // because the global top-k is contained in the union of per-index
    // top-ks. gids are index-local; the gate maps them back to original
    // ids via each index's range offset. Recall-1.0 knobs per index, so
    // the merge must equal brute-force over the union (the oracle).
    "vec_knn_federated" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val storeA = memoizedStore("fed_a", s, dir) {
        buildVariant("fed_a", s, e.filter(col("vec_id") < 300))(_.sealPending())
      }
      val storeB = memoizedStore("fed_b", s, dir) {
        buildVariant("fed_b", s,
          e.filter(col("vec_id") >= 300 && col("vec_id") < 600))(_.sealPending())
      }
      val queries = e.filter(col("vec_id") >= 30 && col("vec_id") < 35)
        .select(col("vec_id").as("queryId"), col("embedding").as("qv"))
      def part(store: IndexStore, offset: Long) =
        Search.query(s, store, queries, 10)
          .select(col("queryId"), (col("gid") + offset).as("neighbor_id"), col("distance"))
      val w = Window.partitionBy(col("queryId"))
        .orderBy(col("distance"), col("neighbor_id"))
      part(storeA, 0L).unionByName(part(storeB, 300L))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .orderBy(col("queryId"), col("rank"))
        .select(col("queryId"), col("neighbor_id"), col("rank"), col("distance"))
    }),

    // F2/M4: COMPACTING segments stay fully searchable — the reference
    // keeps compaction sources serving results until the single-commit
    // swap (MaintenanceService.java:248-417). Seal, then flip two
    // segments COMPACTING through the REAL throttled transition
    // (Maintenance.markCandidatesCompacting); results must be identical
    // to the all-SEALED index, i.e. exact KNN over the full corpus.
    "vec_knn_during_compaction" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("compacting", s, dir) {
        buildVariant("compacting", s, e) { idx =>
          idx.sealPending()
          val mt = new graft.maintenance.Maintenance(idx)
          require(mt.markCandidatesCompacting(Seq(0, 1)),
            "COMPACTING transition rejected — fixture segments not SEALED")
        }
      }
      sealedGateQuery(s, store, e)
    }),

    // G2: graphBuildMode=PRUNED forces the brute-force top-L + greedy
    // α-prune builder (the reference's GraphBuilderPruningTest surface)
    // through the seal job — same recall-1.0 config as the alpha1 row
    // (ef 160 exhausts 100-node segments), so the output must equal
    // exact KNN under the same hard oracle.
    "vec_knn_sealed_pruned" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("pruned", s, dir) {
        buildVariant("pruned", s, e,
          graphMode = graft.core.GraphBuildMode.Pruned)(_.sealPending())
      }
      sealedGateQuery(s, store, e)
    }),

    // Partitioned (sharded) Vamana seal — the beyond-budget build path
    // (PartitionedBuild: overlap-2 shard assignment, per-shard Vamana in
    // parallel tasks, degree-capped edge union; DiskANN sharding per
    // PAPERS.md). Same recall-1.0 config as the pruned/alpha1 rows
    // (ef 160 exhausts 100-node segments), so the sharded graph must
    // still produce exact KNN under the same hard oracle.
    "vec_knn_partitioned" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("partitioned", s, dir) {
        buildVariant("partitioned", s, e,
          graphMode = graft.core.GraphBuildMode.Partitioned)(_.sealPending())
      }
      sealedGateQuery(s, store, e)
    }),

    // F2: WRITING segments are invisible to search (the reference's
    // state-dispatch rule — a compaction target must never serve results
    // before its single-commit swap). Ingest-only build (no seal cost),
    // seg 0 flipped to WRITING in the manifest; the brute path over the
    // remaining PENDING/ACTIVE segments must equal exact KNN over
    // gid ≥ 100 only.
    "vec_knn_writing_invisible" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("writing_inv", s, dir) {
        buildVariant("writing_inv", s, e) { idx =>
          val m = idx.store.readManifest()
          idx.store.writeManifest(m.withSegment(
            m.segment(0).get.copy(state = graft.core.SegmentState.Writing)))
        }
      }
      sealedGateQuery(s, store, e)
    }),

    // J6: RANDOM_PIVOTS seeding (the reference's deterministic
    // `(segId<<21) ^ bits(lut[0])` pivot formula) through the recall-1.0
    // config — seeding strategy changes where the walk STARTS, never what
    // it must find, so the output stays exact-KNN-equal under the same
    // hard oracle.
    "vec_knn_sealed_pivots" -> ((s, dir) => {
      val params = graft.core.SearchParams.defaults(10, 4)
        .copy(seedStrategy = graft.core.SeedStrategy.RandomPivots, pivots = 8)
      sealedGateQuery(s, sealedStore(s, dir), emb(s, dir), Some(params))
    }),

    // J4: the deprecated BEAM expansion mode through the same recall-1.0
    // config — also exact-KNN-equal (probed at sf0.01 and sf0.1), so the
    // legacy mode gets the same hard value oracle as BEST_FIRST.
    "vec_knn_sealed_beam" -> ((s, dir) => {
      val params = graft.core.SearchParams.defaults(10, 4)
        .copy(mode = graft.core.SearchMode.Beam)
      sealedGateQuery(s, sealedStore(s, dir), emb(s, dir), Some(params))
    }),

    // M3/M4 through the sealed path: one maintenance sweep runs BOTH
    // phases — seg 0 trips the vacuum (ratio 0.67 > 0.25) and, vacuumed,
    // sits under half-full (33 < 50, the compaction anchor); seg 1 sits at
    // 20% deletion (below the vacuum ratio), so the picked set {0, 1}
    // carries avgFrag 0.15 ≥ 0.1 and compacts gid-stably into a fresh
    // segment. The compaction consumes seg 0, so the sweep skips its
    // separate vacuum: the copy drops both segments' tombstones.
    // Query results must STILL equal exact KNN over the survivors —
    // physical rewrite changes storage, never answers. (MaintenanceSpec
    // asserts this exact sweep reports 1 vacuum + 1 compaction.)
    "vec_knn_post_vacuum" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("post_vac", s, dir) {
        buildVariant("post_vac", s, e) { idx =>
          idx.sealPending()
          idx.delete((0L until 100L).filter(_ % 3 != 0) ++ (100L until 200L).filter(_ % 5 == 0))
          new graft.maintenance.Maintenance(idx).sweep(nowMs = System.currentTimeMillis() + 3600_000L)
        }
      }
      sealedGateQuery(s, store, e)
    }),

    // F1/M1 through the sealed path: tombstoned rows must vanish from
    // sealed-segment results at the rerank. Fresh 3×100-row index over a
    // bounded slice (identical at every sf), every 7th gid deleted; the
    // oracle is exact KNN over the surviving rows only.
    "vec_knn_sealed_deleted" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 300)
      val store = memoizedStore("sealed_del", s, dir) {
        buildVariant("sealed_del", s, e) { idx =>
          idx.sealPending()
          idx.delete((0L until 300L).filter(_ % 7 == 0))
        }
      }
      sealedGateQuery(s, store, e)
    })
  )

  private def l2sqL(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
  private val l2sqLambda = l2sqL("e.embedding", "q.qv")

  /** Exact-KNN ground truth for the sealed-path queries (recall-1.0
    * configs make the ANN output equal this row-for-row). */
  private val sealedKnnOracle =
    s"""WITH g AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
       |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
       |  SELECT q.queryId, g.gid,
       |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
       |    row_number() OVER (PARTITION BY q.queryId
       |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
       |  FROM g, q) x
       |WHERE rnk <= 10
       |ORDER BY queryId, rnk""".stripMargin
  private val dotLambda =
    "list_sum(list_transform(list_zip(e.embedding, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def normLambda(src: String) =
    s"sqrt(list_sum(list_transform($src, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** Shared by the batch and streaming ingest gates: the order
    * invariant (i-th vector by vec_id → gid i → (i/cap, i%cap)) is the
    * same ground truth for both execution paths. */
  private val ingestAssignmentSql =
    s"""SELECT vec_id,
       |  CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS gid,
       |  CAST((row_number() OVER (ORDER BY vec_id) - 1) // $Cap AS INTEGER) AS segId,
       |  CAST((row_number() OVER (ORDER BY vec_id) - 1) % $Cap AS INTEGER) AS vecId
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "vec_ingest_assignment" -> ingestAssignmentSql,

    // streaming ingest must land exactly where batch ingest does
    "stream_vec_ingest" -> ingestAssignmentSql,

    "vec_segment_counters" ->
      s"""SELECT CAST(vec_id // $Cap AS INTEGER) AS segId,
         |  CAST(sum(CASE WHEN vec_id % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS live_count,
         |  CAST(sum(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS deleted_count
         |FROM embeddings
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "vec_gid_resolve" ->
      s"""SELECT w.gid,
         |  coalesce(CAST(e.vec_id // $Cap AS INTEGER), -1) AS segId,
         |  coalesce(CAST(e.vec_id % $Cap AS INTEGER), -1) AS vecId
         |FROM (VALUES (CAST(0 AS BIGINT)), (5), (123), (999999)) AS w(gid)
         |LEFT JOIN embeddings e ON e.vec_id = w.gid
         |ORDER BY w.gid""".stripMargin,

    "vec_knn_brute_l2" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT query_id, neighbor_id, rnk, l2sq FROM (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    $l2sqLambda AS l2sq,
         |    row_number() OVER (PARTITION BY q.query_id
         |                       ORDER BY $l2sqLambda, e.vec_id) AS rnk
         |  FROM embeddings e, q) x
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "vec_knn_brute_cosine" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    CASE WHEN ${normLambda("e.embedding")} = 0 OR ${normLambda("q.qv")} = 0 THEN 0.0
         |         ELSE $dotLambda / (${normLambda("e.embedding")} * ${normLambda("q.qv")})
         |    END AS score
         |  FROM embeddings e, q)
         |SELECT query_id, neighbor_id, rnk, score, 1.0 - score AS distance FROM (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored) x
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "vec_medoid" ->
      """WITH dims AS (
        |  SELECT vec_id, u.idx - 1 AS idx, CAST(u.v AS DOUBLE) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS v,
        |                    generate_subscripts(embedding, 1) AS idx) u),
        |centroid AS (
        |  SELECT idx, avg(v) AS c FROM dims GROUP BY idx),
        |d2 AS (
        |  SELECT d.vec_id, sum((d.v - c.c) * (d.v - c.c)) AS d2
        |  FROM dims d JOIN centroid c USING (idx) GROUP BY d.vec_id)
        |SELECT vec_id, round(d2, 6) AS d2r FROM d2
        |ORDER BY d2r, vec_id LIMIT 1""".stripMargin,

    "vec_vacuum_policy" ->
      """WITH segs AS (
        |  SELECT CAST(vec_id // 100 AS INTEGER) AS segId,
        |    CAST(sum(CASE WHEN vec_id % (CASE WHEN (vec_id // 100) % 2 = 0 THEN 3 ELSE 7 END) = 0
        |      THEN 0 ELSE 1 END) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN vec_id % (CASE WHEN (vec_id // 100) % 2 = 0 THEN 3 ELSE 7 END) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS del
        |  FROM embeddings GROUP BY 1),
        |segs2 AS (
        |  SELECT segId, cnt, del,
        |    CAST(CASE WHEN segId % 4 = 0 THEN 1000000000 - 30000
        |              WHEN segId % 4 = 2 THEN 1000000000 - 120000
        |              ELSE 0 END AS BIGINT) AS last_vacuum_ms
        |  FROM segs)
        |SELECT segId, cnt, del, last_vacuum_ms,
        |  CAST(CASE WHEN (cnt + del) > 0
        |         AND CAST(del AS DOUBLE) / (cnt + del) >= 0.25
        |         AND (last_vacuum_ms = 0 OR 1000000000 - last_vacuum_ms >= 60000)
        |       THEN 1 ELSE 0 END AS BIGINT) AS eligible
        |FROM segs2
        |ORDER BY segId""".stripMargin,

    "vec_compaction_scoring" ->
      """WITH segs AS (
        |  SELECT CAST(vec_id // 100 AS INTEGER) AS segId,
        |    CAST(sum(CASE WHEN vec_id % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS del
        |  FROM embeddings GROUP BY 1),
        |segs2 AS (
        |  SELECT segId, cnt, del, CAST(segId AS BIGINT) * 1000 AS createdAtMs FROM segs),
        |bounds AS (
        |  SELECT min(createdAtMs) minC, max(createdAtMs) maxC,
        |         min(cnt) minN, max(cnt) maxN FROM segs2),
        |scored AS (
        |  SELECT segId, cnt, del,
        |    CASE WHEN maxC = minC THEN 0.5
        |         ELSE (maxC - createdAtMs) * 1.0 / (maxC - minC) END AS ageScore,
        |    CASE WHEN maxN = minN THEN 0.5
        |         ELSE (maxN - cnt) * 1.0 / (maxN - minN) END AS sizeScore,
        |    CASE WHEN cnt + del = 0 THEN 0.0
        |         ELSE del * 1.0 / (cnt + del) END AS fragScore
        |  FROM segs2, bounds)
        |SELECT segId, cnt, del,
        |  round(ageScore, 6) AS age_score,
        |  round(sizeScore, 6) AS size_score,
        |  round(fragScore, 6) AS frag_score,
        |  round(ageScore * 0.3 + sizeScore * 0.5 + fragScore * 0.2, 6) AS composite
        |FROM scored
        |ORDER BY composite DESC, segId""".stripMargin,

    "vec_seal_build" ->
      """WITH n AS (SELECT count(*) AS c FROM embeddings),
        |ids AS (SELECT unnest(generate_series(0, (SELECT c // 250 FROM n))) AS i)
        |SELECT CAST(i AS INTEGER) AS segId,
        |  CASE WHEN c - i * 250 >= 250 THEN 'SEALED' ELSE 'ACTIVE' END AS state,
        |  CAST(least(250, c - i * 250) AS BIGINT) AS "count"
        |FROM ids, n
        |ORDER BY segId""".stripMargin,

    "vec_knn_sealed" -> sealedKnnOracle,
    "vec_knn_distributed_queries" -> sealedKnnOracle,

    "vec_knn_sealed_beam" -> sealedKnnOracle,

    // federated merge over [0,600) must equal brute force over the union
    "vec_knn_federated" ->
      s"""WITH g AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings
         |  WHERE vec_id >= 30 AND vec_id < 35)
         |SELECT queryId, vec_id AS neighbor_id, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.vec_id,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.vec_id) AS rnk
         |  FROM g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    // same exact-KNN oracle as alpha1: COMPACTING state changes segment
    // lifecycle bookkeeping, never visibility — sources serve until the
    // compaction's single-commit swap
    "vec_knn_during_compaction" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    // same exact-KNN oracle as alpha1: the PRUNED builder changes graph
    // construction, never what an exhaustive search must find
    "vec_knn_sealed_pruned" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    // same exact-KNN oracle as pruned/alpha1: the sharded builder changes
    // graph construction, never what an exhaustive search must find
    "vec_knn_partitioned" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    "vec_knn_sealed_pivots" -> sealedKnnOracle,

    "vec_knn_sealed_alpha1" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    "vec_knn_writing_invisible" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |live AS (SELECT * FROM g WHERE gid >= 100),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM live g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    "vec_knn_post_vacuum" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |live AS (SELECT * FROM g WHERE NOT (
         |  (gid < 100 AND gid % 3 <> 0) OR
         |  (gid >= 100 AND gid < 200 AND gid % 5 = 0))),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM live g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    "vec_knn_sealed_deleted" ->
      s"""WITH g AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS gid, embedding
         |  FROM embeddings WHERE vec_id < 300),
         |live AS (SELECT * FROM g WHERE gid % 7 <> 0),
         |q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT queryId, gid, rnk AS "rank", dist AS distance FROM (
         |  SELECT q.queryId, g.gid,
         |    sqrt(${l2sqL("g.embedding", "q.qv")}) AS dist,
         |    row_number() OVER (PARTITION BY q.queryId
         |                       ORDER BY ${l2sqL("g.embedding", "q.qv")}, g.gid) AS rnk
         |  FROM live g, q) x
         |WHERE rnk <= 10
         |ORDER BY queryId, rnk""".stripMargin,

    "vec_range_search" ->
      s"""WITH q AS (
         |  SELECT vec_id AS queryId, embedding AS qv FROM embeddings
         |  WHERE vec_id >= 35 AND vec_id < 40)
         |SELECT q.queryId, e.vec_id AS neighbor_id,
         |  sqrt(${l2sqL("e.embedding", "q.qv")}) AS dist
         |FROM embeddings e, q
         |WHERE sqrt(${l2sqL("e.embedding", "q.qv")}) <= 1.22
         |ORDER BY q.queryId, e.vec_id""".stripMargin,

    // Closed-form proto3 wire length: per-field tag+varint sizes with
    // canonical default omission — seg_id (vec_id%8, 1-byte varint or
    // omitted at 0), vec_id (omitted at 0, else 1-3 byte varint),
    // embedding (tag + length-varint + 4·dim payload), deleted (2 bytes
    // when true), payload empty (omitted).
    "vec_proto_roundtrip" ->
      s"""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         |  CAST(
         |    (CASE WHEN vec_id % 8 = 0 THEN 0 ELSE 2 END)
         |    + (CASE WHEN vec_id = 0 THEN 0
         |            WHEN vec_id < 128 THEN 2
         |            WHEN vec_id < 16384 THEN 3 ELSE 4 END)
         |    + 1
         |    + (CASE WHEN 4 * len(embedding) < 128 THEN 1
         |            WHEN 4 * len(embedding) < 16384 THEN 2 ELSE 3 END)
         |    + 4 * len(embedding)
         |    + (CASE WHEN vec_id % 7 = 0 THEN 2 ELSE 0 END)
         |  AS INTEGER) AS proto_len,
         |  round(${normLambda("embedding")}, 6) AS l2_norm,
         |  true AS roundtrip_exact
         |FROM embeddings
         |ORDER BY vec_id""".stripMargin,

    "vec_pack_roundtrip" ->
      s"""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         |  round(${normLambda("embedding")}, 6) AS l2_norm,
         |  true AS roundtrip_exact
         |FROM embeddings
         |ORDER BY vec_id""".stripMargin,

    "vec_norm_stats" ->
      s"""SELECT count(*) AS n,
         |  round(min(${normLambda("embedding")}), 6) AS min_norm,
         |  round(max(${normLambda("embedding")}), 6) AS max_norm,
         |  round(avg(${normLambda("embedding")}), 6) AS avg_norm
         |FROM embeddings""".stripMargin
  )
}
