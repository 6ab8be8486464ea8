package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core._

/**
 * Reference-shaped facade (reference: api/VectorIndex.java — add, addAll,
 * query, delete, resolveIds, awaitIndexingComplete): the convenience
 * surface a user of the reference library would reach for, layered over
 * the batch engine. Single-vector calls are degenerate batches (S1 ≙ S3);
 * `awaitIndexingComplete` is the seal sweep (T4 — in a batch engine the
 * "queue" drains synchronously).
 *
 * For large workloads use the batch APIs directly (`SegmentedIndex.addAll`
 * with a DataFrame, `Search.query` with a query DataFrame); this facade
 * materializes small results on the driver by design.
 */
final class VectorIndex private (
    val index: SegmentedIndex,
    val policy: MaintenancePolicy = MaintenancePolicy()) {

  private val spark: SparkSession = index.spark
  import spark.implicits._

  /** Insert one vector; returns its gid (reference: VectorIndex.add). */
  def add(embedding: Array[Float], payload: Array[Byte] = Array.emptyByteArray): Long =
    addAll(Array(embedding), Array(payload)).head

  /** Batch insert; returns assigned gids in order (reference: addAll). */
  def addAll(
      embeddings: Array[Array[Float]],
      payloads: Array[Array[Byte]] = Array.empty): Seq[Long] = {
    val gid0 = index.manifest.nextGid
    val rows = embeddings.zipWithIndex.map { case (e, i) =>
      (i.toLong, e, if (payloads.nonEmpty) payloads(i) else Array.emptyByteArray)
    }.toSeq
    index.addAll(rows.toDF("id", "embedding", "payload"), "embedding", "id", Some("payload"))
    gid0 until (gid0 + embeddings.length)
  }

  /** Seal every PENDING segment — the queue-empty barrier (reference:
    * awaitIndexingComplete). */
  def awaitIndexingComplete(): Unit = { index.sealPending(); () }

  /** KNN query returning ranked [[SearchResult]]s (reference: query). */
  def query(q: Array[Float], k: Int, params: Option[SearchParams] = None): Seq[SearchResult] = {
    val qdf = Seq((0L, q)).toDF("queryId", "qv")
    Search.query(spark, index.store, qdf, k, params)
      .orderBy(col("rank"))
      .select(col("gid"), col("score"), col("distance"), col("payload"))
      .collect()
      .map(r => SearchResult(r.getLong(0), r.getDouble(1), r.getDouble(2),
        Option(r.getAs[Array[Byte]](3)).getOrElse(Array.emptyByteArray)))
      .toSeq
  }

  /** Tombstone one gid (reference: delete). */
  def delete(gid: Long): Unit = deleteAll(Seq(gid))

  /** Tombstone a batch of gids, then run the reference's maintenance
    * chain (reference: delete schedules vacuum when the policy trips,
    * FdbVectorIndex.java:552-608; vacuum hands off to compaction-candidate
    * search, MaintenanceService.java:200-216). In the batch engine the
    * "queue hop" is a synchronous policy-gated sweep. */
  def deleteAll(gids: Seq[Long]): Unit = {
    index.delete(gids)
    autoMaintain(System.currentTimeMillis())
    ()
  }

  /** The delete → vacuum → compaction chain: every segment the policy
    * marks for vacuum is vacuumed, or compacted away when a compaction
    * consumes it; every vacuumed SEALED segment the post-vacuum hook
    * leaves under half-full anchors a compaction pass (`Maintenance.sweep`).
    * Returns the vacuumed segIds. */
  def autoMaintain(nowMs: Long): Seq[Int] =
    new graft.maintenance.Maintenance(index, policy).sweep(nowMs)._1

  /** gid → (segId, vecId); missing → (-1, -1) (reference: resolveIds). */
  def resolveIds(gids: Seq[Long]): Map[Long, (Int, Int)] = index.resolveIds(gids)
}

object VectorIndex {
  /** Create or open an index at `path` (reference: createOrOpen). The
    * maintenance policy is OPERATIONAL config (runner-supplied, not
    * persisted — the reference's config-merge rule). */
  def createOrOpen(
      spark: SparkSession,
      path: String,
      meta: IndexMeta,
      policy: MaintenancePolicy = MaintenancePolicy()): VectorIndex = {
    val store = new IndexStore(path)
    store.createOrOpen(meta, System.currentTimeMillis())
    new VectorIndex(new SegmentedIndex(spark, store), policy)
  }
}
