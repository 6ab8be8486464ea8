package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/**
 * Bounded top-k aggregator (SURVEY.md §7.3 "custom Aggregator" tier;
 * the distributed analog of the reference's PriorityQueue usage,
 * FdbVectorIndex.java:913).
 *
 * Keeps the k best (score desc, gid asc tie-break) `(gid, score, payload)`
 * hits in a bounded min-heap. Unlike `Window.partitionBy(query)
 * .orderBy(score)` + `row_number`, this combines MAP-SIDE: each partition
 * sends at most k hits per query into the shuffle instead of every
 * candidate — at 100 TB / thousands of segments, the merge shuffle carries
 * O(queries × k × partitions) rows instead of O(all candidates). The
 * payload rides along so the merge output is the FINAL result — no re-join
 * against (and re-evaluation of) the candidate subtree.
 *
 * Result is sorted best-first.
 */
class TopKAggregator(k: Int)
    extends Aggregator[(Long, Double, Array[Byte]),
      mutable.PriorityQueue[(Long, Double, Array[Byte])],
      Seq[(Long, Double, Array[Byte])]] {

  private type Hit = TopKAggregator.Hit

  override def zero: mutable.PriorityQueue[Hit] = TopKAggregator.emptyHeap

  override def reduce(
      heap: mutable.PriorityQueue[Hit],
      e: Hit): mutable.PriorityQueue[Hit] =
    TopKAggregator.offer(heap, e, k)

  override def merge(
      a: mutable.PriorityQueue[Hit],
      b: mutable.PriorityQueue[Hit]): mutable.PriorityQueue[Hit] = {
    b.foreach(e => reduce(a, e))
    a
  }

  override def finish(heap: mutable.PriorityQueue[Hit]): Seq[Hit] =
    heap.toSeq.sortBy { case (gid, score, _) => (-score, gid) }

  override def bufferEncoder: Encoder[mutable.PriorityQueue[Hit]] =
    Encoders.kryo[mutable.PriorityQueue[Hit]]

  override def outputEncoder: Encoder[Seq[Hit]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Hit]]()
}

object TopKAggregator {

  type Hit = (Long, Double, Array[Byte]) // (gid, score, payload)

  // max-heap on (score asc, gid desc) ordering so the WORST kept element is
  // on top and can be evicted in O(log k)
  private val worstFirst: Ordering[Hit] =
    Ordering.by[Hit, (Double, Long)] { case (gid, score, _) => (-score, gid) }

  def emptyHeap: mutable.PriorityQueue[Hit] =
    mutable.PriorityQueue.empty[Hit](worstFirst)

  /** Offer `e` to a heap that keeps the `k` best hits (score desc, gid asc);
    * the per-segment rerank of `graft.index.Search` keeps its rows in the
    * same order with the same heap. */
  def offer(heap: mutable.PriorityQueue[Hit], e: Hit, k: Int): mutable.PriorityQueue[Hit] = {
    if (heap.size < k) heap.enqueue(e)
    else {
      val (topGid, topScore, _) = heap.head
      if (e._2 > topScore || (e._2 == topScore && e._1 < topGid)) {
        heap.dequeue()
        heap.enqueue(e)
      }
    }
    heap
  }
}
