package graft.util

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Falsifiers for [[SparkShims.freshCheckpointStats]] — the guard
  * against localCheckpoint loops compounding Catalyst size estimates
  * (BASELINE.md round 13). */
class CheckpointStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("checkpointed scan gets MEASURED stats; a self-join no longer squares them") {
    val s = spark
    import s.implicits._
    val base = (1L to 10000L).toDF("id").localCheckpoint(true)
    val inherited = base.queryExecution.optimizedPlan.stats.sizeInBytes
    val fresh = SparkShims.freshCheckpointStats(base)
    val measured = fresh.queryExecution.optimizedPlan.stats.sizeInBytes
    // the measured block size is a sane, small number (10k longs)
    assert(measured > 0 && measured < BigInt(100L * 1024 * 1024),
      s"measured=$measured inherited=$inherited")
    // the compounding mechanism: join estimates multiply — with fresh
    // stats a self-join's estimate stays bounded by measured^2
    val joined = fresh.join(fresh.withColumnRenamed("id", "id2"),
      col("id") === col("id2"))
    val joinStats = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(joinStats <= measured * measured,
      s"join estimate $joinStats exceeds measured^2 ${measured * measured}")
    SparkShims.unpersistCheckpoint(base)
  }

  test("non-checkpointed plans and unmaterialized scans pass through unchanged") {
    val s = spark
    import s.implicits._
    val plain = Seq(1L, 2L).toDF("id").filter(col("id") > 0)
    // not a LogicalRDD -> identity
    assert(SparkShims.freshCheckpointStats(plain) eq plain)
    // checkpointed then unpersisted -> no storage info -> identity
    val cp = Seq(1L, 2L).toDF("id").localCheckpoint(true)
    SparkShims.unpersistCheckpoint(cp)
    // unpersist is async; poll briefly for the storage entry to drop
    val deadline = System.nanoTime() + 10_000_000_000L
    var out = SparkShims.freshCheckpointStats(cp)
    while (!(out eq cp) && System.nanoTime() < deadline) {
      Thread.sleep(100)
      out = SparkShims.freshCheckpointStats(cp)
    }
    assert(out eq cp, "dropped storage info must make the shim a no-op")
  }

  test("star CC fails loudly when maxRounds is too small (no partial labels)") {
    val s = spark
    import s.implicits._
    // a 40-link descending-id chain cannot converge in one round — in
    // either fixpoint kernel — and the failed loop releases its storage
    val chain = (0L until 40L).map(i => (40L - i, 39L - i)).toDF("src", "dst")
    val kernels = Seq[(String, () => Any)](
      "connectedComponentsStar" ->
        (() => graft.pipeline.GraphAlgos.connectedComponentsStar(chain, maxRounds = 1).collect()),
      "duplicateClusters" ->
        (() => graft.pipeline.Dedup.duplicateClusters(chain, "src", "dst", maxRounds = 1).collect()))
    // new ids only: a GC may clean older RDDs mid-run
    val leaks = kernels.map { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[IllegalStateException](run())
      name -> (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    assert(leaks.forall(_._2 == 0), s"persisted RDDs left after throwing: $leaks")
  }

  test("a fixpoint loop that converges on its last round is not reported as failed") {
    val s = spark
    import s.implicits._
    // one edge: star rewriting reaches its fixpoint in round 1; the label
    // loop settles in round 1 and sees nothing move in round 2
    val edge = Seq((2L, 1L)).toDF("src", "dst")
    val labels = Set((1L, 1L), (2L, 1L))
    assert(graft.pipeline.GraphAlgos.connectedComponentsStar(edge, maxRounds = 1)
      .as[(Long, Long)].collect().toSet === labels)
    assert(graft.pipeline.Dedup.duplicateClusters(edge, "src", "dst", maxRounds = 2)
      .as[(Long, Long)].collect().toSet === labels)
    intercept[IllegalStateException] {
      graft.pipeline.Dedup.duplicateClusters(edge, "src", "dst", maxRounds = 1).collect()
    }
  }
}
