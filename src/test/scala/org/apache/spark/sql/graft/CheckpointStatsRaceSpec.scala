package org.apache.spark.sql.graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[SparkShims.freshCheckpointStats]] must measure a checkpoint that has
  * returned, however far the listener bus lags: the status store is
  * filled from the bus. Lives in `org.apache.spark` to reach the status
  * queue. */
class CheckpointStatsRaceSpec extends AnyFunSuite {

  test("a returned checkpoint is measured while the status queue lags") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val resume = new CountDownLatch(1)
    // holds the status queue at the checkpoint job's start, so the status
    // store hears of its blocks only after the checkpoint has returned
    val stall = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id", "") == "stall"))
          resume.await(30, TimeUnit.SECONDS)
    }
    sc.listenerBus.addToStatusQueue(stall)
    try {
      sc.setJobGroup("stall", "stall")
      val cp = try spark.range(1000).toDF("id").localCheckpoint() finally sc.clearJobGroup()
      val fresh = SparkShims.freshCheckpointStats(cp)
      resume.countDown()
      assert(!(fresh eq cp), "the checkpoint kept its inherited estimate")
      SparkShims.unpersistCheckpoint(cp)
    } finally {
      resume.countDown()
      sc.removeSparkListener(stall)
    }
  }
}
