package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/**
 * Minimal access shims for Spark internals that are `private[sql]` in
 * Spark 4.x. This is the standard pattern for Spark extension libraries:
 * a single tiny object inside an `org.apache.spark.sql` subpackage, so the
 * rest of the codebase stays in its own `graft.*` namespace and compiles
 * against public signatures only.
 */
object SparkShims {
  /** `AbstractDataType` is Scala-`private[sql]`; re-export for
    * `ExpectsInputTypes.inputTypes` overrides. */
  type AbstractType = AbstractDataType

  def abstractTypes(ts: DataType*): Seq[AbstractDataType] = ts

  /** Column ↔ Expression bridges (Spark 4 moved these behind
    * `org.apache.spark.sql.classic.ExpressionUtils`). */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime SQL-function registration into an EXISTING session
    * (`sessionState` is `private[sql]`): the complement of the
    * `spark.sql.extensions` injection path, for sessions the caller did
    * not build. Idempotent — re-registering a name replaces the entry. */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Re-assemble a DataFrame from physical-plan output rows
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`). Used to
    * flatten an N-way union of identical-schema subplans into ONE
    * LogicalRDD leaf, so the consumer's plan sees a single leaf instead
    * of N analyzed subtrees — driver planning stays flat as N grows.
    * Each subplan's toRdd is planned independently (O(N) small
    * plannings, each constant-size) instead of one O(N)-subtree
    * mega-plan that Catalyst re-canonicalizes on every rule pass. Note
    * under AQE the per-subplan toRdd is EAGER (stages materialize), so
    * the body runs them concurrently — see inline comment. */
  def unionAsSingleLeaf(
      spark: org.apache.spark.sql.SparkSession,
      dfs: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    require(dfs.nonEmpty, "unionAsSingleLeaf needs at least one input")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // Under AQE (the Spark 4 default) `queryExecution.toRdd` is NOT
    // lazy: AdaptiveSparkPlanExec.execute() blocks while it materializes
    // that subplan's shuffle stages. A sequential map would therefore
    // run the N chunk plans one wave at a time on the driver —
    // serializing exactly the cross-chunk parallelism the fusion is
    // for. Materialize them CONCURRENTLY on a bounded pool (concurrent
    // job submission from driver threads is the standard Spark
    // multi-job pattern); the scheduler interleaves the chunk stages
    // across the executor pool.
    val rdds =
      if (dfs.lengthCompare(2) < 0) dfs.map(_.queryExecution.toRdd)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(dfs.size, 8))
        // Scope the concurrent chunk jobs to one job group so that if
        // any chunk fails, the in-flight siblings are cancelled instead
        // of burning the executor pool behind an already-failed query.
        val jobGroup = s"graft-unionAsSingleLeaf-${java.util.UUID.randomUUID()}"
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              dfs.map(df => scala.concurrent.Future {
                classic.sparkContext.setJobGroup(
                  jobGroup, "graft chunked query-batch materialization",
                  interruptOnCancel = true)
                df.queryExecution.toRdd
              })),
            scala.concurrent.duration.Duration.Inf)
        } catch {
          case t: Throwable =>
            classic.sparkContext.cancelJobGroup(jobGroup)
            pool.shutdownNow()
            throw t
        } finally pool.shutdown()
      }
    val rdd = classic.sparkContext.union(rdds)
    classic.internalCreateDataFrame(rdd, dfs.head.schema)
  }

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` only touches the relation cache, not the
    * checkpoint RDD — iterative algorithms that checkpoint per round leak
    * O(rounds × |V|) storage without this. */
  def unpersistCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /**
   * Replace a checkpointed Dataset's inherited statistics with the
   * MEASURED size of its materialized blocks.
   *
   * `Dataset.localCheckpoint` carries the origin plan's ESTIMATED
   * `sizeInBytes` into the `LogicalRDD`. In a run-to-fixpoint loop whose
   * round contains a self-join, that estimate multiplies with itself
   * every round — the BigInt doubles in DIGITS per round, and after ~20
   * rounds the driver spends minutes per round inside
   * `BigInteger.multiplyToomCook3` doing join-size estimation with zero
   * executor tasks running (measured on the 1M-point DBSCAN core CC:
   * round 23's pointer-jump "join" took 291 s of pure driver stats
   * math). Resetting to the real materialized size keeps every round's
   * planning O(1) and the estimates honest.
   *
   * The size comes from the block manager master, which registers each
   * block before the task that stored it finishes, so a checkpoint that
   * has returned is always measured. `SparkContext.getRDDStorageInfo`
   * reads the status store instead, which the listener bus fills later:
   * while the bus lags it misses the RDD, the inherited estimate stays,
   * and the loop's plans (and Spark job count) change from run to run.
   *
   * No-op for plans that are not a checkpointed scan or not yet
   * materialized.
   */
  def freshCheckpointStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val sess = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val blocks = sess.sparkContext.env.blockManager.master.getStorageStatus
          .flatMap(_.rddBlocks.collect {
            case (org.apache.spark.storage.RDDBlockId(id, _), b) if id == lr.rdd.id => b })
        if (blocks.isEmpty) df
        else {
          val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = BigInt(blocks.map(b => b.memSize + b.diskSize).sum).max(BigInt(1)))
          org.apache.spark.sql.classic.Dataset.ofRows(sess, lr.copy()(sess, Some(stats), None))
        }
      case _ => df
    }
}
