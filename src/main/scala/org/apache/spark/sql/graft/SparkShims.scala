package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{AbstractDataType, DataType, StructType}

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

  /** The parquet files of one `segId`-partitioned table
    * (`<dir>/segId=N/part-*`), grouped by segment, and Spark's own parquet
    * reader for them. Serializable: a task reads its segment's rows with
    * [[rows]], so no exchange moves them. Rows hold `schema`'s columns
    * (the files' columns; `segId` lives in the directory name) and are
    * valid only until the iterator advances. */
  final class SegmentFiles private[SparkShims] (
      reader: PartitionedFile => Iterator[InternalRow],
      files: Map[Int, Array[PartitionedFile]]) extends Serializable {
    def rows(segId: Int): Iterator[InternalRow] =
      files.getOrElse(segId, Array.empty[PartitionedFile]).iterator.flatMap(reader)
  }

  /** List `dir` once and keep the files of the `segIds` directories,
    * skipping `_`/`.` names as Spark's file index does (`_SUCCESS`,
    * `.crc`, `.spark-staging-*`, `_temporary`). A missing `dir` lists no
    * files. The reader is `ParquetFileFormat`'s, built on the driver with
    * the session's parquet settings (`sessionState` is `private[sql]`). */
  def segmentFiles(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: StructType,
      segIds: Set[Int]): SegmentFiles = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val conf = classic.sessionState.newHadoopConfWithOptions(options)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = mutable.HashMap.empty[Int, mutable.ArrayBuffer[PartitionedFile]]
    if (fs.exists(root)) {
      val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        st.getPath.toUri.getPath.stripPrefix(prefix).split('/') match {
          case Array(SegDir(id), name) if !hidden(name) && segIds(id.toInt) =>
            files.getOrElseUpdate(id.toInt, mutable.ArrayBuffer.empty) += PartitionedFile(
              InternalRow.empty, SparkPath.fromPath(st.getPath), 0L, st.getLen,
              modificationTime = st.getModificationTime, fileSize = st.getLen)
          case _ => ()
        }
      }
    }
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      classic, schema, new StructType(), schema, Nil, options, conf)
    new SegmentFiles(reader, files.map(kv => kv._1 -> kv._2.toArray).toMap)
  }

  private val SegDir = "segId=(\\d+)".r

  /** `InMemoryFileIndex.shouldFilterOutPathName`'s rule. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

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
