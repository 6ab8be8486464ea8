package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.ManifoldData

/**
 * Seeded inputs. Vector and query ids are offset by the seed into the
 * engine's own manifold generator, so every seed gives a different corpus
 * with the same geometry; the program only ever sees the generated rows.
 */
object Corpus {
  /** Ids of one seed stay below the next seed's base. */
  private val SeedStride = 10000000L

  def vectors(seed: Long, from: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n)(i => (from + i, ManifoldData.vectorFor(seed * SeedStride + from + i)))

  def queries(seed: Long, from: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n)(i => (from + i, ManifoldData.queryFor(seed * SeedStride + from + i)))

  def vectorsDf(spark: SparkSession, rows: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.toSeq).toDF("vec_id", "embedding")

  def queriesDf(spark: SparkSession, rows: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.toSeq).toDF("queryId", "qv")

  /** Exact top-k ids by squared L2 (ties by id), on the driver across all
    * cores: the brute-force truth recall is measured against. */
  def truth(live: Array[(Long, Array[Float])], qs: Array[(Long, Array[Float])], k: Int): Map[Long, Set[Long]] = {
    val out = new Array[Set[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel().forEach { qi =>
      val q = qs(qi)._2
      val d = new Array[Double](live.length)
      var i = 0
      while (i < live.length) {
        val v = live(i)._2
        var s = 0.0
        var j = 0
        while (j < v.length) { val t = v(j) - q(j); s += t * t; j += 1 }
        d(i) = s
        i += 1
      }
      out(qi) = live.indices.sortBy(i => (d(i), live(i)._1)).take(k).map(i => live(i)._1).toSet
    }
    qs.indices.map(i => qs(i)._1 -> out(i)).toMap
  }

  // ---- pipeline tables ---------------------------------------------------

  /** Fixed seed of the pipeline tables: the recorded gate digests hold
    * for these tables only. */
  val PipelineSeed = 42L

  private val words: Array[String] = {
    val r = new Random(PipelineSeed)
    Array.tabulate(400)(_ => Iterator.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  /**
   * Writes the tables the pipeline gates read — `orders`, `lineitem` and
   * `documents`, with the columns those gates and their oracles use — as
   * parquet under `dir`. A small customer-supplier-part market (scale
   * about 0.001 of TPC-H) and a 60-document text corpus whose word
   * draws repeat enough for shingle overlaps.
   */
  def writePipelineTables(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = new Random(PipelineSeed)
    val nOrders = 1500
    val orders = Array.tabulate(nOrders)(i => ((i + 1).toLong, (1 + r.nextInt(150)).toLong))
    val lines = orders.toSeq.flatMap { case (ok, _) =>
      (1 to 1 + r.nextInt(7)).map(ln => (ok, (1 + r.nextInt(200)).toLong, (1 + r.nextInt(10)).toLong, ln))
    }
    val docs = Array.tabulate(60) { i =>
      val n = 20 + r.nextInt(60)
      ((i + 1).toLong, Iterator.fill(n)(words(r.nextInt(if (i % 3 == 0) 60 else words.length))).mkString(" "))
    }
    orders.toSeq.toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    docs.toSeq.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Order-insensitive result digest: SHA-256 over the sorted row
    * strings, first 16 hex digits (the engine's ParityHash scheme). */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString.take(16))
  }
}
