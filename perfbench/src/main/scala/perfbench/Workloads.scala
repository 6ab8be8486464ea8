package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{IndexMeta, SearchParams, SegmentState}
import graft.index.{IndexStore, ManifoldData, Manifest, Search, SegmentedIndex}
import graft.maintenance.Maintenance

/** What a workload measured: the seconds of each timed operation (a
  * query batch, a lifecycle round or a pipeline pass), the
  * user-visible items one operation handles, and the result quality it
  * checked (recall@10, or the share of gate digests that matched). */
final case class Outcome(
    opName: String,
    opSeconds: Seq[Double],
    items: Double,
    quality: Double)

/** Run state shared by the workloads: the session, the tracer, the seed
  * and the attempted/failed tally every call and check adds to. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Double,
    val work: String,
    val benchDir: String) {
  var attempted = 0L
  var failed = 0L
  /** True from the start of the measured window. */
  var measuring = false
  /** Kernel accumulator deltas of the traced searches in the window. */
  var kernel: Kernel = Kernel.zero
  /** Store bytes on disk at the end of the window, and the live user
    * bytes (live vectors x dim x 4) they hold. */
  var storeBytes = 0.0
  var userBytes = 0.0
  /** Persisted RDDs the last dropped index's Search cache entry held. */
  var cacheRdds = 0

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** A call into the program; an exception counts as a failed call and
    * propagates, ending the measurement. */
  def call[A](body: => A): A = {
    attempted += 1
    try body catch {
      case e: Throwable =>
        failed += 1
        throw e
    }
  }

  /** A layer call whose store-directory writes are recorded when traced. */
  def storeCall[A](name: String, dir: String, attrs: A => Map[String, Double])(body: => A): A = {
    if (!tracer.on) return call(body)
    val before = tracer.measure(Store.snapshot(dir))
    tracer.span[A](name, r => attrs(r) ++ tracer.measure(Store.written(before, Store.snapshot(dir))))(call(body))
  }
}

object Store {
  /** path -> (size, mtime) of every file under `dir`. */
  def snapshot(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }
  }

  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Map[String, Double] = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    Map("bytes_written" -> changed.values.map(_._1).sum.toDouble, "files_written" -> changed.size.toDouble)
  }

  def bytes(dir: String): Long = snapshot(dir).values.map(_._1).sum

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** `segId=` directories under the store's tables. */
  def segmentDirs(store: IndexStore): Set[Int] =
    Seq(store.vectorsDir, store.codesDir, store.graphDir, store.codebooksDir).flatMap { d =>
      val p = Paths.get(d)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("segId="))
          .map(_.stripPrefix("segId=").toInt).toList
        finally s.close()
      }
    }.toSet
}

/**
 * The workloads. Each runs its setup (untimed, reported as
 * `setup_s` by the caller), then a closed loop of one client that starts
 * the next operation when the previous one has returned, until the run's
 * seconds are spent (at least `MinOps` operations).
 */
object Workloads {
  val K = 10
  val RecallFloor = 0.9
  /** The engine's production shape (the `HeavyBench` parameters) with
    * 250-vector segments; the four segments of a build seal in one stage. */
  val SegmentCap = 250
  val Segments = 4
  val meta: IndexMeta = IndexMeta("perfbench", dimension = ManifoldData.Dim,
    maxSegmentSize = SegmentCap, pqM = 16, pqK = 256, graphDegree = 48,
    graphBuildBreadth = 128, graphAlpha = 1.2, oversample = 4)
  val params: SearchParams = SearchParams.defaults(K, oversample = 4)

  /** Query batch of the `query` workload: under `Search.queryChunkSize`,
    * so one batch is one cogroup. */
  val QueryBatch = 200
  /** Per-round sizes of the `lifecycle` workload. */
  val RoundIngest = 250
  val RoundQueries = 64

  /** Operations a run times at least. The first lifecycle round and the
    * first pipeline pass run cold and take longest; with three or more
    * operations the median is always a warm one, however many fit. */
  val MinOps = 3

  private def loop(ctx: Ctx)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      op(i)
      i += 1
    }
  }

  /** Seconds `body` took, and its result. */
  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def newIndex(ctx: Ctx, name: String): SegmentedIndex = {
    val dir = s"${ctx.work}/$name"
    Store.deleteTree(dir)
    val store = new IndexStore(dir)
    store.createOrOpen(meta, System.currentTimeMillis())
    new SegmentedIndex(ctx.spark, store)
  }

  /** Releases the index's Search cache entry (counting the persisted RDDs
    * it held) and deletes its files. */
  private def dropIndex(ctx: Ctx, idx: SegmentedIndex): Unit = {
    val sc = ctx.spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Search.invalidate(idx.store.path)
    ctx.cacheRdds = before - sc.getPersistentRDDs.size
    Store.deleteTree(idx.store.path)
  }

  private def recordStore(ctx: Ctx, idx: SegmentedIndex, liveRows: Long): Unit = {
    ctx.storeBytes = Store.bytes(idx.store.path).toDouble
    ctx.userBytes = liveRows.toDouble * ManifoldData.Dim * 4
  }

  /** Sealed segments and total rows (live + deleted) in the manifest,
    * read around a call for its span; traced runs only. */
  private def sealedCount(ctx: Ctx, idx: SegmentedIndex): Int =
    if (ctx.tracer.on) ctx.tracer.measure(idx.manifest.segments.count(_.state == SegmentState.Sealed)) else 0
  private def totalRows(ctx: Ctx, idx: SegmentedIndex): Long =
    if (ctx.tracer.on) ctx.tracer.measure(idx.manifest.segments.map(s => s.count + s.deletedCount).sum) else 0L

  /** Search.query plus the collect, as one `search` span with its two
    * halves; returns (queryId, gid) pairs. When traced, the span carries
    * the kernel's accumulator deltas. */
  private def search(ctx: Ctx, idx: SegmentedIndex, qs: Array[(Long, Array[Float])]): Array[(Long, Long)] = {
    import ctx.spark.implicits._
    val tr = ctx.tracer
    val qdf = Corpus.queriesDf(ctx.spark, qs)
    val k0 = if (tr.on) tr.measure(Kernel.snapshot(ctx.spark)) else Kernel.zero
    tr.span[Array[(Long, Long)]]("search", r => tr.measure {
      val k = Kernel.snapshot(ctx.spark) - k0
      if (ctx.measuring) ctx.kernel = ctx.kernel + k
      k.attrs ++ Map("rows" -> r.length.toDouble, "queries" -> qs.length.toDouble)
    }) {
      val df = tr.span[DataFrame]("search.plan")(ctx.call(Search.query(ctx.spark, idx.store, qdf, K, Some(params))))
      tr.span[Array[(Long, Long)]]("search.exec")(ctx.call(df.select(col("queryId"), col("gid")).as[(Long, Long)].collect()))
    }
  }

  /** Recall@K of `got` against `truth`, plus the per-answer checks: K rows
    * per query and no gid outside the live set. */
  private def checkAnswers(ctx: Ctx, got: Array[(Long, Long)], truth: Map[Long, Set[Long]],
      live: Long => Boolean): Double = {
    val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    ctx.check(truth.keys.forall(q => byQ.get(q).exists(_.length == K)), s"a query did not return $K rows")
    val dead = got.count(r => !live(r._2))
    ctx.check(dead == 0, s"$dead returned gids are deleted or unknown")
    val recall = truth.map { case (q, t) => byQ.getOrElse(q, Array.empty[Long]).count(t.contains).toDouble / t.size }
      .sum / truth.size
    ctx.check(recall >= RecallFloor, f"recall@$K $recall%.4f below $RecallFloor")
    recall
  }

  /** Manifest live counts equal the non-deleted rows of each segment, and
    * every `segId=` directory belongs to a manifest segment. Returns the
    * live (segId, gid) rows. */
  private def checkStore(ctx: Ctx, idx: SegmentedIndex): Array[(Int, Long)] = {
    import ctx.spark.implicits._
    val m = idx.manifest
    val rows = ctx.call(idx.store.readVectors(ctx.spark).filter(!col("deleted"))
      .select(col("segId"), col("gid")).as[(Int, Long)].collect())
    val counted = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val listed = m.segments.map(s => s.segId -> s.count).filter(_._2 > 0).toMap
    ctx.check(counted == listed, s"manifest live counts $listed != vectors table $counted")
    val orphans = Store.segmentDirs(idx.store) -- m.segments.map(_.segId)
    ctx.check(orphans.isEmpty, s"segment directories without a manifest segment: $orphans")
    rows
  }

  // ---- query ----------------------------------------------------------------

  def query(ctx: Ctx): () => Outcome = {
    val spark = ctx.spark
    val n = SegmentCap * Segments
    val corpus = Corpus.vectors(ctx.seed, 0L, n)
    val idx = newIndex(ctx, "query")
    idx.addAll(Corpus.vectorsDf(spark, corpus), "embedding", "vec_id")
    idx.sealPending()
    Main.log("index built")
    // gids follow insert order from 0, so gid == position in `corpus`
    val pool = Corpus.queries(ctx.seed, 0L, 2 * QueryBatch)
    val truth = Corpus.truth(corpus, pool, K)
    val batches = pool.grouped(QueryBatch).toArray
    batches.foreach(b => search(ctx, idx, b)) // warm-up; fills the Search cache
    checkStore(ctx, idx)

    () => {
      val secs = mutable.ArrayBuffer.empty[Double]
      val recalls = mutable.ArrayBuffer.empty[Double]
      loop(ctx) { i =>
        val b = batches(i % batches.length)
        val (s, got) = timed(ctx.tracer.span[Array[(Long, Long)]]("batch")(search(ctx, idx, b)))
        secs += s
        recalls += checkAnswers(ctx, got, b.map(q => q._1 -> truth(q._1)).toMap, g => g >= 0 && g < n)
      }
      recordStore(ctx, idx, n)
      dropIndex(ctx, idx)
      Outcome("batch", secs.toSeq, QueryBatch.toDouble, recalls.sum / recalls.size)
    }
  }

  // ---- lifecycle ------------------------------------------------------------

  def lifecycle(ctx: Ctx): () => Outcome = {
    val spark = ctx.spark
    val idx = newIndex(ctx, "lifecycle")
    val maint = new Maintenance(idx)
    // gid -> vector of every live row, kept in step with the index
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
    var nextVec = 0L
    def ingest(count: Int): Array[(Long, Array[Float])] = {
      val rows = Corpus.vectors(ctx.seed, nextVec, count)
      val gid0 = idx.manifest.nextGid
      rows.indices.foreach(i => live(gid0 + i) = rows(i)._2)
      nextVec += count
      rows
    }
    // four sealed segments and a half-full ACTIVE tail
    idx.addAll(Corpus.vectorsDf(spark, ingest(SegmentCap * Segments + SegmentCap / 2)), "embedding", "vec_id")
    idx.sealPending()
    Main.log("index built")
    var rows = checkStore(ctx, idx)
    val rnd = new Random(ctx.seed * 7919L + 17L)
    val clock0 = System.currentTimeMillis()

    () => {
      val secs = mutable.ArrayBuffer.empty[Double]
      val recalls = mutable.ArrayBuffer.empty[Double]
      var items = 0.0
      loop(ctx) { r =>
        // the round's inputs, drawn before its clock starts: the batch to
        // ingest, the seeded delete slice (60% of the oldest sealed
        // segment's live rows, 15% of the next one's) and the queries
        val add = ingest(RoundIngest)
        val addDf = Corpus.vectorsDf(spark, add)
        val oldest = idx.manifest.segments
          .filter(s => s.state == SegmentState.Sealed && s.count > 0).map(_.segId).sorted.take(2)
        val bySeg = rows.groupBy(_._1)
        val slice = oldest.zip(Seq(0.6, 0.15)).flatMap { case (seg, share) =>
          val gids = bySeg.getOrElse(seg, Array.empty[(Int, Long)]).map(_._2).sorted
          rnd.shuffle(gids.toSeq).take((gids.length * share).toInt)
        }
        val qs = Corpus.queries(ctx.seed, r.toLong * RoundQueries, RoundQueries)
        // a logical clock two vacuum cooldowns further on every round
        val nowMs = clock0 + (r + 1) * 2 * maint.policy.vacuumCooldownMs
        val dir = idx.store.path
        val (s, got) = timed(ctx.tracer.span[Array[(Long, Long)]]("round") {
          ctx.storeCall("ingest", dir, (_: Manifest) => Map("rows" -> add.length.toDouble))(
            idx.addAll(addDf, "embedding", "vec_id"))
          val sealed0 = sealedCount(ctx, idx)
          ctx.storeCall("seal", dir, (_: Manifest) =>
            Map("segments" -> (sealedCount(ctx, idx) - sealed0).toDouble))(idx.sealPending())
          ctx.storeCall("delete", dir, (_: Manifest) => Map("rows" -> slice.length.toDouble))(idx.delete(slice))
          val answers = search(ctx, idx, qs)
          val rows0 = totalRows(ctx, idx)
          ctx.storeCall("sweep", dir, (res: (Seq[Int], Int)) => Map(
            "vacuumed" -> res._1.size.toDouble, "compactions" -> res._2.toDouble,
            "rows_removed" -> (rows0 - totalRows(ctx, idx)).toDouble))(maint.sweep(nowMs))
          answers
        })
        secs += s
        items += add.length + slice.length + qs.length
        // checks, outside the round's clock
        val deleted = slice.toSet
        val truth = Corpus.truth(live.iterator.filterNot(kv => deleted(kv._1)).toArray, qs, K)
        recalls += checkAnswers(ctx, got, truth, g => live.contains(g) && !deleted(g))
        slice.foreach(live.remove)
        rows = checkStore(ctx, idx)
        ctx.check(rows.length == live.size, s"vectors table has ${rows.length} live rows, expected ${live.size}")
      }
      recordStore(ctx, idx, live.size.toLong)
      dropIndex(ctx, idx)
      Outcome("round", secs.toSeq, items / secs.size, recalls.sum / recalls.size)
    }
  }

  // ---- pipeline -------------------------------------------------------------

  val Gates: Seq[String] = Seq("graph_betweenness", "graph_eccentricity", "graph_lpa",
    "graph_pagerank", "graph_kcore", "dedup_clusters", "dedup_minhash")

  def pipeline(ctx: Ctx): () => Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/pipeline-tables"
    Corpus.writePipelineTables(spark, dir)
    Seq("orders", "lineitem", "documents").foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    val recorded = Digests.load(s"${ctx.benchDir}/digests.json")
    val order = new Random(ctx.seed).shuffle(Gates)

    () => {
      val secs = mutable.ArrayBuffer.empty[Double]
      var matched = 0
      var checked = 0
      loop(ctx) { _ =>
        secs += timed(ctx.tracer.span("pass") {
          order.foreach { g =>
            val (rows, sha) = ctx.tracer.span[(Long, String)](s"gate:$g", r => Map("rows" -> r._1.toDouble))(
              ctx.call(Corpus.digest(graft.SparkEntry.queries(g)(spark, dir))))
            val ok = recorded.get(g).contains(s"$rows:$sha")
            ctx.check(ok, s"$g digest $rows:$sha != recorded ${recorded.getOrElse(g, "(none)")}")
            checked += 1
            if (ok) matched += 1
          }
        })._1
      }
      Outcome("pass", secs.toSeq, Gates.size.toDouble, matched.toDouble / checked)
    }
  }

  /** Writes every gate's digest for the fixed pipeline tables, and the
    * gate outputs with their oracle SQL for a DuckDB cross-check. */
  def recordDigests(spark: SparkSession, out: String): Unit = {
    val dir = s"$out/tables"
    Corpus.writePipelineTables(spark, dir)
    val lines = Gates.map { g =>
      val df = graft.SparkEntry.queries(g)(spark, dir)
      df.write.mode("overwrite").parquet(s"$out/outputs/$g")
      val (rows, sha) = Corpus.digest(df)
      s"  ${Json.str(g)}: ${Json.str(s"$rows:$sha")}"
    }
    Files.writeString(Paths.get(s"$out/digests.json"), lines.mkString("{\n", ",\n", "\n}\n"))
    val sql = Gates.map(g => s"  ${Json.str(g)}: ${Json.str(graft.SparkEntry.oracleSql(g))}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), sql.mkString("{\n", ",\n", "\n}\n"))
  }
}

object Digests {
  /** Reads the flat {"gate": "rows:sha"} file the digests are kept in. */
  def load(path: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}
