package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * Regime EQUIVALENCE for every iterative graph kernel: each algorithm
 * sizes its per-round join strategy off the node count
 * (`GraphAlgos.BroadcastRankMaxNodes` — rank tables broadcast under the
 * bound, hash-partitioned + shaped edges past it, the billion-node path),
 * and the kernels with a local arm run their whole loop in one task under
 * `GraphAlgos.LocalMaxRows` edge rows x seeds. The regimes are
 * independent implementations of the same integer fixed-point, so exact
 * result equality is a real invariant — and the partitioned arm otherwise
 * never executes on test fixtures (the r15 coverage gap analysis named
 * these arms explicitly).
 *
 * The broadcast and partitioned runs set the local bound to 0, so they
 * run the round-by-round plans; the partitioned run also forces the node
 * bound to 0 via -Dgraft.graph.broadcastRankMaxNodes. Both are restored.
 * The path-count, betweenness and stress tests keep their names from
 * before the local regime and compare all three regimes.
 */
class GraphRegimeParitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val edges: DataFrame = GraphRegimeParitySpec.edges(spark)

  private val Local = "local"
  private val Broadcast = "broadcast"
  private val Partitioned = "partitioned"
  /** The regimes of a kernel with a local arm. */
  private val All = Seq(Local, Broadcast, Partitioned)

  private def inRegime[T](regime: String)(body: => T): T = {
    val key = "graft.graph.broadcastRankMaxNodes"
    val prev = sys.props.get(key)
    val localMax = GraphAlgos.LocalMaxRows
    try {
      if (regime == Partitioned) sys.props(key) = "0" else sys.props -= key
      if (regime != Local) GraphAlgos.LocalMaxRows = 0L
      body
    } finally {
      GraphAlgos.LocalMaxRows = localMax
      prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props -= key
      }
    }
  }

  /** Rows of one run, after checking that the run released everything it
    * persisted or checkpointed except the frame it returns. */
  private def rowsOf(name: String, regime: String)(run: => DataFrame): Seq[Seq[Any]] =
    inRegime(regime) {
      // new ids only: a GC may clean older RDDs mid-run
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rows = run.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val left = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      assert(left <= 1, s"$name ($regime) left $left persisted RDDs")
      rows
    }

  private def assertSameResult(name: String, regimes: Seq[String] = Seq(Broadcast, Partitioned))(
      run: => DataFrame): Unit = {
    val results = regimes.map(r => r -> rowsOf(name, r)(run))
    val (first, firstRows) = results.head
    results.tail.foreach { case (regime, rows) =>
      assert(firstRows.length == rows.length,
        s"$name: row count differs between $first and $regime")
      firstRows.zip(rows).foreach { case (a, b) =>
        assert(a == b, s"$name: $first and $regime disagree: $a vs $b")
      }
    }
    assert(firstRows.nonEmpty, s"$name: empty result")
  }

  test("PageRank: partitioned regime matches broadcast exactly") {
    assertSameResult("pageRankFixedPoint") {
      GraphAlgos.pageRankFixedPoint(edges, iterations = 3)
    }
  }

  test("weighted PageRank: partitioned regime matches broadcast exactly") {
    assertSameResult("pageRankWeighted") {
      GraphAlgos.pageRankWeighted(edges, iterations = 3)
    }
  }

  test("personalized PageRank: partitioned regime matches broadcast exactly") {
    assertSameResult("personalizedPageRank") {
      GraphAlgos.personalizedPageRank(edges, sources = Seq(0L, 30L), iterations = 3)
    }
  }

  test("k-core peel: partitioned regime matches broadcast exactly") {
    assertSameResult("kCorePeel") {
      GraphAlgos.kCorePeel(GraphAlgos.symmetrize(edges), k = 3, rounds = 6)
    }
  }

  test("HITS: partitioned regime matches broadcast exactly") {
    assertSameResult("hitsFixedRounds") {
      GraphAlgos.hitsFixedRounds(edges, rounds = 2)
    }
  }

  test("multi-source BFS: partitioned regime matches broadcast exactly") {
    assertSameResult("multiSourceDistances") {
      GraphAlgos.multiSourceDistances(edges, sources = Seq(0L, 35L), rounds = 5)
    }
  }

  test("per-source distances: partitioned regime matches broadcast exactly") {
    assertSameResult("kBoundedCloseness") {
      GraphAlgos.kBoundedCloseness(edges, sources = Seq(0L, 30L), rounds = 4)
    }
  }

  test("path counts: partitioned regime matches broadcast exactly") {
    assertSameResult("shortestPathCounts", All) {
      GraphAlgos.shortestPathCounts(edges, sources = Seq(0L), rounds = 4)
    }
  }

  /** The fixtures on which a careless local arm would diverge: an edge
    * list with one duplicated edge (each copy joins, so σ doubles along
    * it), a seed that is not a node and one listed twice (two dist-0
    * rows, σ = 2 pushed), and an edge with a null end. */
  private def dupEdge(e: DataFrame): DataFrame = {
    import spark.implicits._
    e.select(col("src"), col("dst")).unionByName(Seq((0L, 1L)).toDF("src", "dst"))
  }
  private def nullEnd(e: DataFrame): DataFrame = {
    import spark.implicits._
    e.select(col("src"), col("dst"))
      .unionByName(Seq[(Long, Option[Long])]((3L, None), (4L, None)).toDF("src", "dst"))
  }
  private val oddSeeds = Seq(0L, 999L, 30L, 30L)

  test("path counts: the regimes agree on a duplicated edge, odd seeds and a null end") {
    assertSameResult("shortestPathCounts dupEdge", All) {
      GraphAlgos.shortestPathCounts(dupEdge(edges), oddSeeds, rounds = 4)
    }
    assertSameResult("shortestPathCounts nullEnd", All) {
      GraphAlgos.shortestPathCounts(nullEnd(edges), oddSeeds, rounds = 4)
    }
  }

  test("Katz centrality: partitioned regime matches broadcast exactly") {
    assertSameResult("katzCentrality") {
      GraphAlgos.katzCentrality(edges, rounds = 3, base = 1000000L)
    }
  }

  test("weighted SSSP: partitioned regime matches broadcast exactly") {
    assertSameResult("weightedSssp") {
      GraphAlgos.weightedSssp(edges, source = 0L, rounds = 6)
    }
  }

  test("label propagation: partitioned regime matches broadcast exactly") {
    assertSameResult("labelPropagation") {
      GraphAlgos.labelPropagation(GraphAlgos.symmetrize(edges), rounds = 4)
    }
  }

  test("k-core percentile peel: partitioned regime matches broadcast exactly") {
    assertSameResult("kCorePeelAtPercentile") {
      GraphAlgos.kCorePeelAtPercentile(GraphAlgos.symmetrize(edges), pct = 0.3, rounds = 4)
    }
  }

  test("betweenness: partitioned regime matches broadcast exactly") {
    assertSameResult("betweennessCentrality", All) {
      GraphAlgos.betweennessCentrality(GraphAlgos.symmetrize(edges),
        sources = Seq(0L, 30L), rounds = 4)
    }
    assertSameResult("betweennessCentrality dupEdge", All) {
      GraphAlgos.betweennessCentrality(dupEdge(GraphAlgos.symmetrize(edges)), oddSeeds, rounds = 4)
    }
    assertSameResult("betweennessCentrality nullEnd", All) {
      GraphAlgos.betweennessCentrality(nullEnd(GraphAlgos.symmetrize(edges)), oddSeeds, rounds = 4)
    }
  }

  test("stress: partitioned regime matches broadcast exactly") {
    assertSameResult("stressCentrality", All) {
      GraphAlgos.stressCentrality(GraphAlgos.symmetrize(edges),
        sources = Seq(0L, 30L), rounds = 4)
    }
    assertSameResult("stressCentrality dupEdge", All) {
      GraphAlgos.stressCentrality(dupEdge(GraphAlgos.symmetrize(edges)), oddSeeds, rounds = 4)
    }
    assertSameResult("stressCentrality nullEnd", All) {
      GraphAlgos.stressCentrality(nullEnd(GraphAlgos.symmetrize(edges)), oddSeeds, rounds = 4)
    }
  }

  test("duplicate clusters: local, broadcast and partitioned regimes agree exactly") {
    import spark.implicits._
    // the fixture's one big component plus two chains and a pair apart
    // from it, a duplicated pair and a pair with a null end
    val pairs = edges.select(col("src").as("doc_a"), col("dst").as("doc_b"))
      .unionByName(((100L until 120L).map(i => (i, i + 1)) ++ (200L until 205L).map(i => (i + 1, i)) ++
        Seq((300L, 301L), (300L, 301L))).toDF("doc_a", "doc_b"))
    assertSameResult("duplicateClusters", All) {
      Dedup.duplicateClusters(pairs)
    }
    assertSameResult("duplicateClusters nullEnd", All) {
      Dedup.duplicateClusters(pairs.unionByName(
        Seq[(Option[Long], Option[Long])]((Some(7L), None), (None, Some(120L))).toDF("doc_a", "doc_b")))
    }
  }

  test("hash walks: partitioned regime matches broadcast exactly") {
    assertSameResult("hashWalks") {
      GraphAlgos.hashWalks(GraphAlgos.symmetrize(edges), sources = Seq(0L, 5L, 31L), steps = 4)
    }
  }

  test("jaccard link prediction: partitioned regime matches broadcast exactly") {
    assertSameResult("jaccardLinkPredictions") {
      GraphAlgos.jaccardLinkPredictions(
        GraphAlgos.symmetrize(edges)
          .select(col("src").as("a"), col("dst").as("b")),
        maxCenterDegree = 50, minShared = 1, topK = 5)
    }
  }

  test("kCorePeelAtPercentile rejects out-of-range pct (both ends)") {
    intercept[IllegalArgumentException] {
      GraphAlgos.kCorePeelAtPercentile(edges, pct = 0.0, rounds = 2)
    }
    intercept[IllegalArgumentException] {
      GraphAlgos.kCorePeelAtPercentile(edges, pct = 1.0, rounds = 2)
    }
  }
}

object GraphRegimeParitySpec {

  /** Deterministic scale-free-ish digraph: 40 nodes, hub 0, a chain, a
    * clique, and pseudo-random extra edges — shapes that exercise
    * frontier growth, ties, and degree skew. */
  def edges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val chain = (0L until 39L).map(i => (i, i + 1))
    val hub = (1L until 20L).map(i => (0L, i))
    val clique = for (a <- 30L until 35L; b <- 30L until 35L if a != b) yield (a, b)
    val extra = (0 until 40).map { i =>
      val s = (i * 17L) % 40; val d = (i * 29L + 7L) % 40
      (s, if (d == s) (d + 1) % 40 else d)
    }
    (chain ++ hub ++ clique ++ extra).distinct
      .toDF("src", "dst")
      .withColumn("w", (col("src") * 7 + col("dst") * 3) % 9 + 1)
  }
}
