package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * Broadcast-vs-partitioned regime EQUIVALENCE for every iterative graph
 * kernel: each algorithm sizes its per-round join strategy off the node
 * count (`GraphAlgos.BroadcastRankMaxNodes` — rank tables broadcast
 * under the bound, hash-partitioned + shaped edges past it, the
 * billion-node path). The two regimes are independent physical plans of
 * the same integer fixed-point, so exact result equality is a real
 * invariant — and the partitioned arm otherwise never executes on test
 * fixtures (the r15 coverage gap analysis named these arms explicitly).
 *
 * The bound is forced to 0 via -Dgraft.graph.broadcastRankMaxNodes for
 * the partitioned run, then restored.
 */
class GraphRegimeParitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val edges: DataFrame = GraphRegimeParitySpec.edges(spark)

  private def inRegime[T](partitioned: Boolean)(body: => T): T = {
    val key = "graft.graph.broadcastRankMaxNodes"
    val prev = sys.props.get(key)
    try {
      if (partitioned) sys.props(key) = "0" else sys.props -= key
      body
    } finally {
      prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props -= key
      }
    }
  }

  /** Rows of one run, after checking that the run released everything it
    * persisted or checkpointed except the frame it returns. */
  private def rowsOf(name: String, partitioned: Boolean)(run: => DataFrame): Seq[Seq[Any]] =
    inRegime(partitioned) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val rows = run.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val left = spark.sparkContext.getPersistentRDDs.size - before
      assert(left <= 1, s"$name (partitioned = $partitioned) left $left persisted RDDs")
      rows
    }

  private def assertSameResult(name: String)(run: => DataFrame): Unit = {
    val broadcastRows = rowsOf(name, partitioned = false)(run)
    val partitionedRows = rowsOf(name, partitioned = true)(run)
    assert(broadcastRows.length == partitionedRows.length,
      s"$name: row count differs between regimes")
    broadcastRows.zip(partitionedRows).foreach { case (a, b) =>
      assert(a == b, s"$name: regimes disagree: $a vs $b")
    }
    assert(broadcastRows.nonEmpty, s"$name: empty result")
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
    assertSameResult("shortestPathCounts") {
      GraphAlgos.shortestPathCounts(edges, sources = Seq(0L), rounds = 4)
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
    assertSameResult("betweennessCentrality") {
      GraphAlgos.betweennessCentrality(GraphAlgos.symmetrize(edges),
        sources = Seq(0L, 30L), rounds = 4)
    }
  }

  test("stress: partitioned regime matches broadcast exactly") {
    assertSameResult("stressCentrality") {
      GraphAlgos.stressCentrality(GraphAlgos.symmetrize(edges),
        sources = Seq(0L, 30L), rounds = 4)
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
