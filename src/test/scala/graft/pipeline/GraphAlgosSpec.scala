package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GraphAlgosSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("symmetrize yields both orientations, distinct") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val sym = GraphAlgos.symmetrize(e).as[(Long, Long)].collect().toSet
    assert(sym === Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("fixed-point PageRank matches a hand-rolled reference on a small graph") {
    // 4-node undirected path 0-1-2-3 plus chord 1-3: degrees 1,3,2,2.
    val undirected = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 3L))
    val edges = GraphAlgos.symmetrize(undirected.toDF("src", "dst"))
    val got = GraphAlgos.pageRankFixedPoint(edges, iterations = 3, tot = 1000000L)
      .as[(Long, Long)].collect().toMap

    // Same fixed-point recurrence on the driver.
    val adj = (undirected ++ undirected.map(_.swap)).groupMap(_._1)(_._2)
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val n = adj.size
    val r0 = 1000000L / n
    val base = (15L * r0) / 100L
    var r = adj.keys.map(_ -> r0).toMap
    for (_ <- 1 to 3) {
      val contrib = r.map { case (u, ru) => u -> (85L * ru) / (100L * deg(u)) }
      r = adj.keys.map { v =>
        // iterator, not .keys.map: a Set would dedup equal contributions
        v -> (base + adj.iterator.filter(_._2.contains(v))
          .map(kv => contrib(kv._1)).sum)
      }.toMap
    }
    assert(got === r)
    // the high-degree node must rank first
    assert(got.maxBy(_._2)._1 === 1L)
  }

  test("PageRank mass is conserved up to floor-division loss") {
    val edges = GraphAlgos.symmetrize(
      Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")) // 3-cycle, deg 2 each
    val ranks = GraphAlgos.pageRankFixedPoint(edges, iterations = 2, tot = 999999L)
      .as[(Long, Long)].collect()
    val tot = ranks.map(_._2).sum
    // total ≤ tot, and within the per-node flooring slack of it
    assert(tot <= 999999L && tot > 999999L - 3 * 100)
    // symmetric graph → identical ranks
    assert(ranks.map(_._2).distinct.length === 1)
  }

  test("per-iteration plans are hash joins — never nested-loop or cartesian") {
    // the public queries checkpoint each round (plan collapses to a
    // LogicalRDD scan), so pin the lazy step builders directly
    val e = GraphAlgos.symmetrize(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
      .select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("node")).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("deg_node"), col("deg"))
    // state carries deg since r16 (one-time init join, no per-round build)
    val ranks = nodes.join(deg, col("node") === col("deg_node"), "left")
      .select(col("node"), col("deg"), lit(1000L).as("rank_fp"))
    val stepPlan = GraphAlgos.pageRankStep(e, ranks, 10L, 85L, 100L)
      .queryExecution.executedPlan.toString
    assert(!stepPlan.contains("BroadcastNestedLoopJoin") &&
      !stepPlan.contains("CartesianProduct"), stepPlan)

    // wedgeClose is eager since r16 (the triangle set feeds three credit
    // legs and is checkpointed once) — pin the lazy close stage instead
    val triPlan = GraphAlgos.closedWedges(GraphAlgos.orientByDegree(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")))
      .queryExecution.executedPlan.toString
    assert(!triPlan.contains("BroadcastNestedLoopJoin") &&
      !triPlan.contains("CartesianProduct"), triPlan)
  }

  test("k-core / LPA / HITS step plans: node-sized side broadcasts under the bound, no cartesian") {
    val e = GraphAlgos.symmetrize(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
      .select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("node")).distinct()

    val peel = GraphAlgos.survivingDegStep(e, nodes, broadcastAlive = true)
      .queryExecution.executedPlan.toString
    // both endpoint filters must be broadcast SEMI joins — the edge leg
    // never shuffles for an alive-set filter
    assert(peel.contains("BroadcastHashJoin") && peel.contains("LeftSemi"), peel)
    assert(!peel.contains("BroadcastNestedLoopJoin") &&
      !peel.contains("CartesianProduct"), peel)

    val labels = nodes.withColumn("label", col("node"))
    val lpa = GraphAlgos.lpaStep(e, labels, broadcastLabels = true)
      .queryExecution.executedPlan.toString
    assert(lpa.contains("BroadcastHashJoin"), lpa)
    // the argmax must be the two-level aggregation, not a window sort
    assert(!lpa.contains("Window"), s"LPA argmax must not be a window:\n$lpa")
    assert(!lpa.contains("BroadcastNestedLoopJoin") &&
      !lpa.contains("CartesianProduct"), lpa)

    val hubT = nodes.select(col("node"), lit(1L).as("hub"))
    val authT = nodes.select(col("node"), lit(1L).as("auth"))
    val hits = GraphAlgos.hitsAuthStep(e, hubT, broadcastScores = true)
      .queryExecution.executedPlan.toString +
      GraphAlgos.hitsHubStep(e, authT, broadcastScores = true)
        .queryExecution.executedPlan.toString
    assert(hits.contains("BroadcastHashJoin"), hits)
    assert(!hits.contains("BroadcastNestedLoopJoin") &&
      !hits.contains("CartesianProduct"), hits)
  }

  test("partitioned regime: pre-shaped edges join with NO exchange and NO sort on the edge leg") {
    import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
    // the EDGE LEG proper: a narrow-op path (project/filter/sort) down
    // to the edge scan — exchanges above joins/aggregations that merely
    // CONTAIN the scan (the legitimate node-sized dst shuffle) don't
    // count
    def isEdgeLeg(p: SparkPlan): Boolean = p match {
      case r: RDDScanExec => r.output.map(_.name) == Seq("src", "dst")
      case pr: ProjectExec => isEdgeLeg(pr.child)
      case f: FilterExec => isEdgeLeg(f.child)
      case s: SortExec => isEdgeLeg(s.child)
      case _ => false
    }
    def edgeLegOffenders(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case x: ShuffleExchangeExec if isEdgeLeg(x.child) => x
        case s: SortExec if isEdgeLeg(s.child) => s
      }
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = GraphAlgos.symmetrize(Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst"))
      val nodes = e.select(col("src").as("node")).distinct()
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("deg_node"), col("deg"))
      val ranks = nodes.join(deg, col("node") === col("deg_node"), "left")
        .select(col("node"), col("deg"), lit(1000L).as("rank_fp"))
      // the production shaping: hash-partitioned + sorted by src, layout
      // carried through the checkpoint — rounds >= 1 must reuse it
      val shaped = GraphAlgos.shapeEdges(e)
      val step = GraphAlgos.pageRankStep(shaped, ranks, 10L, 85L, 100L)
      assert(edgeLegOffenders(step).isEmpty,
        s"edge leg re-exchanged or re-sorted:\n${step.queryExecution.executedPlan}")
      // negative control: an UNSHAPED checkpoint of the same edges must
      // show the per-round exchange this layout eliminates
      val unshaped = e.localCheckpoint()
      val ctrl = GraphAlgos.pageRankStep(unshaped, ranks, 10L, 85L, 100L)
      assert(edgeLegOffenders(ctrl).nonEmpty,
        "control lost its exchange — the pin no longer distinguishes the layouts")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("triangleCounts: K4 has 4 triangles, every node in 3; square has none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = GraphAlgos.triangleCounts(k4.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(GraphAlgos.triangleCounts(square.toDF("a", "b")).count() === 0L)
  }

  test("degree orientation: a hub star generates ZERO wedges; attached triangle still found") {
    // K1,40: id-orientation at hub 0 would enumerate C(40,2)=780 wedges
    // for zero triangles; degree orientation points every edge INTO the
    // hub (leaf deg 1 < hub deg 40), so out-degrees are all ≤ 1
    val star = (1L to 40L).map(i => (0L, i))
    val o = GraphAlgos.orientByDegree(star.toDF("a", "b"))
    val wedges = o.select(col("src"), col("dst").as("x"), col("dd").as("dx"))
      .join(o.select(col("src"), col("dst").as("y"), col("dd").as("dy")), "src")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    assert(wedges.count() === 0L)
    // star + one disjoint triangle: exactly that triangle, star clean
    val withTri = star ++ Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val got = GraphAlgos.triangleCounts(withTri.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(100L -> 1L, 101L -> 1L, 102L -> 1L))
  }

  test("close plan: merge-walk kernel present; adjacency broadcasts under the edge bound") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val o = GraphAlgos.orientByDegree(
      edges.select(col("a").cast("long"), col("b").cast("long")))
      .select(col("src"), col("dst"))
    // the lazy close stage (wedgeClose itself is eager since r16 — its
    // checkpointed output plan is just a LogicalRDD scan)
    val pb = GraphAlgos.closedWedges(o, broadcastAdj = true)
      .queryExecution.executedPlan.toString
    assert(pb.contains("sorted_intersect"), s"close must use the merge-walk kernel:\n$pb")
    assert(pb.contains("BroadcastHashJoin"), s"adjacency must broadcast when under the bound:\n$pb")
    // (no negative pin for broadcastAdj = false: Catalyst may still
    // choose broadcast from its own statistics at fixture scale —
    // the flag only adds the hint, it never forbids the optimizer)
  }

  test("k-core peel: pendant tail cascades off, the clique core survives with exact degrees") {
    // K4 clique {0,1,2,3} + pendant path 0-4-5: k=3 drops 5 (deg 1),
    // then 4 (deg 2, then 1), never the clique (deg ≥ 3 throughout)
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (0L, 4L), (4L, 5L))
    val edges = GraphAlgos.symmetrize(undirected.toDF("src", "dst"))
    val got = GraphAlgos.kCorePeel(edges, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // extra rounds past the fixpoint change nothing (idempotent tail)
    val more = GraphAlgos.kCorePeel(edges, k = 3, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(more === got)
    // k above the max degree empties the graph
    assert(GraphAlgos.kCorePeel(edges, k = 10, rounds = 2).count() === 0L)
  }

  test("k-core percentile threshold: bin-cumsum k-th-smallest matches the sorted position") {
    // degrees: node 0 -> 4, node 1..3 -> 3, 4 -> 2, 5 -> 1 (prev fixture)
    // ascending degree sequence (1,2,3,3,3,4): pos=ceil(0.5*6)=3 -> k=3
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (0L, 4L), (4L, 5L))
    val edges = GraphAlgos.symmetrize(undirected.toDF("src", "dst"))
    val got = GraphAlgos.kCorePeelAtPercentile(edges, pct = 0.5, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === GraphAlgos.kCorePeel(edges, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap)
  }

  test("HITS: two integer rounds match the hand replay on a directed bipartite graph") {
    // 1→10, 2→10, 2→11, 3→11: pure hubs {1,2,3}, pure authorities {10,11}
    // round 1: auth(10)=auth(11)=2; hub = (2, 4, 2)
    // round 2: auth(10)=auth(11)=6; hub = (6, 12, 6) — node 2 pulls ahead
    // only once neighbors are weighted (degree alone ties it at 2x1)
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)).toDF("src", "dst")
    val got = GraphAlgos.hitsFixedRounds(e, rounds = 2)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got === Map(
      1L -> ((6L, 0L)), 2L -> ((12L, 0L)), 3L -> ((6L, 0L)),
      10L -> ((0L, 6L)), 11L -> ((0L, 6L))))
  }

  test("link prediction: cycle diagonals score 1.0; the hub cap removes hub-only candidates") {
    // 4-cycle 1-2-3-4: the two diagonals (1,3) and (2,4) share both
    // neighbors -> jaccard 2/(2+2-2) = 1.0; no other candidates
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val got = GraphAlgos.jaccardLinkPredictions(cycle,
        maxCenterDegree = 10, minShared = 2, topK = 10)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))

    // star 0-{1..5} + edge (1,2): leaf pairs are candidates only via
    // the hub; capping the hub's degree out removes them all
    val star = ((1L to 5L).map(i => (0L, i)) :+ (1L, 2L)).toDF("a", "b")
    val uncapped = GraphAlgos.jaccardLinkPredictions(star,
      maxCenterDegree = 10, minShared = 1, topK = 100).count()
    val capped = GraphAlgos.jaccardLinkPredictions(star,
      maxCenterDegree = 3, minShared = 1, topK = 100).count()
    assert(uncapped > 0L)
    assert(capped === 0L, "hub-only candidates must vanish under the degree cap")
  }

  test("weighted PageRank: mass follows edge weights; driver replay matches bit-for-bit") {
    // star: center 0 — weight 9 to node 1, weight 1 to node 2
    // (symmetrized). Unweighted PR ranks 1 and 2 equally; weighted
    // sends 9x the mass toward 1.
    val edges = Seq((0L, 1L, 9L), (1L, 0L, 9L), (0L, 2L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val tot = 1000000L
    val got = GraphAlgos.pageRankWeighted(edges, iterations = 2, tot = tot)
      .as[(Long, Long)].collect().toMap

    // same recurrence on the driver
    val adj = Map(0L -> Seq((1L, 9L), (2L, 1L)), 1L -> Seq((0L, 9L)), 2L -> Seq((0L, 1L)))
    val ow = adj.view.mapValues(_.map(_._2).sum).toMap
    val r0 = tot / 3
    val base = (15L * r0) / 100L
    var r = Map(0L -> r0, 1L -> r0, 2L -> r0)
    for (_ <- 1 to 2) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      adj.foreach { case (u, outs) =>
        outs.foreach { case (v, w) =>
          in(v) += (85L * r(u) * w) / (100L * ow(u))
        }
      }
      r = r.keys.map(v => v -> (base + in(v))).toMap
    }
    assert(got === r)
    assert(got(1L) > got(2L), "the heavy edge must attract more mass")
    // non-positive weights must be rejected loudly — a zero weight
    // would make some out-weight sum 0 and the per-edge division NULL,
    // silently dropping that node's entire outbound mass
    val bad = Seq((0L, 1L, 1L), (1L, 0L, 0L)).toDF("src", "dst", "w")
    val err = intercept[IllegalArgumentException] {
      GraphAlgos.pageRankWeighted(bad, iterations = 1)
    }
    assert(err.getMessage.contains("positive"))
  }

  test("resource-allocation link score: integer fixed-point matches the hand replay") {
    // 4-cycle 1-2-3-4 plus chord center 5 adjacent to 1 and 3:
    // pair (1,3) shares {2, 4, 5} with degrees 2, 2, 2 -> ra = 3·(s/2);
    // pair (2,4) shares {1, 3} (deg 3 each) -> ra = 2·(s/3)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 5L), (3L, 5L))
      .toDF("a", "b")
    val s = 1000000000000L
    val got = GraphAlgos.resourceAllocationLinkPredictions(e,
        maxCenterDegree = 10, minShared = 1, topK = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, 3L)) === ((3L, 3 * (s / 2))))
    assert(got((2L, 4L)) === ((2L, 2 * (s / 3))))
    // degree-reciprocal weighting ranks (1,3) above (2,4) — count alone
    // would too here, but the fixed-point values pin the 1/deg math
    assert(got((1L, 3L))._2 > got((2L, 4L))._2)
  }

  test("multi-source BFS: nearest-seed hop distances, bounded reach, disconnected stay absent") {
    // path 0-1-2-3-4-5 plus disconnected pair 100-101; seeds {0, 5}
    val e = GraphAlgos.symmetrize(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (100L, 101L)).toDF("src", "dst"))
    val got = GraphAlgos.multiSourceDistances(e, sources = Seq(0L, 5L), rounds = 3)
      .as[(Long, Long)].collect().toMap
    // nearest seed wins: node 2 is 2 from seed 0 (3 from seed 5); 3 is 2 from 5
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // bounded rounds bound the reach: one round from seed 0 alone
    val one = GraphAlgos.multiSourceDistances(e, sources = Seq(0L), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one === Map(0L -> 0L, 1L -> 1L))
  }

  test("label propagation: components converge to their min label; ties break to smallest") {
    // two disjoint triangles: sync rounds -> everyone adopts the
    // component minimum within 3 rounds (round 1 puts the min on two
    // nodes, round 2 spreads it, round 3 is stable)
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = GraphAlgos.symmetrize(tri.toDF("src", "dst"))
    val got = GraphAlgos.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // determinism: same input, same labels
    val again = GraphAlgos.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(again === got)
    // directed fixture: tie-breaks go to the smallest label, and
    // sink nodes (no in-edges) keep their own label via the coalesce
    val directed = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (2L, 101L), (3L, 101L)).toDF("src", "dst")
    val one = GraphAlgos.labelPropagation(directed, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(100L) === 1L) // in-labels {1,2,3} all cnt=1 -> min
    assert(one(101L) === 2L) // in-labels {2,3} tie -> min = 2
    assert(one(1L) === 1L && one(2L) === 2L && one(3L) === 3L) // sinks hold
  }

  test("path counts: diamond multiplicities, per-seed identity, no longer-walk leakage") {
    // diamond 1-2-4, 1-3-4 plus tail 4-5; seeds {1, 5}; seed 99 absent
    val e = GraphAlgos.symmetrize(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst"))
    val got = GraphAlgos.shortestPathCounts(e, sources = Seq(1L, 5L, 99L), rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (s, n, d, sg) => (s, n) -> ((d, sg)) }.toMap
    // from 1: two shortest paths reach 4 (via 2 and via 3); 5 gets both
    assert(got((1L, 1L)) === ((0L, 1L)) && got((1L, 2L)) === ((1L, 1L)))
    assert(got((1L, 4L)) === ((2L, 2L)), "diamond must double sigma")
    assert(got((1L, 5L)) === ((3L, 2L)), "sigma propagates through the tail")
    // from 5: the diamond in reverse — 2 and 3 at dist 2 (sigma 1 each),
    // 1 at dist 3 with sigma 2
    assert(got((5L, 4L)) === ((1L, 1L)) && got((5L, 1L)) === ((3L, 2L)))
    // the walk 1->2->4->3 must NOT register 3 at dist 3 (settled at 1)
    assert(got((1L, 3L)) === ((1L, 1L)))
    // absent seed dropped entirely
    assert(!got.keys.exists(_._1 == 99L))
  }

  test("star CC: components get min-id labels on paths, cliques and crossing chains") {
    // component A: path 5-9-3-7 (min 3); component B: triangle 10-11-12;
    // component C: single edge 100-101; input directed/duplicated edges
    val e = Seq((5L, 9L), (9L, 5L), (9L, 3L), (3L, 7L),
      (10L, 11L), (11L, 12L), (12L, 10L), (100L, 101L)).toDF("src", "dst")
    val got = GraphAlgos.connectedComponentsStar(e)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(5L -> 3L, 9L -> 3L, 3L -> 3L, 7L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 100L -> 100L, 101L -> 100L))
  }

  test("star CC: long chain with adversarial (descending) ids converges in few rounds") {
    // a 200-link chain whose ids DESCEND along the path — the label-
    // propagation worst case; star rewriting must still converge inside
    // the default 30-round budget (O(log^2 n))
    val chain = (0L until 200L).map(i => (200L - i, 199L - i)).toDF("src", "dst")
    val got = GraphAlgos.connectedComponentsStar(chain)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 201 && got.values.forall(_ == 0L))
  }

  test("star CC: self-loops and an empty edge set are handled") {
    val e = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = GraphAlgos.connectedComponentsStar(e).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))
    val empty = GraphAlgos.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.isEmpty)
  }

  test("path counts: triangle — adjacent nodes settle at dist 1 and never re-enter") {
    val e = GraphAlgos.symmetrize(Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst"))
    val got = GraphAlgos.shortestPathCounts(e, sources = Seq(0L), rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (s, n, d, sg) => n -> ((d, sg)) }.toMap
    assert(got === Map(0L -> ((0L, 1L)), 1L -> ((1L, 1L)), 2L -> ((1L, 1L))))
  }

  test("katz: integer walk counts on a path graph match hand math") {
    // 0-1-2 undirected: walks1 = degree (1,2,1); walks2 = (2,2,2);
    // walks3 = (2,4,2); scaled: 64*w1 + 8*w2 + w3.
    val e = GraphAlgos.symmetrize(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"))
    val got = GraphAlgos.katzCentrality(e, rounds = 3, base = 8L)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 82L, 1L -> 148L, 2L -> 82L))
  }

  test("stress: path graph — interior nodes carry the path counts") {
    // 0-1-2-3: from seed 0, paths through 1 = {0->2, 0->3}, through 2
    // = {0->3}; endpoints never count as interior.
    val e = GraphAlgos.symmetrize(
      Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val got = GraphAlgos.stressCentrality(e, sources = Seq(0L), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 0L))
  }

  test("stress: diamond — sigma multiplies through parallel interiors") {
    // 0-1-3, 0-2-3: sigma(3) = 2, both interiors carry one path each.
    val e = GraphAlgos.symmetrize(
      Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst"))
    val got = GraphAlgos.stressCentrality(e, sources = Seq(0L), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  // ── wedge-class operators: cappedSupport / cappedWedgePairs / kTrussPeel ──

  private def k4PlusPendant = Seq(
    // K4 on {1,2,3,4}: every edge sits in exactly 2 triangles
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L)) // pendant: support 0

  test("cappedSupport: exact per-edge triangle counts, zero-support edges included") {
    val sup = GraphAlgos.cappedSupport(k4PlusPendant.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet
    assert(sup === Set(
      (1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L),
      (4L, 5L, 0L)))
  }

  test("cappedSupport: canonicalizes duplicates/orientations and drops self-loops") {
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (3L, 3L))
    val sup = GraphAlgos.cappedSupport(messy.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet
    assert(sup === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("cappedSupport: degree cap drops the hub and every edge touching it") {
    // star 0-{1..5} + chord 1-2. Uncapped: support(1,2) = 1 (via 0).
    val e = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (1L, 2L)))
      .toDF("src", "dst")
    val uncapped = GraphAlgos.cappedSupport(e)
      .as[(Long, Long, Long)].collect().toSet
    assert(uncapped.size === 6 && uncapped.contains((1L, 2L, 1L)))
    // hub degree 5 > cap 4 → hub gone; only the chord survives, support 0
    val capped = GraphAlgos.cappedSupport(e, degreeCap = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L, 0L)))
  }

  test("cappedWedgePairs: square diagonals close, adjacent pairs census too") {
    // 4-cycle 1-2-3-4-1: diagonals (1,3) and (2,4) each share 2 neighbors
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val pairs = GraphAlgos.cappedWedgePairs(e, minCommon = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L, 2L), (2L, 4L, 2L)))
    // minCommon = 1 also lists every wedge-adjacent pair once
    val all = GraphAlgos.cappedWedgePairs(e)
      .as[(Long, Long, Long)].collect().toSet
    assert(all === Set((1L, 3L, 2L), (2L, 4L, 2L)))
  }

  test("kTrussPeel: clique keeps, pendant edge and hanging triangle drop") {
    // K4 + pendant (4,5) + hanging triangle {5,6,7}: triangle edges have
    // support 1 < 2 → peel round 1 removes them and the pendant; K4 is
    // the 4-truss. A third round beyond the fixpoint changes nothing.
    val e = (k4PlusPendant ++ Seq((5L, 6L), (5L, 7L), (6L, 7L)))
      .toDF("src", "dst")
    val expected = Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L))
    val got2 = GraphAlgos.kTrussPeel(e, k = 4, rounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(got2 === expected)
    val got3 = GraphAlgos.kTrussPeel(e, k = 4, rounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(got3 === expected)
  }

  test("kTrussPeel: cascade — support recomputes on survivors each round") {
    // K4 whose edge (3,4) also supports a triangle {3,4,8}: round 1
    // drops (3,8),(4,8) (support 1); (3,4) keeps support 2 from the
    // clique, so K4 still survives — but a CHAIN of triangles
    // {1,2,9} hanging off edge (1,2) must not rescue (1,9),(2,9).
    val e = (k4PlusPendant ++ Seq((3L, 8L), (4L, 8L), (1L, 9L), (2L, 9L)))
      .toDF("src", "dst")
    val got = GraphAlgos.kTrussPeel(e, k = 4, rounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("kTrussPeel: degreeCap peels the hub before trussing (the production knob)") {
    // K4 + hub 9 wired to all four corners (hub degree 4, corners 4):
    // uncapped the whole thing is a 4-truss (support(9,i) = 3); with
    // degreeCap 3 the hub and its edges leave before the peel, the
    // corners' CAPPED degree is evaluated on the ORIGINAL graph, so a
    // cap of 3 also drops the corners — cap 4 keeps corners + hub.
    val hub = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))
    val e = (k4PlusPendant.take(6) ++ hub).toDF("src", "dst")
    val uncapped = GraphAlgos.kTrussPeel(e, k = 4, rounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size === 10) // K4 + all hub edges survive
    val capped = GraphAlgos.kTrussPeel(e, k = 4, rounds = 2, degreeCap = 3)
      .as[(Long, Long)].collect().toSet
    assert(capped === Set.empty[(Long, Long)]) // corners had degree 4 too
    // wire hub to only 3 corners: corners 1..3 degree 4, corner 4 degree
    // 3, hub degree 3 — cap 4 keeps everything, truss then re-includes
    // the hub triangles (support(9,i) = 2 among {1,2,3})
    val e2 = (k4PlusPendant.take(6) ++ hub.take(3)).toDF("src", "dst")
    val capped2 = GraphAlgos.kTrussPeel(e2, k = 4, rounds = 2, degreeCap = 4)
      .as[(Long, Long)].collect().toSet
    assert(capped2 === Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 9L), (2L, 9L), (3L, 9L)))
  }

  test("kCorePeelAtPercentile rejects a one-directional edge list") {
    // a directed triangle: every node has out-degree 1, but no edge has
    // its reverse — the src-side degree sequence is not the graph's
    val err = intercept[IllegalArgumentException] {
      GraphAlgos.kCorePeelAtPercentile(
        Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst"), pct = 0.5, rounds = 2)
    }
    assert(err.getMessage.contains("symmetric"), err.getMessage)
  }

  test("benched graph kernels run no more Spark jobs than their recorded bounds") {
    // the pipeline gates pay a per-job floor (about half of each gate's
    // time is driver gap), so a loop refactor that adds a job per round
    // shows up here first. Bounds: the counts the kernels ran on this
    // fixture before they moved onto GraphScope.
    val sym = GraphAlgos.symmetrize(GraphRegimeParitySpec.edges(spark))
    val seeds = Seq(0L, 5L, 30L)
    val kernels = Seq[(String, Int, () => Any)](
      ("pageRankFixedPoint", 18, () => GraphAlgos.pageRankFixedPoint(sym, iterations = 3)),
      ("labelPropagation", 16, () => GraphAlgos.labelPropagation(sym, rounds = 3)),
      ("kCorePeelAtPercentile", 17,
        () => GraphAlgos.kCorePeelAtPercentile(sym, pct = 0.05, rounds = 4)),
      ("shortestPathCounts", 29,
        () => GraphAlgos.shortestPathCounts(sym, seeds, rounds = 6)),
      ("betweennessCentrality", 33,
        () => GraphAlgos.betweennessCentrality(sym, seeds, rounds = 3)))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      kernels.foreach { case (name, _, run) =>
        sc.setJobGroup(s"kernel-$name", name)
        run()
      }
      // a marker job: the listener bus delivers its start after every
      // earlier event
      sc.setJobGroup("kernel-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.containsValue("kernel-drain") && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val counts = kernels.map { case (name, bound, _) =>
      (name, jobs.values.toArray.count(_ == s"kernel-$name"), bound)
    }
    println(counts.map { case (n, c, _) => s"$n=$c" }.mkString("[kernel jobs] ", " ", ""))
    counts.foreach { case (name, ran, bound) =>
      assert(ran <= bound, s"$name ran $ran Spark jobs (bound $bound)")
    }
  }
}
