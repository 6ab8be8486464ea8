package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims

/**
 * Distributed graph analytics over edge DataFrames — the two classic
 * iterative/join-shaped workloads a training-data pipeline runs over
 * derived graphs (user-item bipartite graphs, co-occurrence graphs,
 * near-dup similarity graphs; cf. the connected-components resolver in
 * [[Dedup.duplicateClusters]]).
 *
 * Everything here is EXACT INTEGER arithmetic. PageRank uses fixed-point
 * mass units (a configurable power-of-ten total) with floor division, so
 * results are bit-identical across engines and partitionings — no
 * float-sum order sensitivity, which is what lets the DuckDB oracle
 * reproduce ranks exactly (the same rule the money queries use:
 * scale to integer, don't round).
 *
 * Scale notes (100 TB / 1000 executors):
 *  - each PageRank iteration is one equi-join of ranks onto edge sources
 *    plus one shuffle on the destination key — the canonical Pregel step
 *    expressed relationally. Past the broadcast bound the edge set is
 *    shaped by `src` once ([[shapeEdges]]), so no round re-shuffles it.
 *  - every kernel here and [[Dedup.duplicateClusters]] runs in one
 *    [[GraphScope]], the only place that persists, checkpoints and
 *    releases their frames; closing it releases all but the frame the
 *    kernel returns, also when the kernel throws.
 *  - every round loop is one [[GraphScope.iterate]]. A round's state is
 *    an eager local checkpoint, so plan depth and lineage stay O(1) — NOT
 *    persist: a persisted round keeps its whole child plan, and
 *    unpersisting round n-1 cascades into round n's cache (see
 *    Bpe.learnMerges). The checkpoint is laid out for the state's size
 *    (guide §2.2: [[sizedView]] coalesces to ~[[RowsPerPartitionTarget]]
 *    rows per task — core-count partitions of a tiny cache measured 3x
 *    the round cost) and replaces the previous round's, which is
 *    released unless the kernel folds over all rounds.
 *  - the scope persists the long-cast edge set once and re-scans it
 *    through the sized view (weighted by a multi-seed kernel's fan-out).
 *    It persists the node set before counting it (read again for the
 *    state init — ~0.6 s per extra scan measured by JobProbe at sf0.1)
 *    unless the cache build costs a job the kernel never wins back, and
 *    takes any count the kernel already holds. Its regime test
 *    broadcasts node-sized per-round tables under
 *    [[BroadcastRankMaxNodes]] (the planner cannot size a checkpoint
 *    leaf, so it never converts on its own) and keeps every join
 *    partitioned past it.
 */
object GraphAlgos {

  /** Undirected view of a directed edge list: both orientations,
    * distinct. One explode pass over the (possibly expensive) input and
    * ONE distinct — not union-of-two-scans + distinct. */
  def symmetrize(edges: DataFrame): DataFrame =
    // distinct BEFORE the 2x fan-out, not after (guide §2.3): canonical
    // (min, max) rows collapse both directions and the (often multigraph)
    // input's duplicates, so the exchange moves HALF the bytes of the
    // old explode-then-distinct and the explode runs post-aggregation —
    // the emitted row set is identical (each surviving pair expands to
    // exactly the two directions; self-loops to one row, as before)
    edges.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .distinct()
      .select(explode(when(col("a") === col("b"),
          array(struct(col("a").as("src"), col("b").as("dst"))))
        .otherwise(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst"))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /**
   * Fixed-point PageRank: `iterations` rounds of
   *   r'(v) = base + Σ_{(u,v)∈E} (alphaNum · r(u)) div (alphaDen · deg(u))
   * with base = ((alphaDen−alphaNum) · (tot div N)) div alphaDen and
   * r₀(v) = tot div N. All divisions are floor divisions on longs —
   * deterministic, exact, overflow-safe for tot ≤ 1e12 (alphaNum·r ≤
   * 8.5e13 « Long.Max). Mass lost to flooring is the deliberate price of
   * exactness; ranks remain a strict monotone transform of real-valued
   * PageRank on these graphs.
   *
   * `edges` is taken as directed (symmetrize first for undirected
   * semantics); dangling nodes (no out-edges) contribute nothing, nodes
   * with no in-edges settle at `base`.
   */
  def pageRankFixedPoint(
      edges: DataFrame,
      iterations: Int,
      tot: Long = 1000000000000L,
      alphaNum: Long = 85L,
      alphaDen: Long = 100L): DataFrame =
    pageRankOn(edges, iterations, alphaNum, alphaDen, "pageRankFixedPoint")(
      tot / _, identity)

  /** The body classic and personalized PageRank share: `r0Of(n)` is the
    * initial mass of a node that receives any, and `teleport` restricts
    * both it and the per-round teleport term to those nodes. */
  private def pageRankOn(
      edges: DataFrame, iterations: Int, alphaNum: Long, alphaDen: Long,
      what: String)(r0Of: Long => Long, teleport: Column => Column): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    inScope(edges) { g =>
      // disjoint column names per join side — these all derive from the
      // same scan, and same-name df("col") conditions trip Spark's
      // ambiguous-self-join detection
      val deg = g.persist(g.eR.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("deg_node"), col("deg")))
      require(g.n > 0, s"$what on an empty edge set")
      val r0 = r0Of(g.n)
      val base = ((alphaDen - alphaNum) * r0) / alphaDen
      // Partitioned regime (the billion-node path): shape the edge set
      // ONCE — hash-partitioned AND sorted by src, materialized as a
      // checkpoint whose LogicalRDD carries both properties — so every
      // round's rank⋈edge sort-merge join reuses the layout with NO
      // exchange and NO sort on the edge leg (the in-memory equivalent of
      // Bucketing.writeBucketed; GraphAlgosSpec pins the plan). The rank
      // side is O(|V|) and re-shuffles to co-partition each round — that
      // per-round cost is node-sized, never edge-sized.
      val eJ =
        if (g.bcast) g.eR
        else {
          val shaped = g.own(shapeEdges(g.e))
          deg.count() // materialize before releasing its source
          g.release(g.e)
          shaped
        }
      // deg rides IN the iteration state (node, deg, rank_fp): the former
      // per-round rank⋈deg join — and in the broadcast regime its per-round
      // broadcast BUILD job — becomes a one-time left join at init. The
      // contribution rows are identical (inner-join rows = deg-not-null
      // rows), so every round's integer math is unchanged.
      val init = g.checkpoint(g.nodes
        .join(deg, col("node") === col("deg_node"), "left")
        .select(col("node"), col("deg"), teleport(lit(r0)).as("rank_fp")))
      g.iterate(init, iterations) { (ranks, _) =>
        pageRankStepBase(eJ, ranks, teleport(lit(base)), alphaNum, alphaDen,
          broadcastRanks = g.bcast)
      }.last
    }.select(col("node"), col("rank_fp"))
  }

  /** Node-count bound for broadcasting the per-round rank-side tables
    * (~16 bytes/node -> ~64 MB at the bound). Tunable per deployment via
    * `-Dgraft.graph.broadcastRankMaxNodes` (bigger executors can afford a
    * higher cutover; tests force 0 to drive the partitioned billion-node
    * regime on small fixtures and assert it matches the broadcast one). */
  def BroadcastRankMaxNodes: Long =
    sys.props.get("graft.graph.broadcastRankMaxNodes")
      .map(_.toLong).getOrElse(4L * 1000 * 1000)

  /** Target ROWS of per-round work per partition for the size-adaptive
    * layout of the iterative algorithms' persisted/checkpointed
    * relations (guide §2.2: fewer, larger map tasks feeding a shuffle).
    * Measured on the sf0.1 gates: a 1.17M-row edge cache scanned per
    * round costs 0.65 s/round as 32 (core-count) partitions but
    * 0.21-0.23 s as 1-4 — the keyed partial aggregation emits
    * (groups x map tasks) rows into the exchange and pays per-task
    * agg-map setup, so core-count-sized partitions of a tiny relation
    * triple the round cost. The target is ROWS, not bytes, because the
    * per-round cost at volume is CPU over the join output (~1 µs/row
    * measured): a first 32 MB-BYTES target coalesced a 10M-edge
    * PageRank onto 5 tasks and regressed the 10x step-up probe 1.5x —
    * ~400k rows/task keeps tasks ~0.3-0.5 s at volume while still
    * collapsing the tiny-gate layouts. A 1B-edge graph gets thousands
    * of partitions from the same rule (coalesce never raises a count,
    * so inputs wider than the target keep their parallelism). Tunable
    * via `-Dgraft.graph.rowsPerPartition`. */
  def RowsPerPartitionTarget: Long =
    sys.props.get("graft.graph.rowsPerPartition")
      .map(_.toLong).getOrElse(400000L)

  /** Partition count for a per-round work volume of `rows` x `weight`
    * rows (weight = the per-round fan-out of each stored row, e.g. the
    * seed count of a multi-seed traversal; at least 1). */
  private[pipeline] def sizedParts(rows: Long, weight: Long = 1L): Int = {
    val t = RowsPerPartitionTarget
    val p = (rows * weight + t - 1) / t
    math.max(1L, math.min(p, Int.MaxValue.toLong)).toInt
  }

  /** Size-adaptive narrow re-layout of an iteration-static relation that
    * is re-scanned every round: coalesce to [[sizedParts]] partitions so
    * each round's map stage runs work-sized tasks instead of
    * core-count-sized ones. Narrow (no shuffle) — cached blocks are
    * merged locally. */
  private[pipeline] def sizedView(df: DataFrame, rows: Long, weight: Long = 1L): DataFrame =
    df.coalesce(sizedParts(rows, weight))

  private def maybeBcast(df: DataFrame, on: Boolean): DataFrame =
    if (on) broadcast(df) else df

  /** The state a kernel holds for its lifetime (see the scale notes):
    * every frame it persists or checkpoints, and — when it has an edge
    * set — the persisted long-cast edges `e` (with `w` when `weighted`),
    * their count `m` and sized view `eR` (weighted by the `seeds`
    * fan-out), the node set and its count `n`. Counts a kernel already
    * holds come in through [[know]]. Under `freshStats` every checkpoint
    * carries its measured size ([[SparkShims.freshCheckpointStats]]): a
    * fixpoint round that self-joins its state would otherwise square the
    * inherited estimate each round. */
  private[pipeline] final class GraphScope(
      edges: DataFrame, weighted: Boolean, seeds: Int, persistNodes: Boolean,
      freshStats: Boolean) {
    private var cached = List.empty[DataFrame]
    private var checkpoints = List.empty[DataFrame]
    private var edgeCount, nodeCount, stateRows = -1L

    lazy val e: DataFrame = persist(edges.select(
      (Seq("src", "dst") ++ (if (weighted) Seq("w") else Nil))
        .map(c => col(c).cast("long")): _*))
    def m: Long = { if (edgeCount < 0) edgeCount = e.count(); edgeCount }
    lazy val eR: DataFrame = sizedView(e, m, seeds.toLong)
    lazy val nodes: DataFrame = eR.select(col("src").as("node"))
      .union(eR.select(col("dst").as("node"))).distinct()
    /** Persists the node set before counting it unless `persistNodes` is
      * off: the cache build is a job of its own, which the k-core and
      * weighted-SSSP kernels (one read after the count, or none) do not
      * win back. */
    def n: Long = {
      if (nodeCount < 0) nodeCount = (if (persistNodes) persist(nodes) else nodes).count()
      nodeCount
    }
    def know(edges: Long, nodes: Long): Unit = { edgeCount = edges; nodeCount = nodes }

    /** Rows of per-round state: nodes x seeds unless the kernel sets it. */
    def rows: Long = if (stateRows < 0) n * seeds else stateRows
    def rows_=(r: Long): Unit = stateRows = r
    def bcast: Boolean = rows <= BroadcastRankMaxNodes
    def maybeBcast(df: DataFrame): DataFrame = GraphAlgos.maybeBcast(df, bcast)

    def persist(df: DataFrame): DataFrame = { df.persist(); cached ::= df; df }
    def own(checkpointed: DataFrame): DataFrame = {
      val df = if (freshStats) SparkShims.freshCheckpointStats(checkpointed) else checkpointed
      checkpoints ::= df
      df
    }
    /** An eager local checkpoint of `df` as it is laid out. */
    def materialize(df: DataFrame): DataFrame = own(df.localCheckpoint())
    /** An eager local checkpoint of `df` laid out for `rows` rows. */
    def checkpoint(df: DataFrame, rows: Long = this.rows): DataFrame =
      materialize(sizedView(df, rows))
    def release(df: DataFrame): Unit = {
      if (cached.exists(_ eq df)) { cached = cached.filterNot(_ eq df); df.unpersist() }
      if (checkpoints.exists(_ eq df)) {
        checkpoints = checkpoints.filterNot(_ eq df)
        SparkShims.unpersistCheckpoint(df)
      }
    }

    /** Up to `rounds` rounds of `step(state, round)` from `init`, each
      * round's state checkpointed at [[rows]] — or taken as it is when
      * the step returns a frame the scope already owns. Returns the
      * states by round, `init` at index 0 — or, unless `keepAll`, only
      * the last one, each round having released the one it replaced.
      * `until` ends the loop early. A `fixpoint` loop must end that way:
      * `until` is asked after the last round too, and if it never held
      * the loop throws an [[IllegalStateException]] naming `fixpoint` (a
      * partial answer would pass for a converged one). Otherwise `rounds`
      * is a horizon and the last round is not asked. */
    def iterate(init: DataFrame, rounds: Int, keepAll: Boolean = false,
        until: DataFrame => Boolean = _ => false, fixpoint: String = "")(
        step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
      var states = Vector(init)
      var r = 0
      var done = false
      while (r < rounds && !done) {
        r += 1
        val stepped = step(states.last, r)
        val next = if (checkpoints.exists(_ eq stepped)) stepped else checkpoint(stepped)
        if (!keepAll) release(states.last)
        states = if (keepAll) states :+ next else Vector(next)
        done = (fixpoint.nonEmpty || r < rounds) && until(next)
      }
      if (fixpoint.nonEmpty && !done)
        throw new IllegalStateException(s"$fixpoint did not converge within $rounds rounds")
      states
    }

    def close(keep: DataFrame): Unit = {
      checkpoints.filterNot(_ eq keep).foreach(SparkShims.unpersistCheckpoint)
      cached.filterNot(_ eq keep).foreach(_.unpersist())
    }
  }

  /** Runs `body` in a fresh [[GraphScope]] and closes it, keeping only the
    * frame `body` returns — or nothing, when `body` throws. A body with no
    * edge set (`edges` omitted) uses the scope for its own frames only. */
  private[pipeline] def inScope(edges: DataFrame = null, weighted: Boolean = false,
      seeds: Int = 1, persistNodes: Boolean = true, freshStats: Boolean = false)(
      body: GraphScope => DataFrame): DataFrame = {
    val g = new GraphScope(edges, weighted, seeds, persistNodes, freshStats)
    var out: DataFrame = null
    try { out = body(g); out } finally g.close(out)
  }

  /** The seeds that are nodes of `nodes`, as a `seed` column. */
  private def presentSeeds(sources: Seq[Long], nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    sources.toDF("seed").join(nodes, col("seed") === col("node"), "left_semi")
  }

  /**
   * EDGE-WEIGHTED fixed-point PageRank: mass flows proportionally to
   * integer edge weights (co-occurrence counts, interaction strength) —
   *   r'(v) = base + Σ_{(u,v,w)∈E} (alphaNum · r(u) · w) div (alphaDen · W(u))
   * with `W(u) = Σ out-weights`. Per-EDGE floor division (the unweighted
   * variant divides per-edge too — weights just scale the numerator);
   * everything stays exact integers, bit-reproducible, oracle-replayable.
   * Overflow bound: alphaNum·r·w ≤ 85·tot·w_max — safe for
   * w_max ≤ ~10⁵ at the default tot (the require enforces it).
   *
   * The shaped-edge exchange-free regime of the unweighted variant is
   * not used here: past the node bound every join stays partitioned.
   */
  def pageRankWeighted(
      edges: DataFrame,
      iterations: Int,
      tot: Long = 1000000000000L,
      alphaNum: Long = 85L,
      alphaDen: Long = 100L): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    inScope(edges, weighted = true) { g =>
      // the min/max guard is the materializing action, count reads the cache
      val wRow = g.eR.agg(min(col("w")), max(col("w"))).head()
      val (wMin, wMax) = (wRow.getLong(0), wRow.getLong(1))
      // min too, not just max: a zero/negative weight passes a max-only
      // guard but makes some node's out-weight sum ≤ 0 — the per-edge
      // division then yields NULL (silently dropped from the sum) or
      // sign-flipped mass, corrupting ranks with no error anywhere
      require(wMin >= 1, s"edge weights must be positive (found $wMin)")
      // guard the guard: alphaNum*tot can itself overflow Long for
      // caller-supplied tot >= ~1.1e17, silently weakening the bound check
      require(alphaNum <= Long.MaxValue / tot,
        s"alphaNum=$alphaNum * tot=$tot overflows Long — shrink tot")
      require(wMax <= Long.MaxValue / (alphaNum * tot),
        s"w_max=$wMax overflows alphaNum*tot*w — rescale weights or shrink tot")
      val outW = g.persist(g.eR.groupBy(col("src")).agg(sum(col("w")).as("ow"))
        .select(col("src").as("w_node"), col("ow")))
      require(g.n > 0, "pageRankWeighted on an empty edge set")
      val r0 = tot / g.n
      val base = ((alphaDen - alphaNum) * r0) / alphaDen
      // out-weight rides IN the state (see pageRankOn's deg): the
      // per-round rank⋈outW join and its broadcast build collapse into a
      // one-time left join at init; per-edge integer math unchanged
      val init = g.checkpoint(g.nodes
        .join(g.maybeBcast(outW), col("node") === col("w_node"), "left")
        .select(col("node"), col("ow"), lit(r0).as("rank_fp")))
      g.iterate(init, iterations) { (ranks, _) =>
        val rw = ranks.where(col("ow").isNotNull)
          .select(col("node").as("r_src"), col("rank_fp"), col("ow"))
        val inSum = g.eR.join(g.maybeBcast(rw), col("src") === col("r_src"))
          .select(col("dst"),
            expr(s"($alphaNum * rank_fp * w) div ($alphaDen * ow)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in_c"))
          .select(col("dst").as("in_node"), col("in_c"))
        ranks.join(g.maybeBcast(inSum), col("node") === col("in_node"), "left")
          .select(col("node"), col("ow"),
            (lit(base) + coalesce(col("in_c"), lit(0L))).as("rank_fp"))
      }.last
    }.select(col("node"), col("rank_fp"))
  }

  /** Edge layout for the partitioned regime: hash-partitioned and
    * sorted by `src`, materialized as an eager checkpoint whose
    * LogicalRDD CARRIES both properties — every later src-keyed
    * sort-merge join reuses the layout with no exchange and no sort on
    * this side. AQE must be off for the one shaping action: an adaptive
    * plan reports UnknownPartitioning to the checkpoint, which would
    * silently reintroduce the per-round edge shuffle this exists to
    * remove (the spec pins the plan, so a regression is loud). */
  private[pipeline] def shapeEdges(e: DataFrame): DataFrame = {
    val sess = e.sparkSession
    val prev = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try e.repartition(col("src")).sortWithinPartitions(col("src")).localCheckpoint()
    finally sess.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** One PageRank round, lazy — split out so the per-iteration physical
    * plan stays pinnable in GraphAlgosSpec (the checkpoint in the loop
    * reduces the public query's plan to a LogicalRDD scan). `state`
    * carries (node, deg, rank_fp) with deg NULL for sink nodes. */
  private[pipeline] def pageRankStep(
      e: DataFrame, state: DataFrame,
      base: Long, alphaNum: Long, alphaDen: Long,
      broadcastRanks: Boolean = false): DataFrame =
    pageRankStepBase(e, state, lit(base), alphaNum, alphaDen, broadcastRanks)

  /** The step with a per-NODE teleport column (constant for classic
    * PageRank, source-restricted for the personalized variant). The
    * contribution rows come straight from the deg-carrying state — the
    * `deg.isNotNull` filter selects exactly the rows the former
    * rank⋈deg inner join produced, with no per-round join or broadcast
    * build; the state is node-complete so the final left join against it
    * re-emits every node. */
  private[pipeline] def pageRankStepBase(
      e: DataFrame, state: DataFrame,
      baseCol: org.apache.spark.sql.Column, alphaNum: Long, alphaDen: Long,
      broadcastRanks: Boolean = false): DataFrame = {
    val contrib = state.where(col("deg").isNotNull)
      .select(col("node").as("c_src"),
        expr(s"($alphaNum * rank_fp) div ($alphaDen * deg)").as("c"))
    val inSum = e.join(maybeBcast(contrib, broadcastRanks), col("src") === col("c_src"))
      .groupBy(col("dst")).agg(sum(col("c")).as("in_c"))
      .select(col("dst").as("in_node"), col("in_c"))
    state.join(maybeBcast(inSum, broadcastRanks), col("node") === col("in_node"), "left")
      .select(col("node"), col("deg"),
        (baseCol + coalesce(col("in_c"), lit(0L))).as("rank_fp"))
  }

  /**
   * Personalized PageRank (integer fixed-point): teleport mass restricted
   * to `sources` — the "similar to these" relevance primitive (seed
   * expansion, related-item graphs). It runs classic PageRank's body;
   * the per-node teleport is a literal IN over the (small) seed set, so
   * the only new cost vs classic PageRank is a codegen'd CASE.
   */
  def personalizedPageRank(
      edges: DataFrame,
      sources: Seq[Long],
      iterations: Int,
      tot: Long = 1000000000000L,
      alphaNum: Long = 85L,
      alphaDen: Long = 100L): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs a non-empty seed set")
    pageRankOn(edges, iterations, alphaNum, alphaDen, "personalizedPageRank")(
      _ => tot / sources.size,
      c => when(col("node").isInCollection(sources), c).otherwise(lit(0L)))
  }

  /**
   * Per-node triangle participation counts. `edges` must be the
   * id-canonical undirected edge set: distinct rows with a < b. Edges
   * are re-oriented from lower to higher DEGREE (id tie-break) before
   * the wedge→close join: every vertex's out-degree is then bounded by
   * O(√m) (the arboricity argument of Chiba–Nishizeki / Schank–Wagner
   * "forward"), so wedge volume is Σ C(out,2) and a hub of degree d
   * costs O(d) wedges instead of the O(d²) an id-only orientation pays —
   * the difference between a night and a never on a skewed 100 TB graph.
   * Each triangle is enumerated exactly once, at its minimum-order
   * corner, and credited to all three.
   */
  /** Total adjacency payload is exactly |E| longs, so the edge count is
    * the broadcast-size decision variable: under this bound (~64 MB of
    * neighbor ids) the adjacency table broadcasts to both legs of the
    * close join and the 1000-executor plan ships NO wide array rows
    * through a shuffle; past it, the close falls back to partitioned
    * hash joins on src/dst. A billion-edge graph takes the shuffle path
    * automatically. */
  val BroadcastAdjacencyMaxEdges: Long = 8L * 1000 * 1000

  /** Floor under which the degree/adjacency broadcast is NOT worth its
    * fixed build latency: each broadcast is a separate collect + hashed-
    * relation build + ship (~tens of ms even for a few KB), while the
    * sort-merge exchange it replaces costs time LINEAR in the edge count
    * — measured on the sf0.1 gates: the ~900k-edge co-purchase
    * orientation gains 0.4 s from broadcasting, the ~20k-edge capped
    * truss graph LOSES ~1 s to per-round broadcast builds. Below the
    * floor both plans' data movement is trivial, so the fixed cost
    * dominates; above it the linear term does. Tunable per deployment
    * via `-Dgraft.graph.broadcastStructMinEdges`. */
  def BroadcastStructMinEdges: Long =
    sys.props.get("graft.graph.broadcastStructMinEdges")
      .map(_.toLong).getOrElse(200L * 1000)

  def triangleCounts(edges: DataFrame): DataFrame = inScope() { g =>
    // the input edge set is typically the expensive part (a fact-table
    // self-join + distinct); orientation consumes it twice (degree agg,
    // then the degree join) — persist it or that work runs twice
    val e = g.persist(edges.select(col("a").cast("long"), col("b").cast("long")))
    // one pass over the cached edges prices the adjacency broadcast
    // (measured on the sf0.1 co-purchase graph: broadcast close 6.4 s
    // vs shuffled 15.6 s — the shuffle ships two ~out-degree arrays
    // per edge row, the broadcast ships each adjacency list once)
    val nEdges = e.count()
    // the oriented set feeds all three legs of the intersection join —
    // persist it (src/dst only; the order key `dd` has no consumer on
    // this path), or the degree join is computed thrice
    val bcast = nEdges <= BroadcastAdjacencyMaxEdges &&
      nEdges >= BroadcastStructMinEdges
    val o = g.persist(orientByDegree(e, broadcastDeg = bcast).select(col("src"), col("dst")))
    // wedgeClose is eager (returns its counts checkpointed), so the scope
    // releases e/o as soon as it returns
    wedgeClose(o, broadcastAdj = bcast)
  }

  /** Orient each undirected edge from its (degree, id)-smaller to its
    * (degree, id)-larger endpoint. Also emits the dst's degree (`dd`) —
    * the order key a wedge-ORDERING consumer needs (the hub-star wedge
    * property in GraphAlgosSpec builds on it); the intersection-form
    * [[wedgeClose]] reads only (src, dst). */
  private[pipeline] def orientByDegree(
      e: DataFrame, broadcastDeg: Boolean = false): DataFrame = {
    // the degree table is node-sized — under the same size bound the
    // adjacency broadcast uses, ship it to both joins instead of
    // exchanging + sorting the EDGE set twice (the planner cannot see
    // the aggregate's size, so it never converts on its own)
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    e.join(maybeBcast(deg.select(col("n").as("a"), col("d").as("da")), broadcastDeg), "a")
      .join(maybeBcast(deg.select(col("n").as("b"), col("d").as("db")), broadcastDeg), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("dd"))
  }

  /** Triangle enumeration over a degree-oriented edge set, in
    * ADJACENCY-INTERSECTION form: a triangle's corners orient u→v, u→w,
    * v→w (u the (deg,id)-minimum), so the oriented edge (u, v) anchors
    * exactly the triangles {u, v, w} with `w ∈ N⁺(u) ∩ N⁺(v)` — each
    * found once, ever. The naive wedge→close alternative shuffles every
    * wedge (Σ C(out, 2) rows — ~35M on the sf0.1 co-purchase graph, 3×
    * slower measured); here the only wide rows are |E| edges carrying
    * two adjacency arrays, and `array_intersect` does the per-edge work
    * in one codegen'd pass. Out-degree (and so array width) is bounded
    * by O(√m) — the degree-orientation guarantee that makes the
    * collect_list safe on a skewed 100 TB graph. */
  private[pipeline] def wedgeClose(o: DataFrame,
      broadcastAdj: Boolean = false): DataFrame = inScope() { g =>
    // the triangle set feeds THREE credit legs — materialize it once
    // (eager, closed-wedge-sized) or each union leg re-runs the whole
    // adjacency join + merge-walk intersect (measured 3× the close
    // stage's cost on the sf0.1 co-purchase graph). Returns the
    // node-sized counts ALREADY checkpointed so the scope can release
    // the triangle rows rather than leak them to the caller.
    val tris = g.materialize(closedWedges(o, broadcastAdj))
    val credits = tris
      .select(col("src").as("node"), size(col("ws")).cast("long").as("c"))
      .unionByName(tris.select(col("dst").as("node"), size(col("ws")).cast("long").as("c")))
      .unionByName(tris.select(explode(col("ws")).as("node"), lit(1L).as("c")))
    g.materialize(credits.groupBy(col("node")).agg(sum(col("c")).as("n_triangles")))
  }

  /** The triangle SET under a degree orientation, one row per oriented
    * anchor edge: (src, dst, ws) with `ws = N⁺(src) ∩ N⁺(dst)` non-empty
    * — each triangle appears exactly once, on its (deg,id)-minimum
    * corner's edge. Shared by the node-credit consumer [[wedgeClose]]
    * and the edge-credit consumer [[supportOn]] (k-truss). */
  private[pipeline] def closedWedges(o: DataFrame,
      broadcastAdj: Boolean = false): DataFrame = {
    // adjacency lists sorted ONCE here so the per-edge close can be a
    // merge walk (SortedIntersectExpr) instead of array_intersect's
    // per-row hash-set build — the close step's dominant cost on a
    // dense co-purchase graph
    val adj0 = o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val adj = if (broadcastAdj) broadcast(adj0) else adj0
    // dst-side inner join doubles as pruning: a sink dst has no
    // out-neighbors and its edges can anchor no triangle
    o.select(col("src"), col("dst"))
      .join(adj.select(col("src"), col("nbrs").as("un")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("vn")), Seq("dst"))
      .select(col("src"), col("dst"),
        graft.functions.graph.sorted_intersect(col("un"), col("vn")).as("ws"))
      .filter(size(col("ws")) > 0)
  }

  // ── Wedge-class machinery: degree cap, edge support, truss peel ─────
  //
  // graph_edge_support, graph_motif_square and graph_k_truss all
  // enumerate common-neighbor structure; the methods below are the ONE
  // implementation they share. Wedge enumeration is Θ(Σ_v deg(v)²)
  // physics — on a skewed 100 TB graph the bound on that volume is the
  // DEGREE CAP, which used to live baked into each gate's pre-filter
  // and is now an explicit operator parameter (parity with
  // [[kCorePeel]]'s k; verdict r15 items 3 and 5).

  /** Id-canonical (a < b) undirected edge set restricted to nodes of
    * degree ≤ degreeCap (self-loops dropped, duplicates collapsed).
    * `Int.MaxValue` = exact/uncapped (skips the degree pass entirely).
    * Capping drops the hub nodes AND every edge touching them — the
    * standard wedge-volume bound: post-cap Σ deg² ≤ |E|·degreeCap. */
  private[pipeline] def degreeCappedCanonical(
      edges: DataFrame, degreeCap: Int): DataFrame = {
    require(degreeCap >= 1, "degreeCap must be >= 1")
    val e0 = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") < col("b"))
      .distinct()
    if (degreeCap == Int.MaxValue) e0
    else {
      val keep = e0.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .where(col("d") <= degreeCap)
      e0.join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
  }

  /** Per-edge triangle support over the degree-capped graph: (a, b,
    * support) for EVERY surviving edge, zeros included. Support rides
    * the intersection form ([[closedWedges]]: degree-oriented sorted
    * adjacency + per-edge merge walk, out-degree bounded O(√m)) rather
    * than a wedge-enumerating self-join — each triangle credits its
    * three edges once, id-canonicalized. The input edge set is
    * localCheckpoint'ed (eager, edge-sized) because the support plan
    * consumes it four times (orientation degrees, both join sides,
    * the zero-fill left join). */
  def cappedSupport(edges: DataFrame,
      degreeCap: Int = Int.MaxValue): DataFrame = inScope() { g =>
    // supportOn is eager — the scope releases e once it returns
    val e = g.materialize(degreeCappedCanonical(edges, degreeCap))
    val nE = e.count()
    supportOn(g, e, nE <= BroadcastAdjacencyMaxEdges && nE >= BroadcastStructMinEdges)
  }

  /** Support body over an ALREADY materialized canonical edge set —
    * shared by [[cappedSupport]] and each [[kTrussPeel]] round. `bcast`
    * is the caller's size-aware degree/adjacency broadcast decision
    * (same bound as [[triangleCounts]]); callers price it ONCE — the
    * previous shape never passed the flag, so every truss round
    * sort-merge-joined the edge set against its own degree table.
    * Returns the support table checkpointed and owned by `g`. */
  private def supportOn(g: GraphScope, e: DataFrame, bcast: Boolean): DataFrame = {
    // materialize the triangle set once (same 3-reference fan-out as
    // [[wedgeClose]] — without this each credit leg re-runs the whole
    // support join); the returned support table is checkpointed so the
    // triangle rows can be released before returning
    val tris = g.materialize(closedWedges(orientByDegree(e, broadcastDeg = bcast), bcast))
    val cred = tris.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        size(col("ws")).cast("long").as("c"))
      .unionByName(tris.select(col("src"), explode(col("ws")).as("w"))
        .select(least(col("src"), col("w")).as("a"),
          greatest(col("src"), col("w")).as("b"), lit(1L).as("c")))
      .unionByName(tris.select(col("dst"), explode(col("ws")).as("w"))
        .select(least(col("dst"), col("w")).as("a"),
          greatest(col("dst"), col("w")).as("b"), lit(1L).as("c")))
    val sup = cred.groupBy(col("a"), col("b"))
      .agg(sum(col("c")).cast("long").as("support"))
    val out = g.materialize(e.join(sup, Seq("a", "b"), "left").na.fill(0L, Seq("support")))
    g.release(tris)
    out
  }

  /** Per-PAIR common-neighbor counts over the degree-capped graph:
    * (u, w, c) for every unordered pair u < w with
    * c = |N(u) ∩ N(w)| ≥ minCommon. Unlike [[cappedSupport]] the pairs
    * need NOT be edges — this is the square-motif / butterfly census
    * shape, and inherently wedge-ENUMERATION work (one row per wedge
    * through each center; Σ C(deg, 2) rows). The degreeCap is the
    * production bound on that volume; uncapped it is honest Θ(Σ deg²)
    * physics (BASELINE.md ScalingHeavy, square-motif family). */
  def cappedWedgePairs(edges: DataFrame, degreeCap: Int = Int.MaxValue,
      minCommon: Long = 1L): DataFrame = {
    // the census is lazy over the capped edges: they stay with it
    val e = inScope()(_.materialize(degreeCappedCanonical(edges, degreeCap)))
    val nbrs = e.select(col("a").as("v"), col("b").as("n"))
      .unionByName(e.select(col("b").as("v"), col("a").as("n")))
    nbrs.as("x").join(nbrs.as("y"),
        col("x.v") === col("y.v") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("u"), col("y.n").as("w"))
      .agg(count(lit(1)).cast("long").as("c"))
      .where(col("c") >= minCommon)
  }

  /** k-truss peel: `rounds` synchronous rounds of "drop every edge in
    * fewer than k−2 triangles", over the degree-capped canonical graph.
    * Fixed rounds keep the result oracle-replayable as an unrolled CTE
    * (the kCorePeel / PageRank discipline — both engines run the same N
    * rounds whether or not the peel converged); rounds large enough to
    * reach the fixpoint give the exact k-truss of the capped graph.
    * Returns the surviving (a, b) edges.
    *
    * Scale shape: per-round state is the checkpointed support table of
    * the shrinking survivor EDGE set — round r+1 consumes the survivors
    * four times (orientation degrees, adjacency, both support-join sides), and
    * without the checkpoint round 2's plan re-runs round 1's entire
    * support join once per reference (measured 4.71 → 1.29 s on the
    * sf0.1 gate when first caught; the standing iterative-loop rule).
    * The degree cap is applied ONCE, up front — capping inside the loop
    * would re-peel by a moving target and is not the truss definition. */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int,
      degreeCap: Int = Int.MaxValue): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    require(rounds >= 1, "at least one peel round")
    def survivors(sup: DataFrame): DataFrame =
      sup.where(col("support") >= k - 2).select(col("a"), col("b"))
    survivors(inScope() { g =>
      val init = g.materialize(degreeCappedCanonical(edges, degreeCap))
      // one size decision for all rounds: the survivor set only SHRINKS,
      // so a ≤-bound decision taken on the initial capped set stays valid
      // (a set that starts under the broadcast floor stays under it)
      val nE = init.count()
      val bcast =
        nE <= BroadcastAdjacencyMaxEdges && nE >= BroadcastStructMinEdges
      // the state is the support table supportOn already checkpointed; a
      // round's survivor set is a cheap filter VIEW over it —
      // re-materializing the filtered rows per round would write the
      // edge-sized state twice per round for nothing
      g.iterate(init, rounds) { (cur, r) =>
        supportOn(g, if (r == 1) cur else survivors(cur), bcast)
      }.last
    })
  }

  /**
   * k-core peeling: `rounds` synchronous rounds of "drop every node whose
   * degree among surviving nodes is < k", over a symmetrized edge set
   * (same input contract as [[pageRankFixedPoint]]). With `rounds` large
   * enough to reach the fixpoint this is exactly the k-core; a fixed
   * round count keeps the result closed-form for the value oracle (the
   * PageRank unrolled-rounds discipline — both engines run the same N
   * rounds whether or not the peel has converged).
   *
   * Returns surviving `(node, core_deg)` — degree within the surviving
   * subgraph after the last round.
   *
   * Scale shape: per-round state is the NODE-sized survivor set; the
   * edge set is NEVER materialized per round — each round re-derives
   * surviving degrees by two semi-joins of the static edges against the
   * survivor set. Degree counting is a map-side-combined
   * groupBy. Checkpointing the shrinking edge set instead would write
   * O(|E|) per round — node-sized state is what survives a 100 TB graph.
   */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    inScope(edges, persistNodes = false)(kCorePeelOn(_, k, rounds))

  /** The peel loop, shared by [[kCorePeel]] and [[kCorePeelAtPercentile]]
    * (whose scope already knows both counts). */
  private def kCorePeelOn(g: GraphScope, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "at least one peel round")
    val alive = g.iterate(g.checkpoint(g.nodes), rounds) { (alive, _) =>
      survivingDegStep(g.eR, alive, g.bcast)
        .filter(col("core_deg") >= k)
        .select(col("src").as("node"))
    }.last
    // materialize (≤ |V| rows) before the scope releases e
    g.materialize(survivingDegStep(g.eR, alive, g.bcast)
      .select(col("src").as("node"), col("core_deg")))
  }

  /** One peel round's degree computation, lazy — split out so the
    * per-round physical plan stays pinnable in GraphAlgosSpec (the
    * public query's checkpoints collapse it to a LogicalRDD scan):
    * two node-sized semi-joins against the static edges, then a
    * map-side-combined degree count. */
  private[pipeline] def survivingDegStep(
      e: DataFrame, alive: DataFrame, broadcastAlive: Boolean): DataFrame = {
    e.join(maybeBcast(alive.select(col("node").as("src")), broadcastAlive), Seq("src"), "left_semi")
      .join(maybeBcast(alive.select(col("node").as("dst")), broadcastAlive), Seq("dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
  }

  /**
   * [[kCorePeel]] with a DATA-RELATIVE threshold: k = the degree value
   * at ascending-rank position ceil(pct·|V|) of the initial degree
   * sequence — "peel away the sparsest pct of the graph and whatever
   * that drags down". An absolute k goes stale as a graph grows (every
   * degree scales with data volume; a fixed threshold peels everything
   * or nothing); the rank rule keeps the peel biting at any scale and
   * is still exact-integer-deterministic.
   *
   * The k-th-smallest is computed from degree-VALUE bin cumsums (group
   * degrees by value, running sum over the ≤max-degree distinct values,
   * first bin whose cumulative count reaches the position) — no global
   * sort of |V| rows, no TakeOrdered collect; the only window runs over
   * the tiny value-histogram (the token-budget selection pattern).
   *
   * `edges` must be symmetric — every (u, v) beside its (v, u), as
   * [[symmetrize]] emits: the degree sequence is read off the src side
   * alone. The same action that finds k checks it (equal Σ xxhash64 over
   * (src, dst) and over (dst, src)) and rejects an asymmetric input.
   */
  def kCorePeelAtPercentile(edges: DataFrame, pct: Double, rounds: Int): DataFrame = {
    require(pct > 0.0 && pct < 1.0, "pct must be in (0, 1)")
    inScope(edges) { g =>
      // order-insensitive edge digests, Σ xxhash64 as exact decimals (the
      // connectedComponentsStar scheme): (src, dst) and (dst, src) sum to
      // the same value exactly when the edge multiset is symmetric. Per
      // edge the sums run in longs over the hash's 32-bit halves (a node's
      // half-sums overflow only past 2^31 edges) and widen to decimal once
      // per node: decimal sums per edge cost the sf0.01 gate ~20%
      def halves(a: String, b: String, d: String): Seq[Column] = {
        val h = xxhash64(col(a), col(b))
        Seq(sum(shiftright(h, 32)).as(s"${d}_hi"), sum(h.bitwiseAND(0xFFFFFFFFL)).as(s"${d}_lo"))
      }
      def widened(d: String): Column = (col(s"${d}_hi").cast("decimal(38,0)") * 4294967296L +
        col(s"${d}_lo").cast("decimal(38,0)")).as(d)
      val deg = g.e.groupBy(col("src"))
        .agg(count(lit(1)).as("c"), halves("src", "dst", "fwd") ++ halves("dst", "src", "rev"): _*)
        .select(col("c"), widened("fwd"), widened("rev"))
      // ONE driver action for n, pos, k and the symmetry digests (was
      // three: deg.count, then a separate window + head): n = Σm over the
      // degree-value histogram, pos = max(1, ceil(pct·n)) computed inside
      // the plan with the same double math, k = min value whose
      // cumulative count reaches pos. Also materializes e for the peel.
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col("c")).rowsBetween(Long.MinValue, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val hist = deg.groupBy(col("c")).agg(count(lit(1)).as("m"),
        sum(col("fwd")).as("fwd"), sum(col("rev")).as("rev"))
      val kRow = hist
        .withColumn("cum", sum(col("m")).over(wCum))
        .withColumn("n", sum(col("m")).over(wAll))
        // Σ value·count over the degree histogram = |E| — prices the
        // peel's size-adaptive edge view with no extra job
        .withColumn("tot", sum(col("m") * col("c")).over(wAll))
        .withColumn("fwd", sum(col("fwd")).over(wAll))
        .withColumn("rev", sum(col("rev")).over(wAll))
        .filter(col("cum") >=
          greatest(lit(1L), ceil(lit(pct) * col("n")).cast("long")))
        .agg(min(col("c")), max(col("n")), max(col("tot")),
          max(col("fwd")), max(col("rev"))).head()
      require(!kRow.isNullAt(0), "kCorePeelAtPercentile on an empty edge set")
      require(kRow.getDecimal(3).compareTo(kRow.getDecimal(4)) == 0,
        "kCorePeelAtPercentile needs a symmetric edge set (symmetrize it first)")
      // n (src-distinct count) is the node count on a symmetric edge set
      g.know(edges = kRow.getLong(2), nodes = kRow.getLong(1))
      kCorePeelOn(g, kRow.getLong(0).toInt, rounds)
    }
  }

  /**
   * HITS hubs-and-authorities (Kleinberg 1999), `rounds` rounds of the
   * EXACT INTEGER recurrence on a DIRECTED edge set:
   *   auth'(v) = Σ_{(u,v)∈E} hub(u)   (then, with the new auth)
   *   hub'(u)  = Σ_{(u,v)∈E} auth'(v)
   * from hub₀ = 1. No per-round normalization — the reals-and-L2 version
   * is float-order-sensitive; the unnormalized integer iterate is the
   * same ranking (scores scale by a per-round constant on convergence)
   * and lets the oracle replay rounds bit-exactly. Magnitudes grow as
   * ≤ d_max^(2·rounds), so the caller keeps `rounds` small (the
   * require below enforces the Long-overflow bound d_max^(2r) ≤ 2^62 —
   * at the gate's 2 rounds that allows d_max ~ 46k; ranking needs few
   * rounds, convergence-grade scores want the normalized float variant,
   * deliberately out of scope).
   *
   * Scale shape per round: two src/dst-keyed equi-joins of node-sized
   * score tables onto the static edges with map-side-combined sums.
   */
  def hitsFixedRounds(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one HITS round")
    inScope(edges) { g =>
      require(g.n > 0, "hitsFixedRounds on an empty edge set")
      val dMax = g.eR.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .unionByName(g.eR.groupBy(col("dst")).agg(count(lit(1)).as("d"))
          .select(col("dst").as("src"), col("d")))
        .agg(max(col("d"))).head().getLong(0)
      require(2 * rounds * math.log(dMax.toDouble.max(2.0)) <= 62 * math.log(2.0),
        s"d_max=$dMax^(2*$rounds) would overflow Long — fewer rounds or the normalized variant")
      // r17 round fusion: the loop carries SPARSE hub/auth tables (absent
      // row = score 0 — zero terms contribute nothing to the sums, so the
      // sparse form is value-identical) instead of the dense (node, hub,
      // auth) carry table. That removes the two per-half-round carry joins
      // and their broadcasts; the dense shape is reassembled ONCE at the
      // end. A round's auth is lazy (consumed once by the hub step); only
      // the last round's auth is checkpointed for the assembly.
      // (The persist()-instead-of-localCheckpoint variant of the OLD shape
      // was measured and REJECTED: 3.16 -> 3.41 s solo, 34 -> 39 jobs —
      // broadcast builds over unmaterialized caches add jobs, they don't
      // remove them.)
      def authOf(hub: DataFrame): DataFrame = hitsAuthStep(g.eR, hub, g.bcast)
      val hub0 = g.checkpoint(g.nodes.select(col("node"), lit(1L).as("hub")))
      // authorities of a round feed hubs the same round (classic order)
      val prev = g.iterate(hub0, rounds - 1) { (hub, _) =>
        hitsHubStep(g.eR, sizedView(authOf(hub), g.rows), g.bcast)
      }.last
      val auth = g.checkpoint(authOf(prev))
      val hub = g.checkpoint(hitsHubStep(g.eR, auth, g.bcast))
      g.materialize(g.nodes
        .join(g.maybeBcast(hub), Seq("node"), "left")
        .join(g.maybeBcast(auth), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth")))
    }
  }

  /**
   * Multi-source BFS: exact hop distance from the nearest of `sources`
   * for every node reached within `rounds` hops — the k-hop
   * neighborhood / seed-expansion primitive (the bounded-round sibling
   * of [[Dedup.duplicateClusters]]' run-to-fixpoint pointer jumping).
   * dist₀ = 0 at the seeds; each round relaxes
   * `dist'(v) = min(dist(v), 1 + min_{(u,v)∈E} dist(u))` — pure integer
   * mins, bit-exact, replayed by the oracle as unrolled rounds.
   * Unreached nodes carry no row (no sentinel ∞ to disagree on).
   *
   * Scale shape per round: the node-sized frontier table equi-joins the
   * static edges on src, min-aggregated map-side. A round's join input is
   * the full reached set, not just the new frontier — at bounded
   * `rounds` the simplicity wins over frontier-delta bookkeeping (the
   * delta optimization matters for diameter-length traversals, not
   * k-hop neighborhoods).
   */
  def multiSourceDistances(
      edges: DataFrame,
      sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one BFS round")
    require(sources.nonEmpty, "multiSourceDistances needs a non-empty seed set")
    inScope(edges) { g =>
      require(g.n > 0, "multiSourceDistances on an empty edge set")
      val init = g.checkpoint(g.nodes.filter(col("node").isInCollection(sources))
        .withColumn("dist", lit(0L)))
      g.iterate(init, rounds)((dist, _) => bfsStep(g.eR, dist, g.bcast)).last
    }
  }

  /**
   * Jaccard link prediction: score NON-adjacent node pairs by
   * `|N(u) ∩ N(v)| / |N(u) ∪ N(v)|` over candidate pairs that share at
   * least `minShared` common neighbors — the related-items / missing-
   * edge primitive. Runs entirely on scalars: shared counts come from
   * the wedge self-join (no adjacency arrays), union sizes from
   * `deg(u) + deg(v) − shared`, so nothing wide ever shuffles.
   *
   * Scale: wedge volume through a center of degree d is C(d, 2) —
   * quadratic in hub degree — so centers with degree >
   * `maxCenterDegree` are EXCLUDED from candidate generation (the cap
   * bounds the join at cap²/2 rows per center). That makes `shared` a
   * documented LOWER bound on true common-neighbor counts (hub-only
   * co-neighbors drop out — at a hub of degree 10⁶ they are also the
   * least informative); degrees in the denominator stay exact and
   * full. The oracle replays the same cap, so parity is exact.
   *
   * `edges` is the id-canonical undirected edge set (distinct, a < b —
   * the [[triangleCounts]] contract).
   */
  def jaccardLinkPredictions(
      edges: DataFrame,
      maxCenterDegree: Int,
      minShared: Int,
      topK: Int): DataFrame =
    linkPredictions(edges, maxCenterDegree, minShared, topK,
        carryCenterDegree = false, "jaccard") { (adj, deg) =>
      adj.select(col("src"), col("dst").as("u"))
        .join(adj.select(col("src"), col("dst").as("v")), Seq("src"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .join(deg.select(col("src").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("src").as("v"), col("d").as("dv")), Seq("v"))
        .withColumn("jaccard", col("shared").cast("double") /
          (col("du") + col("dv") - col("shared")).cast("double"))
    }

  /**
   * Resource-allocation link prediction (Zhou et al. 2009):
   * `RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)` — like Adamic-Adar but
   * degree-reciprocal, and here in EXACT INTEGER fixed-point:
   * each shared neighbor contributes `scale div deg(w)` (floor
   * division), so the per-pair score is an order-free integer sum —
   * bit-exact across engines and partitionings, where a float
   * Σ 1/ln(d) (Adamic-Adar's form) would be sum-order-sensitive and
   * un-oracle-able. Same capped-wedge candidate machinery and
   * lower-bound semantics as [[jaccardLinkPredictions]]; the wedge
   * rows additionally carry the center's degree, everything else is
   * identical scalars.
   */
  def resourceAllocationLinkPredictions(
      edges: DataFrame,
      maxCenterDegree: Int,
      minShared: Int,
      topK: Int,
      scale: Long = 1000000000000L): DataFrame =
    // wedge legs carry the CENTER degree (the RA denominator)
    linkPredictions(edges, maxCenterDegree, minShared, topK,
        carryCenterDegree = true, "ra_fp") { (adj, _) =>
      adj.select(col("src"), col("dst").as("u"), col("d"))
        .join(adj.select(col("src"), col("dst").as("v")), Seq("src"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("shared"),
          sum(expr(s"$scale div d")).as("ra_fp"))
        .filter(col("shared") >= minShared)
    }

  /** The candidate machinery both link-prediction scorers MUST share —
    * their twin oracles assume identical cap/orientation semantics: the
    * symmetrized (persisted) view, the (persisted) degree table `deg`, the
    * size-aware broadcast decision, and the hub-capped wedge legs `adj`
    * (carrying the center degree `d` when asked). `pairs(adj, deg)` scores
    * the candidates; the non-adjacent filter and the deterministic top-K
    * (`scoreCol` descending, (u, v) tie-break) run here, and the top-K
    * rows are checkpointed before the scope releases the cached graph. */
  private def linkPredictions(
      edges: DataFrame, maxCenterDegree: Int, minShared: Int, topK: Int,
      carryCenterDegree: Boolean, scoreCol: String)(
      pairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(maxCenterDegree >= 2, "a center below degree 2 anchors no wedge")
    require(minShared >= 1 && topK >= 1, "minShared and topK must be positive")
    inScope() { g =>
      val sym = g.persist(edges.select(col("a").cast("long"), col("b").cast("long"))
        .select(explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
      val deg = g.persist(sym.groupBy(col("src")).agg(count(lit(1)).as("d")))
      // materializes both (the deg scan materializes sym)
      val bcast = deg.count() <= BroadcastRankMaxNodes
      val capped = deg.filter(col("d") <= maxCenterDegree)
      val adj =
        if (carryCenterDegree) sym.join(maybeBcast(capped, bcast), Seq("src"))
        else sym.join(maybeBcast(capped.select(col("src")), bcast), Seq("src"), "left_semi")
      g.materialize(pairs(adj, deg)
        .join(edges.select(col("a").cast("long").as("u"), col("b").cast("long").as("v")),
          Seq("u", "v"), "left_anti")
        .orderBy(col(scoreCol).desc, col("u"), col("v"))
        .limit(topK)
        .select(col("u"), col("v"), col("shared"), col(scoreCol)))
    }
  }

  /** One BFS relaxation round, lazy (pinnable in GraphAlgosSpec):
    * reached-set join onto static edges, then a min-merge with the
    * current distances via a full outer union-aggregate (windowless). */
  private[pipeline] def bfsStep(
      e: DataFrame, dist: DataFrame, broadcastDist: Boolean): DataFrame = {
    val relaxed = e.join(
        maybeBcast(dist.select(col("node").as("src"), col("dist")), broadcastDist), Seq("src"))
      .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
    dist.unionByName(relaxed)
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))
  }

  /**
   * Per-source exact hop distances — [[multiSourceDistances]] with the
   * seed IDENTITY kept (state keyed on (seed, node), min-relaxation per
   * key), the primitive under sampled centrality measures. State is
   * |sources| × reached-nodes rows; the per-round shape is the same
   * single equi-join + keyed min as plain BFS.
   */
  def perSourceDistances(
      edges: DataFrame,
      sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one BFS round")
    require(sources.nonEmpty, "perSourceDistances needs a non-empty seed set")
    // state keyed (seed, node): the scope weights the edge view and the
    // state by the seed fan-out
    inScope(edges, seeds = sources.size) { g =>
      require(g.n > 0, "perSourceDistances on an empty edge set")
      val init = g.checkpoint(presentSeeds(sources, g.nodes)
        .select(col("seed"), col("seed").as("node"), lit(0L).as("dist")))
      g.iterate(init, rounds) { (dist, _) =>
        val relaxed = g.eR.join(
            g.maybeBcast(dist.select(col("seed"), col("node").as("src"), col("dist"))),
            Seq("src"))
          .select(col("seed"), col("dst").as("node"), (col("dist") + 1L).as("dist"))
        dist.unionByName(relaxed)
          .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
      }.last
    }
  }

  /**
   * Connected components by alternating large-star/small-star edge
   * rewriting (Kiveris et al., "Connected Components in MapReduce and
   * Beyond") — O(log² n) rounds on ANY graph shape, including the
   * huge-diameter meshes that defeat min-label propagation.
   *
   * Why this exists next to [[Dedup.duplicateClusters]], and why both
   * stay: label propagation (even with pointer jumping) moves information
   * ONE graph hop per round, so a spatial cluster spanning d grid cells
   * costs Θ(d) rounds — measured 289 rounds on a 300×300 mesh with
   * random ids, where the label forest offers no shortcuts because each
   * neighborhood minimum is geometrically local. Star rewriting instead
   * RESHAPES the edge set toward stars rooted at component minima: the
   * same mesh converges in 9 rounds. On tiny-diameter near-dup graphs
   * the trade reverses: on the `dedup_clusters` pair set at sf0.001 (137
   * ids, pairs checkpointed, local[4], 5 alternating warm reps)
   * duplicateClusters took 0.83 s and 19 jobs, this kernel 1.27 s and
   * 23 jobs, with identical labels (a second run of the same probe:
   * 1.01 s and 18 jobs against 1.40 s and 22) — serving near-dup
   * clusters from here would slow `dedup_clusters` by 40-50%. Near-dup clusters keep
   * using duplicateClusters; spatial/mesh-like graphs use this.
   *
   * Per round: large-star hangs every higher neighbor of v onto
   * min(N(v) ∪ {v}); small-star re-hangs the lower-or-equal neighbors
   * (and v). Each is one symmetric-view groupBy-min + equi-join +
   * distinct over the edge set — no node-count blowup (the paper bounds
   * the edge multiset). The rounds run in a `freshStats` [[GraphScope]],
   * so driver-side size estimates stay measured, not compounded.
   * Convergence = edge-set fixpoint, checked with an order-insensitive
   * (count, Σhash, ⊕hash) digest; a loop that does not reach it within
   * `maxRounds` throws.
   *
   * Output: (node, component) for every endpoint of `edges0`, component
   * = minimum node id of the component (the star root).
   */
  def connectedComponentsStar(edges0: DataFrame, maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, "at least one star round")
    def sym(e: DataFrame): DataFrame = e.select(explode(array(
        struct(col("a").as("v"), col("b").as("u")),
        struct(col("b").as("v"), col("a").as("u")))).as("x"))
      .select(col("x.v").as("v"), col("x.u").as("u"))

    /** m(v) = min(N(v) ∪ {v}) attached to every symmetric-view row.
      * A window over the SAME key the old groupBy-min + join-back used:
      * one exchange instead of an exchange + a broadcast-build job per
      * star op (~2 AQE sub-jobs/round saved — the CC gates are driver-
      * latency-bound, ~45 ms/job measured by JobProbe), and at volume
      * one sort replaces two exchanges + two sorts of the SMJ regime. */
    def withMin(s: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
      s.withColumn("m", least(min(col("u")).over(w), col("v")))
    }

    def canon(df: DataFrame): DataFrame = df
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

    def largeStar(e: DataFrame): DataFrame =
      canon(withMin(sym(e)).filter(col("u") > col("v"))
        .select(col("m").as("x"), col("u").as("y")))

    def smallStar(e: DataFrame): DataFrame = {
      val s = withMin(sym(e))
      // no inner .distinct() on the (m, v) leg: canon's trailing distinct
      // dedups the whole union anyway (set-identical), and the partial
      // aggregation of that one distinct already bounds the map-side rows
      // — the inner exchange was a pure extra AQE sub-job per round
      canon(s.filter(col("u") <= col("v"))
          .select(col("m").as("x"), col("u").as("y"))
        .unionByName(s.select(col("m").as("x"), col("v").as("y"))))
    }

    def digest(e: DataFrame): (Long, String, Long) = {
      // decimal Σhash: exact and overflow-free under ANSI mode
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
        expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString,
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    // NOTE (r17, measured): disabling AQE around this loop to cut the
    // per-shuffle re-planning sub-jobs made the CC gates ~2x SLOWER —
    // AQE's runtime broadcast conversion of the per-round withMin join is
    // worth far more than the sub-job overhead. Rejected; keep AQE on.
    val stars = inScope(freshStats = true) { g =>
      val init = g.materialize(edges0.select(
          least(col(edges0.columns(0)), col(edges0.columns(1))).cast("long").as("a"),
          greatest(col(edges0.columns(0)), col(edges0.columns(1))).cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
      var d = digest(init)
      // size-adaptive round checkpoint: the previous digest's edge count
      // prices this round's layout for free (star rewriting keeps the
      // edge multiset the same order of magnitude; coalesce never raises
      // a partition count, so growth past the target keeps parallelism)
      g.rows = d._1
      def converged(e: DataFrame): Boolean = {
        val prev = d
        d = digest(e)
        g.rows = d._1
        d == prev
      }
      g.iterate(init, maxRounds, until = converged, fixpoint = "connectedComponentsStar") {
        (e, _) => smallStar(largeStar(e))
      }.last
    }
    // stars: every node's component is min(N(v) ∪ {v})
    sym(stars).groupBy(col("v")).agg(min(col("u")).as("mn"))
      .select(col("v").as("node"), least(col("mn"), col("v")).as("component"))
  }

  /**
   * Shortest-path multiplicities from each seed — the Brandes forward
   * pass: per (seed, node) the exact hop distance AND the number of
   * distinct shortest paths σ, the primitive under betweenness/stress
   * centrality and route-diversity scoring. Layer-synchronous BFS with
   * path counting: layer-r candidates come from layer-(r−1) frontier
   * rows only (σ_v = Σ over frontier predecessors of σ_u), and a
   * left-anti join against the settled set admits only FIRST-time —
   * hence shortest — arrivals, so σ never double-counts longer walks.
   * Pure Long arithmetic (σ ≤ deg^rounds « 2⁶³ at bounded rounds);
   * seeds absent from the graph are dropped.
   *
   * Scale shape per round: one edges⋈frontier equi-join + keyed sum +
   * anti-join against node-sized state. `edges` directed;
   * symmetrize upstream for undirected semantics (multi-edges must be
   * deduped — σ counts paths in the SIMPLE graph).
   */
  def shortestPathCounts(
      edges: DataFrame,
      sources: Seq[Long],
      rounds: Int): DataFrame =
    inScope(edges, seeds = sources.size)(shortestPathCountsOn(_, sources, rounds))

  /** The forward-pass body, shared with [[betweennessCentrality]] /
    * [[stressCentrality]], whose backward passes reuse the SAME scope and
    * so the same cached edges (a private copy per pass would re-derive
    * the full edge set — typically a fact-table join + symmetrize
    * distinct — a second time). Returns the settled set, owned by `g`. */
  private def shortestPathCountsOn(
      g: GraphScope,
      sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one BFS round")
    require(sources.nonEmpty, "shortestPathCounts needs a non-empty seed set")
    require(g.n > 0, "shortestPathCounts on an empty edge set")
    // settled state = the LIST of per-round frontier checkpoints, united
    // lazily where needed — re-checkpointing the whole accumulated set
    // every round (the previous shape) wrote O(rounds · settled) and its
    // shuffle-side anti-join moved the settled set per round; the union
    // of checkpointed leaves scans the same rows with NO re-write, and
    // under the broadcast regime the anti-join ships the (seed×node)-
    // sized settled keys once per round instead of shuffling both sides.
    // NOTE (r17, measured): persist()+count() per round instead of
    // localCheckpoint()+isEmpty was tried and REJECTED — job-time sum
    // DROPPED 7.6 -> 6.3 s on graph_eccentricity but wall EXPLODED
    // 9.3 -> 24.8 s: every cached round frame keeps its full child plan,
    // so CacheManager plan-matching + analysis grow with the settled
    // union every round (~19 s of single-threaded driver time at 6
    // rounds x 8 seeds). localCheckpoint's LogicalRDD leaf keeps every
    // round's plan O(1); its extra isEmpty job is ~10 ms on cached blocks.
    val init = g.checkpoint(presentSeeds(sources, g.nodes)
      .select(col("seed"), col("seed").as("node"),
        lit(0L).as("dist"), lit(1L).as("sigma")))
    var settledKeys = List.empty[DataFrame]
    // an empty frontier is a fixpoint: every later round joins it and
    // yields another empty set, so the remaining rounds are no-ops —
    // exit with the identical settled union (take(1) on the freshly
    // checkpointed frontier is a ~ms job; saturation before the round
    // bound is the common case on small-diameter graphs)
    val frontiers = g.iterate(init, rounds, keepAll = true, until = _.isEmpty) {
      (frontier, r) =>
        settledKeys ::= frontier.select(col("seed"), col("node"))
        g.eR.join(
            g.maybeBcast(frontier.select(col("seed"), col("node").as("src"), col("sigma"))),
            Seq("src"))
          .groupBy(col("seed"), col("dst"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("seed"), col("dst").as("node"), col("sigma"))
          .join(g.maybeBcast(settledKeys.reduce(_ unionByName _)), Seq("seed", "node"),
            "left_anti")
          .select(col("seed"), col("node"), lit(r.toLong).as("dist"), col("sigma"))
    }
    g.materialize(frontiers.reverse.reduce(_ unionByName _))
  }

  /**
   * Deterministic hash-driven walks — the DeepWalk/node2vec corpus-prep
   * step without executor RNG: from each seed, `steps` steps where the
   * step-t successor of u is the neighbor v minimizing the mixed
   * multiplicative hash `pmod(u·2654435761 + v·40503 + t·2246822519,
   * 2³²)`. The choice is uniform-ish over neighbors, REPRODUCIBLE under
   * any partitioning/retry (the property RNG walks lose on speculative
   * re-execution), and replayable relationally (plain integer
   * arithmetic). PRECONDITION: node ids must be non-negative and
   * < 2³¹ — the u-term then stays ≤ 2³¹·2654435761 ≈ 5.7e18 and the
   * three-term sum fits Long; for larger ids the multiply wraps in
   * Spark but errors in a strict BIGINT engine, so pre-reduce ids
   * first. Within that range the v-term is injective mod 2³² for
   * v < 2³², so argmin ties are impossible; pmod (not `%`) keeps the
   * mix in [0, 2³²) even if a negative id slips through. Emits one row per (seed, step, node),
   * step 0 = the seed itself; seeds with no out-edges are dropped, and
   * a walk that reaches a dead-end node (directed graphs) simply ends
   * early — no row for the unreachable steps.
   *
   * Scale shape per step: the walk state is seed-sized (broadcast side
   * of one edges⋈state equi-join) + a keyed min_by — walk count scales
   * to millions of seeds before the state side stops broadcasting,
   * and steps are a fixed small constant (the walk-corpus regime).
   */
  def hashWalks(
      edges: DataFrame,
      sources: Seq[Long],
      steps: Int): DataFrame = {
    require(steps >= 1, "at least one walk step")
    require(sources.nonEmpty, "hashWalks needs a non-empty seed set")
    inScope(edges) { g =>
      g.rows = sources.size.toLong // seed-sized state: one row per walk
      val starts = presentSeeds(sources, g.eR.select(col("src").as("node")).distinct())
      val init = g.checkpoint(starts.select(col("seed"), col("seed").as("node")))
      val walk = g.iterate(init, steps, keepAll = true) { (cur, t) =>
        g.eR.join(broadcast(cur.select(col("seed"), col("node").as("src"))), Seq("src"))
          .select(col("seed"), col("src"), col("dst"),
            pmod(col("src") * 2654435761L + col("dst") * 40503L
              + lit(t.toLong) * 2246822519L, lit(4294967296L)).as("mix"))
          .groupBy(col("seed"))
          .agg(min_by(col("dst"), col("mix")).as("node"))
      }
      g.materialize(walk.indices.reverse
        .map(t => walk(t).select(col("seed"), lit(t.toLong).as("step"), col("node")))
        .reduce(_ unionByName _))
    }
  }

  /**
   * Katz centrality, exact-integer form. With attenuation β = 1/base
   * (base a small integer), base^R · Σ_{r=1..R} β^r · walks_r(v) =
   * Σ_{r=1..R} base^(R−r) · walks_r(v), where walks_r(v) is the number
   * of length-r walks ENDING at v — a pure-Long recurrence
   * (walks_r(v) = Σ_{(u,v)∈E} walks_{r−1}(u), walks_0 ≡ 1), so the
   * scaled score is engine-bit-exact with no float anywhere. Ranking
   * equals float Katz at the same β truncated to R terms.
   *
   * Scale shape: each round is ONE edges⋈walks equi-join + keyed sum
   * (the PageRank shuffle) over node-sized walks state. Overflow-safe for
   * bounded R: walks_r ≤ (max in-degree)^r. `edges` directed and
   * assumed deduped; symmetrize upstream for undirected semantics.
   */
  def katzCentrality(edges: DataFrame, rounds: Int, base: Long): DataFrame = {
    require(rounds >= 1, "at least one walk round")
    require(base >= 2, "attenuation base must be >= 2")
    def scale(r: Int): Long =
      (1 to (rounds - r)).foldLeft(1L)((acc, _) => acc * base)
    inScope(edges) { g =>
      val init = g.checkpoint(g.nodes.select(col("node"), lit(1L).as("w")))
      val walks = g.iterate(init, rounds, keepAll = true) { (walks, _) =>
        g.eR.join(g.maybeBcast(walks.select(col("node").as("src"), col("w"))), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("w")).as("w"))
          .select(col("dst").as("node"), col("w"))
      }
      val scored = (rounds to 1 by -1)
        .map(r => walks(r).select(col("node"), (col("w") * scale(r)).as("contrib")))
        .reduce(_ unionByName _)
        .groupBy(col("node")).agg(sum(col("contrib")).as("katz_scaled"))
      g.materialize(g.nodes.join(scored, Seq("node"), "left")
        .select(col("node"), coalesce(col("katz_scaled"), lit(0L)).as("katz_scaled")))
    }
  }

  /**
   * Bounded-horizon betweenness centrality — the classic Brandes
   * accumulation in its fractional form, completing the integer
   * [[stressCentrality]] twin: δ(v) = Σ over shortest-path-DAG
   * successors w of (σ_v/σ_w)·(1 + δ(w)), summed over the seed set
   * for interior vertices. This is the pivot-sampled betweenness
   * estimate (Brandes–Pich): exact on the sampled seeds, scaled up by
   * seed-fraction downstream if an absolute value is needed. Scores
   * are round(…,6) — the per-node successor sum is a float fold (the
   * jsd-family rounding contract); σ itself stays exact Long from the
   * forward pass.
   *
   * Scale shape identical to [[stressCentrality]] (the shared
   * [[backwardPass]]).
   */
  def betweennessCentrality(
      edges: DataFrame,
      sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(rounds >= 2, "betweenness needs at least an interior layer")
    inScope(edges, seeds = sources.size) { g =>
      val (_, layers) = backwardPass(g, sources, rounds, Seq("seed", "node", "sigma"),
          "delta", lit(0.0))(
        push = (lit(1.0) + col("delta")) / col("sigma"),
        pull = s => col("sigma") * coalesce(s, lit(0.0)))
      g.materialize(layers.reduce(_ unionByName _)
        .groupBy(col("node"))
        .agg(round(sum(col("delta")), 6).as("betweenness")))
    }
  }

  /** The Brandes backward pass [[betweennessCentrality]] and
    * [[stressCentrality]] share: the forward pass ([[shortestPathCountsOn]]
    * over `g`, persisted), then one `value` per settled (seed, node) layer
    * by layer from the horizon inward. The horizon layer holds `horizon`;
    * layer r sums `push` of layer r+1 over each node's shortest-path-DAG
    * successors (one edges⋈layer equi-join + keyed sum) and `pull`s its
    * value from that sum (NULL without successors), beside the forward
    * `layerCols`. Layers are (seed × layer)-sized, so they broadcast under
    * the node bound by the forward result's size — without the hint each
    * layer's join shuffles the static edge set. Returns the forward result
    * and the layers, newest (layer 1) first, all owned by `g`. */
  private def backwardPass(
      g: GraphScope, sources: Seq[Long], rounds: Int,
      layerCols: Seq[String], value: String, horizon: Column)(
      push: Column, pull: Column => Column): (DataFrame, Seq[DataFrame]) = {
    val fwd = g.persist(shortestPathCountsOn(g, sources, rounds))
    g.rows = fwd.count()
    def atDist(r: Int): DataFrame =
      fwd.where(col("dist") === r).select(layerCols.map(col): _*)
    val layers = g.iterate(g.checkpoint(atDist(rounds).withColumn(value, horizon)),
        rounds - 1, keepAll = true) { (next, i) =>
      val succ = g.eR.join(
          g.maybeBcast(next.select(col("seed"), col("node").as("dst"), push.as("x"))),
          Seq("dst"))
        .groupBy(col("seed"), col("src"))
        .agg(sum(col("x")).as("s"))
        .select(col("seed"), col("src").as("node"), col("s"))
      atDist(rounds - i).join(g.maybeBcast(succ), Seq("seed", "node"), "left")
        .select(layerCols.map(col) :+ pull(col("s")).as(value): _*)
    }
    (fwd, layers.reverse)
  }

  /**
   * Bounded-horizon stress centrality — the Brandes BACKWARD pass in
   * its integer form, completing [[shortestPathCounts]] (the forward
   * pass): per node, the number of shortest paths from the seed set
   * that pass through it as an INTERIOR vertex, over paths of ≤
   * `rounds` hops. The classic accumulation carries σ_v/σ_w fractions;
   * this formulation cancels them exactly: with g(v) = DAG-path-suffix
   * count (g = 1 + Σ over shortest-path-DAG successors of g, computed
   * layer-by-layer from the horizon inward; DAG edge u→w iff edge(u,w)
   * and dist_w = dist_u + 1), the paths through v are
   * σ_s(v) · (g(v) − 1) — pure Longs end-to-end, so the gate is
   * bit-exact against a relational replay.
   *
   * Scale shape: forward pass as [[shortestPathCounts]]; each backward
   * layer is one edges⋈g equi-join + keyed sum + a layer-sized left
   * join — state is (seed × reached-nodes)-sized, never all-pairs
   * (the pivot-sampling regime: at 100 TB you sample seeds).
   */
  def stressCentrality(
      edges: DataFrame,
      sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(rounds >= 2, "stress needs at least an interior layer")
    inScope(edges, seeds = sources.size) { g =>
      val (fwd, layers) = backwardPass(g, sources, rounds, Seq("seed", "node"),
          "g", lit(1L))(
        push = col("g"),
        pull = s => lit(1L) + coalesce(s, lit(0L)))
      g.materialize(layers.reduce(_ unionByName _)
        .join(fwd.where(col("dist") >= 1)
          .select(col("seed"), col("node"), col("sigma")), Seq("seed", "node"))
        .groupBy(col("node"))
        .agg(sum(col("sigma") * (col("g") - 1L)).as("stress")))
    }
  }

  /**
   * Bounded-round weighted single-source shortest paths (Bellman–Ford
   * relaxation): integer edge weights, `rounds` rounds of
   * `dist_v = min(dist_v, dist_u + w_uv)` — exact distances for every
   * path of ≤ `rounds` edges. Each round is ONE equi-join + keyed min
   * over the frontier state. Unreached nodes emit no row.
   *
   * `edges`: (src, dst, w) directed — symmetrize (both directions)
   * upstream for undirected graphs.
   */
  def weightedSssp(
      edges: DataFrame,
      source: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one relaxation round")
    val spark = edges.sparkSession
    import spark.implicits._
    inScope(edges, weighted = true, persistNodes = false) { g =>
      val init = g.checkpoint(Seq((source, 0L)).toDF("node", "dist"))
      g.iterate(init, rounds) { (dist, _) =>
        val relaxed = g.eR.join(
            g.maybeBcast(dist.select(col("node").as("src"), col("dist"))), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }.last
    }
  }

  /**
   * k-bounded closeness centrality of the seed set: per seed,
   * `(reached − 1) / Σ dist` over the nodes within `rounds` hops — the
   * sampled-centrality estimate (HyperBall-family shape: exact per-seed
   * BFS within a bounded horizon, aggregated to two scalars per seed;
   * at 100 TB you sample seeds, never all-pairs). Exact integers until
   * the one final division.
   */
  def kBoundedCloseness(
      edges: DataFrame,
      sources: Seq[Long],
      rounds: Int): DataFrame =
    perSourceDistances(edges, sources, rounds)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
      .withColumn("closeness",
        when(col("sum_dist") > 0, round(
          (col("n_reached") - 1).cast("double") / col("sum_dist"), 6))
          .otherwise(lit(0.0)))

  /** HITS auth half-round over the SPARSE hub table (node, hub), lazy
    * (pinnable in GraphAlgosSpec): returns the sparse (node, auth) sums —
    * nodes with no in-edge from a hub simply emit no row (score 0). */
  private[pipeline] def hitsAuthStep(
      e: DataFrame, hub: DataFrame, broadcastScores: Boolean): DataFrame = {
    e.join(maybeBcast(hub.select(col("node").as("src"), col("hub")), broadcastScores), Seq("src"))
      .groupBy(col("dst")).agg(sum(col("hub")).as("auth"))
      .select(col("dst").as("node"), col("auth"))
  }

  /** HITS hub half-round over the sparse auth table, lazy. */
  private[pipeline] def hitsHubStep(
      e: DataFrame, auth: DataFrame, broadcastScores: Boolean): DataFrame = {
    e.join(maybeBcast(auth.select(col("node").as("dst"), col("auth")), broadcastScores), Seq("dst"))
      .groupBy(col("src")).agg(sum(col("auth")).as("hub"))
      .select(col("src").as("node"), col("hub"))
  }

  /**
   * Synchronous label propagation (`rounds` rounds) — the linear-time
   * community-detection primitive (Raghavan et al. 2007) over a
   * symmetrized edge set. l₀(v) = v; each round every node adopts the
   * most frequent label among its in-neighbors, ties broken toward the
   * SMALLEST label — fully deterministic, so the DuckDB oracle replays
   * the rounds as unrolled CTEs bit-for-bit (the async/random-order
   * variants of LPA are not oracle-able; synchronous-deterministic is
   * the distributed-engine formulation anyway).
   *
   * Scale shape per round: one src-keyed equi-join of the node-sized
   * label table onto the static edges (label side broadcast under
   * [[BroadcastRankMaxNodes]], partitioned past it), then a two-level
   * map-side-combinable aggregation — count by (dst, label), then
   * argmax via `max(struct(cnt, -label))` (NO window over the joined
   * edge volume: a row_number window would sort every (node, label)
   * group through a single-partition-per-key exchange; the struct-max
   * is a partial-aggregating one-pass argmax with the identical
   * (cnt DESC, label ASC) tie-break).
   */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one propagation round")
    // the vote aggregation is keyed on (dst, label) — up to edge-volume
    // groups per map task, unlike the node-keyed sums of the PageRank
    // family (measured under the earlier bytes-based layout target: a
    // 1-partition edge view serialized the vote agg and ran 1.4x the
    // unsized layout)
    inScope(edges) { g =>
      val init = g.checkpoint(g.nodes.withColumn("label", col("node")))
      g.iterate(init, rounds)((labels, _) => lpaStep(g.eR, labels, g.bcast)).last
    }
  }

  /** One label-propagation round, lazy (pinnable in GraphAlgosSpec):
    * node-sized label join onto static edges, two-level argmax. */
  private[pipeline] def lpaStep(
      e: DataFrame, labels: DataFrame, broadcastLabels: Boolean): DataFrame = {
    val voted = e.join(
        maybeBcast(labels.select(col("node").as("src"), col("label")), broadcastLabels), Seq("src"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col("dst").as("v_node"), (-col("m.nl")).as("v_label"))
    // left join + coalesce: on a symmetrized graph every node is a dst,
    // but the API accepts directed inputs where sinks keep their label
    labels.join(maybeBcast(voted, broadcastLabels), col("node") === col("v_node"), "left")
      .select(col("node"), coalesce(col("v_label"), col("label")).as("label"))
  }

  /**
   * Degree assortativity (Newman's r): the Pearson correlation of the
   * endpoint degrees over edges — do hubs link to hubs (> 0, social
   * graphs) or to leaves (< 0, web/biology)? The structural dial that
   * predicts whether hub-cap heuristics (link prediction, wedge
   * bounds) will bite.
   *
   * `edges`: undirected, each edge exactly once. With j,k the endpoint
   * degrees and M = |E|:
   *   r = [Sjk/M − (Sd/(2M))²] / [Sd2/(2M) − (Sd/(2M))²]
   * where Sjk = Σ j·k, Sd = Σ (j+k), Sd2 = Σ (j²+k²). All three sums
   * are EXACT INTEGERS (one degree join per side, one map-side-combined
   * agg), so the only doubles are the final divisions — deterministic;
   * gates round to 6. Regular graphs (zero variance) return r = 0.
   *
   * Precondition (shared by [[modularity]] and [[conductance]]): the
   * inputs must be DETERMINISTIC plans — the single-job shape evaluates
   * `edges` in more than one subtree, so a nondeterministic source
   * (sample(), limit over an unordered scan) could present different
   * edge sets to the degree and join passes. Persist such inputs first.
   */
  def assortativity(edges: DataFrame): DataFrame = {
    // single-job shape, deliberately: no persist, no sizing action — the
    // degree subtree and the main join consume the SAME edge plan inside
    // one final aggregation, so ReuseExchange shares the shuffle and AQE
    // picks the degree-join strategy from the actual runtime size (the
    // count()-then-broadcast idiom the iterative algorithms need would
    // add a second full job here for nothing).
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val degrees = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val out = e
      .join(degrees.select(col("node").as("src"), col("deg").as("j")), Seq("src"))
      .join(degrees.select(col("node").as("dst"), col("deg").as("k")), Seq("dst"))
      .agg(
        count(lit(1)).as("m_edges"),
        sum(col("j") * col("k")).as("sum_jk"),
        sum(col("j") + col("k")).as("sum_deg"),
        sum(col("j") * col("j") + col("k") * col("k")).as("sum_deg2"))
      .withColumn("mean_half",
        col("sum_deg").cast("double") / (col("m_edges") * 2L))
      .withColumn("num",
        col("sum_jk").cast("double") / col("m_edges") - col("mean_half") * col("mean_half"))
      .withColumn("den",
        col("sum_deg2").cast("double") / (col("m_edges") * 2L) - col("mean_half") * col("mean_half"))
      .withColumn("assortativity",
        when(col("den") === 0.0, lit(0.0)).otherwise(col("num") / col("den")))
      .select(col("m_edges"), col("sum_jk"), col("sum_deg"), col("sum_deg2"),
        col("assortativity"))
    out
  }

  /**
   * Conductance of each community in a node partition:
   *   φ(c) = cut(c) / min(vol(c), 2m − vol(c))
   * with cut(c) = edges with exactly one endpoint in c and vol(c) = Σ
   * degree over c's members — modularity's companion dial (modularity
   * rewards dense insides, conductance punishes leaky boundaries; a
   * good community is high-Q AND low-φ). 0 = perfectly sealed,
   * 1 = all-boundary; φ = 0 by convention when min(vol, 2m−vol) = 0.
   *
   * Same plan shape and input contract as [[modularity]] (each edge
   * once, no self-loops; integers exact until the final division) —
   * the two share one tagged-edges pass if the caller reuses the input,
   * and ReuseExchange shares the edge shuffle across the consumers.
   */
  def conductance(edges: DataFrame, communities: DataFrame): DataFrame = {
    // one-shot aggregation: no sizing action — AQE picks the community-
    // join strategy from runtime sizes (see assortativity's comment)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val comm = communities.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("community"))

    val degrees = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val vol = degrees.join(comm, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("volume"))

    val tagged = e
      .join(comm.select(col("node").as("src"), col("community").as("ca")), Seq("src"))
      .join(comm.select(col("node").as("dst"), col("community").as("cb")), Seq("dst"))
      .filter(col("ca") =!= col("cb"))
    // a cut edge contributes to BOTH endpoint communities' cuts
    val cut = tagged
      .select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("cut_edges"))

    val m = e.agg(count(lit(1)).as("m_edges"))
    vol.join(cut, Seq("community"), "left")
      .withColumn("cut_edges", coalesce(col("cut_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("denom",
        least(col("volume"), col("m_edges") * 2L - col("volume")))
      .withColumn("conductance",
        when(col("denom") === 0L, lit(0.0))
          .otherwise(col("cut_edges").cast("double") / col("denom")))
      .select(col("community"), col("n_nodes"), col("volume"),
        col("cut_edges"), col("m_edges"), col("conductance"))
  }

  /**
   * Newman modularity of a node partition, per community:
   *   Q_c = e_c/m − (d_c/(2m))²   (Q = Σ_c Q_c)
   * where m = |E|, e_c = edges with BOTH endpoints in c, d_c = Σ degree
   * over c's members. The quality dial for any community assignment
   * (LPA labels, attribute partitions, embedding clusters).
   *
   * `edges`: undirected edge list with each edge exactly ONCE (canonical
   * a<b pairs; no self-loops). `communities`: (node, community).
   *
   * Shape: degrees from one explode+groupBy pass; two node-sized
   * community joins (broadcast when the partition table is small, the
   * same size-aware rule as the rank algorithms); per-community partial
   * aggs; m arrives as a broadcast 1-row cross join — no collect, and
   * e_c/d_c/m stay exact integers so the only doubles are the two final
   * divisions (deterministic; gates round to 6).
   */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    // NO persist/checkpoint here, deliberately: degrees, intra tagging,
    // and m consume IDENTICAL edge subplans inside ONE final plan, and
    // Catalyst's ReuseExchange shares the join's shuffle output across
    // them — a persist+checkpoint barrier defeats that and measured
    // ~35% SLOWER (2.04 s vs 1.51 s at sf0.1) for the cache-write cost.
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val comm = communities.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("community"))
    // one-shot aggregation: no sizing action either (see assortativity)
    val degrees = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val commDeg = degrees.join(comm, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))

    val tagged = e
      .join(comm.select(col("node").as("src"), col("community").as("ca")), Seq("src"))
      .join(comm.select(col("node").as("dst"), col("community").as("cb")), Seq("dst"))
    val intra = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))

    val m = e.agg(count(lit(1)).as("m_edges"))
    val out = commDeg.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("contribution",
        col("intra_edges").cast("double") / col("m_edges") -
          (col("degree_sum").cast("double") / (col("m_edges") * 2L)) *
          (col("degree_sum").cast("double") / (col("m_edges") * 2L)))
      .select(col("community"), col("n_nodes"), col("degree_sum"),
        col("intra_edges"), col("m_edges"), col("contribution"))
    out
  }
}
