package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties README promises
  * (pushdown, pruning, broadcasts) must stay visible in the plans. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q1: ship-date filter and column pruning reach the parquet scan") {
    val p = plan("rel_q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // pruned read schema: no orderkey/partkey/suppkey columns
    assert(!p.contains("l_partkey"))
  }

  test("q3: dimension tables join via broadcast, filters pushed") {
    val p = plan("rel_q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
  }

  test("brute KNN: query side broadcast, probe predicate pushed") {
    val p = plan("vec_knn_brute_l2")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LessThan(vec_id,5)"))
  }

  test("text stats run in a single scan stage (no shuffle before the sort)") {
    val p = plan("text_stats")
    // exactly one exchange — the final presentation sort
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1)
  }

  test("segment dedup is join-free: one content-keyed window shuffle, no pair join") {
    // CCNet segment dedup must never materialize candidate PAIRS — the
    // first-occurrence rank is a window over the segment key, then one
    // doc-keyed re-aggregation; a join here would be the quadratic shape
    val p = plan("dedup_segments")
    assert(!p.contains("Join"), s"segment dedup grew a join:\n$p")
    assert(p.contains("Window"), "first-occurrence rank must be a window pass")
  }

  test("weighted sample top-k plans as TakeOrdered, not a global sort") {
    // the A-ES top-k must be per-partition k + driver merge — a full
    // orderBy shuffle of the corpus would be the 100 TB failure mode
    val p = plan("pipeline_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("semantic dedup pair check is an equi-join on cluster, never a cross join") {
    // SemDeDup's scale contract: pair work is bounded per cluster — the
    // rep-vs-rep similarity check must shuffle on the cluster key, not
    // build a corpus cross product
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"semantic dedup grew a cross join:\n$p")
  }

  test("KNN plans: no cartesian, join, window or broadcast; the merge is the only shuffle") {
    // both entries fan out as segment tasks over one RDD leaf, sealed and
    // brute segments alike: no query side is joined, crossed or broadcast
    // into the plan (the distributed entry's queries side is contractually
    // unbounded), and below the gate's presentation sort the one exchange
    // is the top-k merge's hash shuffle under its aggregate
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (q <- Seq("vec_knn_sealed", "vec_knn_distributed_queries")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect { case n => n.nodeName }
        .filter(n => Seq("Cartesian", "Join", "Window", "BroadcastExchange").exists(n.contains))
        .foreach(op => fail(s"$q plan grew a $op:\n$plan"))
      val presentation = plan.collectFirst { case s: SortExec => s.child }
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        .filterNot(e => presentation.exists(_ eq e))
      assert(shuffles.size == 1 && shuffles.head.outputPartitioning.isInstanceOf[HashPartitioning],
        s"$q plan has ${shuffles.size} exchanges besides the presentation sort's:\n$plan")
      val above = plan.collect { case p if p.children.exists(_ eq shuffles.head) => p.nodeName }
      assert(above.forall(_.contains("Aggregate")), s"$q: the exchange is not the top-k merge's:\n$plan")
    }
  }

  test("sealed KNN reranks in the segment task: no candidate join or window, pruned scan") {
    // the candidate set is O(queries × segments × k·oversample); it must
    // never leave the segment task, and no exchange may feed the task: on
    // every path from the sealed side's RDD leaf up to the top-k merge's
    // exchange there is no join, window or other exchange
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    val plan = SparkEntry.queries("vec_knn_sealed")(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def paths(p: SparkPlan): Seq[List[SparkPlan]] = // leaf first
      if (p.children.isEmpty) Seq(List(p)) else p.children.flatMap(paths).map(_ :+ p)
    val sealedPaths = paths(plan).filter(_.head.isInstanceOf[ExternalRDDScanExec[_]])
    assert(sealedPaths.nonEmpty, s"no RDD leaf on the sealed side:\n$plan")
    sealedPaths.foreach { path =>
      val (below, rest) = path.span(!_.isInstanceOf[Exchange])
      val merge = rest.headOption.collect { case e: ShuffleExchangeExec => e }
      assert(merge.exists(_.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]) &&
        rest.lift(1).exists(_.nodeName.contains("Aggregate")),
        s"the first exchange above the sealed leaf is not the top-k merge:\n$plan")
      below.map(_.nodeName).filter(n => n.contains("Join") || n.contains("Window"))
        .foreach(op => fail(s"sealed KNN plan grew a $op below the merge:\n$plan"))
    }

    // the segment tasks read only the sealed segments' `segId=` files:
    // unreadable files where no sealed task may look (a non-sealed
    // segment's directory, `_`/`.` names in a sealed one) change nothing
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan-segfiles").toString
    val store = new graft.index.IndexStore(tmp)
    store.createOrOpen(graft.core.IndexMeta("segfiles", dimension = 4, maxSegmentSize = 40,
      pqM = 2, pqK = 4, graphDegree = 4, graphBuildBreadth = 16), 1000L)
    val idx = new graft.index.SegmentedIndex(spark, store)
    val r = new scala.util.Random(5)
    import spark.implicits._
    val rows = (0 until 100).map(i => (i.toLong, Array.fill(4)(r.nextGaussian().toFloat)))
    idx.addAll(rows.toDF("id", "embedding"), "embedding", "id")
    idx.sealPending()
    val m = store.readManifest()
    val sealedIds = m.segments.filter(_.state == graft.core.SegmentState.Sealed).map(_.segId)
    assert(sealedIds.size == 2 && m.active.exists(_.count > 0))
    val queries = rows.take(3).toDF("queryId", "qv")
    def answer() = graft.index.Search.query(spark, store, queries, 5)
      .select("queryId", "gid", "rank").as[(Long, Long, Int)].collect().sorted.toSeq
    val clean = answer()
    graft.index.Search.invalidate(tmp) // the next query reloads the state
    val garbage = "not a parquet file".getBytes("UTF-8")
    for (table <- Seq(store.codesDir, store.graphDir, store.codebooksDir, store.vectorsDir)) {
      // the ACTIVE segment's vectors are its own segment task's to read
      val others = (if (table == store.vectorsDir) Nil else Seq(m.active.get.segId)) :+ 999
      val files = others.map(id => s"segId=$id/part-x.parquet") ++
        Seq("_x", ".x").map(n => s"segId=${sealedIds.head}/$n")
      files.foreach { f =>
        val path = java.nio.file.Paths.get(table, f)
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path, garbage)
      }
    }
    try assert(answer() == clean, "the sealed path read a file outside the sealed segments")
    finally graft.index.Search.invalidate(tmp)
  }

  /** SQL physical plans described while `body` runs (drained through a
    * marker job: the listener bus delivers events in order). */
  private def sqlPlansDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var drained = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ => ()
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id", "") == "plans-drain"))
          drained = true
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("plans-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("repeated sealed queries reuse cached codes/graph inputs (block manager as SegmentCaches)") {
    // the first call populates the per-manifest-version cache; a repeat
    // call must answer from it — identically, with the codes, graph and
    // codebooks directories moved out of reach
    val store = graft.operators.VectorQueries.sealedStore(spark, dir)
    def answer() = SparkEntry.queries("vec_knn_sealed")(spark, dir).collect().map(_.toString).toSeq
    val first = answer()
    val dirs = Seq(store.codesDir, store.graphDir, store.codebooksDir).map(java.nio.file.Paths.get(_))
    def aside(d: java.nio.file.Path) = d.resolveSibling(s"${d.getFileName}.aside")
    dirs.foreach(d => java.nio.file.Files.move(d, aside(d)))
    try assert(answer() == first, "a repeat query did not answer from the cached state")
    finally dirs.foreach(d => java.nio.file.Files.move(aside(d), d))
  }

  test("sealed KNN reads codebooks inside its segment tasks, never via a driver collect") {
    // one codebook is ~786 KB at production shape; a driver collect +
    // broadcast is O(total codebook bytes) on the driver per call and
    // dies at ~10k sealed segments. So: no SQL plan the (cold) query runs
    // scans the codebooks table, and the codebook files are opened by the
    // tasks at execution — moved aside after the driver planned the
    // query, the action fails
    val store = graft.operators.VectorQueries.sealedStore(spark, dir)
    val book = java.nio.file.Paths.get(store.codebooksDir)
    val aside = book.resolveSibling("codebooks.aside")
    graft.index.Search.invalidate(store.path)
    val planned = SparkEntry.queries("vec_knn_sealed")(spark, dir)
    java.nio.file.Files.move(book, aside)
    try intercept[Exception](planned.collect())
    finally {
      java.nio.file.Files.move(aside, book)
      graft.index.Search.invalidate(store.path)
    }
    val plans = sqlPlansDuring(SparkEntry.queries("vec_knn_sealed")(spark, dir).collect())
    assert(plans.nonEmpty)
    plans.foreach(p => assert(!p.contains("/codebooks"), s"a SQL plan scans the codebooks:\n$p"))
  }

  test("range join runs as a bucket equi-join, not a nested-loop range join") {
    val p = plan("rel_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("HashJoin")) // bucket-id equi-join (broadcast or shuffled)
  }

  test("cosine-LSH candidate distinct runs over bare id pairs, not embeddings") {
    // the dedupe of bucket collisions must shuffle two longs per pair;
    // carrying the 2×dim float arrays through the distinct multiplies the
    // shuffle by ~100× at dim 768
    val p = plan("dedup_cosine_lsh")
    // scope to the pair-distinct aggregates: the hot-bucket guard's
    // rep-collapse legitimately groups BY the embedding (one linear pass);
    // only the candidate-PAIR distinct must never carry arrays
    val distincts = p.linesIterator
      .filter(l => l.contains("HashAggregate") &&
        l.contains("doc_a") && l.contains("doc_b")).toSeq
    assert(distincts.nonEmpty)
    assert(distincts.forall(l => !l.contains("emb")))
  }

  test("decontamination matches via a shingle-hash equi-join with the bench side broadcast") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("shingle_hashes")) // native one-pass tokenizer
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin")) // tiny bench side broadcasts
  }

  test("minhash signatures come from the native expressions, not lambda trees") {
    // pinned on the optimized LOGICAL plan: the physical toString hides
    // expressions that collapse into an aggregate's result projection
    // (where minhash_signature now sits, computed once per rep group)
    val lp = SparkEntry.queries("dedup_minhash")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(lp.contains("shingle_hashes"))
    assert(lp.contains("minhash_signature"))
  }

  test("end-to-end pipeline: survivor selection is a window pass, not a self-join") {
    val p = plan("pipeline_end_to_end")
    assert(!p.contains("Join"), s"dedup survivors must not self-join:\n$p")
    // corpus = base ∪ planted copies → exactly two scans of documents
    assert(p.linesIterator.count(_.trim.contains("FileScan")) == 2)
  }

  test("IVF-PQ over a MATERIALIZED index: the ADC scan prunes the embedding column") {
    // the production shape: the index (cluster, id, pq_code, embedding)
    // is built once and persisted; the query-time ADC pass must then read
    // (cluster, id, pq_code) only — pqM bytes per vector, not 4*dim —
    // with the embedding column entering solely via the broadcast-joined
    // rerank scan. (Built inline, the codes derive from the embedding in
    // the same plan, so the pruning claim only exists post-materialize.)
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Ann
    val s = spark
    import s.implicits._
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val model = Ann.trainIvfPq(s, e, "embedding", "vec_id", nlist = 4, pqM = 8, pqK = 16)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    Ann.buildIndexPq(e, "embedding", model).write.mode("overwrite").parquet(idxPath)
    val index = s.read.parquet(idxPath)
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toSeq
    val p = Ann.searchIvfPq(s, index, "vec_id", "embedding", qs, model,
      k = 5, nprobe = 4, rerank = 20).queryExecution.executedPlan.toString
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toList
    assert(schemas.exists(l => l.contains("pq_code") && !l.contains("embedding")),
      s"expected an embedding-free codes scan (the ADC pass):\n${schemas.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), "rerank must broadcast the shortlist")
  }

  test("q8 market share: every dimension joins via broadcast, one fact shuffle") {
    val p = plan("rel_q8_market_share")
    assert(p.linesIterator.count(_.trim.contains("BroadcastHashJoin")) >= 6,
      s"7-way join should broadcast all six dims:\n$p")
    // only the lineitem⋈orders fact join (plus the final agg/sort) shuffles
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 4)
  }

  test("q6: the full predicate pushes to the parquet scan") {
    val p = plan("rel_q6_forecast_revenue")
    // the dump truncates the PushedFilters list — assert the pushdown
    // prefix plus the date/discount/quantity bounds in the Filter node
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains(">= 0.03") && p.contains("<= 0.07"))
    assert(p.contains("< 24.0"))
  }

  test("q21: correlated EXISTS/NOT EXISTS run as hash semi/anti joins, never nested-loop") {
    val p = plan("rel_q21_blame_supplier")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"inequality residual must not force a nested loop:\n$p")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
  }

  test("bloom pre-join: the probe filter sits at the lineitem scan stage") {
    // might_contain must apply BEFORE the join (that is the whole point —
    // cut probe-side shuffle volume)
    val p = plan("rel_bloom_prejoin")
    val joinIdx = p.linesIterator.indexWhere(l =>
      l.contains("Join") && l.contains("o_orderkey"))
    val bloomIdx = p.linesIterator.indexWhere(_.contains("might_contain"))
    assert(bloomIdx >= 0, s"bloom probe filter missing from plan:\n$p")
    assert(joinIdx >= 0, s"join-on-o_orderkey line missing from plan:\n$p")
    assert(bloomIdx > joinIdx, "bloom filter must be below (after) the join node in the tree")
  }

  test("chunking is shuffle-free: tokenize→generate→slice, one exchange for the sort") {
    val p = plan("text_chunk_windows")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1, p)
    // column pruning: only doc_id+text read from the documents scan
    assert(!p.contains("n_chars"))
  }

  test("bpe pair counts prune the documents scan to the text column") {
    val p = plan("text_bpe_pair_counts")
    assert(p.contains("ReadSchema: struct<text:string>"), p)
  }

  test("salted join: salt reaches the shuffle keys and the result equals the plain join") {
    import org.apache.spark.sql.functions.col
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val salted = graft.operators.SkewJoin.saltedInnerJoin(l, o, "l_orderkey", "o_orderkey", 8)
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("__graft_salt"), "salt column must partition the exchange")
      val a = salted.select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val b = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"))
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(a.toSeq == b.toSeq, "salted join must be a pure physical rewrite")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed join: neither side shuffles — the layout carries the partitioning") {
    // force the merge-join path (broadcast would hide the property under test)
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions._
      graft.sources.Bucketing.writeBucketed(
        s.read.parquet(s"$dir/customer.parquet").select("c_custkey", "c_mktsegment"),
        "graft_plan_bkt_cust", "c_custkey", 4)
      graft.sources.Bucketing.writeBucketed(
        s.read.parquet(s"$dir/orders.parquet").select("o_custkey", "o_totalprice"),
        "graft_plan_bkt_ord", "o_custkey", 4)
      val joined = s.table("graft_plan_bkt_ord")
        .join(s.table("graft_plan_bkt_cust"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(p.contains("Bucketed: true"))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("fuzzy join: the block key makes a hash join — no nested loop, no cartesian") {
    val p = plan("rel_fuzzy_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy join must stay an equi-join on the block key:\n$p")
  }

  test("snapshot merge folds the changelog in one window pass — no join anywhere") {
    val p = plan("pipeline_snapshot_merge")
    assert(!p.contains("Join"), s"merge must be a union + window, not a join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("token budget: no corpus-wide sort; the doc window is score-partitioned") {
    val p = plan("pipeline_token_budget")
    // the only acceptable global window runs over the tiny bin table;
    // the per-doc running sum must be hash-partitioned by score
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    val sorts = "(?m)^.*Sort .*$".r.findAllIn(p).size
    assert(p.contains("hashpartitioning(quality_score"),
      s"per-doc cumsum must partition by score bin (sorts seen: $sorts):\n$p")
  }

  test("bm25: query terms and per-term stats broadcast; corpus never cross-joins") {
    val p = plan("text_bm25_topk")
    // the inverted-index property: the corpus-sized postings table joins
    // the (tiny) query-term list and its df slice via broadcast — scoring
    // cost tracks matched postings, never vocabulary or corpus size
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), s"bm25 must not cross-join:\n$p")
    // the 1-row corpus-stats side rides a broadcast nested loop; every
    // OTHER join must stay a hash join — no sort-merge fallback
    assert(!p.contains("SortMergeJoin"),
      s"bm25 joins must broadcast, not sort-merge:\n$p")
  }

  test("q2: part and supplier dims broadcast; correlated min is a window, not a self-join") {
    val p = plan("rel_q2_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"))
    // exactly one Window node computes the per-part min — the q2
    // correlated subquery must not re-aggregate via a second join of ps.
    // (match "Window" as a node-name token, not the Spark-version-specific
    // "Window [" rendering)
    assert(p.linesIterator.count(_.trim.matches("""^[-+*:\s]*\(?\d*\)?\s*Window\b.*""")) === 1, p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q16: pair dedup happens before the part join; excluded suppliers anti-join") {
    val p = plan("rel_q16_supplier_counts")
    assert(p.contains("BroadcastHashJoin"), s"part/exclusion sides must broadcast:\n$p")
    // the census reads exactly two lineitem columns
    assert(p.contains("ReadSchema: struct<l_orderkey") === false)
    assert(!p.contains("l_extendedprice"))
  }

  test("q9: part filter and all dims broadcast — one lineitem-orders shuffle at most") {
    val p = plan("rel_q9_product_profit")
    assert(p.contains("BroadcastHashJoin"))
    // the p_name LIKE filter must reach the part scan, not sit above a
    // join — look for p_name and the literal inside a PushedFilters
    // clause, tolerating renderer changes across Spark versions
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("p_name") && pushed.contains("red"),
      s"LIKE must push to the scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q20: the qualifying-supplier probe is a LEFT SEMI join — no duplicate-row blowup") {
    val p = plan("rel_q20_excess_suppliers")
    assert(p.contains("LeftSemi"), s"supplier probe must be a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("CMS: sketch and top-k probe join via broadcast — the corpus never re-shuffles") {
    val p = plan("text_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), s"sketch probe must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("HLL: register build is one token-keyed aggregation chain — no join of the corpus") {
    val p = plan("text_hll_distinct")
    // since the one-pass refactor there is no join at all: one distinct,
    // one register aggregation, one final global aggregation
    assert(!p.contains("Join"), s"hll must be join-free:\n$p")
  }

  test("classifier scoring is one narrow map stage: no join, no shuffle before the sort") {
    import org.apache.spark.sql.functions.col
    // the raw scoring projection (pre-gate, no ORDER BY) must be
    // exchange-free: tokenize → bucket → weight fold is a single scan
    val p = graft.pipeline.Classifier.scoreDocs(
        spark.read.parquet(s"$dir/documents.parquet"), "text", 64, 3, "graftclf")
      .select(col("doc_id"), col("pred_class"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"classifier must stay narrow:\n$p")
  }

  test("deterministic shuffle assignment is narrow; writeOrder adds exactly one range exchange") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val assign = graft.pipeline.Sampling.deterministicShuffle(d, "doc_id", "s", 8)
      .select(col("doc_id"), col("shard"))
      .queryExecution.executedPlan.toString
    assert(!assign.contains("Exchange"), s"assignment must be narrow:\n$assign")
    val ordered = graft.pipeline.Sampling.writeOrder(
        graft.pipeline.Sampling.deterministicShuffle(d, "doc_id", "s", 8), 4)
      .queryExecution.executedPlan.toString
    assert(ordered.linesIterator.count(_.contains("Exchange rangepartitioning")) == 1,
      s"writeOrder = one range exchange:\n$ordered")
  }

  test("partitioned scan: the priority filter prunes DIRECTORIES, not rows") {
    val p = plan("rel_partitioned_scan")
    // the filter must appear as a PartitionFilters entry on the scan —
    // pruning happens at file listing, before any IO — and must NOT
    // degrade into a post-scan row filter on the partition column
    val scanLine = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("o_orderpriority"))
    assert(scanLine.nonEmpty,
      s"expected the priority predicate in PartitionFilters:\n$p")
    assert(p.contains("o_orderpriority#") || p.contains("o_orderpriority IN"),
      s"partition filter must reference the partition column:\n$p")
  }

  test("chat format render is one narrow map stage — no exchange below the sort") {
    val p = SparkEntry.queries("pipeline_chat_format")(spark, dir)
      .queryExecution.executedPlan.toString
    // the render itself must be shuffle-free; the only exchange allowed
    // is the final presentation orderBy's range partitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"render must not shuffle (only the output sort may):\n$p")
  }

  test("dataset digest is a single two-phase aggregate — one exchange total") {
    val p = SparkEntry.queries("pipeline_dataset_digest")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"digest = partial agg -> single exchange -> final agg:\n$p")
  }

  test("phrase search: the phrase joins broadcast; no cartesian product anywhere") {
    val p = SparkEntry.queries("text_phrase_search")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"phrase search must not go cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row phrase must broadcast onto the postings:\n$p")
  }

  test("ORC round trip: the status filter pushes down to the ORC scan") {
    val p = plan("rel_orc_roundtrip")
    val scanLine = p.linesIterator
      .find(l => l.contains("Scan orc") || l.contains("FileScan orc"))
      .getOrElse("")
    assert(scanLine.nonEmpty, s"expected an ORC scan:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("o_orderstatus"),
      s"status predicate must reach the ORC reader's PushedFilters:\n$p")
  }

  test("snapshot diff shuffles thin projections only — document text never reaches the join") {
    val p = plan("pipeline_corpus_diff")
    // the full-outer join runs on (doc_id, fp) pairs: the text column
    // must be consumed by the fingerprint projection below the exchange
    val joinLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(joinLine.nonEmpty, s"expected a sort-merge full-outer join:\n$p")
    assert(!joinLine.contains("text"), s"join keys must be thin:\n$joinLine")
  }

  test("incremental MV: delta partial-aggregates map-side; the merge never rescans wide rows") {
    // the maintenance plan must be aggregates all the way down — a join
    // anywhere means state was matched row-by-row instead of merged by
    // the partial-agg algebra; partial_sum proves map-side combine
    val p = plan("rel_mv_incremental")
    assert(!p.contains("Join"), s"MV maintenance must be join-free:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"expected partial aggregation:\n$p")
  }

  test("dpo pairs: one keyed aggregate, no window sort, no self-join") {
    // struct-ordered max_by reads each group once; the naive argmax
    // implementation (window row_number or a join back onto the group)
    // reads it twice and adds a per-group sort
    val p = plan("pipeline_dpo_pairs")
    assert(!p.contains("Join"), s"dpo pairs must not self-join:\n$p")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Window") ||
      l.trim.startsWith("+- Window")), s"dpo pairs must not use a window:\n$p")
  }

  test("zipf fit: the vocabulary top-k is a TakeOrdered, never a global sort") {
    val p = plan("text_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected distributed TakeOrdered for the top-k:\n$p")
  }

  test("mad outliers: stats sides broadcast onto the event stream, never a stream shuffle join") {
    val p = plan("rel_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast stats joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the event stream must not sort-merge against its own stats:\n$p")
  }

  test("topic segments: block overlap is an equi-join, never a cartesian/nested loop") {
    val p = plan("text_topic_segments")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"block overlap must stay a keyed equi-join:\n$p")
  }

  test("sequence gaps: the lag window is keyed (no single-partition global sort)") {
    val p = plan("rel_sequence_gaps")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("l_orderkey"),
      s"the gap window must partition on the sequence owner:\n$windowLine")
  }

  test("interleave: the first-N cut is a TakeOrdered, never a full corpus sort") {
    val p = plan("pipeline_interleave_order")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered for the stride cut:\n$p")
  }

  test("edit verify: block-keyed hash join, pruned scan, no nested loop") {
    // the post-LSH verify stage must candidate-generate via the
    // (source, lang, bucket) equi-join — a nested-loop/cartesian here is
    // the all-pairs failure mode; the scan must not read n_chars
    val p = plan("dedup_edit_verify")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit verify grew a non-equi join:\n$p")
    assert(p.contains("HashJoin"), "block key must drive a hash join")
    assert(!p.contains("n_chars"), "scan must prune to the 4 used columns")
  }

  test("epoch shuffle: every per-epoch cut is a TakeOrdered, never a global sort") {
    // 3 epochs → 3 TakeOrdered cuts; a corpus-wide Sort exchange per
    // epoch would be the 100 TB failure mode
    val p = plan("pipeline_epoch_shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered epoch cuts:\n$p")
    val globalSorts = p.linesIterator.count(l =>
      l.contains("Sort ") && l.contains("global=true") && !l.contains("TakeOrdered"))
    assert(globalSorts <= 1, // the ≤300-row presentation sort only
      s"unexpected corpus-wide sorts ($globalSorts):\n$p")
  }

  test("psi drift: ONE aggregation pass — no join, no window, map-side partials") {
    // the 10-bin grid must unroll into conditional counts inside a single
    // grouped aggregate; a per-bin join or window here multiplies the
    // scan at 100 TB
    val p = plan("rel_psi_drift")
    assert(!p.contains("Join"), s"psi grew a join:\n$p")
    assert(!p.contains("Window"), s"psi grew a window:\n$p")
    assert(p.contains("partial"), "bin counts must partial-aggregate map-side")
  }

  test("kappa: ONE grouped pass — the confusion matrix never becomes a join or window") {
    val p = plan("pipeline_kappa_agreement")
    assert(!p.contains("Join"), s"kappa grew a join:\n$p")
    assert(!p.contains("Window"), s"kappa grew a window:\n$p")
    assert(p.contains("partial"), "confusion cells must partial-aggregate map-side")
  }

  test("line boilerplate: equi-joins only, and document text never reaches the df join") {
    // candidate structure is (source, line-hash) — a nested-loop join or
    // a join carrying the full text column is the scale failure mode
    val p = plan("dedup_line_boilerplate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate grew a non-equi join:\n$p")
  }

  test("benford: ONE aggregation pass — digit cells never become a join or window") {
    val p = plan("rel_benford_deviation")
    assert(!p.contains("Join"), s"benford grew a join:\n$p")
    assert(!p.contains("Window"), s"benford grew a window:\n$p")
    assert(p.contains("partial"), "digit counts must partial-aggregate map-side")
  }

  test("threshold sweep: df-pruned equi-join candidates, never a cross join") {
    // the whole sweep must ride ONE candidate generation — an all-pairs
    // variant (ngramJaccardJoin's labeled-oracle shape) here would pay
    // the quadratic cost five times over at corpus scale
    val p = plan("dedup_threshold_sweep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sweep grew a non-equi join:\n$p")
  }

  test("k-anonymity: one equi-join + grouped passes, no window, no cartesian") {
    val p = plan("rel_k_anonymity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"k-anonymity grew a non-equi join:\n$p")
    assert(!p.contains("Window"), s"class sizing must stay a grouped agg:\n$p")
  }

  test("stitch pairs: key equi-join only, never all-pairs") {
    val p = plan("dedup_stitch_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"stitch grew a non-equi join:\n$p")
    assert(p.contains("HashJoin"), "suffix=prefix key must drive a hash join")
  }

  test("heaps vocab: checkpoint table broadcasts onto the vocabulary, no outer join on the big side") {
    val p = plan("text_heaps_vocab")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "vocabulary-sized side entered a sort-merge join")
    assert(!p.contains("CartesianProduct"))
  }

  test("silhouette: one codegen'd pass, no join, only the presentation sort exchanges") {
    val p = plan("cluster_silhouette")
    assert(!p.contains("Join"), "silhouette scoring must not join")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1)
  }

  test("interval coverage: join-free gaps-and-islands, window state only") {
    // the sweep-line must never self-join intervals — a join here is the
    // quadratic overlap shape the window formulation exists to avoid
    val p = plan("rel_interval_coverage")
    assert(!p.contains("Join"), s"interval coverage grew a join:\n$p")
    assert(p.contains("Window"), "island numbering must be a window pass")
  }

  test("cusum changepoint: join-free, cumulative state stays in the window operator") {
    val p = plan("rel_cusum_changepoint")
    assert(!p.contains("Join"), s"cusum grew a join:\n$p")
    assert(p.contains("Window"))
  }

  test("markov transitions: totals join hashes, never nested-loop") {
    val p = plan("rel_markov_transitions")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"markov transitions planned a non-equi join:\n$p")
  }

  test("importance resample: picks broadcast against the cumulative table") {
    // the m-row pick table must be the broadcast side of the interval
    // join — shuffling the corpus against 50 rows is the inverted shape
    val p = plan("pipeline_importance_resample")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast interval join:\n$p")
  }

  test("edge support / square motifs: adjacency joins hash, never cartesian") {
    Seq("graph_edge_support", "graph_motif_square").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q planned a cartesian:\n$p")
    }
  }

  test("funnel paths: top-20 is TakeOrdered, never a global sort of paths") {
    val p = plan("rel_funnel_paths")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("RAKE keywords: word-stats join hashes and top-20 is TakeOrdered") {
    val p = plan("text_keyword_rake")
    assert(!p.contains("CartesianProduct"), s"RAKE planned a cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("cohort retention: cells aggregate partially (no row-level fan-in)") {
    val p = plan("rel_cohort_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"cohort retention planned a non-equi join:\n$p")
  }

  test("r16 stats gates: dimension joins broadcast; no cartesian anywhere") {
    for (q <- Seq("rel_anova_f", "rel_cramers_v")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: customer dimension must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
    }
    for (q <- Seq("graph_k_truss", "rel_ks_test", "rel_kendall_tau",
        "rel_spearman_rho", "rel_mcnemar", "rel_runs_test",
        "rel_friedman_test", "rel_chi2_gof", "rel_tukey_fences",
        "rel_pareto_days")) {
      assert(!plan(q).contains("CartesianProduct"),
        s"$q planned a cartesian")
    }
  }

  test("rank rewrites: no single-partition exchange over un-aggregated fact rows") {
    // rel_entropy_binning / rel_mann_whitney / rel_winsorize_stats used
    // to rank RAW event rows through an unpartitioned Window — one task
    // totally sorting the fact table. The rewrites rank a domain-bounded
    // histogram instead, so every Exchange SinglePartition left in these
    // plans must consume PRE-AGGREGATED data: an aggregate node sits
    // somewhere in its subtree between it and any scan.
    for (q <- Seq("rel_entropy_binning", "rel_mann_whitney",
        "rel_winsorize_stats")) {
      val p = plan(q)
      val lines = p.linesIterator.toVector
      def depth(l: String): Int = {
        val i = l.indexOf("+-"); val j = l.indexOf(":-")
        if (i < 0 && j < 0) 0 else if (i < 0) j else if (j < 0) i
        else math.min(i, j)
      }
      val offenders = lines.zipWithIndex
        .filter(_._1.contains("Exchange SinglePartition"))
        .filterNot { case (l, i) =>
          val d = depth(l)
          lines.drop(i + 1).takeWhile(x => depth(x) > d || depth(x) == 0)
            .exists(x => x.contains("HashAggregate")
              || x.contains("SortAggregate")
              || x.contains("ObjectHashAggregate"))
        }
      assert(offenders.isEmpty,
        s"$q: single-partition exchange over un-aggregated rows at " +
          s"lines ${offenders.map(_._2)}:\n$p")
    }
  }

  test("wedge-class gates ride the shared capped-support machinery: " +
      "merge-walk close, equi-joins only") {
    // graph_edge_support / graph_motif_square / graph_k_truss all call
    // GraphAlgos.{cappedSupport, cappedWedgePairs, kTrussPeel} since
    // r16 (verdict r15 items 3+5). The support body is EAGER since the
    // r16 optimization round (its triangle set feeds three credit legs
    // and is checkpointed once — the final gate plans are LogicalRDD
    // tails), so the adjacency-INTERSECTION form (sorted_intersect merge
    // walk, broadcast adjacency) is pinned at step level on the lazy
    // closedWedges stage in GraphAlgosSpec ("close plan: merge-walk
    // kernel present" + the per-iteration no-cartesian pin). Here we
    // keep the gate-level no-cartesian sweep over whatever stays in
    // front of the checkpoints (edge derivation, final aggregates).
    for (q <- Seq("graph_edge_support", "graph_motif_square", "graph_k_truss")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a cross join:\n$p")
    }
  }

}
