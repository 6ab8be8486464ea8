package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level measurement for checkpoint-internal plans (test scope).
  * The registered gates checkpoint their iterative/expensive stages, so
  * a gate-level explain shows only the LogicalRDD tail — this tool
  * rebuilds the interesting internal stage LAZILY at sf scale, prints
  * its formatted plan, and times it against the noop sink (guide §1.4).
  *
  * Usage: sbt "Test/runMain graft.pipeline.StageProbe <stage> [sfDir] [reps]"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("stage-probe").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    spark.range(1000000).selectExpr("sum(id)").collect()

    def copurchaseParts: DataFrame = {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct()
    }

    def time(label: String, df: => DataFrame): Unit = {
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(label)
        df.write.format("noop").mode("overwrite").save()
        println(f"[stage] $label rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }

    args(0) match {
      case "tri_edges" =>
        time("tri_edges", copurchaseParts)
      case "tri_orient" =>
        val e = copurchaseParts.persist(); e.count()
        time("tri_orient_smj", GraphAlgos.orientByDegree(e).select(col("src"), col("dst")))
        time("tri_orient_bhj", GraphAlgos.orientByDegree(e, broadcastDeg = true)
          .select(col("src"), col("dst")))
      case "tri_close" =>
        val e = copurchaseParts.persist()
        val n = e.count()
        val o = GraphAlgos.orientByDegree(e).select(col("src"), col("dst")).persist()
        o.count()
        val bc = n <= GraphAlgos.BroadcastAdjacencyMaxEdges
        time("tri_close", GraphAlgos.wedgeClose(o, broadcastAdj = bc))
        println(GraphAlgos.wedgeClose(o, broadcastAdj = bc)
          .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      case "ecc" =>
        // graph_eccentricity stage breakdown: edge build+symmetrize,
        // then the 6-round 8-seed forward pass
        def eccEdges: DataFrame = {
          val o = spark.read.parquet(s"$dir/orders.parquet")
            .select(col("o_orderkey"), col("o_custkey"))
          val li = spark.read.parquet(s"$dir/lineitem.parquet")
            .select(col("l_orderkey"), col("l_suppkey"))
          GraphAlgos.symmetrize(o.join(li, col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")))
        }
        time("ecc_edges", eccEdges)
        (1 to reps).foreach { i =>
          val t0 = System.nanoTime()
          val fwd = GraphAlgos.shortestPathCounts(eccEdges,
            sources = Seq(2L, 4L, 6L, 8L, 10L, 12L, 14L, 16L), rounds = 6)
          println(f"[stage] ecc_forward rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s (${fwd.count()} rows)")
        }
      case "ecc_rounds" =>
        // per-round cost split of the forward pass (replicates
        // shortestPathCountsOn with timers around each sub-action)
        import org.apache.spark.sql.graft.SparkShims
        val o = spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_suppkey"))
        val edges = GraphAlgos.symmetrize(
          o.join(li, col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")))
        val sources = Seq(2L, 4L, 6L, 8L, 10L, 12L, 14L, 16L)
        val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
        e.persist()
        var t0 = System.nanoTime()
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val n = nodes.count()
        println(f"[stage] er nodes+materialize: ${(System.nanoTime() - t0) / 1e9}%.3f s (n=$n)")
        import spark.implicits._
        var frontier = sources.toDF("seed")
          .join(nodes, col("seed") === col("node"), "left_semi")
          .select(col("seed"), col("seed").as("node"),
            lit(0L).as("dist"), lit(1L).as("sigma"))
          .localCheckpoint()
        var frontiers = List(frontier)
        for (r <- 1 to 6) {
          t0 = System.nanoTime()
          val cand = e.join(
              broadcast(frontier.select(col("seed"), col("node").as("src"), col("sigma"))),
              Seq("src"))
            .groupBy(col("seed"), col("dst"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("seed"), col("dst").as("node"), col("sigma"))
          val settledKeys = frontiers
            .map(_.select(col("seed"), col("node")))
            .reduce(_ unionByName _)
          val fresh = cand
            .join(broadcast(settledKeys), Seq("seed", "node"), "left_anti")
            .select(col("seed"), col("node"), lit(r.toLong).as("dist"), col("sigma"))
            .localCheckpoint()
          println(f"[stage] er round $r: ${(System.nanoTime() - t0) / 1e9}%.3f s (${fresh.count()} fresh)")
          frontiers ::= fresh
          frontier = fresh
        }
        t0 = System.nanoTime()
        val settled = frontiers.reduce(_ unionByName _).localCheckpoint()
        println(f"[stage] er final union: ${(System.nanoTime() - t0) / 1e9}%.3f s (${settled.count()} rows)")
        frontiers.foreach(SparkShims.unpersistCheckpoint)
      case "heavy" =>
        // phase breakdown of HeavyBench.run (vec_heavy_seal_query)
        import graft.core.{IndexMeta, SearchParams, SegmentState}
        import graft.index.{IndexStore, ManifoldData, Search, SegmentedIndex}
        import spark.implicits._
        (1 to reps).foreach { i =>
          val tmp = java.nio.file.Files.createTempDirectory("graft-heavy-probe").toString
          try {
            def ms(t0: Long): String = f"${(System.nanoTime() - t0) / 1e9}%.3f s"
            val data = spark.range(graft.HeavyBench.N)
              .map(id => (id, ManifoldData.vectorFor(id)))
              .toDF("vec_id", "embedding")
            val store = new IndexStore(tmp)
            store.createOrOpen(IndexMeta("heavy_bench", dimension = ManifoldData.Dim,
              maxSegmentSize = graft.HeavyBench.SegmentSize, pqM = 16, pqK = 256,
              graphDegree = 48, graphBuildBreadth = 128, graphAlpha = 1.2,
              oversample = 4), System.currentTimeMillis())
            val idx = new SegmentedIndex(spark, store)
            var t0 = System.nanoTime()
            idx.addAll(data, "embedding", "vec_id")
            println(s"[stage] heavy rep $i addAll: ${ms(t0)}")
            t0 = System.nanoTime()
            idx.sealPending()
            println(s"[stage] heavy rep $i seal: ${ms(t0)}")
            t0 = System.nanoTime()
            val queriesDf = spark.range(graft.HeavyBench.NumQueries.toLong)
              .map(q => (q, ManifoldData.queryFor(q)))
              .toDF("queryId", "qv")
            val approx = Search.query(spark, store, queriesDf, graft.HeavyBench.K,
                Some(SearchParams.defaults(graft.HeavyBench.K, oversample = 4)))
              .select(col("queryId"), col("gid")).as[(Long, Long)].collect()
            println(s"[stage] heavy rep $i query: ${ms(t0)} (${approx.length} rows)")
            t0 = System.nanoTime()
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("queryId")).orderBy(col("d2").asc, col("gid").asc)
            val truth = store.readVectors(spark).filter(!col("deleted"))
              .crossJoin(broadcast(queriesDf))
              .withColumn("d2", graft.functions.vector.l2_squared(col("embedding"), col("qv")))
              .withColumn("rnk", row_number().over(w))
              .filter(col("rnk") <= graft.HeavyBench.K)
              .select(col("queryId"), col("gid")).count()
            println(s"[stage] heavy rep $i truth: ${ms(t0)} ($truth rows)")
          } finally {
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
          }
        }
      case "cop_pairs" =>
        // co-purchase pair generation: SMJ self-join vs the production
        // pairing (RelationalQueries.copurchasePairSet, ONE grouped
        // aggregation + nested-transform pairing); both ending in the
        // same distinct
        def li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_partkey"))
        def grouped = graft.operators.RelationalQueries.copurchasePairSet(li, "a", "b")
        time("cop_selfjoin_distinct", copurchaseParts)
        time("cop_grouped_distinct", grouped.distinct())
        val a = copurchaseParts.count(); val b = grouped.distinct().count()
        println(s"[stage] cop parity: selfjoin=$a grouped=$b ${if (a == b) "MATCH" else "MISMATCH"}")
        val d = copurchaseParts.exceptAll(grouped.distinct()).count() +
          grouped.distinct().exceptAll(copurchaseParts).count()
        println(s"[stage] cop exceptAll diff rows: $d")
      case "kcore_rounds" =>
        // graph_kcore stage split: co-purchase edge build, percentile-k,
        // then the 4 peel rounds — with partition counts and per-round
        // survivor counts (early-exit candidate: identical count means
        // the peel reached its fixpoint and remaining rounds are no-ops)
        import org.apache.spark.sql.graft.SparkShims
        val e0 = GraphAlgos.symmetrize(copurchaseParts
          .select(col("a").as("src"), col("b").as("dst")))
        var t0 = System.nanoTime()
        val e = e0.select(col("src").cast("long"), col("dst").cast("long"))
        e.persist()
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        val nDeg = deg.count()
        println(f"[stage] kc edges+deg: ${(System.nanoTime() - t0) / 1e9}%.3f s (deg rows=$nDeg, eParts=${e.rdd.getNumPartitions})")
        t0 = System.nanoTime()
        val pos = math.max(1L, math.ceil(0.05 * nDeg).toLong)
        val hist = deg.groupBy(col("c")).agg(count(lit(1)).as("m"))
        val cum = hist.withColumn("cum",
          sum(col("m")).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("c")).rowsBetween(Long.MinValue, 0)))
        val k = cum.filter(col("cum") >= pos)
          .agg(min(col("c"))).head().getLong(0)
        println(f"[stage] kc percentile k: ${(System.nanoTime() - t0) / 1e9}%.3f s (k=$k)")
        t0 = System.nanoTime()
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val n = nodes.count()
        println(f"[stage] kc nodes: ${(System.nanoTime() - t0) / 1e9}%.3f s (n=$n)")
        var alive = nodes.localCheckpoint()
        for (r <- 1 to 4) {
          t0 = System.nanoTime()
          val next = GraphAlgos.survivingDegStep(e, alive, true)
            .filter(col("core_deg") >= k)
            .select(col("src").as("node"))
            .localCheckpoint()
          println(f"[stage] kc round $r: ${(System.nanoTime() - t0) / 1e9}%.3f s (${next.count()} alive)")
          SparkShims.unpersistCheckpoint(alive)
          alive = next
        }
        t0 = System.nanoTime()
        val out = GraphAlgos.survivingDegStep(e, alive, true)
          .select(col("src").as("node"), col("core_deg"))
          .localCheckpoint()
        println(f"[stage] kc final: ${(System.nanoTime() - t0) / 1e9}%.3f s (${out.count()} rows)")
        e.unpersist()
      case "ecc_rounds_wide" =>
        // ecc_rounds with the persisted edge set repartitioned to
        // defaultParallelism BEFORE the loop — tests the hypothesis that
        // AQE coalesces the symmetrize-distinct shuffle to ~1 partition
        // and every round's broadcast-join map side runs single-threaded
        import org.apache.spark.sql.graft.SparkShims
        val o = spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_suppkey"))
        val edges = GraphAlgos.symmetrize(
          o.join(li, col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")))
        val sources = Seq(2L, 4L, 6L, 8L, 10L, 12L, 14L, 16L)
        val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
          .repartition(spark.sparkContext.defaultParallelism)
        e.persist()
        var t0 = System.nanoTime()
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val n = nodes.count()
        println(f"[stage] erw nodes+materialize: ${(System.nanoTime() - t0) / 1e9}%.3f s (n=$n, eParts=${e.rdd.getNumPartitions})")
        import spark.implicits._
        var frontier = sources.toDF("seed")
          .join(nodes, col("seed") === col("node"), "left_semi")
          .select(col("seed"), col("seed").as("node"),
            lit(0L).as("dist"), lit(1L).as("sigma"))
          .localCheckpoint()
        var frontiers = List(frontier)
        for (r <- 1 to 6) {
          t0 = System.nanoTime()
          val cand = e.join(
              broadcast(frontier.select(col("seed"), col("node").as("src"), col("sigma"))),
              Seq("src"))
            .groupBy(col("seed"), col("dst"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("seed"), col("dst").as("node"), col("sigma"))
          val settledKeys = frontiers
            .map(_.select(col("seed"), col("node")))
            .reduce(_ unionByName _)
          val fresh = cand
            .join(broadcast(settledKeys), Seq("seed", "node"), "left_anti")
            .select(col("seed"), col("node"), lit(r.toLong).as("dist"), col("sigma"))
            .localCheckpoint()
          println(f"[stage] erw round $r: ${(System.nanoTime() - t0) / 1e9}%.3f s (${fresh.count()} fresh)")
          frontiers ::= fresh
          frontier = fresh
        }
        frontiers.foreach(SparkShims.unpersistCheckpoint)
      case "bip_edges" =>
        // split of the bipartite edge derivation shared by the
        // pagerank/bfs/katz/hits/lpa/ecc/closeness/harmonic/sssp gates
        val o = spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_suppkey"))
        def raw = o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        time("bip_join_only", raw)
        time("bip_symmetrized", GraphAlgos.symmetrize(raw))
        time("bip_symmetrized_wide",
          GraphAlgos.symmetrize(raw.repartition(spark.sparkContext.defaultParallelism)))
        val e = GraphAlgos.symmetrize(raw)
          .select(col("src").cast("long"), col("dst").cast("long"))
        e.persist()
        var t0 = System.nanoTime()
        println(f"[stage] bip persist+count: ${(System.nanoTime() - t0) / 1e9}%.3f s (${e.count()} edges)")
        t0 = System.nanoTime()
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        println(f"[stage] bip nodes distinct: ${(System.nanoTime() - t0) / 1e9}%.3f s (${nodes.count()} nodes)")
        println(GraphAlgos.symmetrize(raw)
          .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        e.unpersist()
      case "seal_kernel" =>
        // driver-side split of one segment's seal work (the flatMapGroups
        // body): PQ train vs Vamana build vs encode, at the heavy-bench
        // shape (2000 x dim-768, PQ 16x256, degree 48, breadth 128)
        import graft.index.{GraphBuilder, ManifoldData, Pq}
        val vecs: Array[Array[Float]] =
          Array.tabulate(2000)(i => ManifoldData.vectorFor(i.toLong))
        (1 to reps).foreach { i =>
          var t0 = System.nanoTime()
          val cb = Pq.train(vecs.toIndexedSeq, ManifoldData.Dim, 16, 256)
          println(f"[stage] seal_kernel rep $i pq_train: ${(System.nanoTime() - t0) / 1e9}%.3f s")
          t0 = System.nanoTime()
          val graph = GraphBuilder.buildVamanaGraph(vecs, 48, 128, 1.2)
          println(f"[stage] seal_kernel rep $i vamana: ${(System.nanoTime() - t0) / 1e9}%.3f s (deg0=${graph(0).length})")
          t0 = System.nanoTime()
          val codes = vecs.map(v => Pq.encode(cb, v))
          println(f"[stage] seal_kernel rep $i encode: ${(System.nanoTime() - t0) / 1e9}%.3f s (${codes.length})")
        }
      case other =>
        println(s"unknown stage: $other")
    }
    spark.stop()
  }
}
