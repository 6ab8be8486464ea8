package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Self-oracle gates for the hash-based pipeline operators (the DuckDB
  * gate covers the SQL-expressible ones). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** documents plus near-dup copies of every 10th doc. */
  private def corpusNear = {
    val d = docs.select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftmutation")).as("text")))
  }

  test("range join: inclusive bounds, bucket-boundary crossings, no duplicate matches") {
    // bucketWidth 10: interval [8, 23] touches buckets 0,1,2 — a point in
    // each bucket must match exactly once; bounds are inclusive both ends
    val points = Seq(7L, 8L, 15L, 23L, 24L).toDF("p")
    val intervals = Seq((100L, 8L, 23L), (200L, 40L, 40L)).toDF("iid", "s0", "e0")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "s0", "e0", bucketWidth = 10L)
      .select("p", "iid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((8L, 100L), (15L, 100L), (23L, 100L)))
    // degenerate single-point interval matches its own point only
    val got2 = RangeJoin.pointInInterval(Seq(40L).toDF("p"), "p", intervals, "s0", "e0", 10L)
      .select("p", "iid").as[(Long, Long)].collect().toSeq
    assert(got2 == Seq((40L, 200L)))
  }

  test("duplicate clusters: min-label propagation resolves transitive chains") {
    // chain 1-2, 2-3, 3-4 → one cluster labeled 1; isolated pair 10-11 → 10;
    // pair ordering and insertion order must not matter
    val pairs = Seq((3L, 4L), (1L, 2L), (2L, 3L), (11L, 10L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicate clusters: pointer jumping converges a 200-link drift chain within the round budget") {
    // a worst-case drift chain (each doc near-dups only its neighbor):
    // diameter 200 — plain min-label propagation would need 200 rounds;
    // pointer jumping must finish within the default 20
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(chain).as[(Long, Long)].collect()
    assert(got.length == 201 && got.forall(_._2 == 0L))
  }

  test("duplicateClusters keeps its fixpoint contract in the local regime") {
    // the 200-node drift chain needs several pointer-jump rounds: 2 are
    // too few, the default 20 enough. The distributed run sets the local
    // bound to 0.
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def inRegime[T](local: Boolean)(body: => T): T = {
      val prev = GraphAlgos.LocalMaxRows
      try { if (!local) GraphAlgos.LocalMaxRows = 0L; body }
      finally GraphAlgos.LocalMaxRows = prev
    }
    val errors = Seq(true, false).map(local => inRegime(local) {
      intercept[IllegalStateException](Dedup.duplicateClusters(chain, maxRounds = 2)).getMessage
    })
    assert(errors.distinct.size == 1, errors)
    assert(errors.head.contains("duplicateClusters"), errors.head)
    val labels = Seq(true, false).map(local => inRegime(local) {
      Dedup.duplicateClusters(chain).as[(Long, Long)].collect().sorted.toSeq
    })
    assert(labels.head.length == 201 && labels.head == labels(1))
  }

  test("duplicateClusters releases superseded per-round checkpoint storage") {
    val pairs = Seq.tabulate(199)(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b") // one 200-node chain → several pointer-jump rounds
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.duplicateClusters(pairs, maxRounds = 30)
    assert(out.count() == 200L)
    // every superseded round's localCheckpoint must be unpersisted — only
    // the returned labels (and nothing per-round) may remain. New ids
    // only: a GC may clean older RDDs mid-run and net a size delta to 0
    val left = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    assert(left <= 1, s"leaked $left cached RDDs")
  }

  test("minhash-LSH finds every planted near-dup pair; survivors verified by exact jaccard") {
    val got = Dedup.minHashNearDuplicates(corpusNear, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // planted pairs: (id, id+100000) for id % 10 == 0 — jaccard well above 0.5
    val planted = docs.select("doc_id").as[Long].collect()
      .filter(_ % 10 == 0).map(id => (id, id + 100000)).toSet
    assert(planted.subsetOf(got),
      s"missing planted pairs: ${planted.diff(got).take(5)}")
    // soundness: every reported pair really has exact jaccard ≥ 0.5
    val exact = Dedup.ngramJaccardJoin(corpusNear, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact).take(5)}")
  }

  test("simhash blocking is COMPLETE for hamming ≤ 3 (pigeonhole over 4 bands)") {
    val got = Dedup.simHashNearDuplicates(corpusNear, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    got.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 3) }
    // exact oracle: brute-force hamming over all pairs — 3 bit flips cannot
    // touch all four 16-bit bands, so LSH must find exactly these pairs
    val sh = corpusNear.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect()
    val exact = (for {
      (ida, sa) <- sh; (idb, sb) <- sh if ida < idb
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    assert(exact.nonEmpty, "fixture produced no hamming≤3 pairs")
    assert(got.map(g => (g._1, g._2)).toSet == exact)
  }

  test("hot-bucket guard: a 10k identical-doc flood stays linear in the candidate stage") {
    // Before the guard, 10k identical docs all landed in the same
    // (band, bandHash) bucket of EVERY band: a 16 x 10k^2 = 1.6e9-row
    // candidate join. With the guard they collapse to one representative,
    // so the only quadratic term is the (true) 50M-pair OUTPUT, streamed
    // by an equi-join on the group key — this test completing at all is
    // the guard working.
    val n = 10000
    val flood = spark.range(n).select(col("id").as("doc_id"),
      lit("the same exact document text repeated verbatim for the flood case").as("text"))
    val others = Seq(
      (100001L, "a completely different first document about engines and planners"),
      (100002L, "unrelated second text concerning catalyst physical planning rules"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashNearDuplicates(flood.unionByName(others),
      "doc_id", "text", threshold = 0.5)
    assert(out.filter(col("jaccard") =!= 1.0).isEmpty,
      "only identical-doc pairs exist at threshold 0.5 in this corpus")
    assert(out.count() == n.toLong * (n - 1) / 2)
  }

  test("salted band candidates emit EXACTLY the unsalted pair set, hot buckets sliced") {
    // small corpus, aggressive cap: every bucket over 2 docs salts
    val banded = corpusNear.select(col("doc_id"),
        Dedup.shingleHashes(col("text"), 3).as("shingles"))
      .withColumn("sig", Dedup.minHashSignature(col("shingles"), 64))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)),
          b => xxhash64(concat_ws("_", slice(col("sig"), b * 4 + 1, lit(4))), b)))
          .as(Seq("band", "bandHash")))
    val salted = Dedup.bandCandidates(banded, cap = 2)
      .as[(Long, Long)].collect().toSet
    val unsalted = Dedup.bandCandidates(banded, cap = Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(salted == unsalted, s"salting changed the pair set: " +
      s"only-salted=${salted.diff(unsalted).take(3)} only-unsalted=${unsalted.diff(salted).take(3)}")
    assert(salted.nonEmpty)
  }

  test("planted hot band: 2k NEAR-identical-but-distinct docs keep the band join balanced") {
    // every doc shares a long common prefix (which owns all 64 minhash
    // minima, so ALL bands collide across all docs — the adversarial
    // case the identical-content guard can't collapse) plus a unique
    // tail that keeps exact jaccard BELOW threshold: the verify stage
    // must reject all ~2M candidate pairs, and the salted join must
    // grind through them in bounded slices rather than one straggler
    // bucket
    val n = 2000
    val common = (0 until 40).map(i => s"common$i").mkString(" ")
    val planted = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(common + " tail"),
        col("id"), lit(" mid"), col("id"), lit(" end"), col("id")).as("text"))
    val out = Dedup.minHashNearDuplicates(planted, "doc_id", "text",
      threshold = 0.98)
    assert(out.count() == 0L,
      "near-identical-but-distinct docs must be rejected by exact verification")
  }

  test("hot-bucket guard: simhash flood collapses on the sketch value") {
    val n = 3000
    val flood = spark.range(n).select(col("id").as("doc_id"),
      lit("identical content for every row of the simhash flood").as("text"))
    val out = Dedup.simHashNearDuplicates(flood, "doc_id", "text", maxHamming = 3)
    assert(out.filter(col("hamming") =!= 0).isEmpty)
    assert(out.count() == n.toLong * (n - 1) / 2)
  }

  test("hot-bucket guard: identical embeddings collapse before the cosine-LSH bucket join") {
    val n = 2000
    val dim = 16
    val same = array((0 until dim).map(i => lit((0.1f * (i % 5 + 1)))): _*)
    val flood = spark.range(n).select(col("id").as("vec_id"), same.as("embedding"))
    val out = Dedup.cosineNearDuplicatesLsh(flood, "vec_id", "embedding", dim, threshold = 0.95)
    // every pair is the same identical-embedding pair — one distinct value,
    // computed by the same cosine expression as the unguarded join
    assert(out.select("cosine").distinct().count() == 1)
    assert(out.count() == n.toLong * (n - 1) / 2)
  }

  test("int8 quantization: max error bounded by scale/2, codes reconstruct the extremes") {
    val out = embeddings.select(col("vec_id"),
        graft.functions.vector.int8_quant_stats(col("embedding")).as("q"))
      .select(col("vec_id"), col("q.scale"), col("q.codes_l1"),
        col("q.max_abs_err"), col("q.mse"))
      .as[(Long, Double, Long, Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, scale, l1, maxErr, mse) =>
      assert(scale > 0.0, s"vec $id degenerate scale")
      // rounding to the nearest code can miss by at most half a step
      assert(maxErr <= scale / 2 + 1e-12, s"vec $id maxErr $maxErr > scale/2 $scale")
      assert(mse <= maxErr * maxErr + 1e-12)
      // the max-|x| element maps to ±127 exactly, so l1 ≥ 127
      assert(l1 >= 127L)
    }
    // zero vector → all-zero stats (the guard path)
    val z = Seq((0L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
      .select(graft.functions.vector.int8_quant_stats(col("embedding")).as("q"))
      .select(col("q.scale"), col("q.codes_sum"), col("q.max_abs_err"))
      .as[(Double, Long, Double)].head()
    assert(z == ((0.0, 0L, 0.0)))
  }

  test("repetition stats: planted boilerplate and loops score high, clean prose low") {
    val rows = Seq(
      (1L, "menu\nhome\nmenu\nhome\nmenu"),                 // 3 dup lines of 5
      (2L, "buy now buy now buy now buy now"),              // one bigram loops
      (3L, "the quick brown fox jumps over the lazy dog"),  // clean
      (4L, ""), (5L, "single")                              // degenerate
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextAnalysis.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.dup_line_ratio"), col("r.top_bigram_ratio"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 3.0 / 5.0)
    // "buy now"×4 + "now buy"×3 of 7 bigrams
    assert(out(2L)._2 == 4.0 / 7.0)
    assert(out(3L)._1 == 0.0 && out(3L)._2 == 1.0 / 8.0) // 8 distinct bigrams, max count 1
    assert(out(4L) == ((0.0, 0.0)) && out(5L) == ((0.0, 0.0)))
  }

  test("decontamination: verbatim bench docs hit overlap 1.0; df-cap only drops, never invents") {
    val d = docs.select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val exact = Decontaminate.ngramOverlap(
      d, "doc_id", "text", bench, "bench_id", "text", minOverlap = 0.5)
      .as[(Long, Long, Double)].collect()
    // every bench doc is verbatim in the corpus → a self-pair at 1.0
    val selfPairs = exact.filter(p => p._1 == p._2)
    assert(selfPairs.nonEmpty && selfPairs.forall(_._3 == 1.0))
    assert(selfPairs.length == bench.count())

    // df-capped run: a subset of the exact pairs with overlap never higher
    // (shingles are dropped from the join, denominators stay full)
    val capped = Decontaminate.ngramOverlap(
      d, "doc_id", "text", bench, "bench_id", "text", minOverlap = 0.5,
      maxBenchShingleDf = 2)
      .as[(Long, Long, Double)].collect()
    val exactByPair = exact.map(p => (p._1, p._2) -> p._3).toMap
    capped.foreach { case (a, b, ov) =>
      assert(exactByPair.contains((a, b)), s"df-cap invented pair ($a,$b)")
      assert(ov <= exactByPair((a, b)) + 1e-12)
    }
  }

  test("segment dedup: first occurrence survives, copies empty out, partial tail segment kept") {
    val df = Seq(
      (1L, "a b c d e f g"),     // segs: "a b c d", "e f g" (partial tail)
      (2L, "a b c d x y z w"),   // first seg duplicates doc 1's → dropped
      (3L, "a b c d e f g")      // exact copy of doc 1 → fully emptied
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(df, "doc_id", "text", width = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "a b c d e f g"),
      (2L, 2L, 1L, "x y z w"),
      (3L, 2L, 0L, "")))
    // within one doc, a repeated segment is also deduped (position order)
    val self = Seq((9L, "p q r s p q r s")).toDF("doc_id", "text")
    val g2 = Dedup.segmentDedup(self, "doc_id", "text", width = 4)
      .as[(Long, Long, Long, String)].head()
    assert(g2 === ((9L, 2L, 1L, "p q r s")))
  }

  test("semantic dedup: within-cluster smaller-id rule, identical collapse, zero-vector guard") {
    // iterations = 0: assignment under the seed centroids ([1,0] and
    // [0,1], the first two rows by id) — hand-computable geometry
    val vecs = Seq(
      (0L, Array(1f, 0f)),      // cluster 0 seed, rep, no smaller → kept
      (1L, Array(0f, 1f)),      // cluster 1 seed, rep → kept
      (2L, Array(0.99f, 0.01f)), // cluster 0, cos≈0.99995 with id 0 → dup
      (3L, Array(0f, 1f)),      // identical to id 1 → non-rep → dup
      (4L, Array(0f, -1f)),     // cluster 0 (dist² 2 vs 4), cos ≤ 0 → kept
      (5L, Array(0f, 0f)),      // zero vector, tie → cluster 0, kept
      (6L, Array(0f, 0f))       // identical zero: self-cos 0 < tau → KEPT
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(spark, vecs, "vec_id", "embedding",
        k = 2, iterations = 0, tau = 0.95)
      .orderBy("vec_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (0L, 0L, false), (1L, 1L, false), (2L, 0L, true), (3L, 1L, true),
      (4L, 0L, false), (5L, 0L, false), (6L, 0L, false)))
  }

  test("bigram NLL: hand-computed two-doc model; repeated text scores lower") {
    // corpus: "a b a b" + "a b c" → unigrams a:3 b:3 c:1 (N=7, V=3);
    // bigrams: (a,b):3 (b,a):1 (b,c):1
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramNll(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    def p(cuv: Double, cu: Double, cv: Double) =
      0.75 * (cuv + 1) / (cu + 3.0) + 0.25 * (cv + 1) / (7 + 3.0)
    val d1 = -(2 * math.log(p(3, 3, 3)) + math.log(p(1, 3, 3))) / 3
    val d2 = -(math.log(p(3, 3, 3)) + math.log(p(1, 3, 1))) / 2
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq((1L, 3L, r6(d1)), (2L, 2L, r6(d2))))
    assert(got(0)._3 < got(1)._3) // the repetitive doc is more predictable
    // single-token and empty docs contribute no bigram rows
    val short = Seq((1L, "only"), (2L, "  ")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramNll(short, "doc_id", "text").count() === 0L)
  }

  test("oov stats: frequency-cut vocabulary with lexicographic tie-break") {
    // freq: common:3; rare/tie1/tie2: 1 each → V=2 keeps common + rare
    // (ties broken lexicographically: rare < tie1 < tie2)
    val df = Seq((1L, "common common rare"), (2L, "common tie1 tie2"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.oovStats(df, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 3L, 0L, 0.0), (2L, 3L, 2L, 0.666667)))
  }

  test("bm25: hand-computed three-doc model; tf saturation and idf weighting") {
    // corpus: d1 "cat dog", d2 "cat cat fish", d3 "bird"
    // N=3, dl = 2/3/1, avgdl = 2.0; df: cat=2 dog=1 fish=1 bird=1
    val df = Seq((1L, "cat dog"), (2L, "cat cat fish"), (3L, "bird")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(df, "doc_id", "text", Seq(0 -> Seq("cat")), k = 10)
      .orderBy("rank").as[(Int, Long, Long, Double)].collect().toSeq
    def bm25(tf: Double, dfT: Double, dl: Double) =
      math.log(1 + (3 - dfT + 0.5) / (dfT + 0.5)) *
        tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d2 (tf=2) outscores d1 (tf=1); d3 has no matching term
    assert(got === Seq(
      (0, 2L, 1L, r6(bm25(2, 2, 3))),
      (0, 1L, 2L, r6(bm25(1, 2, 2)))))
    // a rarer term (df=1) outweighs a commoner one (df=2) at equal tf/dl
    val got2 = Retrieval.bm25TopK(df, "doc_id", "text",
        Seq(0 -> Seq("dog"), 1 -> Seq("cat")), k = 1)
      .orderBy("query_id").as[(Int, Long, Long, Double)].collect().toSeq
    assert(got2.map(_._2) === Seq(1L, 2L))
    assert(got2(0)._4 > r6(bm25(1, 2, 2))) // idf(dog) > idf(cat) at same shape
  }

  test("rrf fusion: consensus docs beat single-list docs; c damps rank gaps") {
    val lex = Seq((0, 10L, 1L), (0, 11L, 2L), (0, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((0, 11L, 1L), (0, 13L, 2L), (0, 10L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(lex, dense), k = 10)
      .orderBy("rank").as[(Int, Long, Long, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 11: 1/62+1/61 > 10: 1/61+1/63 > 13: 1/62 > 12: 1/63
    assert(got.map(_._2) === Seq(11L, 10L, 13L, 12L))
    assert(got(0)._4 === r6(1.0 / 62 + 1.0 / 61))
    assert(got(1)._4 === r6(1.0 / 61 + 1.0 / 63))
    assert(got(2)._4 === r6(1.0 / 62))
  }

  test("sign projection: kernel matches a scalar replay; JL distortion bounded") {
    // kernel parity against a scalar replay of the same md5 sign matrix
    val v = Array(1.5f, -2.0f, 0.25f, 3.0f)
    val df = Seq(Tuple1(v)).toDF("vec")
      .select(Embeddings.signRandomProject(col("vec"), 3, 4).as("p"))
    val got = df.as[Seq[Double]].collect().head
    val want = (0 until 3).map { i =>
      val acc = (0 until 4).map(j => Embeddings.projSign(i, j) * v(j)).sum
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got === want)

    // the JL guarantee on real data: projected cosine tracks exact cosine
    // (64 -> 32 dims) — bounded mean distortion, positive correlation
    val proj = embeddings
      .withColumn("p", Embeddings.signRandomProject(col("embedding"), 32, 64))
    val qs = proj.filter(col("vec_id") >= 15 && col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("p").as("qp"), col("embedding").as("qv"))
    val pairs = proj.crossJoin(qs)
      .select(
        Embeddings.cosineRounded(col("p"), col("qp")).as("cp"),
        Embeddings.cosineRounded(
          transform(col("embedding"), _.cast("double")),
          transform(col("qv"), _.cast("double"))).as("ce"))
    val (meanErr, corrPE) = pairs
      .agg(avg(abs(col("cp") - col("ce"))), corr(col("cp"), col("ce")))
      .as[(Double, Double)].collect().head
    assert(meanErr <= 0.2, s"mean |Δcos| $meanErr")
    assert(corrPE >= 0.45, s"corr $corrPE")
  }

  test("sq8: codes match a scalar replay; bounded shortlist keeps high recall") {
    // scalar replay of round(x*127/maxAbs) incl. negative-half rounding
    // (HALF_UP = away from zero) and the all-zero convention
    val v = Array(0.5f, -1.0f, 0.25f, -0.125f)
    val got = Seq(Tuple1(v), Tuple1(Array(0f, 0f, 0f, 0f))).toDF("vec")
      .select(Ann.quantizeSq8(col("vec")).as("c")).as[Seq[Byte]].collect()
    def replay(x: Array[Float]) = {
      val m = x.map(e => math.abs(e.toDouble)).max
      if (m == 0) x.map(_ => 0.toByte).toSeq
      else x.map(e => BigDecimal(e.toDouble * 127.0 / m)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toByte).toSeq
    }
    assert(got(0) === replay(v))
    assert(got(1) === Seq[Byte](0, 0, 0, 0))

    // recall@10 of the bounded-shortlist regime vs exact brute force
    import scala.jdk.CollectionConverters._
    val e = embeddings
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toSeq
    val approx = Ann.searchSq8(spark, e, "vec_id", "embedding", qs, k = 10, shortlist = 20)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Ann.searchBrute(spark, e, "vec_id", "embedding", qs, k = 10)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall@10 (shortlist 20) = $recall")
  }

  test("LLR collocations: driver replay of the 2x2 table; evidence mass outranks rarity") {
    // two PERFECTLY associated pairs of different evidence mass
    // ("alpha beta" x20 vs "gamma delta" x6; each word appears only in
    // its pair) + 18 one-off filler bigrams that only widen N
    val lines = List.fill(20)("alpha beta") ++ List.fill(6)("gamma delta") ++
      (0 until 18).map(i => s"f$i g$i").toList
    val df = lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = TextAnalysis.llrBigrams(df, "text", k = 10, minCount = 5L)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    def xlogx(x: Long): Double = if (x <= 0) 0.0 else x.toDouble * math.log(x.toDouble)
    // every line is one bigram: N = 44
    def llr(c12: Long, c1: Long, c2: Long, n: Long): Double = {
      val raw = 2.0 * (xlogx(c12) + xlogx(c1 - c12) + xlogx(c2 - c12) +
        xlogx(n - c1 - c2 + c12) - xlogx(c1) - xlogx(n - c1) -
        xlogx(c2) - xlogx(n - c2) + xlogx(n))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    assert(got("alpha beta") === ((20L, llr(20, 20, 20, 44))))
    assert(got("gamma delta") === ((6L, llr(6, 6, 6, 44))))
    // the evidence-mass property: at EQUAL (perfect) association the
    // heavier pair carries more LLR — where PMI scores the rarer pair
    // HIGHER (ln(N/c1): ln(44/6) > ln(44/20)), the over-rewarding of
    // rarity LLR exists to fix
    assert(got("alpha beta")._2 > got("gamma delta")._2)
  }

  test("hamming: packed sign words match a scalar replay; bounded shortlist keeps high recall") {
    import graft.functions.vector
    // packing replay: 32 components per word, MSB-first, bit = (x > 0)
    // — incl. the strict-positivity of 0.0 and a 3-component tail word
    val v = Array(1.0f, -2.0f, 0.0f, 0.5f) ++ Array.fill(30)(-1.0f) ++ Array(3.0f)
    val got = Seq(Tuple1(v)).toDF("vec")
      .select(vector.binarize_sign(col("vec")).as("c")).as[Seq[Long]].collect().head
    def replay(x: Array[Float]): Seq[Long] =
      x.grouped(32).map(_.foldLeft(0L)((acc, e) => acc * 2 + (if (e > 0f) 1L else 0L))).toSeq
    assert(got === replay(v))
    assert(got.length === 2) // 35 components -> 2 words

    // kernel parity: hamming_dist == driver popcount over the replay
    val a = Array(1.0f, -1.0f, 1.0f, -1.0f)
    val b = Array(1.0f, 1.0f, -1.0f, -1.0f)
    val hd = Seq((a, b)).toDF("a", "b")
      .select(vector.hamming_dist(
        vector.binarize_sign(col("a")), vector.binarize_sign(col("b"))))
      .as[Long].collect().head
    assert(hd === 2L)

    // recall@10 of the bounded-shortlist regime vs exact brute force
    val e = embeddings
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toSeq
    // dim-64 -> 64 sign bits: a coarse sketch (SQ8 keeps 8 bits/dim,
    // this keeps 1), so the candidate set must be wider for the same
    // recall — the 1-vs-8-bit budget trade the tiers exist to offer
    val approx = Ann.searchHamming(spark, e, "vec_id", "embedding", qs, k = 10, shortlist = 100)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Ann.searchBrute(spark, e, "vec_id", "embedding", qs, k = 10)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"hamming recall@10 (shortlist 100) = $recall")
  }

  test("CDC chunk near-dup: catches the appended revision; boilerplate cap blocks hot-fp pairs") {
    val rnd = new scala.util.Random(13)
    def doc(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(100000)}").mkString(" ")
    val t1 = doc(150)
    val t2 = doc(150)
    val corpus = Seq((1L, t1), (2L, t2), (101L, t1 + " appendededit"))
      .toDF("doc_id", "text")
    val pairs = Dedup.cdcChunkNearDuplicates(corpus, "doc_id", "text",
        avgTokens = 8, threshold = 0.5, maxDocsPerChunk = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 101L)), s"revision pair missing: $pairs")
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 101L)),
      s"unrelated docs must not pair: $pairs")

    // boilerplate guard: 60 docs share an identical header chunk but
    // have unrelated bodies — with the cap at 50 the hot fp never
    // enters the self-join and no pair forms; raising the cap above 60
    // readmits it (the fan-out the cap exists to bound)
    val header = doc(40)
    val boiler = (1 to 60).map(i => (i.toLong, header + " " + doc(100))).toDF("doc_id", "text")
    val capped = Dedup.cdcChunkNearDuplicates(boiler, "doc_id", "text",
      avgTokens = 8, threshold = 0.15, maxDocsPerChunk = 50).count()
    val uncapped = Dedup.cdcChunkNearDuplicates(boiler, "doc_id", "text",
      avgTokens = 8, threshold = 0.15, maxDocsPerChunk = 100).count()
    assert(capped === 0L, s"capped run must produce no boilerplate pairs, got $capped")
    assert(uncapped > 0L, "without the cap the shared header must pair docs")
  }

  test("pca power iteration: finds the planted dominant axis; matches a scalar replay") {
    // anisotropic cloud: variance 18 along (1,1)/√2, variance 2 along (1,-1)/√2
    val pts = Seq((0L, Array(3f, 3f)), (1L, Array(-3f, -3f)),
      (2L, Array(1f, -1f)), (3L, Array(-1f, 1f)))
    val got = Embeddings.pcaPowerIteration(spark, pts.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .orderBy("dim_idx").as[(Int, Double, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // scalar replay with the same snapping
    val c = pts.map(_._2.map(_.toDouble)) // means are 0
    var v = Array(1.0, 0.0); var lam = 0.0
    (1 to 3).foreach { _ =>
      val s = c.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val w = Array(0, 1).map(j => c.zip(s).map { case (row, si) => row(j) * si }.sum)
      lam = math.sqrt(w.map(x => x * x).sum)
      v = w.map(x => r6(x / lam))
    }
    val lamR = BigDecimal(lam).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq((0, v(0), lamR), (1, v(1), lamR)))
    // the planted dominant axis is (1,1)/√2 with Gram eigenvalue 36;
    // after 3 rounds the residual is O((λ2/λ1)^3) = (4/36)^3 ≈ 1.4e-3
    assert(math.abs(got(0)._2 - 0.707107) < 2e-3 && math.abs(got(1)._2 - 0.707107) < 2e-3)
    assert(math.abs(got(0)._3 - 36.0) < 0.2)
  }

  test("source overlap: hand-computed jaccard; disjoint sources emit no pair") {
    val df = Seq(
      (1L, "a b c d", "s1"),       // shingles: {abc, bcd}
      (2L, "a b c e", "s2"),       // shingles: {abc, bce} — shares abc with s1
      (3L, "x y z w", "s3"))       // disjoint
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(df, "text", "source")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(("s1", "s2", 1L, 0.333333))) // 1 / (2 + 2 - 1)
  }

  test("token budget select: matches a driver-side greedy replay; prefix stop holds") {
    val budget = 800L
    val got = Sampling.tokenBudgetSelect(docs, "doc_id", "text", budget)
      .as[(Long, Double, Long, Long, Boolean)].collect()
      .sortBy(_._1)
    // replay: sort by (score desc, id), running token sum, prefix cut
    var cum = 0L
    val replay = got.sortBy(r => (-r._2, r._1)).map { r =>
      cum += r._3
      (r._1, cum, cum <= budget)
    }.map(r => r._1 -> (r._2, r._3)).toMap
    got.foreach { case (id, _, _, cumGot, keptGot) =>
      assert((cumGot, keptGot) === replay(id), s"doc $id")
    }
    // the budget genuinely bites: some kept, some dropped
    assert(got.exists(_._5) && got.exists(!_._5))
  }

  test("snapshot merge: latest wins, deletes tombstone, later upsert resurrects, new keys insert") {
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "v")
    val log = Seq(
      (1L, "one'", 1L, "U"),   // plain update
      (2L, "", 1L, "D"),       // delete
      (3L, "", 1L, "D"), (3L, "three'", 2L, "U"), // delete then resurrect
      (4L, "four", 1L, "U"),   // insert (no base row)
      (5L, "", 1L, "D"))       // delete of a key that never existed
      .toDF("k", "v", "version", "op")
    val got = Snapshot.merge(base, log, "k", "version", "op")
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((1L, "one'", 1L), (3L, "three'", 2L), (4L, "four", 1L)))
    // same-version tie breaks toward delete (the safety convention)
    val tie = Seq((1L, "x", 1L, "U"), (1L, "", 1L, "D")).toDF("k", "v", "version", "op")
    assert(Snapshot.merge(base.filter(col("k") === 1), tie, "k", "version", "op").count() === 0L)
  }

  test("snapshot fold: retained tombstones make the fold order-robust (no delete resurrection)") {
    val state = Seq((1L, "one", 0L), (2L, "two", 0L)).toDF("k", "v", "version")
    // batch 1 deletes key 1 at version 2 — the tombstone is RETAINED in
    // the carried state (not just dropped from the live view)
    val b1 = Seq((1L, "", 2L, "D")).toDF("k", "v", "version", "op")
    val s1 = Snapshot.fold(state, b1, "k", "version", "op")
    assert(Snapshot.finish(s1, "op").orderBy("k")
      .as[(Long, String, Long)].collect().toSeq === Seq((2L, "two", 0L)))
    assert(s1.filter(col("k") === 1L && col("op") === "D").count() === 1L)
    // an OUT-OF-ORDER batch carrying an upsert at a version BELOW the
    // applied delete must NOT resurrect key 1: the v2 tombstone wins
    val b2 = Seq((1L, "one-stale", 1L, "U")).toDF("k", "v", "version", "op")
    val s2 = Snapshot.fold(s1, b2, "k", "version", "op")
    assert(Snapshot.finish(s2, "op").filter(col("k") === 1L).count() === 0L)
    // any batching order finishes to the one-shot merge (incl. versions)
    val oneShot = Snapshot.merge(state, b1.unionByName(b2), "k", "version", "op")
    val folded = Snapshot.finish(s2, "op")
    assert(folded.exceptAll(oneShot).isEmpty && oneShot.exceptAll(folded).isEmpty)
    // tombstone GC: below-horizon deletes reclaimed, upserts never
    val compacted = Snapshot.compactState(s2, "version", "op", horizon = 3L)
    assert(compacted.filter(col("op") === "D").count() === 0L)
    assert(compacted.filter(col("op") === "U").count() ===
      s2.filter(col("op") === "U").count())
  }

  test("fuzzy join: in-block edits match, prefix edits escape, distance cap holds") {
    val canon = Seq("small ring", "red widget").toDF("name")
    val dirty = Seq(
      "smll ring",   // 3rd char dropped -> dist 1, same prefix: matches
      "xed widget",  // first char edited -> escapes the 2-char block
      "sm ring")     // dist 3 from "small ring": inside block, over cap
      .toDF("q")
    val got = FuzzyJoin.blockedJoin(dirty, canon, "q", "name", maxDist = 1, prefixLen = 2)
      .select("q", "name", "edit_dist").as[(String, String, Int)].collect().toSeq
    assert(got === Seq(("smll ring", "small ring", 1)))
  }

  test("hard negatives: same-label vectors are excluded even when nearest") {
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // anchor
      (1L, Array(0.99f, 0.1f), 0),  // nearest overall — same label, excluded
      (2L, Array(0.9f, 0.3f), 1),   // nearest other-label
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(-1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val anchors = rows.filter(col("vec_id") === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("qv"),
        col("label").as("anchor_label"))
    val got = Embeddings.hardNegatives(rows, "vec_id", "embedding", "label", anchors, k = 2)
      .select("negative_id", "rank").as[(Long, Long)].collect().toSeq
    assert(got === Seq((2L, 1L), (3L, 2L)))
  }

  test("incremental near-dup: base copies and near-copies die, fresh and truncated survive") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // verbatim → rejected (base)
      (102L, "completely different fresh content words here"),            // survivor
      (103L, "completely different fresh content words here"),            // identical to 102 → rejected
      // one token appended to base doc 1: J = 8/9 → rejected (base)
      (104L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      (105L, "completely different fresh content words here"),            // identical to 102 → rejected
      (106L, "unrelated corpus material nothing shared")                  // survivor
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDupSurvivors(base, delta, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === Seq(102L, 106L))
  }

  test("weighted sample: k rows, deterministic under repartition, ES key formula") {
    val d = docs.select(col("doc_id"), col("n_chars"))
    val got = Sampling.weightedSample(d, "doc_id", "n_chars", k = 50)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.size === 50)
    // pure function of (id, weight): a different partitioning yields the
    // exact same sample
    val got2 = Sampling.weightedSample(d.repartition(7), "doc_id", "n_chars", k = 50)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === got2)
    // the key is round(u^(1/w), 9) with u from the multiplicative hash
    got.foreach { case (id, w, key) =>
      val u = ((id % 2147483647L) * 2654435761L % 1000000L + 1).toDouble / 1000000.0
      val expect = BigDecimal(math.pow(u, 1.0 / w))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(key === expect, s"key mismatch for id=$id w=$w")
    }
  }

  test("quality filter: threshold is the k-th largest per source, ties all survive") {
    val got = TextAnalysis.qualityThresholdFilter(
        docs, "doc_id", "text", "source", keepNum = 4, keepDen = 5)
      .as[(Long, String, Double, Double, Boolean)].collect().toSeq
    assert(got.size === docs.count())
    got.groupBy(_._2).foreach { case (_, rows) =>
      val n = rows.size
      val k = (4 * n + 4) / 5
      val kth = rows.map(_._3).sorted(Ordering[Double].reverse).apply(k - 1)
      assert(rows.forall(_._4 === kth))             // threshold = k-th largest
      rows.foreach(r => assert(r._5 === (r._3 >= kth)))
      assert(rows.count(_._5) >= k)                 // at least ceil(4n/5) kept
    }
    // degenerate: every score identical → threshold == the score, all kept
    val same = Seq((1L, "same text", "s"), (2L, "same text", "s"),
      (3L, "same text", "s")).toDF("doc_id", "text", "source")
    val g2 = TextAnalysis.qualityThresholdFilter(same, "doc_id", "text", "source", 1, 2)
      .as[(Long, String, Double, Double, Boolean)].collect().toSeq
    assert(g2.forall(_._5) && g2.size === 3)
  }

  test("nearest-centroid classify: fit on labels, mislabeled point crosses back") {
    val rows = Seq(
      (1L, Array(1f, 0f), 10),
      (2L, Array(0.9f, 0.1f), 10),
      (3L, Array(0f, 1f), 20),
      (4L, Array(0.1f, 0.9f), 20),
      (5L, Array(0.8f, 0.2f), 10),
      (6L, Array(0.7f, 0.3f), 20)  // labeled 20, sits in label-10 territory
    ).toDF("vec_id", "embedding", "label")
    val got = Embeddings.nearestCentroidClassify(spark, rows,
        "vec_id", "embedding", "label")
      .orderBy("vec_id")
      .select(col("vec_id"), col("predicted_label"), col("correct"))
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got === Seq((1L, 10L, true), (2L, 10L, true), (3L, 20L, true),
      (4L, 20L, true), (5L, 10L, true), (6L, 10L, false)))
  }

  test("exact dedup groups identical normalized texts") {
    val d = docs.select("doc_id", "text")
    val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val dups = Dedup.exactDuplicates(corpus, "doc_id", "text")
      .filter(col("group_size") > 1)
    val n = docs.filter(col("doc_id") % 10 === 0).count()
    assert(dups.count() == 2 * n) // each planted copy + its original
    // canonical is always the minimum id of the group
    assert(dups.filter(col("canonical_id") > col("doc_id")).count() == 0)
  }

  test("cosine LSH finds planted high-similarity pairs (recall ≥ 0.9 at threshold 0.95)") {
    val dim = embeddings.select(size(col("embedding"))).first().getInt(0)
    val perturbed = embeddings.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          v + when(i === 0, 0.01f).otherwise(0.0f)).as("embedding"))
    val corpus = embeddings.select("vec_id", "embedding").unionByName(perturbed)
    val exact = Dedup.cosineNearDuplicatesExact(corpus, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.cosineNearDuplicatesLsh(corpus, "vec_id", "embedding", dim, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact)) // verification step guarantees soundness
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("ANN trainer dispatch: dim >= 256 defaults to distributed k-means; forceSampled pins the classic path") {
    // widen the dim-64 embeddings to dim 256 to cross the threshold
    val wide = embeddings.select(col("vec_id"),
      flatten(array(Seq.fill(4)(col("embedding")): _*)).as("embedding"))
    val dflt = Ann.trainIvf(spark, wide, "embedding", "vec_id", nlist = 4)
    val dist = Ann.trainIvfDistributed(spark, wide, "embedding", "vec_id", nlist = 4)
    assert(dflt.dim == 256 && dflt.centroids.sameElements(dist.centroids),
      "default trainer at dim >= 256 must be the distributed k-means")
    val pinned = Ann.trainIvf(spark, wide, "embedding", "vec_id", nlist = 4,
      forceSampled = true)
    assert(pinned.dim == 256 && pinned.nlist == 4)
    // below the threshold nothing changes: the dim-64 default path is
    // still the deterministic-sample trainer
    val narrow = Ann.trainIvf(spark, embeddings, "embedding", "vec_id", nlist = 4)
    val narrowPinned = Ann.trainIvf(spark, embeddings, "embedding", "vec_id",
      nlist = 4, forceSampled = true)
    assert(narrow.centroids.sameElements(narrowPinned.centroids))
  }

  test("IVF ANN recall@10 ≥ 0.8 vs brute force (nlist=16, nprobe=8)") {
    val model = Ann.trainIvf(spark, embeddings, "embedding", "vec_id", nlist = 16)
    val index = Ann.buildIndex(embeddings, "embedding", model)
    val qs = embeddings.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toSeq
    val ivf = Ann.searchIvf(spark, index, "vec_id", "embedding", qs, model, k = 10, nprobe = 8)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = Ann.searchBrute(spark, embeddings, "vec_id", "embedding", qs, k = 10)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = qs.map { case (qid, _) =>
      ivf.getOrElse(qid, Set.empty).intersect(brute(qid)).size
    }.sum
    val recall = hits.toDouble / (qs.size * 10)
    assert(recall >= 0.8, s"IVF recall@10 = $recall")
  }

  test("repeated n-gram spans: hand-checked maximal runs, cross-doc only") {
    // doc 1 and 2 share the 6-token passage "the quick brown fox jumps high"
    // (4 consecutive 3-grams); doc 3 is disjoint; doc 4 repeats a 3-gram
    // WITHIN itself only (no other doc has it) so it must NOT span.
    val fixture = Seq(
      (1L, "alpha beta the quick brown fox jumps high gamma delta"),
      (2L, "the quick brown fox jumps high omega"),
      (3L, "completely unrelated tokens about spark physical planning"),
      (4L, "self self self self repeat repeat zz self self self self")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedNgramSpans(fixture, "doc_id", "text", shingleK = 3)
      .as[(Long, Int, Long)].collect().toSet
    // doc 1: tokens 2..7 → grams at pos 2..5 (run 4) → span (2, 6)
    // doc 4: "self self self" appears at positions 0,1 and 7,8 — but only
    // within doc 4, so no cross-doc gram, no span.
    assert(spans == Set((1L, 2, 6L), (2L, 0, 6L)), s"got $spans")
  }

  test("IVF-PQ ADC + exact rerank: recall@10 ≥ 0.8 under real pruning, exact at full config") {
    val model = Ann.trainIvfPq(spark, embeddings, "embedding", "vec_id",
      nlist = 16, pqM = 8, pqK = 64)
    val index = Ann.buildIndexPq(embeddings, "embedding", model)
    val qs = embeddings.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toSeq
    val brute = Ann.searchBrute(spark, embeddings, "vec_id", "embedding", qs, k = 10)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // pruned config: nprobe=8 of 16, rerank=10×k of a probed set ~half the
    // corpus — the ADC ordering is load-bearing here, not a no-op
    val pruned = Ann.searchIvfPq(spark, index, "vec_id", "embedding", qs, model,
        k = 10, nprobe = 8, rerank = 100)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = qs.map { case (qid, _) =>
      pruned.getOrElse(qid, Set.empty).intersect(brute(qid)).size
    }.sum
    val recall = hits.toDouble / (qs.size * 10)
    assert(recall >= 0.8, s"IVF-PQ recall@10 = $recall")

    // gate config (nprobe=nlist, exhaustive rerank) must equal brute force
    val full = Ann.searchIvfPq(spark, index, "vec_id", "embedding", qs, model,
        k = 10, nprobe = 16, rerank = Int.MaxValue)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qs.foreach { case (qid, _) => assert(full(qid) == brute(qid), s"query $qid") }
  }

  test("residual IVF-PQ: codes replay the driver residual encode; ADC beats raw PQ; exact at full config") {
    val qs = embeddings.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toSeq
    val brute = Ann.searchBrute(spark, embeddings, "vec_id", "embedding", qs, k = 10)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(got: Map[Long, Set[Long]]): Double =
      qs.map { case (qid, _) =>
        got.getOrElse(qid, Set.empty).intersect(brute(qid)).size
      }.sum.toDouble / (qs.size * 10)

    val rm = Ann.trainIvfPqResidual(spark, embeddings, "embedding", "vec_id",
      nlist = 16, pqM = 8, pqK = 64)
    val rIndex = Ann.buildIndexPqResidual(embeddings, "embedding", rm)

    // code parity: zip_with residual + pq_encode column == driver-side
    // residual + JVM Pq.encode, byte-for-byte (same IEEE float subtract)
    val viaCol = rIndex.select(col("vec_id"), col("cluster"), col("pq_code"))
      .as[(Long, Int, Array[Byte])].collect()
    val embMap = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    viaCol.foreach { case (id, cl, code) =>
      val x = embMap(id)
      val c = rm.ivf.centroid(cl)
      val r = Array.tabulate(x.length)(i => x(i) - c(i))
      assert(java.util.Arrays.equals(code, graft.index.Pq.encode(rm.codebook, r)), s"vec $id")
    }

    // ADC precision: with NO exact rerank (rerank = k), the residual
    // codes' top-10 should recover more of the true top-10 than raw-PQ
    // codes at the identical byte budget — the property residual
    // encoding exists for
    val raw = Ann.trainIvfPq(spark, embeddings, "embedding", "vec_id",
      nlist = 16, pqM = 8, pqK = 64)
    val rawAdc = recallOf(
      Ann.searchIvfPq(spark, Ann.buildIndexPq(embeddings, "embedding", raw),
          "vec_id", "embedding", qs, raw, k = 10, nprobe = 16, rerank = 10)
        .select("queryId", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    val resAdc = recallOf(
      Ann.searchIvfPqResidual(spark, rIndex, "vec_id", "embedding", qs, rm,
          k = 10, nprobe = 16, rerank = 10)
        .select("queryId", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    assert(resAdc >= rawAdc,
      s"residual ADC recall $resAdc should be >= raw-PQ ADC recall $rawAdc")
    // pure ADC with zero rerank margin is the hardest config (8 dims per
    // subspace at dim 64) — the floor just pins "codes carry signal"
    // (residual measured 0.46 on this corpus, raw-PQ at or below it);
    // a 10x-k rerank margin must recover high recall (0.88 at 5x)
    assert(resAdc >= 0.35, s"residual pure-ADC recall@10 = $resAdc")
    val resRerank = recallOf(
      Ann.searchIvfPqResidual(spark, rIndex, "vec_id", "embedding", qs, rm,
          k = 10, nprobe = 16, rerank = 100)
        .select("queryId", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    assert(resRerank >= 0.9, s"residual recall@10 at rerank=100 = $resRerank")

    // gate config (nprobe=nlist, exhaustive rerank) must equal brute force
    val full = Ann.searchIvfPqResidual(spark, rIndex, "vec_id", "embedding", qs, rm,
        k = 10, nprobe = 16, rerank = Int.MaxValue)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qs.foreach { case (qid, _) => assert(full(qid) == brute(qid), s"query $qid") }
  }

  test("PCA-PQ: rotation is orthonormal + decorrelating; kernel matches driver; ADC gains on anisotropic data") {
    // planted anisotropic cloud (dim 8): a shared latent factor drives
    // every dimension with different gains + small noise — raw dims are
    // strongly correlated, exactly the regime PQ loses code budget in
    val dim = 8
    val rnd = new scala.util.Random(17)
    val gains = Array(4.0, 3.5, 3.0, 2.5, -2.0, 1.5, 1.0, 0.5)
    val data = (0 until 600).map { i =>
      val u = rnd.nextDouble() * 2 - 1
      Array.tabulate(dim)(j => (gains(j) * u + 0.3 * (rnd.nextDouble() * 2 - 1)).toFloat)
    }
    val rot = Rotation.trainPca(data, dim)

    // orthonormal: R·Rᵀ == I (exact doubles, before any snap)
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(k => rot.matrix(i * dim + k) * rot.matrix(j * dim + k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RRt[$i][$j] = $dot")
    }
    // decorrelating: rotated covariance is (near-)diagonal, with the
    // dominant axis carrying most of the variance
    val rotated = data.map(rot.rotate)
    val cov = Rotation.covariance(rotated.toIndexedSeq, dim)
    val diag = (0 until dim).map(d => cov(d * dim + d))
    val offMax = (for (i <- 0 until dim; j <- 0 until dim if i != j)
      yield math.abs(cov(i * dim + j))).max
    assert(offMax < 0.05 * diag.max, s"off-diag $offMax vs top variance ${diag.max}")
    assert(diag.head > 0.9 * diag.sum, "dominant axis must absorb the latent factor")

    // executor column kernel == driver rotate, bit for bit
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val model = Ann.trainPcaPq(spark, df, "embedding", "vec_id", nlist = 4, pqM = 4, pqK = 16)
    import org.apache.spark.sql.functions.typedlit
    val viaCol = df.select(col("vec_id"),
        graft.functions.vector.sign_project(col("embedding"),
          typedlit(model.rotation.matrix.toSeq)).cast("array<float>").as("r"))
      .as[(Long, Array[Float])].collect().toMap
    data.zipWithIndex.foreach { case (v, i) =>
      assert(viaCol(i.toLong).toSeq == model.rotation.rotate(v).toSeq, s"vec $i")
    }

    // the point of the rotation: pure-ADC recall (rerank = k) beats the
    // unrotated IVF-PQ at the identical (nlist, m, k) byte budget
    val qs = (0 until 15).map(i => (i.toLong, data(i)))
    val brute = Ann.searchBrute(spark, df, "vec_id", "embedding", qs, k = 10)
      .select("queryId", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(got: Map[Long, Set[Long]]): Double =
      qs.map { case (qid, _) => got.getOrElse(qid, Set.empty).intersect(brute(qid)).size }
        .sum.toDouble / (qs.size * 10)
    val raw = Ann.trainIvfPq(spark, df, "embedding", "vec_id", nlist = 4, pqM = 4, pqK = 16)
    val rawAdc = recallOf(
      Ann.searchIvfPq(spark, Ann.buildIndexPq(df, "embedding", raw), "vec_id", "embedding",
          qs, raw, k = 10, nprobe = 4, rerank = 10)
        .select("queryId", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    val pcaAdc = recallOf(
      Ann.searchPcaPq(spark, Ann.buildIndexPcaPq(df, "embedding", model), "vec_id", "embedding",
          qs, model, k = 10, nprobe = 4, rerank = 10)
        .select("queryId", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    assert(pcaAdc >= rawAdc,
      s"PCA-rotated ADC recall $pcaAdc must be >= raw $rawAdc on anisotropic data")
  }

  test("pq_encode column matches the JVM Pq.encode kernel byte-for-byte") {
    val model = Ann.trainIvfPq(spark, embeddings, "embedding", "vec_id",
      nlist = 4, pqM = 8, pqK = 16)
    val viaCol = Ann.buildIndexPq(embeddings, "embedding", model)
      .select(col("vec_id"), col("pq_code"))
      .as[(Long, Array[Byte])].collect().toMap
    val viaJvm = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => id -> graft.index.Pq.encode(model.codebook, e) }.toMap
    assert(viaCol.keySet == viaJvm.keySet)
    viaCol.foreach { case (id, code) =>
      assert(java.util.Arrays.equals(code, viaJvm(id)), s"vec $id")
    }
  }

  test("language-ID identifies script and stopword-profiled languages") {
    val fixture = Seq(
      (1L, "the cat sat on the mat and it was happy with that"),
      (2L, "el perro corre por la calle y los gatos del barrio lo miran"),
      (3L, "der hund und die katze sind nicht mit den kindern im haus"),
      (4L, "le chien et le chat sont dans la maison des voisins"),
      (5L, "这是一个中文句子用来测试语言识别"),
      (6L, "Это русское предложение для теста"),
      (7L, "zxqv wkrp flmb grtn")).toDF("id", "text")
    val got = fixture.select(col("id"), TextAnalysis.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "de" && got(4L) == "fr")
    assert(got(5L) == "zh" && got(6L) == "ru" && got(7L) == "und")
  }

  test("rolling fingerprint is stable under small edits, unlike the content fingerprint") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val edited = base + " appended"
    val df = Seq((1L, base), (2L, edited)).toDF("id", "text")
    val fps = df.select(col("id"),
      TextAnalysis.contentFingerprint(col("text")).as("md5"),
      TextAnalysis.rollingFingerprint(col("text")).as("sketch"))
      .as[(Long, String, Array[Long])].collect().sortBy(_._1)
    assert(fps(0)._2 != fps(1)._2) // md5 differs
    val overlap = fps(0)._3.toSet.intersect(fps(1)._3.toSet).size.toDouble /
      fps(0)._3.length
    assert(overlap >= 0.75, s"sketch overlap $overlap") // sketch mostly survives
  }

  test("multimodal: decode stub round-trips the synthetic header; frame sampling fans out") {
    val blobs = Multimodal.withSyntheticMedia(spark, docs, "doc_id")
    val decoded = Multimodal.decode(blobs).collect()
    assert(decoded.length == docs.count())
    decoded.foreach { d =>
      assert(d.width == (d.doc_id % 640 + 16).toInt)
      assert(d.height == (d.doc_id % 480 + 16).toInt)
      assert(d.channels == (if (d.mediaType == "audio") 1 else 3))
      assert(d.features.length == 16 && d.features.forall(f => f >= 0f && f <= 1f))
    }
    val resized = Multimodal.resize(Multimodal.decode(blobs), maxDim = 128).collect()
    resized.foreach(d => assert(math.max(d.width, d.height) <= 128))
    val frames = Multimodal.sampleFrames(blobs, everyMs = 5000)
    val perDoc = frames.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    perDoc.foreach { case (id, n) =>
      val dur = id % 60000
      assert(n == math.min(math.max(1L, dur / 5000), 32L))
    }
  }

  test("multimodal: ImageIoDecoder decodes REAL PNG/BMP bytes — sums, dims and features exact") {
    // codec round-trip: encode through the JDK writers, decode through
    // the JDK readers, compare against the quadrant closed form
    val ids = Seq(0L, 1L, 7L, 48L, 95L, 255L, 256L)
    val blobs = Multimodal.withEncodedImages(
      spark, ids.toDF("doc_id"), "doc_id")
    val stats = Multimodal.decodeImageStats(blobs).collect().sortBy(_.doc_id)
    assert(stats.map(_.doc_id).toSeq == ids.sorted)
    stats.foreach { st =>
      val id = st.doc_id
      val w = (id % 48 + 8).toInt
      val h = (id % 32 + 8).toInt
      assert(st.format == (if (id % 2 == 0) "png" else "bmp"), st.toString)
      assert(st.width == w && st.height == h && st.channels == 3, st.toString)
      val wl = w / 2; val wr = w - wl; val ht = h / 2; val hb = h - ht
      def expSum(mult: Long): Long =
        wl.toLong * ht * ((id * mult + 7) % 256) + wr.toLong * ht * ((id * mult + 38) % 256) +
          wl.toLong * hb * ((id * mult + 69) % 256) + wr.toLong * hb * ((id * mult + 100) % 256)
      assert(st.sum_r == expSum(3), s"R mismatch: $st")
      assert(st.sum_g == expSum(5), s"G mismatch: $st")
      assert(st.sum_b == expSum(7), s"B mismatch: $st")
    }
    // the MediaDecoder seam: decodeOne on real bytes yields real pixel
    // features — quadrant means equal the solid fill values exactly
    val blob = Multimodal.encodeQuadrantImage(10L)
    val d = ImageIoDecoder.decodeOne(blob)
    assert(d.width == 18 && d.height == 18 && d.channels == 3)
    // quadrant 0 (TL) solid values for id=10: r=(30+7)%256=37, g=57, b=77
    assert(math.abs(d.features(4) - 37f / 255f) < 1e-6f, d.features.mkString(","))
    assert(math.abs(d.features(5) - 57f / 255f) < 1e-6f)
    assert(math.abs(d.features(6) - 77f / 255f) < 1e-6f)
    // global mean R = avg over 4 equal quadrants of (37,68,99,130) = 83.5
    assert(math.abs(d.features(0) - 83.5f / 255f) < 1e-6f, d.features(0).toString)
  }

  test("multimodal: histogram equalization — hand-computed CDF mapping, constant-channel zero") {
    // id=0: 8x8 image, equal 4x4 quadrants (area 16 each), N=64.
    // R values (0*3+31q+7)%256 = 7,38,69,100 ascending with q.
    // cdf = 16,32,48,64; cdf_min=16; eq(v) = (cdf-16)*255/(64-16)
    //  -> 0, 85, 170, 255 exactly; eq_sum = 16*(0+85+170+255) = 8160.
    // G and B have the same +31q ladder -> identical eq sums.
    val out = Multimodal.decodeHistEq(Multimodal.withEncodedImages(
        spark, Seq(0L).toDF("doc_id"), "doc_id"))
      .collect().head
    assert(out.n_pixels == 64L)
    assert(out.eq_sum_r == 8160L && out.eq_sum_g == 8160L && out.eq_sum_b == 8160L, out.toString)

    // constant-channel image: every pixel one value -> N == cdf_min ->
    // the whole channel maps to 0 by definition
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, (9 << 16) | (9 << 8) | 9)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val const = Multimodal.decodeHistEq(Seq(Multimodal.MediaBlob(
        1L, "image/png", bos.toByteArray, Multimodal.MediaMeta(4, 4, 3, 0L))).toDS())
      .collect().head
    assert(const.n_pixels == 16L)
    assert(const.eq_sum_r == 0L && const.eq_sum_g == 0L && const.eq_sum_b == 0L, const.toString)
  }

  test("multimodal: JPEG (lossy) round-trips the JDK codec — dims exact, channel means within tolerance") {
    // the fourth codec beside PNG/BMP/GIF: lossy, so no closed-form
    // oracle — the spec pins dimension exactness and bounded per-pixel
    // drift on solid quadrants (DCT ringing stays small on flat fills)
    val ids = Seq(0L, 7L, 95L, 255L)
    ids.foreach { id =>
      val src = Multimodal.encodeQuadrantImage(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(src.data))
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG writer in this JDK")
      val jb = Multimodal.MediaBlob(id, "image/jpeg", bos.toByteArray,
        Multimodal.MediaMeta(img.getWidth, img.getHeight, 3, 0L))
      val d = ImageIoDecoder.decodeOne(jb)
      assert(d.width == img.getWidth && d.height == img.getHeight && d.channels == 3,
        s"doc $id: JPEG dims must survive exactly")
      val ref = ImageIoDecoder.decodeOne(src)
      // global per-channel means (features 0-2) within 3/255 per channel
      (0 until 3).foreach { ch =>
        assert(math.abs(d.features(ch) - ref.features(ch)) < 3f / 255f,
          s"doc $id ch$ch: jpeg mean ${d.features(ch)} vs ${ref.features(ch)}")
      }
    }
  }

  test("multimodal: animated-GIF frames round-trip the REAL JDK codec frame-for-frame") {
    val ids = Seq(0L, 1L, 3L, 23L, 100L, 255L)
    val blobs = Multimodal.withEncodedGifs(spark, ids.toDF("doc_id"), "doc_id")
    // real container bytes: GIF89a magic on the wire
    blobs.collect().foreach { b =>
      assert(new String(b.data.take(6), "US-ASCII").startsWith("GIF8"), b.doc_id.toString)
    }
    val frames = Multimodal.decodeFrameStats(blobs).collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.frame_idx)).toMap
    ids.foreach { id =>
      val fs = frames(id)
      val w = (id % 24 + 8).toInt
      val h = (id % 16 + 8).toInt
      assert(fs.length == (id % 4 + 2).toInt, s"frame count for doc $id")
      fs.zipWithIndex.foreach { case (st, f) =>
        assert(st.frame_idx == f && st.width == w && st.height == h, st.toString)
        assert(st.sum_r == w.toLong * h * ((id * 3 + 11 * f + 5) % 256), s"R: $st")
        assert(st.sum_g == w.toLong * h * ((id * 5 + 11 * f + 5) % 256), s"G: $st")
        assert(st.sum_b == w.toLong * h * ((id * 7 + 11 * f + 5) % 256), s"B: $st")
      }
    }
  }

  test("multimodal: a custom MediaDecoder drops into every operator unchanged") {
    // a "codec" that reports fixed dimensions and a constant feature —
    // if the operators delegate correctly, its outputs flow through the
    // same schema/batch plumbing as the stub's
    object FixedDecoder extends MediaDecoder {
      override def decodeOne(b: Multimodal.MediaBlob): Multimodal.DecodedMedia =
        Multimodal.DecodedMedia(b.doc_id, b.mediaType, 1000, 500, 3,
          b.data.length.toLong, Array.fill(4)(0.25f))
      override def sampleFrameTimestamps(
          b: Multimodal.MediaBlob, everyMs: Long): Seq[(Long, Long)] =
        Seq((0L, 0L), (1L, everyMs))
    }
    val blobs = Multimodal.withSyntheticMedia(spark, docs.limit(30), "doc_id")
    val dec = Multimodal.decode(blobs, batchSize = 7, decoder = FixedDecoder)
    assert(dec.collect().forall(d =>
      d.width == 1000 && d.height == 500 && d.features.sameElements(Array.fill(4)(0.25f))))
    val rs = Multimodal.resize(dec, maxDim = 100, decoder = FixedDecoder)
    assert(rs.collect().forall(d => d.width == 100 && d.height == 50))
    val fr = Multimodal.sampleFrames(blobs, everyMs = 500, decoder = FixedDecoder)
    val perDoc = fr.groupBy("doc_id").count().select("count").as[Long].collect()
    assert(perDoc.nonEmpty && perDoc.forall(_ == 2L), "custom frame policy must apply")
  }

  test("as-of join: latest at-or-before match per key, ties included, no-match null") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    val left = Seq(
      (1L, 100L, ts(10)), // after right@5 and right@10 (tie) → 10 wins
      (1L, 101L, ts(7)),  // between right@5 and right@10 → 5
      (1L, 102L, ts(3)),  // before any right → null
      (2L, 200L, ts(50))  // key with no right rows at all → null
    ).toDF("k", "lid", "ts")
    val right = Seq(
      (1L, ts(5), "r5"),
      (1L, ts(10), "r10")
    ).toDF("k", "ts", "tag")
    val got = AsOf.joinBackward(left, right, Seq("k"), "ts", Seq("tag"))
      .select(col("lid"), col("asof_tag")).as[(Long, Option[String])]
      .collect().toMap
    assert(got(100L).contains("r10")) // exact-tie ts=10 matches
    assert(got(101L).contains("r5"))
    assert(got(102L).isEmpty)
    assert(got(200L).isEmpty)
  }

  test("quality score is in [0,1] and favors clean prose over noise") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs into the forest with a happy grin on its face while the birds are singing"),
      (2L, "!!!??? ;;; ((()))" ),
      (3L, "123 456 789 000 111")).toDF("id", "text")
    val scores = df.select(col("id"), TextAnalysis.qualityScore(col("text")))
      .as[(Long, Double)].collect().toMap
    scores.values.foreach(s => assert(s >= 0.0 && s <= 1.0))
    assert(scores(1L) > scores(2L) && scores(1L) > scores(3L))
  }

  test("WAV guard falsifiers: missing data chunk throws, silent audio no-ops gain") {
    // a RIFF container holding ONLY an fmt chunk — the chunk walk ends
    // without data, so nFrames stays 0 and the guard must throw
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 8 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 16)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort).putInt(8000)
      .putInt(16000).putShort(2.toShort).putShort(16.toShort)
    val noData = bb.array()
    assertThrows[IllegalArgumentException](Audio.decodeWavStats(7L, noData))
    assertThrows[IllegalArgumentException](
      Audio.decodeWavDecimatedStats(7L, noData, 2))
    assertThrows[IllegalArgumentException](
      Audio.decodeWavGainStats(7L, noData, 30000L))
    // an all-zero signal: maxAbs == 0 must take the no-scaling arm
    val silent = Audio.encodeWavPcm16(5L, 8000, Array.fill(16)(0.toShort))
    val g = Audio.decodeWavGainStats(5L, silent, 30000L)
    assert(g.max_abs_in == 0L && g.peak_out == 0L)
  }

  test("quality_stats native pass equals the regex formulation bit-for-bit") {
    // the single-pass QualityStatsExpr replaced three regexp passes +
    // a split; this pins the replacement to the ORIGINAL Column-API
    // formulation on the edge cases that could diverge (empty text,
    // whitespace runs incl. \t\n\f\r, uppercase stopwords,
    // punctuation-only, digits, unicode, stopword-as-substring)
    val df = Seq(
      (1L, ""),
      (2L, "   \t\n\f\r   "),
      (3L, "THE Quick BROWN fox AND THE dog"),
      (4L, "!!!,,,...;;;:::'''\"\"\"((()))---"),
      (5L, "123abc 456 7.89 -12"),
      (6L, "héllo wörld ünïcode tëxt"),
      (7L, "theater andover oft is-land"), // stopwords only as substrings
      (8L, "the the the the the"),
      (9L, (1 to 80).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val regexScore = {
      val text = col("text")
      val n = length(text)
      val punctRatio = when(n === 0, 0.0).otherwise(
        (n - length(regexp_replace(text, TextAnalysis.PunctClass, "")))
          .cast("double") / n)
      val digitRatio = when(n === 0, 0.0).otherwise(
        (n - length(regexp_replace(text, "[0-9]", ""))).cast("double") / n)
      val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
      val sw = typedlit(TextAnalysis.stopwordsEn)
      val swRatio = when(size(toks) === 0, 0.0).otherwise(
        size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks))
      val lengthScore = least(size(toks).cast("double") / 50.0, lit(1.0))
      round(lengthScore * 0.4 + (lit(1.0) - least(punctRatio * 5.0, lit(1.0))) * 0.2
        + (lit(1.0) - least(digitRatio * 5.0, lit(1.0))) * 0.2
        + least(swRatio * 4.0, lit(1.0)) * 0.2, 6)
    }
    val rows = df.select(col("id"),
        TextAnalysis.qualityScore(col("text")).as("native"),
        regexScore.as("regex"))
      .as[(Long, Double, Double)].collect()
    rows.foreach { case (id, nat, re) =>
      assert(nat == re, s"id=$id native=$nat regex=$re")
    }
  }

  test("stratified sample: exactly k per full stratum, deterministic, partitioning-invariant") {
    val rows = (0L until 200L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val a = Sampling.stratifiedSample(rows, "id", "src", k = 10)
      .select("src", "id", "sample_rank").as[(String, Long, Int)].collect().toSet
    assert(a.groupBy(_._1).forall(_._2.size == 10))
    // short stratum keeps all its rows
    val withShort = rows.unionByName(Seq((9999L, "rare")).toDF("id", "src"))
    val b = Sampling.stratifiedSample(withShort, "id", "src", k = 10)
      .filter(col("src") === "rare").count()
    assert(b == 1)
    // repartitioning must not change the sample (hash-draw determinism)
    val c = Sampling.stratifiedSample(rows.repartition(13), "id", "src", k = 10)
      .select("src", "id", "sample_rank").as[(String, Long, Int)].collect().toSet
    assert(a == c)
  }

  test("PII counts and redaction: all three classes, placeholders don't re-match") {
    val df = Seq(
      (1L, "write bob.smith+x@corp.example.org from 10.1.2.3 or call 555-123-4567 now"),
      (2L, "no pii here, just 1.2 version numbers and 12-34 ranges"),
      (3L, "two mails a@b.co c@d.io and ips 192.168.0.1 8.8.8.8")).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.piiCounts(col("text")).as("p"),
        TextAnalysis.redactPii(col("text")).as("r"))
      .select(col("id"), col("p.n_emails"), col("p.n_ipv4"), col("p.n_phones"), col("r"))
      .as[(Long, Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
    assert(got(1L)._2 == 1 && got(1L)._3 == 1 && got(1L)._4 == 1)
    assert(got(2L)._2 == 0 && got(2L)._3 == 0 && got(2L)._4 == 0)
    assert(got(3L)._2 == 2 && got(3L)._3 == 2)
    assert(got(1L)._5 == "write <EMAIL> from <IP> or call <PHONE> now")
    // a redacted string scans clean — placeholders are fixed points
    val again = Seq(got(1L)._5).toDF("text")
      .select(TextAnalysis.piiCounts(col("text")).as("p"))
      .select(col("p.n_emails"), col("p.n_ipv4"), col("p.n_phones"))
      .as[(Long, Long, Long)].collect().head
    assert(again == ((0L, 0L, 0L)))
  }

  test("tf-idf top terms: rarer term outranks commoner term at equal tf") {
    // 'zebra' appears in 1 doc, 'common' in all 4 → idf(zebra) > idf(common)
    val df = Seq(
      (1L, "common zebra"),
      (2L, "common alpha"),
      (3L, "common alpha"),
      (4L, "common beta")).toDF("id", "text")
    val top1 = TextAnalysis.tfIdfTopTerms(df, "id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top1(1L) == "zebra")
    assert(top1(4L) == "beta")
    // within one doc, tf dominates at equal df: repeated rare term wins
    val df2 = Seq((1L, "x xray xray"), (2L, "x solo")).toDF("id", "text")
    val top2 = TextAnalysis.tfIdfTopTerms(df2, "id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top2(1L) == "xray")
  }

  test("bpe regex pretokenizer: contraction/run segmentation, counts hand-checked") {
    val df = Seq(
      (1L, "I'll say it's 42 tokens, really!"), // I|'ll| say| it|'s| 42| tokens|,| really|!
      (2L, ""),
      (3L, "a  b")).toDF("id", "text") // a|(2-space ' b' → space absorbed? run splits)
    val got = df.select(col("id"),
        TextAnalysis.bpeRegexTokenCount(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 10L) // matches the DuckDB oracle segmentation
    assert(got(2L) == 0L)
    // "a  b": 'a' + ' ' (leftover of double space) + ' b' → 3 segments
    assert(got(3L) == 3L)
  }

  test("leakage-safe split: no duplicate cluster ever spans two splits") {
    // real connected components (chains, not just exact groups): each
    // cluster's members must all inherit the representative's split
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs) // (doc_id, cluster_rep)
    val split = Sampling.splitByGroup(
      clusters.withColumnRenamed(clusters.columns(1), "cluster_rep"), "cluster_rep")
    val perCluster = split.groupBy("cluster_rep")
      .agg(countDistinct(col("split")).as("n_splits"))
      .as[(Long, Long)].collect()
    assert(perCluster.nonEmpty && perCluster.forall(_._2 == 1L))
  }

  test("exact-dedup survivors: NULL-text rows are never collapsed together") {
    val df = Seq(
      (1L, Option("same text")), (2L, Option("same text")),
      (3L, Option.empty[String]), (4L, Option.empty[String])).toDF("id", "text")
    val surv = Dedup.exactDedupSurvivors(df, "id", "text")
      .select("id").as[Long].collect().sorted.toSeq
    // duplicates collapse to min id; each NULL-text row survives alone
    assert(surv == Seq(1L, 3L, 4L))
  }

  test("jsonl round trip: corrupt lines are quarantined, not silently nulled") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toFile
    try {
      val f = new java.io.File(dir, "part-00000.json")
      val w = new java.io.PrintWriter(f)
      w.println("""{"doc_id": 1, "text": "ok"}""")
      w.println("""{"doc_id": 2, "text": TRUNCATED""")
      w.close()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      // Spark disallows querying ONLY the corrupt column from raw JSON;
      // cache first (its own documented guidance) before inspecting it
      val back = graft.sources.TextInterchange
        .readJsonl(spark, dir.getAbsolutePath, schema).cache()
      try {
        assert(back.columns.contains("_corrupt_record"))
        assert(back.filter(col("_corrupt_record").isNotNull).count() == 1)
        assert(back.filter(col("_corrupt_record").isNull)
          .select("doc_id").as[Long].collect().toSeq == Seq(1L))
      } finally back.unpersist()
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("group centroids: elementwise means + dispersion identifies the outlier") {
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(3.0f, 0.0f)),
      (3L, 0, Array(2.0f, 30.0f)), // outlier in dim 1
      (4L, 1, Array(0.0f, 5.0f))).toDF("id", "label", "vec")
    val cent = Embeddings.groupCentroids(df, "label", "vec")
      .as[(Int, Int, Double, Long)].collect()
      .map { case (l, d, c, n) => (l, d) -> ((c, n)) }.toMap
    assert(cent((0, 0))._1 == 2.0 && cent((0, 1))._1 == 10.0 && cent((0, 0))._2 == 3)
    assert(cent((1, 0))._1 == 0.0 && cent((1, 1))._1 == 5.0)
    val disp = Embeddings.centroidDispersion(df, "id", "label", "vec")
      .as[(Long, Int, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(disp(3L) == disp.values.max)
    // zero-norm convention: normalize leaves the zero vector untouched
    val z = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(3.0f, 4.0f))).toDF("id", "vec")
      .select(col("id"), Embeddings.l2Normalize(col("vec")).as("n"))
      .as[(Long, Array[Float])].collect().toMap
    assert(z(1L).toSeq == Seq(0.0f, 0.0f))
    assert(math.abs(z(2L)(0) - 0.6f) < 1e-6 && math.abs(z(2L)(1) - 0.8f) < 1e-6)
  }

  test("KN bigram NLL: hand-computed fixture; interpolated-KN mass sums to 1 per context") {
    val d = 0.75
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // bigram types: (a,b)=2, (b,a)=1, (a,c)=1
    // ctx a: cu=3, N1p=2; ctx b: cu=1, N1p=1
    // cont: a<-1, b<-1, c<-1; N1p_all=3
    def pkn(cuv: Double, cu: Double, n1pU: Double, n1pbV: Double): Double =
      (math.max(cuv - d, 0.0) + d * n1pU * (n1pbV / 3.0)) / cu
    val pBA = pkn(2, 3, 2, 1) // P(b|a)
    val pAB = pkn(1, 1, 1, 1) // P(a|b)
    val pCA = pkn(1, 3, 2, 1) // P(c|a)
    val exp1 = BigDecimal((2 * -math.log(pBA) + -math.log(pAB)) / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal(-math.log(pCA))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextAnalysis.knBigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    assert(out(1L) == ((3L, exp1)), s"doc1: ${out(1L)} vs $exp1")
    assert(out(2L) == ((1L, exp2)), s"doc2: ${out(2L)} vs $exp2")
    // the property that makes KN a probability model: summing P(v|u)
    // over the WHOLE vocab (seen bigrams by discount, unseen by the
    // continuation backoff alone) returns exactly 1 per context
    val vocabCont = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    val seen = Map(("a", "b") -> 2.0, ("b", "a") -> 1.0, ("a", "c") -> 1.0)
    for ((u, cu, n1pU) <- Seq(("a", 3.0, 2.0), ("b", 1.0, 1.0))) {
      val mass = vocabCont.keys.toSeq.map { v =>
        pkn(seen.getOrElse((u, v), 0.0), cu, n1pU, vocabCont(v))
      }.sum
      assert(math.abs(mass - 1.0) < 1e-12, s"context $u mass $mass != 1")
    }
  }

  test("chat format: assistant span extracts exactly the response; unsplittable docs drop") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "  spaced   out  doc here "),
      (3L, "unsplittable_single_token"),
      (4L, "x y")).toDF("doc_id", "text")
    val out = SftFormat.renderChat(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 3 has no space past the midpoint of one long token; doc 4
    // splits at the midpoint space into ("x", "y")
    assert(out.keySet == Set(1L, 2L, 4L))
    // replay the render driver-side and check the span lands on resp
    def replay(text: String): (String, String) = {
      val mid = text.length / 2
      val sp = text.substring(mid).indexOf(' ')
      val pos = mid + sp + 1 // 1-based
      (text.substring(0, pos - 1).trim,
        text.substring(pos).trim)
    }
    Seq(1L -> "alpha beta gamma delta", 2L -> "  spaced   out  doc here ",
        4L -> "x y").foreach { case (id, text) =>
      val (prompt, resp) = replay(text)
      val rendered = SftFormat.SystemTag + SftFormat.SystemPrompt +
        SftFormat.UserTag + prompt + "\n" + SftFormat.AssistantTag +
        resp + SftFormat.EndTag
      val r = out(id)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getAs[String]("rendered_md5") == md5, s"doc $id render drifted")
      assert(r.getAs[Long]("n_rendered_chars") == rendered.length)
      val (st, ln) = (r.getAs[Long]("a_start").toInt, r.getAs[Long]("a_len").toInt)
      assert(rendered.substring(st - 1, st - 1 + ln) == resp,
        s"doc $id: span [$st,+$ln] is not the response")
      assert(r.getAs[Long]("n_resp_toks") ==
        resp.split("\\s+").count(_.nonEmpty))
    }
  }

  test("textrank: hub word outranks leaves; stopwords/short/self-pairs excluded") {
    val docs = Seq(
      (1L, "the spark engine drives spark jobs"),
      (2L, "engine tuning and engine care"),
      (3L, "ml ml ml"), // <3-char tokens: no nodes
      (4L, "spark spark") // self-pairs only: no edges
    ).toDF("doc_id", "text")
    val out = TextAnalysis.textRankKeywords(docs, "text", k = 10).collect()
    val words = out.map(_.getAs[String]("word")).toSeq
    // doc1 content words: spark engine drives spark jobs
    // doc2: engine tuning engine care ('and' is a stopword)
    assert(!words.exists(w => Set("the", "and", "ml").contains(w)))
    // 'engine' and 'spark' both touch 3+ distinct neighbors across the
    // window-2 graph; leaves like 'care' have fewer — a hub must lead
    val rank = out.map(r =>
      r.getAs[String]("word") -> r.getAs[Long]("rank_fp")).toMap
    assert(rank.keySet.contains("engine") && rank.keySet.contains("spark"))
    assert(rank("engine") > rank("care"), s"hub vs leaf: $rank")
    assert(rank("spark") > rank("care"), s"hub vs leaf: $rank")
    // ranks are exact integers summing over a closed mass system: every
    // node got the same r0, so total mass stays within N*base drift
    assert(out.forall(_.getAs[Long]("rank_fp") > 0L))
  }
}
