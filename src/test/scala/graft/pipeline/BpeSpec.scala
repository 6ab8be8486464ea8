package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BpeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("applyMerge is leftmost-greedy and non-overlapping") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("a", "b", "a", "b"), "a", "b") === Seq("ab", "ab"))
    assert(Bpe.applyMerge(Seq("x"), "a", "b") === Seq("x"))
    assert(Bpe.applyMerge(Nil, "a", "b") === Nil)
  }

  test("learnMerges reproduces the classic Sennrich fixture, hand-computed") {
    // Corpus realized so the pretoken table is exactly
    // low×5, lower×2, newest×6, widest×3.
    // Hand-computed pair counts, round 1: (e,s)=9 ties (s,t)=9 →
    // lexicographic tie-break picks (e,s); round 2: (es,t)=9 wins;
    // round 3: (l,o)=7 ties (o,w)=7 → (l,o).
    val docLines =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docLines.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")

    val merges = Bpe.learnMerges(spark, df, "text", numMerges = 3)
    assert(merges === Seq(("e", "s"), ("es", "t"), ("l", "o")))
  }

  test("learnMergesWithStats releases every vocab checkpoint it makes") {
    // the Sennrich fixture again: a run that stops on its merge budget,
    // and one whose first round already stops (no pair reaches minCount)
    val docLines =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docLines.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    // new ids only: a GC may clean older RDDs mid-run
    val leaks = Seq(2L, 100L).map { minCount =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Bpe.learnMergesWithStats(spark, df, "text", numMerges = 3, minCount = minCount)
      minCount -> (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    assert(leaks.forall(_._2 == 0), s"persisted RDDs left by minCount: $leaks")
  }

  test("learnMerges stops early when no pair repeats") {
    val df = Seq((1L, "ab cd")).toDF("doc_id", "text")
    // pairs (a,b) and (c,d) each occur once < minCount=2 → no merges
    assert(Bpe.learnMerges(spark, df, "text", numMerges = 5) === Nil)
  }

  test("batched trainer is bit-identical to one-merge-per-round and cuts rounds ~batchN×") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
    val (sequential, seqRounds) =
      Bpe.learnMergesWithStats(spark, docs, "text", numMerges = 24, batchN = 1)
    val (batched, batRounds) =
      Bpe.learnMergesWithStats(spark, docs, "text", numMerges = 24, batchN = 8)
    assert(batched === sequential,
      s"batched trainer diverged:\n  seq=$sequential\n  bat=$batched")
    assert(seqRounds === 24)
    // Zipfian pair tables share hot symbols (top pairs overlap on " ",
    // "e", …), so the exactness guards cap the realized batch width —
    // expect a solid-but-not-N× round reduction on real text (measured:
    // 24 -> 17 here; 20 -> 11 and ~5x wall-clock on the sf0.01 gate
    // corpus). The full ~N× mechanism is pinned by the disjoint-pairs
    // test below.
    assert(batRounds <= seqRounds * 3 / 4,
      s"expected fewer rounds, got $batRounds vs $seqRounds")
  }

  test("batched trainer reaches full batch width when top pairs are symbol-disjoint") {
    // 8 two-letter words over disjoint alphabets with strictly
    // decreasing frequencies: every top pair is disjoint from the
    // others and counts never tie, so ONE round learns all 8 merges
    val words = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val rows = words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(100 - i)(w)
    }.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val df = rows.toDF("doc_id", "text")
    val (merges, rounds) =
      Bpe.learnMergesWithStats(spark, df, "text", numMerges = 8, batchN = 8)
    assert(merges === words.map(w => (w.substring(0, 1), w.substring(1))))
    assert(rounds === 1, s"disjoint distinct-count pairs must batch fully, got $rounds rounds")
  }

  test("batched trainer: hot overlapping pairs stop the batch, never reorder it") {
    // every candidate shares a symbol with the top pair — each round can
    // accept only the argmax, so batching must degrade to sequential
    // (aaaa: round1 (a,a)->aa,aa; round2 (aa,aa)) — the overlap guard,
    // not the batch width, must decide
    val df = Seq.tabulate(4)(i => (i.toLong, "aaaa")).toDF("doc_id", "text")
    val (merges, _) =
      Bpe.learnMergesWithStats(spark, df, "text", numMerges = 2, batchN = 8)
    assert(merges === Seq(("a", "a"), ("aa", "aa")))
  }

  test("symbols are codepoints, not UTF-16 units: surrogate pairs stay whole") {
    assert(Bpe.splitCodepoints("a😀b") === Seq("a", "😀", "b"))
    assert(Bpe.splitCodepoints("") === Nil)
    val df = Seq((1L, "😀x 😀x")).toDF("doc_id", "text")
    val v = Bpe.pretokenVocab(spark, df, "text").collect().toMap
    // the emoji is one symbol in every pretoken — never a lone surrogate
    assert(v.keys.forall(_.forall(s =>
      !Character.isSurrogate(s.charAt(0)) || s.length == 2)))
  }

  test("encodeDocs applies ranked merges leftmost-greedy; boundaries surface in toks_head") {
    // merges: (l,o) then (lo,w): "low lower" → pretokens "low", " lower"
    val merges = Seq(("l", "o"), ("lo", "w"))
    assert(Bpe.applyMerges("lower".map(_.toString), merges) ===
      Seq("low", "e", "r"))
    val df = Seq((7L, "low lower")).toDF("doc_id", "text")
    val got = Bpe.encodeDocs(spark, df, "doc_id", "text", merges)
      .as[(Long, Long, Long, String)].head()
    // " lower" keeps its leading space: " ", "low", "e", "r"
    assert(got === ((7L, 2L, 5L, "low| |low|e|r")))
    // overlapping self-merge is non-overlapping greedy: aaa -> aa, a
    assert(Bpe.applyMerges(Seq("a", "a", "a"), Seq(("a", "a"))) ===
      Seq("aa", "a"))
  }

  test("pretokenVocab drops whitespace runs and weights by frequency") {
    val df = Seq((1L, "the the  the"), (2L, "cat")).toDF("doc_id", "text")
    val v = Bpe.pretokenVocab(spark, df, "text").collect().toMap
    // ` ?\p{L}+` absorbs a SINGLE leading space; before a multi-space
    // run `\s+` wins greedily, so the next token starts bare (the
    // documented RE2-subset divergence from upstream's lookahead).
    assert(v(Seq("t", "h", "e")) === 2L)       // doc start + after "  "
    assert(v(Seq(" ", "t", "h", "e")) === 1L)  // the single-space continuation
    assert(v(Seq("c", "a", "t")) === 1L)
    assert(v.keys.forall(_.forall(s => !s.matches("^\\s+$") || s == " ")))
  }
}
