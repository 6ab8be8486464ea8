package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims

import scala.collection.mutable.ArrayBuffer

/**
 * Byte-pair-encoding vocabulary learning over a document corpus —
 * the tokenizer-training half of the pipeline (the counting half is
 * `TextAnalysis.bpeRegexTokenCount` / the `text_bpe_pair_counts` query).
 *
 * Classic Sennrich-style BPE, trained on the PRETOKEN FREQUENCY TABLE,
 * not the raw corpus: the first aggregation collapses 100 TB of text to
 * the distinct-pretoken vocabulary (bounded by language statistics —
 * tens of millions of rows at web scale, kilobytes here), and every
 * merge iteration after that touches only the vocab table. Per
 * iteration: one distributed pair-count (flatMap + groupBy-sum, one
 * shuffle over ≤|vocab|·maxlen rows), one driver-side argmax of a
 * single row, one distributed merge application (narrow map). Iteration
 * state is localCheckpoint'ed per round so the plan stays O(1) deep —
 * same recipe as the other driver-loop operators
 * (Dedup.duplicateClusters, GraphAlgos.pageRankFixedPoint).
 *
 * Determinism: best pair = max count, ties broken lexicographically on
 * (left, right); merge application is leftmost-greedy non-overlapping.
 * Training stops early when no pair occurs twice.
 */
object Bpe {

  /** Codepoint-aware character split: `String.map(_.toString)` would cut
    * UTF-16 surrogate pairs into lone-surrogate "symbols" that collide
    * under UTF-8 re-encoding — any emoji / supplementary-plane char
    * would learn mojibake merges that never match real text. */
  private[pipeline] def splitCodepoints(t: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      val n = Character.charCount(cp)
      out += t.substring(i, i + n)
      i += n
    }
    out.toSeq
  }

  /** Leftmost-greedy non-overlapping application of one merge. */
  def applyMerge(
      syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Pretoken frequency table: GPT-2-style pretokenizer segments
    * (whitespace runs dropped) with corpus occurrence counts. */
  def pretokenVocab(
      spark: SparkSession, df: DataFrame, textCol: String): Dataset[(Seq[String], Long)] = {
    import spark.implicits._
    df.filter(col(textCol).isNotNull)
      .select(explode(regexp_extract_all(
        col(textCol), lit(TextAnalysis.BpeTokenPattern), lit(0))).as("tok"))
      .filter(!col("tok").rlike("^\\s+$"))
      .groupBy(col("tok")).agg(count(lit(1)).as("w"))
      .as[(String, Long)]
      .map { case (t, w) => (splitCodepoints(t), w) }
  }

  /**
   * Learn up to `numMerges` merges; returns them in application order.
   * `minCount` (default 2) is the classic stop condition: a pair seen
   * once cannot compress anything. Delegates to
   * [[learnMergesWithStats]] (batched rounds, sequential-identical
   * output).
   */
  def learnMerges(
      spark: SparkSession,
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      batchN: Int = 8): Seq[(String, String)] =
    learnMergesWithStats(spark, df, textCol, numMerges, minCount, batchN)._1

  /**
   * Batched trainer: each round runs ONE pair-count job, collects a
   * bounded top slice, and accepts up to `batchN` merges from it —
   * cutting the number of sequential Spark jobs (the driver-paced
   * bottleneck of a 50k-merge production vocabulary) by ~batchN× while
   * producing BIT-IDENTICAL output to the one-merge-per-round trainer.
   *
   * Why the batch is sequential-exact (each guard is load-bearing):
   *  - Accepted pairs are a PREFIX of the (count desc, l, r) sort order,
   *    pairwise symbol-disjoint (left, right, and concatenation all
   *    unused): applying earlier accepted merges cannot change a later
   *    accepted pair's count or instances.
   *  - The walk STOPS at the first overlapping candidate (never skips):
   *    so every pair sharing a symbol with the accepted set sorts after
   *    the stop point, bounding its count — and therefore the count of
   *    every pair the applied merges can create or boost — by
   *    `nextCount`, the first non-accepted candidate's count.
   *  - Accepted merges are then truncated to counts STRICTLY greater
   *    than `nextCount`: no competitor can beat OR TIE an accepted pair
   *    when its sequential turn comes, so the argmax chain is preserved
   *    tie-break for tie-break. (If truncation empties the batch, the
   *    head alone is kept — the round argmax is always exact.)
   *  - A candidate whose concatenation equals a PREVIOUSLY merged
   *    symbol string also stops the walk: its merge would feed
   *    instances into pre-existing pair types (x, l+r) that our
   *    count-bound argument does not otherwise cover.
   *
   * Returns (merges, rounds) so callers/specs can observe the ~batchN×
   * round reduction. batchN = 1 degenerates to the classic trainer.
   */
  def learnMergesWithStats(
      spark: SparkSession,
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      batchN: Int = 8): (Seq[(String, String)], Int) = {
    require(batchN >= 1, s"batchN must be >= 1, got $batchN")
    import spark.implicits._
    // localCheckpoint, NOT persist: each round's vocab must become a
    // LogicalRDD leaf. With persist, round n's plan still chains n typed
    // maps — unpersisting round n-1 invalidates round n's cache
    // (cascading), so every action recompiles and recomputes the whole
    // chain: observed exponential per-round cost and a codegen OOM by
    // round ~17 on a 60-row vocab.
    var vocab = pretokenVocab(spark, df, textCol).localCheckpoint()
    val merges = ArrayBuffer.empty[(String, String)]
    val mergedSymbols = scala.collection.mutable.Set.empty[String]
    var rounds = 0
    var done = false
    // the last vocab (the first, when round 1 stops) is released however
    // the loop ends — a round releases only the vocab it replaces
    try {
      while (merges.length < numMerges && !done) {
        rounds += 1
        // bounded driver collect: a few hundred (string, string, long)
        // rows regardless of corpus size — the batch decision needs the
        // sorted head of the pair table, never the table
        val fetch = math.max(batchN * 8, 64)
        val top = vocab
          .flatMap { case (syms, w) =>
            syms.iterator.sliding(2).withPartial(false)
              .map(p => (p.head, p(1), w))
          }
          .toDF("l", "r", "w")
          .groupBy(col("l"), col("r")).agg(sum(col("w")).as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(fetch)
          .as[(String, String, Long)]
          .collect()
        val maxTake = math.min(batchN, numMerges - merges.length)
        val accepted = ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var nextCount = -1L // count of the first NON-accepted candidate
        var i = 0
        while (nextCount < 0L && i < top.length) {
          val (l, r, n) = top(i)
          if (n < minCount) nextCount = 0L // below support: not a live competitor
          else if (accepted.length >= maxTake) nextCount = n
          else if (used(l) || used(r) || used(l + r) || mergedSymbols(l + r))
            nextCount = n
          else {
            accepted += ((l, r, n))
            used += l; used += r; used += (l + r)
          }
          i += 1
        }
        if (nextCount < 0L)
          // ran off the fetched slice: if it was full, unseen pairs are
          // bounded by the last row's count; if short, the table is
          // exhausted and nothing below support competes
          nextCount = if (top.length >= fetch) top.last._3 else 0L
        var keep = accepted.takeWhile(_._3 > nextCount).toSeq
        if (keep.isEmpty && accepted.nonEmpty) keep = Seq(accepted.head)
        if (keep.isEmpty) done = true
        else {
          val ms = keep.map(t => (t._1, t._2))
          merges ++= ms
          mergedSymbols ++= ms.map { case (l, r) => l + r }
          val next = vocab
            .map { case (syms, w) => (applyMerges(syms, ms), w) }
            .localCheckpoint() // eager; plan becomes a LogicalRDD leaf
          SparkShims.unpersistCheckpoint(vocab.toDF())
          vocab = next
        }
      }
    } finally SparkShims.unpersistCheckpoint(vocab.toDF())
    (merges.toSeq, rounds)
  }

  /** The frozen merge vocabulary for the encode surface: exactly what
    * [[learnMerges]] produces on the sf0.01 corpus sample
    * (doc_id % 5 = 0, 20 merges) — pinned the way a real pipeline ships
    * a trained tokenizer. Training runs ONCE and is value-gated live by
    * `text_bpe_learn_merges` (+ BpeSpec's hand-computed fixture);
    * encoding then applies the frozen table at any corpus scale, so the
    * encode gate is scale-factor-independent and costs no iterative
    * jobs. If training semantics ever drift, the learn gate fails —
    * this table is provenance, not a second oracle. */
  val ReferenceMerges: Seq[(String, String)] = Seq(
    (" ", "s"), ("e", "r"), ("o", "w"), ("o", "r"), ("i", "n"),
    (" ", "c"), ("m", "er"), ("s", "t"), (" ", "b"), ("l", "u"),
    (" ", "t"), ("a", "r"), ("p", "ar"), (" ", "a"), ("a", "t"),
    (" ", "f"), (" ", "v"), ("o", "mer"), ("st", "omer"), ("u", "stomer"))

  /** Apply a ranked merge list to one symbol sequence — each merge is one
    * leftmost-greedy non-overlapping pass, the train-time update rule. */
  def applyMerges(
      syms: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(syms) { case (s, (l, r)) => applyMerge(s, l, r) }

  /**
   * Encode documents with a trained merge list: GPT-2-style pretokens
   * (whitespace runs dropped, leading space kept — identical to
   * [[pretokenVocab]]), each re-segmented by the ranked merges.
   *
   * Shape: pretokenization stays the same codegen'd `regexp_extract_all`
   * as training; the merge fold is a typed map carrying the (tiny) merge
   * table on the closure — pure per-row compute, NO shuffle, so encoding
   * a 100 TB corpus is one embarrassingly-parallel scan.
   *
   * Output: `doc_id, n_pretokens, n_tokens, toks_head` (first 8 tokens
   * '|'-joined — the value check that token BOUNDARIES match, not just
   * counts).
   */
  def encodeDocs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        filter(
          regexp_extract_all(col(textCol), lit(TextAnalysis.BpeTokenPattern), lit(0)),
          t => !t.rlike("^\\s+$")).as("pretoks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        // Zipf memo: pretoken occurrences vastly outnumber distinct
        // pretokens, so cache each distinct pretoken's segmentation per
        // partition — identical output, ~occurrences/distinct fewer
        // merge folds. Bounded (no eviction; past the cap we just
        // compute uncached) so a pathological all-distinct corpus can't
        // grow executor memory.
        val cache = new java.util.HashMap[String, Seq[String]]()
        val cap = 1 << 16
        def enc(t: String): Seq[String] = {
          val hit = cache.get(t)
          if (hit != null) hit
          else {
            val v = applyMerges(splitCodepoints(t), merges)
            if (cache.size < cap) cache.put(t, v)
            v
          }
        }
        it.map { case (id, pretoks) =>
          val toks = pretoks.flatMap(enc)
          (id, pretoks.size.toLong, toks.size.toLong, toks.take(8).mkString("|"))
        }
      }
      .toDF("doc_id", "n_pretokens", "n_tokens", "toks_head")
  }

  /** Merge table as a DataFrame: (rank, merge_left, merge_right) in
    * learn order — the registry surface for `text_bpe_learn_merges`.
    * (`left`/`right` are reserved words in both engines.) */
  def mergeTable(spark: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "merge_left", "merge_right")
  }
}
