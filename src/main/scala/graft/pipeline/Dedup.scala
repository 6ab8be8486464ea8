package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{text, vector}

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, n-gram Jaccard verification, and embedding-cosine near-dup.
 *
 * Scale design (the 100 TB story):
 *  - signatures are computed in ONE codegen'd pass per document (native
 *    column expressions — `transform`/`aggregate`/`xxhash64` — no UDFs);
 *  - candidate generation is an equi-join on LSH band buckets (shuffle on
 *    band hash, never an O(n²) cross join);
 *  - only candidate pairs pay the exact verification cost (Jaccard /
 *    Hamming / cosine), via a self-join narrowed to bucket collisions;
 *  - `doc_a < doc_b` canonicalization keeps each pair once;
 *  - hot-bucket guard: content-identical docs collapse to one
 *    representative BEFORE the bucket self-join (see
 *    [[expandMemberPairs]]) — a degenerate corpus of millions of
 *    identical documents otherwise lands in one bucket and the join goes
 *    quadratic in corpus size instead of in distinct contents.
 */
object Dedup {

  // --- exact ---------------------------------------------------------------

  /** Exact dedup on the normalized-content fingerprint: every row mapped to
    * the group's minimum id (survivor). */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.select(col(idCol).as("doc_id"),
      TextAnalysis.contentFingerprint(col(textCol)).as("fingerprint"))
    val survivors = withFp.groupBy("fingerprint")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("group_size"))
    withFp.join(survivors, "fingerprint")
      .select(col("doc_id"), col("canonical_id"), col("group_size"))
  }

  /** Survivor ROWS after exact dedup: every column of the smallest-id row
    * per normalized-content fingerprint. Unlike [[exactDuplicates]] (which
    * reports the group structure), this is the pipeline's keep-set step —
    * and it runs as ONE scan plus one fingerprint-keyed shuffle (window
    * min + filter), not a groupBy + self-join: at 100 TB that halves the
    * scans and drops both join exchanges. */
  def exactDedupSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__graft_fp"))
    // NULL text has no content to match on: give each such row its own
    // fingerprint (its id) so unrelated no-text rows are never collapsed
    // into one survivor — SQL-join semantics (NULL never equals NULL)
    // agree.
    val fp = coalesce(TextAnalysis.contentFingerprint(col(textCol)),
      concat(lit("__graft_null_"), col(idCol).cast("string")))
    df.withColumn("__graft_fp", fp)
      .withColumn("__graft_min_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__graft_min_id"))
      .drop("__graft_fp", "__graft_min_id")
  }

  /**
   * Line-level boilerplate detection (the CCNet / RefinedWeb paragraph-
   * dedup shape): a line that recurs across ≥ `minDocs` DISTINCT
   * documents of the SAME source is boilerplate (navigation, headers,
   * cookie banners) — per-document stats of how much of the doc it eats.
   *
   * Line semantics match [[graft.functions.RepetitionStatsExpr]]: split
   * on '\n', trim exactly ' ', '\t', '\r' (NOT Java's String.trim —
   * DuckDB's `trim(l, ' \t\r')` reproduces this byte-for-byte), drop
   * empties.
   *
   * Scale shape: explode lines once → md5 line key → ONE (source, key)
   * aggregation with map-side combine (`countDistinct` of doc ids —
   * internally a partial-agg distinct expand, never a driver set) →
   * equi-join the per-line doc-frequency back onto the exploded lines →
   * per-doc re-aggregation. Two shuffles total, both on keys with
   * corpus-bounded cardinality; nothing is quadratic and nothing lands
   * on the driver. The boilerplate side of the join is the df ≥ minDocs
   * slice only, so AQE is free to broadcast it when (as in real crawls)
   * boilerplate is a tiny fraction of distinct lines.
   *
   * Output per input row: doc_id, n_lines, n_boiler_lines, n_line_chars,
   * n_boiler_chars, boiler_char_frac (an integer-ratio double — exact).
   */
  def lineBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      minDocs: Long): DataFrame = {
    val linesArr = filter(
      transform(split(col(textCol), "\n"), l => trim(l, " \t\r")),
      l => length(l) > 0)
    val lines = df
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        explode_outer(linesArr).as("line"))
      .withColumn("lh", md5(col("line")))
    val boiler = lines.filter(col("line").isNotNull)
      .groupBy(col("source"), col("lh"))
      .agg(countDistinct(col("doc_id")).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("source"), col("lh"), lit(true).as("is_boiler"))
    lines
      .join(boiler, Seq("source", "lh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("line")).as("n_lines"),
        count(when(col("is_boiler"), lit(1))).as("n_boiler_lines"),
        coalesce(sum(length(col("line"))), lit(0L)).cast("long").as("n_line_chars"),
        coalesce(sum(when(col("is_boiler"), length(col("line")))), lit(0L))
          .cast("long").as("n_boiler_chars"))
      .withColumn("boiler_char_frac",
        when(col("n_line_chars") === 0L, lit(0.0))
          .otherwise(col("n_boiler_chars").cast("double") / col("n_line_chars")))
  }

  /**
   * Suffix→prefix stitch detection: pairs (a, b) where document b BEGINS
   * with document a's last `k` tokens — the crawl-continuation /
   * pagination shape (one logical document split across fetches), which
   * whole-document dedup misses and shingle dedup only catches at high
   * overlap. These pairs are the stitch candidates a re-assembly pass
   * consumes.
   *
   * Shape: ONE pass computes each doc's first-k and last-k token keys
   * (md5 over the space-joined [[TextAnalysis.tokens]] slice — docs
   * shorter than k tokens get NULL keys and drop out), then ONE
   * suffix=prefix equi-join on the 128-bit key. Never all-pairs; join
   * fan-out is bounded by key collisions, i.e. by genuinely shared
   * k-token runs.
   */
  def stitchPairs(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, "stitch runs need at least 2 tokens")
    val toks = TextAnalysis.tokens(col(textCol))
    val keyed = df.select(col(idCol).as("doc_id"),
        when(size(toks) >= k,
          md5(concat_ws(" ", slice(toks, 1, k)))).as("prefix_key"),
        when(size(toks) >= k,
          md5(concat_ws(" ", slice(toks, -k, k)))).as("suffix_key"))
    keyed.select(col("doc_id").as("id_a"), col("suffix_key").as("key"))
      .filter(col("key").isNotNull)
      .join(keyed.select(col("doc_id").as("id_b"), col("prefix_key").as("key"))
        .filter(col("key").isNotNull), Seq("key"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /**
   * Incremental exact dedup: the survivor rows of a DELTA batch against
   * an already-deduplicated BASE corpus — the daily-increment shape (a
   * new crawl lands against petabytes of accepted corpus; re-running
   * global dedup is wasted work).
   *
   * Survivors = delta rows whose normalized-content fingerprint (a) does
   * not exist in base and (b) is the smallest-id holder within the delta.
   * Shape: one window pass over the delta (the exactDedupSurvivors
   * recipe) + one fingerprint-keyed LEFT ANTI join against base — the
   * base side is never re-shuffled beyond its fingerprint projection,
   * and at scale the fingerprint set can be a bucketed/stored table.
   */
  def incrementalExactSurvivors(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val baseFp = base.select(
      TextAnalysis.contentFingerprint(col(textCol)).as("__graft_fp")).distinct()
    val w = Window.partitionBy(col("__graft_fp"))
    delta
      .withColumn("__graft_fp", coalesce(TextAnalysis.contentFingerprint(col(textCol)),
        concat(lit("__graft_null_"), col(idCol).cast("string"))))
      .withColumn("__graft_min_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__graft_min_id"))
      .join(baseFp, Seq("__graft_fp"), "left_anti")
      .drop("__graft_fp", "__graft_min_id")
  }

  /**
   * Incremental NEAR-dup dedup: the survivors of a delta batch against an
   * accepted base corpus, at MinHash-LSH granularity — the near-dup
   * counterpart of [[incrementalExactSurvivors]] (a new crawl rarely
   * duplicates the base verbatim; it duplicates it with boilerplate
   * drift, which only shingle Jaccard catches).
   *
   * A delta doc is REJECTED when (a) some base doc is Jaccard-similar at
   * ≥ `threshold`, or (b) some SMALLER-ID delta doc is — the same
   * deterministic pairwise rule as [[semanticDedup]], no transitive
   * chains. Candidates come from the banded signature equi-join in both
   * legs (delta×base and delta×delta), never a cross join; every
   * candidate is verified with the exact shingle Jaccard, so LSH only
   * narrows. Content-identical delta docs collapse to their min-id
   * representative before banding (the standard hot-bucket guard; a
   * member is then rejected exactly when its self-Jaccard passes the
   * threshold or its representative is rejected — identical shingle sets
   * have identical similarity sets).
   *
   * At scale the base side's signatures are computed once and stored
   * (they are pure functions of content); the nightly job then pays one
   * banded join of delta against the signature table plus the bounded
   * delta-internal join.
   *
   * @return the surviving delta rows (original columns)
   */
  def incrementalNearDupSurvivors(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    def bandsOf(sigs: DataFrame): DataFrame = sigs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b)))
        .as(Seq("band", "bandHash")))

    val w = Window.partitionBy("__graft_sh")
    val tagged = delta
      .withColumn("__graft_sh", shingleHashes(col(textCol), shingleK))
      .withColumn("__graft_rep", min(col(idCol)).over(w))
    val repRows = tagged.filter(col(idCol) === col("__graft_rep"))
    val deltaSigs = repRows.select(col(idCol).as("doc_id"),
        col("__graft_sh").as("shingles"))
      .withColumn("sig", minHashSignature(col("shingles"), numHashes))
    // one row per distinct base CONTENT (min id as representative) — the
    // precomputable signature table
    val baseSigs = base
      .select(col(idCol).as("doc_id"), shingleHashes(col(textCol), shingleK).as("shingles"))
      .groupBy(col("shingles")).agg(min(col("doc_id")).as("doc_id"))
      .withColumn("sig", minHashSignature(col("shingles"), numHashes))

    val bandedDelta = bandsOf(deltaSigs)
    val bandedBase = bandsOf(baseSigs)
    val deltaSh = deltaSigs.select(col("doc_id"), col("shingles"))
    val baseSh = baseSigs.select(col("doc_id").as("base_id"), col("shingles").as("sh_b"))

    val rejBase = bandedDelta
      .join(bandedBase.select(col("band"), col("bandHash"), col("doc_id").as("base_id")),
        Seq("band", "bandHash"))
      .select("doc_id", "base_id").distinct()
      .join(deltaSh, Seq("doc_id"))
      .join(baseSh, Seq("base_id"))
      .filter(jaccardOf(col("shingles"), col("sh_b")) >= threshold)
      .select("doc_id").distinct()
    val rejDelta = bandedDelta.select(col("band"), col("bandHash"), col("doc_id").as("doc_a"))
      .join(bandedDelta.select(col("band"), col("bandHash"), col("doc_id").as("doc_b")),
        Seq("band", "bandHash"))
      .filter(col("doc_b") < col("doc_a"))
      .select("doc_a", "doc_b").distinct()
      .join(deltaSh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(deltaSh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .filter(jaccardOf(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()
    val rejectedReps = rejBase.unionByName(rejDelta).distinct()
      .withColumn("__graft_rej", lit(true))

    // member fate: self-similar (identical nonempty shingles ⇒ Jaccard
    // 1.0 ≥ t) ⇒ rejected against its smaller-id rep; otherwise it shares
    // its rep's fate (identical shingle sets ⇒ identical similarities)
    tagged
      .join(rejectedReps.withColumnRenamed("doc_id", "__graft_rep"),
        Seq("__graft_rep"), "left")
      .filter(!coalesce(col("__graft_rej"), lit(false)) &&
        (col(idCol) === col("__graft_rep") ||
          !(jaccardOf(col("__graft_sh"), col("__graft_sh")) >= threshold)))
      .drop("__graft_sh", "__graft_rep", "__graft_rej")
  }

  /**
   * CCNet-style segment-level dedup: split every document into
   * consecutive `width`-word segments, keep each distinct segment ONLY at
   * its first corpus occurrence (smallest doc id, then smallest position
   * within that doc), and reassemble what survives. This is the
   * "discard duplicated lines across shards" step of CCNet / C4 corpus
   * cleaning (the reference cleans whole documents; boilerplate —
   * headers, navigation, license blocks — repeats at sub-document
   * granularity and survives document-level dedup).
   *
   * Output per input row: `doc_id, n_segments, n_kept, clean_text`
   * (kept segments re-joined in document order; `""` when every segment
   * of the doc was seen earlier).
   *
   * Shape: one scan → segment explode → ONE shuffle keyed on the segment
   * content (window `row_number`, exactly the [[exactDedupSurvivors]]
   * recipe one level down) → one doc-keyed aggregation. No self-join, no
   * candidate pairs. At 100 TB the window key stays the content string
   * for collision-safety; partial aggregation bounds the doc-side state,
   * and a degenerate corpus (one segment repeated everywhere) costs one
   * hot window partition that only ranks ids — it never goes quadratic.
   */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String, width: Int): DataFrame = {
    require(width >= 1, s"segment width must be positive, got $width")
    val segs = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(__w) - 1) div $width), " +
          s"i -> concat_ws(' ', slice(__w, i * $width + 1, $width)))"))
        .as(Seq("seg_idx", "seg")))
    val firstSeen = Window.partitionBy(col("seg"))
      .orderBy(col("doc_id"), col("seg_idx"))
    segs
      .withColumn("__kept", row_number().over(firstSeen) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("__kept"), lit(1))).as("n_kept"),
        array_sort(collect_list(
          when(col("__kept"), struct(col("seg_idx"), col("seg"))))).as("__ks"))
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        concat_ws(" ", expr("transform(__ks, s -> s.seg)")).as("clean_text"))
  }

  // --- MinHash + LSH -------------------------------------------------------

  /** Large Mersenne prime for the affine MinHash permutations. */
  private val MinHashPrime = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) parameter pairs for the MinHash permutations. */
  private def minHashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    Seq.fill(numHashes)((1 + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Word-`k` shingles of a text column (distinct, hashed to 64-bit) —
    * a native expression (graft.functions.ShingleHashesExpr) that
    * tokenizes once per row. */
  def shingleHashes(textCol: Column, k: Int = 3): Column =
    text.shingle_hashes(textCol, k)

  /**
   * Cross-source contamination matrix: pairwise shingle-set Jaccard
   * between corpus SOURCES — the audit that finds mirrored/ingested-
   * twice feeds before any doc-level dedup runs, and the standard check
   * that a benchmark-adjacent source hasn't leaked into a training
   * feed.
   *
   * Shape at scale: one shingle pass per doc (the native expression),
   * one distinct to source-level shingle sets, then a shingle-keyed
   * equi-join whose per-key fan-out is bounded by C(#sources, 2) — a
   * universal shingle costs 190 pairs at 20 sources, never a corpus-
   * sized blow-up. Engine joins on 64-bit hashes; the oracle replays on
   * the raw strings (the minhash-gate equivalence).
   *
   * @return (source_a, source_b, n_shared, jaccard) for every source
   *         pair sharing ≥1 shingle, source_a < source_b
   */
  def sourceOverlap(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(sourceCol).as("source"),
        explode(shingleHashes(col(textCol), shingleK)).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))),
        Seq("source_b"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("na") + col("nb") - col("n_shared")).cast("double"), 6))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("jaccard"))
  }

  /** MinHash signature: for each permutation i, min over shingles of
    * (a_i·h + b_i) mod p — a native expression
    * (graft.functions.MinHashSignatureExpr). */
  def minHashSignature(shingles: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    text.minhash_signature(shingles, minHashParams(numHashes, seed))

  /**
   * MinHash-LSH near-duplicate pairs: signature → `bands` band-hashes →
   * equi-join on (band, bandHash) → exact Jaccard verification on the
   * colliding pairs → threshold filter.
   *
   * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
   */
  def minHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    val docs = df.select(col(idCol).as("doc_id"),
      shingleHashes(col(textCol), shingleK).as("shingles"))
    // hot-bucket guard: shingle-identical docs share EVERY band, so they
    // always collide — collapse each distinct shingle set to its min-id
    // representative before the band join and expand afterwards. Output
    // is exactly what the unguarded join emits (identical docs pair at
    // jaccard 1.0 with everything their rep pairs with), but the join is
    // quadratic only in distinct contents. Window functions (not a
    // groupBy + join-back) tag rep/gsize: every consumer then shares ONE
    // exchange of `docs` — column pruning can't specialize the child, so
    // ReuseExchange collapses the whole operator onto a single source
    // scan + shingle shuffle.
    val w = Window.partitionBy("shingles")
    val tagged = docs
      .withColumn("rep", min("doc_id").over(w))
      .withColumn("gsize", count(lit(1)).over(w))
    val memberOf = tagged.select(col("doc_id"), col("rep"))
    val repRows = tagged.filter(col("doc_id") === col("rep"))
    val sigs = repRows.select(col("doc_id"), col("shingles"))
      .withColumn("sig", minHashSignature(col("shingles"), numHashes))

    val banded = sigs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b)))
        .as(Seq("band", "bandHash")))

    // dedupe candidate pairs on ids BEFORE touching the shingle arrays —
    // distinct over (id, id) longs is cheap; distinct over 2×~50-element
    // arrays is not
    val candidates = bandCandidates(banded)

    val shOnly = sigs.select(col("doc_id"), col("shingles"))
    val repPairs = candidates
      .join(shOnly.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(shOnly.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccardOf(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

    val groupSelf = repRows
      .withColumn("jaccard", jaccardOf(col("shingles"), col("shingles")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id").as("rep"), col("gsize"), col("jaccard"))
    expandMemberPairs(repPairs, "jaccard", memberOf, groupSelf)
  }

  /** Per-band bucket cap before salting: a bucket this size or smaller
    * joins as a single hash-build; larger ones split into
    * ceil(size/cap) salt slices. */
  val HotBandBucketCap: Int = 1024

  /** Candidate pairs from banded signatures, SKEW-SAFE: the hot-bucket
    * guard upstream collapses *identical* shingle sets, but a crafted
    * corpus of near-identical-but-distinct docs can still land one
    * (band, bandHash) bucket with O(n²) pairs — inherent to LSH (every
    * bucket pair IS a candidate), so the fix is balance, not pruning.
    * Buckets over `cap` split into ceil(size/cap) salt slices: the
    * probe side keeps one slice per doc (id-hash), the other side
    * replicates per slice, and the join key gains `salt` — each
    * straggler bucket becomes nsalt bounded tasks. The emitted pair set
    * is IDENTICAL to the unsalted self-join (pair (a,b) meets exactly
    * in a's slice; DedupSpec pins equality and the planted-hot-band
    * shape). Bucket sizes come from a map-side-combined aggregation and
    * only the few oversized buckets broadcast back. */
  private[pipeline] def bandCandidates(
      banded: DataFrame, cap: Int = HotBandBucketCap): DataFrame = {
    require(cap >= 1, s"bucket cap must be >= 1, got $cap")
    val hotSizes = banded.groupBy(col("band"), col("bandHash"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > cap)
    val sized = banded.join(broadcast(hotSizes), Seq("band", "bandHash"), "left")
      .withColumn("nsalt",
        coalesce(ceil(col("bsize").cast("double") / cap).cast("int"), lit(1)))
    val a = sized.select(col("band"), col("bandHash"), col("nsalt"),
        col("doc_id").as("doc_a"))
      .withColumn("salt", pmod(xxhash64(col("doc_a")), col("nsalt")).cast("int"))
      .drop("nsalt")
    val b = sized.select(col("band"), col("bandHash"), col("nsalt"),
        col("doc_id").as("doc_b"))
      .withColumn("salt", explode(sequence(lit(0), col("nsalt") - 1)))
      .drop("nsalt")
    a.join(b, Seq("band", "bandHash", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** |∩|/|∪| at full double precision: integer set sizes divide exactly the
    * same in any engine (IEEE), so the value is oracle-checkable without
    * rounding (round() differs across engines at exact midpoints). */
  private def jaccardOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Hot-bucket guard, expansion half. `repPairs` are verified pairs over
    * group REPRESENTATIVES (one doc per distinct content, id = group min);
    * rebuild the full pair set over members:
    *  - inter-group pairs inherit the rep pair's similarity (members are
    *    content-identical to their rep), re-canonicalized with
    *    least/greatest — a member of the lower rep's group can outrank
    *    one of the higher's;
    *  - intra-group pairs (identical contents) carry the group's
    *    self-similarity, computed by the SAME expression as the pair path
    *    and pre-filtered by the same threshold in `groupSelf`, so emitted
    *    values are bit-identical to what the unguarded join would produce.
    * Every step is an equi-join on longs; total work is linear in corpus
    * size plus OUTPUT size (a corpus of n identical docs genuinely has
    * n(n-1)/2 duplicate pairs — the join streams them, nothing quadratic
    * is shuffled or verified). Near-identical-but-distinct floods (every
    * pairwise similarity above threshold) remain quadratic in distinct
    * contents — inherent to the pairwise output contract. */
  private def expandMemberPairs(
      repPairs: DataFrame, // (doc_a, doc_b, <value>), ids are reps
      valueCol: String,
      memberOf: DataFrame, // (doc_id, rep)
      groupSelf: DataFrame): DataFrame = { // (rep, gsize, <value>), kept groups only
    val inter = repPairs
      .join(memberOf.select(col("rep").as("doc_a"), col("doc_id").as("m_a")), Seq("doc_a"))
      .join(memberOf.select(col("rep").as("doc_b"), col("doc_id").as("m_b")), Seq("doc_b"))
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col(valueCol))
    val intra = groupSelf.filter(col("gsize") > 1)
      .join(memberOf.select(col("rep"), col("doc_id").as("m_a")), Seq("rep"))
      .join(memberOf.select(col("rep"), col("doc_id").as("m_b")), Seq("rep"))
      .filter(col("m_a") < col("m_b"))
      .select(col("m_a").as("doc_a"), col("m_b").as("doc_b"), col(valueCol))
    inter.unionByName(intra)
  }

  /** Exact n-gram Jaccard similarity join over ALL pairs (quadratic — the
    * verification oracle for the LSH path; use only on bounded inputs). */
  def ngramJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", jaccardOf(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /**
   * Asymmetric shingle CONTAINMENT pairs — the quote/boilerplate/
   * sub-document detector Jaccard misses (a short doc fully embedded in
   * a long one has high containment but low Jaccard):
   * `C(A→B) = |S'_A ∩ S'_B| / |S'_A|` over the document-frequency-
   * pruned shingle space `S'` (shingles with df ≤ `maxDf`).
   *
   * The df-pruning IS the scale mechanism, not an approximation knob:
   * per-shingle join fan-out is ≤ maxDf², so the candidate volume is
   * linear in corpus shingles — a boilerplate shingle shared by a
   * million docs never materializes its million² pairs (and carries no
   * containment signal anyway). Pruning is symmetric (dropped from both
   * numerator and denominator), so a true sub-document still scores
   * 1.0. The threshold test is exact-integer
   * (`n_shared·denom ≥ num·n_shingles`); `containment` is emitted
   * rounded for reading. Emits ORDERED pairs (contained → container).
   */
  /** The df-pruned shingle space shared by [[containmentPairs]] and
    * [[jaccardThresholdSweep]]: per-doc distinct shingle hashes with
    * document frequency ≤ maxDf (the fan-out bound), plus per-doc
    * pruned-space sizes. Returns (pruned(__cid, h), sizes(__cid, n)). */
  private def dfPrunedShingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      maxDf: Long): (DataFrame, DataFrame) = {
    val sh = df.select(col(idCol).as("__cid"),
      explode(shingleHashes(col(textCol), shingleK)).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val pruned = sh.join(dfreq.filter(col("df") <= maxDf).select("h"), "h")
    val sizes = pruned.groupBy(col("__cid")).agg(count(lit(1)).as("n"))
    (pruned, sizes)
  }

  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      maxDf: Long = 10L,
      minContainmentPct: Int = 90): DataFrame = {
    val (pruned, rawSizes) = dfPrunedShingles(df, idCol, textCol, shingleK, maxDf)
    val sizes = rawSizes.withColumnRenamed("n", "n_shingles")
    val a = pruned.select(col("__cid").as("contained_id"), col("h"))
    val b = pruned.select(col("__cid").as("container_id"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("contained_id") =!= col("container_id"))
      .groupBy(col("contained_id"), col("container_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("__cid", "contained_id"), "contained_id")
      .filter(col("n_shared") * 100 >= col("n_shingles") * minContainmentPct)
      .withColumn("containment", round(
        col("n_shared").cast("double") / col("n_shingles"), 6))
      .select(col("contained_id"), col("container_id"),
        col("n_shared"), col("n_shingles"), col("containment"))
  }

  /**
   * Dedup-rate-vs-threshold tuning curve: how many near-duplicate pairs
   * survive each Jaccard threshold — the table an operator reads BEFORE
   * committing a threshold to a petabyte dedup run (too low = eat real
   * data, too high = keep the near-dups). ONE candidate generation pays
   * for every threshold.
   *
   * Candidates come from the df-pruned shingle equi-join (the
   * [[containmentPairs]] scale mechanism: per-shingle fan-out ≤ maxDf²,
   * linear in corpus shingles); Jaccard is exact integers over the
   * PRUNED shingle space, and each threshold test is the integer cross-
   * multiplication `inter·100 ≥ union·t` — the whole sweep is one
   * conditional-sum aggregation over the candidate pairs.
   *
   * Output: ONE row — n_candidate_pairs plus pairs_ge_<t> per threshold.
   */
  def jaccardThresholdSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      maxDf: Long = 10L,
      thresholds: Seq[Int] = Seq(50, 60, 70, 80, 90)): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t <= 100),
      "thresholds are integer percents in (0, 100]")
    val (pruned, sizes) = dfPrunedShingles(df, idCol, textCol, shingleK, maxDf)
    val pairs = pruned.as("a").join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.__cid") < col("b.__cid"))
      .groupBy(col("a.__cid").as("id_a"), col("b.__cid").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__cid").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("__cid").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
    // coalesce: a corpus with NO candidate pairs must sweep to zeros,
    // not NULL counts (sum over an empty relation is NULL)
    val aggs = Seq(count(lit(1)).as("n_candidate_pairs")) ++
      thresholds.map(t =>
        coalesce(sum(when(col("inter") * 100 >= col("uni") * t, 1L).otherwise(0L)),
          lit(0L)).as(s"pairs_ge_$t"))
    pairs.agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Image near-duplicate pairs over 64-bit perceptual hashes
   * ([[Multimodal.imageAHash]]) at Hamming ≤ `maxHamming`: band the
   * hash into four 16-bit segments and equi-join on (band, value) —
   * with ≤ 3 differing bits, the pigeonhole principle guarantees at
   * least one intact band, so the banded join is EXACT (recall 1.0,
   * value-identical to the all-pairs scan the oracle runs). Candidate
   * pairs are distinct'd on bare ids before the verify, mirroring the
   * MinHash-LSH shape.
   */
  def ahashNearDuplicates(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole exactness holds only for maxHamming <= 3")
    val bands = hashes.select(col(idCol).as("__id"), col(hashCol).as("__h"),
        explode(array((0 until 4).map(bnd =>
          struct(lit(bnd).as("band"),
            shiftrightunsigned(col(hashCol), bnd * 16)
              .bitwiseAND(lit(0xffffL)).as("bv"))): _*)).as("bd"))
      .select(col("__id"), col("__h"), col("bd.band").as("band"),
        col("bd.bv").as("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__h").as("ha"), col("b.__h").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // --- SimHash -------------------------------------------------------------

  /** 64-bit SimHash packed into a LONG — a native expression
    * (graft.functions.SimHash64Expr): one tokenize + 64 bit-votes per
    * token, imperative, no 64-wide lambda trees. */
  def simHash(textCol: Column): Column = text.simhash64(textCol)

  /**
   * SimHash near-duplicates at Hamming distance ≤ `maxHamming`: block on
   * 16-bit bands (pigeonhole: distance ≤ 3 guarantees ≥ 1 identical band),
   * verify with bit_count(xor). Output (doc_a, doc_b, hamming).
   */
  def simHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), simHash(col(textCol)).as("sh"))
    // hot-bucket guard on the 64-bit sketch itself (a long — the cheapest
    // collapse key of the three LSH paths): equal sketches collide in
    // every band and pair at hamming 0, so only distinct sketch values
    // enter the band join. Window-tagged (see minHashNearDuplicates) so
    // every consumer reuses one exchange of `docs`.
    val w = Window.partitionBy("sh")
    val tagged = docs
      .withColumn("rep", min("doc_id").over(w))
      .withColumn("gsize", count(lit(1)).over(w))
    val memberOf = tagged.select(col("doc_id"), col("rep"))
    val repRows = tagged.filter(col("doc_id") === col("rep"))
    val sh = repRows.select(col("doc_id"), col("sh"))
    val banded = sh.select(col("doc_id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sh"), b * 16).bitwiseAND(0xffffL))).as(Seq("band", "bandVal")))
    // skew-safe candidate generation (shared with MinHash-LSH): crafted
    // near-identical-but-distinct sketches pile one (band, value) bucket;
    // bandCandidates salt-slices oversized buckets with the pair set
    // provably unchanged, and the 8-byte sketches re-join afterwards
    val candidates = bandCandidates(
      banded.select(col("band"), col("bandVal").as("bandHash"), col("doc_id")))
    val repPairs = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    val groupSelf = repRows
      .withColumn("hamming", bit_count(col("sh").bitwiseXOR(col("sh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id").as("rep"), col("gsize"), col("hamming"))
    expandMemberPairs(repPairs, "hamming", memberOf, groupSelf)
  }

  /**
   * Connected components over a near-duplicate pair graph → cluster labels
   * (minimum reachable id), the step that turns pairwise matches into
   * dedup groups with one canonical survivor each.
   *
   * Min-label propagation with pointer jumping: each round (a) joins
   * current labels across edges and keeps the per-node minimum, then
   * (b) path-halves by replacing every label with its label's label —
   * so label distances shrink geometrically and convergence takes
   * O(log diameter) rounds, not O(diameter) (a 1000-link drift chain
   * converges in ~10 rounds). Every step is an equi-join +
   * partial-aggregating groupBy — linear in |E| and fully parallel, the
   * standard large-scale CC recipe. The rounds are one fixpoint
   * [[GraphAlgos.GraphScope.iterate]] loop: both steps' results are
   * checkpointed (plans stay flat at any round count), the scope releases
   * what a round supersedes, and a loop that has not converged within
   * `maxRounds` throws rather than return partial labels.
   *
   * Output: (doc_id, cluster_id) for every id that appears in a pair;
   * cluster_id = min id of the component (its survivor).
   */
  def duplicateClusters(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxRounds: Int = 20): DataFrame = {
    // one pass over the (possibly expensive) pair pipeline: mirror each
    // pair via explode instead of unioning two evaluations of `pairs`
    val mirrored = pairs
      .select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // freshStats: the round contains a SELF-join, so inherited size
    // estimates would square every round and drown the driver in
    // BigInteger stats math by round ~20 (measured on a 1M-node
    // component; see SparkShims)
    GraphAlgos.inScope(mirrored, freshStats = true) { g =>
      // size the label layouts by data volume, not core count (the
      // sizedParts discipline shared with connectedComponentsStar): the
      // count also materializes the edge cache once, up front — the
      // JobProbe'd shape ran 64-task stages over ~0.1 MB of labels, all
      // scheduling overhead
      g.rows = g.m
      val init = g.checkpoint(g.e.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      // converged when no label moved: a cheap in-memory scan over the
      // checkpointed rows, no join action. A loop that never converges
      // throws: silently returning partial labels would split one true
      // component into several "clusters" (deeper graphs need a larger
      // maxRounds; rounds scale with cluster diameter)
      g.iterate(init, maxRounds, until = _.filter(col("label") =!= col("prev")).isEmpty,
          fixpoint = "duplicateClusters") { (labels, _) =>
        // (a) edge propagation: pull the neighbor's label. Materialized
        // eagerly — the |E|-sized aggregation feeds BOTH sides of the
        // pointer-jump self-join and must not run twice. The previous
        // label rides along as `prev` (labels holds exactly one row per
        // id, so min(prev) over the union recovers it) — the convergence
        // check then needs no join back to the old labels.
        val prop = g.e.join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"), col("label"), lit(null).cast("long").as("prev"))
        val stepped = g.checkpoint(labels.withColumn("prev", col("label"))
          .unionByName(prop)
          .groupBy("id").agg(min("label").as("label"), min("prev").as("prev")))
        // (b) pointer jumping: label := label(label) — a label always
        // names a node of the same component (and labels only decrease),
        // so the lookup table is `stepped` itself and each id joins
        // exactly one lookup row
        val next = g.checkpoint(stepped
          .join(stepped.select(col("id").as("label"), col("label").as("ll")), Seq("label"))
          .select(col("id"), least(col("label"), col("ll")).as("label"), col("prev")))
        g.release(stepped)
        next
      }.last
    }.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  // --- embedding cosine near-dup -------------------------------------------

  /** Exact cosine near-duplicate pairs over an embedding column (quadratic;
    * the oracle for the LSH-blocked variant below). */
  def cosineNearDuplicatesExact(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", vector.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /**
   * LSH-blocked cosine near-dup: `tables` independent random-hyperplane
   * sketches of `planesPerTable` bits; pairs colliding in ≥ 1 table are
   * verified exactly. The shuffle key is the (table, sketch) bucket —
   * linear in data size, never quadratic. All sketches come from ONE
   * native expression pass (graft.functions.HyperplaneSketch).
   */
  def cosineNearDuplicatesLsh(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      threshold: Double,
      tables: Int = 16,
      planesPerTable: Int = 10,
      seed: Long = 42L): DataFrame = {
    val rnd = new Random(seed)
    val planes = Array.fill(tables * planesPerTable * dim)(rnd.nextGaussian().toFloat)
    val docs = df.select(col(idCol).as("doc_id"), col(embCol).as("emb"))
    // hot-bucket guard: identical embeddings produce identical sketches in
    // every table — collapse them before the bucket join. The group's
    // self-cosine is computed by the SAME expression (cosine_sim(e, e) is
    // NOT exactly 1.0 in floating point — sqrt(s)² != s) so emitted
    // values match the unguarded join bit-for-bit. Window-tagged (see
    // minHashNearDuplicates) so every consumer reuses one exchange.
    val w = Window.partitionBy("emb")
    val tagged = docs
      .withColumn("rep", min("doc_id").over(w))
      .withColumn("gsize", count(lit(1)).over(w))
    val memberOf = tagged.select(col("doc_id"), col("rep"))
    val repRows = tagged.filter(col("doc_id") === col("rep"))
    val reps = repRows.select(col("doc_id"), col("emb"))
    val sk = reps.select(col("doc_id"),
      posexplode(graft.functions.sketch.hyperplane_sketch(col("emb"), planes, tables, planesPerTable))
        .as(Seq("table", "bucket")))
    // dedupe bucket collisions on bare id pairs BEFORE re-joining the
    // embedding arrays — distinct over two longs is cheap; shuffling and
    // hash-comparing 2×dim float arrays per candidate is not (mirrors the
    // MinHash candidate pattern above)
    // skew-safe (bandCandidates salt-slices oversized buckets; pair set
    // identical to the plain self-join)
    val candidates = bandCandidates(
      sk.select(col("table").as("band"), col("bucket").as("bandHash"), col("doc_id")))
    val embOnly = reps.select(col("doc_id"), col("emb"))
    val repPairs = candidates
      .join(embOnly.select(col("doc_id").as("doc_a"), col("emb").as("emb_a")), Seq("doc_a"))
      .join(embOnly.select(col("doc_id").as("doc_b"), col("emb").as("emb_b")), Seq("doc_b"))
      .withColumn("cosine", vector.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select("doc_a", "doc_b", "cosine")
    val groupSelf = repRows
      .withColumn("cosine", vector.cosine_sim(col("emb"), col("emb")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_id").as("rep"), col("gsize"), col("cosine"))
    expandMemberPairs(repPairs, "cosine", memberOf, groupSelf)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("cosine"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): k-means-cluster the
   * embedding space, then deduplicate ONLY within clusters — a document
   * is a semantic duplicate when some smaller-id document in the same
   * cluster has cosine ≥ `tau`. Clustering turns the corpus-quadratic
   * pair problem into per-cluster work: k grows with corpus size, so
   * cluster populations (and the per-cluster pair cost) stay bounded —
   * that is the paper's scale argument and the 100 TB story here.
   *
   * Shape: one distributed k-means fit ([[Clustering.kMeans]] — no
   * driver-side training sample), one codegen'd argmin assignment pass,
   * then the pair check as an equi-join keyed on the cluster id, never a
   * corpus cross join. The hot-bucket guard collapses bit-identical
   * embeddings to their min-id representative BEFORE the pair join
   * (identical vectors always share a cluster and always exceed any
   * tau ≤ cos(v,v), so non-representatives are duplicates by
   * construction and a flood of identical vectors costs one
   * representative, not a quadratic bucket) — provably the same output
   * as the unguarded join because similarity depends only on the vector
   * value: if any smaller-id member w is similar to rep r, then w's own
   * rep (id ≤ w's) carries the same vector and is similar too.
   *
   * Output: one row per input — `(vec_id, cluster, is_dup)`.
   */
  def semanticDedup(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iterations: Int,
      tau: Double): DataFrame = {
    val (model, _) = Clustering.kMeans(spark, df, idCol, embCol, k, iterations)
    val asg = df.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).cast("array<float>").as("emb"),
      Ann.clusterOf(col(embCol), model.ivf).as("cluster"))
    // identical-embedding collapse (window-tagged like the LSH variant:
    // one exchange on the group key serves rep-election and membership)
    val w = Window.partitionBy("cluster", "emb")
    val tagged = asg
      .withColumn("rep", min("vec_id").over(w))
    val reps = tagged.filter(col("vec_id") === col("rep"))
      .select(col("cluster"), col("rep"), col("emb"))
    // a representative is a duplicate iff a SMALLER-id representative in
    // its cluster is cosine-similar — equi-join on cluster, quadratic
    // only within a cluster (the SemDeDup contract)
    val dupReps = reps.as("a")
      .join(reps.select(col("cluster"), col("rep").as("rep_b"),
        col("emb").as("emb_b")).as("b"), Seq("cluster"))
      .filter(col("rep_b") < col("rep"))
      .filter(vector.cosine_sim(col("emb"), col("emb_b")) >= tau)
      .select(col("rep")).distinct()
      .withColumn("rep_dup", lit(true))
    // a non-representative is a duplicate of its rep only if the group's
    // SELF-cosine passes tau, by the same expression the pair path uses
    // (cosine_sim(e,e) is not exactly 1.0 in floating point, and a
    // zero-vector group has self-cosine 0.0) — mirrors the LSH variant's
    // groupSelf guard, keeping the output identical to the unguarded join
    tagged
      .join(dupReps, Seq("rep"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        ((col("vec_id") =!= col("rep") &&
          vector.cosine_sim(col("emb"), col("emb")) >= tau) ||
          coalesce(col("rep_dup"), lit(false)))
          .as("is_dup"))
  }

  /**
   * Repeated n-gram SPANS: maximal runs of consecutive word-k-grams that
   * also appear in at least one OTHER document — the exact-substring
   * dedup signal of "Deduplicating Training Data Makes Language Models
   * Better" (Lee et al., 2022), at span granularity so callers can strip
   * or down-weight the duplicated region instead of dropping the doc.
   *
   * Shape: one positional-shingle pass per doc (token-ordered, not
   * deduped), a groupBy on the 64-bit gram hash to find cross-doc grams
   * (distinct-doc count ≥ 2), a semi-join back to positions, and a
   * gaps-and-islands window per doc. Both shuffles are linear in total
   * gram count; nothing is quadratic in corpus size. Ubiquitous grams
   * ("of the and") mark single positions but only grow a span if a whole
   * RUN of consecutive grams is shared, so stop-word noise stays
   * span_len ≈ k while true copied passages stand out.
   *
   * @param minSpanTokens keep spans covering at least this many tokens
   *                      (a span of r consecutive grams covers r+k-1)
   * @return (doc_id, span_start, span_len) — 0-based token offset and
   *         token length of each maximal duplicated run
   */
  def repeatedNgramSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      minSpanTokens: Int = 0): DataFrame = {
    val pos = df.select(col(idCol).as("doc_id"),
        posexplode(text.shingle_hashes_pos(col(textCol), shingleK)).as(Seq("pos", "sh")))
    val crossDoc = pos.groupBy(col("sh"))
      .agg(count_distinct(col("doc_id")).as("df_docs"))
      .filter(col("df_docs") >= 2)
      .select("sh")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.join(crossDoc, Seq("sh"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("run_len"))
      .withColumn("span_len", col("run_len") + lit(shingleK.toLong - 1))
      .filter(col("span_len") >= minSpanTokens)
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /**
   * Chunk-level near-dup pairs via CONTENT-DEFINED chunk fingerprints
   * ([[Chunker.cdcChunks]]): docs sharing ≥ `threshold` CONTAINMENT
   * (shared distinct chunk fps ÷ the smaller doc's chunk count — the
   * subset-revision-sensitive score) are near-duplicates. This is the
   * sub-document revision detector: because CDC boundaries are
   * content-local, a doc and its edited revision share every chunk the
   * edit didn't touch, so containment stays high where a fixed-window
   * fingerprint would collapse to zero.
   *
   * Scale shape: candidate generation is an equi-join on chunk_fp —
   * never all-pairs — with the standard boilerplate guard: fps present
   * in more than `maxDocsPerChunk` docs (license headers, templates)
   * are dropped BEFORE the self-join, bounding any fp's pair fan-out at
   * `maxDocsPerChunk²` (they stay in the containment DENOMINATOR — a
   * doc that is all boilerplate scores low, it doesn't explode the
   * join). Same discipline as the LSH hot-bucket guard.
   */
  def cdcChunkNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      avgTokens: Int = 8,
      threshold: Double = 0.5,
      maxDocsPerChunk: Int = 50): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(maxDocsPerChunk >= 2, "maxDocsPerChunk must allow at least one pair")
    GraphAlgos.inScope() { g =>
      val ch = g.persist(Chunker.cdcChunks(df, idCol, textCol, avgTokens)
        .select(col(idCol).as("doc"), col("chunk_fp")).distinct())
      val counts = ch.groupBy(col("doc")).agg(count(lit(1)).as("n_chunks"))
      val kept = ch.join(
        ch.groupBy(col("chunk_fp")).agg(count(lit(1)).as("fp_docs"))
          .filter(col("fp_docs") <= maxDocsPerChunk).select("chunk_fp"),
        Seq("chunk_fp"), "left_semi")
      val pairs = kept.select(col("chunk_fp"), col("doc").as("doc_a"))
        .join(kept.select(col("chunk_fp"), col("doc").as("doc_b")), Seq("chunk_fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared_chunks"))
      // materialize (pair-sized) before the scope releases ch
      g.materialize(pairs
        .join(counts.select(col("doc").as("doc_a"), col("n_chunks").as("na")), Seq("doc_a"))
        .join(counts.select(col("doc").as("doc_b"), col("n_chunks").as("nb")), Seq("doc_b"))
        .withColumn("containment",
          col("shared_chunks").cast("double") / least(col("na"), col("nb")).cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("shared_chunks"), col("containment")))
    }
  }

  /**
   * Edit-distance verification kernel over BLOCKED candidate pairs — the
   * exact-verify stage a production dedup pipeline runs after LSH
   * narrows the corpus: candidates come from an equi-join on the block
   * key (source, lang, ⌊chars/`bucketChars`⌋), never an all-pairs scan,
   * and the O(p²)-per-pair Levenshtein only runs on pairs that also pass
   * the |Δchars| ≤ `maxDistance` lower bound (an edit script shorter
   * than the length gap is impossible, so the skip is lossless on full
   * strings and a cheap documented block rule on prefixes). The distance
   * itself is the codegen'd built-in `levenshtein` over `prefixLen`-char
   * prefixes — bounded work per pair regardless of document size.
   *
   * Scale shape: shuffle on the block key, bounded blocks (a source ×
   * lang × length-bucket cell), bounded per-pair cost. At 100 TB the
   * blocks stream through an ordinary sort-merge join; nothing is
   * quadratic in corpus size, only in cell occupancy.
   *
   * The blocking is LOSSLESS for the distance bound: with
   * `maxDistance` ≤ `bucketChars`, an admissible pair's buckets differ
   * by at most 1, and the probe side emits bkt−1/bkt/bkt+1 — so a pair
   * straddling a bucket boundary (length 64 vs 63 at bucket width 64)
   * still meets in exactly one probe cell (each pair matches once:
   * the build side's single bkt equals exactly one of the probe's
   * three distinct values).
   */
  def editDistanceVerify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      langCol: String,
      bucketChars: Int = 64,
      prefixLen: Int = 120,
      maxDistance: Int = 5): DataFrame = {
    require(bucketChars > 0 && prefixLen > 0 && maxDistance >= 0,
      "bucketChars/prefixLen must be positive, maxDistance non-negative")
    require(maxDistance <= bucketChars,
      "maxDistance must be <= bucketChars for the +-1-bucket probe to be lossless")
    def side(suffix: String): DataFrame = df.select(
      col(idCol).as(s"id_$suffix"),
      substring(col(textCol), 1, prefixLen).as(s"pre_$suffix"),
      length(col(textCol)).as(s"len_$suffix"),
      col(sourceCol).as("src"),
      col(langCol).as("lng"),
      (length(col(textCol)).cast("long") / bucketChars).cast("long").as("bkt"))
    val probe = side("b").withColumn("bkt",
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
    side("a").join(probe, Seq("src", "lng", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDistance)
      // banded DP (threshold form): O(maxDistance·prefixLen) per pair
      // instead of O(prefixLen²) — identical output because only
      // distances ≤ maxDistance survive anyway. Above the threshold the
      // built-in returns -1, which the between() excludes.
      .withColumn("edit_dist",
        levenshtein(col("pre_a"), col("pre_b"), maxDistance))
      .filter(col("edit_dist").between(0, maxDistance))
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /**
   * EXACT shared-substring runs between document pairs — the
   * "deduplicate exact substrings, not just whole docs" operator of
   * training-corpus hygiene (cross-doc boilerplate, quoted passages,
   * copy-paste contamination). For every pair sharing at least one
   * exact run of ≥ `gramLen` characters: the longest shared run and
   * how many maximal runs there are.
   *
   * Mechanism: character `gramLen`-gram posting lists (doc_id, pos,
   * gram), a DOC-FREQUENCY CAP (grams in more than `maxDf` docs —
   * corpus-wide boilerplate — are dropped BEFORE the self-join, the
   * same hot-bucket guard as the LSH/CDC paths, bounding any gram's
   * pair fan-out at maxDf²), an equi-join on the gram, then
   * gaps-and-islands on the (pos_a − pos_b) DIAGONAL: consecutive
   * matched positions on one diagonal are one maximal run of length
   * `islandLen + gramLen − 1`. The frequency cap can split a run that
   * crosses a capped gram — that is the documented semantics (both
   * this and the relational replay apply the identical cap).
   *
   * Scale shape: no all-pairs anywhere — candidate volume is
   * Σ_g df(g)² ≤ maxDf · Σ_g df(g), one shuffle keyed by gram, one by
   * (pair, diagonal) whose window partitions are run-sized. The
   * classical single-node alternative (suffix array) needs a global
   * sort of every suffix; prefix-doubling suffix arrays distribute,
   * but cost O(log n) full-corpus sorts — the capped posting-list join
   * touches only grams that actually repeat, which at corpus scale is
   * the small minority.
   */
  def substringRuns(
      df: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 30,
      maxDf: Int = 50): DataFrame =
    substringIslands(df, idCol, textCol, gramLen, maxDf)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run_len")).cast("long").as("max_shared_run"),
        count(lit(1)).cast("long").as("n_runs"))

  /** Shared maximal-run stage of [[substringRuns]] /
    * [[substringSurvivors]]: one row per maximal shared run —
    * (doc_a < doc_b, diagonal, pb_start, run_len). Materialized
    * (localCheckpoint) so the posting-list join runs once however many
    * downstream views consume it. */
  private def substringIslands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int,
      maxDf: Int): DataFrame = {
    require(gramLen >= 2, "gram length must be at least 2")
    require(maxDf >= 2, "doc-frequency cap below 2 would drop every match")
    // spread the gram explode before it runs (guide §2.5 input skew): the
    // docs scan is a single split (one parquet row group), and the explode
    // fans each doc out ~1000x — measured 3.1 s single-task, twice (cache
    // build + the pair-gen pass), vs a cheap one-time exchange of the doc
    // text. Round-robin over the cluster's cores — but ONLY when the
    // input is actually narrower than the cluster (a corpus that already
    // scans wide would pay the exchange for nothing).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val pre = df.filter(length(col(textCol)) >= gramLen)
    val spread =
      if (pre.rdd.getNumPartitions >= par) pre else pre.repartition(par)
    GraphAlgos.inScope() { g =>
      val grams = g.persist(spread
        .select(col(idCol).as("doc_id"),
          explode(expr(
            s"transform(sequence(1, length($textCol) - ${gramLen - 1}), " +
              s"p -> struct(p AS p, substring($textCol, p, $gramLen) AS g))"))
            .as("pg"))
        .select(col("doc_id"), col("pg.p").as("p"), col("pg.g").as("g")))
      val keep = grams.groupBy(col("g"))
        .agg(count_distinct(col("doc_id")).as("df_docs"))
        .filter(col("df_docs").between(2, maxDf))
        .select("g")
      val pg = grams.join(keep, Seq("g"), "left_semi")
      // Pair generation as ONE grouped aggregation + in-memory pairing
      // instead of the posting-list SELF-JOIN (which shuffled + sorted the
      // capped posting list TWICE as the two sort-merge legs): group the
      // occurrences per gram — a single exchange on g — and emit the
      // cross pairs with a codegen'd nested transform. Output rows are
      // identical to the equi-join's (same doc_a < doc_b pairs, same
      // positions); per-gram pair volume is the SAME Σ_g df(g)² the join
      // produced, and the per-group buffer is bounded by the df cap
      // applied above (≤ maxDf docs per gram — the boilerplate grams that
      // would make a group unbounded never reach this aggregation).
      val pairs = pg.groupBy(col("g"))
        .agg(collect_list(struct(col("doc_id"), col("p"))).as("occ"))
        .select(explode(expr(
          "flatten(transform(occ, a -> transform(" +
            "filter(occ, b -> b.doc_id > a.doc_id), " +
            "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, " +
            "a.p AS pa, b.p AS pb))))")).as("pr"))
        .select(col("pr.doc_a"), col("pr.doc_b"),
          col("pr.pa"), col("pr.pb"))
      val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("pa"))
      g.materialize(pairs.withColumn("diag", col("pa") - col("pb"))
        .withColumn("isl_id", col("pa") - row_number().over(w))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl_id"))
        .agg((count(lit(1)) + lit(gramLen.toLong - 1)).as("run_len"),
          min(col("pb")).as("pb_start")))
    }
  }

  /**
   * Turn shared-run detection into a DEDUP ACTION: for every doc, the
   * fraction of its characters covered by exact runs shared with any
   * LOWER-id doc (first-occurrence-wins, the standard exact-substring
   * dedup policy); docs at or above `dropFraction` are marked dropped.
   * Coverage is the UNION of the run intervals on the doc — the same
   * sweep-line gaps-and-islands as the relational interval operator,
   * so overlapping runs from different partners never double-count.
   * Docs with no shared run emit no row (trivially kept).
   *
   * Exact integers throughout; the one division (covered / length) is
   * round(,6) presentation.
   */
  def substringSurvivors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int = 30,
      maxDf: Int = 50,
      dropFraction: Double = 0.5): DataFrame = {
    val iv = substringIslands(df, idCol, textCol, gramLen, maxDf)
      .select(col("doc_b").as("doc_id"), col("doc_a"),
        col("pb_start").as("s"),
        (col("pb_start") + col("run_len")).as("e"))
    val order = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"), col("doc_a"))
    val isl = iv
      .withColumn("prev_max",
        max(col("e")).over(order.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl_id",
        sum(when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L))
          .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val covered = isl.groupBy(col("doc_id"), col("isl_id"))
      .agg(min(col("s")).as("st"), max(col("e")).as("en"))
      .groupBy(col("doc_id"))
      .agg(sum(col("en") - col("st")).cast("long").as("covered_chars"))
    covered
      .join(df.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("text_len")), Seq("doc_id"))
      .select(col("doc_id"), col("text_len"), col("covered_chars"),
        round(col("covered_chars").cast("double") / col("text_len"), 6)
          .as("coverage_frac"),
        (col("covered_chars").cast("double") / col("text_len") >=
          dropFraction).as("dropped"))
  }
}
