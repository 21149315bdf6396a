package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Barrier, Grain, QueryModule}
import graft.functions.{Similarity, TextFunctions => TF}
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._
import DedupQueries.{chunkCtes, chunks, minhashCtes}
import SimilarityQueries.kmeansSeeds

/** Text curation for training corpora: tokenization and quality
  * signals, language id, heuristic filters, n-gram statistics,
  * contamination checks, privacy releases, packing and epoch
  * planning, and the end-to-end corpus build (`pipeline_`).
  */
object TextQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("t_", "pipeline_")

  // Query entries for the training-data-pipeline extensions
  // (dedup / similarity / text analysis / multimodal), ALL with
  // full-replay DuckDB oracles: since round 4 the MinHash-LSH,
  // SimHash, sign-LSH ANN and langid oracles replay the algorithm in
  // SQL over portable md5-derived hashes (see the `portableHashes`
  // paths), so every entry here is rows+schema+hash checked — none
  // are rows-only.

  val tTokenCount: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"), col("n_chars"),
      length(col("text")).cast("long").as("text_len"),
      TF.tokenCount(col("text")).as("n_tokens"),
      // BPE-ish proxy: greedy ≤4-char alpha chunks. Native run-length
      // count (⌈run/4⌉ per alpha run) — value-identical to
      // size(regexp_extract_all(text, "[a-z]{1,4}")) without the
      // regex engine or match-array allocation (~5× on the bench);
      // PropertySpec pins the equality
      graft.plans.HashExpressions.alphaChunkCount(col("text"), 4)
        .as("n_subword_tokens"))
      .orderBy(col("doc_id"))

  val tQualityScore: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TF.tokenCount(col("text")).as("n_tokens"),
      TF.stopwordRatio(col("text")).as("stop_ratio"),
      TF.avgWordLen(col("text")).as("avg_word_len"),
      TF.qualityScore(col("text")).as("quality_score"))
      .orderBy(col("doc_id"))

  val tFingerprint: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TF.fingerprint(col("text")).as("fingerprint"),
      TF.fingerprint(lower(col("text"))).as("fingerprint_normalized"))
      .orderBy(col("doc_id"))

  val tLangId: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"), col("lang").as("labeled_lang"),
      TF.langId(col("text")).as("predicted_lang"))
      .orderBy(col("doc_id"))

  /** Deterministic content-hash split assignment — the reproducible
    * train/val/test mechanism for corpora: bucket = first md5 nibble
    * of the doc key (portable across engines, unlike engine hash()),
    * train = 0..b (12/16), val = c..d, test = e..f. Rerunning or
    * re-partitioning can never move a document between splits.
    */
  val tSplitAssign: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("bucket").isin("c", "d"), "val")
          .when(col("bucket").isin("e", "f"), "test")
          .otherwise("train"))
      .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))

  /** Gopher-style repetition features: distinct-token fraction and
    * top-token mass per document — the standard cheap signals for
    * filtering degenerate (repetitive) documents from a training
    * corpus. All doubles are single divisions of exact counts.
    */
  val tRepetition: Q = (s, dir) => {
    val cnt = docs(s, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).cast("long").as("top_c"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_frac"),
        (col("top_c").cast("double") / col("n_tokens")).as("top_token_frac"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic sequence packing: pack documents into ~`target`
    * token bins for pretraining batches. Scale shape: shard by a
    * content-hash nibble, order WITHIN the shard by content hash,
    * and bin by the pre-document running token count — a
    * per-partition window cumsum, never a global sort, and the
    * assignment is reproducible under any partitioning. Documents
    * are never split across bins (bin = floor(preceding-sum /
    * target)).
    */
  val tPackSequences: Q = (s, dir) => {
    val target = 2048L
    val keyed = docs(s, dir).select(col("doc_id"),
      TF.tokenCount(col("text")).as("n_tok"),
      md5(col("doc_id").cast("string")).as("key"))
      .withColumn("shard", substring(col("key"), 1, 1))
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("bin",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / target))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  /** Text normalization pipeline — the cleanup stage before any
    * fingerprint/dedup at corpus scale: lowercase, strip
    * non-alphanumerics, collapse whitespace. Emits the normalized
    * fingerprint (what exact-dedup keys on after cleaning) plus
    * before/after lengths. Pure codegen'd string expressions.
    */
  val tNormalize: Q = (s, dir) => {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs(s, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("raw_len"),
      length(norm).cast("long").as("norm_len"),
      md5(norm).as("norm_fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Weighted mixture sampling — pretraining data mixing: each
    * language stratum contributes a weight-proportional quota
    * (en 3× the rest here), membership decided by md5 rank so the
    * mixture is reproducible under reruns and repartitioning.
    * Emits per-stratum achieved counts plus an id-sum checksum so
    * the oracle verifies membership, not just counts.
    */
  val tMixtureSample: Q = (s, dir) => {
    // Per-stratum quota via the map-side [[graft.functions.TopKAggBy]]
    // (constant score, payload-ordered ⇒ the k md5-smallest docs),
    // NOT a per-lang row_number window: the window form shuffles and
    // sorts the ENTIRE stratum on one task per language — at corpus
    // scale a stratum is billions of rows. The partial aggregate
    // pre-trims each map task to k rows, so the shuffle carries
    // ≤ k·langs-per-partition rows no matter the corpus size. Ranks
    // come back from posexplode over the sorted buffer (identical
    // order to the old window: md5 ASC, doc_id ASC).
    val maxQuota = 15
    val quota = when(col("lang") === "en", maxQuota).otherwise(5)
    val topk = udaf(new graft.functions.TopKAggBy[(String, Long)](maxQuota))
    docs(s, dir)
      .select(col("lang"),
        struct(md5(col("doc_id").cast("string")).as("_1"),
          col("doc_id").as("_2")).as("key"))
      .groupBy(col("lang"))
      .agg(topk(lit(0.0), col("key")).as("picked"))
      .select(col("lang"), posexplode(col("picked")))
      .filter(col("pos") < quota)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("col._2._2")).cast("long").as("id_checksum"))
      .orderBy(col("lang"))
  }

  /** Global document-frequency table — the idf side of TF-IDF. */
  val tDocFrequency: Q = (s, dir) =>
    docs(s, dir)
      .select(explode(array_distinct(TF.tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("token"))

  /** Per-doc top-3 terms ranked tf-idf-style but with an all-integer
    * order (tf DESC, df ASC, token) — deterministic across engines
    * with no float log in the ranking path.
    */
  val tTopTerms: Q = (s, dir) => {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tf"), col("df"), col("token"))
    tf.join(broadcast(df), "token")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Deterministic stratified sampling: k docs per language, chosen
    * by md5 order — a reproducible "random" sample whose membership
    * survives reruns and repartitioning (same property as
    * [[tSplitAssign]], per-stratum exact counts).
    */
  val tStratifiedSample: Q = (s, dir) => {
    // Same map-side top-k shape as [[tMixtureSample]] (k docs by md5
    // order per language, payload carries the output columns so no
    // join-back); the former per-lang window sorted whole strata on
    // single tasks
    val topk = udaf(new graft.functions.TopKAggBy[(String, Long, Long)](10))
    docs(s, dir)
      .select(col("lang"),
        struct(md5(col("doc_id").cast("string")).as("_1"),
          col("doc_id").as("_2"), col("n_chars").as("_3")).as("key"))
      .groupBy(col("lang"))
      .agg(topk(lit(0.0), col("key")).as("picked"))
      .select(col("lang"), explode(col("picked")).as("p"))
      .select(col("lang"), col("p._2._2").as("doc_id"),
        col("p._2._3").as("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Winnowing fingerprint (MOSS) via the native
    * [[graft.plans.WinnowFingerprint]] codegen expression: k-gram
    * Rabin-Karp rolling hashes → per-window minima → sorted distinct
    * set. The per-document plagiarism/near-dup fingerprint that
    * guarantees detection of any shared run ≥ k+w-1 chars at ~2/(w+1)
    * the k-gram storage. Emitted as scalar summaries (set size, min,
    * md5 of the joined set) so the oracle — which replays the exact
    * algorithm with list_reduce/list_min — compares flat columns.
    */
  val tWinnowFingerprint: Q = (s, dir) => {
    val fp = graft.plans.HashExpressions.winnowFingerprint(col("text"), 8, 4)
    docs(s, dir)
      // the expression hashes UTF-8 BYTES while the DuckDB oracle walks
      // unicode() codepoints; they agree only on ASCII. Enforce that
      // contract per row (length == octet_length iff every char is
      // single-byte) instead of assuming it of future corpora.
      .where(assert_true(length(col("text")) === octet_length(col("text")),
        lit("winnow oracle assumes ASCII text")).isNull)
      .withColumn("fp", fp)
      .select(col("doc_id"),
        // k-gram count as the expression computes it: len-k+1 when the
        // text holds at least one k-gram, else the single whole-string
        // (or empty-string sentinel) hash
        greatest(length(col("text")) - 8 + 1, lit(1)).cast("long").as("n_kgrams"),
        size(col("fp")).cast("long").as("n_fp"),
        element_at(col("fp"), 1).as("fp_min"),
        md5(concat_ws(",", col("fp"))).as("fp_md5"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model prep: corpus-wide bigram counts joined to
    * first-token unigram counts → conditional probability, top-20 by
    * frequency. Shuffle shape at scale: two partial-agg reduces plus
    * one broadcast-back join on the (tiny) surviving top set — the
    * unigram join happens AFTER the top-k cut, never on the full
    * bigram table.
    */
  val tBigramLm: Q = (s, dir) => {
    val d = docs(s, dir)
    val big = d.select(explode(TF.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("bigram")).limit(20)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val uni = d.select(explode(TF.tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    big.join(uni, Seq("w1"), "left_outer")
      .select(col("bigram"), col("c"), col("c1"),
        (col("c").cast("double") / col("c1").cast("double")).as("p_w2_given_w1"))
      .orderBy(desc("c"), col("bigram"))
  }

  /** PII-scrub pass shape: count pattern families (digit runs,
    * capitalized tokens, URLs) and measure the redacted length —
    * the standard pre-training scrub, all codegen'd regex (no UDF).
    */
  val tPiiScrub: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
        .cast("long").as("n_digit_runs"),
      size(regexp_extract_all(col("text"), lit("[A-Z][a-z]+"), lit(0)))
        .cast("long").as("n_cap_words"),
      size(regexp_extract_all(col("text"), lit("https?://[^ ]+"), lit(0)))
        .cast("long").as("n_urls"),
      length(regexp_replace(col("text"), "[0-9]+", "<NUM>"))
        .cast("long").as("len_scrubbed"))
      .orderBy(col("doc_id"))

  /** Zipf bucket histogram of the document-frequency table:
    * bucket = ⌊log₂ df⌋ + 1 via binary-representation length (pure
    * integer — no float log at bucket boundaries). The standard
    * head/tail shape check on a corpus vocabulary.
    */
  val tZipfBuckets: Q = (s, dir) =>
    docs(s, dir)
      .select(explode(array_distinct(TF.tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .groupBy(length(bin(col("df"))).cast("long").as("log2_bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("df")).as("min_df"), max(col("df")).as("max_df"))
      .orderBy(col("log2_bucket"))

  /** End-to-end corpus cleaning — the composed training-data
    * pipeline in one dataflow: exact dedup (md5 fingerprint,
    * keep-min-id) → near-dup group resolution (MinHash-LSH pairs →
    * connected components) dropping every non-canonical member →
    * per-language survivor accounting. Linear output in corpus size
    * (groups, not pairs) — the shape a 100 TB clean must take. The
    * oracle replays the whole pipeline (fingerprint dedup + the
    * recursive-CTE closure over exact-Jaccard pairs).
    */
  val tCorpusClean: Q = (s, dir) => {
    val d = docs(s, dir)
    val exactSurvivors = d
      .withColumn("fp", TF.fingerprint(col("text")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"))
    // near-dup members that are NOT their group's canonical (min id)
    val dropNearDup = Dedup.dupGroups(
        Dedup.minhashLshPairsRaw(s, dir, portableHashes = true))
      .select(col("canonical_id"), explode(col("members")).as("doc_id"))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"))
    val cleaned = exactSurvivors
      .join(dropNearDup, Seq("doc_id"), "left_anti")
    d.groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
      .join(exactSurvivors.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_exact_unique")), Seq("lang"))
      .join(cleaned.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_clean")), Seq("lang"))
      .orderBy(col("lang"))
  }

  /** Corpus length profile: per-language document-length deciles via
    * ntile over a UNIQUE ordering (n_chars, doc_id) — the
    * distribution snapshot used to set packing / truncation budgets.
    */
  val tLengthDeciles: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    docs(s, dir)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("decile"))
  }

  /** Benchmark decontamination — the standard 13-gram collision
    * check between a training corpus and an eval set (here: every
    * 50th document stands in for the benchmark — a slice that
    * provably collides on this corpus, so the check is non-vacuous):
    * any shared
    * 13-token shingle flags a (train, eval) pair with its collision
    * count. Inverted-index join over distinct shingles — never a
    * train×eval cross product — so the check scales as
    * Σ per-shingle postings, the same shape at 100 TB.
    */
  val tDecontaminate: Q = (s, dir) => {
    val d = docs(s, dir)
    def shingled(df: DataFrame, idCol: String) = df
      .select(col("doc_id").as(idCol),
        explode(array_distinct(TF.shingles(col("text"), 13))).as("sh"))
    val evalSet = shingled(d.filter(col("doc_id") % 50 === 7), "eval_id")
    val train = shingled(d.filter(col("doc_id") % 50 =!= 7), "doc_id")
    train.join(evalSet, "sh")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_13grams"))
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** Document chunking with overlap — the windowing stage a RAG index
    * or pretraining tokenizer runs over a corpus: fixed-size token
    * windows (W=32) at stride S=24 (8-token overlap), document-local,
    * never split across documents. A chunk starts at every stride
    * offset < n_tokens; the trailing chunk may be short. Scale shape:
    * pure narrow generator + slice — zero shuffles before the final
    * presentation sort, so it streams at any corpus size. `chunk_fp`
    * (md5 of the space-joined window) is the key a chunk-level dedup
    * or vector-index build uses downstream.
    */
  val tChunkOverlap: Q = (s, dir) => {
    val W = 32; val S = 24
    docs(s, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n") - 1, lit(S))).as("st"))
      .select(col("doc_id"),
        (col("st") / S).cast("long").as("chunk_index"),
        slice(col("toks"), col("st") + 1, lit(W)).as("chunk"))
      .select(col("doc_id"), col("chunk_index"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** Sequential Poisson (priority) sampling — Ohlsson's weighted
    * without-replacement scheme: priority ξ = u/w with u a
    * deterministic content-hash uniform and w = n_chars; the sample
    * is the k smallest priorities. u is (v+1)/2⁵² with v the first
    * 13 md5 nibbles (52 bits), so u is EXACT in a double (power-of-
    * two denominator, no rounding) and ξ is one IEEE division —
    * bit-reproducible across engines, rerun-stable, and any document
    * subset keeps a consistent sample (the property that makes
    * priority sampling composable across shards at 100 TB). Top-k
    * via orderBy+limit = TakeOrderedAndProject: per-partition heads,
    * never a global sort.
    */
  val tWeightedSample: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("double") + 1) / lit(4503599627370496.0))
      .withColumn("priority", col("u") / col("n_chars"))
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("weight"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(100)

  /** Per-source epoch/repetition planner — the up-sampling half of a
    * pretraining data mixture (the selection-only half is
    * [[tMixtureSample]]): each source gets a token budget
    * proportional to its target weight; a source smaller than its
    * budget repeats (epochs > 1), a larger one down-samples
    * (epochs < 1). Every doc gets floor(r) epochs, and the
    * fractional remainder is met by granting one extra epoch to the
    * docs whose md5-uniform u < frac(r) — a per-doc independent
    * decision, so the whole plan is a tiny per-source stats
    * aggregate + broadcast join-back + one narrow pass: no
    * per-source sort, rank, or window anywhere, linear at any
    * corpus size, and deterministic under reruns and repartitioning
    * (md5 of doc_id, never rand()).
    */
  val tSourceEpochs: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      TF.tokenCount(col("text")).as("n_tok"),
      ((conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double") + 1) / lit(4503599627370496.0)).as("u"))
    val stats = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tokens"))
      // target weight 1..4 derived from the source name — a
      // deterministic stand-in for a curated per-domain recipe table
      .withColumn("w", lit(1) + substring(col("source"), 4, 10).cast("int") % 4)
    val totals = stats.agg(sum(col("src_tokens")).as("tot"),
      sum(col("w").cast("long")).as("wsum"))
    val plan = stats.crossJoin(broadcast(totals))
      .withColumn("r",
        col("tot") * col("w") / col("wsum") / col("src_tokens"))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        floor(col("r")).as("base_epochs"),
        (col("r") - floor(col("r"))).as("frac"))
    d.join(broadcast(plan), "source")
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("src_tokens")).as("src_tokens"),
        max(col("base_epochs")).as("base_epochs"),
        sum(when(col("u") < col("frac"), 1L).otherwise(0L)).as("n_upsampled"),
        (max(col("base_epochs")) * max(col("src_tokens")) +
          sum(when(col("u") < col("frac"), col("n_tok")).otherwise(0L)))
          .as("emitted_tokens"),
        sum(when(col("u") < col("frac"), col("doc_id")).otherwise(0L))
          .as("upsampled_id_sum"))
      .orderBy(col("source"))
  }

  /** Quality-threshold sweep — the curve a pipeline operator reads
    * to pick a filtering cutoff: for each threshold t ∈ {0.1..0.9},
    * how many docs and tokens survive `quality_score ≥ t`, per
    * language. ONE scan computes all 18 conditional sums inside a
    * single two-phase aggregate (map-side combine to one row per
    * lang); the threshold dimension explodes AFTER aggregation over
    * the tiny per-lang rows — never a ×9 blow-up of the corpus
    * stream. The per-doc score is the same expression t_quality_score
    * hash-matches across engines, so the ≥ comparisons are
    * deterministic.
    */
  val tQualitySweep: Q = (s, dir) => {
    val base = docs(s, dir).select(col("lang"),
      TF.qualityScore(col("text")).as("q"),
      TF.tokenCount(col("text")).as("n_tok"))
    val aggs = (1 to 9).flatMap { i =>
      val t = i / 10.0
      Seq(sum(when(col("q") >= t, 1L).otherwise(0L)).as(s"k$i"),
        sum(when(col("q") >= t, col("n_tok")).otherwise(0L)).as(s"tk$i"))
    }
    base.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
      .select(col("lang"), explode(array((1 to 9).map(i =>
        struct(lit(i).as("i"), col(s"k$i").as("k"), col(s"tk$i").as("tk"))): _*))
        .as("x"))
      .select(col("lang"), (col("x.i") / lit(10.0)).as("threshold"),
        col("x.k").as("n_docs_kept"), col("x.tk").as("tokens_kept"))
      .orderBy(col("lang"), col("threshold"))
  }

  /** BPE merge-candidate counting — the first merge iteration of
    * tokenizer vocabulary induction (Sennrich et al.): adjacent
    * character-pair frequencies within words, weighted by corpus
    * occurrence. Scale shape: two generators + one partial-
    * aggregating groupBy — the same count-shuffle as word count —
    * then TakeOrderedAndProject for the top candidates; the full
    * BPE loop re-runs this counting per merge, so the per-iteration
    * primitive is what must scale.
    */
  val tBpeMerges: Q = (s, dir) =>
    docs(s, dir)
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(30)

  // Training-data-pipeline extensions: heuristic corpus
  // filtering (C4/Gopher-style), BM25 retrieval, token-budget mixture
  // planning, segment-level exact dedup (Lee et al.-style spans),
  // SemDeDup (embedding-cluster near-dup pruning), DSIR importance
  // weighting, and bigram-LM cross-entropy scoring. Every query has a
  // full-replay DuckDB oracle; order-sensitive float reductions use
  // the sorted-fold pattern (see AnalyticsQueries.aEntropyPriority) so the
  // doubles are bit-stable under any shuffle or partitioning.
  //
  // Reference behavior basis: the reference pipeline's quality gates
  // (scripts/llm_enricher.py validation + scraper dedup) motivate the
  // filter/dedup shapes; the algorithms themselves are the public
  // standards (C4/Gopher filters, BM25, Lee et al. dedup, SemDeDup,
  // DSIR), re-expressed Spark-first.

  // ---------------------------------------------------------------
  // t_c4_filters — C4/Gopher-style heuristic document filters: word
  // count bounds, mean-word-length band, stopword presence, symbol
  // and max-word-length screens, composed into a keep decision.
  // Pure codegen'd expressions: at 100 TB this is a single scan with
  // every flag computed in one WholeStageCodegen pass, no shuffle
  // until the (optional) downstream aggregation.
  // ---------------------------------------------------------------
  val tC4Filters: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val base = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
      size(toks).cast("long").as("n_tokens"),
      TF.avgWordLen(col("text")).as("avg_word_len"),
      size(filter(toks, t => t.isin(TF.stopwords: _*))).cast("long").as("n_stop"),
      array_max(transform(toks, t => length(t))).as("max_word_len"))
    base.select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_word_len"),
      (col("n_tokens") < 20).as("flag_short"),
      (col("n_tokens") > 90).as("flag_long"),
      (!(col("avg_word_len") >= 3.0 && col("avg_word_len") <= 10.0))
        .as("flag_word_len"),
      (col("n_stop") === 0).as("flag_no_stopword"),
      col("text").rlike("[{}\\[\\]<>]").as("flag_symbol"),
      (col("max_word_len") > 20).as("flag_max_word"))
      .withColumn("keep",
        !(col("flag_short") || col("flag_long") || col("flag_word_len") ||
          col("flag_no_stopword") || col("flag_symbol") || col("flag_max_word")))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_bm25 — BM25 top-k keyword retrieval (k1=1.2, b=0.75) for a
  // fixed query over the corpus. Shape at scale: per-doc tf/dl is a
  // scan-local projection, the corpus stats (N, Σdl, df per term)
  // are one tiny aggregate broadcast back, scoring is codegen'd
  // arithmetic, and the top-k is TakeOrderedAndProject (per-partition
  // heap + driver merge), never a global sort. The idf/score doubles
  // follow one fixed operation order mirrored in the oracle.
  // ---------------------------------------------------------------
  private val bm25Terms = Seq("spark", "window", "merge")

  val tBm25: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val tf = docs(s, dir).select(
      col("doc_id") +: size(toks).cast("long").as("dl") +:
        bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === t)).cast("long").as(s"tf$i")
        }: _*)
    val aggs = Seq(sum(col("dl")).cast("long").as("sum_dl")) ++
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("long").as(s"df$i"))
    val stats = tf.agg(count(lit(1)).as("n_docs"), aggs: _*)
    val avgdl = d(col("sum_dl")) / d(col("n_docs"))
    def idf(i: Int): Column = log(lit(1.0) +
      (d(col("n_docs")) - d(col(s"df$i")) + lit(0.5)) / (d(col(s"df$i")) + lit(0.5)))
    def tfNorm(i: Int): Column = (d(col(s"tf$i")) * lit(2.2)) /
      (d(col(s"tf$i")) + lit(1.2) * (lit(0.25) + lit(0.75) * (d(col("dl")) / avgdl)))
    val score = bm25Terms.indices.map(i => idf(i) * tfNorm(i)).reduceLeft(_ + _)
    // idf comes through ln(), which is only 1-ulp-reproducible across
    // libms — both the HASH and the RANK surface are the 6-dp-rounded
    // score (the orderBy below sorts the rounded bm25 column, with
    // doc_id as the tiebreak): a 1-ulp flip would need two scores
    // agreeing in all 6 decimals AND the rounding landing on opposite
    // sides, which the tiebreak then resolves identically anyway.
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        col("tf0").as("tf_spark"), col("tf1").as("tf_window"),
        col("tf2").as("tf_merge"), round(score, 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------
  // t_dsir_weights — DSIR (Xie et al.) importance weights: hashed
  // unigram features (256 md5 buckets — portable across engines),
  // target = the English slice, raw = the whole corpus, per-doc
  // weight = Σ count(b)·log(p_target(b)/p_raw(b)) with add-1
  // smoothing. The λ table is 256 rows broadcast everywhere; the
  // per-doc float sum folds over the bucket-sorted list (fixed
  // order ⇒ bit-stable under any shuffle).
  // ---------------------------------------------------------------
  val tDsirWeights: Q = (s, dir) => {
    val tok = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(TF.tokens(col("text"))).as("tok"))
      .withColumn("bucket", conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long"))
    // tokenize/hash ONCE: the (doc, bucket) aggregate (lang rides
    // along — functionally dependent on doc_id, so cardinality is
    // unchanged) is the only consumer of the raw token stream; the
    // 256-row bucket table then reduces the ≤ docs×256 per-doc frame
    // instead of re-exploding the corpus. The barrier pins the
    // frame so its two consumers (λ table, final join) don't each
    // replay the tokenize — at sf0.1 this halves the query's work.
    val perDoc = tok.groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c")).transform(Barrier.materialize)
    val buckets = perDoc.groupBy(col("bucket")).agg(sum(col("c")).cast("long").as("cr"),
      sum(when(col("lang") === "en", col("c")).otherwise(0L)).cast("long").as("ct"))
    val totals = buckets.agg(sum(col("cr")).cast("long").as("nr"),
      sum(col("ct")).cast("long").as("nt"))
    val lam = buckets.crossJoin(broadcast(totals))
      .select(col("bucket"),
        log(((d(col("ct")) + lit(1.0)) / (d(col("nt")) + lit(256.0))) /
          ((d(col("cr")) + lit(1.0)) / (d(col("nr")) + lit(256.0)))).as("lam"))
    perDoc.join(broadcast(lam), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        sort_array(collect_list(struct(col("bucket"), col("c"), col("lam"))))
          .as("xs"))
      .withColumn("log_weight",
        expr("aggregate(xs, 0D, (a, x) -> a + CAST(x.c AS DOUBLE) * x.lam)"))
      // 6-dp rounding: λ comes through ln() (1-ulp libm divergence
      // risk across engines, as in t_perplexity)
      .select(col("doc_id"), col("n_tokens"),
        round(col("log_weight"), 6).as("log_weight"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_perplexity — per-document cross-entropy under the corpus
  // bigram LM with add-1 smoothing: p(w2|w1) = (c12+1)/(c1+V).
  // The per-doc Σ cb·ln(p) folds over the bigram-sorted list (fixed
  // order ⇒ deterministic double). Corpus model tables shuffle on
  // bigram/unigram keys once; the vocab size V is one broadcast
  // scalar. The standard quality-scoring stage before filtering a
  // pretraining corpus by LM perplexity.
  // ---------------------------------------------------------------
  val tPerplexity: Q = (s, dir) => {
    val base = docs(s, dir)
    val db = base.select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cb"))
    val corpus = db.groupBy(col("bigram")).agg(sum(col("cb")).cast("long").as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val uni = base.select(explode(TF.tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // this corpus's LM table is vocab-bounded and tiny next to the
    // per-doc stream — broadcast it so the big side never shuffles
    // for the probability lookup (an open-vocab corpus would prune
    // the LM to top-K bigrams first, which is also what makes the
    // model usable; unpruned it reverts to a shuffle join)
    val withP = broadcast(corpus.join(uni, "w1").crossJoin(broadcast(vocab))
      .select(col("bigram"),
        ((d(col("c12")) + lit(1.0)) / (d(col("c1")) + d(col("v")))).as("p")))
    db.join(withP, "bigram")
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).cast("long").as("n_bigrams"),
        sort_array(collect_list(struct(col("bigram"), col("cb"), col("p"))))
          .as("xs"))
      .withColumn("ll",
        expr("aggregate(xs, 0D, (a, x) -> a + CAST(x.cb AS DOUBLE) * ln(x.p))"))
      // ln is not correctly-rounded in every libm: JVM Math.log and
      // DuckDB diverge by 1 ulp on some inputs (observed on this
      // corpus), so transcendental-derived outputs are rounded to
      // 6 dp — the repo convention for cosines (round(cos, 6)).
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("ll") / d(col("n_bigrams")), 6).as("cross_entropy"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_classifier_infer — batch inference of a (fixed-weight) linear
  // quality classifier, the standard "apply the trained fastText/
  // logreg filter to the whole corpus" stage: four scan-computable
  // features, one fixed-order dot product per document, zero
  // shuffles before the result sort. The logit is pure arithmetic
  // (raw double); the sigmoid goes through exp() so it rounds to
  // 6 dp; the keep label compares the raw logit to 0.
  // ---------------------------------------------------------------
  val tClassifierInfer: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val f = docs(s, dir).select(col("doc_id"),
      (size(toks).cast("double") / lit(100.0)).as("x_len"),
      TF.stopwordRatio(col("text")).as("x_stop"),
      (TF.avgWordLen(col("text")) / lit(10.0)).as("x_wlen"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("x_distinct"))
    val logit = lit(-0.7) + lit(0.8) * col("x_len") + lit(2.0) * col("x_stop") +
      lit(-1.2) * col("x_wlen") + lit(1.5) * col("x_distinct")
    f.select(col("doc_id"), col("x_len"), col("x_stop"), col("x_wlen"),
        col("x_distinct"), logit.as("logit"))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 6))
      .withColumn("keep", col("logit") >= 0.0)
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_dataset_card — the per-(lang, source) corpus datasheet: doc and
  // token counts, exact-dup fraction, mean quality, median length.
  // Mean quality is an order-sensitive float mean, so each per-doc
  // score quantizes to integer MICRO-UNITS via floor(q·10⁶) — floor,
  // not round: the quality ratios have small denominators, so q·10⁶
  // lands exactly on .5 grid points where JVM and DuckDB rounding
  // disagree (observed at sf0.1); floor has no half boundary and
  // both engines floor the same double. The micro-sums are exact
  // longs; one division at the edge. Median interpolates two exact
  // integers. One scan, one shuffle on the (small) group key.
  // ---------------------------------------------------------------
  val tDatasetCard: Q = (s, dir) =>
    docs(s, dir).select(col("lang"), col("source"), col("n_chars"),
      TF.tokenCount(col("text")).as("n_tok"),
      md5(col("text")).as("fp"),
      floor(TF.qualityScore(col("text")) * lit(1000000.0)).as("q_micro"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        (sum(col("q_micro")).cast("double") / lit(1000000.0) /
          count(lit(1)).cast("double")).as("mean_quality"),
        expr("percentile(n_chars, 0.5)").as("median_chars"))
      .orderBy(col("lang"), col("source"))

  // ---------------------------------------------------------------
  // t_pmi_bigrams — pointwise mutual information of the top-20
  // bigrams: integer counts for n(x,y), n(x), n(y), corpus totals,
  // then ONE fixed-order double expression per surviving row
  // (ln goes through the 6-dp rounding policy). Ranking is on the
  // integer count with the bigram itself as tiebreak, so the top-k
  // cut is reproducible. Scale: two token-explode aggregates and two
  // vocabulary joins (AQE broadcasts the 20-row side), no pair
  // explosion.
  // ---------------------------------------------------------------
  val tPmiBigrams: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_xy"))
    val totals = broadcast(
      uni.agg(sum(col("c")).cast("long").as("n_tot")).crossJoin(
        bi.agg(sum(col("n_xy")).cast("long").as("b_tot"))))
    val top = bi.orderBy(desc("n_xy"), col("w1"), col("w2")).limit(20)
    top
      .join(uni.select(col("w").as("w1"), col("c").as("n_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("n_y")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        round(log((d(col("n_xy")) / d(col("b_tot"))) /
          ((d(col("n_x")) / d(col("n_tot"))) * (d(col("n_y")) / d(col("n_tot"))))), 6)
          .as("pmi"))
      .orderBy(desc("n_xy"), col("w1"), col("w2"))
  }

  // ---------------------------------------------------------------
  // t_tfidf_topk — per-document top-3 terms by tf·idf with
  // idf = ln(N/df). Ranking is on the raw double (a 1-ulp flip
  // would need distinct (tf, df) pairs whose products land within
  // one ulp — the bm25 precedent); equal (tf, df) means exactly
  // equal scores in both engines, and those ties break on the term.
  // Scale: tf is one (doc, term) aggregate, df one term aggregate
  // broadcast back, and the top-3 cut is a bounded per-doc window.
  // ---------------------------------------------------------------
  val tTfidfTopk: Q = (s, dir) => {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    // top-3 per doc via the map-side TopKAggBy, not a window: the
    // scored (doc, term) stream shuffles 3 rows per doc instead of
    // the whole vocabulary-join output. The payload packs
    // (term, tf, df) tab-separated so one aggregation carries all
    // output columns; '\t' sorts below every printable char, so
    // payload order == term order on score ties (the oracle's
    // tiebreak).
    val topk = udaf(new graft.functions.TopKAggBy[String](3))
    tf.join(dfc, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score", d(col("tf")) * log(d(col("n_docs")) / d(col("df"))))
      .withColumn("packed",
        concat_ws("\t", col("term"), col("tf"), col("df")))
      .groupBy(col("doc_id"))
      .agg(topk(col("score"), col("packed")).as("nn"))
      .select(col("doc_id"), posexplode(col("nn")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rk"),
        split(col("col._2"), "\t").as("parts"), col("col._1").as("score"))
      .select(col("doc_id"), col("rk"),
        element_at(col("parts"), 1).as("term"),
        element_at(col("parts"), 2).cast("long").as("tf"),
        element_at(col("parts"), 3).cast("long").as("df"),
        round(col("score"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ---------------------------------------------------------------
  // t_split_contamination — cross-split leakage matrix: after the
  // deterministic md5-nibble train/val/test assignment (the
  // t_split_assign rule), count for every ORDERED split pair how
  // many destination docs share at least one 13-token shingle with
  // the source split, plus the distinct shared-gram count — the
  // audit run before shipping a split layout (eval leakage works in
  // both directions, hence ordered pairs). Inverted-index join over
  // distinct shingles (never a split × split doc cross product):
  // Σ per-shingle postings, the t_decontaminate shape generalized
  // to the full pair matrix. All outputs are integer counts — exact.
  // ---------------------------------------------------------------
  /** Document-frequency cap for the contamination join: a shingle
    * present in more documents than this is boilerplate (license
    * headers, navigation text), not leakage signal — and it is
    * exactly the hot key whose Σ posting² makes the self-join
    * quadratic at corpus scale, so decontamination pipelines drop
    * such n-grams as standard practice. 64 bounds any shingle's pair
    * contribution at 64² while a genuinely leaked passage (df of a
    * few) always survives. The gate corpus's max 13-gram df is 4, so
    * the cap is value-neutral there; its dropping behavior is pinned
    * by the boilerplate fixture in TrainingData4Spec. */
  val ContaminationMaxDf = 64

  val tSplitContamination: Q = (s, dir) =>
    splitContaminationOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      ContaminationMaxDf)

  /** DataFrame-level entry (any (doc_id, text) input) — the spec
    * surface for the df-cap fixture. */
  /** (doc_id, split, distinct 13-gram) postings under the
    * deterministic md5-nibble split assignment — shared by the
    * capped matrix here and the two-tier full matrix
    * (TextQueries), which must agree on the gram universe. */
  private[operators] def contaminationGrams(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"),
        when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("c", "d"), "val")
          .when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("e", "f"), "test")
          .otherwise("train").as("split"),
        explode(array_distinct(
          graft.functions.TextFunctions.shingles(col("text"), 13))).as("sh"))

  def splitContaminationOf(docsDf: DataFrame, maxDf: Int): DataFrame = {
    val grams = contaminationGrams(docsDf)
      .transform(Barrier.materialize) // consumed by the df count and both join sides
    // df-cap BEFORE the self-join: grams is one row per (doc,
    // distinct shingle), so count(*) per shingle IS document
    // frequency; the aggregation, the cap join, and the self-join all
    // hash on sh, so the corpus shuffles on that key once and the
    // exchange is reused
    val dfreq = grams.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val kept = grams.join(dfreq.filter(col("df") <= maxDf).select(col("sh")), "sh")
    val a = kept.alias("a"); val b = kept.alias("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.split") =!= col("b.split"))
      .groupBy(col("a.split").as("split_from"), col("b.split").as("split_to"))
      .agg(countDistinct(col("b.doc_id")).as("n_leaky_docs"),
        countDistinct(col("a.sh")).as("n_shared_grams"))
      .orderBy(col("split_from"), col("split_to"))
  }

  // ---------------------------------------------------------------
  // t_k_anonymity — re-identification risk audit over the quasi-
  // identifier tuple (lang, source, 100-char length bucket): a
  // document in a QI group smaller than k=5 is re-identifiable from
  // its metadata alone (Sweeney's k-anonymity, the standard release
  // gate for published corpora). The output is the per-(lang,
  // source) ROLLUP — group counts, risky-group counts, documents at
  // risk, risk share — not the risky groups themselves (publishing
  // the small groups would be the leak the audit exists to prevent).
  // Scale shape: two stacked aggregations, both map-side combining
  // (QI cardinality ≪ corpus), output bounded by lang × source.
  // Integer counts + one division — exact.
  // ---------------------------------------------------------------
  val tKAnonymity: Q = (s, dir) => {
    val k = 5
    val g = Tables.table(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr("CAST(n_chars AS BIGINT) div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
    g.groupBy(col("lang"), col("source"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") < k, 1L).otherwise(0L)).cast("long")
          .as("n_risky_buckets"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).cast("long")
          .as("n_docs_at_risk"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_buckets"),
        col("n_risky_buckets"), col("n_docs_at_risk"),
        (d(col("n_docs_at_risk")) / d(col("n_docs"))).as("risk_share"))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // t_oov_rate — out-of-vocabulary rate per split against the TRAIN
  // split's top-16 token vocabulary (count desc, token asc — a
  // total order, so the cutoff is deterministic): the tokenizer-prep
  // metric that decides whether a vocab generalizes to held-out
  // text. Scale shape: the vocab is a TakeOrderedAndProject over the
  // train token counts and broadcasts to the token stream — the
  // corpus shuffles once for the count, never for the membership
  // probe. Counts integer; the rate is one double division.
  // ---------------------------------------------------------------
  val tOovRate: Q = (s, dir) => {
    import graft.functions.{TextFunctions => TF}
    val toks = Tables.table(s, dir, "documents")
      .select(
        when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("c", "d"), "val")
          .when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("e", "f"), "test")
          .otherwise("train").as("split"),
        explode(TF.tokens(col("text"))).as("tok"))
    val vocab = toks.filter(col("split") === "train")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
            // 16 of this corpus's 31 distinct tokens — proportionate to a
      // real 32k-of-millions vocab, and small enough that the OOV
      // path is actually exercised (top-1000 would cover everything)
      .orderBy(desc("c"), col("tok")).limit(16)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      .select(col("split"), col("n_tokens"), col("n_oov"),
        (d(col("n_oov")) / d(col("n_tokens"))).as("oov_rate"))
      .orderBy(col("split"))
  }

  // ---------------------------------------------------------------
  // t_ngram_novelty — per-document novelty: the fraction of a doc's
  // distinct 5-gram shingles whose FIRST corpus occurrence (min
  // doc_id) is this document. The curation metric behind "is the
  // tail of this source still contributing new content, or
  // restating the head" — falling novelty marks the point where a
  // crawl stops paying for itself. Scale shape: one shuffle on the
  // gram (min-doc aggregate), the join back hashes on the same key
  // (exchange reuse), then a doc-keyed count — all integers plus
  // one division.
  // ---------------------------------------------------------------
  val tNgramNovelty: Q = (s, dir) => {
    val grams = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.shingles(col("text"), 5))).as("g"))
      .transform(Barrier.materialize) // consumed by the min-doc agg and the join
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (d(col("n_novel")) / d(col("n_grams"))).as("novelty"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_contrastive_pairs — contrastive training-triple mining over
  // the embedding corpus: for every anchor that has one, its best
  // POSITIVE (highest-cosine same-label neighbor at cos ≥ 0.4 — the
  // near-dup machinery repurposed as pair supervision) and its
  // HARDEST NEGATIVE (highest-cosine different-label member of the
  // anchor's IVF cell — "hard" because it is the closest thing that
  // is provably not a duplicate), plus the margin between them — the
  // (anchor, positive, hard-negative) generator an embedding-model
  // fine-tune consumes. Scale shape: positives are label-blocked
  // pairs, negatives are cell-blocked pairs (the deterministic
  // md5-seeded 16-cell quantizer from sim_semdedup) — never a corpus
  // cross product; both argmaxes are two-phase max(struct), no
  // windows. Cosines are the bit-stable fold; output rounds to 6.
  // ---------------------------------------------------------------
  val tContrastivePairs: Q = (s, dir) => {
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.toDoubleArr(col("embedding")).as("e"))
      .transform(Barrier.materialize) // seeds + both pair joins read it
    // best positive per anchor: label-blocked, cos >= 0.4
    val a = emb.select(col("vec_id").as("aid"), col("label").as("alab"),
      col("e").as("ae"))
    val posB = emb.select(col("vec_id").as("bid"), col("label").as("blab"),
      col("e").as("be"))
    val pos = a.join(posB, col("alab") === col("blab") &&
        col("aid") =!= col("bid"))
      .withColumn("cos", Similarity.cosine(col("ae"), col("be")))
      .filter(col("cos") >= 0.4)
      .groupBy(col("aid"))
      .agg(max(struct(col("cos").as("cos"), (-col("bid")).as("nb"))).as("p"))
      .select(col("aid"), (-col("p.nb")).cast("long").as("positive_id"),
        col("p.cos").as("pos_cos"))
    // deterministic 16-cell quantizer — the shared kmeansSeeds rule
    val cents = kmeansSeeds(emb.select(col("vec_id"), col("e")), 16)
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("cc", Similarity.cosine(col("e"), col("ce")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("cc"), col("cid"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("e"), col("cid"))
    // hardest negative per anchor: same cell, different label
    val na = assigned.select(col("vec_id").as("aid"), col("label").as("alab"),
      col("e").as("ae"), col("cid"))
    val nb = assigned.select(col("vec_id").as("bid"), col("label").as("blab"),
      col("e").as("be"), col("cid"))
    val neg = na.join(nb, Seq("cid"))
      .filter(col("alab") =!= col("blab"))
      .withColumn("cos", Similarity.cosine(col("ae"), col("be")))
      .groupBy(col("aid"))
      .agg(max(struct(col("cos").as("cos"), (-col("bid")).as("nb"))).as("n"))
      .select(col("aid"), (-col("n.nb")).cast("long").as("negative_id"),
        col("n.cos").as("neg_cos"))
    pos.join(neg, "aid")
      .select(col("aid").as("anchor_id"), col("positive_id"),
        col("negative_id"), round(col("pos_cos"), 6).as("pos_cos"),
        round(col("neg_cos"), 6).as("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
      .orderBy(col("anchor_id"))
  }

  // Curation/retrieval extensions: hybrid lexical+vector
  // retrieval fusion (RRF), link prediction over the k-NN graph
  // (Adamic–Adar), temperature-scaled multilingual sampling weights,
  // leakage-safe (dup-group-consistent) split assignment, domain-level
  // quality gating, classifier calibration audit (reliability bins),
  // day-of-week seasonality, and a chi-square independence test —
  // all public algorithms (Cormack et al. 2009 RRF; Adamic & Adar
  // 2003; the multilingual alpha-sampling of XLM-style pretraining;
  // Naeini et al. ECE; Pearson 1900), re-expressed Spark-first with
  // full-replay DuckDB oracles.
  //
  // Reference behavior basis: the reference's serve tier stops at
  // dashboard scans; these extend the engine's north-star
  // training-data surface (SURVEY extension families: dedup,
  // similarity search, text curation, sampling).

  /** The deterministic md5-nibble split rule shared with
    * t_split_assign (train 12/16, val 2/16, test 2/16). */
  private def splitOf(key: Column): Column =
    when(substring(md5(key.cast("string")), 1, 1).isin("c", "d"), "val")
      .when(substring(md5(key.cast("string")), 1, 1).isin("e", "f"), "test")
      .otherwise("train")

  // ---------------------------------------------------------------
  // t_temperature_mix — temperature-scaled multilingual sampling
  // weights (the α-sampling of XLM-R-style pretraining, α = 0.3):
  // per language, raw token share p_l, reweighted share
  // q_l = p_l^α / Σ p_m^α, and the up/down-sampling multiplier
  // q_l / p_l — the mixture table a training loader consumes to keep
  // low-resource languages from vanishing. Counts are exact longs;
  // shares are single divisions; pow/ln go through libm so the float
  // outputs round to 6 dp (the bm25 precedent), and the Σ p^α
  // normalizer folds in language order (≤ langs values — bit-stable
  // via the sorted-fold pattern). Scale shape: one map-side count
  // aggregate (lang cardinality groups), two broadcast-scalar joins.
  // ---------------------------------------------------------------
  val tTemperatureMix: Q = (s, dir) => {
    val alpha = 0.3
    val perLang = docs(s, dir)
      .select(col("lang"), TF.tokenCount(col("text")).as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("long").as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).cast("long").as("total_tokens"))
    val shared = perLang.crossJoin(broadcast(tot))
      .withColumn("raw_share", d(col("n_tokens")) / d(col("total_tokens")))
      .withColumn("w", pow(col("raw_share"), lit(alpha)))
      .transform(Barrier.materialize) // consumed by the normalizer and the output
    val norm = shared.agg(
      expr("aggregate(sort_array(collect_list(struct(lang, w))), 0D," +
        " (a, x) -> a + x.w)").as("sum_w"))
    shared.crossJoin(broadcast(norm))
      .withColumn("alpha_share", col("w") / col("sum_w"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("raw_share"), 6).as("raw_share"),
        round(col("alpha_share"), 6).as("alpha_share"),
        round(col("alpha_share") / col("raw_share"), 6).as("multiplier"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // t_leakage_safe_split — dup-group-consistent train/val/test
  // assignment: documents split by the md5 nibble of their near-dup
  // GROUP representative (the MinHash-LSH connected components of
  // dedup_groups), so two near-duplicates can never straddle splits
  // — the leakage-safe upgrade of t_split_assign's per-doc rule
  // (per-doc hashing leaks val/test content into train through
  // near-dup copies; group-keyed hashing is the standard fix). The
  // audit output per split: doc count, distinct group count, docs in
  // multi-doc groups, and how many docs MOVED vs the naive per-doc
  // rule. Scale shape: the group machinery is the existing LSH +
  // hybrid union-find (linear-ish in near-dup mass); membership
  // joins back on doc_id; everything after is one small aggregate.
  // All outputs integer — exact.
  // ---------------------------------------------------------------
  val tLeakageSafeSplit: Q = (s, dir) => {
    val membership = Dedup
      .dupGroups(Dedup.minhashLshPairsRaw(s, dir, portableHashes = true))
      .select(col("canonical_id"), explode(col("members")).as("doc_id"))
    docs(s, dir).select(col("doc_id"))
      .join(membership, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("rep"),
        col("canonical_id").isNotNull.as("grouped"))
      .withColumn("split", splitOf(col("rep")))
      .withColumn("naive", splitOf(col("doc_id")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_groups"),
        sum(when(col("grouped"), 1L).otherwise(0L)).cast("long")
          .as("n_grouped_docs"),
        sum(when(col("split") =!= col("naive"), 1L).otherwise(0L)).cast("long")
          .as("n_moved_docs"))
      .orderBy(col("split"))
  }

  // ---------------------------------------------------------------
  // t_domain_filter — domain-level quality gating (the CommonCrawl
  // curation step between per-doc filters and dedup: a consistently
  // low-quality domain is dropped wholesale, catching boilerplate
  // farms whose individual pages pass per-doc thresholds): per
  // source, mean quality (per-doc scores quantized to exact integer
  // micro-units via floor(q·10⁶) — the t_dataset_card float policy,
  // no half-boundary), keep = mean ≥ 0.42, and the kept/dropped doc
  // accounting. One scan, one shuffle on the (tiny) source key;
  // integer sums + two divisions in a fixed order.
  // ---------------------------------------------------------------
  val tDomainFilter: Q = (s, dir) => {
    val threshold = 0.42
    docs(s, dir)
      .select(col("source"),
        floor(TF.qualityScore(col("text")) * lit(1000000.0)).as("qm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qm")).cast("long").as("sum_qm"))
      .withColumn("mean_quality",
        d(col("sum_qm")) / d(col("n_docs")) / lit(1000000.0))
      .withColumn("keep_source", col("mean_quality") >= threshold)
      .select(col("source"), col("n_docs"),
        round(col("mean_quality"), 6).as("mean_quality"), col("keep_source"),
        when(col("keep_source"), col("n_docs")).otherwise(0L).cast("long")
          .as("n_docs_kept"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // t_calibration_ece — reliability bins for the linear quality
  // classifier (the calibration audit run before trusting model
  // scores as sampling weights; Naeini et al. 2015 ECE shape): docs
  // bin by predicted score decile; per bin, mean predicted score
  // (floor-micro exact sums — the t_dataset_card policy) vs the
  // observed positive rate against an INDEPENDENT ground truth
  // (heuristic quality ≥ 0.42 — not the classifier's own keep flag,
  // which would be circular), and the |gap| whose n-weighted sum is
  // ECE. Scale shape: one scan computing features + score, one
  // shuffle on the 10-bin key. The sigmoid goes through exp() so
  // binning/micro-floor sit on the documented 1-ulp-tolerant floor
  // grid; all sums are exact integers, divisions fixed-order.
  // ---------------------------------------------------------------
  val tCalibrationEce: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val f = docs(s, dir).select(col("doc_id"),
      (size(toks).cast("double") / lit(100.0)).as("x_len"),
      TF.stopwordRatio(col("text")).as("x_stop"),
      (TF.avgWordLen(col("text")) / lit(10.0)).as("x_wlen"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("x_distinct"),
      (TF.qualityScore(col("text")) >= 0.42).as("good"))
    val logit = lit(-0.7) + lit(0.8) * col("x_len") + lit(2.0) * col("x_stop") +
      lit(-1.2) * col("x_wlen") + lit(1.5) * col("x_distinct")
    f.withColumn("score", lit(1.0) / (lit(1.0) + exp(-logit)))
      .withColumn("bin", least(lit(9L), floor(col("score") * 10).cast("long")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(floor(col("score") * lit(1000000.0))).cast("long").as("sm"),
        sum(when(col("good"), 1L).otherwise(0L)).cast("long").as("n_pos"))
      .withColumn("mean_score", d(col("sm")) / d(col("n_docs")) / lit(1000000.0))
      .withColumn("pos_rate", d(col("n_pos")) / d(col("n_docs")))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("mean_score"), 6).as("mean_score"), col("pos_rate"),
        round(abs(col("mean_score") - col("pos_rate")), 6).as("abs_gap"))
      .orderBy(col("bin"))
  }

  // ---------------------------------------------------------------
  // t_gopher_rules — the Gopher document-quality rule battery (Rae
  // et al. 2021 §A1.1, the filter set FineWeb/Dolma descend from),
  // adapted to the repo's primitives: word count in [50, 100k], mean
  // word length in [3, 10], ≥ 2 stopword hits (the shared 5-word
  // list), ≥ 80% alphabetic tokens, type-token ratio ≥ 0.2 (the
  // repetition proxy). Output: per-lang rule-level pass counts + the
  // conjunctive keep count — the per-rule attrition table a curation
  // run reports. Scale shape: one scan, one shuffle on the 5-key
  // lang; every flag is integer-derived (the two ratio rules are
  // single divisions of exact ints, compared identically by any
  // IEEE engine); all outputs exact longs.
  // ---------------------------------------------------------------
  val tGopherRules: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val nt = size(toks)
    val f = docs(s, dir).select(col("lang"),
      (nt >= 50 && nt <= 100000).as("r_wordcount"),
      (TF.avgWordLen(col("text")) >= 3.0 &&
        TF.avgWordLen(col("text")) <= 10.0).as("r_wordlen"),
      (size(filter(toks, t => t.isin(TF.stopwords: _*))) >= 2).as("r_stopword"),
      (d(size(filter(toks, t => t.rlike("[a-zA-Z]")))) / d(nt) >= 0.8)
        .as("r_alpha"),
      (d(size(array_distinct(toks))) / d(nt) >= 0.2).as("r_ttr"))
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).cast("long").as(c)
    f.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), cnt("r_wordcount"), cnt("r_wordlen"),
        cnt("r_stopword"), cnt("r_alpha"), cnt("r_ttr"),
        sum(when(col("r_wordcount") && col("r_wordlen") && col("r_stopword")
          && col("r_alpha") && col("r_ttr"), 1L).otherwise(0L)).cast("long")
          .as("n_keep"))
      .orderBy(col("lang"))
  }

  // Classifier/corpus evaluation statistics — ROC
  // AUC for the quality classifier (rank-based Mann–Whitney form,
  // integer-exact numerator), mutual information / NMI of the
  // lang×source composition (the information-theoretic companion of
  // a_chi_square), and Good–Turing frequency smoothing over the token
  // stream (Gale & Sampson 1995 "simple GT" table shape — the
  // unseen-mass estimate an LM data pipeline reports next to
  // t_perplexity). All three re-expressed Spark-first with full-replay
  // DuckDB oracles.

  // ---------------------------------------------------------------
  // t_roc_auc — ROC AUC of the fixed-weight linear quality
  // classifier (t_calibration_ece's model) against the independent
  // heuristic ground truth (quality ≥ 0.42). AUC is computed in the
  // rank form AUC = (Σ_pairs [m⁺ > m⁻] + ½[m⁺ = m⁻]) / (P·N),
  // evaluated WITHOUT materializing pairs: group docs by margin,
  // run the two-phase global cumulative negative count up the
  // margin order (Ranking.withGlobalCumSums — range partition +
  // driver carries, never a single-partition window), and fold
  // Σ np·(2·cumneg_excl + nn) = Σ np·(2·cum − nn) as ONE exact
  // integer. The ranking statistic uses the raw LOGIT margin, not
  // the sigmoid: AUC is rank-invariant under monotone maps, and the
  // margin is pure +/×/÷ arithmetic — IEEE-identical on both
  // engines, so tie groups match bit-for-bit (the sigmoid's exp()
  // would sit on the 1-ulp libm floor and could shear a tie).
  // Scale shape: one scan → margin-keyed aggregate → range exchange
  // for the cumsum → one-row reduce. No joins at all.
  // ---------------------------------------------------------------
  val tRocAuc: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val margin = lit(-0.7) +
      lit(0.8) * (size(toks).cast("double") / lit(100.0)) +
      lit(2.0) * TF.stopwordRatio(col("text")) +
      lit(-1.2) * (TF.avgWordLen(col("text")) / lit(10.0)) +
      lit(1.5) * (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
    val f = docs(s, dir).select(margin.as("m"),
      when(TF.qualityScore(col("text")) >= 0.42, 1L).otherwise(0L).as("pos"))
    val byScore = f.groupBy(col("m"))
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    Ranking.withGlobalCumSums(byScore, Seq("nn" -> "cum_nn"), col("m"))
      .agg(sum(col("np")).as("p"), sum(col("nn")).as("n"),
        sum(col("np") * (lit(2L) * col("cum_nn") - col("nn"))).as("num2"))
      .select(col("p").cast("long").as("n_pos"),
        col("n").cast("long").as("n_neg"),
        round(d(col("num2")) / (lit(2.0) * d(col("p")) * d(col("n"))), 6)
          .as("auc"),
        round(d(col("num2")) / (d(col("p")) * d(col("n"))) - lit(1.0), 6)
          .as("gini_coef"))
  }

  // ---------------------------------------------------------------
  // t_good_turing — Good–Turing frequency-of-frequency table over
  // the whitespace token stream: for each observed term frequency
  // r ≤ 10, the count-of-counts N_r, the smoothed frequency
  // r* = (r+1)·N_{r+1}/N_r (Good 1953), that class's share of all
  // tokens, and the unseen-probability mass p₀ = N₁/T — the
  // smoothing table an LM pipeline derives before estimating
  // held-out likelihoods. Term counts, counts-of-counts and totals
  // are exact integers; divisions are fixed-order doubles at the
  // edge. N_{r+1} comes from a hash self-join on r+1 over the TINY
  // frequency-of-frequency frame (≤ max term frequency rows), not a
  // lead() window — no global sort anywhere; the totals cross is
  // the documented one-row broadcast-scalar shape. The report keeps
  // the 10 SMALLEST observed frequency classes (TakeOrdered on the
  // tiny ff frame) — GT smoothing is about the low-count classes,
  // and a fixed `r ≤ 10` cut can be empty on a corpus whose every
  // term is frequent.
  // ---------------------------------------------------------------
  val tGoodTuring: Q = (s, dir) => {
    val tf = docs(s, dir)
      .select(explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("r"))
    val ff = tf.groupBy(col("r")).agg(count(lit(1)).as("n_terms"))
      .transform(Barrier.materialize) // consumed by the self-join (both sides) + totals
    val tot = ff.agg(sum(col("r") * col("n_terms")).as("t_tokens"),
      sum(when(col("r") === 1, col("n_terms"))).as("n1"))
    ff.orderBy(col("r")).limit(10).alias("a")
      .join(ff.select(col("r").as("r1"), col("n_terms").as("nt1")),
        col("r1") === col("a.r") + 1, "left")
      .crossJoin(broadcast(tot))
      .select(col("a.r").as("r"), col("a.n_terms").as("n_terms"),
        round((d(col("a.r")) + lit(1.0)) * d(col("nt1")) /
          d(col("a.n_terms")), 6).as("r_star"),
        round(d(col("a.r")) * d(col("a.n_terms")) / d(col("t_tokens")), 6)
          .as("token_share"),
        round(d(col("n1")) / d(col("t_tokens")), 6).as("p0_unseen"))
      .orderBy(col("r"))
  }

  // Kneser–Ney smoothed bigram LM evaluation (the
  // production-grade companion of t_perplexity's add-1 baseline) and
  // a consistent-hash resharding audit (the ring partitioner a
  // 100 TB corpus store uses to grow capacity without reshuffling the
  // world). Both Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_kneser_ney — held-out cross-entropy under an interpolated
  // Kneser–Ney bigram LM (Kneser & Ney 1995; Chen & Goodman 1999),
  // the smoothing that actually ships in LM data pipelines:
  //   P(w₂|w₁) = max(c₁₂ − D, 0)/c₁
  //            + (D·N₁₊(w₁·)/c₁) · (N₁₊(·w₂)/B)
  // with discount D = 0.75 (= 3/4, EXACTLY representable — the
  // discount subtraction is IEEE-exact, unlike a 0.7). Train =
  // docs whose md5 first hex digit ≠ 'f'; eval = the 'f' held-out
  // slice (the repo's split convention). A held-out bigram is
  // scored only when w₁ was seen as a bigram LHS and w₂ as a
  // continuation (otherwise P = 0 under bigram KN); skipped mass is
  // reported per doc. All counts are exact integers; P is a fixed
  // parenthesized DAG of exact divisions; the only libm is the
  // final ln, folded in bigram order and rounded to 6 dp (the
  // t_perplexity policy). Scale shape: LM tables are vocab-bounded
  // and broadcast (the documented t_perplexity trade — an
  // open-vocab corpus would prune to top-K first); the held-out
  // stream shuffles only on (doc, bigram).
  // ---------------------------------------------------------------
  val tKneserNey: Q = (s, dir) => {
    val base = docs(s, dir)
      .withColumn("held", substring(md5(col("text")), 1, 1) === "f")
    val db = base.filter(col("held"))
      .select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cb"))
    val tb = base.filter(!col("held"))
      .select(explode(TF.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .transform(Barrier.materialize) // consumed by 3 stat aggregates + the lookup
    val w1s = tb.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"),
        count(lit(1)).as("n1p_fwd"))
    val w2s = tb.groupBy(col("w2")).agg(count(lit(1)).as("n1p_bwd"))
    val btot = tb.agg(count(lit(1)).as("b"))
    db
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(broadcast(w1s), Seq("w1"), "left")
      .join(broadcast(w2s), Seq("w2"), "left")
      .join(broadcast(tb.select(col("bigram"), col("c12"))),
        Seq("bigram"), "left")
      .crossJoin(broadcast(btot))
      .withColumn("scored",
        col("c1").isNotNull && col("n1p_bwd").isNotNull)
      .withColumn("p", when(col("scored"),
        (greatest(d(coalesce(col("c12"), lit(0L))) - lit(0.75), lit(0.0)) /
          d(col("c1"))) +
          ((lit(0.75) * d(col("n1p_fwd")) / d(col("c1"))) *
            (d(col("n1p_bwd")) / d(col("b"))))))
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).cast("long").as("n_bigrams"),
        coalesce(sum(when(col("scored"), col("cb"))), lit(0L)).cast("long")
          .as("n_scored"),
        sort_array(collect_list(when(col("scored"),
          struct(col("bigram"), col("cb"), col("p"))))).as("xs"))
      .withColumn("ll", expr(
        "aggregate(xs, 0D, (a, x) -> a + CAST(x.cb AS DOUBLE) * ln(x.p))"))
      .select(col("doc_id"), col("n_bigrams"), col("n_scored"),
        when(col("n_scored") > 0,
          round(-col("ll") / d(col("n_scored")), 6)).as("cross_entropy"))
      .orderBy(col("doc_id"))
  }

  // Causal/diagnostic analytics and ML feature
  // prep — a difference-in-differences estimator over the order
  // panel, the hashing-trick (feature hashing) bag-of-words audit,
  // and the Ljung–Box portmanteau white-noise test on daily revenue.
  // All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_hashed_features — the hashing trick (Weinberger et al. 2009):
  // tokens hash into 64 feature buckets by the portable 60-bit md5
  // (mod 64), the fixed-width sparse representation a linear
  // classifier trains on without a vocabulary. Per doc: token
  // count, distinct tokens, nonzero buckets, the exact integer L2²
  // of the count vector, the argmax bucket (ties → smallest
  // bucket id, via one max(struct) — no window), and the collision
  // rate (distinct tokens that lost their own bucket). ALL integer
  // except the final rate division. Scale shape: two stacked
  // partial-agg reductions ((doc, token) → (doc, bucket) → doc);
  // the 64-bucket key keeps every frame bounded by docs×64.
  // ---------------------------------------------------------------
  val tHashedFeatures: Q = (s, dir) => {
    val tokc = docs(s, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long") % 64)
      .transform(Barrier.materialize) // distinct-token stats + bucket regroup
    val perBucket = tokc.groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("c")).as("bc"), count(lit(1)).as("n_toks_in"))
    val perDoc = perBucket.groupBy(col("doc_id"))
      .agg(sum(col("bc")).cast("long").as("n_tokens"),
        sum(col("n_toks_in")).cast("long").as("n_distinct"),
        count(lit(1)).as("n_nonzero"),
        sum(col("bc") * col("bc")).cast("long").as("l2_sq"),
        max(struct(col("bc").as("c"), (-col("bucket")).as("nb"))).as("top"))
    perDoc.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("n_nonzero"), col("l2_sq"),
        (-col("top.nb")).cast("long").as("top_bucket"),
        col("top.c").cast("long").as("top_count"),
        round((d(col("n_distinct")) - d(col("n_nonzero"))) /
          d(col("n_distinct")), 6).as("collision_rate"))
      .orderBy(col("doc_id"))
  }

  // Decision-grade monitoring — isotonic
  // calibration of the quality classifier via the closed-form
  // max-min formula (the PAVA result without iteration), and Wald's
  // sequential probability ratio test as a daily conversion monitor.
  // Both Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_isotonic_calibration — isotonic (monotone) calibration of the
  // linear quality classifier over its 10 reliability bins
  // (Zadrozny & Elkan 2002; the step after t_calibration_ece
  // MEASURES miscalibration, this one FIXES it): the isotonic fit
  // is computed by the closed-form minimax identity
  //   iso(i) = max_{j ≤ i} min_{k ≥ i} (S_k − S_{j−1})/(W_k − W_{j−1})
  // — the exact PAVA solution without any iterative pooling, which
  // keeps the whole operator three tiny joins over the ≤10-bin
  // frame (interval sums are EXACT integers off one prefix
  // self-join; every interval rate is ONE double division computed
  // identically on both engines, so the min/max lattice matches
  // bit-for-bit). Scale shape: the corpus reduces through the
  // 10-bin aggregate first; everything after is constant-size
  // (bins² intervals × bins targets ≤ 1000 rows) with the ≤10-row
  // side broadcast.
  // ---------------------------------------------------------------
  val tIsotonicCalibration: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val logit = lit(-0.7) +
      lit(0.8) * (size(toks).cast("double") / lit(100.0)) +
      lit(2.0) * TF.stopwordRatio(col("text")) +
      lit(-1.2) * (TF.avgWordLen(col("text")) / lit(10.0)) +
      lit(1.5) * (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
    val bins = docs(s, dir)
      .select(least(lit(9L), floor((lit(1.0) / (lit(1.0) + exp(-logit))) *
        10).cast("long")).as("bin"),
        when(TF.qualityScore(col("text")) >= 0.42, 1L).otherwise(0L)
          .as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("w"), sum(col("pos")).cast("long").as("s"))
      .transform(Barrier.materialize) // prefix self-join (both sides) + final join
    // exact prefix sums over observed bins via a bounded self-join
    // (≤10×10 pairs — no window, no exchange worth naming)
    val pref = bins.alias("a")
      .join(broadcast(bins.select(col("bin").as("b2"), col("w").as("w2"),
        col("s").as("s2"))), col("b2") <= col("a.bin"))
      .groupBy(col("a.bin"))
      .agg(sum(col("w2")).cast("long").as("cw"),
        sum(col("s2")).cast("long").as("cs"))
      .select(col("bin").as("i"), col("cw"), col("cs"))
      .union(s.range(1).select(lit(-1L).as("i"), lit(0L).as("cw"),
        lit(0L).as("cs")))
      .transform(Barrier.materialize) // both interval endpoints read it
    // intervals (j..k] in prefix space: j−1 = pj.i < pk.i = k
    val intervals = pref.alias("pk")
      .join(broadcast(pref.select(col("i").as("j0"), col("cw").as("w0"),
        col("cs").as("s0"))), col("j0") < col("pk.i"))
      .select((col("j0") + 1).as("j"), col("pk.i").as("k"),
        ((d(col("pk.cs")) - d(col("s0"))) /
          (d(col("pk.cw")) - d(col("w0")))).as("rate"))
    // iso(i) = max_{j<=i} min_{k>=i} rate(j,k) over the bin targets
    val iso = intervals
      .join(broadcast(bins.select(col("bin").as("i"))),
        col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("rate")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso"))
    bins.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("w").as("n_docs"), col("s").as("n_pos"),
        round(d(col("s")) / d(col("w")), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  // Storage-layout and privacy-release auditing —
  // a zone-map file-skipping audit (the quantitative "why sorted
  // layout matters" check next to o_zorder_layout), and a
  // deterministic-noise differentially-private histogram release
  // (the ε-accounted publication step after t_k_anonymity). Both
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_dp_histogram — ε-differentially-private histogram release of
  // per-language doc counts via the Laplace mechanism (Dwork et al.
  // 2006; sensitivity 1, ε = 0.5 ⇒ noise scale b = 2): the
  // publication step a privacy-reviewed corpus report runs after
  // t_k_anonymity's suppression audit. Noise is DETERMINISTIC for
  // testability — the uniform draw is the key's own portable 60-bit
  // md5 mapped to (0,1) (u = (h + 0.5)/2⁶⁰, an exact dyadic
  // rational), pushed through the inverse-CDF
  // noise = −b·sign(u−½)·ln(1 − 2|u−½|). A REAL release would draw
  // fresh randomness per publication; the mechanism, sensitivity
  // accounting and ε ledger are what this operator carries. True
  // counts are exact; ln sits on the 1-ulp libm floor so the noisy
  // release rounds to 6 dp (repo policy). One tiny-key aggregate,
  // map-side noise — no extra shuffle.
  // ---------------------------------------------------------------
  val tDpHistogram: Q = (s, dir) => {
    val b = 2.0 // 1/epsilon with epsilon = 0.5, sensitivity 1
    val h = conv(substring(md5(col("lang")), 1, 15), 16, 10).cast("long")
    val u = (d(h) + lit(0.5)) / lit(1152921504606846976.0) // 2^60
    val centered = u - lit(0.5)
    val noise = -lit(b) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    Tables.table(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("true_n"))
      .select(col("lang"), col("true_n"),
        round(d(col("true_n")) + noise, 6).as("released_n"),
        round(noise, 6).as("noise"),
        lit(0.5).as("epsilon"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // t_cdc_chunking — per-document content-defined chunking stats:
  // chunk count, mean chunk length (one division of exact
  // integers), the longest chunk, and how many of the doc's chunks
  // are internally repeated (distinct-hash accounting). The
  // per-doc window never leaves the doc's partition; everything
  // else is two stacked aggregates.
  // ---------------------------------------------------------------
  val tCdcChunking: Q = (s, dir) => {
    chunks(s, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        max(col("n_toks")).cast("long").as("max_chunk_toks"),
        countDistinct(col("chunk_hash")).as("n_distinct_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
        round(d(col("n_tokens")) / d(col("n_chunks")), 6)
          .as("mean_chunk_toks"),
        col("max_chunk_toks"), col("n_distinct_chunks"))
      .orderBy(col("doc_id"))
  }

  // Pipeline-infrastructure audits — algebraic
  // partial-aggregate mergeability (the incremental-view-maintenance
  // / streaming-state foundation), a referential-integrity +
  // expectation data-quality audit over the star schema, a per-user
  // event-time out-of-orderness audit (the measurement that picks a
  // streaming watermark delay), and an l-diversity audit completing
  // the privacy triple next to t_k_anonymity and t_dp_histogram.
  // All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_l_diversity — l-diversity audit (Machanavajjhala et al. 2007):
  // k-anonymity bounds group SIZE, but a uniform group still leaks
  // its sensitive attribute; l-diversity requires ≥ l distinct
  // sensitive values per quasi-identifier group. Same QI tuple as
  // t_k_anonymity (lang, source, 100-char length bucket); the
  // sensitive attribute is the doc's 16-way content topic proxy
  // (first md5 hex digit of text — deterministic, data-derived).
  // Reported per (lang, source): bucket count, the minimum diversity
  // across buckets, buckets below l = 3, and documents in those
  // buckets — the rollup, never the low-diversity groups themselves.
  // Scale shape: exact distinct via two stacked map-side-combining
  // aggregates (QI × sensitive cardinality ≪ corpus), then the same
  // bounded rollup as the k-anonymity audit. Integer counts — exact.
  // ---------------------------------------------------------------
  val tLDiversity: Q = (s, dir) => {
    val l = 3
    val cells = Tables.table(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr("CAST(n_chars AS BIGINT) div 100").as("len_bucket"),
        substring(md5(col("text")), 1, 1).as("sens"))
      .agg(count(lit(1)).as("n"))
    val buckets = cells
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("diversity"))
    buckets.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_buckets"),
        min(col("diversity")).as("min_diversity"),
        sum(when(col("diversity") < l, 1L).otherwise(0L)).cast("long")
          .as("n_low_buckets"),
        sum(when(col("diversity") < l, col("n_docs")).otherwise(0L))
          .cast("long").as("n_docs_at_risk"))
      .orderBy(col("lang"), col("source"))
  }

  // Gap repair and denoising-objective prep — a
  // calendar-spine linear-interpolation fill for the daily revenue
  // series (the time-series repair step next to w_fill_forward's
  // step-function fill), and the T5 span-corruption plan (Raffel et
  // al. 2020) computed as deterministic per-document span statistics.
  // Both Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_span_corruption — the T5 denoising-objective plan: each token
  // is independently marked for corruption by a deterministic
  // hash coin (first md5 hex digit of doc_id·position ∈ {0,1} —
  // p = 1/8), consecutive marks form sentinel spans, and the
  // operator reports the per-document plan statistics every span-
  // corruption dataloader needs to budget sentinels and targets:
  // token count, corrupted count, span count, longest span, ratio.
  // Span count is the run-start sum; the longest span falls out of
  // the gap between consecutive UNCORRUPTED positions (0 / n+1
  // sentinels) — both O(n) array folds, no per-doc quadratic work,
  // no shuffle at all: the whole plan is one map-side projection
  // over the documents scan followed by the output sort. Integer
  // counts; the ratio is the only double (round 6).
  // ---------------------------------------------------------------
  val tSpanCorruption: Q = (s, dir) => {
    import graft.functions.{TextFunctions => TF}
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("flags", expr(
        """transform(sequence(1, CAST(n AS INT)), i ->
          |  CASE WHEN substring(md5(concat(CAST(doc_id AS STRING), '_',
          |    CAST(i AS STRING))), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END)"""
          .stripMargin))
      .withColumn("n_corrupted", expr(
        "aggregate(flags, 0L, (acc, f) -> acc + f)"))
      .withColumn("n_spans", expr(
        """aggregate(sequence(1, CAST(n AS INT)), 0L, (acc, i) ->
          |  acc + (CASE WHEN element_at(flags, i) = 1 THEN
          |    (CASE WHEN i = 1 THEN 1
          |          WHEN element_at(flags, i - 1) = 0 THEN 1
          |          ELSE 0 END)
          |    ELSE 0 END))""".stripMargin))
      .withColumn("bounds", expr(
        """concat(array(0), filter(sequence(1, CAST(n AS INT)),
          |  i -> element_at(flags, i) = 0), array(CAST(n AS INT) + 1))"""
          .stripMargin))
      .withColumn("max_span_len", expr(
        """array_max(transform(sequence(2, size(bounds)), k ->
          |  element_at(bounds, k) - element_at(bounds, k - 1) - 1))"""
          .stripMargin).cast("long"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("n_corrupted"), col("n_spans"), col("max_span_len"),
        round(d(col("n_corrupted")) / d(col("n")), 6).as("corrupt_ratio"))
      .orderBy(col("doc_id"))
  }

  // Corpus-diversity and release auditing —
  // Self-BLEU neighbor diversity (Zhu et al. 2018, the texygen
  // diversity metric), a differentially-private median via the
  // exponential mechanism (McSherry & Talwar 2007), and the
  // multimodal quality gate over the decoder-trait feature path.
  // All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_self_bleu — neighbor Self-BLEU diversity audit: within each
  // (lang, source) shard, every document is scored against its
  // doc_id-successor as the reference — modified (clipped) unigram
  // and bigram precision, the Self-BLEU estimator a generation-
  // diversity report runs (high Self-BLEU = the shard repeats
  // itself). Neighbor pairing keeps the metric LINEAR: a corpus×
  // sample reference set multiplies work by the sample size, the
  // successor pairing is one window pass — the same downsampling
  // every production Self-BLEU harness applies. Exactness: clipped
  // overlaps are integer Σ min(count_a, count_b) from a (pair,
  // token) join; per-pair precision and the per-shard average both
  // leave integer space through micro-unit integral division (the
  // a_var_merge rule). Scale shape: pairing shuffles once per shard
  // window (shard-parallel); each n-gram leg is explode → map-side-
  // combining count → one equi-join on (pair, gram) — token-linear;
  // the output is bounded by lang × source.
  // ---------------------------------------------------------------
  val tSelfBleu: Q = (s, dir) => {
    import graft.functions.{TextFunctions => TF}
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("doc_id"))
    val paired = Tables.table(s, dir, "documents")
      .select(col("lang"), col("source"), col("doc_id"),
        TF.tokens(col("text")).as("toks"))
      .withColumn("b_toks", lead(col("toks"), 1).over(w))
      .filter(col("b_toks").isNotNull)
    def leg(aGrams: Column, bGrams: Column, out: String): DataFrame = {
      val lenA = paired.select(col("lang"), col("source"), col("doc_id"),
        size(aGrams).cast("long").as("len_a"))
      val ca = paired
        .select(col("lang"), col("source"), col("doc_id"),
          explode(aGrams).as("gram"))
        .groupBy(col("lang"), col("source"), col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("ca"))
      val cb = paired
        .select(col("lang"), col("source"), col("doc_id"),
          explode(bGrams).as("gram"))
        .groupBy(col("lang"), col("source"), col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("cb"))
      val clip = ca.join(cb,
          Seq("lang", "source", "doc_id", "gram"))
        .groupBy(col("lang"), col("source"), col("doc_id"))
        .agg(sum(least(col("ca"), col("cb"))).cast("long").as("clipped"))
      lenA.join(clip, Seq("lang", "source", "doc_id"), "left")
        .select(col("lang"), col("source"),
          expr("CAST((coalesce(clipped, 0L) * 1000000) div len_a AS BIGINT)")
            .as("micro"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as(s"n_pairs_$out"),
          expr("CAST(sum(micro) div count(1) AS BIGINT)").as(s"m_$out"))
    }
    val uni = leg(col("toks"), col("b_toks"), "1")
    val bi = leg(graft.plans.HashExpressions.tokenShingles(col("toks"), 2),
      graft.plans.HashExpressions.tokenShingles(col("b_toks"), 2), "2")
    uni.join(bi, Seq("lang", "source"))
      .select(col("lang"), col("source"),
        col("n_pairs_1").as("n_pairs"),
        (col("m_1") / lit(1000000.0)).as("self_bleu1"),
        (col("m_2") / lit(1000000.0)).as("self_bleu2"))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // t_dp_median — ε-differentially-private median of order value via
  // the exponential mechanism over 64 equal-width price bins:
  // utility u(b) = −|2·cum(b) − n| (rank distance to the median,
  // sensitivity 1 under add/remove), selection probability
  // ∝ exp(ε·u/2) realized through the Gumbel-max trick with
  // DETERMINISTIC per-bin noise (the bin key's own 60-bit md5 mapped
  // to (0,1) — the t_dp_histogram convention; a real release draws
  // fresh randomness, the mechanism and the ε ledger are what the
  // operator carries). Bin assignment is exact integer cents
  // division; the utilities and cumulative counts are exact
  // integers; only the final ε·u/2 + Gumbel score is double (the
  // identical IEEE expression in both engines, argmax tie-broken on
  // bin index). Scale shape: one map-side-combining 64-bin
  // aggregate; everything after runs on the bounded 64-row frame
  // (documented low-cardinality window class).
  // ---------------------------------------------------------------
  val tDpMedian: Q = (s, dir) => {
    val eps = 1.0
    val binned = Tables.table(s, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(least(lit(63L), expr("CAST(cents * 64 div 50000000 AS BIGINT)"))
        .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val wCum = Grain.bounded(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Grain.whole
    val h = conv(substring(md5(concat(lit("median_"),
      col("bin").cast("string"))), 1, 15), 16, 10).cast("long")
    val u01 = (d(h) + lit(0.5)) / lit(1152921504606846976.0) // 2^60
    val scoredCols = binned
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("u", -abs(lit(2L) * col("cum") - col("n")))
      .withColumn("score",
        lit(eps) * d(col("u")) / lit(2.0) - log(-log(u01)))
    scoredCols
      .withColumn("rk", row_number().over(
        Grain.bounded(desc("score"), col("bin"))))
      .withColumn("true_bin", min(when(lit(2L) * col("cum") >= col("n"),
        col("bin"))).over(wAll))
      .filter(col("rk") === 1)
      .select(col("bin").as("released_bin"),
        (d(col("bin")) * lit(500000.0 / 64)).as("bin_lo"),
        ((d(col("bin")) + 1.0) * lit(500000.0 / 64)).as("bin_hi"),
        col("true_bin"), col("n").as("n_orders"), lit(eps).as("epsilon"))
  }

  // Serving-cache and hash-infrastructure audits —
  // a KV-cache prefix-sharing audit (how many prompt tokens a
  // shared-prefix cache saves), a χ² hash-uniformity guardrail (the
  // sample-ratio-mismatch check for every md5-keyed split/sample in
  // this engine), and an inter-arrival Poisson-ness audit over the
  // event stream. All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_prefix_sharing — KV-cache prefix-sharing audit: documents that
  // share their first 8 tokens can share a prefix cache entry (the
  // vLLM/SGLang radix-cache economics); per language the audit
  // reports prefix-group counts and the token savings
  // Σ (group_size − 1) · prefix_len — the KV slots a radix cache
  // avoids recomputing — plus the savings rate against total prompt
  // tokens. Grouping key is the exact 8-token prefix string (md5'd
  // only for display), so the group is the real shareable prefix.
  // Scale shape: one map-side projection to (lang, prefix, n_toks),
  // two stacked map-side-combining aggregates — prefix cardinality
  // ≤ corpus, output bounded by lang. Integer counts and savings;
  // the rate is one micro-unit integral division.
  // ---------------------------------------------------------------
  val tPrefixSharing: Q = (s, dir) => {
    import graft.functions.{TextFunctions => TF}
    val p = 8
    val docs = Tables.table(s, dir, "documents")
      .select(col("lang"), TF.tokens(col("text")).as("toks"))
      .select(col("lang"), size(col("toks")).cast("long").as("n_toks"),
        array_join(slice(col("toks"), 1, p), " ").as("prefix"),
        least(size(col("toks")).cast("long"), lit(p.toLong)).as("plen"))
    val groups = docs.groupBy(col("lang"), col("prefix"), col("plen"))
      .agg(count(lit(1)).as("g"), sum(col("n_toks")).cast("long").as("toks"))
    groups.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_prefix_groups"),
        sum(col("g")).cast("long").as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"),
        sum(when(col("g") > 1, (col("g") - 1) * col("plen")).otherwise(0L))
          .cast("long").as("saved_tokens"),
        sum(when(col("g") > 1, col("g")).otherwise(0L)).cast("long")
          .as("n_docs_sharing"))
      .select(col("lang"), col("n_prefix_groups"), col("n_docs"),
        col("n_docs_sharing"), col("saved_tokens"),
        (expr("CAST((saved_tokens * 1000000) div n_tokens AS BIGINT)") /
          lit(1000000.0)).as("savings_rate"))
      .orderBy(col("lang"))
  }

  // Three classic large-corpus operators —
  // a distributed 2-D Pareto frontier (skyline) via the new two-phase
  // global running-min sweep, Apriori-pruned frequent item-pair
  // mining (the SON/market-basket shape), and a RefinedWeb-style
  // per-domain document cap. All Spark-first with full-replay DuckDB
  // oracles.

  // ---------------------------------------------------------------
  // t_domain_cap — per-domain document cap (the RefinedWeb /
  // Common-Crawl curation rule: no single domain may contribute more
  // than K documents, survivors chosen by a deterministic hash
  // order so the cap is a uniform sample within the domain). K = 18.
  // The rank filter over (source, md5 order) plans as
  // WindowGroupLimit — Spark pushes the ≤K cut into a group-local
  // top-k BEFORE the sort, so a mega-domain never materializes its
  // full posting under the window. Output is the per-domain audit:
  // doc counts, kept/dropped, the effective hash cutoff (the "quota
  // price" of the domain), and the post-cap corpus share in exact
  // micro-units. One scan + two bounded aggregates.
  // ---------------------------------------------------------------
  val tDomainCap: Q = (s, dir) => {
    val k = 18
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val kept = docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("cutoff_hash"))
    val all = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = kept.agg(sum(col("n_kept")).cast("long").as("kept_total"))
    all.join(kept, Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("cutoff_hash"),
        (expr("CAST(n_kept * 1000000 div kept_total AS BIGINT)") /
          lit(1000000.0)).as("share_after"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // t_rake_keywords — RAKE keyword extraction (Rose et al. 2010):
  // candidate phrases are maximal stopword-free token runs (length
  // ≤ 4); each word scores deg(w)/freq(w) over the candidate
  // occurrences (deg = Σ phrase length over phrases containing the
  // word, freq = occurrence count), and a phrase scores the sum of
  // its word scores. Corpus-wide top-25 phrases. Scale shape: the
  // phrase segmentation is a per-doc window (partitioned by doc_id —
  // bounded by doc length, never global); word stats are one
  // token-keyed aggregate; the per-occurrence score re-join hashes
  // on the token key and folds in phrase position order (bit-stable
  // doubles); final top-25 plans as TakeOrdered. deg/freq and the
  // ≤4-term score sums are small-integer ratios — exact in double —
  // so only the presentation round(6) touches float policy.
  // ---------------------------------------------------------------
  val tRakeKeywords: Q = (s, dir) => {
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("stop", col("tok").isin(TF.stopwords: _*))
    val seg = toks.withColumn("phrase_id",
        sum(when(col("stop"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(!col("stop"))
      .transform(Barrier.materialize) // consumed by occurrences AND word stats
    val occ = seg.groupBy(col("doc_id"), col("phrase_id"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, tok)))," +
          " x -> x.tok)").as("words"),
        count(lit(1)).as("len"))
      .filter(col("len") <= 4)
      .transform(Barrier.materialize) // word stats + scoring both read it
    val members = occ.select(col("doc_id"), col("phrase_id"), col("len"),
      posexplode(col("words")).as(Seq("wpos", "tok")))
    val wordScore = members.groupBy(col("tok"))
      .agg(sum(col("len")).cast("long").as("deg"),
        count(lit(1)).cast("long").as("freq"))
      .withColumn("wscore", d(col("deg")) / d(col("freq")))
    val scored = members.join(wordScore.select(col("tok"), col("wscore")), "tok")
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(expr("aggregate(sort_array(collect_list(struct(wpos, wscore))), 0D," +
        " (a, x) -> a + x.wscore)").as("score"))
    occ.join(scored, Seq("doc_id", "phrase_id"))
      .withColumn("phrase", array_join(col("words"), " "))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), max(col("len")).as("n_words"),
        max(round(col("score"), 6)).as("score"))
      .orderBy(desc("score"), col("phrase"))
      .limit(25)
  }

  // CUPED variance reduction for experiment
  // readouts (Deng et al. 2013), a from-scratch multinomial Naive
  // Bayes language classifier (train/infer on a hash split), and
  // perceptual-hash (structural) near-dup detection over the opaque
  // media column — the image-dedup shape run on the binary stand-in.
  // All Spark-first with full-replay DuckDB oracles; float policy:
  // exact integer/decimal sums into a fixed double DAG (the
  // a_welch_ttest convention), order-pinned folds for log-space.

  // ---------------------------------------------------------------
  // t_naive_bayes — multinomial Naive Bayes language classifier,
  // trained and evaluated in one job (the from-scratch fastText
  // stand-in: train token counts on the 80% hash split, Laplace
  // α = 1, argmax posterior on the 20%): the classic "label the
  // corpus with a cheap supervised filter" stage. Scale shape:
  // training is ONE (lang, token) aggregate (map-side combine);
  // inference joins each test token to the ≤|langs| class rows of
  // the counts table (hash join on token) — work is |test tokens|
  // × |classes|, linear in the corpus. Log-probabilities are
  // doubles, so each document's Σ log p folds in (pos, lang) order
  // via the repo's sorted-fold (bit-stable); the argmax breaks
  // exact ties on lang. Output: the confusion matrix.
  // ---------------------------------------------------------------
  val tNaiveBayes: Q = (s, dir) => {
    val split = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        (conv(substring(md5(concat(lit("nb:"),
          col("doc_id").cast("string"))), 1, 2), 16, 10)
          .cast("long") % 5 === 0).as("is_test"))
      .transform(Barrier.materialize) // consumed by train counts AND test scoring
    val trainTok = split.filter(!col("is_test"))
      .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
    val counts = trainTok.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
    val tot = trainTok.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("tot"))
    val vocab = trainTok.agg(countDistinct(col("tok")).as("v"))
    val prior = split.filter(!col("is_test")).groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("nc"))
    val nTrain = split.filter(!col("is_test"))
      .agg(count(lit(1)).cast("long").as("ndocs"))
    val classes = prior.join(tot, "lang")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(nTrain))
      .select(col("lang").as("cls"), col("nc"), col("tot"), col("v"),
        col("ndocs"))
    val testTok = split.filter(col("is_test"))
      .select(col("doc_id"), col("lang").as("true_lang"),
        posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok")))
    val scoredTok = testTok
      .crossJoin(broadcast(classes))
      .join(counts.select(col("lang").as("cls"), col("tok"), col("c")),
        Seq("cls", "tok"), "left")
      .withColumn("lp", log((d(coalesce(col("c"), lit(0L))) + lit(1.0)) /
        d(col("tot") + col("v"))))
    val posterior = scoredTok.groupBy(col("doc_id"), col("true_lang"),
        col("cls"), col("nc"), col("ndocs"))
      .agg(expr("aggregate(sort_array(collect_list(struct(pos, lp)))," +
        " 0D, (a, x) -> a + x.lp)").as("ll"))
      .withColumn("score", col("ll") + log(d(col("nc")) / d(col("ndocs"))))
    val pred = posterior.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("cls"))))
      .filter(col("rk") === 1)
    pred.groupBy(col("true_lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  // A GARCH(1,1) volatility filter over daily
  // revenue returns (Bollerslev 1986), a negative-binomial
  // overdispersion fit of per-user event counts (method of moments),
  // and one DoReMi-style exponentiated-gradient domain-reweighting
  // step (Xie et al. 2023). All Spark-first with full-replay DuckDB
  // oracles.

  // ---------------------------------------------------------------
  // t_doremi_mixture — one DoReMi-style exponentiated-gradient step
  // on per-source mixture weights (Xie et al. 2023): each domain's
  // excess loss (mean token NLL under the corpus unigram LM minus
  // the corpus mean) multiplies its token-share baseline weight by
  // exp(η·excess), η = 0.5, then renormalizes — upweighting domains
  // the reference model finds hard. NLL is quantized to exact
  // micro-nat longs BEFORE any sum (the t_dataset_card floor
  // policy): lp(tok) = floor(−ln(c_tok/T)·10⁶), so per-domain
  // Σ c_{d,tok}·lp rides DECIMAL(38,0) exactly and only the final
  // mean/exp/normalize are doubles (the ≤|sources| normalizer folds
  // in sorted source order). Scale shape: two token-keyed
  // aggregates (corpus counts, domain counts) + one hash join on
  // tok — linear in the corpus; domains are a tiny final frame.
  // ---------------------------------------------------------------
  val tDoremiMixture: Q = (s, dir) => {
    val tok = Tables.table(s, dir, "documents")
      .select(col("source"), explode(TF.tokens(col("text"))).as("tok"))
    val byDom = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cdt"))
      .transform(Barrier.materialize) // feeds corpus counts AND the lp join
    val corpus = byDom.groupBy(col("tok"))
      .agg(sum(col("cdt")).cast("long").as("ct"))
    val total = corpus.agg(sum(col("ct")).cast("long").as("tt"))
    val lp = corpus.crossJoin(broadcast(total))
      .select(col("tok"),
        floor(-log(d(col("ct")) / d(col("tt"))) * 1000000.0)
          .cast("long").as("lp_u"))
    val dom = byDom.join(lp, "tok")
      .groupBy(col("source"))
      .agg(sum(col("cdt")).cast("long").as("n_tok"),
        sum((col("cdt") * col("lp_u")).cast("decimal(38,0)")).as("nll_u"))
      .crossJoin(broadcast(total))
      .withColumn("mean_nll", d(col("nll_u")) / d(col("n_tok")) / 1000000.0)
      .withColumn("w0", d(col("n_tok")) / d(col("tt")))
      .transform(Barrier.materialize) // consumed by the corpus mean AND the output
    val overall = dom.agg(
      (d(sum(col("nll_u"))) / d(sum(col("n_tok"))) / 1000000.0).as("nll_bar"))
    val scored = dom.crossJoin(broadcast(overall))
      .withColumn("raw", col("w0") *
        exp(lit(0.5) * (col("mean_nll") - col("nll_bar"))))
    val z = scored.agg(
      expr("aggregate(sort_array(collect_list(struct(source, raw)))," +
        " 0D, (a, x) -> a + x.raw)").as("z"))
    scored.crossJoin(broadcast(z))
      .select(col("source"), col("n_tok").as("n_tokens"),
        round(col("mean_nll"), 6).as("mean_nll"),
        round(col("w0"), 6).as("weight_before"),
        round(col("raw") / col("z"), 6).as("weight_after"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // t_submodular_coverage — greedy maximum vocabulary coverage
  // (Nemhauser et al. 1978: the greedy (1−1/e) guarantee): pick 8
  // documents, each round choosing the doc covering the most
  // still-uncovered distinct tokens (doc_id tiebreak) — the coreset
  // selection that seeds dedup-aware sampling and eval-set picks.
  // Spark runs the greedy as a driver-bounded 8-round loop
  // (early-exit when nothing new is coverable — the g_kcore
  // convention): each round is ONE anti join (postings vs covered)
  // + one count aggregate + TakeOrdered(1); the covered set only
  // ever holds distinct tokens. The oracle unrolls the same 8
  // rounds (an empty winner stays empty, so early-exit ≡ full
  // unroll). Gains are integers — no float anywhere.
  // ---------------------------------------------------------------
  val tSubmodularCoverage: Q = (s, dir) => {
    val post = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .distinct()
      .transform(Barrier.materialize) // scanned once per round (8 rounds)
    var covered = post.select(col("tok")).limit(0)
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var stop = false
    for (i <- 1 to 8 if !stop) {
      val gains = post.join(covered, Seq("tok"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
      val winner = gains.orderBy(desc("gain"), col("doc_id")).limit(1)
        .transform(Barrier.materialize) // consumed by output, covered update
      if (winner.isEmpty) stop = true
      else {
        covered = covered
          .union(post.join(broadcast(winner.select(col("doc_id"))),
            Seq("doc_id")).select(col("tok")))
          .distinct()
          .transform(Barrier.materialize) // next round's anti side + the count
        val total = covered.count()
        rounds += winner.select(lit(i.toLong).as("round"), col("doc_id"),
          col("gain"), lit(total).as("covered_total"))
      }
    }
    rounds.reduce(_ unionAll _).orderBy(col("round"))
  }

  /** One unrolled greedy-coverage round. */
  private def coverageRounds(n: Int): String =
    (1 to n).map { i =>
      s"""g$i AS (
         |  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS gain
         |  FROM post p
         |  WHERE NOT EXISTS (SELECT 1 FROM cov${i - 1} c WHERE c.tok = p.tok)
         |  GROUP BY 1),
         |w$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS round, doc_id, gain FROM g$i
         |  ORDER BY gain DESC, doc_id LIMIT 1),
         |cov$i AS MATERIALIZED (
         |  SELECT tok FROM cov${i - 1}
         |  UNION
         |  SELECT p.tok FROM post p JOIN w$i w ON p.doc_id = w.doc_id),
         |ct$i AS (SELECT CAST(count(*) AS BIGINT) AS covered_total
         |         FROM cov$i)"""
        .stripMargin
    }.mkString(",\n")

  // Flesch reading-ease scoring with a
  // deterministic vowel-group syllable proxy (Flesch 1948 — the
  // readability gate CC curation pipelines run), per-language
  // tokenizer fertility (subwords per word — the multilingual
  // tokenizer-budget audit, Rust et al. 2021), and boilerplate
  // detection by common document suffixes (the footer/navigation
  // text that template-heavy crawls repeat). All one-scan
  // integer-exact aggregates with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_readability — Flesch Reading Ease per document:
  //   FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
  // with syllables ≈ vowel groups ([aeiouy]+ runs, the standard
  // dictionary-free proxy) and sentences = [.!?]+ runs floored at 1.
  // Scale shape: pure codegen'd per-row expressions — one scan, no
  // shuffle before the presentation sort; the three counters are
  // exact integers, FRE is one fixed double DAG rounded at the edge.
  // ---------------------------------------------------------------
  val tReadability: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), col("lang"),
      TF.tokenCount(col("text")).as("n_words"),
      greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
        .cast("long").as("n_sentences"),
      regexp_count(lower(col("text")), lit("[aeiouy]+"))
        .cast("long").as("n_syllables"))
    val fre = lit(206.835) -
      lit(1.015) * (d(col("n_words")) / d(col("n_sentences"))) -
      lit(84.6) * (d(col("n_syllables")) / d(col("n_words")))
    base.select(col("doc_id"), col("lang"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(fre, 6).as("flesch"),
        when(fre >= 60.0, "easy").when(fre >= 30.0, "medium")
          .otherwise(lit("hard")).as("band"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_tokenizer_fertility — subwords per whitespace word, by
  // language: the audit that says how many tokens a fixed-budget
  // tokenizer spends per language (fertility ≫ 1 = the language is
  // under-served and its effective context shrinks). Subword proxy:
  // a bounded-piece tokenizer that splits every word into ⌈len/4⌉
  // pieces (the deterministic stand-in for a BPE vocab — piece
  // count, not piece identity, is what fertility measures). Scale
  // shape: one scan, integer counters, one 5-key shuffle; both
  // counts are map-combinable sums.
  // ---------------------------------------------------------------
  val tTokenizerFertility: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    docs(s, dir).select(col("lang"),
        size(toks).cast("long").as("w"),
        aggregate(transform(toks, t => ceil(length(t) / lit(4.0)).cast("long")),
          lit(0L), (a, x) => a + x).as("sw"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("w")).cast("long").as("n_words"),
        sum(col("sw")).cast("long").as("n_subwords"))
      .withColumn("fertility",
        round(d(col("n_subwords")) / d(col("n_words")), 6))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // t_boilerplate_suffix — template/boilerplate detection: the last
  // 3 tokens of each document as a suffix key, counted across the
  // corpus; a suffix shared by many documents is footer/navigation
  // boilerplate (the crawl-cleaning heuristic behind trafilatura-
  // style pruning). Top-10 by count with corpus share. Scale shape:
  // the suffix key is a codegen'd slice (no explode — one row per
  // doc), one hash aggregate, TakeOrderedAndProject for the top-k;
  // the ONE-ROW corpus total broadcasts into the share.
  // ---------------------------------------------------------------
  val tBoilerplateSuffix: Q = (s, dir) => {
    val toks = TF.tokens(col("text"))
    val suffix = array_join(
      slice(toks, greatest(size(toks) - 2, lit(1)), lit(3)), " ")
    val counts = docs(s, dir).select(suffix.as("suffix"))
      .groupBy(col("suffix")).agg(count(lit(1)).cast("long").as("n_docs"))
    val tot = docs(s, dir).agg(count(lit(1)).cast("long").as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("suffix"), col("n_docs"),
        round(d(col("n_docs")) / d(col("n_total")), 6).as("share"))
      .orderBy(desc("n_docs"), col("suffix"))
      .limit(10)
  }

  // The Wald–Wolfowitz runs test (randomness audit
  // on the daily revenue sign sequence — regime persistence that
  // variance metrics miss), Heaps'-law vocabulary growth (V ∝ N^β —
  // the corpus-diversity fit that falls when a crawl starts repeating
  // itself), and a Jaccard-threshold sweep (near-dup pair/doc counts
  // across the threshold grid — the knob-tuning curve run before
  // committing a dedup threshold). All Spark-first with full-replay
  // DuckDB oracles.

  // ---------------------------------------------------------------
  // t_vocab_growth — Heaps'-law fit V(N) = k·N^β over the corpus in
  // reproducible md5 ingestion order: per-doc novel-type counts
  // (each token charged to the FIRST doc in that order), cumulative
  // token/vocab curves via the two-phase global cumsum (never a
  // single-partition window over the corpus), then the log-log
  // least-squares slope. β ≈ 0.5 is healthy natural text; β falling
  // with corpus size is the repetition signature dedup exists to
  // fix. Scale shape: the rank and both cumsums are
  // Ranking.withGlobalRank/CumSums (range partition + P carries);
  // the first-occurrence charge is one min-aggregate on the token
  // key. Float policy: the regression folds ln() terms in pinned
  // rank order (sorted fold; plain sum at real scale — the
  // documented deviation class); outputs round to 6 dp.
  // ---------------------------------------------------------------
  val tVocabGrowth: Q = (s, dir) => {
    val base = Tables.table(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"),
        TF.tokenCount(col("text")).as("n_tok"))
    val ranked = Ranking.withGlobalRank(base, "rk", col("key"), col("doc_id"))
      .transform(Barrier.materialize) // posting join + the cumsum input
    val novel = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(TF.tokens(col("text"))))
        .as("tok"))
      .join(ranked.select(col("doc_id"), col("rk")), Seq("doc_id"))
      .groupBy(col("tok")).agg(min(col("rk")).as("first_rk"))
      .groupBy(col("first_rk")).agg(count(lit(1)).cast("long").as("novel"))
    val joined = ranked
      .join(novel.withColumnRenamed("first_rk", "rk"), Seq("rk"), "left")
      .na.fill(0L, Seq("novel"))
    val cums = Ranking.withGlobalCumSums(joined,
      Seq("n_tok" -> "cum_tok", "novel" -> "cum_vocab"),
      col("key"), col("doc_id"))
    val pts = cums.select(col("rk"),
      log(d(col("cum_tok"))).as("x"), log(d(col("cum_vocab"))).as("y"))
    def fold(v: String): Column =
      expr(s"aggregate(sort_array(collect_list(struct(rk, $v))), 0D," +
        s" (a, q) -> a + q.$v)")
    val m = pts
      .select(col("rk"), col("x"), col("y"), (col("x") * col("y")).as("xy"),
        (col("x") * col("x")).as("xx"), (col("y") * col("y")).as("yy"))
      .agg(count(lit(1)).cast("long").as("n"), fold("x").as("sx"),
        fold("y").as("sy"), fold("xy").as("sxy"), fold("xx").as("sxx"),
        fold("yy").as("syy"))
    val beta = (d(col("n")) * col("sxy") - col("sx") * col("sy")) /
      (d(col("n")) * col("sxx") - col("sx") * col("sx"))
    val lnk = (col("sy") - beta * col("sx")) / d(col("n"))
    val r2num = (d(col("n")) * col("sxy") - col("sx") * col("sy")) *
      (d(col("n")) * col("sxy") - col("sx") * col("sy"))
    val r2den = (d(col("n")) * col("sxx") - col("sx") * col("sx")) *
      (d(col("n")) * col("syy") - col("sy") * col("sy"))
    val tot = Tables.table(s, dir, "documents")
      .select(explode(array_distinct(TF.tokens(col("text")))).as("tok"))
      .agg(countDistinct(col("tok")).cast("long").as("vocab_size"))
    m.crossJoin(broadcast(tot))
      .select(col("n").as("n_docs"), col("vocab_size"),
        round(beta, 6).as("beta"), round(lnk, 6).as("ln_k"),
        round(r2num / r2den, 6).as("r2"))
  }

  // ---------------------------------------------------------------
  // t_jaccard_threshold_sweep — near-dup yield across the threshold
  // grid {0.5 … 0.9}: pair count and distinct affected docs at each
  // cut, from ONE run of the prefix-filtered exact pair join at the
  // loosest threshold (every tighter cut is a filter over the same
  // pair stream — five dedup configurations priced for the cost of
  // one). The curve is how a curation run picks its threshold:
  // where the doc count stops falling, tightening buys nothing.
  // Scale shape: inherits dedup_jaccard_pairs' identical-set
  // collapse + rarest-first prefix postings; the sweep itself is a
  // 5× explode over the (already small) pair stream.
  // ---------------------------------------------------------------
  private val SweepThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  val tJaccardThresholdSweep: Q = (s, dir) => {
    // no barrier on the raw pair stream: its ONE consumer is the
    // exploded sweep below, whose own barrier is shared by the five
    // threshold readers — the former extra
    // materialization re-paid the full t=0.5 pair join once per run
    val pairs = Dedup.jaccardPairsRaw(s, dir, SweepThresholds.head)
    val sweep = pairs.select(col("d1"), col("d2"), col("jaccard"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .transform(Barrier.materialize) // pair-count AND doc-count consumers
    val np = sweep.groupBy(col("threshold"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val nd = sweep
      .select(col("threshold"), explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("doc")).cast("long").as("n_dup_docs"))
    np.join(nd, Seq("threshold")).orderBy(col("threshold"))
  }

  // ---------------------------------------------------------------
  // t_langid_confusion — the heuristic language classifier
  // (TF.langId) evaluated against the labeled lang column: per-class
  // precision, recall, and F1 from the exact confusion counts — the
  // shipping gate for any filter that routes documents by predicted
  // language. Scale shape: one scan computes predictions in codegen,
  // one shuffle on the bounded (lang × predicted) key; the per-class
  // margins are broadcast-joined bounded frames; every metric is
  // integer counts through fixed divisions.
  // ---------------------------------------------------------------
  val tLangidConfusion: Q = (s, dir) => {
    val pred = Tables.table(s, dir, "documents")
      .select(col("lang"), TF.langId(col("text")).as("predicted"))
      .transform(Barrier.materialize) // diagonal, row margins, column margins
    val diag = pred.filter(col("lang") === col("predicted"))
      .groupBy(col("lang")).agg(count(lit(1)).cast("long").as("tp"))
    val actual = pred.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_actual"))
    val predicted = pred.groupBy(col("predicted").as("lang"))
      .agg(count(lit(1)).cast("long").as("n_predicted"))
    actual.join(predicted, Seq("lang"), "full_outer")
      .join(diag, Seq("lang"), "left")
      .na.fill(0L, Seq("n_actual", "n_predicted", "tp"))
      .withColumn("precision",
        when(col("n_predicted") > 0,
          round(d(col("tp")) / d(col("n_predicted")), 6)))
      .withColumn("recall",
        when(col("n_actual") > 0, round(d(col("tp")) / d(col("n_actual")), 6)))
      .withColumn("f1",
        when(col("n_predicted") + col("n_actual") > 0,
          round(lit(2.0) * d(col("tp")) /
            d(col("n_predicted") + col("n_actual")), 6)))
      .select(col("lang"), col("n_actual"), col("n_predicted"), col("tp"),
        col("precision"), col("recall"), col("f1"))
      .orderBy(col("lang"))
  }

  // The empirical entropy rate of the per-user
  // event chain (how predictable is the next action given the last —
  // the sessionization/compression dual of ev_markov_stationary),
  // per-term burstiness (Church & Gale 1995 variance-to-mean — the
  // content/function-word separator TF-IDF approximates), and a
  // Beta-posterior incidence estimate with the Jeffreys prior (the
  // small-count-safe rate the raw share overstates). All Spark-first
  // with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_term_burstiness — Church–Gale burstiness b = Var(tf)/E(tf)
  // per term over ALL documents (zeros included): b ≈ 1 is Poisson
  // scatter (function words), b ≫ 1 is topical clumping (content
  // words) — the lexical statistic that justifies df-based filters.
  // Top-20 by the 6-dp-rounded b (term tiebreak, the bm25
  // rounded-rank rule) among terms with df ≥ 5. Scale shape: tf is
  // one (doc, term) aggregate, per-term moments are map-combinable
  // integer sums (zeros enter via the closed form — the absent docs
  // contribute nothing to Σtf, Σtf²), the corpus doc count is a
  // ONE-ROW broadcast, top-k is TakeOrderedAndProject.
  // ---------------------------------------------------------------
  val tTermBurstiness: Q = (s, dir) => {
    val tf = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).cast("long").as("tf"))
    val n = Tables.table(s, dir, "documents")
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val mom = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("tf")).cast("long").as("st"),
        sum(col("tf") * col("tf")).cast("long").as("stt"))
      .filter(col("df") >= 5)
      .crossJoin(broadcast(n))
    val mean = d(col("st")) / d(col("n_docs"))
    val vr = d(col("stt")) / d(col("n_docs")) - mean * mean
    mom.select(col("term"), col("df"), col("st").as("total_tf"),
        round(vr / mean, 6).as("burstiness"))
      .orderBy(desc("burstiness"), col("term"))
      .limit(20)
  }

  // ---------------------------------------------------------------
  // t_dup_quality_bias — does near-duplication correlate with
  // quality? Docs in any MinHash-LSH near-dup pair vs singletons:
  // group sizes, mean quality (exact micro-units — the
  // t_dataset_card rule), and the Welch t statistic on the
  // difference. A big |t| means dedup is not quality-neutral and
  // the survivor policy (dedup_resolve_best) matters. Scale shape:
  // composes the registered LSH pair machinery (banding, linear in
  // corpus); membership is one distinct projection broadcast-anti
  // against the corpus scan; moments are exact integer sums.
  // ---------------------------------------------------------------
  val tDupQualityBias: Q = (s, dir) => {
    val pairs = Dedup.minhashLshPairs(s, dir, portableHashes = true)
    val dupDocs = pairs.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        floor(TF.qualityScore(col("text")) * lit(1000000.0)).as("q"))
    val flagged = docs.join(dupDocs.withColumn("is_dup", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
    val m = flagged.groupBy(col("is_dup"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q")).cast("long").as("sq"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"))
      .withColumn("mean", d(col("sq")) / d(col("n")) / lit(1000000.0))
      .withColumn("vr",
        (d(col("sqq")) - d(col("sq")) * d(col("sq")) / d(col("n"))) /
          (d(col("n")) - lit(1.0)) / lit(1e12))
      .transform(Barrier.materialize) // both sides of the Welch contrast
    val dup = m.filter(col("is_dup"))
      .select(col("n").as("n_dup"), col("mean").as("mean_dup"),
        col("vr").as("v_dup"))
    val sing = m.filter(!col("is_dup"))
      .select(col("n").as("n_single"), col("mean").as("mean_single"),
        col("vr").as("v_single"))
    dup.crossJoin(broadcast(sing))
      .select(col("n_dup"), col("n_single"),
        round(col("mean_dup"), 6).as("mean_quality_dup"),
        round(col("mean_single"), 6).as("mean_quality_single"),
        round((col("mean_dup") - col("mean_single")) /
          sqrt(col("v_dup") / d(col("n_dup")) +
            col("v_single") / d(col("n_single"))), 6).as("welch_t"))
  }

  // ---------------------------------------------------------------
  // t_perplexity_buckets — per-doc unigram cross-entropy
  // H(doc) = −(1/n) Σ_t ln p(w_t), p from corpus counts, then
  // head/middle/tail thirds by the 6-dp-rounded H (doc_id tiebreak —
  // the rounded-rank rule) via the TWO-PHASE global rank. CCNet
  // keeps the head, audits the tail. Scale shape: the LM is one
  // token aggregate broadcast back onto the token stream; the
  // per-doc fold runs in token-position order (libm ln → pinned
  // fold); ranking is range-partition + P carries, never a global
  // sort; bucket stats are exact micro-unit sums.
  // ---------------------------------------------------------------
  val tPerplexityBuckets: Q = (s, dir) => {
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "w")))
      .transform(Barrier.materialize) // LM counts AND the scoring pass
    val lm = toks.groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))
    val tot = toks.agg(count(lit(1)).cast("long").as("t"))
    val nll = toks.join(lm, Seq("w")).crossJoin(broadcast(tot))
      .select(col("doc_id"), col("pos"),
        (-log(d(col("c")) / d(col("t")))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tok"),
        expr("aggregate(sort_array(collect_list(struct(pos, term))), 0D," +
          " (a, x) -> a + x.term)").as("sum_nll"))
      .withColumn("h", round(col("sum_nll") / d(col("n_tok")), 6))
    val ranked = Ranking.withGlobalRank(nll, "rk", col("h"), col("doc_id"))
    val n = nll.agg(count(lit(1)).cast("long").as("n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket",
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise(lit("tail")))
      .withColumn("h_micro", floor(col("h") * lit(1000000.0)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        (sum(col("h_micro")).cast("double") / lit(1000000.0) /
          count(lit(1)).cast("double")).as("mean_h"),
        (min(col("h_micro")).cast("double") / lit(1000000.0)).as("min_h"),
        (max(col("h_micro")).cast("double") / lit(1000000.0)).as("max_h"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------
  // t_char_bigram_entropy — character-bigram Shannon entropy per
  // language: clean natural text sits in a narrow per-language band;
  // mojibake, base64 spill, or wrong-language routing shifts it
  // sharply (entropy up for random bytes, down for repeated
  // boilerplate). Scale shape: the bigram explode is scan-local
  // (linear in characters), one (lang, bigram) aggregate with
  // map-side combine, then a per-lang sorted entropy fold over the
  // bounded bigram alphabet; round-6 (libm ln).
  // ---------------------------------------------------------------
  val tCharBigramEntropy: Q = (s, dir) => {
    val bg = Tables.table(s, dir, "documents")
      .select(col("lang"), explode(expr(
        "transform(sequence(1, length(text) - 1)," +
          " i -> substring(text, i, 2))")).as("bg"))
      .groupBy(col("lang"), col("bg"))
      .agg(count(lit(1)).cast("long").as("c"))
    val tot = bg.groupBy(col("lang"))
      .agg(sum(col("c")).cast("long").as("t"),
        count(lit(1)).cast("long").as("n_distinct"))
    bg.join(tot, Seq("lang"))
      .select(col("lang"), col("t"), col("n_distinct"), col("bg"),
        (-(d(col("c")) / d(col("t"))) * log(d(col("c")) / d(col("t"))))
          .as("term"))
      .groupBy(col("lang"), col("t"), col("n_distinct"))
      .agg(expr("aggregate(sort_array(collect_list(struct(bg, term))), 0D," +
        " (a, x) -> a + x.term)").as("h"))
      .select(col("lang"), col("t").as("n_bigrams"), col("n_distinct"),
        round(col("h"), 6).as("entropy"),
        round(col("h") / log(d(col("n_distinct"))), 6).as("normalized"))
      .orderBy(col("lang"))
  }

  // An as-of join hit-rate audit over a staleness
  // grid (what fraction of point-in-time lookups would a feature
  // store actually serve at each freshness SLA — the capacity number
  // behind asOfJoinTolerance), Neyman optimal stratified-sample
  // allocation (n_h ∝ N_h·σ_h — the sampling design that beats
  // proportional when strata variances differ), and a storage-age
  // tiering audit (hot/warm/cold row mass by date — the lifecycle
  // policy input). All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_neyman_allocation — optimal stratified sampling over language
  // strata: n_h = B · N_h σ_h / Σ N σ (Neyman 1934), σ from the
  // exact micro-unit quality moments, the fixed budget B = 1000
  // split by largest remainder (the o_quota_allocation rule — seats
  // sum to B by construction). Proportional allocation oversamples
  // big uniform strata; Neyman spends budget where the variance is.
  // Scale shape: one scan to 5-key exact moments; σ/weights are
  // bounded-frame arithmetic (sorted fold for the Σ over ≤5 langs);
  // the remainder rank is a 5-row window.
  // ---------------------------------------------------------------
  private val NeymanBudget = 1000L

  val tNeymanAllocation: Q = (s, dir) => {
    val m = Tables.table(s, dir, "documents")
      .select(col("lang"),
        floor(TF.qualityScore(col("text")) * lit(1000000.0)).as("q"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q")).cast("long").as("sq"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"))
      .withColumn("sd",
        sqrt((d(col("sqq")) - d(col("sq")) * d(col("sq")) / d(col("n"))) /
          (d(col("n")) - lit(1.0))) / lit(1000000.0))
      .withColumn("wgt", d(col("n")) * col("sd"))
      .transform(Barrier.materialize) // Σw fold AND the allocation pass
    val tot = m.agg(expr("aggregate(sort_array(collect_list(struct(lang, wgt)))," +
      " 0D, (a, x) -> a + x.wgt)").as("sw"))
    val shares = m.crossJoin(broadcast(tot))
      .withColumn("share", col("wgt") / col("sw"))
      .withColumn("exact", d(lit(NeymanBudget)) * col("share"))
      .withColumn("base", floor(col("exact")).cast("long"))
      .withColumn("rem", col("exact") - d(col("base")))
      .transform(Barrier.materialize) // leftover count AND the remainder rank
    val leftover = shares.agg(
      (lit(NeymanBudget) - sum(col("base"))).cast("long").as("k"))
    shares.crossJoin(broadcast(leftover))
      .withColumn("rrk", row_number().over(
        Grain.bounded(desc("rem"), col("lang"))).cast("long"))
      .withColumn("n_alloc",
        (col("base") + when(col("rrk") <= col("k"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("lang"), col("n").as("n_docs"), round(col("sd"), 6).as("sd"),
        round(col("share"), 6).as("share"), col("n_alloc"))
      .orderBy(col("lang"))
  }

  // T-closeness (Li et al. 2007 — the third leg of
  // the privacy trio after t_k_anonymity and t_l_diversity: is any
  // QI cell's sensitive-value DISTRIBUTION far from the corpus
  // baseline?), partial correlation (does order volume correlate
  // with revenue beyond what basket size explains?), and the Hurst
  // exponent by rescaled-range analysis (Hurst 1951 — long-memory
  // detection: H > ½ trending, H < ½ mean-reverting). All
  // Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // t_t_closeness — per (lang, source) QI cell, the ordered earth-
  // mover's distance between the cell's quality-decile distribution
  // and the corpus baseline: EMD = Σ|cumP − cumQ| / (m−1) over the
  // m = 10 ordered deciles (the Li et al. ordered-attribute form).
  // A cell with t > 0.3 leaks its members' quality bracket even
  // after k-anonymity holds. Scale shape: one scan to exact
  // (cell × decile) counts, the 10-row baseline broadcasts, the EMD
  // is a ≤10-term sorted fold per cell — all integer counts until
  // two fixed divisions.
  // ---------------------------------------------------------------
  val tTCloseness: Q = (s, dir) => {
    val decile = least(floor(TF.qualityScore(col("text")) * lit(10.0)), lit(9.0))
      .cast("long")
    val base = Tables.table(s, dir, "documents")
      .select(col("lang"), col("source"), decile.as("dec"))
      .transform(Barrier.materialize) // cell counts AND the global baseline
    val cells = base.groupBy(col("lang"), col("source"), col("dec"))
      .agg(count(lit(1)).cast("long").as("c"))
    val cellTot = cells.groupBy(col("lang"), col("source"))
      .agg(sum(col("c")).cast("long").as("n"))
    val glob = base.groupBy(col("dec")).agg(count(lit(1)).cast("long").as("g"))
    val globTot = base.agg(count(lit(1)).cast("long").as("gt"))
    // dense decile grid per cell (absent deciles are zero mass)
    val grid = cellTot.select(col("lang"), col("source"), col("n"),
      explode(sequence(lit(0L), lit(9L))).as("dec"))
    val withMass = grid
      .join(cells, Seq("lang", "source", "dec"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(glob), Seq("dec"), "left")
      .na.fill(0L, Seq("g"))
      .crossJoin(broadcast(globTot))
      .withColumn("p", d(col("c")) / d(col("n")))
      .withColumn("q", d(col("g")) / d(col("gt")))
    val wc = Window.partitionBy(col("lang"), col("source")).orderBy(col("dec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withMass
      .withColumn("cumdiff", abs(sum(col("p") - col("q")).over(wc)))
      .groupBy(col("lang"), col("source"), col("n"))
      .agg(expr("aggregate(sort_array(collect_list(struct(dec, cumdiff))), 0D," +
        " (a, x) -> a + x.cumdiff)").as("emd_sum"))
      .select(col("lang"), col("source"), col("n").as("n_docs"),
        round(col("emd_sum") / lit(9.0), 6).as("t_closeness"),
        (col("emd_sum") / lit(9.0) > 0.3).as("breach"))
      .orderBy(col("lang"), col("source"))
  }

  // A quality-classifier DISTILLATION trained
  // inside the engine (full-batch logistic regression over the
  // registered C4 keep decision — the fasttext-style quality-filter
  // training loop every corpus pipeline runs, here with exact
  // sorted-fold gradients so the whole 5-step descent replays in
  // DuckDB), and Holt's linear-trend smoothing grid (the
  // double-exponential companion the w_ses_grid family was missing —
  // level+trend state folded per prefix, 3×3 (α, β) grid ranked by
  // RMSE). Full-replay oracles for both.

  // ---------------------------------------------------------------
  // t_quality_logreg — distill the registered C4 rule
  // (t_c4_filters.keep) into a 2-feature linear model: x1 =
  // ln(1 + n_tokens), x2 = avg_word_len, 5 full-batch gradient
  // steps at lr = 0.1 from w = 0. Each output row k reports the
  // loss/accuracy evaluated at w_{k−1} and the updated weights w_k —
  // so the loss column is the descent trace (non-increasing on any
  // smooth enough objective; the spec pins final < initial).
  // Determinism: per-doc sigmoids are round(·, 12)-quantized then
  // clamped to [1e−12, 1−1e−12] (libm exp differs across engines by
  // ulps; the quantization keeps five chained steps from compounding
  // them), and every corpus reduction is a sorted fold by doc_id —
  // bit-stable under any partitioning (the round-6 discipline).
  // Scale shape: one feature scan behind a barrier, then per step
  // ONE aggregate over the corpus (map-side combining collect_list
  // folds — bounded by corpus rows, no shuffle growth) feeding a
  // 3-double driver update; 5 steps = 5 bounded jobs, the k-means /
  // MMR driver-built-steps class.
  // ---------------------------------------------------------------
  private val LogregSteps = 5

  private val LogregLr = 0.1

  val tQualityLogreg: Q = (s, dir) => {
    val feats = tC4Filters(s, dir)
      .select(col("doc_id"),
        log(lit(1.0) + d(col("n_tokens"))).as("x1"),
        col("avg_word_len").as("x2"),
        when(col("keep"), 1.0).otherwise(0.0).as("y"))
      .transform(Barrier.materialize) // five gradient passes share one scan
    def fold(v: String): Column =
      expr("aggregate(sort_array(collect_list(named_struct(" +
        s"'doc_id', doc_id, 'v', $v))), 0D, (a, q) -> a + q.v)")
    var w = (0.0, 0.0, 0.0)
    val rows = (1 to LogregSteps).map { k =>
      val p = least(greatest(
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(w._1) + lit(w._2) * col("x1") + lit(w._3) * col("x2")))),
          12), lit(1e-12)), lit(1.0) - lit(1e-12))
      val agg = feats
        .select(col("doc_id"), col("x1"), col("x2"), col("y"), p.as("p"))
        .agg(count(lit(1)).cast("double").as("n"),
          fold("p - y").as("g0"),
          fold("(p - y) * x1").as("g1"),
          fold("(p - y) * x2").as("g2"),
          fold("-(y * ln(p) + (1.0D - y) * ln(1.0D - p))").as("ls"),
          sum(when((col("p") >= 0.5) === (col("y") === 1.0), 1L)
            .otherwise(0L)).cast("long").as("acc"))
        .collect().head
      val n = agg.getAs[Double]("n")
      val loss = agg.getAs[Double]("ls") / n
      val accuracy = agg.getAs[Long]("acc").toDouble / n
      w = (w._1 - LogregLr * agg.getAs[Double]("g0") / n,
        w._2 - LogregLr * agg.getAs[Double]("g1") / n,
        w._3 - LogregLr * agg.getAs[Double]("g2") / n)
      (k.toLong, w._1, w._2, w._3, loss, accuracy)
    }
    import s.implicits._
    rows.toDF("step", "w0", "w1", "w2", "ls", "ac")
      .select(col("step"), round(col("w0"), 6).as("w_bias"),
        round(col("w1"), 6).as("w_log_tokens"),
        round(col("w2"), 6).as("w_avg_word_len"),
        round(col("ls"), 6).as("log_loss"),
        round(col("ac"), 6).as("accuracy"))
      .orderBy(col("step"))
  }

  private def logregStepCtes: String =
    (1 to LogregSteps).map { k =>
      s"""e$k AS (
         |  SELECT f.doc_id, f.x1, f.x2, f.y,
         |         least(greatest(round(1.0 / (1.0 + exp(-(w0 + w1 * x1
         |           + w2 * x2))), 12), 1e-12), 1.0 - 1e-12) AS p
         |  FROM f CROSS JOIN s${k - 1}),
         |a$k AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |         list_sum(list(p - y ORDER BY doc_id)) AS g0,
         |         list_sum(list((p - y) * x1 ORDER BY doc_id)) AS g1,
         |         list_sum(list((p - y) * x2 ORDER BY doc_id)) AS g2,
         |         list_sum(list(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))
         |           ORDER BY doc_id)) AS ls,
         |         sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
         |           AS acc
         |  FROM e$k),
         |s$k AS (
         |  SELECT w0 - $LogregLr * g0 / n AS w0,
         |         w1 - $LogregLr * g1 / n AS w1,
         |         w2 - $LogregLr * g2 / n AS w2,
         |         ls / n AS loss, CAST(acc AS DOUBLE) / n AS accuracy
         |  FROM a$k CROSS JOIN s${k - 1})""".stripMargin
    }.mkString(",\n")

  // ---------------------------------------------------------------
  // t_dp_topk — ε-differentially-private top-5 token release via
  // one-shot Gumbel noise (Durfee & Rogers 2019: adding Gumbel(2Δ/ε)
  // to each utility and taking the top k is equivalent to k peeled
  // exponential mechanisms; counting utility ⇒ Δ = 1, ε = 1).
  // Noise is DETERMINISTIC for testability, the t_dp_histogram
  // convention: u = (md5₆₀(token) + ½)/2⁶⁰ (exact dyadic), g =
  // −ln(−ln u). A real release draws fresh randomness; the
  // mechanism, sensitivity accounting and ε ledger are what the
  // operator carries. Scale shape: token counts are a vocab-bounded
  // map-combining aggregate; noise is map-side arithmetic; the top-5
  // is a TakeOrdered over the vocab — no corpus-sized sort.
  // ---------------------------------------------------------------
  private val DpTopK = 5

  private val DpEps = 1.0

  val tDpTopk: Q = (s, dir) => {
    val cnt = Tables.table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).cast("long").as("true_count"))
    val h = conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long")
    val u = (d(h) + lit(0.5)) / lit(1152921504606846976.0) // 2^60
    val g = -log(-log(u))
    cnt
      .withColumn("dp_score",
        lit(DpEps) * d(col("true_count")) / lit(2.0) + g)
      .withColumn("rank", row_number().over(
        Grain.bounded(desc("dp_score"), col("token"))).cast("long"))
      .filter(col("rank") <= DpTopK)
      .select(col("rank"), col("token"), col("true_count"),
        round(col("dp_score"), 6).as("dp_score"),
        lit(DpEps).as("epsilon"))
      .orderBy(col("rank"))
  }

  // The corpus DATA CARD (a one-row datasheet —
  // Gebru et al. 2021's "Datasheets for Datasets" reduced to the
  // exactly-replayable columns every release ships: sizes, token
  // budget, duplication, quality-gate pass rate), and a bot-traffic
  // triage over the event stream (rate + burst heuristics against a
  // corpus-relative baseline — the pollution filter upstream of every
  // behavioral dataset). Full-replay DuckDB oracles for both.

  // ---------------------------------------------------------------
  // t_data_card — single-row corpus datasheet: doc/lang/source
  // counts, token budget (total/mean/median), exact-duplicate rate,
  // and the registered C4 gate's keep rate — the whole-corpus
  // roll-up ABOVE t_dataset_card's per-(lang, source) sheets, adding
  // the columns that only exist at corpus grain (lang/source
  // cardinalities, the C4 pass rate, the two-phase global token
  // median). Every column is an exact
  // count, a dyadic median, or one final division — the numbers a
  // release README quotes, pinned to the same oracle gate as the
  // operators that produce them. Scale shape: two corpus aggregates
  // (map-side combining), one two-phase global rank for the median
  // (range partition + P carries — never a single-partition sort),
  // and the C4 pass reusing the registered filter; all joined as
  // broadcast one-row frames.
  // ---------------------------------------------------------------
  val tDataCard: Q = (s, dir) => {
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .transform(Barrier.materialize) // aggregate, rank, and dup passes share it
    val agg = docs.agg(
      count(lit(1)).cast("long").as("n_docs"),
      countDistinct(col("lang")).cast("long").as("n_langs"),
      countDistinct(col("source")).cast("long").as("n_sources"),
      sum(col("nt")).cast("long").as("n_tokens"),
      countDistinct(col("text")).cast("long").as("n_unique_texts"))
    val bounds = docs.agg(count(lit(1)).cast("long").as("n"))
      .withColumn("lo", expr("(n + 1) div 2"))
      .withColumn("hi", expr("(n + 2) div 2"))
    val med = Ranking.withGlobalRank(docs.select(col("doc_id"), col("nt")),
        "rk", col("nt"), col("doc_id"))
      .crossJoin(broadcast(bounds))
      .filter(col("rk") >= col("lo") && col("rk") <= col("hi"))
      .agg((sum(d(col("nt"))) / d(count(lit(1)))).as("median_tokens"))
    val c4 = tC4Filters(s, dir)
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_keep"),
        count(lit(1)).cast("long").as("n_gated"))
    agg.crossJoin(broadcast(med)).crossJoin(broadcast(c4))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("n_tokens"),
        round(d(col("n_tokens")) / d(col("n_docs")), 6).as("mean_tokens"),
        col("median_tokens"),
        (col("n_docs") - col("n_unique_texts")).as("n_exact_dup_docs"),
        round(d(col("n_docs") - col("n_unique_texts")) / d(col("n_docs")), 6)
          .as("exact_dup_rate"),
        round(d(col("n_keep")) / d(col("n_gated")), 6).as("c4_keep_rate"))
  }

  // ---------------------------------------------------------------
  // pipeline_corpus_build — ingest → exact dedup (md5 fingerprint,
  // keep-min-id) → near-dup scrub (MinHash-LSH groups, drop
  // non-canonical members) → per-source epoch planning (weighted
  // token budgets; fractional epochs met by md5-uniform upsampling)
  // → (doc, epoch) instance explosion → deterministic packing into
  // 2048-token bins inside md5-hash shards → per-shard manifest.
  // Scale shape, stage by stage: dedup is the banded funnel (never
  // all-pairs); the epoch plan is a per-source aggregate crossed
  // with a ONE-ROW totals broadcast then broadcast-joined back (no
  // sort/window); packing cumsums WITHIN hash shards (16 parallel
  // sorts, never a global order); the manifest is one small groupBy.
  // The membership checksum (Σ doc_id·epoch per shard) makes the
  // oracle verify WHICH instances landed where, not just counts.
  // ---------------------------------------------------------------
  private val PackTarget = 2048L

  val pipelineCorpusBuild: Q = (s, dir) => {
    val d = docs(s, dir)
    // stage 1: clean — exact-unique survivors minus non-canonical
    // near-dup group members (the dedup funnel's linear output)
    val exactSurvivors = d
      .withColumn("fp", TF.fingerprint(col("text")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).as("n_tok"),
        ((conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("double") + 1) / lit(4503599627370496.0)).as("u"))
    val dropNearDup = Dedup.dupGroups(
        Dedup.minhashLshPairsRaw(s, dir, portableHashes = true))
      .select(col("canonical_id"), explode(col("members")).as("doc_id"))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"))
    // stage barrier: `clean` feeds BOTH the per-source stats and the
    // plan join-back — materialize so the dedup funnel runs once
    val clean = exactSurvivors
      .join(dropNearDup, Seq("doc_id"), "left_anti")
      .transform(Barrier.materialize)
    // stage 2: epoch plan (t_source_epochs' recipe over the CLEANED
    // corpus): budget_r = tot·w / (Σw · src_tokens); every doc gets
    // floor(r) epochs, +1 where its md5-uniform u < frac(r)
    val stats = clean.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tokens"))
      .withColumn("w", lit(1) + substring(col("source"), 4, 10).cast("int") % 4)
    val totals = stats.agg(sum(col("src_tokens")).as("tot"),
      sum(col("w").cast("long")).as("wsum"))
    val plan = stats.crossJoin(broadcast(totals))
      .withColumn("r", col("tot") * col("w") / col("wsum") / col("src_tokens"))
      .select(col("source"), floor(col("r")).as("base_epochs"),
        (col("r") - floor(col("r"))).as("frac"))
    val planned = clean.join(broadcast(plan), "source")
      .select(col("doc_id"), col("n_tok"),
        (col("base_epochs") +
          when(col("u") < col("frac"), 1L).otherwise(0L)).as("epochs"))
      .filter(col("epochs") > 0)
    // stage 3: instance explosion + packing — (doc, epoch) instances
    // route to a hash shard by md5(doc:epoch) and bin by the
    // exclusive prefix token sum inside the shard (per-shard window,
    // 16 parallel sorts; a doc never splits across bins)
    val inst = planned
      .select(col("doc_id"), col("n_tok"),
        explode(expr("sequence(1L, epochs)")).as("epoch"))
      .withColumn("key", md5(concat_ws(":", col("doc_id"), col("epoch"))))
      .withColumn("shard", substring(col("key"), 1, 1))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("key"), col("doc_id"), col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = inst.withColumn("bin",
      floor((sum(col("n_tok")).over(w) - col("n_tok")) / PackTarget))
    // stage 4: the manifest — one row per shard with a membership
    // checksum, the artifact a trainer's data loader consumes
    binned.groupBy(col("shard"))
      .agg(countDistinct(col("bin")).cast("long").as("n_bins"),
        count(lit(1)).cast("long").as("n_items"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        sum(col("doc_id") * col("epoch")).cast("long").as("member_checksum"))
      .orderBy(col("shard"))
  }

  // The HIGH-DF TIER for decontamination — the
  // same silent-recall hole the substring family had (round-10
  // verdict), one module over: t_split_contamination drops 13-grams
  // with df > ContaminationMaxDf as boilerplate before its postings
  // self-join, which is the right work bound but loses exactly the
  // WORST leakage shape — an eval passage mass-duplicated across the
  // train split (df in the hundreds at Common-Crawl duplication
  // rates). Same cure as DedupQueries: grams above the cap route
  // through a LINEAR tier (per-gram split-presence sets exploded into
  // ordered cross-split evidence — never a postings self-join, so a
  // gram's cost is its posting count, not its posting count squared),
  // and the cap becomes a pure work-partitioning knob.
  //
  // The oracle is the strongest form possible: because leak EVIDENCE
  // — (split_from, split_to, leaked doc, gram) — is tier-invariant
  // (a gram contributes a row iff it spans the two splits, whichever
  // tier it routes through), the DuckDB oracle replays the UNCAPPED
  // pure cross-split join. The tiered implementation must equal the
  // semantically-ideal quadratic join it exists to avoid.

  /** Demo cap for the REGISTERED query: the gate corpus's max
    * 13-gram df is 4, so cap 2 routes df ∈ {3, 4} grams through the
    * high-df tier — both tiers carry real rows. Production uses
    * TextQueries.ContaminationMaxDf; the recall contract is
    * cap-invariant (pinned in TrainingData65Spec). */
  private[operators] val ContamDemoCap = 2

  /** Leak-evidence stream, both tiers: one row per (split_from,
    * split_to, doc_to, sh) meaning "doc_to in split_to shares gram
    * sh with at least one doc of split_from". Pair tier (df ≤ cap):
    * the postings self-join, ≤ cap² pair rows per gram. High-df tier
    * (df > cap): per-gram split-presence sets, then each posting
    * explodes into its ≤ 2 foreign from-splits — linear in postings
    * at ANY duplication level. */
  private[operators] def contaminationEvidence(grams: DataFrame,
      maxDf: Int): DataFrame = {
    require(maxDf >= 2, "cap below 2 would route unpaired grams")
    val dfreq = grams.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val lo = grams.join(
      dfreq.filter(col("df") >= 2 && col("df") <= maxDf).select(col("sh")),
      "sh")
    val evLo = lo.alias("a")
      .join(lo.alias("b"),
        col("a.sh") === col("b.sh") && col("a.split") =!= col("b.split"))
      .select(col("a.split").as("split_from"), col("b.split").as("split_to"),
        col("b.doc_id").as("doc_to"), col("a.sh").as("sh"))
    val hiPost = grams.join(
      dfreq.filter(col("df") > maxDf).select(col("sh")), "sh")
    val evHi = hiPost
      .join(hiPost.groupBy(col("sh"))
        .agg(collect_set(col("split")).as("from_splits")), "sh")
      .select(col("sh"), col("split").as("split_to"),
        col("doc_id").as("doc_to"),
        explode(col("from_splits")).as("split_from"))
      .filter(col("split_from") =!= col("split_to"))
      .select(col("split_from"), col("split_to"), col("doc_to"), col("sh"))
    evLo.unionByName(evHi)
  }

  /** DataFrame-level entry — the spec surface for the planted
    * mass-duplicated leak and the cap-invariance pin. */
  def contaminationFullOf(docsDf: DataFrame, maxDf: Int): DataFrame =
    contaminationEvidence(
      contaminationGrams(docsDf).transform(Barrier.materialize), maxDf)
      .groupBy(col("split_from"), col("split_to"))
      .agg(countDistinct(col("doc_to")).cast("long").as("n_leaky_docs"),
        countDistinct(col("sh")).cast("long").as("n_shared_grams"))
      .orderBy(col("split_from"), col("split_to"))

  val tContaminationFull: Q = (s, dir) =>
    contaminationFullOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      ContamDemoCap)

  // Trainer-facing planning audits — packing
  // efficiency (how much of the token budget the greedy
  // never-split-a-doc packer actually fills, per shard), a
  // differentially-private corpus statistic with DETERMINISTIC
  // Laplace replay (the publishable-number path next to the existing
  // DP top-k), and quality-curriculum phase planning (the
  // easy-to-hard schedule over per-language quality quantiles).
  // Full-replay DuckDB oracles.

  val tPackEfficiency: Q = (s, dir) => {
    val keyed = docs(s, dir).select(col("doc_id"),
      TF.tokenCount(col("text")).as("n_tok"),
      md5(col("doc_id").cast("string")).as("key"))
      .withColumn("shard", substring(col("key"), 1, 1))
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = keyed
      .withColumn("bin",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / PackTarget))
      .groupBy(col("shard"), col("bin"))
      .agg(sum(col("n_tok")).as("bin_tokens"))
    bins.groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_bins"),
        sum(col("bin_tokens")).cast("long").as("total_tokens"),
        max(col("bin_tokens")).cast("long").as("max_bin_tokens"))
      .select(col("shard"), col("n_bins"), col("total_tokens"),
        ceil(d(col("total_tokens")) / lit(PackTarget.toDouble)).cast("long")
          .as("ideal_bins"),
        col("max_bin_tokens"),
        round(d(col("total_tokens")) /
          (d(col("n_bins")) * lit(PackTarget.toDouble)), 6).as("fill_ratio"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // t_curriculum_phases — easy-to-hard curriculum planning: per
  // language, quality-score quartiles (ntile over the unique
  // (quality, doc_id) order) become training phases; the plan rows
  // are each phase's doc/token budget and its quality range. The
  // window partitions per LANGUAGE (the t_length_deciles shape) —
  // parallel over languages, never a global sort. min/max are
  // order-free exact; token sums integer.
  // ---------------------------------------------------------------
  val tCurriculumPhases: Q = (s, dir) => {
    val scored = docs(s, dir).select(col("lang"), col("doc_id"),
      TF.tokenCount(col("text")).as("n_tok"),
      TF.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy(col("lang")).orderBy(col("q"), col("doc_id"))
    scored
      .withColumn("phase", ntile(4).over(w).cast("long"))
      .groupBy(col("lang"), col("phase"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        round(min(col("q")), 6).as("min_quality"),
        round(max(col("q")), 6).as("max_quality"))
      .orderBy(col("lang"), col("phase"))
  }

  // ---------------------------------------------------------------
  // t_mattr — MATTR(W=25): mean over all full windows of
  // distinct(window)/W, falling back to plain TTR for docs shorter
  // than W. The trick that keeps it one-pass: distinct(q) =
  // W − dup(q) where dup(q) counts positions in the window whose
  // PREVIOUS occurrence is also inside it; each position p with
  // gap = p − prev ≤ W−1 contributes dup to exactly the windows
  // q ∈ [p, prev+W−1], so scattering +1 at p and −1 at prev+W and
  // cumulative-summing per doc yields every dup(q) in one sweep.
  // Window counts stay EXACT LONGS; per-doc MATTR is one division;
  // the per-lang mean folds in doc_id order (sorted-fold float
  // policy). Scale shape: the heavy frames are token-linear
  // (positions, lag per (doc, token), difference events); the only
  // windows are per-doc cumsums — partitioned by doc_id, bounded
  // by doc length, never a global single-partition sort.
  // ---------------------------------------------------------------
  private val MattrW = 25

  val tMattr: Q = (s, dir) =>
    mattrOf(Tables.table(s, dir, "documents"))

  /** The full MATTR dataflow over any (doc_id, lang, text) frame —
    * split out so the property spec can drive it with random
    * corpora (doc lengths straddling the W boundary, tiny alphabets
    * forcing dense repetition) against a naive per-window scan. */
  private[graft] def mattrOf(docs: DataFrame): DataFrame = {
    val W = MattrW
    val toks = docs
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("lang"),
        (col("p0") + 1).cast("long").as("p"), col("tok"))
    val prv = toks.withColumn("prev",
      lag(col("p"), 1).over(
        Window.partitionBy(col("doc_id"), col("tok")).orderBy(col("p"))))
    val dupSpans = prv
      .filter(col("prev").isNotNull && col("p") - col("prev") <= W - 1)
      .select(col("doc_id"), explode(array(
        struct(col("p").as("q"), lit(1L).as("delta")),
        struct((col("prev") + W).as("q"), lit(-1L).as("delta"))))
        .as("e"))
      .groupBy(col("doc_id"), col("e.q").as("q"))
      .agg(sum(col("e.delta")).cast("long").as("delta"))
    val dup = toks.alias("t")
      .join(dupSpans.alias("s"), col("t.doc_id") === col("s.doc_id") &&
        col("t.p") === col("s.q"), "left")
      .select(col("t.doc_id"), col("t.lang"), col("t.p"), col("t.tok"),
        coalesce(col("s.delta"), lit(0L)).as("delta"))
      .withColumn("dup", sum(col("delta")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("p"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = dup.groupBy(col("doc_id"))
      .agg(first(col("lang")).as("lang"),
        max(col("p")).cast("long").as("n"),
        countDistinct(col("tok")).cast("long").as("ndist"),
        sum(when(col("p") >= W, col("dup")).otherwise(0L))
          .cast("long").as("sumdup"))
      .withColumn("mattr",
        when(col("n") >= W,
          d(lit(W) * (col("n") - W + 1) - col("sumdup")) /
            d(lit(W) * (col("n") - W + 1)))
          .otherwise(d(col("ndist")) / d(col("n"))))
      .withColumn("short", col("n") < W)
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("short"), 1L).otherwise(0L)).cast("long")
          .as("n_short_docs"),
        expr("aggregate(sort_array(collect_list(struct(doc_id, mattr))), 0D," +
          " (a, x) -> a + x.mattr)").as("sm"))
      .select(col("lang"), col("n_docs"), col("n_short_docs"),
        round(col("sm") / d(col("n_docs")), 6).as("mean_mattr"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // t_hill_diversity — the Hill-number family over each language's
  // token distribution: N0 = richness, N1 = exp(Shannon H),
  // N2 = 1/Simpson = T²/Σc² — "effective vocabulary sizes" at
  // increasing dominance weighting (the diversity ladder a corpus
  // card reports; N1/N2 ≪ N0 ⇒ head-heavy vocabulary). Everything
  // reduces through the count-of-counts profile first (the
  // Good–Turing frame): Σc², Σc are exact longs over profile rows;
  // the only float fold is Σ m_c·c·ln c over DISTINCT multiplicity
  // values (≤ hundreds by Zipf, c-ascending) — never a vocab-length
  // list. Scale shape: token scan → (lang, token) count → (lang, c)
  // profile, all map-combining.
  // ---------------------------------------------------------------
  val tHillDiversity: Q = (s, dir) => {
    val prof = Tables.table(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("lang"), col("c"))
      .agg(count(lit(1)).cast("long").as("m"))
    prof.groupBy(col("lang"))
      .agg(sum(col("m")).cast("long").as("richness"),
        sum(col("m") * col("c")).cast("long").as("t"),
        sum(col("m") * col("c") * col("c")).cast("long").as("sc2"),
        expr("aggregate(sort_array(collect_list(struct(c, m))), 0D," +
          " (a, q) -> a + CAST(q.m AS DOUBLE) * CAST(q.c AS DOUBLE)" +
          " * ln(CAST(q.c AS DOUBLE)))").as("sclnc"))
      .withColumn("h", log(d(col("t"))) - col("sclnc") / d(col("t")))
      .select(col("lang"), col("richness"), col("t").as("total_tokens"),
        round(exp(col("h")), 6).as("hill1"),
        round(d(col("t")) * d(col("t")) / d(col("sc2")), 6).as("hill2"),
        round(col("h") / log(d(col("richness"))), 6).as("evenness"))
      .orderBy(col("lang"))
  }

  // Character-entropy quality gating, rank
  // correlation on the daily grid, and a parquet row-group advisor.
  //
  //  - t_char_entropy_gate — per-document character-level Shannon
  //    entropy with low/high gates (repetitive-keyboard-mash vs
  //    random-noise tails — the cheap gibberish filter C4-class
  //    pipelines run before any model-based scoring).
  //  - a_kendall_taub — Kendall τ-b (tie-adjusted) between daily
  //    order volume and daily revenue, exact counts over the
  //    calendar² pair lattice (the w_theil_sen boundedness class).
  //  - o_rowgroup_advisor — rows-per-row-group and file-count
  //    recommendation per table from EXACT average row widths — the
  //    knob a 100 TB writer sets before o_compaction_plan applies.

  // ---------------------------------------------------------------
  // t_char_entropy_gate — H = ln(L) − (Σ c·ln c)/L per doc over its
  // character counts (exact longs; the fold runs char-ascending over
  // the ≤alphabet-size count list — bounded, the count-of-counts
  // discipline at per-doc granularity). Gates: H < 2.5 nats ⇒
  // too-repetitive, H > 4.5 ⇒ noise-like; both thresholds are
  // corpus-independent constants so the gate is stable under
  // sharding. Per-lang roll-up: doc counts per verdict + the mean
  // entropy (doc_id-ascending sorted fold). Scale shape: one
  // (doc, char) count aggregate — map-combining — then per-doc
  // bounded folds; no windows, no pairs.
  // ---------------------------------------------------------------
  private val EntLo = 2.5

  private val EntHi = 4.5

  val tCharEntropyGate: Q = (s, dir) => {
    val perDoc = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("lang"), col("ch"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).cast("long").as("len"),
        expr("aggregate(sort_array(collect_list(struct(ch, c))), 0D," +
          " (a, q) -> a + CAST(q.c AS DOUBLE) * ln(CAST(q.c AS DOUBLE)))")
          .as("sclnc"))
      .withColumn("h", log(d(col("len"))) - col("sclnc") / d(col("len")))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("h") < EntLo, 1L).otherwise(0L)).cast("long")
          .as("n_repetitive"),
        sum(when(col("h") > EntHi, 1L).otherwise(0L)).cast("long")
          .as("n_noise"),
        expr("aggregate(sort_array(collect_list(struct(doc_id, h))), 0D," +
          " (a, q) -> a + q.h)").as("sh"))
      .select(col("lang"), col("n_docs"), col("n_repetitive"), col("n_noise"),
        round(d(col("n_docs") - col("n_repetitive") - col("n_noise")) /
          d(col("n_docs")), 6).as("keep_rate"),
        round(col("sh") / d(col("n_docs")), 6).as("mean_entropy"))
      .orderBy(col("lang"))
  }

  val tSemanticLeakage: Q = (s, dir) => {
    val pairs = Similarity.cosineNearDupPairs(s, dir, 0.4)
      .select(col("v1"), col("v2"), col("cosine"),
        splitOf(col("v1")).as("sp1"), splitOf(col("v2")).as("sp2"))
    // orient: (eval doc, train neighbor) in either pair direction
    val leaks = pairs
      .filter(col("sp1") =!= col("sp2") &&
        (col("sp1") === "train" || col("sp2") === "train"))
      .select(
        when(col("sp1") === "train", col("v2")).otherwise(col("v1"))
          .as("doc_id"),
        when(col("sp1") === "train", col("sp2")).otherwise(col("sp1"))
          .as("split"),
        col("cosine"))
    leaks.groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).cast("long").as("n_train_neighbors"),
        max(col("cosine")).as("max_train_cosine"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_unigram_kl — KL(p_source ‖ p_corpus) over unigram token
  // distributions: the shift audit run before weighting sources
  // into a training mixture. support(p) ⊆ support(q) by
  // construction, so no smoothing. Each term's contribution
  // (c/n_s)·ln((c·N)/(n_s·C)) quantizes to floor(·10⁹) BEFORE the
  // sum — the per-source total is an exact integer sum over a
  // vocab-sized set (a bulk double fold here would be exactly the
  // engine-vs-engine sum-kernel hazard WindowQueries documents).
  // Scale shape: two token-grain aggregates + one broadcast-sized
  // per-source total join; everything after is vocab-grain.
  // ---------------------------------------------------------------
  val tUnigramKl: Q = (s, dir) => {
    val toks = Tables.table(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val st = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
      .transform(Barrier.materialize) // corpus totals + the contribution pass
    val perSource = st.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("ns"),
        count(lit(1)).cast("long").as("vocab_s"))
    val perTok = st.groupBy(col("tok"))
      .agg(sum(col("c")).cast("long").as("ct"))
    val total = st.agg(sum(col("c")).cast("long").as("nn"))
    st.join(broadcast(perSource), "source")
      .join(perTok, "tok")
      .crossJoin(broadcast(total))
      .select(col("source"), col("ns"), col("vocab_s"),
        floor((d(col("c")) / d(col("ns"))) *
          log((d(col("c")) * d(col("nn"))) /
            (d(col("ns")) * d(col("ct")))) * lit(1.0e9)).as("kq"))
      .groupBy(col("source"), col("ns"), col("vocab_s"))
      .agg(sum(col("kq")).cast("long").as("kqs"))
      .select(col("source"), col("ns").as("n_tokens"),
        col("vocab_s").as("vocab_terms"),
        round(d(col("kqs")) / lit(1.0e9), 6).as("kl_nats"))
      .orderBy(col("source"))
  }

  // Three training-data preparation operators —
  // fill-in-the-middle splits, masked-LM corruption accounting, and
  // a k-center coreset.
  //
  //  - t_fim_split — FIM (fill-in-the-middle) document splits:
  //    deterministic md5-dyadic cut points partition each document
  //    into prefix/middle/suffix with exact char conservation — the
  //    preprocessing behind FIM pretraining objectives.
  //  - t_mlm_masking — BERT-style 15% masking census with the
  //    80/10/10 [MASK]/random/keep rule, every decision a
  //    deterministic md5-dyadic uniform per (doc, position, token) —
  //    the corruption-budget audit run before an MLM data release.
  //  - sim_kcenter_coreset — greedy farthest-point (k-center, Gonzalez
  //    1985) coreset of the embedding corpus at k = 8 under cosine
  //    distance: the diversity-sampling shape behind coreset
  //    selection, with the final coverage radius as the quality
  //    certificate.
  //
  // Float policy: the md5₆₀ dyadic-uniform convention
  // (u = (h + ½)/2⁶⁰ — the t_dp_histogram/t_dp_topk rule) makes every
  // sampling decision exactly replayable; k-center distances are the
  // Similarity.dot doubles (bit-identical across engines, the repo's
  // pinned claim) compared/min-ed only (order-free).

  /** md5₆₀ as exact dyadic uniform in [0, 1). */
  private def u60(c: Column): Column =
    (d(conv(substring(md5(c), 1, 15), 16, 10).cast("long")) + lit(0.5)) /
      lit(1152921504606846976.0) // 2^60

  private val u60Sql = (x: String) =>
    s"""((CAST(list_reduce(list_transform(
       |    string_split(substr(md5($x), 1, 15), ''),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |  (a, b) -> a * 16 + b) AS DOUBLE) + 0.5)
       |  / 1152921504606846976.0)""".stripMargin.replaceAll("\n", " ")

  // ---------------------------------------------------------------
  // t_fim_split — cut1 = ⌊len·(0.1 + 0.4·u₁)⌋,
  // cut2 = cut1 + ⌊(len − cut1)·(0.3 + 0.4·u₂)⌋ with u₁/u₂ the
  // doc-keyed dyadic uniforms: prefix ∈ [10%, 50%), middle 30-70% of
  // the remainder, suffix the rest — char counts conserve exactly by
  // construction. One row per document; corpus-level budget shares
  // are one aggregate away. Scale shape: a pure per-row map over the
  // documents scan.
  // ---------------------------------------------------------------
  val tFimSplit: Q = (s, dir) => {
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .filter(col("len") >= 10L)
      .withColumn("u1", u60(concat(col("doc_id").cast("string"),
        lit(":fim1"))))
      .withColumn("u2", u60(concat(col("doc_id").cast("string"),
        lit(":fim2"))))
      .withColumn("cut1",
        floor(d(col("len")) * (lit(0.1) + lit(0.4) * col("u1")))
          .cast("long"))
      .withColumn("cut2", (col("cut1") +
        floor(d(col("len") - col("cut1")) *
          (lit(0.3) + lit(0.4) * col("u2"))).cast("long")).cast("long"))
      .select(col("doc_id"), col("len").as("len_chars"),
        col("cut1").as("prefix_len"),
        (col("cut2") - col("cut1")).as("middle_len"),
        (col("len") - col("cut2")).as("suffix_len"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_mlm_masking — per token position: u = md5₆₀(doc:pos:token)
  // masks at u < 0.15; masked positions draw a second uniform for
  // the 80/10/10 action split ([MASK] / random replacement / keep
  // original). Census per document: exact integer counts + the
  // realized mask rate. Scale shape: one posexplode scan, one
  // doc-grain aggregate — map-combining all the way.
  // ---------------------------------------------------------------
  val tMlmMasking: Q = (s, dir) => {
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val key = concat(col("doc_id").cast("string"), lit(":"),
      col("pos").cast("string"), lit(":"), col("tok"))
    val act = concat(col("doc_id").cast("string"), lit(":"),
      col("pos").cast("string"), lit(":act"))
    toks
      .withColumn("u", u60(key))
      .withColumn("masked", (col("u") < 0.15).cast("long"))
      .withColumn("v", u60(act))
      .withColumn("a_mask",
        (col("masked") === 1L && col("v") < 0.8).cast("long"))
      .withColumn("a_rand",
        (col("masked") === 1L && col("v") >= 0.8 && col("v") < 0.9)
          .cast("long"))
      .withColumn("a_keep",
        (col("masked") === 1L && col("v") >= 0.9).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("masked")).cast("long").as("n_masked"),
        sum(col("a_mask")).cast("long").as("n_mask_token"),
        sum(col("a_rand")).cast("long").as("n_random_replace"),
        sum(col("a_keep")).cast("long").as("n_kept_original"))
      .withColumn("mask_rate",
        round(d(col("n_masked")) / d(col("n_tokens")), 6))
      .orderBy(col("doc_id"))
  }

  // A join-planning advisor, an EWMA control
  // chart, a code-vs-prose gate, and a decision-stump distillation of
  // the quality rule.
  //
  //  - o_broadcast_advisor — per dimension table: measured row count
  //    × estimated row width (exact integral-division avg string
  //    lengths + fixed-type widths) vs the 10 MiB broadcast
  //    threshold, at current size AND at 100× — the "did I broadcast
  //    the right side" audit a 100 TB join plan starts from.
  //  - w_ewma_control — EWMA control chart (λ = 0.2, 3σ) on daily
  //    revenue with the exact time-varying limits
  //    ±3σ√(λ/(2−λ)·(1−(1−λ)^{2t})): the monitoring twin of
  //    w_cusum_drift with proper start-up limits.
  //  - t_code_detect — code-vs-prose gate from exact symbol counts
  //    (translate-based, no regex scan per class): the corpus routing
  //    decision before code-specific filters run.
  //  - t_stump_split — one-split decision stump distilling the
  //    registered C4 keep rule onto the n_tokens axis: exact counts
  //    per candidate threshold, information gain in nats, best split
  //    ranked — the weak-learner audit of a quality classifier.
  //
  // Float policy: exact integer counts/moments everywhere; the EWMA
  // fold is an element-wise sequential lambda (aggregate here,
  // list_reduce there); large-magnitude chart outputs ship as
  // floor(·1000) exact integers (the round-6-past-15-digits hazard);
  // stump entropies are one fixed double formula over exact counts.

  // ---------------------------------------------------------------
  // t_code_detect — exact symbol census via translate (deleting a
  // class and diffing lengths — one pass per class, no per-char
  // explode): braces/brackets, statement punctuation, underscores,
  // digits. code_score = (2·braces + 2·stmt + under + digits)/len;
  // verdict 'code' above 0.05. Scale shape: a pure map over the
  // documents scan.
  // ---------------------------------------------------------------
  val tCodeDetect: Q = (s, dir) => {
    def cnt(cls: String): Column =
      (length(col("text")) -
        length(translate(col("text"), cls, ""))).cast("long")
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        cnt("{}[]()<>").as("n_brace"),
        cnt(";=&|").as("n_stmt"),
        cnt("_").as("n_under"),
        cnt("0123456789").as("n_digit"))
      .filter(col("len") > 0L)
      .withColumn("code_score",
        round((d(lit(2L) * col("n_brace") + lit(2L) * col("n_stmt") +
          col("n_under") + col("n_digit"))) / d(col("len")), 6))
      .select(col("doc_id"), col("len"), col("n_brace"), col("n_stmt"),
        col("n_under"), col("n_digit"), col("code_score"),
        when(col("code_score") > 0.05, "code").otherwise(lit("prose"))
          .as("verdict"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // t_stump_split — distill the registered C4 keep rule into ONE
  // threshold on n_tokens: for θ ∈ {10, 20, ..., 100}, exact
  // (n, pos) counts on each side from ONE conditional aggregate
  // (the grid is constant-bounded — never a per-distinct-value
  // scan), IG = H(parent) − weighted child entropies in nats (one
  // fixed double formula over exact counts; p ∈ {0,1} contributes
  // 0). Ranked by (rounded IG desc, θ asc). The stump should
  // rediscover the rule's own n_tokens < 20 / > 90 screens.
  // ---------------------------------------------------------------
  private val StumpGrid: Seq[Long] = (1L to 10L).map(_ * 10L)

  val tStumpSplit: Q = (s, dir) => {
    val base = tC4Filters(s, dir)
      .select(col("n_tokens"),
        when(col("keep"), 1L).otherwise(0L).as("y"))
    val aggs = StumpGrid.flatMap { th =>
      Seq(
        sum(when(col("n_tokens") <= th, 1L).otherwise(0L)).cast("long")
          .as(s"nl_$th"),
        sum(when(col("n_tokens") <= th, col("y")).otherwise(0L))
          .cast("long").as(s"pl_$th"))
    } ++ Seq(count(lit(1)).cast("long").as("n"),
      sum(col("y")).cast("long").as("pos"))
    val wide = base.agg(aggs.head, aggs.tail: _*)
    def hBits(p: Column, n: Column): Column = {
      val q = d(p) / d(n)
      when(p === 0L || p === n, lit(0.0))
        .otherwise(-q * log(q) - (lit(1.0) - q) * log(lit(1.0) - q))
    }
    val rows = StumpGrid.map { th =>
      wide.select(lit(th).as("threshold"),
        col(s"nl_$th").as("n_left"), col(s"pl_$th").as("pos_left"),
        (col("n") - col(s"nl_$th")).as("n_right"),
        (col("pos") - col(s"pl_$th")).as("pos_right"),
        col("n"), col("pos"))
    }.reduce(_ unionAll _)
    val ig = hBits(col("pos"), col("n")) -
      when(col("n_left") > 0L,
        d(col("n_left")) / d(col("n")) *
          hBits(col("pos_left"), col("n_left"))).otherwise(lit(0.0)) -
      when(col("n_right") > 0L,
        d(col("n_right")) / d(col("n")) *
          hBits(col("pos_right"), col("n_right"))).otherwise(lit(0.0))
    import org.apache.spark.sql.expressions.Window
    rows.withColumn("ig", round(ig, 6))
      .withColumn("rank", row_number().over(
        Grain.bounded(desc("ig"), col("threshold"))).cast("int"))
      .select(col("rank"), col("threshold"), col("n_left"),
        col("pos_left"), col("n_right"), col("pos_right"), col("ig"))
      .orderBy(col("rank"))
  }

  private val c4Cte =
    """f AS (
      |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, text,
      |         CAST(len(toks) AS BIGINT) AS n_tokens,
      |         CAST(length(text) - len(toks) + 1 AS DOUBLE)
      |           / CAST(len(toks) AS DOUBLE) AS avg_word_len,
      |         len(list_filter(toks, t -> t IN ('the','a','of','and','to')))
      |           AS n_stop,
      |         list_max(list_transform(toks, t -> length(t))) AS max_wl
      |  FROM f),
      |lbl AS (
      |  SELECT n_tokens,
      |         CASE WHEN NOT ((n_tokens < 20) OR (n_tokens > 90)
      |              OR NOT (avg_word_len >= 3.0 AND avg_word_len <= 10.0)
      |              OR (n_stop = 0) OR regexp_matches(text, '[{}\[\]<>]')
      |              OR (max_wl > 20)) THEN 1 ELSE 0 END AS y
      |  FROM s)""".stripMargin

  /** Oracle of `t_c4_filters`, shared with the oracles that replay it. */
  private val tC4FiltersOracle =
      """WITH f AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang, text,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS avg_word_len,
        |         len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS n_stop,
        |         list_max(list_transform(toks, t -> length(t))) AS max_wl
        |  FROM f)
        |SELECT doc_id, lang, n_tokens, avg_word_len,
        |       n_tokens < 20 AS flag_short,
        |       n_tokens > 90 AS flag_long,
        |       NOT (avg_word_len >= 3.0 AND avg_word_len <= 10.0) AS flag_word_len,
        |       n_stop = 0 AS flag_no_stopword,
        |       regexp_matches(text, '[{}\[\]<>]') AS flag_symbol,
        |       max_wl > 20 AS flag_max_word,
        |       NOT ((n_tokens < 20) OR (n_tokens > 90)
        |            OR NOT (avg_word_len >= 3.0 AND avg_word_len <= 10.0)
        |            OR (n_stop = 0) OR regexp_matches(text, '[{}\[\]<>]')
        |            OR (max_wl > 20)) AS keep
        |FROM s ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "t_bpe_merges" -> tBpeMerges,
    "t_chunk_overlap" -> tChunkOverlap,
    "t_weighted_sample" -> tWeightedSample,
    "t_source_epochs" -> tSourceEpochs,
    "t_quality_sweep" -> tQualitySweep,
    "t_token_count" -> tTokenCount,
    "t_repetition" -> tRepetition,
    "t_pack_sequences" -> tPackSequences,
    "t_normalize" -> tNormalize,
    "t_mixture_sample" -> tMixtureSample,
    "t_quality_score" -> tQualityScore,
    "t_fingerprint_md5" -> tFingerprint,
    "t_langid" -> tLangId,
    "t_split_assign" -> tSplitAssign,
    "t_doc_frequency" -> tDocFrequency,
    "t_stratified_sample" -> tStratifiedSample,
    "t_top_terms" -> tTopTerms,
    "t_winnow_fingerprint" -> tWinnowFingerprint,
    "t_bigram_lm" -> tBigramLm,
    "t_pii_scrub" -> tPiiScrub,
    "t_zipf_buckets" -> tZipfBuckets,
    "t_corpus_clean" -> tCorpusClean,
    "t_decontaminate" -> tDecontaminate,
    "t_length_deciles" -> tLengthDeciles,
    "t_classifier_infer" -> tClassifierInfer,
    "t_dataset_card" -> tDatasetCard,
    "t_c4_filters" -> tC4Filters,
    "t_bm25" -> tBm25,
    "t_dsir_weights" -> tDsirWeights,
    "t_perplexity" -> tPerplexity,
    "t_pmi_bigrams" -> tPmiBigrams,
    "t_tfidf_topk" -> tTfidfTopk,
    "t_contrastive_pairs" -> tContrastivePairs,
    "t_ngram_novelty" -> tNgramNovelty,
    "t_split_contamination" -> tSplitContamination,
    "t_oov_rate" -> tOovRate,
    "t_k_anonymity" -> tKAnonymity,
    "t_temperature_mix" -> tTemperatureMix,
    "t_leakage_safe_split" -> tLeakageSafeSplit,
    "t_domain_filter" -> tDomainFilter,
    "t_calibration_ece" -> tCalibrationEce,
    "t_gopher_rules" -> tGopherRules,
    "t_roc_auc" -> tRocAuc,
    "t_good_turing" -> tGoodTuring,
    "t_kneser_ney" -> tKneserNey,
    "t_hashed_features" -> tHashedFeatures,
    "t_isotonic_calibration" -> tIsotonicCalibration,
    "t_dp_histogram" -> tDpHistogram,
    "t_cdc_chunking" -> tCdcChunking,
    "t_l_diversity" -> tLDiversity,
    "t_span_corruption" -> tSpanCorruption,
    "t_self_bleu" -> tSelfBleu,
    "t_dp_median" -> tDpMedian,
    "t_prefix_sharing" -> tPrefixSharing,
    "t_domain_cap" -> tDomainCap,
    "t_rake_keywords" -> tRakeKeywords,
    "t_naive_bayes" -> tNaiveBayes,
    "t_doremi_mixture" -> tDoremiMixture,
    "t_submodular_coverage" -> tSubmodularCoverage,
    "t_readability" -> tReadability,
    "t_tokenizer_fertility" -> tTokenizerFertility,
    "t_boilerplate_suffix" -> tBoilerplateSuffix,
    "t_vocab_growth" -> tVocabGrowth,
    "t_jaccard_threshold_sweep" -> tJaccardThresholdSweep,
    "t_langid_confusion" -> tLangidConfusion,
    "t_term_burstiness" -> tTermBurstiness,
    "t_dup_quality_bias" -> tDupQualityBias,
    "t_perplexity_buckets" -> tPerplexityBuckets,
    "t_char_bigram_entropy" -> tCharBigramEntropy,
    "t_neyman_allocation" -> tNeymanAllocation,
    "t_t_closeness" -> tTCloseness,
    "t_quality_logreg" -> tQualityLogreg,
    "t_dp_topk" -> tDpTopk,
    "t_data_card" -> tDataCard,
    "pipeline_corpus_build" -> pipelineCorpusBuild,
    "t_contamination_full" -> tContaminationFull,
    "t_pack_efficiency" -> tPackEfficiency,
    "t_curriculum_phases" -> tCurriculumPhases,
    "t_mattr" -> tMattr,
    "t_hill_diversity" -> tHillDiversity,
    "t_char_entropy_gate" -> tCharEntropyGate,
    "t_semantic_leakage" -> tSemanticLeakage,
    "t_unigram_kl" -> tUnigramKl,
    "t_fim_split" -> tFimSplit,
    "t_mlm_masking" -> tMlmMasking,
    "t_code_detect" -> tCodeDetect,
    "t_stump_split" -> tStumpSplit)

  val oracles: Map[String, String] = Map(
    // full winnowing replay: per-char codes → k-gram rolling hashes
    // (list_reduce mirrors the expression's seed-with-first-char
    // fold) → window minima → sorted distinct fingerprint. Short-text
    // arms mirror the expression exactly: empty → [0], 0 < len < k →
    // one whole-string hash (ASCII contract asserted in the query).
    "t_winnow_fingerprint" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ''),
        |           ch -> CAST(unicode(ch) AS BIGINT)) AS cs
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(cs) = 0 THEN [CAST(0 AS BIGINT)]
        |              WHEN len(cs) < 8 THEN
        |                [list_reduce(cs, (a, b) -> (a * 257 + b) % 1000000007)]
        |              ELSE list_transform(range(1, len(cs) - 8 + 2),
        |                     i -> list_reduce(cs[i:i+7],
        |                            (a, b) -> (a * 257 + b) % 1000000007)) END AS ks
        |  FROM c),
        |f AS (
        |  SELECT doc_id, len(ks) AS n_kgrams,
        |         list_sort(list_distinct(
        |           CASE WHEN len(ks) < 4 THEN [list_min(ks)]
        |                ELSE list_transform(range(1, len(ks) - 4 + 2),
        |                       i -> list_min(ks[i:i+3])) END)) AS fp
        |  FROM g)
        |SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
        |       CAST(len(fp) AS BIGINT) AS n_fp,
        |       fp[1] AS fp_min,
        |       md5(array_to_string(fp, ',')) AS fp_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_bigram_lm" ->
      """WITH big AS (
        |  SELECT bigram, count(*) AS c FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN [text]
        |                  ELSE list_transform(range(1, len(toks)),
        |                         i -> toks[i] || ' ' || toks[i+1]) END) AS bigram
        |    FROM (SELECT text, string_split(text, ' ') AS toks FROM documents))
        |  GROUP BY 1 ORDER BY c DESC, bigram LIMIT 20),
        |uni AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w1 FROM documents)
        |  GROUP BY 1)
        |SELECT bigram, c, c1,
        |       CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_w2_given_w1
        |FROM (SELECT bigram, c, split_part(bigram, ' ', 1) AS w1 FROM big)
        |LEFT JOIN uni USING (w1)
        |ORDER BY c DESC, bigram""".stripMargin,
    "t_pii_scrub" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
        |       CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT) AS n_cap_words,
        |       CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |       CAST(length(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS len_scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_zipf_buckets" ->
      """SELECT CAST(length(bin(df)) AS BIGINT) AS log2_bucket,
        |       count(*) AS n_tokens, min(df) AS min_df, max(df) AS max_df
        |FROM (SELECT token, count(*) AS df FROM (
        |        SELECT unnest(list_distinct(string_split(text, ' '))) AS token
        |        FROM documents)
        |      GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // full pipeline replay: md5 keep-first + the dedup_groups
    // recursive closure at J≥0.7 → drop non-canonical members →
    // per-lang survivor counts
    "t_corpus_clean" ->
      s"""WITH RECURSIVE $minhashCtes,
        |nodes AS (SELECT DISTINCT d1 AS id FROM lshp UNION SELECT DISTINCT d2 FROM lshp),
        |edges AS (SELECT d1 AS a, d2 AS b FROM lshp UNION SELECT d2, d1 FROM lshp),
        |reach(id, rep) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.rep FROM edges e JOIN reach r ON e.b = r.id),
        |dropn AS (
        |  SELECT id FROM (SELECT id, min(rep) AS rep FROM reach GROUP BY 1)
        |  WHERE rep <> id),
        |exact AS (
        |  SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        |    FROM documents)
        |  WHERE rk = 1),
        |clean AS (
        |  SELECT doc_id, lang FROM exact
        |  WHERE doc_id NOT IN (SELECT id FROM dropn))
        |SELECT r.lang, r.n_raw, e.n_exact_unique, c.n_clean
        |FROM (SELECT lang, count(*) AS n_raw FROM documents GROUP BY 1) r
        |JOIN (SELECT lang, count(*) AS n_exact_unique FROM exact GROUP BY 1) e USING (lang)
        |JOIN (SELECT lang, count(*) AS n_clean FROM clean GROUP BY 1) c USING (lang)
        |ORDER BY lang""".stripMargin,
    "t_length_deciles" ->
      """SELECT lang, CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT lang, n_chars,
        |             ntile(10) OVER (PARTITION BY lang
        |                             ORDER BY n_chars, doc_id) AS decile
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS sh
        |  FROM (SELECT doc_id,
        |               CASE WHEN len(toks) < 13 THEN [text]
        |                    ELSE list_transform(range(1, len(toks) - 11),
        |                           i -> array_to_string(toks[i:i+12], ' '))
        |               END AS shingles
        |        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        |              FROM documents)))
        |SELECT t.doc_id, e.doc_id AS eval_id, count(*) AS n_shared_13grams
        |FROM (SELECT * FROM sh WHERE doc_id % 50 <> 7) t
        |JOIN (SELECT * FROM sh WHERE doc_id % 50 = 7) e USING (sh)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_bpe_merges" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |           i -> substr(tok, i, 2))) AS pair
        |  FROM tok WHERE length(tok) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 30""".stripMargin,
    // chunk windows replayed with list slicing; DuckDB clamps
    // toks[a:b] at the list end exactly like slice()'s length cap
    "t_chunk_overlap" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st
        |      FROM d WHERE len(toks) > 0)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_index,
        |       CAST(len(toks[st + 1 : st + 32]) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(toks[st + 1 : st + 32], ' ')) AS chunk_fp
        |FROM s ORDER BY doc_id, chunk_index""".stripMargin,
    // priority = ((v+1)/2^52)/n_chars with v = first 13 md5 nibbles:
    // u is exact (power-of-two denominator), so the single division
    // is bit-identical cross-engine and the double survives the
    // exact-equality compare
    "t_weighted_sample" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
        |       (CAST(list_reduce(list_transform(
        |            string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
        |            c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |          (a, b) -> a * 16 + b) + 1 AS DOUBLE) / 4503599627370496.0)
        |         / n_chars AS priority
        |FROM documents
        |ORDER BY priority, doc_id LIMIT 100""".stripMargin,
    // epoch planner: replay the budget arithmetic exactly — integer
    // stats, left-assoc double division, md5-uniform extra-epoch set
    "t_source_epochs" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         (CAST(list_reduce(list_transform(
        |              string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
        |              c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |            (a, b) -> a * 16 + b) + 1 AS DOUBLE) / 4503599627370496.0) AS u
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
        |         CAST(1 + (CAST(substr(source, 4) AS INT) % 4) AS INT) AS w
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot,
        |             CAST(SUM(w) AS BIGINT) AS wsum FROM s),
        |p AS (
        |  SELECT source, n_docs, src_tokens,
        |         CAST(floor(r) AS BIGINT) AS base_epochs, r - floor(r) AS frac
        |  FROM (SELECT s.*, tot * w / wsum / src_tokens AS r FROM s, t))
        |SELECT p.source, p.n_docs, p.src_tokens, p.base_epochs,
        |       CAST(SUM(CASE WHEN d.u < p.frac THEN 1 ELSE 0 END) AS BIGINT) AS n_upsampled,
        |       CAST(p.base_epochs * p.src_tokens +
        |            SUM(CASE WHEN d.u < p.frac THEN d.n_tok ELSE 0 END) AS BIGINT) AS emitted_tokens,
        |       CAST(SUM(CASE WHEN d.u < p.frac THEN d.doc_id ELSE 0 END) AS BIGINT) AS upsampled_id_sum
        |FROM d JOIN p USING (source)
        |GROUP BY p.source, p.n_docs, p.src_tokens, p.base_epochs
        |ORDER BY p.source""".stripMargin,
    // quality sweep: same per-doc score expression t_quality_score
    // hash-matches, swept over 9 thresholds from a range cross
    "t_quality_sweep" ->
      """WITH b AS (
        |  SELECT lang,
        |         (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |           * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
        |                   / CAST(n_tokens AS DOUBLE), 10.0) / 10.0 AS q,
        |         CAST(n_tokens AS BIGINT) AS n_tok
        |  FROM (SELECT lang, text,
        |               len(string_split(text, ' ')) AS n_tokens,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |th AS (SELECT unnest(range(1, 10)) AS i)
        |SELECT b.lang, i / 10.0 AS threshold,
        |       CAST(SUM(CASE WHEN b.q >= i / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |       CAST(SUM(CASE WHEN b.q >= i / 10.0 THEN b.n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM b, th
        |GROUP BY 1, 2 ORDER BY lang, threshold""".stripMargin,
    "t_token_count" ->
      """SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS text_len,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_subword_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_normalize" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len,
        |       CAST(length(norm) AS BIGINT) AS norm_len,
        |       md5(norm) AS norm_fingerprint
        |FROM (SELECT doc_id, text,
        |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |             ' +', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t_mixture_sample" ->
      """SELECT lang, count(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= CASE WHEN lang = 'en' THEN 15 ELSE 5 END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_repetition" ->
      """WITH cnt AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_frac,
        |       CAST(max(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_token_frac
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_pack_sequences" ->
      """WITH keyed AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |         md5(CAST(doc_id AS VARCHAR)) AS key,
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        |  FROM documents),
        |binned AS (
        |  SELECT shard,
        |         CAST(floor((SUM(n_tok) OVER (PARTITION BY shard ORDER BY key, doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |           / 2048.0) AS BIGINT) AS bin,
        |         n_tok
        |  FROM keyed)
        |SELECT shard, bin, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        |FROM binned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_quality_score" ->
      """SELECT doc_id,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |       CAST(length(text) - n_tokens + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_word_len,
        |       (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |         * least(CAST(length(text) - n_tokens + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 10.0) / 10.0
        |         AS quality_score
        |FROM (SELECT doc_id, text,
        |             len(string_split(text, ' ')) AS n_tokens,
        |             len(list_filter(string_split(text, ' '),
        |                 t -> t IN ('the','a','of','and','to'))) AS n_stops
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t_fingerprint_md5" ->
      """SELECT doc_id, md5(text) AS fingerprint,
        |       md5(lower(text)) AS fingerprint_normalized
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_stratified_sample" ->
      """SELECT lang, doc_id, n_chars
        |FROM (SELECT lang, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY lang
        |                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin,
    "t_doc_frequency" ->
      """SELECT token, count(*) AS df
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |      FROM documents)
        |GROUP BY 1 ORDER BY df DESC, token""".stripMargin,
    "t_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, token, tf, df, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |                            ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rk
        |  FROM tf JOIN df ON tf.token = df.token)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "t_split_assign" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |            ELSE 'train' END AS split,
        |       lang, count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // marker-stopword scoring, argmax with first-language tiebreak —
    // the SQL mirror of TextFunctions.langId's reduceLeft
    "t_langid" ->
      """SELECT doc_id, lang AS labeled_lang,
        |  (SELECT l FROM (VALUES
        |     ('de', len(list_filter(toks, t -> t IN ('der','die','und','ist','das','nicht')))),
        |     ('en', len(list_filter(toks, t -> t IN ('the','and','of','to','is','in')))),
        |     ('es', len(list_filter(toks, t -> t IN ('el','la','de','que','los','una')))),
        |     ('fr', len(list_filter(toks, t -> t IN ('le','la','et','les','des','est')))),
        |     ('pt', len(list_filter(toks, t -> t IN ('o','a','de','que','não','uma'))))
        |   ) s(l, sc) ORDER BY sc DESC, l LIMIT 1) AS predicted_lang
        |FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t_classifier_infer" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS DOUBLE) / 100.0 AS x_len,
        |         CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS x_stop,
        |         (CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE)) / 10.0 AS x_wlen,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS x_distinct
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)),
        |s AS (
        |  SELECT doc_id, x_len, x_stop, x_wlen, x_distinct,
        |         -0.7 + 0.8 * x_len + 2.0 * x_stop + (-1.2) * x_wlen
        |           + 1.5 * x_distinct AS logit
        |  FROM f)
        |SELECT doc_id, x_len, x_stop, x_wlen, x_distinct, logit,
        |       round(1.0 / (1.0 + exp(-logit)), 6) AS score,
        |       logit >= 0.0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "t_dataset_card" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
        |       CAST(SUM(q_micro) AS DOUBLE) / 1000000.0
        |         / CAST(count(*) AS DOUBLE) AS mean_quality,
        |       quantile_cont(n_chars, 0.5) AS median_chars
        |FROM (SELECT lang, source, n_chars,
        |             len(string_split(text, ' ')) AS n_tok,
        |             md5(text) AS fp,
        |             CAST(floor(
        |               (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |                 * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
        |                         / CAST(n_tokens AS DOUBLE), 10.0) / 10.0
        |               * 1000000.0) AS BIGINT) AS q_micro
        |      FROM (SELECT lang, source, n_chars, text,
        |                   len(string_split(text, ' ')) AS n_tokens,
        |                   len(list_filter(string_split(text, ' '),
        |                       t -> t IN ('the','a','of','and','to'))) AS n_stops
        |            FROM documents))
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "t_c4_filters" -> tC4FiltersOracle,
    "t_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |         CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(toks, x -> x = 'window')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(toks, x -> x = 'merge')) AS BIGINT) AS tf2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |stats AS (
        |  SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
        |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM tf),
        |scored AS (
        |  SELECT doc_id, dl, tf0, tf1, tf2,
        |    (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
        |              / (CAST(df0 AS DOUBLE) + 0.5))
        |     * ((CAST(tf0 AS DOUBLE) * 2.2)
        |        / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75
        |           * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |     + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
        |              / (CAST(df1 AS DOUBLE) + 0.5))
        |     * ((CAST(tf1 AS DOUBLE) * 2.2)
        |        / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75
        |           * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
        |     + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
        |              / (CAST(df2 AS DOUBLE) + 0.5))
        |     * ((CAST(tf2 AS DOUBLE) * 2.2)
        |        / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75
        |           * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |     AS bm25
        |  FROM tf CROSS JOIN stats)
        |SELECT doc_id, dl AS n_tokens, tf0 AS tf_spark, tf1 AS tf_window,
        |       tf2 AS tf_merge, round(bm25, 6) AS bm25
        |FROM scored ORDER BY round(bm25, 6) DESC, doc_id LIMIT 10""".stripMargin,
    "t_dsir_weights" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, ${hexSql("tok", 2)} AS bucket
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |per_doc AS (SELECT doc_id, bucket, count(*) AS c FROM tok GROUP BY 1, 2),
         |raw AS (SELECT bucket, count(*) AS cr FROM tok GROUP BY 1),
         |tgt AS (SELECT bucket, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
         |totals AS (
         |  SELECT count(*) AS nr,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
         |  FROM tok),
         |lam AS (
         |  SELECT raw.bucket,
         |         ln(((CAST(coalesce(tgt.ct, 0) AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 256.0))
         |            / ((CAST(raw.cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 256.0))) AS lam
         |  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN totals),
         |folded AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         list_sort(list(struct_pack(bucket := p.bucket, c := p.c, lam := l.lam))) AS xs
         |  FROM per_doc p JOIN lam l ON p.bucket = l.bucket
         |  GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |         list_transform(xs, x -> CAST(x.c AS DOUBLE) * x.lam)),
         |         (a, b) -> a + b), 6) AS log_weight
         |FROM folded ORDER BY doc_id""".stripMargin,
    "t_perplexity" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |db AS (
        |  SELECT doc_id, bigram, count(*) AS cb FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN [text]
        |                  ELSE list_transform(range(1, len(toks)),
        |                         i -> toks[i] || ' ' || toks[i+1]) END) AS bigram
        |    FROM t)
        |  GROUP BY 1, 2),
        |corpus AS (
        |  SELECT bigram, CAST(SUM(cb) AS BIGINT) AS c12,
        |         split_part(bigram, ' ', 1) AS w1
        |  FROM db GROUP BY 1),
        |uni AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w1 FROM documents)
        |  GROUP BY 1),
        |vocab AS (SELECT count(*) AS v FROM uni),
        |withp AS (
        |  SELECT bigram,
        |         (CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)) AS p
        |  FROM corpus JOIN uni USING (w1) CROSS JOIN vocab),
        |folded AS (
        |  SELECT doc_id, CAST(SUM(cb) AS BIGINT) AS n_bigrams,
        |         list_sort(list(struct_pack(bigram := db.bigram, cb := db.cb, p := w.p))) AS xs
        |  FROM db JOIN withp w ON db.bigram = w.bigram
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |       round(-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(xs, x -> CAST(x.cb AS DOUBLE) * ln(x.p))),
        |           (a, b) -> a + b)) / CAST(n_bigrams AS DOUBLE), 6) AS cross_entropy
        |FROM folded ORDER BY doc_id""".stripMargin,
    "t_pmi_bigrams" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY 1),
        |bi AS (
        |  SELECT w1, w2, count(*) AS n_xy FROM (
        |    SELECT toks[i] AS w1, toks[i + 1] AS w2
        |    FROM base CROSS JOIN unnest(range(1, len(toks))) AS r(i)
        |    WHERE len(toks) >= 2)
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_tot,
        |         (SELECT CAST(sum(n_xy) AS BIGINT) FROM bi) AS b_tot),
        |top AS (SELECT * FROM bi ORDER BY n_xy DESC, w1, w2 LIMIT 20)
        |SELECT t.w1, t.w2, t.n_xy, ux.c AS n_x, uy.c AS n_y,
        |       round(ln((CAST(t.n_xy AS DOUBLE) / CAST(b_tot AS DOUBLE)) /
        |             ((CAST(ux.c AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
        |              (CAST(uy.c AS DOUBLE) / CAST(n_tot AS DOUBLE)))), 6) AS pmi
        |FROM top t
        |JOIN uni ux ON t.w1 = ux.w
        |JOIN uni uy ON t.w2 = uy.w
        |CROSS JOIN tot
        |ORDER BY t.n_xy DESC, t.w1, t.w2""".stripMargin,
    "t_tfidf_topk" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |         CAST(tf AS DOUBLE)
        |           * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY CAST(tf AS DOUBLE)
        |             * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC, term) AS rk
        |  FROM tf JOIN dfc USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df,
        |       round(score, 6) AS tfidf
        |FROM scored WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "t_contrastive_pairs" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |pos AS (
         |  SELECT aid, bid AS positive_id, cos AS pos_cos FROM (
         |    SELECT a.vec_id AS aid, b.vec_id AS bid,
         |           ${cosSql("a.e", "b.e")} AS cos,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${cosSql("a.e", "b.e")} DESC, b.vec_id) AS rk
         |    FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
         |    WHERE ${cosSql("a.e", "b.e")} >= 0.4) WHERE rk = 1),
         |c0 AS (
         |  SELECT CAST(rn AS BIGINT) AS cid, e AS ce
         |  FROM (SELECT vec_id, e,
         |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |        FROM e)
         |  WHERE rn <= 16),
         |asg AS (
         |  SELECT vec_id, label, e, cid FROM (
         |    SELECT v.vec_id, v.label, v.e, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid) AS rk
         |    FROM e v CROSS JOIN c0 c) WHERE rk = 1),
         |neg AS (
         |  SELECT aid, bid AS negative_id, cos AS neg_cos FROM (
         |    SELECT a.vec_id AS aid, b.vec_id AS bid,
         |           ${cosSql("a.e", "b.e")} AS cos,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${cosSql("a.e", "b.e")} DESC, b.vec_id) AS rk
         |    FROM asg a JOIN asg b ON a.cid = b.cid AND a.label <> b.label)
         |  WHERE rk = 1)
         |SELECT p.aid AS anchor_id, p.positive_id, n.negative_id,
         |       round(p.pos_cos, 6) AS pos_cos, round(n.neg_cos, 6) AS neg_cos,
         |       round(p.pos_cos - n.neg_cos, 6) AS margin
         |FROM pos p JOIN neg n ON p.aid = n.aid
         |ORDER BY anchor_id""".stripMargin,
    "t_ngram_novelty" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(shingles)) AS g
        |  FROM (SELECT doc_id,
        |               CASE WHEN len(toks) < 5 THEN [text]
        |                    ELSE list_transform(range(1, len(toks) - 3),
        |                           i -> array_to_string(toks[i:i+4], ' '))
        |               END AS shingles
        |        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        |              FROM documents))),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |         AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM g JOIN f USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_split_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split,
        |         unnest(list_distinct(shingles)) AS sh
        |  FROM (SELECT doc_id,
        |               CASE WHEN len(toks) < 13 THEN [text]
        |                    ELSE list_transform(range(1, len(toks) - 11),
        |                           i -> array_to_string(toks[i:i+12], ' '))
        |               END AS shingles
        |        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        |              FROM documents))),
        |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |kept AS (
        |  SELECT sh.doc_id, sh.split, sh.sh
        |  FROM sh JOIN dfreq USING (sh) WHERE dfreq.df <= 64)
        |SELECT a.split AS split_from, b.split AS split_to,
        |       count(DISTINCT b.doc_id) AS n_leaky_docs,
        |       count(DISTINCT a.sh) AS n_shared_grams
        |FROM kept a JOIN kept b ON a.sh = b.sh AND a.split <> b.split
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_k_anonymity" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(n_chars AS BIGINT) // 100 AS len_bucket,
        |         count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source,
        |       CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_risky_buckets,
        |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |         AS n_docs_at_risk,
        |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(n) AS DOUBLE) AS risk_share
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_oov_rate" ->
      """WITH toks AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM toks WHERE split = 'train' GROUP BY 1)
        |  ORDER BY c DESC, tok LIMIT 16)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY split ORDER BY split""".stripMargin,
    "t_temperature_mix" ->
      """WITH pl AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM pl),
        |sh AS (
        |  SELECT lang, n_docs, n_tokens,
        |         CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |           AS raw_share,
        |         pow(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE),
        |             0.3) AS w
        |  FROM pl CROSS JOIN t),
        |nz AS (SELECT list_sum(list(w ORDER BY lang)) AS sum_w FROM sh)
        |SELECT lang, n_docs, n_tokens, round(raw_share, 6) AS raw_share,
        |       round(w / sum_w, 6) AS alpha_share,
        |       round(w / sum_w / raw_share, 6) AS multiplier
        |FROM sh CROSS JOIN nz ORDER BY lang""".stripMargin,
    "t_leakage_safe_split" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
         |nodes AS (SELECT DISTINCT d1 AS id FROM lshp UNION SELECT d2 FROM lshp),
         |gedges AS (SELECT d1 AS a, d2 AS b FROM lshp UNION SELECT d2, d1 FROM lshp),
         |reach(id, rep) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, r.rep FROM gedges e JOIN reach r ON e.b = r.id),
         |reps AS (SELECT id, min(rep) AS rep FROM reach GROUP BY 1),
         |m AS (
         |  SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep,
         |         r.rep IS NOT NULL AS grouped
         |  FROM documents d LEFT JOIN reps r ON d.doc_id = r.id),
         |sp AS (
         |  SELECT doc_id, rep, grouped,
         |         CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 1) IN ('c','d')
         |              THEN 'val'
         |              WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 1) IN ('e','f')
         |              THEN 'test' ELSE 'train' END AS split,
         |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
         |              THEN 'val'
         |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f')
         |              THEN 'test' ELSE 'train' END AS naive
         |  FROM m)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT rep) AS BIGINT) AS n_groups,
         |       CAST(sum(CASE WHEN grouped THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_grouped_docs,
         |       CAST(sum(CASE WHEN split <> naive THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_moved_docs
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_domain_filter" ->
      """WITH q AS (
        |  SELECT source,
        |         floor(((1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |           * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
        |                     / CAST(n_tokens AS DOUBLE), 10.0) / 10.0)
        |           * 1000000.0) AS qm
        |  FROM (SELECT source, text,
        |               len(string_split(text, ' ')) AS n_tokens,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(qm) AS BIGINT) AS sum_qm
        |  FROM q GROUP BY 1),
        |mq AS (
        |  SELECT source, n_docs,
        |         CAST(sum_qm AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0
        |           AS mean_quality
        |  FROM g)
        |SELECT source, n_docs, round(mean_quality, 6) AS mean_quality,
        |       mean_quality >= 0.42 AS keep_source,
        |       CAST(CASE WHEN mean_quality >= 0.42 THEN n_docs ELSE 0 END
        |         AS BIGINT) AS n_docs_kept
        |FROM mq ORDER BY source""".stripMargin,
    "t_calibration_ece" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS DOUBLE) / 100.0 AS x_len,
        |         CAST(n_stops AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS x_stop,
        |         (CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE)) / 10.0 AS x_wlen,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS x_distinct,
        |         ((1.0 - CAST(n_stops AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |           * least(CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                     / CAST(len(toks) AS DOUBLE), 10.0) / 10.0) >= 0.42
        |           AS good
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |sc AS (
        |  SELECT doc_id, good,
        |         1.0 / (1.0 + exp(-(-0.7 + 0.8 * x_len + 2.0 * x_stop
        |           + (-1.2) * x_wlen + 1.5 * x_distinct))) AS score
        |  FROM f),
        |b AS (
        |  SELECT least(9, CAST(floor(score * 10) AS BIGINT)) AS bin,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(floor(score * 1000000.0)) AS BIGINT) AS sm,
        |         CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM sc GROUP BY 1),
        |mm AS (
        |  SELECT bin, n_docs, n_pos,
        |         CAST(sm AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0
        |           AS mean_score,
        |         CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pos_rate
        |  FROM b)
        |SELECT bin, n_docs, n_pos, round(mean_score, 6) AS mean_score,
        |       pos_rate, round(abs(mean_score - pos_rate), 6) AS abs_gap
        |FROM mm ORDER BY bin""".stripMargin,
    "t_gopher_rules" ->
      """WITH f AS (
        |  SELECT lang,
        |         len(toks) BETWEEN 50 AND 100000 AS r_wordcount,
        |         (CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE)) BETWEEN 3.0 AND 10.0
        |           AS r_wordlen,
        |         len(list_filter(toks, t -> t IN ('the','a','of','and','to')))
        |           >= 2 AS r_stopword,
        |         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
        |             AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.8 AS r_alpha,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) >= 0.2 AS r_ttr
        |  FROM (SELECT lang, text, string_split(text, ' ') AS toks
        |        FROM documents))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN r_wordcount THEN 1 ELSE 0 END) AS BIGINT)
        |         AS r_wordcount,
        |       CAST(sum(CASE WHEN r_wordlen THEN 1 ELSE 0 END) AS BIGINT)
        |         AS r_wordlen,
        |       CAST(sum(CASE WHEN r_stopword THEN 1 ELSE 0 END) AS BIGINT)
        |         AS r_stopword,
        |       CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT)
        |         AS r_alpha,
        |       CAST(sum(CASE WHEN r_ttr THEN 1 ELSE 0 END) AS BIGINT) AS r_ttr,
        |       CAST(sum(CASE WHEN r_wordcount AND r_wordlen AND r_stopword
        |                      AND r_alpha AND r_ttr THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_keep
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_roc_auc" ->
      """WITH f AS (
        |  SELECT (-0.7 + 0.8 * (CAST(len(toks) AS DOUBLE) / 100.0)
        |          + 2.0 * (CAST(n_stops AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |          + (-1.2) * ((CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |              / CAST(len(toks) AS DOUBLE)) / 10.0)
        |          + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |              / CAST(len(toks) AS DOUBLE))) AS m,
        |         (CASE WHEN (1.0 - CAST(n_stops AS DOUBLE)
        |             / CAST(len(toks) AS DOUBLE))
        |             * least(CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE), 10.0) / 10.0 >= 0.42
        |          THEN 1 ELSE 0 END) AS pos
        |  FROM (SELECT text, string_split(text, ' ') AS toks,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |g AS (
        |  SELECT m, CAST(sum(pos) AS BIGINT) AS np,
        |         CAST(sum(1 - pos) AS BIGINT) AS nn
        |  FROM f GROUP BY 1),
        |c AS (
        |  SELECT np, nn,
        |         CAST(sum(nn) OVER (ORDER BY m) AS BIGINT) AS cum_nn
        |  FROM g)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |       CAST(sum(nn) AS BIGINT) AS n_neg,
        |       round(CAST(sum(np * (2 * cum_nn - nn)) AS DOUBLE)
        |         / (2.0 * CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)),
        |         6) AS auc,
        |       round(CAST(sum(np * (2 * cum_nn - nn)) AS DOUBLE)
        |         / (CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)) - 1.0,
        |         6) AS gini_coef
        |FROM c""".stripMargin,
    "t_good_turing" ->
      """WITH tf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS r
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1),
        |ff AS (
        |  SELECT r, CAST(count(*) AS BIGINT) AS n_terms FROM tf GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(r * n_terms) AS BIGINT) AS t_tokens,
        |         CAST(sum(CASE WHEN r = 1 THEN n_terms END) AS BIGINT) AS n1
        |  FROM ff)
        |SELECT a.r, a.n_terms,
        |       round((CAST(a.r AS DOUBLE) + 1.0) * CAST(b.n_terms AS DOUBLE)
        |         / CAST(a.n_terms AS DOUBLE), 6) AS r_star,
        |       round(CAST(a.r AS DOUBLE) * CAST(a.n_terms AS DOUBLE)
        |         / CAST(t_tokens AS DOUBLE), 6) AS token_share,
        |       round(CAST(n1 AS DOUBLE) / CAST(t_tokens AS DOUBLE), 6)
        |         AS p0_unseen
        |FROM (SELECT * FROM ff ORDER BY r LIMIT 10) a
        |LEFT JOIN ff b ON b.r = a.r + 1 CROSS JOIN tot
        |ORDER BY a.r""".stripMargin,
    "t_kneser_ney" ->
      s"""WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks,
        |         substr(md5(text), 1, 1) = 'f' AS held
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cb FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN [text]
        |                  ELSE list_transform(range(1, len(toks)),
        |                         i -> toks[i] || ' ' || toks[i+1]) END)
        |             AS bigram
        |    FROM t WHERE held)
        |  GROUP BY 1, 2),
        |tb AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c12,
        |         split_part(bigram, ' ', 1) AS w1,
        |         split_part(bigram, ' ', -1) AS w2
        |  FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN [text]
        |                  ELSE list_transform(range(1, len(toks)),
        |                         i -> toks[i] || ' ' || toks[i+1]) END)
        |             AS bigram
        |    FROM t WHERE NOT held)
        |  GROUP BY 1),
        |w1s AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |               CAST(count(*) AS BIGINT) AS n1p_fwd
        |        FROM tb GROUP BY 1),
        |w2s AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd
        |        FROM tb GROUP BY 1),
        |btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM tb),
        |scoredrows AS (
        |  SELECT db.doc_id, db.bigram, db.cb,
        |         (w1s.c1 IS NOT NULL AND w2s.n1p_bwd IS NOT NULL) AS scored,
        |         CASE WHEN w1s.c1 IS NOT NULL AND w2s.n1p_bwd IS NOT NULL
        |           THEN (greatest(CAST(coalesce(tb.c12, 0) AS DOUBLE) - 0.75,
        |                   0.0) / CAST(w1s.c1 AS DOUBLE))
        |              + ((0.75 * CAST(w1s.n1p_fwd AS DOUBLE)
        |                   / CAST(w1s.c1 AS DOUBLE))
        |                 * (CAST(w2s.n1p_bwd AS DOUBLE)
        |                     / CAST(btot.b AS DOUBLE)))
        |         END AS p
        |  FROM db
        |  LEFT JOIN w1s ON w1s.w1 = split_part(db.bigram, ' ', 1)
        |  LEFT JOIN w2s ON w2s.w2 = split_part(db.bigram, ' ', -1)
        |  LEFT JOIN tb ON tb.bigram = db.bigram
        |  CROSS JOIN btot),
        |folded AS (
        |  SELECT doc_id, CAST(sum(cb) AS BIGINT) AS n_bigrams,
        |         CAST(coalesce(sum(cb) FILTER (WHERE scored), 0) AS BIGINT)
        |           AS n_scored,
        |         list_sort(list(struct_pack(bigram := bigram, cb := cb,
        |             p := p)) FILTER (WHERE scored)) AS xs
        |  FROM scoredrows GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_scored,
        |       CASE WHEN n_scored > 0 THEN
        |         round(-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(xs, x -> CAST(x.cb AS DOUBLE) * ln(x.p))),
        |             (a, b) -> a + b)) / CAST(n_scored AS DOUBLE), 6)
        |       END AS cross_entropy
        |FROM folded ORDER BY doc_id""".stripMargin,
    "t_hashed_features" ->
      s"""WITH tokc AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c,
        |         ${hex15("tok")} % 64 AS bucket
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |pb AS (
        |  SELECT doc_id, bucket, CAST(sum(c) AS BIGINT) AS bc,
        |         CAST(count(*) AS BIGINT) AS n_toks_in
        |  FROM tokc GROUP BY 1, 2),
        |pd AS (
        |  SELECT doc_id, CAST(sum(bc) AS BIGINT) AS n_tokens,
        |         CAST(sum(n_toks_in) AS BIGINT) AS n_distinct,
        |         CAST(count(*) AS BIGINT) AS n_nonzero,
        |         CAST(sum(bc * bc) AS BIGINT) AS l2_sq,
        |         max(struct_pack(c := bc, nb := -bucket)) AS top
        |  FROM pb GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct, n_nonzero, l2_sq,
        |       CAST(-top.nb AS BIGINT) AS top_bucket,
        |       CAST(top.c AS BIGINT) AS top_count,
        |       round((CAST(n_distinct AS DOUBLE) - CAST(n_nonzero AS DOUBLE))
        |         / CAST(n_distinct AS DOUBLE), 6) AS collision_rate
        |FROM pd ORDER BY doc_id""".stripMargin,
    "t_isotonic_calibration" ->
      """WITH f AS (
        |  SELECT least(9, CAST(floor(1.0 / (1.0 + exp(-(-0.7
        |             + 0.8 * (CAST(len(toks) AS DOUBLE) / 100.0)
        |             + 2.0 * (CAST(n_stops AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE))
        |             + (-1.2) * ((CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE)) / 10.0)
        |             + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE))))) * 10) AS BIGINT))
        |           AS bin,
        |         CASE WHEN (1.0 - CAST(n_stops AS DOUBLE)
        |             / CAST(len(toks) AS DOUBLE))
        |             * least(CAST(length(text) - len(toks) + 1 AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE), 10.0) / 10.0 >= 0.42
        |          THEN 1 ELSE 0 END AS pos
        |  FROM (SELECT text, string_split(text, ' ') AS toks,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |bins AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS w,
        |         CAST(sum(pos) AS BIGINT) AS s
        |  FROM f GROUP BY 1),
        |pref AS (
        |  SELECT a.bin AS i, CAST(sum(b.w) AS BIGINT) AS cw,
        |         CAST(sum(b.s) AS BIGINT) AS cs
        |  FROM bins a JOIN bins b ON b.bin <= a.bin
        |  GROUP BY 1
        |  UNION ALL SELECT -1, 0, 0),
        |iv AS (
        |  SELECT p0.i + 1 AS j, pk.i AS k,
        |         (CAST(pk.cs AS DOUBLE) - CAST(p0.cs AS DOUBLE))
        |           / (CAST(pk.cw AS DOUBLE) - CAST(p0.cw AS DOUBLE)) AS rate
        |  FROM pref pk JOIN pref p0 ON p0.i < pk.i),
        |iso AS (
        |  SELECT i, max(mn) AS iso FROM (
        |    SELECT t.bin AS i, iv.j, min(iv.rate) AS mn
        |    FROM iv JOIN bins t ON iv.j <= t.bin AND iv.k >= t.bin
        |    GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT bins.bin, bins.w AS n_docs, bins.s AS n_pos,
        |       round(CAST(bins.s AS DOUBLE) / CAST(bins.w AS DOUBLE), 6)
        |         AS raw_rate,
        |       round(iso.iso, 6) AS iso_rate
        |FROM bins JOIN iso ON iso.i = bins.bin
        |ORDER BY bins.bin""".stripMargin,
    "t_dp_histogram" ->
      s"""WITH g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS true_n FROM documents
        |  GROUP BY 1),
        |u AS (
        |  SELECT lang, true_n,
        |         (CAST(${hex15("lang")} AS DOUBLE) + 0.5)
        |           / 1152921504606846976.0 - 0.5 AS c
        |  FROM g)
        |SELECT lang, true_n,
        |       round(CAST(true_n AS DOUBLE)
        |         + (-2.0) * sign(c) * ln(1.0 - 2.0 * abs(c)), 6)
        |         AS released_n,
        |       round((-2.0) * sign(c) * ln(1.0 - 2.0 * abs(c)), 6) AS noise,
        |       0.5 AS epsilon
        |FROM u ORDER BY lang""".stripMargin,
    "t_cdc_chunking" ->
      s"""WITH $chunkCtes
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE),
        |         6) AS mean_chunk_toks,
        |       CAST(max(n_toks) AS BIGINT) AS max_chunk_toks,
        |       CAST(count(DISTINCT chunk_hash) AS BIGINT)
        |         AS n_distinct_chunks
        |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_l_diversity" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(n_chars AS BIGINT) // 100 AS len_bucket,
        |         substr(md5(text), 1, 1) AS sens,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3, 4),
        |buckets AS (
        |  SELECT lang, source, len_bucket,
        |         CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS BIGINT) AS diversity
        |  FROM cells GROUP BY 1, 2, 3)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_buckets,
        |       min(diversity) AS min_diversity,
        |       CAST(sum(CASE WHEN diversity < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_low_buckets,
        |       CAST(sum(CASE WHEN diversity < 3 THEN n_docs ELSE 0 END)
        |         AS BIGINT) AS n_docs_at_risk
        |FROM buckets GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin,
    "t_span_corruption" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t,
        |         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |flagged AS (
        |  SELECT doc_id, n,
        |         list_transform(range(1, CAST(n AS INT) + 1), i ->
        |           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '_'
        |             || CAST(i AS VARCHAR)), 1, 1) IN ('0', '1')
        |           THEN 1 ELSE 0 END) AS flags
        |  FROM toks),
        |stats AS (
        |  SELECT doc_id, n,
        |         CAST(list_sum(flags) AS BIGINT) AS n_corrupted,
        |         CAST(list_sum(list_transform(range(1, CAST(n AS INT) + 1),
        |           i -> CASE WHEN flags[i] = 1
        |                  AND (i = 1 OR flags[i - 1] = 0)
        |                THEN 1 ELSE 0 END)) AS BIGINT) AS n_spans,
        |         [0] || list_filter(range(1, CAST(n AS INT) + 1),
        |           i -> flags[i] = 0) || [CAST(n AS INT) + 1] AS bounds
        |  FROM flagged)
        |SELECT doc_id, n AS n_tokens, n_corrupted, n_spans,
        |       CAST(list_max(list_transform(range(2, len(bounds) + 1),
        |         k -> bounds[k] - bounds[k - 1] - 1)) AS BIGINT)
        |         AS max_span_len,
        |       round(CAST(n_corrupted AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |         AS corrupt_ratio
        |FROM stats ORDER BY doc_id""".stripMargin,
    "t_self_bleu" ->
      """WITH docs AS (
        |  SELECT lang, source, doc_id,
        |         string_split_regex(text, '\s+') AS toks,
        |         lead(string_split_regex(text, '\s+'), 1) OVER (
        |           PARTITION BY lang, source ORDER BY doc_id) AS b_toks
        |  FROM documents),
        |paired AS (SELECT * FROM docs WHERE b_toks IS NOT NULL),
        |sh AS (
        |  SELECT lang, source, doc_id, toks, b_toks,
        |         list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i + 1]) AS g2a,
        |         list_transform(range(1, len(b_toks)),
        |           i -> b_toks[i] || ' ' || b_toks[i + 1]) AS g2b
        |  FROM paired),
        |ca1 AS (
        |  SELECT lang, source, doc_id, unnest(toks) AS gram
        |  FROM sh),
        |cb1 AS (
        |  SELECT lang, source, doc_id, unnest(b_toks) AS gram
        |  FROM sh),
        |ca2 AS (
        |  SELECT lang, source, doc_id, unnest(g2a) AS gram FROM sh),
        |cb2 AS (
        |  SELECT lang, source, doc_id, unnest(g2b) AS gram FROM sh),
        |clip1 AS (
        |  SELECT a.lang, a.source, a.doc_id,
        |         CAST(sum(least(a.c, b.c)) AS BIGINT) AS clipped
        |  FROM (SELECT lang, source, doc_id, gram,
        |          CAST(count(*) AS BIGINT) AS c
        |        FROM ca1 GROUP BY 1, 2, 3, 4) a
        |  JOIN (SELECT lang, source, doc_id, gram,
        |          CAST(count(*) AS BIGINT) AS c
        |        FROM cb1 GROUP BY 1, 2, 3, 4) b
        |    USING (lang, source, doc_id, gram)
        |  GROUP BY 1, 2, 3),
        |clip2 AS (
        |  SELECT a.lang, a.source, a.doc_id,
        |         CAST(sum(least(a.c, b.c)) AS BIGINT) AS clipped
        |  FROM (SELECT lang, source, doc_id, gram,
        |          CAST(count(*) AS BIGINT) AS c
        |        FROM ca2 GROUP BY 1, 2, 3, 4) a
        |  JOIN (SELECT lang, source, doc_id, gram,
        |          CAST(count(*) AS BIGINT) AS c
        |        FROM cb2 GROUP BY 1, 2, 3, 4) b
        |    USING (lang, source, doc_id, gram)
        |  GROUP BY 1, 2, 3),
        |m1 AS (
        |  SELECT sh.lang, sh.source,
        |         CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CAST(coalesce(c.clipped, 0) * 1000000
        |             AS BIGINT) // CAST(len(sh.toks) AS BIGINT))
        |           // count(*) AS BIGINT) AS m
        |  FROM sh LEFT JOIN clip1 c USING (lang, source, doc_id)
        |  GROUP BY 1, 2),
        |m2 AS (
        |  SELECT sh.lang, sh.source,
        |         CAST(sum(CAST(coalesce(c.clipped, 0) * 1000000
        |             AS BIGINT) // CAST(len(sh.g2a) AS BIGINT))
        |           // count(*) AS BIGINT) AS m
        |  FROM sh LEFT JOIN clip2 c USING (lang, source, doc_id)
        |  GROUP BY 1, 2)
        |SELECT m1.lang, m1.source, m1.n_pairs,
        |       m1.m / 1000000.0 AS self_bleu1,
        |       m2.m / 1000000.0 AS self_bleu2
        |FROM m1 JOIN m2 USING (lang, source)
        |ORDER BY m1.lang, m1.source""".stripMargin,
    "t_dp_median" -> {
      s"""WITH binned AS (
        |  SELECT least(63, CAST(round(o_totalprice * 100) AS BIGINT) * 64
        |           // 50000000) AS bin,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |cum AS (
        |  SELECT bin, cnt,
        |         sum(cnt) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER () AS n
        |  FROM binned),
        |scored AS (
        |  SELECT bin, cum, n, -abs(2 * cum - n) AS u,
        |         1.0 * CAST(-abs(2 * cum - n) AS DOUBLE) / 2.0
        |           - ln(-ln((CAST(${hex15("'median_' || CAST(bin AS VARCHAR)")}
        |               AS DOUBLE) + 0.5) / 1152921504606846976.0)) AS score,
        |         min(CASE WHEN 2 * cum >= n THEN bin END) OVER () AS true_bin
        |  FROM cum)
        |SELECT bin AS released_bin,
        |       CAST(bin AS DOUBLE) * (500000.0 / 64) AS bin_lo,
        |       (CAST(bin AS DOUBLE) + 1.0) * (500000.0 / 64) AS bin_hi,
        |       true_bin, CAST(n AS BIGINT) AS n_orders, 1.0 AS epsilon
        |FROM scored
        |QUALIFY row_number() OVER (ORDER BY score DESC, bin) = 1""".stripMargin
    },
    "t_prefix_sharing" ->
      """WITH docs AS (
        |  SELECT lang,
        |         CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
        |           AS n_toks,
        |         array_to_string(string_split_regex(text, '\s+')[1:8], ' ')
        |           AS prefix,
        |         least(CAST(len(string_split_regex(text, '\s+')) AS BIGINT),
        |           8) AS plen
        |  FROM documents),
        |groups AS (
        |  SELECT lang, prefix, plen, CAST(count(*) AS BIGINT) AS g,
        |         CAST(sum(n_toks) AS BIGINT) AS toks
        |  FROM docs GROUP BY 1, 2, 3)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_prefix_groups,
        |       CAST(sum(g) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN g > 1 THEN g ELSE 0 END) AS BIGINT)
        |         AS n_docs_sharing,
        |       CAST(sum(CASE WHEN g > 1 THEN (g - 1) * plen ELSE 0 END)
        |         AS BIGINT) AS saved_tokens,
        |       CAST((sum(CASE WHEN g > 1 THEN (g - 1) * plen ELSE 0 END)
        |         * 1000000) // sum(toks) AS BIGINT) / 1000000.0
        |         AS savings_rate
        |FROM groups GROUP BY 1 ORDER BY lang""".stripMargin,
    "t_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         md5('cap:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |rk AS (
        |  SELECT source, h,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY h, doc_id) AS rk
        |  FROM d),
        |kept AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |         max(h) AS cutoff_hash
        |  FROM rk WHERE rk <= 18 GROUP BY 1),
        |alln AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM d GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_kept) AS BIGINT) AS kept_total FROM kept)
        |SELECT a.source, a.n_docs, k.n_kept,
        |       a.n_docs - k.n_kept AS n_dropped, k.cutoff_hash,
        |       CAST(k.n_kept * 1000000 // t.kept_total AS BIGINT)
        |         / 1000000.0 AS share_after
        |FROM alln a
        |JOIN kept k ON a.source = k.source
        |CROSS JOIN tot t
        |ORDER BY a.source""".stripMargin,
    "t_rake_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos, t.tok,
        |         t.tok IN ('the', 'a', 'of', 'and', 'to') AS stop
        |  FROM documents,
        |       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
        |                       generate_subscripts(string_split(text, ' '), 1) AS i) t),
        |seg AS (
        |  SELECT doc_id, pos, tok,
        |         sum(CASE WHEN stop THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        |  FROM toks QUALIFY NOT stop),
        |occ AS (
        |  SELECT doc_id, phrase_id, list(tok ORDER BY pos) AS words,
        |         CAST(count(*) AS BIGINT) AS len
        |  FROM seg GROUP BY 1, 2 HAVING count(*) <= 4),
        |members AS (
        |  SELECT doc_id, phrase_id, len,
        |         CAST(w.i - 1 AS INTEGER) AS wpos, w.tok
        |  FROM occ,
        |       LATERAL (SELECT unnest(words) AS tok,
        |                       generate_subscripts(words, 1) AS i) w),
        |ws AS (
        |  SELECT tok, CAST(sum(len) AS BIGINT) AS deg,
        |         CAST(count(*) AS BIGINT) AS freq
        |  FROM members GROUP BY 1),
        |scored AS (
        |  SELECT m.doc_id, m.phrase_id,
        |         list_sum(list(CAST(w.deg AS DOUBLE) / w.freq
        |           ORDER BY m.wpos)) AS score
        |  FROM members m JOIN ws w ON m.tok = w.tok
        |  GROUP BY 1, 2)
        |SELECT array_to_string(o.words, ' ') AS phrase,
        |       CAST(count(*) AS BIGINT) AS n_occ,
        |       max(o.len) AS n_words,
        |       max(round(s.score, 6)) AS score
        |FROM occ o JOIN scored s USING (doc_id, phrase_id)
        |GROUP BY 1
        |ORDER BY score DESC, phrase
        |LIMIT 25""".stripMargin,
    "t_naive_bayes" ->
      s"""WITH split AS (
         |  SELECT doc_id, lang, text,
         |         ${hexSql("'nb:' || CAST(doc_id AS VARCHAR)", 2)} % 5 = 0
         |           AS is_test
         |  FROM documents),
         |train_tok AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS tok
         |  FROM split WHERE NOT is_test),
         |counts AS (
         |  SELECT lang AS cls, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM train_tok GROUP BY 1, 2),
         |tot AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS tot
         |        FROM train_tok GROUP BY 1),
         |vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |          FROM train_tok),
         |prior AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS nc
         |          FROM split WHERE NOT is_test GROUP BY 1),
         |ndocs AS (SELECT CAST(count(*) AS BIGINT) AS nd
         |          FROM split WHERE NOT is_test),
         |test_tok AS (
         |  SELECT doc_id, lang AS true_lang,
         |         CAST(t.i - 1 AS INTEGER) AS pos, t.tok
         |  FROM split,
         |       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
         |                generate_subscripts(string_split(text, ' '), 1) AS i) t
         |  WHERE is_test),
         |scored AS (
         |  SELECT tt.doc_id, tt.true_lang, p.cls, tt.pos,
         |         ln((coalesce(c.c, 0)::DOUBLE + 1.0) / (t.tot + v.v)::DOUBLE)
         |           AS lp
         |  FROM test_tok tt
         |  CROSS JOIN prior p
         |  JOIN tot t ON t.cls = p.cls
         |  CROSS JOIN vocab v
         |  LEFT JOIN counts c ON c.cls = p.cls AND c.tok = tt.tok),
         |post AS (
         |  SELECT s.doc_id, s.true_lang, s.cls,
         |         list_sum(list(s.lp ORDER BY s.pos))
         |           + ln(p.nc::DOUBLE / nd.nd::DOUBLE) AS score
         |  FROM scored s JOIN prior p ON p.cls = s.cls CROSS JOIN ndocs nd
         |  GROUP BY s.doc_id, s.true_lang, s.cls, p.nc, nd.nd),
         |pred AS (
         |  SELECT doc_id, true_lang, cls FROM post
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, cls) = 1)
         |SELECT true_lang, cls AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_doremi_mixture" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bydom AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cdt
        |  FROM tok GROUP BY 1, 2),
        |corpus AS (
        |  SELECT tok, CAST(sum(cdt) AS BIGINT) AS ct FROM bydom GROUP BY 1),
        |total AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM corpus),
        |lp AS (
        |  SELECT tok, CAST(floor(-ln(ct::DOUBLE / tt::DOUBLE) * 1000000.0)
        |    AS BIGINT) AS lp_u
        |  FROM corpus CROSS JOIN total),
        |dom AS (
        |  SELECT b.source, CAST(sum(b.cdt) AS BIGINT) AS n_tok,
        |         sum(CAST(b.cdt AS DECIMAL(38,0)) * lp.lp_u) AS nll_u
        |  FROM bydom b JOIN lp ON lp.tok = b.tok GROUP BY 1),
        |d2 AS (
        |  SELECT source, n_tok,
        |         nll_u::DOUBLE / n_tok::DOUBLE / 1000000.0 AS mean_nll,
        |         n_tok::DOUBLE / tt::DOUBLE AS w0
        |  FROM dom CROSS JOIN total),
        |ov AS (
        |  SELECT sum(nll_u)::DOUBLE / sum(n_tok)::DOUBLE / 1000000.0
        |           AS nll_bar
        |  FROM dom),
        |scored AS (
        |  SELECT d2.source, d2.n_tok, d2.mean_nll, d2.w0,
        |         d2.w0 * exp(0.5 * (d2.mean_nll - ov.nll_bar)) AS raw
        |  FROM d2 CROSS JOIN ov),
        |z AS (SELECT list_sum(list(raw ORDER BY source)) AS z FROM scored)
        |SELECT source, n_tok AS n_tokens,
        |       round(mean_nll, 6) AS mean_nll,
        |       round(w0, 6) AS weight_before,
        |       round(raw / z.z, 6) AS weight_after
        |FROM scored CROSS JOIN z ORDER BY source""".stripMargin,
    "t_submodular_coverage" ->
      s"""WITH post AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents)),
         |cov0 AS (SELECT tok FROM post WHERE 1 = 0),
         |${coverageRounds(8)}
         |SELECT round, doc_id, gain, covered_total FROM (
         |${(1 to 8).map(i =>
             s"  SELECT w$i.round, w$i.doc_id, w$i.gain, ct$i.covered_total" +
               s" FROM w$i CROSS JOIN ct$i")
             .mkString("\n  UNION ALL\n")})
         |ORDER BY round""".stripMargin,
    "t_readability" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |           AS BIGINT) AS n_sentences,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |           AS BIGINT) AS n_syllables
        |  FROM documents),
        |f AS (
        |  SELECT *,
        |         206.835
        |           - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
        |           - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE) AS fre
        |  FROM base)
        |SELECT doc_id, lang, n_words, n_sentences, n_syllables,
        |       round(fre, 6) AS flesch,
        |       CASE WHEN fre >= 60.0 THEN 'easy'
        |            WHEN fre >= 30.0 THEN 'medium'
        |            ELSE 'hard' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_tokenizer_fertility" ->
      """WITH per AS (
        |  SELECT lang,
        |         CAST(len(toks) AS BIGINT) AS w,
        |         CAST(list_sum(list_transform(toks,
        |           t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS sw
        |  FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(w) AS BIGINT) AS n_words,
        |       CAST(sum(sw) AS BIGINT) AS n_subwords,
        |       round(CAST(sum(sw) AS BIGINT)::DOUBLE
        |         / CAST(sum(w) AS BIGINT)::DOUBLE, 6) AS fertility
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "t_boilerplate_suffix" ->
      """WITH sfx AS (
        |  SELECT array_to_string(toks[greatest(len(toks) - 2, 1):], ' ')
        |    AS suffix
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)),
        |cnt AS (
        |  SELECT suffix, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM sfx GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
        |SELECT suffix, n_docs,
        |       round(n_docs::DOUBLE / n_total::DOUBLE, 6) AS share
        |FROM cnt CROSS JOIN tot
        |ORDER BY n_docs DESC, suffix LIMIT 10""".stripMargin,
    "t_vocab_growth" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         CAST(row_number() OVER (
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |           AS rk
        |  FROM documents),
        |post AS (
        |  SELECT tok, min(rk) AS first_rk
        |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
        |          AS tok FROM documents) p
        |  JOIN base USING (doc_id)
        |  GROUP BY tok),
        |novel AS (
        |  SELECT first_rk AS rk, CAST(count(*) AS BIGINT) AS novel
        |  FROM post GROUP BY 1),
        |cums AS (
        |  SELECT b.rk,
        |         CAST(sum(b.n_tok) OVER (ORDER BY b.rk) AS BIGINT) AS cum_tok,
        |         CAST(sum(coalesce(n.novel, 0)) OVER (ORDER BY b.rk)
        |           AS BIGINT) AS cum_vocab
        |  FROM base b LEFT JOIN novel n ON n.rk = b.rk),
        |pts AS (
        |  SELECT rk, ln(cum_tok::DOUBLE) AS x, ln(cum_vocab::DOUBLE) AS y
        |  FROM cums),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         list_sum(list(x ORDER BY rk)) AS sx,
        |         list_sum(list(y ORDER BY rk)) AS sy,
        |         list_sum(list(x * y ORDER BY rk)) AS sxy,
        |         list_sum(list(x * x ORDER BY rk)) AS sxx,
        |         list_sum(list(y * y ORDER BY rk)) AS syy
        |  FROM pts),
        |tot AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
        |  FROM (SELECT unnest(list_distinct(string_split(text, ' '))) AS tok
        |        FROM documents))
        |SELECT n AS n_docs, vocab_size,
        |       round((n::DOUBLE * sxy - sx * sy)
        |         / (n::DOUBLE * sxx - sx * sx), 6) AS beta,
        |       round((sy - (n::DOUBLE * sxy - sx * sy)
        |           / (n::DOUBLE * sxx - sx * sx) * sx) / n::DOUBLE, 6) AS ln_k,
        |       round((n::DOUBLE * sxy - sx * sy) * (n::DOUBLE * sxy - sx * sy)
        |         / ((n::DOUBLE * sxx - sx * sx)
        |            * (n::DOUBLE * syy - sy * sy)), 6) AS r2
        |FROM m CROSS JOIN tot""".stripMargin,
    "t_jaccard_threshold_sweep" ->
      """WITH tokens AS (
        |  SELECT doc_id, lang, source,
        |         unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tokens GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM tokens a JOIN tokens b
        |    ON a.tok = b.tok AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2,
        |         CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON d1 = sa.doc_id
        |  JOIN sizes sb ON d2 = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5),
        |sweep AS (
        |  SELECT d1, d2, jaccard, t.threshold
        |  FROM pairs CROSS JOIN (
        |    SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[]))
        |      AS threshold) t
        |  WHERE jaccard >= t.threshold),
        |np AS (
        |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM sweep GROUP BY 1),
        |nd AS (
        |  SELECT threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_dup_docs
        |  FROM (SELECT threshold, d1 AS doc FROM sweep
        |        UNION ALL SELECT threshold, d2 FROM sweep)
        |  GROUP BY 1)
        |SELECT threshold, n_pairs, n_dup_docs
        |FROM np JOIN nd USING (threshold)
        |ORDER BY threshold""".stripMargin,
    "t_langid_confusion" -> {
      // the TF.langId heuristic replayed in SQL (marker-hit argmax,
      // score-desc + first-lang tiebreak — the t_langid oracle's form)
      val langIdSql =
        """(SELECT l FROM (VALUES
          |     ('de', len(list_filter(toks, t -> t IN ('der','die','und','ist','das','nicht')))),
          |     ('en', len(list_filter(toks, t -> t IN ('the','and','of','to','is','in')))),
          |     ('es', len(list_filter(toks, t -> t IN ('el','la','de','que','los','una')))),
          |     ('fr', len(list_filter(toks, t -> t IN ('le','la','et','les','des','est')))),
          |     ('pt', len(list_filter(toks, t -> t IN ('o','a','de','que','não','uma'))))
          |   ) s(l, sc) ORDER BY sc DESC, l LIMIT 1)""".stripMargin
      s"""WITH pred AS (
         |  SELECT lang, $langIdSql AS predicted
         |  FROM (SELECT lang, string_split_regex(lower(text), '\\s+') AS toks
         |        FROM documents)),
         |diag AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS tp
         |  FROM pred WHERE lang = predicted GROUP BY 1),
         |act AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_actual
         |  FROM pred GROUP BY 1),
         |prd AS (
         |  SELECT predicted AS lang, CAST(count(*) AS BIGINT) AS n_predicted
         |  FROM pred GROUP BY 1)
         |SELECT coalesce(a.lang, p.lang) AS lang,
         |       coalesce(a.n_actual, 0) AS n_actual,
         |       coalesce(p.n_predicted, 0) AS n_predicted,
         |       coalesce(d.tp, 0) AS tp,
         |       CASE WHEN coalesce(p.n_predicted, 0) > 0 THEN
         |         round(coalesce(d.tp, 0)::DOUBLE / p.n_predicted::DOUBLE, 6)
         |       END AS precision,
         |       CASE WHEN coalesce(a.n_actual, 0) > 0 THEN
         |         round(coalesce(d.tp, 0)::DOUBLE / a.n_actual::DOUBLE, 6)
         |       END AS recall,
         |       CASE WHEN coalesce(p.n_predicted, 0)
         |              + coalesce(a.n_actual, 0) > 0 THEN
         |         round(2.0 * coalesce(d.tp, 0)::DOUBLE
         |           / (coalesce(p.n_predicted, 0)
         |              + coalesce(a.n_actual, 0))::DOUBLE, 6)
         |       END AS f1
         |FROM act a
         |FULL OUTER JOIN prd p ON p.lang = a.lang
         |LEFT JOIN diag d ON d.lang = coalesce(a.lang, p.lang)
         |ORDER BY lang""".stripMargin
    },
    "t_term_burstiness" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |mom AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df,
        |         CAST(sum(tf) AS BIGINT) AS st,
        |         CAST(sum(tf * tf) AS BIGINT) AS stt
        |  FROM tf GROUP BY 1 HAVING count(*) >= 5)
        |SELECT term, df, st AS total_tf,
        |       round((stt::DOUBLE / n_docs::DOUBLE
        |           - (st::DOUBLE / n_docs::DOUBLE)
        |             * (st::DOUBLE / n_docs::DOUBLE))
        |         / (st::DOUBLE / n_docs::DOUBLE), 6) AS burstiness
        |FROM mom CROSS JOIN n
        |ORDER BY burstiness DESC, term LIMIT 20""".stripMargin,
    "t_dup_quality_bias" -> {
      // quality micro-units: the t_dataset_card twin of TF.qualityScore
      val qual =
        """qual AS (
          |  SELECT doc_id,
          |         CAST(floor(
          |           (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |             * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
          |                     / CAST(n_tokens AS DOUBLE), 10.0) / 10.0
          |           * 1000000.0) AS BIGINT) AS q
          |  FROM (SELECT doc_id, text,
          |               len(string_split(text, ' ')) AS n_tokens,
          |               len(list_filter(string_split(text, ' '),
          |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
          |        FROM documents))""".stripMargin
      s"""WITH ${DedupQueries.minhashCtes},
         |$qual,
         |dup AS (
         |  SELECT DISTINCT doc FROM (
         |    SELECT d1 AS doc FROM lshp UNION ALL SELECT d2 FROM lshp)),
         |flagged AS (
         |  SELECT q.doc_id, q.q,
         |         CASE WHEN dup.doc IS NOT NULL THEN TRUE ELSE FALSE END
         |           AS is_dup
         |  FROM qual q LEFT JOIN dup ON dup.doc = q.doc_id),
         |m AS (
         |  SELECT is_dup, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(q) AS BIGINT) AS sq,
         |         sum(CAST(q AS DECIMAL(38,0)) * q) AS sqq
         |  FROM flagged GROUP BY 1),
         |mm AS (
         |  SELECT is_dup, n,
         |         sq::DOUBLE / n::DOUBLE / 1000000.0 AS mean,
         |         (sqq::DOUBLE - sq::DOUBLE * sq::DOUBLE / n::DOUBLE)
         |           / (n::DOUBLE - 1.0) / 1e12 AS vr
         |  FROM m)
         |SELECT dup.n AS n_dup, sing.n AS n_single,
         |       round(dup.mean, 6) AS mean_quality_dup,
         |       round(sing.mean, 6) AS mean_quality_single,
         |       round((dup.mean - sing.mean)
         |         / sqrt(dup.vr / dup.n::DOUBLE
         |             + sing.vr / sing.n::DOUBLE), 6) AS welch_t
         |FROM (SELECT * FROM mm WHERE is_dup) dup
         |CROSS JOIN (SELECT * FROM mm WHERE NOT is_dup) sing""".stripMargin
    },
    "t_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, toks[i] AS w, CAST(i AS BIGINT) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  CROSS JOIN unnest(range(1, len(toks) + 1)) AS r(i)),
        |lm AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM toks),
        |nll AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |         round(list_sum(list(-ln(c::DOUBLE / t::DOUBLE)
        |           ORDER BY pos)) / CAST(count(*) AS DOUBLE), 6) AS h
        |  FROM toks JOIN lm USING (w) CROSS JOIN tot
        |  GROUP BY doc_id),
        |ranked AS (
        |  SELECT doc_id, n_tok, h,
        |         CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS n,
        |         CAST(floor(h * 1000000.0) AS BIGINT) AS h_micro
        |  FROM nll)
        |SELECT CASE WHEN rk * 3 <= n THEN 'head'
        |            WHEN rk * 3 <= n * 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(sum(h_micro) AS DOUBLE) / 1000000.0
        |         / CAST(count(*) AS DOUBLE) AS mean_h,
        |       CAST(min(h_micro) AS DOUBLE) / 1000000.0 AS min_h,
        |       CAST(max(h_micro) AS DOUBLE) / 1000000.0 AS max_h
        |FROM ranked GROUP BY 1 ORDER BY bucket""".stripMargin,
    "t_char_bigram_entropy" ->
      """WITH bg AS (
        |  SELECT lang, text[i:i+1] AS bg
        |  FROM documents
        |  CROSS JOIN unnest(range(1, length(text))) AS r(i)),
        |cnt AS (
        |  SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS t,
        |         CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM cnt GROUP BY 1),
        |h AS (
        |  SELECT lang, t, n_distinct,
        |         list_sum(list(-(c::DOUBLE / t::DOUBLE)
        |           * ln(c::DOUBLE / t::DOUBLE) ORDER BY bg)) AS h
        |  FROM cnt JOIN tot USING (lang)
        |  GROUP BY lang, t, n_distinct)
        |SELECT lang, t AS n_bigrams, n_distinct,
        |       round(h, 6) AS entropy,
        |       round(h / ln(n_distinct::DOUBLE), 6) AS normalized
        |FROM h ORDER BY lang""".stripMargin,
    "t_neyman_allocation" ->
      s"""WITH m AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(q) AS BIGINT) AS sq,
         |         sum(CAST(q AS DECIMAL(38,0)) * q) AS sqq
         |  FROM (SELECT lang,
         |               CAST(floor(
         |                 (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |                   * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
         |                           / CAST(n_tokens AS DOUBLE), 10.0) / 10.0
         |                 * 1000000.0) AS BIGINT) AS q
         |        FROM (SELECT lang, text,
         |                     len(string_split(text, ' ')) AS n_tokens,
         |                     len(list_filter(string_split(text, ' '),
         |                         t -> t IN ('the','a','of','and','to'))) AS n_stops
         |              FROM documents))
         |  GROUP BY lang),
         |sdv AS (
         |  SELECT lang, n,
         |         sqrt((sqq::DOUBLE - sq::DOUBLE * sq::DOUBLE / n::DOUBLE)
         |           / (n::DOUBLE - 1.0)) / 1000000.0 AS sd
         |  FROM m),
         |wg AS (SELECT lang, n, sd, n::DOUBLE * sd AS wgt FROM sdv),
         |tot AS (SELECT list_sum(list(wgt ORDER BY lang)) AS sw FROM wg),
         |sh AS (
         |  SELECT lang, n, sd, wgt / sw AS share,
         |         $NeymanBudget.0 * (wgt / sw) AS exact,
         |         CAST(floor($NeymanBudget.0 * (wgt / sw)) AS BIGINT) AS base,
         |         $NeymanBudget.0 * (wgt / sw)
         |           - floor($NeymanBudget.0 * (wgt / sw)) AS rem
         |  FROM wg CROSS JOIN tot),
         |lo AS (SELECT $NeymanBudget - CAST(sum(base) AS BIGINT) AS k FROM sh),
         |rk AS (
         |  SELECT lang, n, sd, share, base, k,
         |         CAST(row_number() OVER (ORDER BY rem DESC, lang) AS BIGINT)
         |           AS rrk
         |  FROM sh CROSS JOIN lo)
         |SELECT lang, n AS n_docs, round(sd, 6) AS sd,
         |       round(share, 6) AS share,
         |       CAST(base + CASE WHEN rrk <= k THEN 1 ELSE 0 END AS BIGINT)
         |         AS n_alloc
         |FROM rk ORDER BY lang""".stripMargin,
    "t_t_closeness" ->
      """WITH base AS (
        |  SELECT lang, source,
        |         CAST(least(floor(
        |           (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |             * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
        |                     / CAST(n_tokens AS DOUBLE), 10.0) / 10.0
        |           * 10.0), 9.0) AS BIGINT) AS dec
        |  FROM (SELECT lang, source, text,
        |               len(string_split(text, ' ')) AS n_tokens,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |cells AS (
        |  SELECT lang, source, dec, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2, 3),
        |celltot AS (
        |  SELECT lang, source, CAST(sum(c) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2),
        |gdist AS (SELECT dec, CAST(count(*) AS BIGINT) AS g FROM base GROUP BY 1),
        |gdtot AS (SELECT CAST(count(*) AS BIGINT) AS gt FROM base),
        |grid AS (
        |  SELECT ct.lang, ct.source, ct.n, dd.dec
        |  FROM celltot ct CROSS JOIN (
        |    SELECT unnest(range(0, 10)) AS dec) dd),
        |mass AS (
        |  SELECT gr.lang, gr.source, gr.n, gr.dec,
        |         coalesce(ce.c, 0)::DOUBLE / gr.n::DOUBLE AS p,
        |         coalesce(gl.g, 0)::DOUBLE / gt.gt::DOUBLE AS q
        |  FROM grid gr
        |  LEFT JOIN cells ce ON ce.lang = gr.lang AND ce.source = gr.source
        |    AND ce.dec = gr.dec
        |  LEFT JOIN gdist gl ON gl.dec = gr.dec
        |  CROSS JOIN gdtot gt),
        |cum AS (
        |  SELECT lang, source, n, dec,
        |         abs(sum(p - q) OVER (PARTITION BY lang, source ORDER BY dec
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |           AS cumdiff
        |  FROM mass),
        |emd AS (
        |  SELECT lang, source, n,
        |         list_sum(list(cumdiff ORDER BY dec)) AS emd_sum
        |  FROM cum GROUP BY 1, 2, 3)
        |SELECT lang, source, n AS n_docs,
        |       round(emd_sum / 9.0, 6) AS t_closeness,
        |       emd_sum / 9.0 > 0.3 AS breach
        |FROM emd ORDER BY lang, source""".stripMargin,
    "t_quality_logreg" ->
      s"""WITH c4 AS (SELECT * FROM (
         |${tC4FiltersOracle}
         |)),
         |f AS (
         |  SELECT doc_id, ln(1.0 + CAST(n_tokens AS DOUBLE)) AS x1,
         |         avg_word_len AS x2,
         |         CASE WHEN keep THEN 1.0 ELSE 0.0 END AS y
         |  FROM c4),
         |s0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         |$logregStepCtes,
         |out AS (
         |${(1 to LogregSteps).map(k =>
        s"  SELECT $k AS step, w0, w1, w2, loss, accuracy FROM s$k")
        .mkString("\n  UNION ALL\n")}
         |)
         |SELECT CAST(step AS BIGINT) AS step,
         |       round(w0, 6) AS w_bias,
         |       round(w1, 6) AS w_log_tokens,
         |       round(w2, 6) AS w_avg_word_len,
         |       round(loss, 6) AS log_loss,
         |       round(accuracy, 6) AS accuracy
         |FROM out ORDER BY step""".stripMargin,
    "t_dp_topk" ->
      s"""WITH cnt AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS true_count
         |  FROM (SELECT unnest(string_split(text, ' ')) AS token
         |        FROM documents)
         |  GROUP BY 1),
         |scored AS (
         |  SELECT token, true_count,
         |         $DpEps * true_count::DOUBLE / 2.0
         |           + (-ln(-ln((${hex15("token")}::DOUBLE + 0.5)
         |               / 1152921504606846976.0))) AS dp_score
         |  FROM cnt),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY dp_score DESC, token)
         |    AS rank
         |  FROM scored)
         |SELECT CAST(rank AS BIGINT) AS rank, token, true_count,
         |       round(dp_score, 6) AS dp_score, $DpEps AS epsilon
         |FROM rk WHERE rank <= $DpTopK ORDER BY rank""".stripMargin,
    "t_data_card" ->
      s"""WITH dcs AS (
         |  SELECT doc_id, lang, source, text,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |  FROM documents),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |         CAST(sum(nt) AS BIGINT) AS n_tokens,
         |         CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts
         |  FROM dcs),
         |st AS (
         |  SELECT (count(*) + 1) // 2 AS lo, (count(*) + 2) // 2 AS hi
         |  FROM dcs),
         |r1 AS (
         |  SELECT nt, row_number() OVER (ORDER BY nt, doc_id) AS rk
         |  FROM dcs),
         |med AS (
         |  SELECT sum(nt::DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS median_tokens
         |  FROM r1 CROSS JOIN st WHERE rk >= lo AND rk <= hi),
         |c4 AS (
         |  SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_keep,
         |         CAST(count(*) AS BIGINT) AS n_gated
         |  FROM (
         |${tC4FiltersOracle}
         |  ))
         |SELECT n_docs, n_langs, n_sources, n_tokens,
         |       round(n_tokens::DOUBLE / n_docs::DOUBLE, 6) AS mean_tokens,
         |       median_tokens,
         |       n_docs - n_unique_texts AS n_exact_dup_docs,
         |       round((n_docs - n_unique_texts)::DOUBLE / n_docs::DOUBLE, 6)
         |         AS exact_dup_rate,
         |       round(n_keep::DOUBLE / n_gated::DOUBLE, 6) AS c4_keep_rate
         |FROM agg CROSS JOIN med CROSS JOIN c4""".stripMargin,
    "pipeline_corpus_build" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
         |nodes AS (SELECT DISTINCT d1 AS id FROM lshp UNION SELECT DISTINCT d2 FROM lshp),
         |edges AS (SELECT d1 AS a, d2 AS b FROM lshp UNION SELECT d2, d1 FROM lshp),
         |reach(id, rep) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, r.rep FROM edges e JOIN reach r ON e.b = r.id),
         |dropn AS (
         |  SELECT id FROM (SELECT id, min(rep) AS rep FROM reach GROUP BY 1)
         |  WHERE rep <> id),
         |exact AS (
         |  SELECT doc_id, source, n_tok, u FROM (
         |    SELECT doc_id, source,
         |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |           (CAST(list_reduce(list_transform(
         |                string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
         |                c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |              (a, b) -> a * 16 + b) + 1 AS DOUBLE)
         |             / 4503599627370496.0) AS u,
         |           row_number() OVER (PARTITION BY md5(text)
         |             ORDER BY doc_id) AS rk
         |    FROM documents)
         |  WHERE rk = 1),
         |clean AS (
         |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT id FROM dropn)),
         |s AS (
         |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
         |         CAST(1 + (CAST(substr(source, 4) AS INT) % 4) AS INT) AS w
         |  FROM clean GROUP BY source),
         |t AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot,
         |             CAST(SUM(w) AS BIGINT) AS wsum FROM s),
         |p AS (
         |  SELECT source, CAST(floor(r) AS BIGINT) AS base_epochs,
         |         r - floor(r) AS frac
         |  FROM (SELECT s.*, tot * w / wsum / src_tokens AS r FROM s, t)),
         |planned AS (
         |  SELECT c.doc_id, c.n_tok,
         |         p.base_epochs + CASE WHEN c.u < p.frac THEN 1 ELSE 0 END
         |           AS epochs
         |  FROM clean c JOIN p USING (source)),
         |inst AS (
         |  SELECT doc_id, n_tok, unnest(range(1, epochs + 1)) AS epoch
         |  FROM planned WHERE epochs > 0),
         |keyed AS (
         |  SELECT doc_id, n_tok, epoch,
         |         md5(CAST(doc_id AS VARCHAR) || ':'
         |             || CAST(epoch AS VARCHAR)) AS key
         |  FROM inst),
         |binned AS (
         |  SELECT doc_id, n_tok, epoch, substr(key, 1, 1) AS shard,
         |         CAST(floor((SUM(n_tok) OVER (PARTITION BY substr(key, 1, 1)
         |             ORDER BY key, doc_id, epoch
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             - n_tok) / $PackTarget.0) AS BIGINT) AS bin
         |  FROM keyed)
         |SELECT shard, CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |       CAST(SUM(doc_id * epoch) AS BIGINT) AS member_checksum
         |FROM binned GROUP BY 1 ORDER BY shard""".stripMargin,
    // the UNCAPPED ideal join — tier routing must be invisible
    "t_contamination_full" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |                IN ('c', 'd') THEN 'val'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |                IN ('e', 'f') THEN 'test'
        |              ELSE 'train' END AS split,
        |         unnest(list_distinct(shingles)) AS sh
        |  FROM (SELECT doc_id, text,
        |               CASE WHEN len(toks) < 13 THEN [text]
        |                    ELSE list_transform(range(1, len(toks) - 11),
        |                           i -> array_to_string(toks[i:i+12], ' '))
        |               END AS shingles
        |        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        |              FROM documents)))
        |SELECT a.split AS split_from, b.split AS split_to,
        |       CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_leaky_docs,
        |       CAST(count(DISTINCT a.sh) AS BIGINT) AS n_shared_grams
        |FROM g a JOIN g b ON a.sh = b.sh AND a.split <> b.split
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_pack_efficiency" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         |         md5(CAST(doc_id AS VARCHAR)) AS key,
         |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
         |  FROM documents),
         |binned AS (
         |  SELECT shard,
         |         CAST(floor((SUM(n_tok) OVER (PARTITION BY shard
         |             ORDER BY key, doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             - n_tok) / $PackTarget.0) AS BIGINT) AS bin,
         |         n_tok
         |  FROM keyed),
         |bins AS (
         |  SELECT shard, bin, SUM(n_tok) AS bin_tokens
         |  FROM binned GROUP BY 1, 2)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
         |       CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
         |       CAST(ceil(SUM(bin_tokens)::DOUBLE / $PackTarget.0) AS BIGINT)
         |         AS ideal_bins,
         |       CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
         |       round(SUM(bin_tokens)::DOUBLE
         |         / (count(*)::DOUBLE * $PackTarget.0), 6) AS fill_ratio
         |FROM bins GROUP BY shard ORDER BY shard""".stripMargin,
    "t_curriculum_phases" ->
      """WITH scored AS (
        |  SELECT lang, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         (1.0 - CAST(n_stops AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |           * least(CAST(length(text) - n_tokens + 1 AS DOUBLE)
        |                   / CAST(n_tokens AS DOUBLE), 10.0) / 10.0 AS q
        |  FROM (SELECT lang, doc_id, text,
        |               len(string_split(text, ' ')) AS n_tokens,
        |               len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','to'))) AS n_stops
        |        FROM documents)),
        |phased AS (
        |  SELECT lang, n_tok, q,
        |         CAST(ntile(4) OVER (PARTITION BY lang
        |           ORDER BY q, doc_id) AS BIGINT) AS phase
        |  FROM scored)
        |SELECT lang, phase, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       round(min(q), 6) AS min_quality,
        |       round(max(q), 6) AS max_quality
        |FROM phased GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_mattr" -> {
      val W = MattrW
      s"""WITH tk AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
         |pos0 AS (
         |  SELECT doc_id, lang, unnest(range(1, len(ts) + 1)) AS p, ts
         |  FROM tk),
         |tok AS (
         |  SELECT doc_id, lang, CAST(p AS BIGINT) AS p, ts[p] AS tok
         |  FROM pos0),
         |prv AS (
         |  SELECT *, lag(p) OVER (PARTITION BY doc_id, tok ORDER BY p)
         |    AS prev
         |  FROM tok),
         |ev AS (
         |  SELECT doc_id, p AS q, CAST(1 AS BIGINT) AS delta FROM prv
         |  WHERE prev IS NOT NULL AND p - prev <= $W - 1
         |  UNION ALL
         |  SELECT doc_id, prev + $W, CAST(-1 AS BIGINT) FROM prv
         |  WHERE prev IS NOT NULL AND p - prev <= $W - 1),
         |dl AS (
         |  SELECT doc_id, q, CAST(sum(delta) AS BIGINT) AS delta
         |  FROM ev GROUP BY 1, 2),
         |cum AS (
         |  SELECT t.doc_id, t.lang, t.p, t.tok,
         |         CAST(sum(coalesce(dl.delta, 0))
         |           OVER (PARTITION BY t.doc_id ORDER BY t.p) AS BIGINT)
         |           AS dup
         |  FROM tok t LEFT JOIN dl ON dl.doc_id = t.doc_id AND dl.q = t.p),
         |perdoc AS (
         |  SELECT doc_id, any_value(lang) AS lang,
         |         CAST(max(p) AS BIGINT) AS n,
         |         CAST(count(DISTINCT tok) AS BIGINT) AS ndist,
         |         CAST(sum(CASE WHEN p >= $W THEN dup ELSE 0 END) AS BIGINT)
         |           AS sumdup
         |  FROM cum GROUP BY 1),
         |m AS (
         |  SELECT doc_id, lang, n < $W AS short,
         |         CASE WHEN n >= $W
         |              THEN CAST($W * (n - $W + 1) - sumdup AS DOUBLE)
         |                   / CAST($W * (n - $W + 1) AS DOUBLE)
         |              ELSE CAST(ndist AS DOUBLE) / CAST(n AS DOUBLE) END
         |           AS mattr
         |  FROM perdoc)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN short THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_short_docs,
         |       round(list_sum(list(mattr ORDER BY doc_id))
         |         / CAST(count(*) AS DOUBLE), 6) AS mean_mattr
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "t_hill_diversity" ->
      """WITH tc AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang, c, CAST(count(*) AS BIGINT) AS m
        |  FROM tc GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang, CAST(sum(m) AS BIGINT) AS richness,
        |         CAST(sum(m * c) AS BIGINT) AS t,
        |         CAST(sum(m * c * c) AS BIGINT) AS sc2,
        |         list_sum(list(CAST(m AS DOUBLE) * CAST(c AS DOUBLE)
        |           * ln(CAST(c AS DOUBLE)) ORDER BY c)) AS sclnc
        |  FROM prof GROUP BY 1)
        |SELECT lang, richness, t AS total_tokens,
        |       round(exp(ln(CAST(t AS DOUBLE)) - sclnc / CAST(t AS DOUBLE)),
        |         6) AS hill1,
        |       round(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
        |         / CAST(sc2 AS DOUBLE), 6) AS hill2,
        |       round((ln(CAST(t AS DOUBLE)) - sclnc / CAST(t AS DOUBLE))
        |         / ln(CAST(richness AS DOUBLE)), 6) AS evenness
        |FROM agg ORDER BY lang""".stripMargin,
    "t_char_entropy_gate" ->
      s"""WITH cc AS (
         |  SELECT doc_id, lang, ch, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, '')) AS ch
         |        FROM documents)
         |  GROUP BY 1, 2, 3),
         |pd AS (
         |  SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS len,
         |         list_sum(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
         |           ORDER BY ch)) AS sclnc
         |  FROM cc GROUP BY 1, 2),
         |h AS (
         |  SELECT doc_id, lang,
         |         ln(CAST(len AS DOUBLE)) - sclnc / CAST(len AS DOUBLE) AS h
         |  FROM pd)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN h < $EntLo THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_repetitive,
         |       CAST(sum(CASE WHEN h > $EntHi THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_noise,
         |       round(CAST(count(*)
         |           - sum(CASE WHEN h < $EntLo THEN 1 ELSE 0 END)
         |           - sum(CASE WHEN h > $EntHi THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
         |       round(list_sum(list(h ORDER BY doc_id))
         |         / CAST(count(*) AS DOUBLE), 6) AS mean_entropy
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_semantic_leakage" ->
      """WITH emb0 AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |         round(list_sum(list_transform(range(1, len(a.emb) + 1),
        |             i -> a.emb[i] * b.emb[i]))
        |           / (sqrt(list_sum(list_transform(
        |                range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
        |              * sqrt(list_sum(list_transform(
        |                range(1, len(b.emb) + 1),
        |                i -> b.emb[i] * b.emb[i])))), 6) AS cosine,
        |         list_sum(list_transform(range(1, len(a.emb) + 1),
        |             i -> a.emb[i] * b.emb[i]))
        |           / (sqrt(list_sum(list_transform(
        |                range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
        |              * sqrt(list_sum(list_transform(
        |                range(1, len(b.emb) + 1),
        |                i -> b.emb[i] * b.emb[i])))) AS cos_raw
        |  FROM emb0 a JOIN emb0 b
        |    ON a.label = b.label AND a.vec_id < b.vec_id),
        |sp AS (
        |  SELECT v1, v2, cosine,
        |         CASE WHEN substr(md5(CAST(v1 AS VARCHAR)), 1, 1)
        |                IN ('c','d') THEN 'val'
        |              WHEN substr(md5(CAST(v1 AS VARCHAR)), 1, 1)
        |                IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS sp1,
        |         CASE WHEN substr(md5(CAST(v2 AS VARCHAR)), 1, 1)
        |                IN ('c','d') THEN 'val'
        |              WHEN substr(md5(CAST(v2 AS VARCHAR)), 1, 1)
        |                IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS sp2
        |  FROM pairs WHERE cos_raw >= 0.4),
        |leaks AS (
        |  SELECT CASE WHEN sp1 = 'train' THEN v2 ELSE v1 END AS doc_id,
        |         CASE WHEN sp1 = 'train' THEN sp2 ELSE sp1 END AS split,
        |         cosine
        |  FROM sp
        |  WHERE sp1 <> sp2 AND (sp1 = 'train' OR sp2 = 'train'))
        |SELECT doc_id, split, CAST(count(*) AS BIGINT) AS n_train_neighbors,
        |       max(cosine) AS max_train_cosine
        |FROM leaks GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "t_unigram_kl" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |st AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |per_source AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS ns,
        |         CAST(count(*) AS BIGINT) AS vocab_s
        |  FROM st GROUP BY 1),
        |per_tok AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1),
        |total AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM st),
        |contrib AS (
        |  SELECT st.source, ps.ns, ps.vocab_s,
        |         CAST(floor((CAST(st.c AS DOUBLE) / CAST(ps.ns AS DOUBLE))
        |           * ln((CAST(st.c AS DOUBLE) * CAST(t.nn AS DOUBLE))
        |             / (CAST(ps.ns AS DOUBLE) * CAST(pt.ct AS DOUBLE)))
        |           * 1.0e9) AS BIGINT) AS kq
        |  FROM st
        |  JOIN per_source ps ON st.source = ps.source
        |  JOIN per_tok pt ON st.tok = pt.tok
        |  CROSS JOIN total t)
        |SELECT source, ns AS n_tokens, vocab_s AS vocab_terms,
        |       round(CAST(sum(kq) AS DOUBLE) / 1.0e9, 6) AS kl_nats
        |FROM contrib GROUP BY source, ns, vocab_s
        |ORDER BY source""".stripMargin,
    "t_fim_split" ->
      s"""WITH docs AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len
         |  FROM documents WHERE length(text) >= 10),
         |cuts AS (
         |  SELECT doc_id, len,
         |         CAST(floor(CAST(len AS DOUBLE) * (0.1 + 0.4 *
         |           ${u60Sql("CAST(doc_id AS VARCHAR) || ':fim1'")}))
         |           AS BIGINT) AS cut1,
         |         ${u60Sql("CAST(doc_id AS VARCHAR) || ':fim2'")} AS u2
         |  FROM docs),
         |c2 AS (
         |  SELECT doc_id, len, cut1,
         |         cut1 + CAST(floor(CAST(len - cut1 AS DOUBLE)
         |           * (0.3 + 0.4 * u2)) AS BIGINT) AS cut2
         |  FROM cuts)
         |SELECT doc_id, len AS len_chars, cut1 AS prefix_len,
         |       cut2 - cut1 AS middle_len, len - cut2 AS suffix_len
         |FROM c2 ORDER BY doc_id""".stripMargin,
    "t_mlm_masking" ->
      s"""WITH toks AS (
         |  SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS tok
         |  FROM documents,
         |       unnest(range(1, len(string_split(text, ' ')) + 1))
         |         AS u(i)),
         |dec AS (
         |  SELECT doc_id,
         |         ${u60Sql("CAST(doc_id AS VARCHAR) || ':' ||" +
                  " CAST(pos AS VARCHAR) || ':' || tok")} AS u,
         |         ${u60Sql("CAST(doc_id AS VARCHAR) || ':' ||" +
                  " CAST(pos AS VARCHAR) || ':act'")} AS v
         |  FROM toks),
         |fl AS (
         |  SELECT doc_id,
         |         CASE WHEN u < 0.15 THEN 1 ELSE 0 END AS masked,
         |         CASE WHEN u < 0.15 AND v < 0.8 THEN 1 ELSE 0 END
         |           AS a_mask,
         |         CASE WHEN u < 0.15 AND v >= 0.8 AND v < 0.9 THEN 1
         |              ELSE 0 END AS a_rand,
         |         CASE WHEN u < 0.15 AND v >= 0.9 THEN 1 ELSE 0 END
         |           AS a_keep
         |  FROM dec)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(masked) AS BIGINT) AS n_masked,
         |       CAST(sum(a_mask) AS BIGINT) AS n_mask_token,
         |       CAST(sum(a_rand) AS BIGINT) AS n_random_replace,
         |       CAST(sum(a_keep) AS BIGINT) AS n_kept_original,
         |       round(CAST(sum(masked) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE), 6) AS mask_rate
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_code_detect" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |         CAST(length(text) - length(translate(text, '{}[]()<>', ''))
        |           AS BIGINT) AS n_brace,
        |         CAST(length(text) - length(translate(text, ';=&|', ''))
        |           AS BIGINT) AS n_stmt,
        |         CAST(length(text) - length(translate(text, '_', ''))
        |           AS BIGINT) AS n_under,
        |         CAST(length(text)
        |           - length(translate(text, '0123456789', ''))
        |           AS BIGINT) AS n_digit
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, len, n_brace, n_stmt, n_under, n_digit,
        |       round(CAST(2 * n_brace + 2 * n_stmt + n_under + n_digit
        |           AS DOUBLE) / CAST(len AS DOUBLE), 6) AS code_score,
        |       CASE WHEN CAST(2 * n_brace + 2 * n_stmt + n_under + n_digit
        |           AS DOUBLE) / CAST(len AS DOUBLE)
        |           > 0.05 THEN 'code' ELSE 'prose' END AS verdict
        |FROM c ORDER BY doc_id""".stripMargin,
    "t_stump_split" ->
      s"""WITH $c4Cte,
         |grid AS (
         |  SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])
         |           AS threshold),
         |cells AS (
         |  SELECT g.threshold,
         |         CAST(sum(CASE WHEN l.n_tokens <= g.threshold
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_left,
         |         CAST(sum(CASE WHEN l.n_tokens <= g.threshold
         |           THEN l.y ELSE 0 END) AS BIGINT) AS pos_left,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(l.y) AS BIGINT) AS pos
         |  FROM lbl l CROSS JOIN grid g
         |  GROUP BY g.threshold),
         |scored AS (
         |  SELECT threshold, n_left, pos_left,
         |         n - n_left AS n_right, pos - pos_left AS pos_right,
         |         n, pos,
         |         (CASE WHEN pos = 0 OR pos = n THEN 0.0
         |          ELSE -(pos::DOUBLE / n::DOUBLE)
         |              * ln(pos::DOUBLE / n::DOUBLE)
         |            - (1.0 - pos::DOUBLE / n::DOUBLE)
         |              * ln(1.0 - pos::DOUBLE / n::DOUBLE) END)
         |         - (CASE WHEN n_left > 0 THEN (n_left::DOUBLE / n::DOUBLE)
         |            * (CASE WHEN pos_left = 0 OR pos_left = n_left
         |               THEN 0.0
         |               ELSE -(pos_left::DOUBLE / n_left::DOUBLE)
         |                   * ln(pos_left::DOUBLE / n_left::DOUBLE)
         |                 - (1.0 - pos_left::DOUBLE / n_left::DOUBLE)
         |                   * ln(1.0 - pos_left::DOUBLE / n_left::DOUBLE)
         |               END) ELSE 0.0 END)
         |         - (CASE WHEN n - n_left > 0
         |            THEN ((n - n_left)::DOUBLE / n::DOUBLE)
         |            * (CASE WHEN pos - pos_left = 0
         |                 OR pos - pos_left = n - n_left THEN 0.0
         |               ELSE -((pos - pos_left)::DOUBLE
         |                     / (n - n_left)::DOUBLE)
         |                   * ln((pos - pos_left)::DOUBLE
         |                     / (n - n_left)::DOUBLE)
         |                 - (1.0 - (pos - pos_left)::DOUBLE
         |                     / (n - n_left)::DOUBLE)
         |                   * ln(1.0 - (pos - pos_left)::DOUBLE
         |                     / (n - n_left)::DOUBLE) END)
         |            ELSE 0.0 END) AS ig_raw
         |  FROM cells)
         |SELECT CAST(rank AS INTEGER) AS rank,
         |       CAST(threshold AS BIGINT) AS threshold, n_left, pos_left,
         |       n_right, pos_right, ig
         |FROM (
         |  SELECT threshold, n_left, pos_left, n_right, pos_right,
         |         round(ig_raw, 6) AS ig,
         |         row_number() OVER (ORDER BY round(ig_raw, 6) DESC,
         |           threshold) AS rank
         |  FROM scored)
         |ORDER BY rank""".stripMargin)
}
