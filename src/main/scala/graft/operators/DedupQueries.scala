package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.QueryModule
import graft.functions.{Similarity, TextFunctions => TF}
import graft.sources.Tables
import ColumnIdioms._

/** Exact and near-duplicate detection over the documents corpus:
  * exact and normalized hashing, MinHash-LSH banding and its
  * estimators, prefix-filtered Jaccard joins, containment, n-gram and
  * exact-substring dedup (with its high-df tier), duplicate groups
  * and survivor selection, and audits of the dedup knobs.
  */
object DedupQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("dedup_")

  val dedupExact: Q = (s, dir) => Dedup.exactSummary(s, dir)

  val dedupJaccard: Q = (s, dir) => Dedup.jaccardPairs(s, dir, 0.9)

  val dedupNgramJaccard: Q = (s, dir) => Dedup.ngramJaccardPairs(s, dir, 3, 0.5)

  val dedupEmbeddingCosine: Q = (s, dir) =>
    graft.functions.Similarity.cosineNearDupPairs(s, dir, 0.4)

  // LSH bands generate candidates; exact-Jaccard verification makes
  // the output exact over the CANDIDATE set. Recall at the
  // J≈threshold margin is ~99%, not 100% (miss prob (1-J⁴)¹⁶ ≈ 1.2%
  // per borderline pair — sf0.1 produced ~10 such misses), so the
  // oracle REPLAYS signatures + banding in SQL over the same
  // portable md5 shingle hashes instead of assuming recall — the
  // repo-wide sketch-oracle rule. DedupSpec still measures recall
  // against the exact join independently.
  val dedupMinhashLsh: Q = (s, dir) =>
    Dedup.minhashLshPairs(s, dir, portableHashes = true)

  val dedupGroups: Q = (s, dir) =>
    Dedup.dupGroups(Dedup.minhashLshPairsRaw(s, dir, portableHashes = true))
      .select(col("canonical_id"), col("group_size"))

  // portable hashes → the oracle replays simhash end-to-end in SQL;
  // banding is lossless at maxDist=3 (4 bands), so output is the
  // exact Hamming≤3 pair set, not a candidate approximation
  val dedupSimhash: Q = (s, dir) =>
    Dedup.simhashPairs(s, dir, 3, portableHashes = true)

  // passage-level near-dup via winnowing fingerprints (see
  // Dedup.winnowPairs); the oracle replays fingerprint + inverted
  // index end-to-end in SQL
  val dedupWinnowPairs: Q = (s, dir) => Dedup.winnowPairs(s, dir)

  /** MinHash sketch-accuracy contract (the Jaccard analog of
    * a_approx_distinct's HLL contract): for every exact near-dup
    * pair, the 64-permutation signature estimate
    * (matching positions / k) is compared against the true Jaccard
    * at a 0.25 band (≈4.4σ at k=64, J≥0.7). The oracle REPLAYS the
    * estimate from its own sig CTE rather than pinning TRUE — at
    * corpus scale rare legitimate outliers exist (the sf1 probe
    * surfaced one ~4σ pair), so the contract "almost all pairs
    * within the band" lives in DedupSpec; the oracle checks both
    * engines agree on every per-pair boolean.
    */
  val dedupMinhashEst: Q = (s, dir) => {
    val sigs = docs(s, dir)
      .select(col("doc_id"),
        Dedup.minhashSignature(col("text"), 64, 3, portableHashes = true).as("sig"))
    val pairs = Dedup.minhashLshPairs(s, dir, portableHashes = true)
    pairs
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
      .withColumn("est",
        expr("aggregate(zip_with(s1, s2, (a, b) -> IF(a = b, 1, 0)), 0, (a, x) -> a + x)")
          .cast("double") / 64.0)
      .select(col("d1"), col("d2"), col("jaccard"),
        (abs(col("est") - col("jaccard")) <= 0.25).as("est_within_025"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Edit-distance near-dup pairs: levenshtein ≤ k over 40-char
    * prefixes within a (lang, source) block — but candidates come
    * from a q-gram filter, NEVER a block-quadratic join (fixed block
    * cardinality makes per-block pair counts quadratic in corpus
    * size; the one remaining 100×-scale killer flagged in round 7).
    *
    * The candidate rule is EXACT (zero false negatives), so the
    * result — and therefore the simple quadratic DuckDB oracle — is
    * unchanged; only the plan is. Gravano et al.'s q-gram count
    * filter: one edit destroys at most q q-grams, so
    * ed(A,B) ≤ k ⟹ multiset-overlap(G_q(A), G_q(B)) ≥ max(n_A,n_B) − k·q
    * (n = prefix_len − q + 1). Occurrence-numbering the grams turns
    * multiset overlap into plain set overlap, and the AllPairs
    * prefix-filter (rarest-df-first total order, index the first
    * n − T + 1 items) turns the overlap bound into a posting join.
    * Three exactness guards: (a) identical prefixes collapse into one
    * group first (duplicate mass never re-enters candidate gen — the
    * [[Dedup.prefixJaccardPairs]] design); (b) pairs where BOTH sides
    * have n ≤ k·q (the count bound is vacuous) meet in an explicit
    * short pool, quadratic only among ≤(k·q+q−1+1)-char prefixes and
    * further cut by the length filter; (c) |len_A − len_B| ≤ k prunes
    * candidates (lev ≥ length difference) without affecting recall.
    */
  val dedupEditDistance: Q = (s, dir) =>
    editDistancePairsOf(
      docs(s, dir).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"), col("source"),
          substring(col("text"), 1, 40).as("prefix")))

  /** DataFrame-level entry (any (doc_id, lang, source, prefix) input)
    * — the spec surface for randomized differential testing against
    * the quadratic blocked reference join. */
  def editDistancePairsOf(base: DataFrame, k: Int = 10, q: Int = 3): DataFrame = {
    val kq = k * q
    // stage 1: identical-prefix collapse within the block. NULL
    // prefixes drop first: the blocked reference join emits nothing
    // for them (levenshtein over NULL is NULL), but groupBy would
    // collapse them into one group and stage 4 would emit false
    // 0-distance pairs — the one place NULL handling diverges.
    val groups0 = base
      .filter(col("prefix").isNotNull)
      .groupBy(col("lang"), col("source"), col("prefix"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("gkey", md5(concat_ws("",
        col("lang"), col("source"), col("prefix"))))
      .withColumn("len", length(col("prefix")))
      // occurrence-numbered q-grams: "gram#occ" makes multiset
      // intersection a set intersection (count-filter soundness)
      .withColumn("grams0",
        when(col("len") < q, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), col("len") - (q - 1)),
            i => col("prefix").substr(i, lit(q)))))
      .withColumn("items", transform(col("grams0"), (g, i) =>
        concat(g, lit("#"),
          size(filter(slice(col("grams0"), lit(1), i + 1), x => x === g))
            .cast("string"))))
      .drop("grams0")
      .withColumn("n", size(col("items")))
      .transform(Barrier.materialize) // consumed by df-count, posting, verify, expand
    // stage 2: rarest-first global order (ascending document
    // frequency, ties by item text — selectivity only, any total
    // order is exact), then per-group indexed prefix of
    // p = n − max(n − k·q, 1) + 1 = min(n, k·q + 1) items
    val posting = groups0.select(col("gkey"), explode(col("items")).as("it"))
    val dfreq = posting.groupBy("it").agg(count(lit(1)).as("df"))
    val ordered = posting
      .join(dfreq, "it")
      .groupBy("gkey")
      .agg(transform(sort_array(collect_list(struct(col("df"), col("it")))),
        x => x.getField("it")).as("items_o"))
    val g2 = groups0.join(ordered, Seq("gkey"), "left")
      .withColumn("p", least(col("n"), lit(kq + 1)))
      .transform(Barrier.materialize)
    val idx = g2.filter(col("n") > 0)
      .select(col("gkey"), col("lang"), col("source"), col("len"),
        explode(slice(col("items_o"), lit(1), col("p"))).as("it"))
    val ia = idx.alias("ia"); val ib = idx.alias("ib")
    val candPrefix = ia.join(ib,
        col("ia.it") === col("ib.it") && col("ia.lang") === col("ib.lang") &&
        col("ia.source") === col("ib.source") &&
        col("ia.gkey") < col("ib.gkey") &&
        abs(col("ia.len") - col("ib.len")) <= k)
      .select(col("ia.gkey").as("g1"), col("ib.gkey").as("g2"))
    // short pool: both n ≤ k·q ⟹ the count bound gives nothing;
    // quadratic ONLY among these bounded-length prefixes (≤ k·q+q−1
    // chars), still blocked and length-filtered
    val shorts = g2.filter(col("n") <= kq)
      .select(col("gkey"), col("lang"), col("source"), col("len"))
    val sa = shorts.alias("sa"); val sb = shorts.alias("sb")
    val candShort = sa.join(sb,
        col("sa.lang") === col("sb.lang") &&
        col("sa.source") === col("sb.source") &&
        col("sa.gkey") < col("sb.gkey") &&
        abs(col("sa.len") - col("sb.len")) <= k)
      .select(col("sa.gkey").as("g1"), col("sb.gkey").as("g2"))
    val cand = candPrefix.union(candShort).distinct()
    // stage 3: levenshtein verifies CANDIDATES only
    val sets = g2.select(col("gkey"), col("prefix"))
    val verified = cand
      .join(sets.select(col("gkey").as("g1"), col("prefix").as("p1")), "g1")
      .join(sets.select(col("gkey").as("g2"), col("prefix").as("p2")), "g2")
      .withColumn("dist", levenshtein(col("p1"), col("p2")).cast("long"))
      .filter(col("dist") <= k)
      .select(col("g1"), col("g2"), col("dist"))
    // stage 4: expand groups back to doc pairs (identical prefixes →
    // distance 0 within a group; cross pairs inherit the rep distance)
    val m = g2.select(col("gkey"), explode(col("members")).as("doc_id"))
    val wx = m.alias("wx"); val wy = m.alias("wy")
    val within = wx.join(wy,
        col("wx.gkey") === col("wy.gkey") &&
        col("wx.doc_id") < col("wy.doc_id"))
      .select(col("wx.doc_id").as("d1"), col("wy.doc_id").as("d2"),
        lit(0L).as("edit_dist"))
    val cross = verified
      .join(m.select(col("gkey").as("g1"), col("doc_id").as("m1")), "g1")
      .join(m.select(col("gkey").as("g2"), col("doc_id").as("m2")), "g2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"),
        col("dist").as("edit_dist"))
    within.union(cross).orderBy(col("d1"), col("d2"))
  }

  /** Canonical-survivor resolution over the MinHash-LSH dup groups:
    * each near-dup cluster keeps its best member (longest text,
    * doc_id as the deterministic tiebreak) — the policy stage that
    * turns "groups found" into keep/drop decisions in a corpus
    * dedup. Survivor selection is a single min(struct) aggregate
    * (partial-aggregating, linear in members — no per-group window
    * sort), stacked on the same hybrid component machinery as
    * dedup_groups.
    */
  val dedupResolveBest: Q = (s, dir) => {
    val groups =
      Dedup.dupGroups(Dedup.minhashLshPairsRaw(s, dir, portableHashes = true))
    groups.select(col("canonical_id"), explode(col("members")).as("doc_id"))
      .join(docs(s, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("n_chars")).as("neg_chars"),
          col("doc_id").as("id"))).as("best"))
      .select(col("canonical_id"), col("n_members"),
        col("best.id").as("survivor_id"),
        (-col("best.neg_chars")).cast("long").as("survivor_chars"))
      .orderBy(col("canonical_id"))
  }

  /** Incremental LSH dedup: the new-batch (doc_id%10==0) slice
    * against the corpus band index — see
    * [[Dedup.minhashIncrementalHits]] for the 100 TB rationale. */
  val dedupIncremental: Q = (s, dir) => Dedup.minhashIncrementalHits(s, dir)

  /** Shared CTE chain replaying MinHash end-to-end in SQL: md5-60
    * shingle hashes → 64 permutation minima ((h&2³²⁻¹)·aᵢ+bᵢ mod
    * 2⁶¹-1, the exact constants of plans.MinHashSignature) → 16
    * four-row bands keyed by the signature slice → candidate pairs →
    * exact hash-set Jaccard ≥ 0.7. This runs the SAME candidate
    * generation as Dedup.minhashLshPairs(portableHashes=true), so
    * LSH recall (~99% at the threshold margin, NOT 100%) is
    * replayed, never assumed — at sf0.1 a full-pairwise oracle
    * disagreed on ~10 borderline pairs. */
  private[operators] val minhashCtes =
    """d0 AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shingles
      |  FROM d0),
      |hsl AS (
      |  SELECT doc_id, list_distinct(list_transform(shingles,
      |    s -> list_reduce(list_transform(string_split(substr(md5(s), 1, 15), ''),
      |           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |         (a, b) -> a * 16 + b))) AS hs
      |  FROM shl),
      |sig AS (
      |  SELECT doc_id, list_transform(range(0, 64), i ->
      |    list_min(list_transform(hs, h ->
      |      ((h & 4294967295) * (2 * i + 1000003) + (104729 * i + 780291637))
      |        % 2305843009213693951))) AS sig
      |  FROM hsl),
      |banded AS (
      |  SELECT doc_id, b, array_to_string(sig[4 * b + 1 : 4 * b + 4], ',') AS key
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
      |  FROM banded l JOIN banded r
      |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
      |sizes AS (SELECT doc_id, len(hs) AS n FROM hsl),
      |hflat AS (SELECT doc_id, unnest(hs) AS h FROM hsl),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM hflat a JOIN hflat b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |lshp AS (
      |  SELECT d1, d2, jaccard FROM (
      |    SELECT c.d1, c.d2,
      |           CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) AS jaccard
      |    FROM cand c
      |    JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
      |    JOIN sizes sa ON c.d1 = sa.doc_id
      |    JOIN sizes sb ON c.d2 = sb.doc_id)
      |  WHERE jaccard >= 0.7)""".stripMargin

  // ---------------------------------------------------------------
  // dedup_segments — segment-level exact duplicate spans (the
  // Lee-et-al "Deduplicating Training Data" shape, non-overlapping
  // 8-token segments): hash every segment, count corpus-wide
  // occurrences, report per-document duplicated-span mass. Only the
  // 32-char md5 keys ride the shuffle (never the text); at 100 TB
  // the df aggregation is the classic hash-partitioned count and the
  // join back is key-to-key.
  // ---------------------------------------------------------------
  val dedupSegments: Q = (s, dir) => {
    val segW = 8
    val tok = docs(s, dir).select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val segs = tok.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
      posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(toks)/$segW.0) as int) - 1)," +
          s" i -> concat_ws(' ', slice(toks, i*$segW+1, $segW)))")))
      .select(col("doc_id"), col("dl"), md5(col("col")).as("seg_key"),
        size(split(col("col"), " ")).cast("long").as("seg_len"))
    // corpus-wide occurrence count as a window over the segment key:
    // ONE hash shuffle on seg_key (vs groupBy + join-back = two
    // shuffles and a double scan of the exploded stream). Skew
    // caveat: WindowExec buffers each key's full partition, so a
    // boilerplate segment occurring billions of times at 100 TB
    // becomes one unbounded in-memory partition — for a corpus with
    // known hot segments, prefer the partial-aggregating
    // groupBy(seg_key) + join-back form (or salt the count and
    // re-merge); the window form is the right default only while
    // per-key cardinality stays bounded
    val withDf = segs.withColumn("seg_df",
      count(lit(1)).over(Window.partitionBy(col("seg_key"))))
    withDf
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("seg_df") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_dup_segments"),
        sum(when(col("seg_df") > 1, col("seg_len")).otherwise(0L)).cast("long")
          .as("dup_tokens"))
      .select(col("doc_id"), col("dl").as("n_tokens"), col("n_segments"),
        col("n_dup_segments"), col("dup_tokens"),
        (d(col("dup_tokens")) / d(col("dl"))).as("dup_token_frac"))
      .orderBy(col("doc_id"))
  }

  // Storage-grade dedup and robust statistics —
  // content-defined chunking (the rsync/LBFS/restic primitive, here
  // on token streams) with a corpus chunk-level dedup audit, and the
  // 5% winsorized mean of order values (exact order statistics
  // through the two-phase rank). All Spark-first with full-replay
  // DuckDB oracles.

  /** Shared CDC chunk frame: tokens posexplode, a token is a chunk
    * BOUNDARY when the last hex digit of its md5 is '0' (p = 1/16 ⇒
    * mean chunk ≈ 16 tokens — the content-defined rule that keeps
    * chunk edges stable under insertions, unlike fixed-width
    * splitting); chunk id = exclusive running boundary count within
    * the doc (per-doc window — partition-parallel). One chunk row
    * per (doc, chunk): pos-ordered text, md5 hash, token length. */
  private[operators] def chunks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), posexplode(TF.tokens(col("text")))
        .as(Seq("pos", "tok")))
      .withColumn("b", when(substring(md5(col("tok")), 32, 1) === "0", 1L)
        .otherwise(0L))
      .withColumn("cid", sum(col("b")).over(w) - col("b"))
      .groupBy(col("doc_id"), col("cid"))
      .agg(count(lit(1)).as("n_toks"),
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok)))," +
            " x -> x.tok)"))).as("chunk_hash"))
  }

  // ---------------------------------------------------------------
  // dedup_cdc_chunks — corpus chunk-store dedup audit: how much
  // would a content-addressed chunk store save on this corpus?
  // Total vs distinct chunk/token mass, the dedup ratio, and the
  // most-shared chunk (two-phase max(struct) argmax — no window).
  // The chunk frame shuffles once on chunk_hash; at 100 TB this is
  // exactly the restic/borg index build.
  // ---------------------------------------------------------------
  val dedupCdcChunks: Q = (s, dir) => {
    val byHash = chunks(s, dir)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("copies"), sum(col("n_toks")).as("toks"),
        min(col("n_toks")).as("one_copy_toks"))
    byHash.agg(
        sum(col("copies")).cast("long").as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("toks")).cast("long").as("total_tokens"),
        sum(col("one_copy_toks")).cast("long").as("stored_tokens"),
        max(struct(col("copies").as("c"), col("chunk_hash").as("h")))
          .as("top"))
      .select(col("total_chunks"), col("distinct_chunks"),
        round(d(col("distinct_chunks")) / d(col("total_chunks")), 6)
          .as("unique_ratio"),
        col("total_tokens"), col("stored_tokens"),
        round(lit(1.0) - d(col("stored_tokens")) / d(col("total_tokens")), 6)
          .as("savings_ratio"),
        col("top.c").cast("long").as("top_copies"),
        col("top.h").as("top_chunk_hash"))
  }

  private[operators] val chunkCtes =
    """tok AS (
      |  SELECT doc_id, tok, pos,
      |         CASE WHEN substr(md5(tok), 32, 1) = '0' THEN 1 ELSE 0 END AS b
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |               unnest(range(0, len(string_split(text, ' ')))) AS pos
      |        FROM documents)),
      |cid AS (
      |  SELECT doc_id, tok, pos,
      |         CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b
      |           AS BIGINT) AS cid
      |  FROM tok),
      |chunks AS (
      |  SELECT doc_id, cid, CAST(count(*) AS BIGINT) AS n_toks,
      |         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      |  FROM cid GROUP BY 1, 2)""".stripMargin

  // Normalization-invariant exact dedup (casefold +
  // whitespace/punctuation canonicalization before hashing — the
  // cheap tier between byte-exact and MinHash that catches
  // re-encodes), embedding anisotropy (Ethayarajh 2019 — the "common
  // direction" audit: expected random-pair cosine = ‖mean(x̂)‖², high
  // means cosine similarity is measuring the corpus, not the pair),
  // and a dup/quality selection-bias audit (are near-duplicates
  // systematically higher-quality than singletons? if yes, dedup
  // silently shifts the quality distribution). All Spark-first with
  // full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // dedup_normalized — exact dedup on the CANONICALIZED text:
  // lowercase, strip non-alphanumerics to spaces, collapse runs,
  // trim — the normalization under which "Foo,  bar!" ≡ "foo bar".
  // Reports per-group survivors (min doc_id) for groups of size > 1
  // — exactly the rows byte-exact dedup (dedup_exact) misses.
  // Scale shape: the canonical key is one codegen'd expression
  // (scan-local), one hash aggregate on the md5 key; no joins.
  // ---------------------------------------------------------------
  val dedupNormalized: Q = (s, dir) => {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " +", " "))
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), md5(canon).as("ckey"))
      .groupBy(col("ckey"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(col("doc_id")).as("survivor"),
        max(col("doc_id")).as("max_member"))
      .filter(col("n_members") > 1)
      .select(col("ckey"), col("n_members"), col("survivor"), col("max_member"))
      .orderBy(col("ckey"))
  }

  // CCNet-style perplexity bucketing (head/middle/
  // tail thirds by unigram cross-entropy — the split CCNet uses to
  // grade crawl quality before training), Lorenz concentration points
  // (the decile curve behind a_gini_revenue's single number), and a
  // dedup funnel report (byte-exact → normalized → MinHash near-dup:
  // each tier's MARGINAL catch — the table every curation writeup
  // publishes). All Spark-first with full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // dedup_funnel — the three-tier dedup funnel with marginal catch:
  // byte-exact (md5 of raw text), +normalized (casefold/punct
  // canonicalization — dedup_normalized's key), +near-dup (the
  // MinHash-LSH pair membership). Each tier reports docs flagged and
  // docs NEW vs all previous tiers — the marginal-value column that
  // justifies (or kills) each stage's cost. Scale shape: the two
  // hash tiers are scan + hash-aggregate; the LSH tier is the
  // registered banding machinery (linear); the set subtractions are
  // anti joins on doc_id.
  // ---------------------------------------------------------------
  val dedupFunnel: Q = (s, dir) => {
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("text")).transform(Barrier.materialize)
    def dupDocsByKey(key: Column): DataFrame =
      docs.select(col("doc_id"), key.as("k"))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
        .filter(col("n") > 1).select(col("doc_id"))
    val exact = dupDocsByKey(md5(col("text"))).transform(Barrier.materialize)
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " +", " "))
    val norm = dupDocsByKey(md5(canon)).transform(Barrier.materialize)
    val near = Dedup.minhashLshPairsRaw(s, dir, portableHashes = true)
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct().transform(Barrier.materialize)
    val t1 = exact.agg(count(lit(1)).cast("long").as("n_flagged"))
      .select(lit(1).as("tier"), lit("exact").as("method"), col("n_flagged"),
        col("n_flagged").as("n_new"))
    val normNew = norm.join(exact, Seq("doc_id"), "left_anti")
    val t2 = norm.agg(count(lit(1)).cast("long").as("n_flagged"))
      .crossJoin(broadcast(
        normNew.agg(count(lit(1)).cast("long").as("n_new"))))
      .select(lit(2).as("tier"), lit("normalized").as("method"),
        col("n_flagged"), col("n_new"))
    val prev = exact.unionAll(norm).distinct()
    val nearNew = near.join(prev, Seq("doc_id"), "left_anti")
    val t3 = near.agg(count(lit(1)).cast("long").as("n_flagged"))
      .crossJoin(broadcast(
        nearNew.agg(count(lit(1)).cast("long").as("n_new"))))
      .select(lit(3).as("tier"), lit("minhash_lsh").as("method"),
        col("n_flagged"), col("n_new"))
    t1.unionAll(t2).unionAll(t3).orderBy(col("tier"))
  }

  // The MinHash-LSH banding recall curve (empirical
  // catch rate per exact-Jaccard bucket vs the 1−(1−J^r)^b theory —
  // the measurement that justifies a banding configuration), cohort
  // retention decay (exponential fit + half-life over the pooled
  // k-day return rates), and Cohen's h effect size for the
  // weekend/weekday purchase-mix contrast (the magnitude language a
  // bare p-value lacks). All Spark-first with full-replay DuckDB
  // oracles.

  // ---------------------------------------------------------------
  // dedup_lsh_recall_curve — banding recall audit at the operating
  // threshold: ground truth = the registered exact 3-gram-Jaccard
  // pairs (dedup_ngram_jaccard's t=0.5 set), restricted to J ≥ 0.7
  // (the LSH verify threshold); per 0.05-wide J bucket, the fraction
  // caught by the registered MinHash-LSH pipeline vs the theoretical
  // s-curve 1−(1−m⁴)¹⁶ at the bucket midpoint (k=64, b=16, r=4).
  // Empirical ≪ theory = banding bug or hash skew; ≈ theory = the
  // configuration does what the math promises. Scale shape: both
  // legs are the registered linear machineries; the comparison is
  // one left join on the (already small) pair sets + a ≤6-bucket
  // aggregate.
  // ---------------------------------------------------------------
  val dedupLshRecallCurve: Q = (s, dir) => {
    val truth = Dedup.ngramJaccardPairs(s, dir, 3, 0.5)
      .filter(col("jaccard") >= 0.7)
    val caught = Dedup.minhashLshPairs(s, dir, portableHashes = true)
      .select(col("d1"), col("d2"), lit(1L).as("hit"))
    val bucketed = truth.join(caught, Seq("d1", "d2"), "left")
      .withColumn("bucket", floor(col("jaccard") * 20.0) / 20.0)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_caught"))
    val mid = col("bucket") + lit(0.025)
    bucketed.select(col("bucket"), col("n_pairs"), col("n_caught"),
        round(d(col("n_caught")) / d(col("n_pairs")), 6).as("empirical_recall"),
        round(lit(1.0) - pow(lit(1.0) - pow(mid, lit(4.0)), lit(16.0)), 6)
          .as("theory_recall"))
      .orderBy(col("bucket"))
  }

  // Exact-substring dedup (the train-set
  // memorization scrub — long verbatim token spans shared across
  // documents, the capability class of Lee et al. 2022's
  // "Deduplicating Training Data Makes Language Models Better",
  // re-expressed as anchor shingles + diagonal run-merging instead of
  // a suffix array), and a rerank-agreement audit (Kendall τ between
  // a truncated-embedding retrieval order and its full-embedding
  // rerank — the bi-encoder-vs-reranker consistency measurement that
  // decides whether the cheap first stage can be trusted). Both carry
  // full-replay DuckDB oracles.
  //
  // Reference behavior basis: the reference pipeline's dedup surface
  // is key-level (SURVEY §2.8); these extend the engine's corpus
  // toolkit with public algorithms, Spark-first.

  // ---------------------------------------------------------------
  // dedup_exact_substring — pairs of documents sharing a verbatim
  // token span of ≥ L tokens, with the EXACT maximal shared span
  // length per pair. Formulation: every L-token shingle is an
  // anchor; two docs share a span of length S ≥ L iff all S−L+1 of
  // its anchors match at consecutive positions on one (pos_b −
  // pos_a) diagonal, so max span = L − 1 + longest consecutive
  // anchor run per (pair, diagonal) — the gaps-and-islands trick
  // (pos − row_number), never a suffix array and never a quadratic
  // string compare. Scale shape: anchors are df-capped BEFORE the
  // postings self-join (grams in more than MaxDf docs are dropped —
  // boilerplate by definition, same discipline as
  // t_split_contamination's ContaminationMaxDf), so per-gram pair
  // work is ≤ MaxDf²/2; the run windows partition by (pair,
  // diagonal) — parallel over pairs, frame bounded by doc length.
  // Everything downstream of the cap is exact integer arithmetic.
  // ---------------------------------------------------------------
  private[graft] val SubstrL = 10

  private[graft] val SubstrMaxDf = 64

  /** Island-level surface: one row per maximal consecutive anchor
    * run — (da, db, diag, pa_start, run), where the shared span in
    * doc a starts at token pa_start (1-based) with length l−1+run
    * (and at pa_start+diag in doc b). [[exactSubstringOf]] aggregates
    * these per pair; the scrub operator (DedupQueries) turns the
    * doc-b projections into removal intervals. */
  def substringIslands(docsDf: DataFrame, l: Int, maxDf: Int): DataFrame = {
    require(l >= 2, "anchor length must be at least 2 tokens")
    require(maxDf >= 2, "df cap below 2 drops every pair-producing gram")
    islandsFromGrams(
      gramPostings(docsDf, l).transform(Barrier.materialize), // df count + join sides
      maxDf)
  }

  /** Token-position postings — one row per (doc, pos, gram). Shared
    * by the pair tier and the high-df tier (DedupQueries), which
    * MUST agree on the gram universe or spans could fall between the
    * tiers; the composed full scrub materializes this once and feeds
    * both. One shingle string per position; docs shorter than L
    * produce no anchors (sequence(1, size-L+1) would run DESCENDING
    * when size < L — the filter is load-bearing, not cosmetic). */
  private[operators] def gramPostings(docsDf: DataFrame, l: Int): DataFrame =
    docsDf
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= l)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ts) - $l + 1)," +
          s" i -> array_join(slice(ts, i, $l), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))

  private[operators] def islandsFromGrams(grams: DataFrame,
      maxDf: Int): DataFrame = {
    // df-cap before the self-join: a gram in > maxDf docs is
    // boilerplate (and its pair fan-out quadratic); df >= 2 is pure
    // pruning — a single-doc gram can't anchor a pair
    val dfreq = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("gram"))
    val kept = grams.join(dfreq, Seq("gram"))
    val m = kept.alias("a").join(kept.alias("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.pos").as("pa"), (col("b.pos") - col("a.pos")).as("diag"))
    // islands: consecutive anchor positions on one diagonal share
    // pa − row_number; run r ⇒ shared span of exactly L − 1 + r
    val w = Window.partitionBy(col("da"), col("db"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("da"), col("db"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run"), min(col("pa")).as("pa_start"))
      .select(col("da"), col("db"), col("diag"), col("pa_start"), col("run"))
  }

  /** DataFrame-level entry (any (doc_id, text) input) — the spec
    * surface for the planted-span fixture. */
  def exactSubstringOf(docsDf: DataFrame, l: Int, maxDf: Int): DataFrame =
    substringIslands(docsDf, l, maxDf)
      .groupBy(col("da"), col("db"))
      .agg((max(col("run")) + lit(l - 1)).cast("long").as("span_tokens"),
        sum(col("run")).cast("long").as("n_anchors"),
        countDistinct(col("diag")).cast("long").as("n_diagonals"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("span_tokens"), col("n_anchors"), col("n_diagonals"))
      .orderBy(col("doc_a"), col("doc_b"))

  val dedupExactSubstring: Q = (s, dir) =>
    exactSubstringOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      SubstrL, SubstrMaxDf)

  // The span SCRUB that operationalizes
  // dedup_exact_substring (keep-first removal of verbatim spans from
  // later documents — the Lee et al. 2022 memorization scrub's edit
  // step, expressed as per-doc interval-union over the island
  // surface), and MRR@10 / MAP@10 label-relevance retrieval eval (the
  // two standard IR metrics the sim_* family was still missing next
  // to NDCG). Full-replay DuckDB oracles for both.

  // ---------------------------------------------------------------
  // dedup_substring_scrub — per-document removal ledger under the
  // keep-first policy: every island (maximal shared run from
  // DedupQueries.substringIslands) projects an interval
  // [pb_start, pb_start + run + L − 2] into its LATER doc (db — the
  // earlier doc keeps its text); per doc the intervals from ALL
  // earlier partners merge by the classic sweep (running max of
  // interval end over start order → break where a start clears it →
  // island sum), giving exact tokens_removed / n_intervals per doc.
  // Scale shape: island generation is the df-capped anchor pipeline
  // (linear-ish, see dedup_exact_substring); the merge windows
  // partition per doc — frames bounded by a doc's interval count,
  // parallel over the corpus. Integer token arithmetic throughout.
  // ---------------------------------------------------------------
  /** Pair-tier removal intervals under keep-first: every island
    * projects [s, e] token intervals into its LATER doc. */
  private[operators] def pairTierIntervals(docs: DataFrame, l: Int,
      maxDf: Int): DataFrame =
    substringIslands(docs, l, maxDf)
      .select(col("db").as("doc_id"),
        (col("pa_start") + col("diag")).as("s"),
        (col("pa_start") + col("diag") + col("run") + lit(l - 2)).as("e"))
      .distinct() // the same span shared with several earlier docs

  /** Interval-union sweep → per-doc removal ledger. `iv` carries
    * (doc_id, s, e) token intervals (inclusive); overlapping or
    * touching intervals merge per doc (running max of e over start
    * order), then the ledger joins token counts. The window frames
    * are bounded by a single doc's interval count — parallel over
    * the corpus, never a corpus-wide frame. */
  private[operators] def mergeScrubLedger(docs: DataFrame,
      iv: DataFrame): DataFrame = {
    val byStart = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = iv
      .withColumn("prev_max",
        max(col("e")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk", when(col("prev_max").isNull ||
        col("s") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val perDoc = merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_intervals"),
        sum(col("e") - col("s") + 1).cast("long").as("tokens_removed"))
    perDoc
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("tokens_removed"),
        col("n_intervals"),
        round(d(col("tokens_removed")) / d(col("n_tokens")), 6)
          .as("removed_ratio"))
      .orderBy(col("doc_id"))
  }

  /** DataFrame-level entry (any (doc_id, text) input) — the spec
    * surface for the interval-merge fixtures. Pair tier only: spans
    * whose grams exceed maxDf are handled by the high-df tier
    * ([[DedupQueries.fullSubstringScrubOf]]). */
  def substringScrubOf(docsDf: DataFrame, l: Int, maxDf: Int): DataFrame = {
    val docs = docsDf.select(col("doc_id"), col("text"))
    mergeScrubLedger(docs, pairTierIntervals(docs, l, maxDf))
  }

  val dedupSubstringScrub: Q = (s, dir) =>
    substringScrubOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      SubstrL, SubstrMaxDf)

  private val SubL = SubstrL

  private val SubDf = SubstrMaxDf

  // Ε-DP top-k token release via the one-shot
  // Gumbel mechanism (the SELECTION member the privacy family was
  // missing next to t_dp_histogram's Laplace counts and t_dp_median's
  // exponential mechanism), the cross-source duplication matrix (who
  // copies from whom — the provenance rollup of the registered LSH
  // pair set), and robust anomaly days via the modified z-score
  // (Iglewicz–Hoaglin): two two-phase global medians, never a
  // single-partition sort. Full-replay DuckDB oracles for all three.

  // ---------------------------------------------------------------
  // dedup_source_matrix — provenance rollup of the registered
  // MinHash-LSH near-dup pair set: pairs bucketed by the UNORDERED
  // (source, source) cell, with each cell's share of all near-dup
  // pairs. Off-diagonal mass = cross-source copying (mirror sites,
  // syndication); diagonal mass = within-source re-posts — the
  // matrix that decides which source to de-prioritize in the crawl.
  // Scale shape: the pair set is the registered banded machinery
  // (linear-ish); the rollup is two FK joins on doc_id plus a
  // source²-bounded aggregate.
  // ---------------------------------------------------------------
  val dedupSourceMatrix: Q = (s, dir) => {
    val pairs = Dedup.minhashLshPairsRaw(s, dir, portableHashes = true)
      .select(col("d1"), col("d2"))
    val src = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val cells = pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val total = cells.agg(sum(col("n_pairs")).cast("long").as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("source_a") =!= col("source_b")).as("cross_source"),
        round(d(col("n_pairs")) / d(col("total")), 6).as("pair_share"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // The MinHash banding-config ADVISOR — which
  // (bands, rows) split of the 64-perm signature to run for a target
  // threshold: expected recall/false-candidate mass of every valid
  // config against the OBSERVED pair-similarity distribution, the
  // design question dedup_lsh_recall_curve audits after the fact.
  // Full-replay DuckDB oracle.

  // ---------------------------------------------------------------
  // dedup_banding_advisor — for every (b, r) with b·r = 64: the
  // s-curve 50% threshold (1/b)^(1/r), the expected recall over the
  // observed J ≥ 0.7 pair mass, and the expected catch over the
  // borderline 0.5 ≤ J < 0.7 mass (false-candidate work): catch
  // probability 1−(1−J^r)^b evaluated at 0.05-bucket midpoints of
  // the registered exact-Jaccard pair distribution — the bounded-
  // bucket formulation of dedup_lsh_recall_curve, so the advisor
  // never materializes per-pair lists (≤14 buckets × 4 configs
  // regardless of corpus size). Folds run in bucket order.
  // ---------------------------------------------------------------
  private val BandConfigs = Seq(4, 8, 16, 32) // r = 64 / b

  val dedupBandingAdvisor: Q = (s, dir) => {
    val bucketed = Dedup.ngramJaccardPairsRaw(s, dir, 3, 0.5)
      .withColumn("bucket", floor(col("jaccard") * 20.0) / 20.0)
      .groupBy(col("bucket")).agg(count(lit(1)).cast("long").as("n"))
      .transform(Barrier.materialize) // all four configs fold the same buckets
    def fold(v: String): Column =
      expr("aggregate(sort_array(collect_list(named_struct(" +
        s"'bucket', bucket, 'v', $v))), 0D, (a, q) -> a + q.v)")
    val scored = bucketed
      .select(col("bucket"), col("n"),
        explode(array(BandConfigs.map(b =>
          struct(lit(b.toLong).as("b"), lit((64 / b).toLong).as("r"))): _*))
          .as("c"))
      .select(col("bucket"), col("n"),
        col("c.b").as("bands"), col("c.r").as("rows_per_band"))
      // Midpoint clamped to 1.0: the jaccard=1.0 bucket (exact dups)
      // would otherwise evaluate at 1.025, an invalid probability.
      .withColumn("p_catch", lit(1.0) -
        pow(lit(1.0) - pow(least(col("bucket") + lit(0.025), lit(1.0)),
          d(col("rows_per_band"))), d(col("bands"))))
      .withColumn("hi", col("bucket") >= 0.7)
    scored.groupBy(col("bands"), col("rows_per_band"))
      .agg(sum(when(col("hi"), col("n")).otherwise(0L)).cast("long")
          .as("n_pairs_hi"),
        sum(when(!col("hi"), col("n")).otherwise(0L)).cast("long")
          .as("n_pairs_lo"),
        fold("CASE WHEN hi THEN CAST(n AS DOUBLE) * p_catch ELSE 0D END")
          .as("catch_hi"),
        fold("CASE WHEN NOT hi THEN CAST(n AS DOUBLE) * p_catch ELSE 0D END")
          .as("catch_lo"))
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) / d(col("bands")),
          lit(1.0) / d(col("rows_per_band"))), 6).as("threshold_50"),
        col("n_pairs_hi"),
        when(col("n_pairs_hi") > 0,
          round(col("catch_hi") / d(col("n_pairs_hi")), 6))
          .as("exp_recall_hi"),
        col("n_pairs_lo"),
        when(col("n_pairs_lo") > 0,
          round(col("catch_lo") / d(col("n_pairs_lo")), 6))
          .as("exp_catch_lo"))
      .orderBy(col("bands"))
  }

  // The HIGH-DF TIER of exact-substring dedup —
  // closing the one silent-recall hole the round-10 audit found in the
  // 100 TB story. The pair tier (DedupQueries) caps anchor grams at
  // df ≤ maxDf before its postings self-join, which bounds per-gram
  // pair work at maxDf²/2 — but at Common-Crawl-scale duplication
  // (100×–1000× copies) genuinely duplicated spans EXCEED any fixed
  // cap and were silently dropped as "boilerplate": the scrub lost
  // exactly the spans it exists for (Lee et al. 2022's motivating
  // case). This tier picks those grams up with work LINEAR in their
  // occurrences, never pairwise: a gram in df > maxDf docs needs no
  // pairing at all — by definition every occurrence outside one
  // canonical doc is duplicated text, so the scrub decision is
  // per-OCCURRENCE (keep the canonical min-doc copy, flag the rest)
  // and per-doc islands of flagged positions give the spans. The cap
  // is now a pure WORK-PARTITIONING knob between the two tiers; no
  // span is dropped at any df.
  //
  // Registered with a demo cap of 2 so both tiers carry real rows on
  // the test corpus (max 10-gram df at sf0.01 is 3); production uses
  // DedupQueries.SubstrMaxDf. The recall contract is cap-invariant
  // and pinned in TrainingData63Spec on a 200×-planted span.
  //
  // Reference behavior basis: the reference pipeline's dedup surface
  // is key-level (SURVEY §2.8); these extend the engine's corpus
  // toolkit with public algorithms, Spark-first.

  /** Demo cap for the REGISTERED queries: small enough that the test
    * corpus exercises the high-df tier (grams with df ≥ 3 flow
    * through it at sf0.01). The engine API takes any cap. */
  private[operators] val HighDfDemoCap = 2

  // ---------------------------------------------------------------
  // dedup_substring_highdf — per-doc islands of mass-duplicated
  // anchors: positions whose L-gram lives in MORE than maxDf docs,
  // merged into maximal consecutive runs per doc (the same
  // gaps-and-islands trick as the pair tier, but partitioned per
  // DOC, not per pair — no join at all, so cost is linear in the
  // flagged occurrences regardless of how extreme the duplication
  // is; the adversarial 100× blowup only multiplies rows, never
  // pairs). min_gram_df is the rarest gram in the island — an upper
  // bound on how many docs share the WHOLE span (every whole-span
  // sharer contains every gram). Scale shape: one groupBy(gram) for
  // the df census, one broadcast-able join of flagged grams back to
  // postings, per-doc windows bounded by doc length.
  // ---------------------------------------------------------------
  /** DataFrame-level entry (any (doc_id, text) input): one row per
    * maximal per-doc run of high-df anchors — (doc_id, span_start,
    * span_tokens, min_gram_df). Postings come from the SAME
    * derivation as the pair tier (DedupQueries.gramPostings) — the
    * tiers must agree on the gram universe or spans could fall
    * between them. */
  def highDfIslandsOf(docsDf: DataFrame, l: Int, maxDf: Int): DataFrame = {
    require(l >= 2, "anchor length must be at least 2 tokens")
    require(maxDf >= 2, "cap below 2 would route unique grams here")
    highDfIslandsFromGrams(
      gramPostings(docsDf, l).transform(Barrier.materialize), l, maxDf)
  }

  private[operators] def highDfIslandsFromGrams(g: DataFrame, l: Int,
      maxDf: Int): DataFrame = {
    val hi = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
    val flagged = g.join(hi, Seq("gram"))
      .select(col("doc_id"), col("pos"), col("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged.withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (count(lit(1)) + lit(l - 1)).cast("long").as("span_tokens"),
        min(col("df")).cast("long").as("min_gram_df"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"),
        col("min_gram_df"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  val dedupSubstringHighDf: Q = (s, dir) =>
    highDfIslandsOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      SubstrL, HighDfDemoCap)

  // ---------------------------------------------------------------
  // dedup_substring_full_scrub — the COMPLETE keep-first removal
  // ledger: pair-tier intervals (df ∈ [2, maxDf], exact per-pair
  // spans projected into the later doc) UNION high-df-tier intervals
  // (df > maxDf: every occurrence outside the gram's canonical
  // min-doc contributes its [pos, pos+L−1] window — consecutive
  // positions fuse in the interval sweep, so a duplicated span of
  // any length comes out as one merged interval, same semantics as
  // the pair tier's islands). Both tiers feed one per-doc
  // interval-union sweep. Keep-first is consistent across tiers:
  // the earlier/min doc keeps its text. THE recall property: a span
  // duplicated across ANY number of docs is scrubbed from all but
  // one — at 2 copies via the pair tier, at 10 000 via the linear
  // tier — so extreme duplication can no longer hide behind the cap.
  // ---------------------------------------------------------------
  /** High-df-tier removal intervals: flagged occurrences outside the
    * gram's canonical doc. */
  private[operators] def highDfTierIntervals(g: DataFrame, l: Int,
      maxDf: Int): DataFrame = {
    val hi = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"),
        min(col("doc_id")).as("canon"))
      .filter(col("df") > maxDf)
      .select(col("gram"), col("canon"))
    g.join(hi, Seq("gram"))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(l - 1)).as("e"))
      .distinct()
  }

  /** DataFrame-level entry — the spec surface for the planted-span
    * recall pin. Same output schema as the pair-tier scrub. The
    * token-position postings are computed ONCE (one barrier) and
    * feed both tiers — the tokenize/shingle pass over the corpus is
    * the dominant linear cost at scale and must not run twice. */
  def fullSubstringScrubOf(docsDf: DataFrame, l: Int, maxDf: Int): DataFrame = {
    require(l >= 2, "anchor length must be at least 2 tokens")
    require(maxDf >= 2, "cap below 2 would route unpaired grams to the " +
      "high-df tier and misclassify single-doc grams")
    val docs = docsDf.select(col("doc_id"), col("text"))
    val g = gramPostings(docs, l).transform(Barrier.materialize)
    val iv1 = islandsFromGrams(g, maxDf)
      .select(col("db").as("doc_id"),
        (col("pa_start") + col("diag")).as("s"),
        (col("pa_start") + col("diag") + col("run") + lit(l - 2)).as("e"))
      .distinct()
    mergeScrubLedger(docs,
      iv1.unionAll(highDfTierIntervals(g, l, maxDf)).distinct())
  }

  val dedupSubstringFullScrub: Q = (s, dir) =>
    fullSubstringScrubOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      SubstrL, HighDfDemoCap)

  private val L = SubstrL

  private val Cap = HighDfDemoCap

  /** Shared oracle prelude: the token-position postings. */
  private val GramsCte =
    s"""dcs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |  WHERE len(string_split(text, ' ')) >= $L),
       |g AS (
       |  SELECT doc_id, unnest(range(1, len(ts) - $L + 2)) AS pos, ts
       |  FROM dcs),
       |g2 AS (
       |  SELECT doc_id, pos,
       |         array_to_string(ts[pos:pos + ${L - 1}], ' ') AS gram
       |  FROM g)""".stripMargin

  // ---------------------------------------------------------------
  // dedup_incremental_persisted — the dedup twin of the persisted
  // ANN serving path: the corpus band index + hash sets live as a
  // parquet artifact (DedupStream.writeIndex — band-partitioned),
  // and each new batch is flagged by reading THAT, never re-signing
  // the corpus. Same oracle SQL as dedup_incremental: the artifact
  // round-trip must be hash-invisible. This makes the "materialized
  // band index" of the 100 TB daily shape literal rather than
  // simulated in-query.
  // ---------------------------------------------------------------
  val dedupIncrementalPersisted: Q = (s, dir) => {
    val all = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val idx = graft.streaming.DedupStream.indexFor(s, dir,
      all.filter(col("doc_id") % 10 =!= 0))
    graft.streaming.DedupStream.flagBatch(
        all.filter(col("doc_id") % 10 === 0),
        graft.streaming.DedupStream.readIndex(s, idx))
      .orderBy(col("new_doc_id"))
  }

  // Observability for the round's two new knobs —
  // the df-tier census that tells an operator WHERE to set the
  // substring cap (pair-work vs postings mass per band, the number
  // the two-tier design trades on), and PQ recall against exact
  // ground truth (the quantization-loss go/no-go before serving codes
  // instead of vectors, completing the eval pair next to
  // sim_ann_recall_eval's raw-IVF recall). Full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // dedup_tier_census — per df-band anchor-gram census for the
  // two-tier substring family: n_grams, posting mass (linear-tier
  // cost), and pair work Σ df·(df−1)/2 (pair-tier cost) per band.
  // The cap decision IS this table: move the boundary until the
  // pair-tier band's pair_work stays within budget while the
  // high-df band's postings stay linear. One groupBy(gram) census +
  // one 3-row aggregate — no joins, linear at any corpus size.
  // Bands use the registered demo cap (2) so the table describes
  // the shipped dedup_substring_* split on this corpus.
  // ---------------------------------------------------------------
  val dedupTierCensus: Q = (s, dir) =>
    tierCensusOf(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")),
      SubstrL, HighDfDemoCap)

  /** DataFrame-level entry (any (doc_id, text) input) — the spec
    * surface for the known-df fixture. */
  def tierCensusOf(docsDf: DataFrame, l: Int, cap: Int): DataFrame = {
    val census = gramPostings(docsDf, l)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_post"), countDistinct(col("doc_id")).as("df"))
    census
      .withColumn("tier",
        when(col("df") === 1, "1_unique")
          .when(col("df") <= cap, "2_pair_tier")
          .otherwise("3_highdf_tier"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(col("n_post")).cast("long").as("n_postings"),
        max(col("df")).cast("long").as("max_df"),
        // Σ df·(df−1) is even; halve after the sum so every
        // intermediate stays integer-exact
        (sum(col("df") * (col("df") - 1)) / 2).cast("long").as("pair_work"))
      .orderBy(col("tier"))
  }

  // ---------------------------------------------------------------
  // dedup_bbit_minhash — compress each 64-hash minhash signature to
  // its 64 LSBs (one long instead of 64 — the 100 TB signature
  // store shrinks 64×) and estimate Jaccard from bit agreement:
  // E[match] = J + (1−J)/2, so Ĵ = max(0, 2·match − 1) (Li & König
  // 2010, b=1 with large-universe collision ≈ 1/2). Audited on the
  // SAME banding candidates as dedup_minhash_lsh against both the
  // full-signature estimate and the exact shingle Jaccard — the
  // recall/storage trade is measured, not assumed. Scale shape
  // inherited from the banding pipeline: pair work stays
  // band-bounded; the bit compare is a 64-term lambda per pair.
  // ---------------------------------------------------------------
  val dedupBbitMinhash: Q = (s, dir) => {
    val sigs = Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        Dedup.minhashSignature(col("text"), 64, 3, portableHashes = true)
          .as("sig"))
    val pairs = Dedup.minhashLshPairs(s, dir, portableHashes = true)
    pairs
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
      .withColumn("est64",
        expr("aggregate(zip_with(s1, s2, (a, b) -> IF(a = b, 1, 0)), 0," +
          " (a, x) -> a + x)").cast("double") / 64.0)
      .withColumn("match1",
        expr("aggregate(zip_with(s1, s2, (a, b) -> IF(a % 2 = b % 2, 1, 0))," +
          " 0, (a, x) -> a + x)").cast("double") / 64.0)
      .withColumn("est1", greatest(lit(2.0) * col("match1") - 1.0, lit(0.0)))
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("j_exact"),
        round(col("est64"), 6).as("est_k64"),
        round(col("est1"), 6).as("est_b1"),
        round(abs(col("est64") - col("jaccard")), 6).as("err_k64"),
        round(abs(col("est1") - col("jaccard")), 6).as("err_b1"))
      .orderBy(col("d1"), col("d2"))
  }

  // Detector-agreement auditing and the
  // SQL-standard hypothetical-set functions.
  //
  //  - dedup_method_agreement — the confusion table between the
  //    lexical near-dup detector (MinHash-LSH, exact-Jaccard ≥ 0.7)
  //    and the embedding near-dup detector (label-blocked cosine
  //    ≥ 0.4, the dedup_embedding_cosine contract) over the shared
  //    id space: how much would SemDeDup remove that MinHash
  //    wouldn't, and vice versa — the first question a curation
  //    review asks before stacking both tiers (cf. dedup_funnel's
  //    marginal-catch ledger, which stacks; this op CONTRASTS).
  //  - a_hypothetical_rank — RANK / PERCENT_RANK / CUME_DIST of
  //    hypothetical order values (the SQL:2008 hypothetical-set
  //    family) from exact value-level counts, no per-row ranks.

  // ---------------------------------------------------------------
  // dedup_method_agreement — full-outer join of the two registered
  // pair sets (both already canonicalized d1 < d2 over doc ids;
  // embeddings.vec_id is id-aligned with documents.doc_id in the
  // testdata contract). Per agreement category: pair count, distinct
  // docs touched, share of the union. Scale shape: both pair sets
  // are banded/blocked constructions with their own bounds; the
  // audit adds one pair-keyed join plus a ≤3-row aggregate.
  // ---------------------------------------------------------------
  val dedupMethodAgreement: Q = (s, dir) => {
    val lex = Dedup.minhashLshPairsRaw(s, dir, portableHashes = true)
      .select(col("d1"), col("d2"), lit(true).as("in_lex"))
    val sem = Similarity.cosineNearDupPairs(s, dir, 0.4)
      .select(col("v1").as("d1"), col("v2").as("d2"), lit(true).as("in_sem"))
    val j = lex.join(sem, Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"),
        when(col("in_lex").isNotNull && col("in_sem").isNotNull, "both")
          .when(col("in_lex").isNotNull, "lexical_only")
          .otherwise("semantic_only").as("category"))
      .transform(Barrier.materialize) // the category agg + the union total
    val tot = j.agg(count(lit(1)).cast("long").as("n_union"))
    j.groupBy(col("category"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        countDistinct(col("d1")).cast("long").as("n_left_docs"))
      .crossJoin(broadcast(tot))
      .join(j.select(col("category"),
          explode(array(col("d1"), col("d2"))).as("doc"))
          .groupBy(col("category"))
          .agg(countDistinct(col("doc")).cast("long").as("n_docs")),
        "category")
      .select(col("category"), col("n_pairs"), col("n_docs"),
        round(d(col("n_pairs")) / d(col("n_union")), 6).as("share"))
      .orderBy(col("category"))
  }

  // ---------------------------------------------------------------
  // dedup_cohens_kappa — the two registered near-dup detectors as
  // doc-level raters over the embeddings id space (vec_id ≡ doc_id
  // in the testdata contract): flagged = appears in any pair. The
  // 2×2 confusion feeds κ = (p_o − p_e)/(1 − p_e) on exact integer
  // counts, with the Landis–Koch band. Scale shape: both pair sets
  // are the registered banded/blocked constructions; doc sets are
  // two distinct-aggregates; the κ arithmetic is a ONE-ROW cross.
  // ---------------------------------------------------------------
  val dedupCohensKappa: Q = (s, dir) => {
    val lex = Dedup.minhashLshPairs(s, dir, portableHashes = true)
      .select(explode(array(col("d1"), col("d2"))).as("id"))
      .distinct().withColumn("in_lex", lit(1L))
    val sem = Similarity.cosineNearDupPairs(s, dir, 0.4)
      .select(explode(array(col("v1"), col("v2"))).as("id"))
      .distinct().withColumn("in_sem", lit(1L))
    val uni = Tables.table(s, dir, "embeddings")
      .select(col("vec_id").as("id"))
      .join(lex, Seq("id"), "left").join(sem, Seq("id"), "left")
      .select(coalesce(col("in_lex"), lit(0L)).as("l"),
        coalesce(col("in_sem"), lit(0L)).as("m"))
    val cells = uni.agg(count(lit(1)).cast("long").as("n"),
      sum(when(col("l") === 1L && col("m") === 1L, 1L).otherwise(0L))
        .cast("long").as("n11"),
      sum(when(col("l") === 1L && col("m") === 0L, 1L).otherwise(0L))
        .cast("long").as("n10"),
      sum(when(col("l") === 0L && col("m") === 1L, 1L).otherwise(0L))
        .cast("long").as("n01"))
      .withColumn("n00", col("n") - col("n11") - col("n10") - col("n01"))
    val po = d(col("n11") + col("n00")) / d(col("n"))
    val pe = (d(col("n11") + col("n10")) * d(col("n11") + col("n01")) +
      d(col("n01") + col("n00")) * d(col("n10") + col("n00"))) /
      (d(col("n")) * d(col("n")))
    val kappa = (po - pe) / (lit(1.0) - pe)
    cells.select(col("n").as("n_docs"), col("n11").as("both_flag"),
      col("n10").as("lexical_only"), col("n01").as("semantic_only"),
      col("n00").as("neither"),
      round(po, 6).as("p_observed"), round(pe, 6).as("p_chance"),
      round(kappa, 6).as("kappa"),
      when(kappa < 0.2, "slight").when(kappa < 0.4, "fair")
        .when(kappa < 0.6, "moderate").when(kappa < 0.8, "substantial")
        .otherwise(lit("near_perfect")).as("agreement_band"))
  }

  /** Oracle of `dedup_incremental`, shared with the oracles that replay it. */
  private val dedupIncrementalOracle =
      s"""WITH $minhashCtes,
         |icand AS (
         |  SELECT DISTINCT n.doc_id AS nd, o.doc_id AS od
         |  FROM banded n JOIN banded o ON n.b = o.b AND n.key = o.key
         |  WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
         |iint AS (
         |  SELECT a.doc_id AS nd, b.doc_id AS od, count(*) AS i
         |  FROM hflat a JOIN hflat b ON a.h = b.h
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |  GROUP BY 1, 2),
         |ver AS (
         |  SELECT c.nd, c.od,
         |         CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) AS j
         |  FROM icand c
         |  JOIN iint i ON c.nd = i.nd AND c.od = i.od
         |  JOIN sizes sa ON c.nd = sa.doc_id
         |  JOIN sizes sb ON c.od = sb.doc_id)
         |SELECT nd AS new_doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |       min(od) AS first_match, max(j) AS best_jaccard
         |FROM ver WHERE j >= 0.7 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle of `dedup_ngram_jaccard`, shared with the oracles that replay it. */
  private val dedupNgramJaccardOracle =
      """WITH sh AS (
        |  SELECT doc_id, lang, source, unnest(list_distinct(shingles)) AS sh
        |  FROM (SELECT doc_id, lang, source,
        |               CASE WHEN len(toks) < 3 THEN [text]
        |                    ELSE list_transform(range(1, len(toks) - 1),
        |                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |               END AS shingles
        |        FROM (SELECT doc_id, lang, source, text,
        |                     string_split(text, ' ') AS toks
        |              FROM documents))),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b
        |    ON a.sh = b.sh AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON d1 = sa.doc_id
        |JOIN sizes sb ON d2 = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5
        |ORDER BY d1, d2""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_incremental" -> dedupIncremental,
    "dedup_resolve_best" -> dedupResolveBest,
    "dedup_exact" -> dedupExact,
    "dedup_jaccard_pairs" -> dedupJaccard,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_est" -> dedupMinhashEst,
    "dedup_groups" -> dedupGroups,
    "dedup_simhash" -> dedupSimhash,
    "dedup_winnow_pairs" -> dedupWinnowPairs,
    "dedup_edit_distance" -> dedupEditDistance,
    "dedup_segments" -> dedupSegments,
    "dedup_containment" -> ((s, dir) => Dedup.containmentPairs(s, dir)),
    "dedup_cdc_chunks" -> dedupCdcChunks,
    "dedup_normalized" -> dedupNormalized,
    "dedup_funnel" -> dedupFunnel,
    "dedup_lsh_recall_curve" -> dedupLshRecallCurve,
    "dedup_exact_substring" -> dedupExactSubstring,
    "dedup_substring_scrub" -> dedupSubstringScrub,
    "dedup_source_matrix" -> dedupSourceMatrix,
    "dedup_banding_advisor" -> dedupBandingAdvisor,
    "dedup_substring_highdf" -> dedupSubstringHighDf,
    "dedup_substring_full_scrub" -> dedupSubstringFullScrub,
    "dedup_incremental_persisted" -> dedupIncrementalPersisted,
    "dedup_tier_census" -> dedupTierCensus,
    "dedup_bbit_minhash" -> dedupBbitMinhash,
    "dedup_method_agreement" -> dedupMethodAgreement,
    "dedup_cohens_kappa" -> dedupCohensKappa)

  val oracles: Map[String, String] = Map(
    // winnowing replay (as t_winnow_fingerprint) → inverted-index
    // set-Jaccard over fingerprint hashes, (lang, source)-blocked
    "dedup_winnow_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, lang, source,
        |         list_transform(string_split(text, ''),
        |           ch -> CAST(unicode(ch) AS BIGINT)) AS cs
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, source,
        |         CASE WHEN len(cs) = 0 THEN [CAST(0 AS BIGINT)]
        |              WHEN len(cs) < 8 THEN
        |                [list_reduce(cs, (a, b) -> (a * 257 + b) % 1000000007)]
        |              ELSE list_transform(range(1, len(cs) - 8 + 2),
        |                     i -> list_reduce(cs[i:i+7],
        |                            (a, b) -> (a * 257 + b) % 1000000007)) END AS ks
        |  FROM c),
        |f AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(CASE WHEN len(ks) < 12 THEN [list_min(ks)]
        |              ELSE list_transform(range(1, len(ks) - 12 + 2),
        |                     i -> list_min(ks[i:i+11])) END) AS fp
        |  FROM g),
        |items AS (SELECT doc_id, lang, source, unnest(fp) AS it FROM f),
        |sizes AS (SELECT doc_id, count(*) AS n FROM items GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM items a JOIN items b
        |    ON a.it = b.it AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON d1 = sa.doc_id
        |JOIN sizes sb ON d2 = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "dedup_edit_distance" ->
      """SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
        |FROM (SELECT doc_id, lang, source, substr(text, 1, 40) AS prefix
        |      FROM documents WHERE doc_id % 7 = 0) a
        |JOIN (SELECT doc_id, lang, source, substr(text, 1, 40) AS prefix
        |      FROM documents WHERE doc_id % 7 = 0) b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 10
        |ORDER BY d1, d2""".stripMargin,
    // full simhash replay: md5-hex-fold token hashes → per-bit
    // majority (bits 60-63 are always 0: hashes < 2^60) → blocked
    // pairwise Hamming. Matches the lossless-banded Spark plan.
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source,
        |         unnest(list_distinct(list_transform(string_split(text, ' '),
        |           t -> list_reduce(list_transform(string_split(substr(md5(t), 1, 15), ''),
        |                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |                (a, b) -> a * 16 + b)))) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, lang, source, r.b,
        |         CASE WHEN sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 60)) AS b) r
        |  GROUP BY 1, 2, 3, 4),
        |sh AS (SELECT doc_id, lang, source, sum(bit * (1::BIGINT << b)) AS simhash
        |       FROM bits GROUP BY 1, 2, 3)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sh a JOIN sh b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY d1, d2""".stripMargin,
    // incremental banding replayed: the same signature CTEs, with
    // candidates restricted to new(batch)×old(corpus) band meets —
    // never old×old — then exact cross-side Jaccard
    "dedup_incremental" -> dedupIncrementalOracle,
    // the dedup_groups recursive closure + per-group argmax survivor
    "dedup_resolve_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |nodes AS (SELECT DISTINCT d1 AS id FROM lshp UNION SELECT d2 FROM lshp),
         |edges AS (SELECT d1 AS a, d2 AS b FROM lshp UNION SELECT d2, d1 FROM lshp),
         |reach(id, rep) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, r.rep FROM edges e JOIN reach r ON e.b = r.id),
         |grp AS (SELECT id, min(rep) AS rep FROM reach GROUP BY 1),
         |m AS (SELECT g.rep, d.doc_id, d.n_chars
         |      FROM grp g JOIN documents d ON d.doc_id = g.id),
         |r AS (SELECT rep, doc_id, n_chars,
         |        row_number() OVER (PARTITION BY rep
         |          ORDER BY n_chars DESC, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY rep) AS n
         |      FROM m)
         |SELECT rep AS canonical_id, CAST(n AS BIGINT) AS n_members,
         |       doc_id AS survivor_id, CAST(n_chars AS BIGINT) AS survivor_chars
         |FROM r WHERE rn = 1 AND n > 1 ORDER BY canonical_id""".stripMargin,
    "dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |       count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents""".stripMargin,
    "dedup_jaccard_pairs" ->
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
        |  GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON d1 = sa.doc_id
        |JOIN sizes sb ON d2 = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9
        |ORDER BY d1, d2""".stripMargin,
    "dedup_ngram_jaccard" -> dedupNgramJaccardOracle,
    // exact oracle: LSH + exact verification emits precisely the
    // full-pairwise shingle-Jaccard pairs at t=0.7 (unblocked)
    "dedup_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT d1, d2, jaccard FROM lshp ORDER BY d1, d2""".stripMargin,
    // the estimate is REPLAYED from the sig CTE (matching positions
    // / 64), not pinned TRUE: at k=64 the 0.25 band is ~4σ, so rare
    // legitimate outliers exist at scale (the sf1 probe surfaced
    // one) — both engines must compute the same boolean, whatever it
    // is; DedupSpec separately asserts the distributional contract
    "dedup_minhash_est" ->
      s"""WITH $minhashCtes,
         |est AS (
         |  SELECT p.d1, p.d2, p.jaccard,
         |         CAST(len(list_filter(range(1, 65),
         |             i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 64.0 AS est
         |  FROM lshp p JOIN sig s1 ON p.d1 = s1.doc_id
         |              JOIN sig s2 ON p.d2 = s2.doc_id)
         |SELECT d1, d2, jaccard, abs(est - jaccard) <= 0.25 AS est_within_025
         |FROM est ORDER BY d1, d2""".stripMargin,
    // connected components of the banded pair graph via recursive
    // min-label closure — the SQL twin of Dedup.dupGroups'
    // propagation loop
    "dedup_groups" ->
      s"""WITH RECURSIVE $minhashCtes,
         |nodes AS (SELECT DISTINCT d1 AS id FROM lshp UNION SELECT d2 FROM lshp),
         |edges AS (SELECT d1 AS a, d2 AS b FROM lshp UNION SELECT d2, d1 FROM lshp),
         |reach(id, rep) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, r.rep FROM edges e JOIN reach r ON e.b = r.id)
         |SELECT rep AS canonical_id, CAST(count(*) AS BIGINT) AS group_size
         |FROM (SELECT id, min(rep) AS rep FROM reach GROUP BY 1)
         |GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings)
        |SELECT v1, v2, round(cos, 6) AS cosine FROM (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |         list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
        |           / (sqrt(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
        |              * sqrt(list_sum(list_transform(range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i]))))
        |           AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.4
        |ORDER BY v1, v2""".stripMargin,
    "dedup_segments" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |seg AS (
        |  SELECT doc_id, dl, md5(seg) AS seg_key,
        |         CAST(len(string_split(seg, ' ')) AS BIGINT) AS seg_len
        |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |               unnest(list_transform(range(0, CAST(ceil(len(toks)/8.0) AS INT)),
        |                 i -> array_to_string(toks[i*8+1:i*8+8], ' '))) AS seg
        |        FROM t)),
        |df AS (SELECT seg_key, count(*) AS seg_df FROM seg GROUP BY 1)
        |SELECT doc_id, dl AS n_tokens, count(*) AS n_segments,
        |       CAST(SUM(CASE WHEN seg_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
        |       CAST(SUM(CASE WHEN seg_df > 1 THEN seg_len ELSE 0 END) AS BIGINT) AS dup_tokens,
        |       CAST(SUM(CASE WHEN seg_df > 1 THEN seg_len ELSE 0 END) AS DOUBLE)
        |         / CAST(dl AS DOUBLE) AS dup_token_frac
        |FROM seg JOIN df USING (seg_key)
        |GROUP BY doc_id, dl ORDER BY doc_id""".stripMargin,
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source, unnest(list_distinct(shingles)) AS sh
        |  FROM (SELECT doc_id, lang, source,
        |               CASE WHEN len(toks) < 3 THEN [text]
        |                    ELSE list_transform(range(1, len(toks) - 1),
        |                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |               END AS shingles
        |        FROM (SELECT doc_id, lang, source, text,
        |                     string_split(text, ' ') AS toks
        |              FROM documents))),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b
        |    ON a.sh = b.sh AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
        |FROM inter JOIN sizes sa ON d1 = sa.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    "dedup_cdc_chunks" ->
      s"""WITH $chunkCtes,
        |byhash AS (
        |  SELECT chunk_hash, CAST(count(*) AS BIGINT) AS copies,
        |         CAST(sum(n_toks) AS BIGINT) AS toks,
        |         CAST(min(n_toks) AS BIGINT) AS one_copy_toks
        |  FROM chunks GROUP BY 1),
        |agg AS (
        |  SELECT CAST(sum(copies) AS BIGINT) AS total_chunks,
        |         CAST(count(*) AS BIGINT) AS distinct_chunks,
        |         CAST(sum(toks) AS BIGINT) AS total_tokens,
        |         CAST(sum(one_copy_toks) AS BIGINT) AS stored_tokens,
        |         max(struct_pack(c := copies, h := chunk_hash)) AS top
        |  FROM byhash)
        |SELECT total_chunks, distinct_chunks,
        |       round(CAST(distinct_chunks AS DOUBLE)
        |         / CAST(total_chunks AS DOUBLE), 6) AS unique_ratio,
        |       total_tokens, stored_tokens,
        |       round(1.0 - CAST(stored_tokens AS DOUBLE)
        |         / CAST(total_tokens AS DOUBLE), 6) AS savings_ratio,
        |       CAST(top.c AS BIGINT) AS top_copies,
        |       top.h AS top_chunk_hash
        |FROM agg""".stripMargin,
    "dedup_normalized" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS ckey
        |  FROM documents)
        |SELECT ckey, CAST(count(*) AS BIGINT) AS n_members,
        |       min(doc_id) AS survivor, max(doc_id) AS max_member
        |FROM c GROUP BY 1 HAVING count(*) > 1
        |ORDER BY ckey""".stripMargin,
    "dedup_funnel" -> {
      s"""WITH ${minhashCtes},
         |exact AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS n
         |    FROM documents) WHERE n > 1),
         |norm AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, count(*) OVER (PARTITION BY
         |      md5(trim(regexp_replace(regexp_replace(lower(text),
         |        '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')))) AS n
         |    FROM documents) WHERE n > 1),
         |near AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT d1 AS doc_id FROM lshp UNION ALL SELECT d2 FROM lshp)),
         |t1 AS (
         |  SELECT 1 AS tier, 'exact' AS method,
         |         CAST(count(*) AS BIGINT) AS n_flagged,
         |         CAST(count(*) AS BIGINT) AS n_new
         |  FROM exact),
         |t2 AS (
         |  SELECT 2 AS tier, 'normalized' AS method,
         |         (SELECT CAST(count(*) AS BIGINT) FROM norm) AS n_flagged,
         |         CAST(count(*) AS BIGINT) AS n_new
         |  FROM (SELECT doc_id FROM norm
         |        WHERE doc_id NOT IN (SELECT doc_id FROM exact))),
         |t3 AS (
         |  SELECT 3 AS tier, 'minhash_lsh' AS method,
         |         (SELECT CAST(count(*) AS BIGINT) FROM near) AS n_flagged,
         |         CAST(count(*) AS BIGINT) AS n_new
         |  FROM (SELECT doc_id FROM near
         |        WHERE doc_id NOT IN (SELECT doc_id FROM exact
         |                             UNION SELECT doc_id FROM norm)))
         |SELECT tier, method, n_flagged, n_new FROM t1
         |UNION ALL SELECT tier, method, n_flagged, n_new FROM t2
         |UNION ALL SELECT tier, method, n_flagged, n_new FROM t3
         |ORDER BY tier""".stripMargin
    },
    "dedup_lsh_recall_curve" ->
      s"""WITH ${minhashCtes},
         |tsh AS (
         |  SELECT doc_id, lang, source, unnest(list_distinct(shingles)) AS sh
         |  FROM (SELECT doc_id, lang, source,
         |               CASE WHEN len(toks) < 3 THEN [text]
         |                    ELSE list_transform(range(1, len(toks) - 1),
         |                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |               END AS shingles
         |        FROM (SELECT doc_id, lang, source, text,
         |                     string_split(text, ' ') AS toks
         |              FROM documents))),
         |tsizes AS (SELECT doc_id, count(*) AS n FROM tsh GROUP BY 1),
         |tinter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
         |  FROM tsh a JOIN tsh b
         |    ON a.sh = b.sh AND a.lang = b.lang AND a.source = b.source
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT d1, d2,
         |         CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
         |  FROM tinter
         |  JOIN tsizes sa ON d1 = sa.doc_id
         |  JOIN tsizes sb ON d2 = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.7),
         |bk AS (
         |  SELECT floor(t.jaccard * 20.0) / 20.0 AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_caught
         |  FROM truth t LEFT JOIN lshp l ON l.d1 = t.d1 AND l.d2 = t.d2
         |  GROUP BY 1)
         |SELECT bucket, n_pairs, n_caught,
         |       round(n_caught::DOUBLE / n_pairs::DOUBLE, 6)
         |         AS empirical_recall,
         |       round(1.0 - pow(1.0 - pow(bucket + 0.025, 4.0), 16.0), 6)
         |         AS theory_recall
         |FROM bk ORDER BY bucket""".stripMargin,
    "dedup_exact_substring" ->
      s"""WITH dcs AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |  WHERE len(string_split(text, ' ')) >= $SubstrL),
         |g AS (
         |  SELECT doc_id, unnest(range(1, len(ts) - $SubstrL + 2)) AS pos, ts
         |  FROM dcs),
         |g2 AS (
         |  SELECT doc_id, pos,
         |         array_to_string(ts[pos:pos + ${SubstrL - 1}], ' ') AS gram
         |  FROM g),
         |dfreq AS (
         |  SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY 1)
         |  WHERE df BETWEEN 2 AND $SubstrMaxDf),
         |kept AS (SELECT g2.* FROM g2 JOIN dfreq USING (gram)),
         |m AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
         |         b.pos - a.pos AS diag
         |  FROM kept a JOIN kept b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |r AS (
         |  SELECT da, db, diag, pa,
         |         pa - row_number() OVER (PARTITION BY da, db, diag
         |           ORDER BY pa) AS isl
         |  FROM m),
         |runs AS (
         |  SELECT da, db, diag, isl, count(*) AS run
         |  FROM r GROUP BY 1, 2, 3, 4)
         |SELECT da AS doc_a, db AS doc_b,
         |       CAST(max(run) + ${SubstrL - 1} AS BIGINT) AS span_tokens,
         |       CAST(sum(run) AS BIGINT) AS n_anchors,
         |       CAST(count(DISTINCT diag) AS BIGINT) AS n_diagonals
         |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_substring_scrub" ->
      s"""WITH dcs AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |  WHERE len(string_split(text, ' ')) >= $SubL),
         |g AS (
         |  SELECT doc_id, unnest(range(1, len(ts) - $SubL + 2)) AS pos, ts
         |  FROM dcs),
         |g2 AS (
         |  SELECT doc_id, pos,
         |         array_to_string(ts[pos:pos + ${SubL - 1}], ' ') AS gram
         |  FROM g),
         |dfreq AS (
         |  SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY 1)
         |  WHERE df BETWEEN 2 AND $SubDf),
         |kept AS (SELECT g2.* FROM g2 JOIN dfreq USING (gram)),
         |m AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
         |         b.pos - a.pos AS diag
         |  FROM kept a JOIN kept b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |r AS (
         |  SELECT da, db, diag, pa,
         |         pa - row_number() OVER (PARTITION BY da, db, diag
         |           ORDER BY pa) AS isl
         |  FROM m),
         |runs AS (
         |  SELECT da, db, diag, isl, count(*) AS run, min(pa) AS pa_start
         |  FROM r GROUP BY 1, 2, 3, 4),
         |iv AS (
         |  SELECT DISTINCT db AS doc_id, pa_start + diag AS s,
         |         pa_start + diag + run + ${SubL - 2} AS e
         |  FROM runs),
         |m1 AS (
         |  SELECT doc_id, s, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS prev_max
         |  FROM iv),
         |m2 AS (
         |  SELECT doc_id, s, e,
         |         sum(CASE WHEN prev_max IS NULL OR s > prev_max
         |           THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
         |           ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM m1),
         |mg AS (
         |  SELECT doc_id, grp, min(s) AS s, max(e) AS e
         |  FROM m2 GROUP BY 1, 2),
         |per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_intervals,
         |         CAST(sum(e - s + 1) AS BIGINT) AS tokens_removed
         |  FROM mg GROUP BY 1),
         |toks AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT p.doc_id, t.n_tokens, p.tokens_removed, p.n_intervals,
         |       round(p.tokens_removed::DOUBLE / t.n_tokens::DOUBLE, 6)
         |         AS removed_ratio
         |FROM per_doc p JOIN toks t USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    "dedup_source_matrix" ->
      s"""WITH ${minhashCtes},
         |dd AS (SELECT doc_id, source FROM documents),
         |cells AS (
         |  SELECT least(a.source, b.source) AS source_a,
         |         greatest(a.source, b.source) AS source_b,
         |         CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM lshp
         |  JOIN dd a ON lshp.d1 = a.doc_id
         |  JOIN dd b ON lshp.d2 = b.doc_id
         |  GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM cells)
         |SELECT source_a, source_b, n_pairs,
         |       source_a <> source_b AS cross_source,
         |       round(n_pairs::DOUBLE / total::DOUBLE, 6) AS pair_share
         |FROM cells CROSS JOIN tot
         |ORDER BY source_a, source_b""".stripMargin,
    "dedup_banding_advisor" ->
      s"""WITH pairs AS (SELECT * FROM (
         |${dedupNgramJaccardOracle}
         |)),
         |bucketed AS (
         |  SELECT floor(jaccard * 20.0) / 20.0 AS bucket,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM pairs GROUP BY 1),
         |cfg AS (SELECT * FROM (VALUES ${BandConfigs.map(b =>
        s"(CAST(${b} AS BIGINT), CAST(${64 / b} AS BIGINT))").mkString(", ")})
         |  AS t(bands, rows_per_band)),
         |scored AS (
         |  SELECT bucket, n, bands, rows_per_band, bucket >= 0.7 AS hi,
         |         1.0 - pow(1.0 - pow(least(bucket + 0.025, 1.0),
         |           rows_per_band::DOUBLE), bands::DOUBLE) AS p_catch
         |  FROM bucketed CROSS JOIN cfg),
         |agg AS (
         |  SELECT bands, rows_per_band,
         |         CAST(sum(CASE WHEN hi THEN n ELSE 0 END) AS BIGINT)
         |           AS n_pairs_hi,
         |         CAST(sum(CASE WHEN NOT hi THEN n ELSE 0 END) AS BIGINT)
         |           AS n_pairs_lo,
         |         list_sum(list(CASE WHEN hi THEN n::DOUBLE * p_catch
         |           ELSE 0.0 END ORDER BY bucket)) AS catch_hi,
         |         list_sum(list(CASE WHEN NOT hi THEN n::DOUBLE * p_catch
         |           ELSE 0.0 END ORDER BY bucket)) AS catch_lo
         |  FROM scored GROUP BY 1, 2)
         |SELECT bands, rows_per_band,
         |       round(pow(1.0 / bands::DOUBLE,
         |         1.0 / rows_per_band::DOUBLE), 6) AS threshold_50,
         |       n_pairs_hi,
         |       CASE WHEN n_pairs_hi > 0
         |         THEN round(catch_hi / n_pairs_hi::DOUBLE, 6) END
         |         AS exp_recall_hi,
         |       n_pairs_lo,
         |       CASE WHEN n_pairs_lo > 0
         |         THEN round(catch_lo / n_pairs_lo::DOUBLE, 6) END
         |         AS exp_catch_lo
         |FROM agg ORDER BY bands""".stripMargin,
    "dedup_substring_highdf" ->
      s"""WITH $GramsCte,
         |hid AS (
         |  SELECT gram, df FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS df FROM g2 GROUP BY 1)
         |  WHERE df > $Cap),
         |h AS (
         |  SELECT g2.doc_id, g2.pos, hid.df
         |  FROM g2 JOIN hid USING (gram)),
         |r AS (
         |  SELECT doc_id, pos, df,
         |         pos - row_number() OVER (PARTITION BY doc_id
         |           ORDER BY pos) AS isl
         |  FROM h)
         |SELECT doc_id, min(pos) AS span_start,
         |       CAST(count(*) + ${L - 1} AS BIGINT) AS span_tokens,
         |       CAST(min(df) AS BIGINT) AS min_gram_df
         |FROM r GROUP BY doc_id, isl
         |ORDER BY doc_id, span_start""".stripMargin,
    "dedup_substring_full_scrub" ->
      s"""WITH $GramsCte,
         |dfreq AS (
         |  SELECT gram, count(DISTINCT doc_id) AS df,
         |         min(doc_id) AS canon
         |  FROM g2 GROUP BY 1),
         |kept AS (
         |  SELECT g2.* FROM g2 JOIN dfreq USING (gram)
         |  WHERE df BETWEEN 2 AND $Cap),
         |m AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
         |         b.pos - a.pos AS diag
         |  FROM kept a JOIN kept b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |r AS (
         |  SELECT da, db, diag, pa,
         |         pa - row_number() OVER (PARTITION BY da, db, diag
         |           ORDER BY pa) AS isl
         |  FROM m),
         |runs AS (
         |  SELECT da, db, diag, isl, count(*) AS run, min(pa) AS pa_start
         |  FROM r GROUP BY 1, 2, 3, 4),
         |iv1 AS (
         |  SELECT DISTINCT db AS doc_id, pa_start + diag AS s,
         |         pa_start + diag + run + ${L - 2} AS e
         |  FROM runs),
         |iv2 AS (
         |  SELECT DISTINCT g2.doc_id, g2.pos AS s, g2.pos + ${L - 1} AS e
         |  FROM g2 JOIN dfreq USING (gram)
         |  WHERE dfreq.df > $Cap AND g2.doc_id <> dfreq.canon),
         |iv AS (
         |  SELECT DISTINCT doc_id, s, e FROM (
         |    SELECT * FROM iv1 UNION ALL SELECT * FROM iv2)),
         |m1 AS (
         |  SELECT doc_id, s, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS prev_max
         |  FROM iv),
         |m2 AS (
         |  SELECT doc_id, s, e,
         |         sum(CASE WHEN prev_max IS NULL OR s > prev_max
         |           THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
         |           ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM m1),
         |mg AS (
         |  SELECT doc_id, grp, min(s) AS s, max(e) AS e
         |  FROM m2 GROUP BY 1, 2),
         |per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_intervals,
         |         CAST(sum(e - s + 1) AS BIGINT) AS tokens_removed
         |  FROM mg GROUP BY 1),
         |toks AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT p.doc_id, t.n_tokens, p.tokens_removed, p.n_intervals,
         |       round(p.tokens_removed::DOUBLE / t.n_tokens::DOUBLE, 6)
         |         AS removed_ratio
         |FROM per_doc p JOIN toks t USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    "dedup_incremental_persisted" -> dedupIncrementalOracle,
    "dedup_tier_census" ->
      s"""WITH dcs AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |  WHERE len(string_split(text, ' ')) >= $L),
         |g AS (
         |  SELECT doc_id, unnest(range(1, len(ts) - $L + 2)) AS pos, ts
         |  FROM dcs),
         |g2 AS (
         |  SELECT doc_id, pos,
         |         array_to_string(ts[pos:pos + ${L - 1}], ' ') AS gram
         |  FROM g),
         |census AS (
         |  SELECT gram, count(*) AS n_post,
         |         count(DISTINCT doc_id) AS df
         |  FROM g2 GROUP BY 1)
         |SELECT CASE WHEN df = 1 THEN '1_unique'
         |            WHEN df <= $Cap THEN '2_pair_tier'
         |            ELSE '3_highdf_tier' END AS tier,
         |       CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(n_post) AS BIGINT) AS n_postings,
         |       CAST(max(df) AS BIGINT) AS max_df,
         |       CAST(sum(df * (df - 1)) / 2 AS BIGINT) AS pair_work
         |FROM census GROUP BY 1 ORDER BY tier""".stripMargin,
    "dedup_bbit_minhash" ->
      s"""WITH ${minhashCtes},
         |est AS (
         |  SELECT p.d1, p.d2, p.jaccard,
         |         CAST(len(list_filter(range(1, 65),
         |             i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 64.0 AS e64,
         |         CAST(len(list_filter(range(1, 65),
         |             i -> s1.sig[i] % 2 = s2.sig[i] % 2)) AS DOUBLE) / 64.0
         |           AS m1
         |  FROM lshp p JOIN sig s1 ON p.d1 = s1.doc_id
         |              JOIN sig s2 ON p.d2 = s2.doc_id)
         |SELECT d1, d2, round(jaccard, 6) AS j_exact,
         |       round(e64, 6) AS est_k64,
         |       round(greatest(2.0 * m1 - 1.0, 0.0), 6) AS est_b1,
         |       round(abs(e64 - jaccard), 6) AS err_k64,
         |       round(abs(greatest(2.0 * m1 - 1.0, 0.0) - jaccard), 6)
         |         AS err_b1
         |FROM est ORDER BY d1, d2""".stripMargin,
    "dedup_method_agreement" ->
      s"""WITH ${minhashCtes},
         |emb0 AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |sempairs AS (
         |  SELECT v1, v2 FROM (
         |    SELECT a.vec_id AS v1, b.vec_id AS v2,
         |           list_sum(list_transform(range(1, len(a.emb) + 1),
         |             i -> a.emb[i] * b.emb[i]))
         |             / (sqrt(list_sum(list_transform(
         |                  range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
         |                * sqrt(list_sum(list_transform(
         |                  range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i]))))
         |             AS cos
         |    FROM emb0 a JOIN emb0 b
         |      ON a.label = b.label AND a.vec_id < b.vec_id)
         |  WHERE cos >= 0.4),
         |uni AS (
         |  SELECT coalesce(l.d1, s.v1) AS d1, coalesce(l.d2, s.v2) AS d2,
         |         CASE WHEN l.d1 IS NOT NULL AND s.v1 IS NOT NULL
         |              THEN 'both'
         |              WHEN l.d1 IS NOT NULL THEN 'lexical_only'
         |              ELSE 'semantic_only' END AS category
         |  FROM lshp l FULL OUTER JOIN sempairs s
         |    ON l.d1 = s.v1 AND l.d2 = s.v2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_union FROM uni),
         |docs_ AS (
         |  SELECT category, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
         |  FROM (SELECT category, unnest([d1, d2]) AS doc FROM uni)
         |  GROUP BY 1)
         |SELECT u.category, CAST(count(*) AS BIGINT) AS n_pairs,
         |       dd.n_docs,
         |       round(CAST(count(*) AS DOUBLE)
         |         / CAST(t.n_union AS DOUBLE), 6) AS share
         |FROM uni u CROSS JOIN tot t JOIN docs_ dd ON u.category = dd.category
         |GROUP BY u.category, dd.n_docs, t.n_union
         |ORDER BY u.category""".stripMargin,
    "dedup_cohens_kappa" ->
      s"""WITH ${minhashCtes},
         |lexdocs AS (
         |  SELECT DISTINCT unnest([d1, d2]) AS id FROM lshp),
         |emb0 AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |semdocs AS (
         |  SELECT DISTINCT unnest([v1, v2]) AS id FROM (
         |    SELECT a.vec_id AS v1, b.vec_id AS v2
         |    FROM emb0 a JOIN emb0 b
         |      ON a.label = b.label AND a.vec_id < b.vec_id
         |    WHERE list_sum(list_transform(range(1, len(a.emb) + 1),
         |            i -> a.emb[i] * b.emb[i]))
         |          / (sqrt(list_sum(list_transform(
         |               range(1, len(a.emb) + 1), i -> a.emb[i] * a.emb[i])))
         |             * sqrt(list_sum(list_transform(
         |               range(1, len(b.emb) + 1), i -> b.emb[i] * b.emb[i]))))
         |          >= 0.4)),
         |uni AS (
         |  SELECT e.vec_id,
         |         CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END AS l,
         |         CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS m
         |  FROM embeddings e
         |  LEFT JOIN lexdocs l ON e.vec_id = l.id
         |  LEFT JOIN semdocs s ON e.vec_id = s.id),
         |cells AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN l = 1 AND m = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n11,
         |         CAST(sum(CASE WHEN l = 1 AND m = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n10,
         |         CAST(sum(CASE WHEN l = 0 AND m = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n01
         |  FROM uni),
         |k AS (
         |  SELECT n, n11, n10, n01, n - n11 - n10 - n01 AS n00,
         |         CAST(n11 + n - n11 - n10 - n01 AS DOUBLE)
         |           / CAST(n AS DOUBLE) AS po,
         |         (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
         |           + CAST(n01 + n - n11 - n10 - n01 AS DOUBLE)
         |             * CAST(n10 + n - n11 - n10 - n01 AS DOUBLE))
         |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
         |  FROM cells)
         |SELECT n AS n_docs, n11 AS both_flag, n10 AS lexical_only,
         |       n01 AS semantic_only, n00 AS neither,
         |       round(po, 6) AS p_observed, round(pe, 6) AS p_chance,
         |       round((po - pe) / (1.0 - pe), 6) AS kappa,
         |       CASE WHEN (po - pe) / (1.0 - pe) < 0.2 THEN 'slight'
         |            WHEN (po - pe) / (1.0 - pe) < 0.4 THEN 'fair'
         |            WHEN (po - pe) / (1.0 - pe) < 0.6 THEN 'moderate'
         |            WHEN (po - pe) / (1.0 - pe) < 0.8 THEN 'substantial'
         |            ELSE 'near_perfect' END AS agreement_band
         |FROM k""".stripMargin)
}
