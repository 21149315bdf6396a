package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.functions.{SimHashAgg, TextFunctions => TF}
import ColumnIdioms.docs

/** Deduplication operators for training-data pipelines: exact,
  * token-Jaccard (inverted-index formulation), MinHash+LSH, SimHash.
  *
  * Scale design: every variant is a pure shuffle-bounded dataflow —
  * no driver-side loops, no cartesian products. Candidate generation
  * is always blocked/bucketed (inverted index, LSH band buckets,
  * SimHash bands) so pair counts stay near-linear in input size;
  * the O(n²)-within-bucket step only ever sees one bucket at a time.
  */
object Dedup {

  /** Exact dedup summary over the md5 fingerprint (hash-groupBy). */
  def exactSummary(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(TF.fingerprint(col("text"))).as("n_unique"),
      (count(lit(1)) - countDistinct(TF.fingerprint(col("text")))).as("n_dups"))

  /** Exact set-similarity join with IDENTICAL-SET COLLAPSE + PREFIX
    * FILTERING (AllPairs/PPJoin family).
    *
    * Stage 1 — collapse: documents with the SAME distinct-item set
    * (within a (lang, source) block) form one group; only the
    * group representative enters the pairwise join. On real dedup
    * corpora exact-duplicate clusters carry most of the pair mass
    * (measured here: 5000 docs → far fewer distinct sets; candidate
    * work drops by the square of the collapse factor) and their
    * pairs need no verification at all — identical sets have
    * Jaccard exactly 1.0.
    *
    * Stage 2 — AllPairs on representatives: sort each set under a
    * global total order and index only the first `n - ⌈t·n⌉ + 1`
    * items — any pair with J ≥ t must collide on at least one
    * prefix item, so candidate generation shrinks by ~t while
    * remaining EXACT (no false negatives; verification computes
    * true Jaccard on the full sets).
    *
    * Stage 3 — expand ([[groupPairs]]): each verified group pair
    * crosses its two carried member lists (every member shares its
    * group's set, so the group Jaccard IS the member Jaccard), plus
    * all within-group pairs at Jaccard 1.0. Same result set as the
    * quadratic-within-block oracle, pair for pair.
    */
  private def prefixJaccardPairs(base: DataFrame, threshold: Double): DataFrame =
    prefixJaccardPairsRaw(base, threshold).orderBy(col("d1"), col("d2"))

  /** [[prefixJaccardPairs]] WITHOUT the final global pair sort — the
    * exact same pair SET. The sort is presentation order for queries
    * that EMIT pairs; consumers that aggregate/checkpoint the stream
    * (the threshold sweep, dupGroups' edge collect) were paying a
    * full range exchange + sort that Catalyst only eliminates below
    * joins/aggregates, not below a [[graft.Barrier]]
    * (probed: the Sort+rangepartitioning survive in those plans). */
  private def prefixJaccardPairsRaw(base: DataFrame, threshold: Double): DataFrame = {
    // ---- stage 1: identical-set collapse (blocked) ----
    // canonical set key: sorted items joined on  (items are
    // tokens/shingles — never contain the separator)
    val grouped = base
      .withColumn("items", sort_array(array_distinct(col("items"))))
      .withColumn("gkey", md5(concat_ws("",
        col("lang"), col("source"), concat_ws("", col("items")))))
    val groups = grouped
      .groupBy(col("gkey"), col("lang"), col("source"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        first(col("items")).as("items"))
      .transform(Barrier.materialize)
    // ---- stage 2: AllPairs prefix filter over representatives ----
    // Prefix filtering is only as selective as its global item
    // order: prefixes must hold each set's RAREST items, so order by
    // ascending document frequency (ties → item text) — the
    // canonical AllPairs ordering. Lexicographic order on a
    // shared-vocabulary corpus degenerates (every prefix holds the
    // same common tokens). Any consistent total order yields the
    // same exact pair set; only the candidate count changes.
    val withArr = rarestFirst(groups, threshold)
    val pre = withArr.select(col("gkey"), col("lang"), col("source"),
      col("n"), explode(slice(col("items"), lit(1), col("p"))).as("it"))
    val a = pre.alias("a"); val b = pre.alias("b")
    // AllPairs LENGTH filter alongside the prefix filter: J ≥ t ⇒
    // |s1∩s2| ≥ t·|s1∪s2| ⇒ min(n1,n2) ≥ t·max(n1,n2), so a size
    // mismatch disproves the pair before the expensive verify join
    // ever sees it (sf0.1 probe, t=0.9: 129,888 → 41,512 candidates).
    // Same ε-guard as the prefix width: 0.9·90 in double is
    // 81.000…01 and would falsely drop an exact-81 intersection;
    // slack only ever KEEPS extra candidates, which verify prunes.
    // (The PPJoin POSITIONAL filter was measured on top of this and
    // rejected: it prunes only 12% more at t=0.9 and 2% at t=0.5 on
    // this corpus — shared prefix items land early — while widening
    // every exploded row by a position column.)
    val cand = a.join(b,
        col("a.it") === col("b.it") && col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") && col("a.gkey") < col("b.gkey") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          greatest(col("a.n"), col("b.n")).cast("double") * threshold - 1e-9)
      .select(col("a.gkey").as("g1"), col("b.gkey").as("g2"))
      .distinct()
    // ---- stage 3: verify, expand groups back to document pairs ----
    groupPairs(cand, withArr, "jaccard", threshold, directed = false)(jaccardOf)
  }

  /** Rarest-first item order over the collapsed groups (gkey, lang,
    * source, members, items), stored: items reordered by ascending
    * document frequency, `n` = set size, `p` = the prefix width that
    * keeps every pair at measure ≥ t (Jaccard or containment). */
  private def rarestFirst(groups: DataFrame, threshold: Double): DataFrame = {
    val posting = groups.select(col("gkey"), explode(col("items")).as("it"))
    val dfreq = posting.groupBy("it").agg(count(lit(1)).as("df"))
    val ordered = posting
      .join(dfreq, "it")
      .groupBy("gkey")
      .agg(transform(sort_array(collect_list(struct(col("df"), col("it")))),
        x => x.getField("it")).as("items"))
    groups.drop("items").join(ordered, "gkey")
      .withColumn("n", size(col("items")))
      // ε-guard: 90*0.9 in double is 81.00000000000001 and a naive
      // ceil would SHRINK the prefix (false negatives). Larger p is
      // always safe; smaller never is.
      .withColumn("p",
        (col("n") - ceil(col("n") * threshold - lit(1e-9)) + 1).cast("int"))
      .transform(Barrier.materialize)
  }

  private def jaccardOf(s1: Column, s2: Column): Column =
    size(array_intersect(s1, s2)).cast("double") /
      size(array_union(s1, s2)).cast("double")

  /** Verify group-level candidates and expand them to document pairs
    * (d1, d2, `measure`), the last stage of every collapse-then-verify
    * kernel. `groups` holds one row per distinct item set: (gkey,
    * items, members), `members` sorted ascending.
    *
    * Cross-group: both sides of each (g1, g2) candidate join the same
    * projection of `groups`, so the two joins read one exchange
    * (ReuseExchange), and a pair at `measure` ≥ `threshold` crosses its
    * two carried member lists. Within-group: identical sets score 1.0,
    * so each group's pairs come from a generator over its own members
    * (the i-th member meets every later one, or every other one when
    * `directed`), with no join. Undirected pairs have d1 < d2; directed
    * pairs keep d1 in g1, d2 in g2 and go both ways within a group.
    */
  private def groupPairs(cand: DataFrame, groups: DataFrame, measure: String,
      threshold: Double, directed: Boolean)(score: (Column, Column) => Column): DataFrame = {
    val sets = groups.select(col("gkey"), col("items"), col("members"))
    val l = sets.alias("l"); val r = sets.alias("r")
    val (m1, m2) = (col("m1"), col("m2"))
    val (d1, d2) = if (directed) (m1, m2) else (least(m1, m2), greatest(m1, m2))
    val crossPairs = cand
      .join(l, col("g1") === col("l.gkey"))
      .join(r, col("g2") === col("r.gkey"))
      .select(col("l.members").as("ms1"), col("r.members").as("ms2"),
        score(col("l.items"), col("r.items")).as(measure))
      .filter(col(measure) >= threshold)
      .select(explode(col("ms1")).as("m1"), col("ms2"), col(measure))
      .select(m1, explode(col("ms2")).as("m2"), col(measure))
      .select(d1.as("d1"), d2.as("d2"), col(measure))
    val ms = col("members")
    val partners =
      if (directed) filter(ms, _ =!= col("d1"))
      else slice(ms, col("i") + 2, size(ms) - col("i") - 1)
    val withinPairs = sets.filter(size(ms) > 1)
      .select(ms, posexplode(ms).as(Seq("i", "d1")))
      .select(col("d1"), explode(partners).as("d2"), lit(1.0).as(measure))
    withinPairs.union(crossPairs)
  }

  /** Token-set Jaccard near-dup pairs, (lang, source)-blocked,
    * prefix-filtered, exact (matches the DuckDB inverted-index
    * oracle pair-for-pair). Measured on a 10×-duplicated corpus:
    * prefix candidates verify in 111 s where the counting inverted
    * index (Σ c² posting join) takes 184 s — both are bound by the
    * genuinely-quadratic pair output there; see [[dupGroups]] for
    * the linear emission.
    */
  /** DataFrame-level entry (any (doc_id, lang, source, items) input)
    * — the spec surface for randomized differential testing against
    * the quadratic reference join. */
  def jaccardPairsOf(base: DataFrame, threshold: Double): DataFrame =
    prefixJaccardPairs(base, threshold)

  /** Unordered token-Jaccard pair stream (same set as
    * [[jaccardPairs]]) for aggregate-only consumers — see
    * [[prefixJaccardPairsRaw]] for why the sort is skippable. */
  private[graft] def jaccardPairsRaw(s: SparkSession, dir: String,
      threshold: Double): DataFrame =
    prefixJaccardPairsRaw(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        TF.tokens(col("text")).as("items")),
      threshold)

  def jaccardPairs(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    prefixJaccardPairs(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        TF.tokens(col("text")).as("items")),
      threshold)

  /** Word n-gram (shingle-STRING) Jaccard near-dup pairs — same
    * prefix-filtered exact join over 3-gram shingles, which
    * separates docs that merely share vocabulary from docs that
    * share phrasing. Shingle strings (not hashes) so the DuckDB
    * oracle reproduces them exactly.
    */
  def ngramJaccardPairs(s: SparkSession, dir: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsRaw(s, dir, n, threshold).orderBy(col("d1"), col("d2"))

  /** Unordered n-gram Jaccard pair stream (same set as
    * [[ngramJaccardPairs]]) for aggregate-only consumers — see
    * [[prefixJaccardPairsRaw]] for why the sort is skippable. */
  private[graft] def ngramJaccardPairsRaw(s: SparkSession, dir: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    prefixJaccardPairsRaw(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        TF.shingles(col("text"), n).as("items")),
      threshold)

  /** DIRECTED shingle containment C(A→B) = |A∩B| / |A| — Broder's
    * asymmetric measure, the sub-document duplication case Jaccard
    * misses: a short doc fully embedded in a long one has high
    * containment but low resemblance. Same identical-set collapse +
    * rarest-first prefix machinery as [[prefixJaccardPairs]], with
    * the asymmetric candidate rule: if C(A→B) ≥ t then B holds
    * ≥ ⌈t·n_A⌉ of A's items, so A's first n_A−⌈t·n_A⌉+1 items
    * (rarest-first order) must hit B's FULL item set — prefix
    * postings join full postings, exact (no false negatives), and
    * both directions emerge because every set plays the A role.
    * Emits directed doc pairs (d1 contained-in d2 at ≥ t); identical
    * sets expand as containment 1.0 both ways.
    */
  def containmentPairs(s: SparkSession, dir: String, n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    containmentPairsOf(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        TF.shingles(col("text"), n).as("items")),
      threshold)

  /** DataFrame-level entry (any (doc_id, lang, source, items) input)
    * — the spec surface for randomized differential testing against
    * the quadratic directed reference join. */
  def containmentPairsOf(base: DataFrame, threshold: Double): DataFrame = {
    // stage 1: identical-set collapse (blocked) — same as prefix
    // join. setKey joins on an unprintable separator: concat_ws("")
    // would let distinct sets collapse into one group (["x","yz"]
    // vs ["xy","z"]) and emit false containment-1.0 pairs.
    val grouped = base
      .withColumn("items", sort_array(array_distinct(col("items"))))
      .withColumn("gkey", setKey(col("items"), col("lang"), col("source")))
    val groups = grouped
      .groupBy(col("gkey"), col("lang"), col("source"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        first(col("items")).as("items"))
      .transform(Barrier.materialize)
    // stage 2: rarest-first ordering (selectivity only — any total
    // order is exact), then ASYMMETRIC candidates: A-prefix × B-full
    val withArr = rarestFirst(groups, threshold)
    val pre = withArr.select(col("gkey"), col("lang"), col("source"),
      col("n"), explode(slice(col("items"), lit(1), col("p"))).as("it"))
    val full = withArr.select(col("gkey"), col("lang"), col("source"),
      col("n"), explode(col("items")).as("it"))
    val a = pre.alias("a"); val b = full.alias("b")
    // asymmetric LENGTH filter: C(A→B) = |A∩B|/|A| ≥ t forces
    // |B| ≥ |A∩B| ≥ t·|A|, so too-small B sides drop before the
    // verify join (ε slack as in prefixJaccardPairs — only ever
    // keeps extra candidates, never loses a true pair)
    val cand = a.join(b,
        col("a.it") === col("b.it") && col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") && col("a.gkey") =!= col("b.gkey") &&
        col("b.n").cast("double") >=
          col("a.n").cast("double") * threshold - 1e-9)
      .select(col("a.gkey").as("g1"), col("b.gkey").as("g2"))
      .distinct()
    // stage 3: verify, expand to DIRECTED doc pairs
    groupPairs(cand, withArr, "containment", threshold, directed = true)(
      (s1, s2) => size(array_intersect(s1, s2)).cast("double") / size(s1).cast("double"))
      .orderBy(col("d1"), col("d2"))
  }

  /** MinHash signatures: k permutation-hashes h_i(x)=(a_i·x+b_i) mod p
    * over 64-bit shingle hashes, min per permutation. Entirely
    * `functions._` expressions → codegen'd, no UDF.
    */
  def minhashSignature(text: Column, k: Int, shingleN: Int,
      portableHashes: Boolean = false): Column = {
    // native Expression, not nested transform(): Spark HOFs evaluate
    // interpreted+boxed (~46 ms/doc for k=64); the primitive-loop
    // kernel in graft.plans.MinHashSignature is ~10 µs/doc
    val hs = if (portableHashes) TF.md5ShingleHashes(text, shingleN)
    else TF.shingleHashes(text, shingleN)
    graft.plans.HashExpressions.minhash(hs, k)
  }

  /** Canonical 128-bit key of an item SET (order-free): md5 over the
    * sorted items joined with an unprintable separator, prefixed by
    * any blocking columns. Identical sets (within a block) collide;
    * distinct sets collide with md5 probability only. */
  private def setKey(items: Column, blockCols: Column*): Column =
    md5(concat_ws("",
      blockCols :+ concat_ws("",
        transform(sort_array(items), _.cast("string"))): _*))

  /** MinHash+LSH candidate pairs → exact-Jaccard verification on the
    * shingle sets. bands×rows = k; sets sharing ≥1 band bucket meet.
    *
    * Documents with IDENTICAL shingle sets are collapsed before the
    * band join (same design as [[prefixJaccardPairs]]): only one
    * signature per distinct set enters banding, and identical-set
    * members expand back as Jaccard-1.0 pairs with no verification —
    * on duplicated corpora the bucket self-join would otherwise see
    * every copy of every document in the same buckets and go
    * quadratic in copy count.
    */
  def minhashLshPairs(s: SparkSession, dir: String, k: Int = 64,
      bands: Int = 16, shingleN: Int = 3, threshold: Double = 0.7,
      portableHashes: Boolean = false): DataFrame =
    minhashLshPairsRaw(s, dir, k, bands, shingleN, threshold, portableHashes)
      .orderBy(col("d1"), col("d2"))

  /** Unordered LSH pair stream (same set as [[minhashLshPairs]]) —
    * the input shape for [[dupGroups]]-style aggregate consumers,
    * which otherwise pay the global (d1, d2) range sort inside their
    * barrier (see [[prefixJaccardPairsRaw]]). */
  private[graft] def minhashLshPairsRaw(s: SparkSession, dir: String, k: Int = 64,
      bands: Int = 16, shingleN: Int = 3, threshold: Double = 0.7,
      portableHashes: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // portable = md5-derived 60-bit shingle hashes so the DuckDB
    // oracle can replay signatures AND banding (LSH recall at the
    // J≈threshold margin is ~99%, not 100% — at sf0.1 the full-
    // pairwise oracle disagreed on ~10 borderline pairs, so the
    // oracle must run the same candidate generation, which needs
    // engine-portable hashes); default = faster native FNV.
    val hashCol = if (portableHashes) TF.md5ShingleHashes(col("text"), shingleN)
    else array_distinct(TF.shingleHashes(col("text"), shingleN))
    val grouped = docs(s, dir).select(col("doc_id"), hashCol.as("sh"))
      .withColumn("gkey", setKey(col("sh")))
    // ONE materialization barrier for the whole pipeline: the
    // collapsed groups (members ride along) plus the 64-perm
    // signature, computed during the job that first reads it. The
    // barrier is load-bearing twice over: without it CollapseProject
    // inlines the signature into the band lambda below and the
    // interpreted HOF re-evaluates it once PER BAND (16× per row —
    // measured 450 s vs <10 s at sf0.1), and the frame is read by
    // the banding (both sides of the bucket join), the one verify
    // projection both candidate sides share, and the within-group
    // generator.
    val base = grouped.groupBy(col("gkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        first(col("sh")).as("sh"))
      .withColumn("sig", graft.plans.HashExpressions.minhash(col("sh"), k))
      .transform(Barrier.materialize)
    // band join carries only (band, bucket, gkey) — the shingle
    // sets and members are joined back exactly once per surviving
    // pair, so the wide arrays never ride the bucket-join shuffle
    val banded = base.select(col("gkey"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => xxhash64(concat_ws("_", bnd,
          concat_ws(",", slice(col("sig"), bnd * lit(rows) + 1, lit(rows))))))))
      .select(col("gkey"), col("pos").as("band"), col("col").as("bucket"))
    val l = banded.alias("l"); val r = banded.alias("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.gkey") < col("r.gkey"))
      .select(col("l.gkey").as("g1"), col("r.gkey").as("g2"))
      .distinct()
    groupPairs(cand, base.withColumnRenamed("sh", "items"), "jaccard", threshold,
      directed = false)(jaccardOf)
  }

  /** Incremental near-dup detection — the production shape of LSH
    * dedup at 100 TB: a NEW batch (here the doc_id % 10 == 0 slice,
    * ~10% of the corpus) is checked against the EXISTING corpus
    * band index without ever recomputing corpus-vs-corpus pairs.
    * The corpus side's (band, bucket) index is what a daily
    * pipeline keeps materialized (bucketed on the band hash, so the
    * join co-locates); each increment shuffles only its own bands,
    * meets the corpus per-bucket, and verifies candidates by exact
    * hash-set Jaccard — work linear in the BATCH, not the corpus.
    * New-vs-new duplicates are out of scope by design (a real
    * pipeline resolves those batch-locally before indexing).
    * Emits one row per new document that near-duplicates the
    * corpus: match count, first (min-id) match, best Jaccard.
    */
  def minhashIncrementalHits(s: SparkSession, dir: String, k: Int = 64,
      bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // portable md5 hashes so the oracle replays banding end-to-end;
    // ONE barrier feeds banding (both sides) and verification
    val base = docs(s, dir)
      .select(col("doc_id"), TF.md5ShingleHashes(col("text"), shingleN).as("sh"))
      .withColumn("is_new", col("doc_id") % 10 === 0)
      .withColumn("sig", graft.plans.HashExpressions.minhash(col("sh"), k))
      .transform(Barrier.materialize)
    // Spark buckets on xxhash64 of the band slice while the DuckDB
    // oracle joins on the raw band-key STRING: a 64-bit band-hash
    // collision (~2^-64 per band pair) would create a Spark-only
    // candidate which, if it then verified at j >= threshold, would
    // surface as an oracle hash-mismatch — i.e. a collision FAILS
    // LOUDLY in the gate rather than silently passing. Accepted:
    // the fixed-width hash is what keeps the shuffled band key 8
    // bytes instead of an unbounded string at corpus scale.
    val banded = base.select(col("doc_id"), col("is_new"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => xxhash64(concat_ws("_", bnd,
          concat_ws(",", slice(col("sig"), bnd * lit(rows) + 1, lit(rows))))))))
      .select(col("doc_id"), col("is_new"),
        col("pos").as("band"), col("col").as("bucket"))
    val newB = banded.filter(col("is_new")).drop("is_new")
    val oldB = banded.filter(!col("is_new")).drop("is_new")
    val cand = newB.alias("n").join(oldB.alias("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      .select(col("n.doc_id").as("nd"), col("o.doc_id").as("od"))
      .distinct()
    val sets = base.select(col("doc_id"), col("sh"))
    cand
      .join(sets.select(col("doc_id").as("nd"), col("sh").as("sh1")), "nd")
      .join(sets.select(col("doc_id").as("od"), col("sh").as("sh2")), "od")
      .select(col("nd"), col("od"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double")).as("j"))
      .filter(col("j") >= threshold)
      .groupBy(col("nd").as("new_doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("od")).as("first_match"),
        max(col("j")).as("best_jaccard"))
      .orderBy(col("new_doc_id"))
  }

  /** Resolve near-dup PAIRS into canonical duplicate GROUPS: the
    * connected components of the pair graph, one row per group of two
    * or more documents, canonical id = the smallest member, sorted by
    * canonical id. Pair output is inherently quadratic in dup-group
    * size (a 10-copy document yields 45 pairs — measured 18× blowup
    * on a 10×-duplicated corpus); group output is linear in
    * documents, which is the shape a 100 TB dedup must emit.
    *
    * Up to `localEdgeThreshold` edges the groups are built on the
    * driver from [[localLabels]] and returned as a local frame, so
    * collecting it runs no Spark job; beyond that, from
    * [[propagatedLabels]] over the same stored edges ([[labelsOf]]).
    */
  def dupGroups(pairs: DataFrame, localEdgeThreshold: Long = MaxLocalEdges): DataFrame =
    labelsOf(pairs.select(col("d1"), col("d2")), localEdgeThreshold) match {
      case Right(labels) =>
        val spark = pairs.sparkSession
        import spark.implicits._
        labels.groupBy(_._2).iterator
          .collect { case (rep, ms) if ms.length > 1 =>
            (rep, ms.length.toLong, ms.map(_._1).sorted.toSeq) }
          .toSeq.sortBy(_._1)
          .toDF("canonical_id", "group_size", "members")
      case Left(labels) =>
        labels.groupBy(col("rep").as("canonical_id"))
          .agg(count(lit(1)).as("group_size"),
            sort_array(collect_list(col("id"))).as("members"))
          .filter(col("group_size") > 1)
          .orderBy(col("canonical_id"))
    }

  /** Edge count up to which [[componentLabels]] and [[dupGroups]] run
    * the driver union-find. */
  val MaxLocalEdges = 5000000L

  /** Connected components of an undirected edge list (two id columns,
    * any names): one `(id, rep)` row per node that appears in an
    * edge, `rep` the smallest id of its component.
    *
    * Hybrid: near-dup and similarity graphs are orders of magnitude
    * smaller than the corpus (only items WITH a near neighbor
    * appear), so up to `localEdgeThreshold` edges a driver union-find
    * wins ([[localLabels]]: one pull, no per-round jobs). Beyond that,
    * [[propagatedLabels]] runs distributed min-label propagation. Both
    * arms emit identical labels (DedupSpec and DifferentialSpec pin
    * this).
    */
  private[graft] def componentLabels(edges: DataFrame,
      localEdgeThreshold: Long): DataFrame =
    labelsOf(edges, localEdgeThreshold).fold(identity, { labels =>
      val spark = edges.sparkSession
      import spark.implicits._
      labels.toSeq.toDF("id", "rep")
    })

  /** `(id, rep)` labels of an edge list: on the driver when it holds
    * at most `threshold` edges, else as a distributed frame. The edges
    * are stored behind one barrier that both arms read, so the pair
    * stream is evaluated once whichever arm runs. */
  private def labelsOf(edges: DataFrame,
      threshold: Long): Either[DataFrame, Array[(Long, Long)]] = {
    val stored = edges.toDF("a", "b").transform(Barrier.materialize)
    localLabels(stored, threshold).toRight(propagatedLabels(stored))
  }

  /** Driver union-find (path compression, union by min id) over the
    * stored edges, or None when they hold more than `threshold`.
    *
    * One Spark job pulls at most `threshold + 1` edges: a single task
    * reads the stored partitions in turn and stops there, so the
    * driver never receives more. Over several partitions a limit
    * would scan them in growing batches, one job each, and the lazy
    * barrier would add a job to store the partitions the first batch
    * skipped. Only the pair stream's last stage runs in that one task;
    * AQE runs the stages before it, in parallel, when the barrier is
    * defined. */
  private def localLabels(stored: DataFrame, threshold: Long): Option[Array[(Long, Long)]] = {
    require(threshold < Int.MaxValue, s"local edge threshold $threshold exceeds one driver array")
    val spark = stored.sparkSession
    import spark.implicits._
    val es = stored.coalesce(1).limit(threshold.toInt + 1).as[(Long, Long)].collect()
    if (es.length > threshold) return None
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min id becomes the canonical representative
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    Some(es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet.toArray
      .map((id: Long) => (id, find(id))))
  }

  /** Distributed min-label propagation over the stored edges: each
    * round every node takes the min label among itself and its
    * neighbors plus one pointer jump (path halving), so convergence is
    * O(log diameter) rounds, each one join + one min-aggregate; the
    * loop runs to a fixpoint, and the driver only reads the
    * changed-label count. */
  private def propagatedLabels(undirected: DataFrame): DataFrame = {
    val both = undirected.union(undirected.select(col("b").as("a"), col("a").as("b")))
      .transform(Barrier.materialize) // read by every round's join
    var labels = both.select(col("a").as("id")).distinct()
      .withColumn("rep", col("id")).transform(Barrier.materialize)
    var changed = 1L
    while (changed > 0) {
      val viaNbr = both.join(labels.withColumnRenamed("id", "nid"),
          col("b") === col("nid"))
        .select(col("a").as("id"), col("rep"))
      // no barrier on nbrMin: both sides of the halving self-join
      // recompute it from barriered inputs — two shallow stages,
      // cheaper than a third materialization per round
      val nbrMin = labels.select(col("id"), col("rep")).union(viaNbr)
        .groupBy(col("id")).agg(min(col("rep")).as("rep"))
      // pointer jumping (path halving): follow the representative one
      // hop — rep ← rep(rep) — so label distance halves each round
      // and convergence is O(log diameter), not O(diameter). One jump
      // per round measures fastest: more jumps shave rounds but
      // re-execute nbrMin per self-join side and lose more than they
      // save. Without any jump, a chain-shaped near-dup cluster costs
      // one distributed round per hop. The self-join uses no alias
      // qualifiers: a qualified column (`x.id`) under a barrier leaves
      // it with constraints on attribute ids that Spark's self-join
      // deduplication does not rewrite, and the next round's union
      // then fails in the optimizer ("key not found: id#…").
      val next = nbrMin
        .join(nbrMin.select(col("id").as("rid"), col("rep").as("rrep")),
          col("rep") === col("rid"), "left")
        .select(col("id"), least(col("rep"), coalesce(col("rrep"), col("rep"))).as("rep"))
        .transform(Barrier.materialize)
      changed = next.join(labels.withColumnRenamed("rep", "old"), "id")
        .filter(col("rep") < col("old")).count()
      labels = next
    }
    labels
  }

  /** Winnowing near-dup pairs: documents whose winnowing-fingerprint
    * SETS (plans.WinnowFingerprint: char-k-gram rolling hashes →
    * window minima) overlap at Jaccard ≥ threshold, through the same
    * identical-set collapse + rarest-first AllPairs machinery as the
    * token join. Winnowing's guarantee — any shared run ≥ k+w-1
    * chars contributes a common hash — makes this the
    * passage-level-duplication join (copied sentences collide even
    * when the rest of the documents differ), at fingerprint cost
    * ~2/(w+1) of the full k-gram set. Fingerprints are stringified
    * so candidate generation reuses the string-item AllPairs path;
    * values, not representation, drive the Jaccard.
    *
    * w=12 (vs the per-doc query's w=4) trades guarantee granularity
    * (shared runs ≥ k+w-1 = 19 chars — still far below a copied
    * sentence) for ~3× sparser fingerprints, which shrinks the
    * posting join ~3× and candidate pairs ~9× — measured 2.5 s →
    * ~0.7 s at sf0.1.
    */
  def winnowPairs(s: SparkSession, dir: String, k: Int = 8, w: Int = 12,
      threshold: Double = 0.5): DataFrame =
    prefixJaccardPairs(
      docs(s, dir)
        // byte-hashing expression vs codepoint-walking oracle agree
        // only on ASCII — assert the contract rather than assume it
        .where(assert_true(length(col("text")) === octet_length(col("text")),
          lit("winnow oracle assumes ASCII text")).isNull)
        .select(col("doc_id"), col("lang"), col("source"),
          transform(graft.plans.HashExpressions.winnowFingerprint(col("text"), k, w),
            _.cast("string")).as("items")),
      threshold)

  /** SimHash per document via the native [[graft.plans.SimHash64]]
    * expression — per-row, no explode/shuffle. (The distributed
    * [[SimHashAgg]] aggregator computes the same hash for token
    * streams too wide for one row; equivalence is ScalaTest-checked.)
    * Near-dup pairs then use Hamming distance ≤ maxDist with
    * band-blocking: split the 64-bit hash into (maxDist+1) bands —
    * pairs within distance share ≥1 exact band.
    */
  def simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      graft.plans.HashExpressions.simhash64(
        TF.shingleHashes(col("text"), 1)).as("simhash"))

  /** Near-dup pairs are additionally blocked on (lang, source) —
    * standard corpus-dedup practice that keeps per-bucket candidate
    * counts near-linear even on pathologically self-similar corpora
    * (unblocked, this shared-vocab testset yields 1.5M raw
    * candidates at sf0.1; blocked, ~1/100 of that). */
  def simhashPairs(s: SparkSession, dir: String, maxDist: Int = 8,
      portableHashes: Boolean = false): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    // portable = md5-derived 60-bit token hashes (reproducible in the
    // DuckDB oracle, which replays the whole simhash end-to-end);
    // default = the faster native FNV shingle hashes. Banding is
    // LOSSLESS either way: with maxDist+1 bands, any pair within
    // maxDist differing bits shares at least one exact band
    // (pigeonhole), so the pair set is exact, not probabilistic.
    val hashes =
      if (portableHashes) TF.md5TokenHashes(col("text"))
      else TF.shingleHashes(col("text"), 1)
    // Identical hash-sets (within a block) collapse before the band
    // join — members share their representative's simhash exactly,
    // so within-group pairs are Hamming 0 and cross-group distances
    // are the representative distances. Same rationale as
    // [[prefixJaccardPairs]]: band buckets otherwise hold every copy
    // of every duplicated document and the self-join goes quadratic
    // in copy count.
    val grouped = docs(s, dir).select(col("doc_id"), col("lang"),
        col("source"), hashes.as("hs"))
      .withColumn("gkey", setKey(col("hs"), col("lang"), col("source")))
    // ONE materialization barrier: collapsed groups + the 64-bit
    // simhash in the same stored frame (the token-hash array is
    // consumed by simhash64 inside the projection and dropped, so
    // the materialized block holds only key/members/simhash). Both
    // sides of the band self-join and the member expansion read the
    // materialized frame.
    val base = grouped
      .groupBy(col("gkey"), col("lang"), col("source"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        first(col("hs")).as("hs"))
      .withColumn("simhash",
        graft.plans.HashExpressions.simhash64(col("hs")))
      .drop("hs")
      .transform(Barrier.materialize)
    val groups = base.select(col("gkey"), col("members"))
    val sh = base.select(col("gkey"), col("lang"), col("source"),
      col("simhash"))
    val mask = (1L << width) - 1
    val banded = sh.select(col("gkey"), col("lang"), col("source"), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> shiftright(simhash, cast(b * $width as int)) & ${mask}L)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val l = banded.alias("l"); val r = banded.alias("r")
    val repPairs = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.lang") === col("r.lang") && col("l.source") === col("r.source") &&
        col("l.gkey") < col("r.gkey"))
      .select(col("l.gkey").as("g1"), col("r.gkey").as("g2"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .dropDuplicates("g1", "g2")
      .filter(col("hamming") <= maxDist)
    val m = groups.select(col("gkey"), explode(col("members")).as("doc_id"))
    val wl = m.alias("wl"); val wr = m.alias("wr")
    val withinPairs = wl.join(wr,
        col("wl.gkey") === col("wr.gkey") &&
        col("wl.doc_id") < col("wr.doc_id"))
      .select(col("wl.doc_id").as("d1"), col("wr.doc_id").as("d2"),
        lit(0).cast("int").as("hamming"))
    val crossPairs = repPairs
      .join(m.select(col("gkey").as("g1"), col("doc_id").as("m1")), "g1")
      .join(m.select(col("gkey").as("g2"), col("doc_id").as("m2")), "g2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("hamming"))
    withinPairs.union(crossPairs).orderBy(col("d1"), col("d2"))
  }
}
