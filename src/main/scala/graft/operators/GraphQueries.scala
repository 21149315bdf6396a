package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.functions.{Similarity, TextFunctions => TF}
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Graph analytics over the k-NN and label graphs: components,
  * PageRank, label propagation, triangles, k-core, HITS,
  * centralities, assortativity, modularity and link prediction.
  */
object GraphQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("g_")

  // ---------------------------------------------------------------
  // g_components — connected components over the embedding-cosine
  // similarity graph (the clustering step behind every near-dup
  // "keep one per group" policy). Hybrid, same policy as
  // Dedup.dupGroups: similarity graphs are orders of magnitude
  // smaller than the corpus (only vectors WITH a near neighbor
  // appear), so up to ~5M edges a driver union-find wins — one
  // collect in, no per-iteration jobs; beyond that the distributed
  // min-label propagation below takes over. Both paths emit
  // identical components (DifferentialSpec + a direct equality spec
  // pin this). The distributed path: each round every node takes
  // the min label among itself and its neighbors + one pointer
  // jump (path halving), so convergence is O(log diameter) rounds,
  // each one join + one min-aggregate — all distributed; the driver
  // only checks the converged-yet counter. Oracle: DuckDB
  // recursive-CTE reachability (exact, iteration-free).
  // ---------------------------------------------------------------
  val gComponents: Q = (s, dir) =>
    gComponentsImpl(graft.functions.Similarity
      .cosineNearDupPairs(s, dir, 0.3).select(col("v1"), col("v2")))

  private[graft] def gComponentsImpl(pairs: DataFrame,
      localEdgeThreshold: Long = 5000000L): DataFrame = {
    val undirected = pairs.localCheckpoint(eager = false)
    if (undirected.count() <= localEdgeThreshold)
      return gComponentsLocal(undirected)
    val edges = undirected
      .union(undirected.select(col("v2").as("v1"), col("v1").as("v2")))
      .toDF("a", "b").cache()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("rep", col("id")).localCheckpoint(eager = false)
    var changed = 1L
    while (changed > 0) {
      val viaNbr = edges.join(labels.withColumnRenamed("id", "nid"),
          col("b") === col("nid"))
        .select(col("a").as("id"), col("rep"))
      // eager localCheckpoint, not cache: every iterative-DataFrame
      // loop grows its logical plan each round, and Catalyst
      // re-plans (and can re-execute, racing the lazy cache through
      // the self-join below) the whole nested lineage per action —
      // cost compounds per round. Checkpointing truncates the plan
      // to the materialized result, making every round O(1) work.
      // (nbrMin itself stays lazy: both sides of the halving
      // self-join recompute it from checkpointed inputs — two
      // shallow stages, cheaper than a third eager materialization
      // per round)
      val nbrMin = labels.select(col("id"), col("rep")).union(viaNbr)
        .groupBy(col("id")).agg(min(col("rep")).as("rep"))
      // pointer jumping (path halving): follow the representative one
      // hop — rep ← rep(rep) — so label distance halves each round
      // and convergence is O(log diameter), not O(diameter). One jump
      // per round measures fastest: more jumps shave rounds but
      // re-execute the (lazy) nbrMin per self-join side and lose
      // more than they save. Without any jump, a chain-shaped
      // near-dup cluster costs one distributed round per hop.
      // eager checkpoint, then a cheap count on the materialized
      // result — measured FASTER than folding both into one lazy-
      // checkpoint action (6.1-6.8 s vs 7.5-8.8 s at sf0.1): the
      // combined job re-plans the deep lineage where the eager
      // materialization keeps each job shallow
      val next = nbrMin.alias("x")
        .join(nbrMin.select(col("id").as("rid"), col("rep").as("rrep")).alias("y"),
          col("x.rep") === col("rid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.rep"), coalesce(col("rrep"), col("x.rep"))).as("rep"))
        .localCheckpoint(eager = false)
      changed = next.join(labels.withColumnRenamed("rep", "old"), "id")
        .filter(col("rep") < col("old")).count()
      labels = next
    }
    val out = labels.groupBy(col("rep").as("component"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
      .orderBy(col("component"))
    edges.unpersist()
    out
  }

  /** Driver-side union-find (path compression + union by min) for
    * similarity graphs under the hybrid threshold — min-id
    * representative, so components match the propagation path
    * exactly. Mirrors Dedup.dupGroupsLocal with this query's
    * (component, n_members, max_member) output. */
  private def gComponentsLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = pairs.as[(Long, Long)].collect()
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
    val members = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
      .map((id: Long) => (find(id), id))
    members.toDF("rep", "id")
      .groupBy(col("rep").as("component"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
      .orderBy(col("component"))
  }

  // ---------------------------------------------------------------
  // g_label_prop — synchronous label propagation (Raghavan et al.
  // 2007), 4 fixed iterations, over the same embedding-cosine
  // similarity graph as g_components: each node takes the MODE of
  // its neighbors' labels (tie → smallest label). Communities are
  // finer than components — a hub chaining two dense near-dup
  // clusters keeps them one component but two communities, which is
  // the granularity dedup "keep one per group" actually wants on
  // chain-shaped graphs. Everything is integer (counts + min
  // tiebreaks): no float policy needed, and the fixed iteration
  // count makes the unrolled DuckDB replay exact. Scale shape per
  // iteration: one edge⋈label join + a two-phase max(struct) argmax
  // (never a window over the edge list); the label frame
  // localCheckpoints per iteration — the iterative-loop lineage
  // discipline (see gComponentsImpl).
  // ---------------------------------------------------------------
  private val lpIters = 4

  val gLabelProp: Q = (s, dir) => {
    val pairs = graft.functions.Similarity
      .cosineNearDupPairs(s, dir, 0.3).select(col("v1"), col("v2"))
    val edges = pairs
      .union(pairs.select(col("v2").as("v1"), col("v1").as("v2")))
      .toDF("a", "b").localCheckpoint(eager = false)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lab", col("id")).localCheckpoint(eager = false)
    for (_ <- 1 to lpIters) {
      labels = edges
        .join(labels.select(col("id").as("b"), col("lab")), "b")
        .groupBy(col("a"), col("lab")).agg(count(lit(1)).as("c"))
        // mode with smallest-label tiebreak as a two-phase
        // max(struct(c, -lab)) — no window, no second shuffle
        .groupBy(col("a"))
        .agg(max(struct(col("c").as("c"), (-col("lab")).as("neg"))).as("m"))
        .select(col("a").as("id"), (-col("m.neg")).cast("long").as("lab"))
        .localCheckpoint(eager = false)
    }
    labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
      .orderBy(col("community"))
  }

  // ---------------------------------------------------------------
  // g_pagerank — 5 fixed PageRank iterations (damping 0.85) on the
  // bigram co-occurrence graph of the top-50 terms. Every rank
  // update folds its in-neighbor contributions in sorted src order
  // (repo float policy: order-sensitive double sums get ONE pinned
  // fold order, mirrored in the oracle's `list(... ORDER BY src)`
  // fold), so five chained float iterations stay bit-identical
  // across engines. Scale: each iteration is one edge-rank join and
  // one grouped fold — the classic distributed PageRank shape; the
  // node set here is top-k-bounded so every iteration is a tiny
  // broadcast join against the edge list.
  // ---------------------------------------------------------------
  private val prIters = 5

  private val prNodes = 50

  val gPagerank: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // localCheckpoint: reused as both broadcast filters and the rank
    // vector's base each iteration; self-cleaning (vs a cache() entry
    // held by CacheManager for the session)
    val top = uni.orderBy(desc("c"), col("w")).limit(prNodes)
      .select(col("w").as("term")).localCheckpoint(eager = false)
    val bi = base.filter(size(col("toks")) >= 2)
      .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("src"), col("b.w2").as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(broadcast(top.select(col("term").as("src"))), Seq("src"))
      .join(broadcast(top.select(col("term").as("dst"))), Seq("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val ew = bi.join(
        bi.groupBy(col("src")).agg(sum(col("w")).cast("long").as("outw")),
        Seq("src"))
      .localCheckpoint(eager = false)
    var r = top.select(col("term"), (lit(1.0) / lit(prNodes.toDouble)).as("pr"))
    for (_ <- 1 to prIters) {
      val folded = ew.join(r, ew("src") === r("term"))
        .select(col("dst"), col("src"),
          (col("pr") * d(col("w")) / d(col("outw"))).as("contrib"))
        .groupBy(col("dst"))
        .agg(expr("aggregate(sort_array(collect_list(struct(src, contrib))), 0D, " +
          "(a, x) -> a + x.contrib)").as("m"))
      r = top.join(folded, top("term") === folded("dst"), "left")
        .select(top("term"),
          (lit(0.15) / lit(prNodes.toDouble) +
            lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
    }
    r.select(col("term"), round(col("pr"), 6).as("pagerank"))
      .orderBy(col("term"))
  }

  // ---------------------------------------------------------------
  // g_triangles — triangle count + global clustering coefficient of
  // the similarity graph: canonical (v1 < v2) edges joined three
  // ways, so each triangle counts exactly once; wedges come from
  // exact undirected degrees. The pair list is tiny after
  // thresholding (it's cached for its three join roles), so the
  // triangle join is bounded by the similarity graph, not the
  // corpus. Coefficient = 3·triangles / wedges, one double ratio.
  // ---------------------------------------------------------------
  val gTriangles: Q = (s, dir) => {
    val p = graft.functions.Similarity.cosineNearDupPairs(s, dir, 0.3)
      .select(col("v1").as("a"), col("v2").as("b")).localCheckpoint(eager = false)
    val tri = p.alias("ab")
      .join(p.alias("bc"), col("ab.b") === col("bc.a"))
      .join(p.alias("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = p.select(col("a").as("v")).union(p.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    broadcast(stats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        (lit(3.0) * d(col("n_triangles")) / d(col("n_wedges")))
          .as("clustering_coeff"))
  }

  /** One label-propagation iteration CTE: mode of neighbor labels,
    * smallest label on ties — all integer, mirrors the engine's
    * two-phase max(struct(c, -lab)) argmax exactly. */
  private def lpIterSql(i: Int): String =
    s"""l$i AS (
       |  SELECT id, lab FROM (
       |    SELECT id, lab,
       |           row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rk
       |    FROM (SELECT ed.a AS id, prev.lab AS lab, count(*) AS c
       |          FROM ed JOIN l${i - 1} prev ON ed.b = prev.id
       |          GROUP BY 1, 2))
       |  WHERE rk = 1)""".stripMargin

  /** One PageRank iteration CTE: fold in-neighbor contributions in
    * src order with a 0-prepended left fold (mirrors Spark's
    * `aggregate(sort_array(...), 0D, ...)` exactly). */
  private def prIterSql(k: Int): String =
    s"""r$k AS (
       |  SELECT t.term,
       |         0.15 / $prNodes.0 + 0.85 * coalesce(m.m, 0.0) AS pr
       |  FROM top t LEFT JOIN (
       |    SELECT ew.dst, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list(r.pr * CAST(ew.w AS DOUBLE) / CAST(ew.outw AS DOUBLE)
       |                  ORDER BY ew.src)),
       |           (a, b) -> a + b) AS m
       |    FROM ew JOIN r${k - 1} r ON ew.src = r.term GROUP BY ew.dst) m
       |  ON t.term = m.dst)""".stripMargin

  // ---------------------------------------------------------------
  // g_adamic_adar — link prediction over the k-NN similarity graph
  // (Adamic & Adar 2003): for every NON-adjacent 2-hop pair (u, v),
  // score Σ over common neighbors w of 1/ln(deg(w)) — the "which
  // near-dup clusters are about to merge" / "which docs are the same
  // topic" signal a curation pass reads off the similarity graph.
  // Edges come from the shared cell-blocked k-NN construction
  // (SimilarityQueries.knnEdgesWithAssigned), undirected by symmetric
  // union. Scale shape: pair work is Σ_w deg(w)² — bounded by cell
  // occupancy (the graph is cell-local, out-degree 3), never
  // corpus²; deg(w) ≥ 3 so ln(deg) never divides by zero; the AA
  // fold sums contributions in neighbor order (bit-stable); output
  // is a bounded top-100 on the 6-dp-rounded score (the bm25
  // rounded-rank precedent) with the (u, v) tiebreak.
  // ---------------------------------------------------------------
  /** The undirected k-NN edge set (symmetric closure of the cell-
    * blocked top-3 graph) — public so the spec can verify the
    * non-adjacency contract against the same edges. */
  def knnUndirected(s: SparkSession, dir: String): DataFrame = {
    val (edges, _) = SimilarityQueries.knnEdgesWithAssigned(s, dir)
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  val gAdamicAdar: Q = (s, dir) => {
    val und = knnUndirected(s, dir)
      .localCheckpoint(eager = false) // consumed by deg, both hop sides, anti join
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val a = und.alias("a"); val b = und.alias("b")
    val hops = a.join(b, col("a.dst") === col("b.src") &&
        col("a.src") < col("b.dst") && col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("u"), col("b.dst").as("v"), col("a.dst").as("w"))
      .join(deg, col("w") === col("node"))
      .select(col("u"), col("v"), col("w"),
        (lit(1.0) / log(d(col("deg")))).as("contrib"))
    hops
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        expr("aggregate(sort_array(collect_list(struct(w, contrib))), 0D," +
          " (a, x) -> a + x.contrib)").as("aa"))
      // predict NEW links only: drop pairs already adjacent
      .join(und, col("u") === col("src") && col("v") === col("dst"), "left_anti")
      .select(col("u"), col("v"), col("n_common"), round(col("aa"), 6).as("aa"))
      .orderBy(desc("aa"), col("u"), col("v"))
      .limit(100)
  }

  // ---------------------------------------------------------------
  // g_kcore — 3-core of the k-NN similarity graph (Seidman 1983):
  // iteratively peel nodes of degree < 3 until fixpoint — the
  // "dense neighborhoods" reduction that strips hair off the
  // near-dup graph before community detection. Spark runs the peel
  // as a driver-bounded loop (≤ 8 rounds, early-exit at fixpoint —
  // the sim_kmeans_converged convention) of degree-count + two
  // left-semi joins, localCheckpointing per round to bound lineage;
  // the oracle unrolls the SAME 8 rounds as chained CTEs, and
  // fixpoint makes early-exit ≡ full-unroll. Scale shape: each round
  // is one count aggregate + hash semi-joins on the edge set (out-
  // degree-3-bounded, so |E| ~ 6·|V|) — never pairwise.
  // ---------------------------------------------------------------
  val gKcore: Q = (s, dir) => {
    val kMin = 3; val maxRounds = 8
    var edges = knnUndirected(s, dir).localCheckpoint(eager = false)
    var nNodes = edges.select(col("src")).distinct().count()
    var r = 0; var done = false
    while (!done && r < maxRounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= kMin).select(col("src").as("node"))
        .localCheckpoint(eager = false) // consumed by both semi-join sides + count
      val k = keep.count()
      if (k == nNodes) done = true
      else {
        edges = edges
          .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(eager = false)
        nNodes = k
      }
      r += 1
    }
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("core_deg"))
      .orderBy(col("node"))
  }

  /** The 8 unrolled peel rounds of g_kcore's oracle (fixpoint makes
    * Spark's early-exit ≡ the full unroll). */
  private def kcoreRounds(n: Int): String =
    (1 to n).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src AS node FROM p${i - 1}
         |  GROUP BY 1 HAVING count(*) >= 3),
         |p$i AS MATERIALIZED (SELECT e.src, e.dst FROM p${i - 1} e
         |  JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)"""
        .stripMargin
    }.mkString(",\n")

  // ---------------------------------------------------------------
  // g_local_clustering — per-node local clustering coefficient over
  // the k-NN similarity graph (Watts & Strogatz 1998): lcc(v) =
  // 2·tri(v) / (deg(v)·(deg(v)−1)) — the "is this doc inside a
  // dense near-dup pocket or on a bridge" signal, the node-local
  // twin of g_triangles' global coefficient. Scale shape: wedge
  // pairs are Σ deg² (out-degree-3-bounded — never corpus²); the
  // closing-edge check is one hash join against the edge set; knn
  // degrees are ≥ 3, so the denominator never vanishes. Top-100 on
  // the rounded lcc with the node tiebreak (the bm25 precedent).
  // ---------------------------------------------------------------
  val gLocalClustering: Q = (s, dir) => {
    val und = knnUndirected(s, dir)
      .localCheckpoint(eager = false) // consumed by wedges (twice), closure, degrees
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val tri = und.alias("x")
      .join(und.alias("y"), col("x.src") === col("y.src") &&
        col("x.dst") < col("y.dst"))
      .join(und.alias("e"), col("e.src") === col("x.dst") &&
        col("e.dst") === col("y.dst"))
      .groupBy(col("x.src").as("node")).agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg").cast("long").as("deg"),
        coalesce(col("tri"), lit(0L)).cast("long").as("tri"))
      .withColumn("lcc", round(lit(2.0) * d(col("tri")) /
        (d(col("deg")) * d(col("deg") - 1)), 6))
      .orderBy(desc("lcc"), col("node"))
      .limit(100)
  }

  // Forecast-backtest scoring (MASE, Hyndman &
  // Koehler 2006), breadth-first search layers over the k-NN
  // similarity graph (the "blast radius" audit for near-dup
  // clusters), and uniform Shapley conversion credit (the symmetric
  // special case of Shapley attribution, Dalessandro et al. 2012).
  // All Spark-first with full-replay DuckDB oracles; float policy:
  // integer-exact sums with one double division at the edge.

  // ---------------------------------------------------------------
  // g_bfs_layers — BFS layer census from the smallest node of the
  // k-NN similarity graph: how far does a near-dup neighborhood
  // reach in ≤ 8 hops (the "blast radius" a curator checks before
  // dropping a cluster)? Spark runs the frontier expansion as a
  // driver-bounded loop (≤ 8 rounds, early-exit on an empty
  // frontier — the g_kcore convention): each round is one hash join
  // edges⋈frontier + distinct + one anti join against the visited
  // set, localCheckpointed to bound lineage. The oracle unrolls the
  // SAME 8 rounds as chained CTEs; early-exit ≡ full unroll because
  // an empty frontier stays empty. Scale shape: frontier work is
  // |edges ⋈ frontier|, never pairwise; the visited set only grows
  // by distinct node ids. Output is the per-layer census (count +
  // id range), so the result stays tiny at any graph size.
  // ---------------------------------------------------------------
  val gBfsLayers: Q = (s, dir) => {
    val maxHops = 8
    val edges = knnUndirected(s, dir).localCheckpoint(eager = false)
    val seed = edges.agg(min(col("src")).as("node"))
    var frontier = seed.select(col("node")).localCheckpoint(eager = false)
    var visited = frontier
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(lit(0).cast("long").as("layer"), col("node")))
    var hop = 1; var done = false
    while (!done && hop <= maxHops) {
      val next = edges
        .join(frontier.select(col("node").as("src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(eager = false) // consumed by census, union, next round
      if (next.isEmpty) done = true
      else {
        layers += next.select(lit(hop).cast("long").as("layer"), col("node"))
        // lazy union, no checkpoint: every member frame is already
        // materialized (seed + per-hop checkpoints), so re-writing
        // the ever-growing visited set each hop was a pure extra job
        // per hop; the anti-join just scans ≤maxHops cached parts
        visited = visited.union(next)
        frontier = next
      }
      hop += 1
    }
    layers.reduce(_ unionAll _)
      .groupBy(col("layer"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("layer"))
  }

  /** The 8 unrolled BFS rounds of g_bfs_layers' oracle (an empty
    * frontier stays empty, so Spark's early-exit ≡ full unroll). */
  private def bfsRounds(n: Int): String =
    (1 to n).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node FROM p0 e
         |  JOIN l${i - 1} f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x WHERE x.node = e.dst)),
         |v$i AS MATERIALIZED (
         |  SELECT node FROM v${i - 1} UNION SELECT node FROM l$i)"""
        .stripMargin
    }.mkString(",\n")

  // A 1-D Kalman filter over daily revenue (the
  // sensor-fusion smoother, Kalman 1960), HITS hubs & authorities on
  // the bigram term graph (Kleinberg 1999), and expected steps to
  // absorption for the event-type Markov chain (value iteration on
  // the fundamental-matrix system). All Spark-first with full-replay
  // DuckDB oracles; float policy: identical IEEE op DAGs on both
  // engines (the w_holt_winters / g_pagerank conventions).

  // ---------------------------------------------------------------
  // g_hits — 4 HITS iterations (Kleinberg 1999) on the weighted
  // bigram co-occurrence graph of the top-40 terms:
  //   a ← Eᵀh, normalize;  h ← E a, normalize
  // with L∞ (max) normalization — max is ORDER-FREE over doubles,
  // so the one global reduction per half-step needs no pinned fold
  // (unlike an L1/L2 sum); the per-node Σ w·score folds in sorted
  // neighbor order (the g_pagerank float policy), so four chained
  // float iterations stay bit-identical across engines. Scale
  // shape: each half-step is one edge⋈score join + one grouped
  // fold; the node set is top-k-bounded so every iteration is a
  // tiny broadcast join against the edge list.
  // ---------------------------------------------------------------
  private val hitsIters = 4

  private val hitsNodes = 40

  val gHits: Q = (s, dir) => {
    val base = Tables.table(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val top = uni.orderBy(desc("c"), col("w")).limit(hitsNodes)
      .select(col("w").as("term")).localCheckpoint(eager = false)
    val edges = base.filter(size(col("toks")) >= 2)
      .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1," +
        " element_at(toks, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("src"), col("b.w2").as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(broadcast(top.select(col("term").as("src"))), Seq("src"))
      .join(broadcast(top.select(col("term").as("dst"))), Seq("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .localCheckpoint(eager = false) // reused by all 8 half-steps
    // the graph is top-40²-bounded at ANY corpus scale, so the 4 HITS
    // iterations run DRIVER-SIDE over the collected edge list instead
    // of 8 checkpointed half-step jobs (each was a join + grouped
    // fold + crossJoin(max) + checkpoint on a ≤40-row frame — pure
    // job floor; the ev_absorbing_markov / union-find hybrid
    // precedent). Arithmetic replays the distributed form exactly:
    // w collected as Spark's longs, contrib = w·score folded in
    // ascending-neighbor order under UTF8-BINARY string comparison
    // (what sort_array used), L∞ max is order-free, inner-join
    // domains via map membership.
    val utf8Ord: Ordering[String] = (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    val es = edges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byDst = es.groupBy(_._2).map { case (t, xs) =>
      t -> xs.toSeq.map(e => (e._1, e._3)).sortBy(_._1)(utf8Ord) }
    val bySrc = es.groupBy(_._1).map { case (t, xs) =>
      t -> xs.toSeq.map(e => (e._2, e._3)).sortBy(_._1)(utf8Ord) }
    val topTerms = top.collect().map(_.getString(0))
    var hMap: Map[String, Double] = topTerms.map(_ -> 1.0).toMap
    var aMap: Map[String, Double] = Map.empty
    def sweep(adj: Map[String, Seq[(String, Long)]],
        score: Map[String, Double]): Map[String, Double] = {
      val raw = adj.flatMap { case (t, nbrs) =>
        val terms = nbrs.filter(n => score.contains(n._1))
        if (terms.isEmpty) None
        else Some(t -> terms.foldLeft(0.0) { case (acc, (n, w)) =>
          acc + w.toDouble * score(n) })
      }
      // degenerate corpus: no qualifying edges → no raw scores. The
      // distributed form degraded to empty frames / 0.0 scores, so
      // the replay must too — raw.values.max would throw here.
      if (raw.isEmpty) raw
      else {
        val mx = raw.values.max
        raw.map { case (t, v) => t -> v / mx }
      }
    }
    for (_ <- 1 to hitsIters) {
      aMap = sweep(byDst, hMap)
      hMap = sweep(bySrc, aMap)
    }
    def scoreLit(m: Map[String, Double]) =
      if (m.isEmpty) lit(null).cast("double")
      else element_at(
        map(m.toSeq.flatMap { case (t, v) => Seq(lit(t), lit(v)) }: _*),
        col("term"))
    top.select(col("term"),
        round(coalesce(scoreLit(aMap), lit(0.0)), 6).as("authority"),
        round(coalesce(scoreLit(hMap), lit(0.0)), 6).as("hub"))
      .orderBy(col("term"))
  }

  /** One unrolled HITS iteration (a then h half-steps, sorted-order
    * folds, L∞ normalization). */
  private def hitsRounds(n: Int): String =
    (1 to n).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT e.dst AS term,
         |         list_sum(list(CAST(e.w AS DOUBLE) * h.score ORDER BY e.src))
         |           AS raw
         |  FROM ed e JOIN h${k - 1} h ON h.term = e.src GROUP BY 1),
         |a$k AS MATERIALIZED (
         |  SELECT term, raw / (SELECT max(raw) FROM ar$k) AS score FROM ar$k),
         |hr$k AS MATERIALIZED (
         |  SELECT e.src AS term,
         |         list_sum(list(CAST(e.w AS DOUBLE) * a.score ORDER BY e.dst))
         |           AS raw
         |  FROM ed e JOIN a$k a ON a.term = e.dst GROUP BY 1),
         |h$k AS MATERIALIZED (
         |  SELECT term, raw / (SELECT max(raw) FROM hr$k) AS score FROM hr$k)"""
        .stripMargin
    }.mkString(",\n")

  // ---------------------------------------------------------------
  // g_assortativity — degree assortativity coefficient of the
  // symmetrized cell-blocked k-NN graph: the Pearson correlation of
  // endpoint degrees over all ordered edge pairs (Newman 2002).
  // Positive r = hubs attach to hubs (assortative); ANN graphs are
  // typically DISassortative (hubs absorb antihubs' edges — the
  // sim_hubness failure mode, quantified here as one number).
  // Ordered pairs make the pair set exactly symmetric, so the x and
  // y marginals coincide and r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²).
  // Scale shape: edges are the bounded cell-blocked top-3 set;
  // symmetrize is one union+distinct; degrees one count aggregate;
  // the moment reduction is all exact integers (map-combinable) into
  // a fixed double formula — the a_autocorr recipe. Degenerate
  // regular graph (zero variance) yields NULL, not a 0/0.
  // ---------------------------------------------------------------
  val gAssortativity: Q = (s, dir) => {
    val e = SimilarityQueries.knnDirectedEdges(s, dir)
      .select(col("src"), col("dst"))
    // symmetrize: an undirected edge contributes both ordered pairs
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false) // consumed by the degree count AND the pair join
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val pairs = und
      .join(deg.select(col("id").as("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("y")), Seq("dst"))
    val m = pairs.agg(count(lit(1)).cast("long").as("np"),
      sum(col("x")).cast("long").as("sx"),
      sum(col("x") * col("y")).cast("long").as("sxy"),
      sum(col("x") * col("x")).cast("long").as("sxx"))
    val num = d(col("np")) * d(col("sxy")) - d(col("sx")) * d(col("sx"))
    val den = d(col("np")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    m.crossJoin(broadcast(deg.agg(count(lit(1)).cast("long").as("n_nodes"))))
      .select(col("n_nodes"),
        (col("np") / 2).cast("long").as("n_und_edges"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 6)).as("assortativity"))
  }

  // Newman modularity of the label partition over
  // the k-NN graph (is the labeling visible in embedding space? —
  // the graph dual of sim_cluster_purity), the turning-point
  // randomness test on daily revenue (Kendall — counts local extrema
  // where a_runs_test counts sign regimes), and per-language
  // character-bigram entropy (the compression/encoding-garbage probe:
  // mojibake and binary spill crater it). All Spark-first with
  // full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // g_modularity — per-label modularity contribution over the
  // symmetrized cell-blocked k-NN edges: Q_c = e_cc/|P| − (d_c/|P|)²
  // over ordered pairs P (|P| = 2m), Q = Σ_c Q_c (Newman 2006).
  // Q ≈ 0 means the labels are invisible to the neighborhood
  // structure — clustering or label-blocked dedup won't work. Scale
  // shape: the edge set is the bounded cell-blocked top-3; the label
  // join is a broadcast of the (vec_id → label) projection per side;
  // everything reduces to exact per-label integer counts and two
  // fixed divisions, round-6.
  // ---------------------------------------------------------------
  val gModularity: Q = (s, dir) => {
    val e = SimilarityQueries.knnDirectedEdges(s, dir)
      .select(col("src"), col("dst"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val lab = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val labeled = und
      .join(lab.select(col("vec_id").as("src"), col("label").as("ls")), Seq("src"))
      .join(lab.select(col("vec_id").as("dst"), col("label").as("ld")), Seq("dst"))
      .localCheckpoint(eager = false) // total AND the per-label rollup
    val tot = labeled.agg(count(lit(1)).cast("long").as("p"))
    labeled.groupBy(col("ls").as("label"))
      .agg(count(lit(1)).cast("long").as("d_c"),
        sum(when(col("ls") === col("ld"), 1L).otherwise(0L))
          .cast("long").as("e_within"))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("d_c"), col("e_within"),
        round(d(col("e_within")) / d(col("p")) -
          (d(col("d_c")) / d(col("p"))) * (d(col("d_c")) / d(col("p"))), 6)
          .as("q_contribution"))
      .orderBy(col("label"))
  }

  // Upper/lower tail dependence between order
  // volume and revenue (the copula diagnostic — correlation says
  // nothing about whether EXTREMES co-occur), seasonal/trend strength
  // (Hyndman's F-statistics over the registered classical
  // decomposition — one number each for "how seasonal, how trended"),
  // and the rich-club coefficient of the k-NN graph (do
  // high-degree nodes preferentially interconnect — the hub-cartel
  // structure hubness audits suspect). All Spark-first with
  // full-replay DuckDB oracles.

  // ---------------------------------------------------------------
  // g_rich_club — rich-club coefficient of the symmetrized k-NN
  // graph: φ(k) = E_{>k} / (N_{>k}(N_{>k}−1)) over ordered pairs —
  // the density of the subgraph induced by nodes of degree > k
  // (Zhou & Mondragón 2004). Rising φ(k) = hubs interconnect (the
  // cartel ANN recall audits fear); flat = degree mixing is neutral.
  // Scale shape: bounded edge set + degree join; the k grid is a
  // constant 4× fan-out over the (already small) edge stream; all
  // integer counts, one division.
  // ---------------------------------------------------------------
  private val RichKs = Seq(2L, 3L, 4L, 5L)

  val gRichClub: Q = (s, dir) => {
    val e = SimilarityQueries.knnDirectedEdges(s, dir)
      .select(col("src"), col("dst"))
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false) // degrees AND the rich-edge count
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(eager = false) // node counts per k AND both edge-side joins
    val ks = RichKs.map(lit)
    val rich = deg.select(col("id"), col("deg"),
        explode(array(ks: _*)).as("k"))
      .filter(col("deg") > col("k"))
    val nRich = rich.groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_rich"))
    val edges = und
      .join(deg.select(col("id").as("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dd")), Seq("dst"))
      .select(col("ds"), col("dd"), explode(array(ks: _*)).as("k"))
      .filter(col("ds") > col("k") && col("dd") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).cast("long").as("e_rich"))
    nRich.join(edges, Seq("k"), "left")
      .na.fill(0L, Seq("e_rich"))
      .select(col("k"), col("n_rich"), (col("e_rich") / 2).cast("long")
          .as("n_und_edges"),
        when(col("n_rich") > 1,
          round(d(col("e_rich")) / (d(col("n_rich")) * (d(col("n_rich")) -
            lit(1.0))), 6)).as("phi"))
      .orderBy(col("k"))
  }

  // Lexical-diversity, intermittent-demand,
  // rank-test and link-prediction operators.
  //
  //  - t_mattr — moving-average type-token ratio (Covington & McFall
  //    2010) over a W=25 sliding token window, per language. The
  //    sliding DISTINCT count is computed with a difference array
  //    (each repeated token contributes +1/−1 interval endpoints;
  //    a per-doc cumulative sum recovers the per-window duplicate
  //    count) — one pass, no per-window rescans, exact integers
  //    until the final division.
  //  - w_croston — Croston (1972) intermittent-demand smoothing +
  //    the Syntetos–Boylan approximation, per part brand on the
  //    zero-filled daily demand spine.
  //  - a_mann_whitney — Mann–Whitney U with midrank tie handling,
  //    tie-corrected normal z, Cliff's delta and the Romano
  //    magnitude bands, URGENT vs LOW order totals.
  //  - g_jaccard_links — neighbor-Jaccard link prediction over the
  //    same k-NN graph as g_adamic_adar.

  // ---------------------------------------------------------------
  // g_jaccard_links — the set-overlap companion of g_adamic_adar on
  // the SAME symmetrized cell-blocked k-NN graph: for non-adjacent
  // 2-hop pairs, J = |N(u)∩N(v)| / (deg(u)+deg(v)−|N(u)∩N(v)|) —
  // exact integers, ONE division at the edge (no per-neighbor float
  // fold at all, unlike AA's 1/ln(deg) sum). Top-100 on the
  // 6-dp-rounded score with the (u, v) tiebreak (rounded-rank
  // policy). Scale shape inherited: pair work is Σ_w deg(w)²,
  // cell-occupancy-bounded, never corpus².
  // ---------------------------------------------------------------
  val gJaccardLinks: Q = (s, dir) => {
    val und = knnUndirected(s, dir)
      .localCheckpoint(eager = false) // deg, both hop sides, anti join
    val deg = und.groupBy(col("src").as("node")).agg(
      count(lit(1)).cast("long").as("deg"))
    val a = und.alias("a"); val b = und.alias("b")
    val common = a.join(b, col("a.dst") === col("b.src") &&
        col("a.src") < col("b.dst") && col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("u"), col("b.dst").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("n_common"))
      .join(und, col("u") === col("src") && col("v") === col("dst"),
        "left_anti")
    common
      .join(deg.select(col("node"), col("deg").as("deg_u")),
        col("u") === col("node")).drop("node")
      .join(deg.select(col("node"), col("deg").as("deg_v")),
        col("v") === col("node")).drop("node")
      .select(col("u"), col("v"), col("n_common"), col("deg_u"), col("deg_v"),
        round(d(col("n_common")) /
          d(col("deg_u") + col("deg_v") - col("n_common")), 6).as("jaccard"))
      .orderBy(desc("jaccard"), col("u"), col("v"))
      .limit(100)
  }

  // Sequence alignment on the calendar grid,
  // sampled graph centrality, warehouse referential integrity, and a
  // QQ normality probe.
  //
  //  - w_dtw_brand_demand — dynamic-time-warping distance between two
  //    brands' monthly demand curves. The DP is INTEGER-exact end to
  //    end (costs are |Δquantity| longs), so engine and oracle agree
  //    bit-for-bit with no float-fold machinery; the corpus reduces
  //    to a months² (≈84²) DP that is calendar-bounded at any fact
  //    scale.
  //  - g_harmonic_centrality — harmonic centrality (Σ 1/d) of 4
  //    md5-sampled roots on the k-NN similarity graph via multi-root
  //    BFS — the sampled form of the exact-all-pairs computation
  //    that is infeasible at scale.
  //  - q_referential_integrity — orphan-FK audit across the four
  //    warehouse edges (lineitem→orders/part/supplier,
  //    orders→customer): the DQ check every ingest gate runs first.
  //  - a_qq_normal — QQ plot of daily revenue against the fitted
  //    normal (Acklam probit), 19-point quantile grid + the QQ
  //    correlation statistic — the visual-normality companion of
  //    a_jarque_bera's moment test.

  // ---------------------------------------------------------------
  // g_harmonic_centrality — 4 roots (smallest md5(node)), one
  // multi-root BFS: frames carry (root, node), each round is one
  // hash join + distinct + per-root anti join, localCheckpointed
  // (the g_bfs_layers loop with a root column). Harmonic = Σ_l
  // n_l/l folded layer-ascending (≤ 8 exact-count terms);
  // eccentricity = max layer reached under the cap.
  // ---------------------------------------------------------------
  val gHarmonicCentrality: Q = (s, dir) => {
    val maxHops = 8
    val edges = knnUndirected(s, dir).localCheckpoint(eager = false)
    val roots = edges.select(col("src").as("node")).distinct()
      .orderBy(md5(col("node").cast("string")), col("node")).limit(4)
      .select(col("node").as("root"), col("node"))
      .localCheckpoint(eager = false)
    var frontier = roots
    var visited = roots
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var hop = 1; var done = false
    while (!done && hop <= maxHops) {
      val next = edges
        .join(frontier.select(col("root"), col("node").as("src")), Seq("src"))
        .select(col("root"), col("dst").as("node")).distinct()
        .join(visited, Seq("root", "node"), "left_anti")
        .localCheckpoint(eager = false)
      if (next.isEmpty) done = true
      else {
        layers += next.select(col("root"),
          lit(hop).cast("long").as("layer"), col("node"))
        // lazy union, no checkpoint: member frames are already
        // materialized (roots + per-hop checkpoints) — re-writing the
        // growing visited set each hop was a pure extra job per hop
        visited = visited.union(next)
        frontier = next
      }
      hop += 1
    }
    layers.reduce(_ unionAll _)
      .groupBy(col("root"), col("layer"))
      .agg(count(lit(1)).cast("long").as("nl"))
      .withColumn("term", d(col("nl")) / d(col("layer")))
      .groupBy(col("root"))
      .agg(sum(col("nl")).cast("long").as("n_reached"),
        max(col("layer")).cast("long").as("eccentricity"),
        expr("aggregate(sort_array(collect_list(struct(layer, term))), 0D," +
          " (a, q) -> a + q.term)").as("h"))
      .select(col("root"), col("n_reached"), col("eccentricity"),
        round(col("h"), 6).as("harmonic_centrality"))
      .orderBy(col("root"))
  }

  /** Multi-root BFS rounds carrying the root column. */
  private def mrBfsRounds(n: Int): String =
    (1 to n).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT DISTINCT f.root, e.dst AS node FROM p0 e
         |  JOIN l${i - 1} f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x
         |                    WHERE x.root = f.root AND x.node = e.dst)),
         |v$i AS MATERIALIZED (
         |  SELECT root, node FROM v${i - 1}
         |  UNION SELECT root, node FROM l$i)"""
        .stripMargin
    }.mkString(",\n")

  // A two-sample distribution test, a spectral
  // flatness audit, sampled shortest-path betweenness, and a
  // multimodal scene-cut detector.
  //
  //  - a_ks_two_sample — Kolmogorov–Smirnov weekend-vs-weekday daily
  //    revenue: D from EXACT integer ECDF cross-products on the
  //    value grid, the classical asymptotic p (3-term alternating
  //    series).
  //  - w_spectral_entropy — Shannon entropy of the normalized
  //    periodogram (the w_periodogram power grid): is the series'
  //    variance concentrated in a few lines (strong seasonality) or
  //    broadband noise?
  //  - g_betweenness_sampled — Brandes dependency accumulation from
  //    4 md5-sampled roots on the k-NN graph (the
  //    g_harmonic_centrality BFS conventions), with σ path counts
  //    exact longs and δ accumulated in exact integer NANO-units —
  //    order-free, engine-portable.
  //  - mm_scene_cuts — frame-difference scene cuts over the opaque
  //    media blobs: 16-byte windows through the portable hex path
  //    (the mm_byte_entropy idiom), integer window sums, cut when
  //    |Δ| exceeds the threshold. The video-shot-boundary shape on
  //    stand-in payloads — all plumbing real, no decoder.
  //
  // Float policy: exact integer statistics everywhere except the
  // closed-form p / entropy edges; bulk float folds quantize
  // per-term to integers BEFORE summation (order-free — the
  // WindowQueries lesson) or pin day order exactly as the green
  // w_periodogram does.

  // ---------------------------------------------------------------
  // g_betweenness_sampled — Brandes (2001) from 4 md5-sampled roots
  // on the undirected k-NN graph, hop cap 8 (the
  // g_harmonic_centrality conventions). Forward: BFS level sets
  // carry σ (shortest-path counts — exact longs, sums over
  // predecessor levels). Backward: δ(v) = Σ_{w ∈ succ}
  // (σ_v/σ_w)·(1 + δ(w)) accumulates in exact integer NANO-units —
  // δq(v) = Σ_w ⌊σ_v·(10⁹ + δq(w)) / σ_w⌋, a decimal(38,0)
  // product + one integral division per edge, so the per-node sum
  // is order-free (a raw double Σ here would be the WindowQueries
  // sum-kernel hazard on every level). Output: top-10 nodes by
  // root-summed δ. Scale shape: ≤16 driver-stepped bounded jobs
  // (the documented BFS family); every frame is (roots ×
  // reachable-nodes)-bounded.
  // ---------------------------------------------------------------
  val gBetweennessSampled: Q = (s, dir) => {
    val maxHops = 8
    val edges = knnUndirected(s, dir).localCheckpoint(eager = false)
    val roots = edges.select(col("src").as("node")).distinct()
      .orderBy(md5(col("node").cast("string")), col("node")).limit(4)
      .select(col("node").as("root"), col("node"), lit(1L).as("sigma"))
      .localCheckpoint(eager = false)
    var frontier = roots
    var visited = roots.select(col("root"), col("node"))
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var hop = 1; var done = false
    while (!done && hop <= maxHops) {
      val next = edges
        .join(frontier.select(col("root"), col("node").as("src"),
          col("sigma")), Seq("src"))
        .groupBy(col("root"), col("dst").as("node"))
        .agg(sum(col("sigma")).cast("long").as("sigma"))
        .join(visited, Seq("root", "node"), "left_anti")
        .localCheckpoint(eager = false)
      if (next.isEmpty) done = true
      else {
        layers += next
        // lazy union, no checkpoint: member frames are already
        // materialized (roots + per-hop checkpoints) — re-writing the
        // growing visited set each hop was a pure extra job per hop
        visited = visited.union(next.select(col("root"), col("node")))
        frontier = next
      }
      hop += 1
    }
    // backward dependency accumulation, deepest level first
    var dq = layers.last.withColumn("dq", lit(0L))
    var acc = dq.select(col("root"), col("node"), col("dq"))
    for (i <- (layers.size - 2) to 0 by -1) {
      val succ = dq.select(col("root"), col("node").as("dst"),
        col("sigma").as("sw"), col("dq").as("dw"))
      val terms = layers(i)
        .join(edges.select(col("src").as("node"), col("dst")), Seq("node"))
        .join(succ, Seq("root", "dst"))
        .groupBy(col("root"), col("node"))
        .agg(sum(expr(
          "CAST(CAST(sigma AS DECIMAL(38,0)) * (1000000000 + dw)" +
            " div sw AS BIGINT)")).cast("long").as("dq"))
      dq = layers(i).join(terms, Seq("root", "node"), "left")
        .select(col("root"), col("node"), col("sigma"),
          coalesce(col("dq"), lit(0L)).as("dq"))
        .localCheckpoint(eager = false)
      acc = acc.union(dq.select(col("root"), col("node"), col("dq")))
    }
    acc.groupBy(col("node"))
      .agg(sum(col("dq")).cast("long").as("bq"))
      .orderBy(desc("bq"), col("node")).limit(10)
      .select(col("node"), round(d(col("bq")) / lit(1.0e9), 6)
        .as("betweenness"))
  }

  /** Forward BFS rounds carrying σ (the mrBfsRounds shape + path
    * counts); backward rounds accumulate δ in nano-units. */
  private def sigmaBfsRounds(n: Int): String =
    (1 to n).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT f.root, e.dst AS node,
         |         CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM p0 e JOIN l${i - 1} f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x
         |                    WHERE x.root = f.root AND x.node = e.dst)
         |  GROUP BY 1, 2),
         |v$i AS MATERIALIZED (
         |  SELECT root, node FROM v${i - 1}
         |  UNION SELECT root, node FROM l$i)"""
        .stripMargin
    }.mkString(",\n")

  private def deltaRounds(n: Int): String =
    (n - 1 to 1 by -1).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT v.root, v.node, v.sigma,
         |         COALESCE(CAST(sum(
         |           CAST(CAST(v.sigma AS HUGEINT) * (1000000000 + w.dq)
         |             // w.sigma AS BIGINT)) AS BIGINT), 0) AS dq
         |  FROM l$i v
         |  LEFT JOIN p0 e ON e.src = v.node
         |  LEFT JOIN d${i + 1} w ON w.root = v.root AND w.node = e.dst
         |  GROUP BY 1, 2, 3)"""
        .stripMargin
    }.mkString(",\n")

  val queries: Map[String, Q] = Map(
    "g_triangles" -> gTriangles,
    "g_components" -> gComponents,
    "g_pagerank" -> gPagerank,
    "g_label_prop" -> gLabelProp,
    "g_adamic_adar" -> gAdamicAdar,
    "g_kcore" -> gKcore,
    "g_local_clustering" -> gLocalClustering,
    "g_bfs_layers" -> gBfsLayers,
    "g_hits" -> gHits,
    "g_assortativity" -> gAssortativity,
    "g_modularity" -> gModularity,
    "g_rich_club" -> gRichClub,
    "g_jaccard_links" -> gJaccardLinks,
    "g_harmonic_centrality" -> gHarmonicCentrality,
    "g_betweenness_sampled" -> gBetweennessSampled)

  val oracles: Map[String, String] = Map(
    "g_triangles" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.emb", "b.emb")} >= 0.3),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM p ab JOIN p bc ON ab.b = bc.a
         |  JOIN p ac ON ac.a = ab.a AND ac.b = bc.b),
         |deg AS (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM p UNION ALL SELECT b FROM p)
         |  GROUP BY 1),
         |stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
         |         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
         |  FROM deg)
         |SELECT n_nodes, n_edges, CAST(n_triangles AS BIGINT) AS n_triangles,
         |       3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
         |         AS clustering_coeff
         |FROM stats CROSS JOIN tri""".stripMargin,
    "g_components" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.emb", "b.emb")} >= 0.3),
         |nodes AS (SELECT DISTINCT v1 AS id FROM p UNION SELECT v2 FROM p),
         |ed AS (SELECT v1 AS a, v2 AS b FROM p UNION SELECT v2, v1 FROM p),
         |reach(id, rep) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT ed.a, r.rep FROM ed JOIN reach r ON ed.b = r.id),
         |lab AS (SELECT id, min(rep) AS rep FROM reach GROUP BY 1)
         |SELECT rep AS component, count(*) AS n_members, max(id) AS max_member
         |FROM lab GROUP BY 1 ORDER BY component""".stripMargin,
    "g_label_prop" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.emb", "b.emb")} >= 0.3),
         |ed AS (SELECT v1 AS a, v2 AS b FROM p UNION SELECT v2, v1 FROM p),
         |l0 AS (SELECT DISTINCT a AS id, a AS lab FROM ed),
         |${(1 to lpIters).map(lpIterSql).mkString(",\n")}
         |SELECT lab AS community, count(*) AS n_members, max(id) AS max_member
         |FROM l$lpIters GROUP BY 1 ORDER BY community""".stripMargin,
    "g_pagerank" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |uni AS (
         |  SELECT w, count(*) AS c
         |  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY 1),
         |top AS (
         |  SELECT w AS term FROM uni ORDER BY c DESC, w LIMIT $prNodes),
         |bi AS (
         |  SELECT src, dst, count(*) AS w FROM (
         |    SELECT toks[i] AS src, toks[i + 1] AS dst
         |    FROM base CROSS JOIN unnest(range(1, len(toks))) AS r(i)
         |    WHERE len(toks) >= 2)
         |  WHERE src <> dst
         |    AND src IN (SELECT term FROM top) AND dst IN (SELECT term FROM top)
         |  GROUP BY 1, 2),
         |ew AS (
         |  SELECT bi.src, bi.dst, bi.w, ow.outw
         |  FROM bi JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS outw
         |                FROM bi GROUP BY 1) ow USING (src)),
         |r0 AS (SELECT term, 1.0 / $prNodes.0 AS pr FROM top),
         |${(1 to prIters).map(prIterSql).mkString(",\n")}
         |SELECT term, round(pr, 6) AS pagerank FROM r$prIters ORDER BY term""".stripMargin,
    "g_adamic_adar" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |und AS (SELECT src, dst FROM edges UNION
         |        SELECT dst, src FROM edges),
         |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
         |hop AS (
         |  SELECT a.src AS u, b.dst AS v, a.dst AS w
         |  FROM und a JOIN und b ON a.dst = b.src
         |  WHERE a.src < b.dst AND a.src <> b.dst),
         |nc AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
         |         list_sum(list(1.0 / ln(CAST(d.deg AS DOUBLE)) ORDER BY hop.w))
         |           AS aa
         |  FROM hop JOIN deg d ON hop.w = d.node GROUP BY 1, 2),
         |nl AS (
         |  SELECT nc.* FROM nc LEFT JOIN und e2
         |    ON nc.u = e2.src AND nc.v = e2.dst
         |  WHERE e2.src IS NULL)
         |SELECT u, v, n_common, round(aa, 6) AS aa
         |FROM nl ORDER BY round(aa, 6) DESC, u, v LIMIT 100""".stripMargin,
    "g_kcore" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |p0 AS MATERIALIZED (SELECT src, dst FROM edges UNION
         |       SELECT dst, src FROM edges),
         |${kcoreRounds(8)}
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM p8 GROUP BY 1 ORDER BY 1""".stripMargin,
    "g_local_clustering" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |und AS (SELECT src, dst FROM edges UNION
         |        SELECT dst, src FROM edges),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |tri AS (
         |  SELECT x.src AS node, CAST(count(*) AS BIGINT) AS tri
         |  FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
         |  JOIN und e2 ON e2.src = x.dst AND e2.dst = y.dst
         |  GROUP BY 1),
         |j AS (
         |  SELECT deg.node, deg.deg, coalesce(tri.tri, 0) AS tri
         |  FROM deg LEFT JOIN tri ON deg.node = tri.node)
         |SELECT node, deg, tri,
         |       round(2.0 * CAST(tri AS DOUBLE)
         |         / (CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)), 6) AS lcc
         |FROM j
         |ORDER BY round(2.0 * CAST(tri AS DOUBLE)
         |  / (CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)), 6) DESC, node
         |LIMIT 100""".stripMargin,
    "g_bfs_layers" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |p0 AS MATERIALIZED (SELECT src, dst FROM edges UNION
         |       SELECT dst, src FROM edges),
         |l0 AS (SELECT min(src) AS node FROM p0),
         |v0 AS (SELECT node FROM l0),
         |${bfsRounds(8)},
         |census AS (
         |${(0 to 8).map(i =>
             s"  SELECT CAST($i AS BIGINT) AS layer, node FROM l$i")
             .mkString("\n  UNION ALL\n")})
         |SELECT layer, CAST(count(*) AS BIGINT) AS n_nodes,
         |       min(node) AS min_node, max(node) AS max_node
         |FROM census GROUP BY layer ORDER BY layer""".stripMargin,
    "g_hits" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |uni AS (
         |  SELECT unnest(tk) AS w FROM toks),
         |top AS MATERIALIZED (
         |  SELECT w AS term FROM (
         |    SELECT w, count(*) AS c FROM uni GROUP BY 1
         |    ORDER BY c DESC, w LIMIT $hitsNodes)),
         |bi AS (
         |  SELECT src, dst FROM (
         |    SELECT tk[i] AS src, tk[i + 1] AS dst
         |    FROM toks CROSS JOIN unnest(range(1, len(tk))) AS r(i)
         |    WHERE len(tk) >= 2)
         |  WHERE src <> dst),
         |ed AS MATERIALIZED (
         |  SELECT b.src, b.dst, CAST(count(*) AS BIGINT) AS w
         |  FROM bi b
         |  JOIN top t1 ON t1.term = b.src JOIN top t2 ON t2.term = b.dst
         |  GROUP BY 1, 2),
         |h0 AS (SELECT term, CAST(1.0 AS DOUBLE) AS score FROM top),
         |${hitsRounds(hitsIters)}
         |SELECT t.term,
         |       round(coalesce(a.score, 0.0), 6) AS authority,
         |       round(coalesce(h.score, 0.0), 6) AS hub
         |FROM top t
         |LEFT JOIN a$hitsIters a ON a.term = t.term
         |LEFT JOIN h$hitsIters h ON h.term = t.term
         |ORDER BY t.term""".stripMargin,
    "g_assortativity" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |und AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |deg AS (
         |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1),
         |pairs AS (
         |  SELECT dx.deg AS x, dy.deg AS y
         |  FROM und u JOIN deg dx ON dx.id = u.src
         |             JOIN deg dy ON dy.id = u.dst),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS np,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM pairs)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |       np // 2 AS n_und_edges,
         |       CASE WHEN np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE = 0.0
         |            THEN NULL
         |            ELSE round((np::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |                   / (np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
         |       END AS assortativity
         |FROM m""".stripMargin,
    "g_modularity" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |und AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |labeled AS (
         |  SELECT ls.label AS ls, ld.label AS ld
         |  FROM und u JOIN lab ls ON ls.vec_id = u.src
         |             JOIN lab ld ON ld.vec_id = u.dst),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS p FROM labeled)
         |SELECT ls AS label, CAST(count(*) AS BIGINT) AS d_c,
         |       CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT)
         |         AS e_within,
         |       round(CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT)
         |           ::DOUBLE / p::DOUBLE
         |         - (CAST(count(*) AS BIGINT)::DOUBLE / p::DOUBLE)
         |           * (CAST(count(*) AS BIGINT)::DOUBLE / p::DOUBLE), 6)
         |         AS q_contribution
         |FROM labeled CROSS JOIN tot
         |GROUP BY ls, p ORDER BY label""".stripMargin,
    "g_rich_club" -> {
      val ks = RichKs.mkString(", ")
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |und AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT dst, src FROM edges),
         |deg AS (
         |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1),
         |kk AS (SELECT unnest([$ks]) AS k),
         |nrich AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_rich
         |  FROM deg CROSS JOIN kk WHERE deg > k GROUP BY 1),
         |erich AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS e_rich
         |  FROM und u
         |  JOIN deg ds ON ds.id = u.src
         |  JOIN deg dd ON dd.id = u.dst
         |  CROSS JOIN kk
         |  WHERE ds.deg > k AND dd.deg > k
         |  GROUP BY 1)
         |SELECT CAST(n.k AS BIGINT) AS k, n.n_rich,
         |       coalesce(e.e_rich, 0) // 2 AS n_und_edges,
         |       CASE WHEN n.n_rich > 1 THEN
         |         round(coalesce(e.e_rich, 0)::DOUBLE
         |           / (n.n_rich::DOUBLE * (n.n_rich::DOUBLE - 1.0)), 6)
         |       END AS phi
         |FROM nrich n LEFT JOIN erich e ON e.k = n.k
         |ORDER BY k""".stripMargin
    },
    "g_jaccard_links" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |und AS (SELECT src, dst FROM edges UNION
         |        SELECT dst, src FROM edges),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |hop AS (
         |  SELECT a.src AS u, b.dst AS v
         |  FROM und a JOIN und b ON a.dst = b.src
         |  WHERE a.src < b.dst AND a.src <> b.dst),
         |nc AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS n_common
         |  FROM hop GROUP BY 1, 2),
         |nl AS (
         |  SELECT nc.* FROM nc LEFT JOIN und e2
         |    ON nc.u = e2.src AND nc.v = e2.dst
         |  WHERE e2.src IS NULL)
         |SELECT nl.u, nl.v, nl.n_common,
         |       du.deg AS deg_u, dv.deg AS deg_v,
         |       round(CAST(nl.n_common AS DOUBLE)
         |         / CAST(du.deg + dv.deg - nl.n_common AS DOUBLE), 6)
         |         AS jaccard
         |FROM nl JOIN deg du ON nl.u = du.node
         |        JOIN deg dv ON nl.v = dv.node
         |ORDER BY jaccard DESC, nl.u, nl.v LIMIT 100""".stripMargin,
    "g_harmonic_centrality" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |p0 AS MATERIALIZED (SELECT src, dst FROM edges UNION
         |       SELECT dst, src FROM edges),
         |roots AS MATERIALIZED (
         |  SELECT node AS root, node FROM (
         |    SELECT DISTINCT src AS node FROM p0)
         |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 4),
         |l0 AS (SELECT root, node FROM roots),
         |v0 AS (SELECT root, node FROM roots),
         |${mrBfsRounds(8)},
         |census AS (
         |  ${(1 to 8).map(i =>
            s"SELECT root, $i AS layer, CAST(count(*) AS BIGINT) AS nl" +
              s" FROM l$i GROUP BY root HAVING count(*) > 0")
            .mkString("\n  UNION ALL\n  ")})
         |SELECT root, CAST(sum(nl) AS BIGINT) AS n_reached,
         |       CAST(max(layer) AS BIGINT) AS eccentricity,
         |       round(list_sum(list(CAST(nl AS DOUBLE)
         |         / CAST(layer AS DOUBLE) ORDER BY layer)), 6)
         |         AS harmonic_centrality
         |FROM census GROUP BY root ORDER BY root""".stripMargin,
    "g_betweenness_sampled" ->
      s"""WITH ${SimilarityQueries.knnEdgeCtes},
         |p0 AS MATERIALIZED (SELECT src, dst FROM edges UNION
         |       SELECT dst, src FROM edges),
         |roots AS MATERIALIZED (
         |  SELECT node AS root, node FROM (
         |    SELECT DISTINCT src AS node FROM p0)
         |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 4),
         |l0 AS (SELECT root, node, CAST(1 AS BIGINT) AS sigma FROM roots),
         |v0 AS (SELECT root, node FROM roots),
         |${sigmaBfsRounds(8)},
         |d8 AS (SELECT root, node, sigma, CAST(0 AS BIGINT) AS dq FROM l8),
         |${deltaRounds(8)},
         |alld AS (
         |  ${(1 to 8).map(i => s"SELECT root, node, dq FROM d$i")
            .mkString("\n  UNION ALL\n  ")})
         |SELECT node, round(CAST(bq AS DOUBLE) / 1.0e9, 6) AS betweenness
         |FROM (
         |  SELECT node, CAST(sum(dq) AS BIGINT) AS bq
         |  FROM alld GROUP BY node)
         |ORDER BY bq DESC, node LIMIT 10""".stripMargin)
}
