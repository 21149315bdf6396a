package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line (driver contract).
  * SPARK_GRAFT_QUERIES=name1,name2 restricts the set (local
  * iteration); SPARK_GRAFT_CPUS sizes local parallelism + shuffle
  * partitions (cluster-equivalent knob: spark.sql.shuffle.partitions).
  *
  * Execution shape (round 12): the round-11 design — one untimed
  * full-registry warmup sweep plus best-of-3 — was 4×441 query
  * executions and exceeded the driver's wall clock (BENCH_r11.json
  * rc:124, 25 queries unmeasured). The harness now runs TWO full
  * passes (pass 1 doubles as the warmup: its time is a legitimate
  * candidate, just usually not the best) plus a THIRD rep only for
  * noise suspects (spread ≥ 2× between the two reps on a ≥0.2 s
  * query), all under a self-enforced time budget
  * (SPARK_GRAFT_TIME_BUDGET, seconds) that truncates extra reps
  * gracefully — EVERY query always gets at least its pass-1 timing,
  * so a near-budget run degrades rep counts instead of being killed
  * mid-sweep with unmeasured queries. Pass 2 runs GATE-RISK-FIRST:
  * queries whose cold pass-1 time would trip the regression gate get
  * their warm rep before everything else (cheapest within each
  * class) — a budget cut must never leave a would-flag query at one
  * cold rep (round 12: 15 of 28 flags were truncated heavies; the
  * sentinel-first variant flipped that into 46 truncated cheaps).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0Main = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0Main) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // budget covers the whole main (both passes + suspects); the
    // driver's observed ceiling is ~30 min for the full pipeline, so
    // default leaves headroom for sbt/JVM startup outside our clock
    val timeBudget =
      sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "1250").toDouble
    val spark = LocalSpark.session("WARN")
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // light warmup: shared table scans + the silver cache + one tiny
    // job to absorb executor/codegen bring-up. NOT a full query
    // sweep — that cost a whole extra pass at 441 queries.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
        try { graft.sources.Tables.table(spark, sfDir, t).count() }
        catch { case _: Throwable => () }
      graft.sources.HeadlineData.silverCached(spark, sfDir).count()
    } catch { case _: Throwable => () }
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // a query that throws is a FAILURE, not a timing: time-to-exception
    // is meaninglessly fast (round 6 recorded 5 broken queries as
    // 0.06-0.07 s "timings"). ANY failed rep fails the whole query.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val timesByQ =
      scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val gcByQ = scala.collection.mutable.Map[String, Double]()
    val rddCensus = scala.collection.mutable.Map[String, Int]()
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Unit = {
      if (failed.contains(name)) return
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        timesByQ(name) = dt :: timesByQ.getOrElse(name, Nil)
        gcByQ(name) = gcByQ.getOrElse(name, 0.0) + (gcMillis - gc0) / 1e3
        rddCensus(name) = spark.sparkContext.getPersistentRDDs.size
      } catch { case e: Throwable =>
        failed.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        timesByQ.remove(name)
      }
    }
    // idle-record reference, parsed once: pass 3's gate-candidate
    // selection and the regression gate below both read it. Armed
    // only at the reference's own scale factor.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      "/root/repo/BENCH_IDLE_REF.json")
    lazy val idleRef: Map[String, Double] =
      if (!sfDir.contains("sf0.1")) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(refPath)), "UTF-8")
        // anchor the parse to the queries OBJECT itself: from the
        // '{' after the key to its matching '}' (the object holds
        // only "name":number pairs — no nested braces), so a later
        // per-query map or a quoted pair in a note can't leak in
        val open = txt.indexOf('{', txt.indexOf("\"queries\"") + 9)
        val qsec = txt.substring(open, txt.indexOf('}', open) + 1)
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(qsec)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // pass 1: every query exactly once — the completeness floor. Runs
    // regardless of budget: an unmeasured query is a void record,
    // strictly worse than a cold one.
    selected.foreach { case (name, fn) => runOnce(name, fn) }
    // generated classes compiled so far: a warm pass that compiles
    // again has outgrown the session's codegen cache (LocalSpark)
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    val pass1Compiles = compiles
    // pass 2: second rep, budget-gated per launch, GATE-RISK-FIRST.
    // After pass 1 we KNOW each query's cold time, so we know
    // exactly which queries the regression gate would flag if the
    // budget ran out right now (cold best ≥ 0.2 s and > 2× its
    // idle-ref best). Pass 2 spends the budget clearing THAT set
    // first — cheapest within it, so the most false flags die per
    // budget-second — then everything else cheapest-first. (Round 12
    // ran plain cheapest-first and truncated the heavy end into 15
    // false flags; a sentinel-heavy-first variant truncated the
    // cheap majority into 46 cold-only flags. Risk-first is the
    // ordering that minimizes false flags by construction: a query
    // not at risk never needed the warm rep more than one that is.)
    // pass 2 stops at 0.80×budget so pass 3 always keeps ~12% of the
    // budget for third reps of residual gate candidates: the r13
    // full sweeps showed pass 2 can consume the whole window, leaving
    // exactly the still-flagged queries starved of the tie-breaking
    // third sample (every residual flag that night was a 2-rep row).
    val cutoff = timeBudget * 0.92
    val pass2Cutoff = timeBudget * 0.80
    var truncated = 0
    if (maxReps >= 2) {
      def atRisk(n: String): Boolean =
        timesByQ.get(n).exists { ts =>
          ts.min >= 0.2 && idleRef.get(n).exists(r => ts.min > 2.0 * r)
        }
      val order = selected.toSeq
        .filterNot { case (n, _) => failed.contains(n) }
        .sortBy { case (n, _) =>
          (if (atRisk(n)) 0 else 1,
            timesByQ.get(n).map(_.min).getOrElse(0.0))
        }
      order.foreach { case (name, fn) =>
        if (elapsedSec < pass2Cutoff) runOnce(name, fn) else truncated += 1
      }
    }
    // pass 3: third rep ONLY for (a) noise suspects — two reps ≥2×
    // apart on a ≥0.2 s query (GC pause / scheduler jitter
    // signature); noise is strictly additive, so one more sample
    // usually recovers the steady-state minimum — (b) gate
    // candidates: queries whose best still exceeds 2× their
    // idle-record best (these are about to be flagged `regressed`;
    // one more sample cheaply separates a real plan break from a
    // one-off perturbation before the flag enters the round record)
    // — and (c) cheap queries (best ≤ 0.4 s), where the single warm
    // rep of pass 2 leaves the most RELATIVE cold-start residue and
    // a third rep costs almost nothing in wall clock.
    if (maxReps >= 3) {
      val refForP3: Map[String, Double] = idleRef
      def gateCandOf(n: String): Boolean =
        timesByQ.get(n).exists { ts =>
          ts.min >= 0.2 && refForP3.get(n).exists(r => ts.min > 2.0 * r)
        }
      val suspects = selected.toSeq.filter { case (n, _) =>
        timesByQ.get(n).exists { ts =>
          val noisy = ts.size >= 2 && ts.min >= 0.2 && ts.max >= 2.0 * ts.min
          val cheap = ts.min <= 0.4
          noisy || gateCandOf(n) || cheap
        }
      }.sortBy { case (n, _) =>
        // same risk-first logic as pass 2: the about-to-be-flagged
        // rows get the tie-breaking rep before the cheap tail
        (if (gateCandOf(n)) 0 else 1, timesByQ(n).min)
      }
      suspects.foreach { case (name, fn) =>
        // budget-skipped pass-3 reps count as truncations too — the
        // emitted truncated_reps must reflect EVERY planned rep the
        // budget dropped, not just pass 2's
        if (elapsedSec < cutoff) runOnce(name, fn) else truncated += 1
      }
    }
    val results: Map[String, Double] =
      timesByQ.collect { case (n, ts) if ts.nonEmpty && !failed.contains(n)
        => n -> ts.min }.toMap
    val medians: Map[String, Double] =
      timesByQ.collect { case (n, ts) if ts.nonEmpty && !failed.contains(n)
        => val s = ts.sorted; n -> s(s.size / 2) }.toMap
    // The driver captures only the LAST 2000 chars of stdout, and sbt
    // prints "[success] Total time: ..." (~75 chars) AFTER our JSON
    // line. Rounds 1-5 all came back parsed:null because the line
    // budget (2100) exceeded 2000 minus that trailer, clipping the
    // front of the JSON. The budget must keep line + sbt trailer +
    // slack inside the 2000-char tail: full detail goes to a repo
    // file, and the stdout line is budget-capped — heaviest queries
    // first, the cheap tail summarized by count.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // JSON string escape for env-provided values (paths can contain
    // quotes/backslashes; an unescaped one would corrupt the line)
    def esc(s: String): String = s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => "\\u%04x".format(c.toInt)
      case c             => c.toString
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val byTime = results.toSeq.sortBy { case (k, v) => (-v, k) }
    // contention self-report: a median ≥2× the best (on a query big
    // enough that scheduler jitter can't explain it) means some rep
    // was perturbed by co-located load — the count in the emitted
    // line lets the run SAY it was noisy instead of leaving the
    // regression analysis to archaeology over the detail file.
    val noisyQueries = byTime.count { case (k, best) =>
      best >= 0.1 && medians.getOrElse(k, best) >= 2.0 * best
    }
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    // per-query regression GATE against the committed idle record
    // (BENCH_IDLE_REF.json, frozen from an idle-machine run at
    // sf0.1): a query whose best exceeds 2× its idle-record best is
    // listed in `regressed` — so a real plan break can't hide behind
    // "the machine was loaded". best-of-N strips ADDITIVE noise; the
    // round-11 441-query sweeps exposed a second noise class it does
    // not strip — a diffuse UNIFORM single-JVM full-sweep drag
    // (~1.3× median, code-cache/JIT scale) that inflates every rep.
    // A plan break is LOCAL (one query), drag is GLOBAL, so the gate
    // self-calibrates — but calibrating on the WHOLE sweep would let
    // a genuine change that slows most queries hide inside its own
    // median (round-11 ADVICE). So the drag estimate comes from a
    // SENTINEL subset — queries whose idle-record best is ≥ 0.3 s,
    // the stable, jitter-resistant end of the distribution — and the
    // run raises `drag_alarm` when the sentinel drag itself exceeds
    // 1.6×: a drag that large is no longer "uniform JIT noise" and
    // must be adjudicated, not normalized away. The detail file also
    // records `regressed_raw` (no normalization) so a uniform real
    // regression stays visible in the artifact. Queries under 0.2 s
    // are exempt (scheduler jitter); queries absent from the
    // reference (new this round) are skipped. The gate only arms at
    // the reference's own scale factor.
    val refBest: Map[String, Double] = idleRef
    val sentinelRatios = results.toSeq.flatMap { case (k, best) =>
      refBest.get(k).collect { case r if r >= 0.3 => best / r }
    }.sorted
    val sweepDrag =
      if (sentinelRatios.isEmpty) 1.0
      else math.max(1.0, sentinelRatios(sentinelRatios.size / 2))
    val dragAlarm = sweepDrag > 1.6
    def regressedAt(drag: Double) = results.toSeq.sortBy(_._1).collect {
      case (k, best) if refBest.get(k)
            .exists(r => best / drag > 2.0 * r) && best >= 0.2 =>
        k -> (best, refBest(k))
    }
    val regressed = regressedAt(sweepDrag)
    val regressedRaw = regressedAt(1.0)
    def jmap(m: collection.Map[String, Double]): String =
      byTime.map { case (k, _) => "\"" + k + "\":" + f(m.getOrElse(k, -1.0)) }
        .mkString("{", ",", "}")
    val failedJson = failed
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    def regJson(rs: Seq[(String, (Double, Double))]): String =
      rs.map { case (k, (b, r)) =>
        "\"" + k + "\":{\"best\":" + f(b) + ",\"idle_ref\":" + f(r) + "}"
      }.mkString("{", ",", "}")
    val repsJson = byTime.map { case (k, _) =>
      "\"" + k + "\":" + timesByQ.get(k).map(_.size).getOrElse(0)
    }.mkString("{", ",", "}")
    val detailJson = byTime.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString(
        s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${results.size},"sf":"${esc(sfDir)}","elapsed_sec":${f(elapsedSec)},"truncated_reps":$truncated,"sweep_drag":${f(sweepDrag)},"drag_alarm":$dragAlarm,"failed":$failedJson,"regressed":${regJson(regressed)},"regressed_raw":${regJson(regressedRaw)},"reps":$repsJson,"queries":{""",
        ",",
        s"""},"median":${jmap(medians)},"gc_sec":${jmap(gcByQ)},"persisted_rdds":${
          byTime.map { case (k, _) => "\"" + k + "\":" + rddCensus.getOrElse(k, -1) }
            .mkString("{", ",", "}")},"codegen_compiles":{"pass1":$pass1Compiles,"later":${compiles - pass1Compiles}}}""")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detailJson + "\n")
    catch { case _: Throwable => () }
    val budget = 1500 // whole-line cap; 2000-char driver tail - sbt trailer - slack
    val entries = byTime.map { case (k, v) => "\"" + k + "\":" + f(v) }
    // stdout line carries failed NAMES only (full messages in detail)
    val failedNames = failed.keys
      .map(k => "\"" + esc(k) + "\"").mkString("[", ",", "]")
    val regressedNames = regressed.map(p => "\"" + p._1 + "\"")
      .mkString("[", ",", "]")
    // measure the actual non-queries envelope instead of guessing a bound
    def line(qs: String) =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${results.size},"omitted":${results.size},"noisy_queries":$noisyQueries,"sweep_drag":${f(sweepDrag)},"drag_alarm":$dragAlarm,"elapsed_sec":${f(elapsedSec)},"truncated_reps":$truncated,"failed":$failedNames,"regressed":$regressedNames,"detail":"${esc(detailPath)}","queries":$qs,"sf":"${esc(sfDir)}"}"""
    var used = line("{}").length
    val kept = entries.takeWhile { e =>
      val ok = used + e.length + 1 <= budget; if (ok) used += e.length + 1; ok
    }
    val omitted = results.size - kept.size
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${results.size},"omitted":$omitted,"noisy_queries":$noisyQueries,"sweep_drag":${f(sweepDrag)},"drag_alarm":$dragAlarm,"elapsed_sec":${f(elapsedSec)},"truncated_reps":$truncated,"failed":$failedNames,"regressed":$regressedNames,"detail":"${esc(detailPath)}","queries":${kept.mkString("{", ",", "}")},"sf":"${esc(sfDir)}"}""")
    spark.stop()
  }
}
