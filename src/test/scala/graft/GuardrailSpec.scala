package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical source-level scale guardrails. These are grep-shaped
  * invariants a human auditor would otherwise re-derive by hand each
  * round; failing them means a scale anti-pattern re-entered the
  * codebase, not that a query is wrong.
  */
class GuardrailSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala/graft")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  /** Strip line comments and scaladoc/block comments so prose that
    * MENTIONS an anti-pattern doesn't trip the guard. */
  private def codeOnly(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "")
      .linesIterator.map(l => l.indexOf("//") match {
        case -1 => l
        case i  => l.substring(0, i)
      }).mkString("\n")

  test("unpartitioned windows go through Grain (single-reducer audit seam)") {
    // An unpartitioned Window.orderBy plans a SinglePartition
    // exchange — the whole input through one reducer. Grain.bounded /
    // Grain.whole is the one place allowed to build that spec, so
    // every call site carries the author's grain-bound declaration
    // and this grep is the complete audit (round-12 verdict #6).
    val offenders = mainSources.collect {
      case (p, src) if !p.endsWith("Grain.scala") &&
        (codeOnly(src).contains("Window.orderBy(") ||
          codeOnly(src).contains("Window.partitionBy()")) => p.toString
    }
    assert(offenders.isEmpty,
      s"raw unpartitioned Window spec outside Grain: ${offenders.mkString(", ")}" +
        " — use Grain.bounded/Grain.whole (and verify the input is grain-sized)")
  }

  test("materialization goes through Barrier (one policy point)") {
    // Barrier.materialize is the one place that chooses how a frame
    // is materialized (lazy local checkpoint today), so the policy
    // can change in one file; a raw checkpoint/cache/persist
    // anywhere else re-spreads it across call sites.
    // Matched as words, so a call without parentheses is caught too.
    val call = """\.(cache|persist|localCheckpoint|checkpoint|cacheTable)\b""".r
    val sqlCache = """(?i)\bcache\s+(lazy\s+)?table\b""".r
    val offenders = mainSources.collect {
      case (p, src) if !p.endsWith("Barrier.scala") && {
          val code = codeOnly(src)
          call.findFirstIn(code).isDefined || sqlCache.findFirstIn(code).isDefined
        } => p.toString
    }
    assert(offenders.isEmpty,
      s"raw materialization call outside Barrier: ${offenders.mkString(", ")}" +
        " — use Barrier.materialize")
  }

  test("no driver-side collect on corpus-shaped paths (spot list)") {
    // collect() in main source is allowed only at documented bounded
    // seams (carry rows per partition, advisor grids, driver-stepped
    // BFS frontiers). This pins the COUNT so a new one must be
    // consciously allowance-listed here, with its bound argued.
    val found = mainSources.map { case (p, src) =>
      p.getFileName.toString ->
        "\\.collect\\(\\)".r.findAllIn(codeOnly(src)).size
    }.filter(_._2 > 0).toMap
    val allowed = Map(
      "Ranking.scala" -> 1,        // P carry rows per range partition
      "Dedup.scala" -> 1,          // union-find arm: one pull of <=5M+1 edges
      "GraphQueries.scala" -> 2,   // HITS edges + 40 top terms
      "OpsQueries.scala" -> 1,     // encoding-advisor carries, 4096 cap
      "TextQueries.scala" -> 1,    // one-row logistic fit coefficients
      "SimilarityQueries.scala" -> 3, // k-center driver-stepped 1-row steps
      "EventQueries.scala" -> 1,   // <=|event_types|^2 transition chain
      "GoldJob.scala" -> 1,        // silver grain: days × (sentiments + categories + 1) + 1 rows
      "Sinks.scala" -> 1,          // batch's distinct partition values
      "Bench.scala" -> 1,          // benchmark main, driver tool
      "Explain.scala" -> 1,        // plan-inspection tool, not a query
      // round-13 optimization seams — every one constant-bounded:
      "Selection.scala" -> 2,      // 1-row stats + <=nBuckets counts/pass
      "Similarity.scala" -> 1,     // collectCodebook: <=nCells (cid, ce)
      "IvfPq.scala" -> 2           // coarse codebook + m8*nCells sub-codes
    )
    found.foreach { case (f, n) =>
      assert(allowed.getOrElse(f, 0) >= n,
        s"$f has $n .collect() call(s), allowance ${allowed.getOrElse(f, 0)}" +
          " — argue the bound and update the allowance list")
    }
  }
}
