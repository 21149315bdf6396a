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
      "Ranking.scala" -> 3,        // P carry rows per range partition
      "Dedup.scala" -> 1,          // union-find arm, <=5M edges thresholded
      "GraphQueries.scala" -> 3,   // dup-group union-find, same threshold;
                                   // HITS edges + 40 top terms
      "OpsQueries.scala" -> 1,     // encoding-advisor carries, 4096 cap
      "TextQueries.scala" -> 1,    // one-row logistic fit coefficients
      "SimilarityQueries.scala" -> 3, // k-center driver-stepped 1-row steps
      "EventQueries.scala" -> 1,   // <=|event_types|^2 transition chain
      "Reports.scala" -> 1,        // validation summary, report-sized
      "Sinks.scala" -> 1,          // batch's distinct partition values
      "Bench.scala" -> 1,          // benchmark main, driver tool
      "PlanDump.scala" -> 1,       // plan-inspection tool, not a query
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
