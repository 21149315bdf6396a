package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-integrity pins: the module maps merge with `++`, so a
  * duplicate key would SILENTLY shadow an earlier module's registered
  * (and oracle-green) query — a drafted round-10 `ev_stickiness`
  * briefly replaced the weekly one exactly that way. No SparkSession
  * needed: these are pure map properties. */
class RegistrySpec extends AnyFunSuite {

  test("module query registries are pairwise key-disjoint (no shadowing)") {
    val sizes = SparkEntry.queryModules.map(_.size).sum
    val merged = SparkEntry.queries.size
    assert(sizes == merged, {
      val seen = scala.collection.mutable.Map[String, Int]()
      SparkEntry.queryModules.zipWithIndex.foreach { case (m, i) =>
        m.keys.foreach(k => if (seen.contains(k))
          fail(s"query key '$k' in modules ${seen(k)} and $i")
        else seen(k) = i)
      }
      s"duplicate query keys: module sizes sum $sizes != merged $merged"
    })
  }

  test("module oracle registries are pairwise key-disjoint") {
    assert(SparkEntry.oracleModules.map(_.size).sum == SparkEntry.oracleSql.size)
  }

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracles: ${(q -- o).mkString(", ")}")
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).mkString(", ")}")
  }

  test("the registry holds all 458 queries") {
    // a module dropped from SparkEntry.modules would silently take
    // its queries with it; only the total notices
    assert(SparkEntry.queries.size == 458)
  }

  test("every module key carries one of that module's prefixes") {
    // serve.Queries keeps the reference's own query ids (a1_, q2_, ...)
    // and declares no family prefix; every operator module does
    val (reference, families) = SparkEntry.modules.partition(_ eq serve.Queries)
    assert(reference.size == 1 && reference.head.prefixes.isEmpty)
    families.foreach { m =>
      assert(m.prefixes.nonEmpty, s"${m.getClass.getSimpleName} declares no prefix")
      val stray = m.queries.keys.filterNot(k => m.prefixes.exists(k.startsWith))
      assert(stray.isEmpty,
        s"${m.getClass.getSimpleName} holds keys outside ${m.prefixes}: ${stray.mkString(", ")}")
    }
  }

  test("no prefix is declared by two modules or claims another module's key") {
    val families = SparkEntry.modules.filter(_.prefixes.nonEmpty)
    val declared = families.flatMap(_.prefixes)
    assert(declared.distinct.size == declared.size,
      s"prefixes declared twice: ${declared.diff(declared.distinct).mkString(", ")}")
    for (m <- families; o <- families if !(o eq m); k <- o.queries.keys)
      assert(!m.prefixes.exists(k.startsWith),
        s"key '$k' of ${o.getClass.getSimpleName} carries a prefix of ${m.getClass.getSimpleName}")
  }
}
