package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's invariants, checked without a Spark session:
  * every query is defined once, every twin points at a batch query, and
  * the two views the oracle gate reads agree on the names.
  */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("query names are unique") {
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"defined more than once: ${repeated.toSeq.sorted.mkString(", ")}")
  }

  test("every twin names a registered batch query that is not itself a twin") {
    val bad = SparkEntry.registry.flatMap { d =>
      d.twinOf.collect {
        case b if !names.contains(b.name) => s"${d.name}: twin of unregistered ${b.name}"
        case b if b.twinOf.isDefined => s"${d.name}: twin of twin ${b.name}"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("queries and oracleSql have the same keys, and a twin answers with its batch oracle") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
    SparkEntry.registry.foreach { d =>
      d.twinOf.foreach(b => assert(d.oracleSql === b.oracleSql, d.name))
    }
  }

  test("unknown query names fail loudly, by name") {
    val e = intercept[NoSuchElementException](SparkEntry.query("q_typo"))
    assert(e.getMessage === "unknown query 'q_typo'")
    assert(SparkEntry.select(None) === Right(SparkEntry.queries))
    assert(SparkEntry.select(Some("q_typo, q1_pricing_summary,q_other")) ===
      Left(Seq("q_typo", "q_other")))
    assert(SparkEntry.select(Some("q1_pricing_summary, q6_forecast_revenue,"))
      .map(_.keySet) === Right(Set("q1_pricing_summary", "q6_forecast_revenue")))
  }
}
