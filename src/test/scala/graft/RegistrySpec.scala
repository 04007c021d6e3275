package graft

import graft.SparkEntry.{CheckedBy, Oracle, QuerySpec}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the driver contract: what queries exist and how
  * each one's result is verified. Pinned here without a Spark session. */
class RegistrySpec extends AnyFunSuite {
  private val registry = SparkEntry.registry
  private val byName = registry.map(q => q.name -> q).toMap

  test("query names are unique") {
    val dups = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, dups)
  }

  test("every CheckedBy names another registered query whose verdict is Oracle") {
    for (QuerySpec(name, _, CheckedBy(c)) <- registry) {
      assert(c != name, name)
      assert(byName.get(c).exists(_.verdict.isInstanceOf[Oracle]),
        s"$name is checked by '$c', which is not a registered Oracle query")
    }
  }

  test("236 queries: 219 Oracle + 17 CheckedBy") {
    val oracles = registry.count(_.verdict.isInstanceOf[Oracle])
    val checked = registry.count(_.verdict.isInstanceOf[CheckedBy])
    assert((oracles, checked, registry.size) == ((219, 17, 236)))
  }

  test("the queries and oracleSql views carry the registry's key sets") {
    assert(SparkEntry.queries.keySet == byName.keySet)
    assert(SparkEntry.oracleSql.keySet ==
      registry.collect { case QuerySpec(n, _, Oracle(_)) => n }.toSet)
  }

  test("every oracle SQL string is non-empty") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, blank)
  }

  test("select keeps the list's order, returns all queries when absent, names every unknown entry") {
    assert(SparkEntry.select(None) == registry)
    assert(SparkEntry.select(Some(" q_sort, q_count ,q_sort")).map(_.name) ==
      Seq("q_sort", "q_count"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_count,q_cuont,q_nope")))
    assert(e.getMessage.contains("q_cuont, q_nope"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("Verify subsets only on GRAFT_ONLY, never on a leftover SPARK_GRAFT_BENCH_ONLY") {
    assert(Verify.selection(Map("SPARK_GRAFT_BENCH_ONLY" -> "q_count")) == registry)
    assert(Verify.selection(Map("GRAFT_ONLY" -> "q_count,q_ann_lsh")).map(_.name) ==
      Seq("q_count", "q_ann_lsh"))
  }

  test("oracle_sql.json: the whole map for a full run, only the selected oracles for a subset") {
    // parse-back round trip: every SQL string (tabs, newlines and
    // quotes included) reads back exactly as the registry holds it
    def parsed(json: String): Map[String, String] =
      org.json4s.jackson.JsonMethods.parse(json).values.asInstanceOf[Map[String, String]]
    assert(parsed(Verify.oracleJson(registry)) == SparkEntry.oracleSql)
    // q_ann_lsh is rows-only: it adds no oracle entry
    val subset = SparkEntry.select(Some("q_sort,q_count,q_ann_lsh"))
    assert(parsed(Verify.oracleJson(subset)) ==
      SparkEntry.oracleSql.filter { case (k, _) => k == "q_count" || k == "q_sort" })
  }
}
