package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryDef

/** The query/oracle contract as checks: one QueryDef per name, every engine
  * query paired with a DuckDB oracle, bench-only paths without one. */
class QueryDefSpec extends AnyFunSuite {
  import SparkEntry.{benchOnlyQueries, defs, oracleSql, queries}

  test("query names are unique") {
    val names = defs.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("every query has an oracle and every oracle a query") {
    assert(queries.keySet === oracleSql.keySet)
  }

  test("bench-only queries are disjoint from queries and have no oracle") {
    assert(benchOnlyQueries.keySet.intersect(queries.keySet).isEmpty)
    assert(benchOnlyQueries.keySet.intersect(oracleSql.keySet).isEmpty)
    assert(defs.filter(d => benchOnlyQueries.contains(d.name))
      .forall(_.oracle.isEmpty))
  }

  test("102 oracled queries and 5 bench-only queries") {
    assert(queries.size === 102)
    assert(benchOnlyQueries.size === 5)
    assert(defs.size === 107)
  }

  test("the star-contraction clustering gate shares dedup_clusters' oracle") {
    assert(oracleSql("dedup_clusters_star") === oracleSql("dedup_clusters"))
  }

  test("assembly fails fast on a duplicate name") {
    val e = intercept[IllegalArgumentException](
      QueryDef.assemble(defs :+ defs.head.copy(oracle = None)))
    assert(e.getMessage.contains(defs.head.name))
  }
}
