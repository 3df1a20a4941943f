package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

class QueryRegistrySpec extends AnyFunSuite {
  private def q(name: String): Query = Query(name, (s, _) => s.range(1).toDF(), "SELECT 0 AS id")

  test("a repeated query name is rejected when the registry is built, and named") {
    val e = intercept[IllegalArgumentException] {
      new QueryRegistry(Seq(q("q01_a"), q("q02_b"), q("q01_a")))
    }
    assert(e.getMessage.contains("duplicate query names: q01_a"))
    assert(!e.getMessage.contains("q02_b"))
  }

  test("an oracle's text is built on first read, once") {
    var built = 0
    val r = new QueryRegistry(Seq(Query("q01_a", (s, _) => s.range(1).toDF(),
      { built += 1; "SELECT 0 AS id" })))
    assert(built === 0)
    assert(r.oracleSql.keySet === Set("q01_a"))
    assert(built === 0)
    assert(r.oracleSql("q01_a") === "SELECT 0 AS id")
    assert(r.oracleSql.get("q01_a") === Some("SELECT 0 AS id"))
    assert(built === 1)
  }

  test("every driver query has exactly one non-blank DuckDB twin") {
    assert(SparkEntry.queries.size === 196)
    assert(SparkEntry.oracleSql.size === 196)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }
}
