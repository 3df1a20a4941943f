package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Query, QueryRegistry}

class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("timeQueries names a query that throws and does not time it") {
    val missing = Paths.get(Files.createTempDirectory("bench").toString, "no_such_sf").toString
    val ok = Query("q00_range", (s, _) => s.range(10).toDF(), "SELECT 0")
    val (timed, failed) = Bench.timeQueries(spark, missing,
      Seq(ok, QueryRegistry.all.byName("q83_sssp")))
    assert(failed === Seq("q83_sssp"))
    assert(timed.map(_._1) === Seq("q00_range"))
  }
}
