package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("dump reports a query that throws and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("verify").toString
    val missing = Paths.get(out, "no_such_sf").toString
    val failed = Verify.dump(spark, missing, out, _.startsWith("q83_sssp"))
    assert(failed === Seq("q83_sssp"))
    val oracle = Files.readString(Paths.get(out, "oracle_sql.json"))
    assert(oracle.contains("\"q83_sssp.parquet\""))
  }
}
