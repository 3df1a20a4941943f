package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixpoint's round policy: stop at the first unchanged
  * round, report the cap, and reset bloated stats without touching rows.
  */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  /** Runs the chain 0 → 1 → … → 5 → 5 (x ↦ min(x + 1, 5)); returns the
    * final rows, the converged flag and the number of steps taken.
    */
  private def chain(maxRounds: Int): (Seq[Long], Boolean, Int) = {
    var steps = 0
    val (state, converged) = Fixpoint.iterate(Seq(0L).toDF("x"), maxRounds) { d =>
      steps += 1
      d.select(least(col("x") + 1L, lit(5L)).as("x"))
    }((next, prev) => next.except(prev))
    (state.as[Long].collect().toSeq, converged, steps)
  }

  test("iterate stops at the first unchanged round") {
    // 5 rounds change x, the 6th confirms the fixpoint; no 7th round runs
    assert(chain(10) === ((Seq(5L), true, 6)))
    assert(chain(6) === ((Seq(5L), true, 6)))
  }

  test("iterate returns the state at the cap with converged = false") {
    assert(chain(5) === ((Seq(5L), false, 5))) // reached 5 but never confirmed it
    assert(chain(3) === ((Seq(3L), false, 3)))
    assert(chain(0) === ((Seq(0L), false, 0)))
  }

  test("checkpoint resets a bloated size estimate and keeps the rows") {
    def bits(d: DataFrame): Int =
      d.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    // an equi-join on a unique key keeps the rows but multiplies the
    // estimates of both sides, and localCheckpoint carries the estimate
    // forward: seven self-joins compound it far past the 256-bit gate
    val bloated = (1 to 7).foldLeft((1L to 5L).map(i => (i, i)).toDF("id", "v")) {
      (d, _) =>
        d.join(d.select(col("id"), col("v").as("v2")), "id")
          .select(col("id"), (col("v") + col("v2")).as("v")).localCheckpoint()
    }
    assert(bits(bloated) > 256)
    val reset = Fixpoint.checkpoint(bloated)
    assert(bits(reset) <= 256)
    val rows = reset.as[(Long, Long)].collect().toSet
    assert(rows === bloated.as[(Long, Long)].collect().toSet)
    assert(rows === (1L to 5L).map(i => (i, i * 128)).toSet)
  }
}
