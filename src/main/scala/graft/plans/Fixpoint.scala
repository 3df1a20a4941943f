package graft.plans

import org.apache.spark.sql.DataFrame

/** The round loop of every iterative operator. The operator supplies
  * its `step` and, if it converges, its change predicate; this object owns
  * the policy. Each round's state goes through [[checkpoint]] (un-truncated,
  * round k would re-execute all k−1 prior joins). Convergence is one
  * `changed(next, prev).limit(1).count()` probe over the two checkpointed
  * tables (`isEmpty` takes incrementally and can add jobs). What reaching
  * the round cap means — an error or a bounded-prefix result — is the
  * caller's call.
  */
object Fixpoint {

  /** `localCheckpoint()` plus a statistics reset when the estimate bloats.
    *
    * localCheckpoint PRESERVES the origin plan's ESTIMATED stats, and
    * iterative rounds join the carried table against itself — so
    * sizeInBytes estimates compound per round. Seeded by an input whose
    * pipeline already carries a large estimate (the DBSCAN candidate join
    * at bench SF), planning itself became BigInteger arithmetic on
    * ever-growing numbers: measured q7m wedged > 25 min inside
    * SizeInBytesOnlyStatsPlanVisitor (jstack: Toom-Cook multiplies) while
    * every executor sat idle. The reset rebuilds the DataFrame over the
    * already-materialized checkpoint blocks through an RDD round-trip —
    * bounded planner cost, identical rows; join-strategy quality is
    * unaffected because AQE re-plans from RUNTIME sizes. The round-trip
    * costs one narrow job, so it runs ONLY when the estimate has bloated
    * past 256 bits — probing stats is cheap precisely because the gate
    * keeps them small.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint()
    if (m.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 256) m
    else m.sparkSession.createDataFrame(m.rdd, m.schema)
  }

  /** Rounds of `step` from `init` until a round changes nothing or
    * `maxRounds` rounds have run. `changed(next, prev)` returns the rows
    * witnessing a change (empty ⟺ fixpoint). Returns the last state and
    * whether the fixpoint was reached; a converged run spends its final
    * round confirming that nothing changed.
    */
  def iterate(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)
             (changed: (DataFrame, DataFrame) => DataFrame): (DataFrame, Boolean) = {
    @annotation.tailrec
    def go(prev: DataFrame, round: Int): (DataFrame, Boolean) =
      if (round >= maxRounds) (prev, false)
      else {
        val next = checkpoint(step(prev))
        if (changed(next, prev).limit(1).count() == 0) (next, true)
        else go(next, round + 1)
      }
    go(checkpoint(init), 0)
  }

  /** Exactly `n` rounds of `step` from `init` — for operators whose
    * semantics IS a fixed round count (no probe job).
    */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(checkpoint(init))((state, _) => checkpoint(step(state)))
}
