package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** A pass over driver queries from `SparkEntry.queries`, each built afresh
  * from the read-only sf0.01 tables. The seed only sets the order within a
  * pass; every pass of a run uses the same order.
  */
final class Queries(dataDir: String, layers: Seq[(String, String)], seed: Long) extends Workload {
  private val layer = layers.toMap
  val items: Seq[String] = new scala.util.Random(seed).shuffle(layers.map(_._1))
  def layerOf(item: String): String = layer(item)
  def build(spark: SparkSession, item: String): DataFrame = SparkEntry.queries(item)(spark, dataDir)
  def oracleSql: Seq[(String, String)] = {
    val all = SparkEntry.oracleSql
    items.sorted.flatMap(q => all.get(q).map(q -> _))
  }
}

object Queries {
  /** Short single-pass queries: planning, scheduling, broadcast and
    * small-shuffle cost, plus the write path of `sources`, `plans` and
    * `streaming`.
    */
  val Mix: Seq[(String, String)] = Seq(
    "q01_spatial_join" -> "operators",
    "q10_count_nested" -> "api",
    "q30_filter_dsl" -> "filter",
    "q0h_iceberg_delete" -> "sources",
    "q61_checkpoint_agg" -> "plans",
    "q81_stream_dedup" -> "streaming")

  /** Fixed-point loop: cost is rounds x one blocking job per round. */
  val Iterative: Seq[(String, String)] = Seq(
    "q9w_flow_accum" -> "operators")

  /** Queries whose output is written by the query itself. */
  val Writers: Seq[String] = Seq("q0h_iceberg_delete", "q61_checkpoint_agg", "q81_stream_dedup")
}
