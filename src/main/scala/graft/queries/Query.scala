package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark plan over the tables in a scale-factor
  * directory, declared together with its DuckDB twin (same table names =
  * parquet basenames in that directory). The twin's text is built when it
  * is first read and then cached: some twins replay fixture images on the
  * driver, which costs seconds.
  */
final class Query(val name: String, val plan: (SparkSession, String) => DataFrame,
                  oracle: => String) {
  lazy val oracleSql: String = oracle
}

object Query {
  def apply(name: String, plan: (SparkSession, String) => DataFrame,
            oracleSql: => String): Query = new Query(name, plan, oracleSql)
}

/** Queries by name. Names are unique: building a registry with a repeated
  * name fails and names it.
  */
final class QueryRegistry(val queries: Seq[Query]) {
  private val repeated = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(repeated.isEmpty, s"duplicate query names: ${repeated.toSeq.sorted.mkString(", ")}")

  val byName: Map[String, Query] = queries.map(q => q.name -> q).toMap
  val plans: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.plan }
  /** Reading one entry builds only that twin's text. */
  val oracleSql: Map[String, String] = new QueryRegistry.OracleView(byName)
}

object QueryRegistry {
  /** Every driver query, one family per file in this package. */
  val all: QueryRegistry = new QueryRegistry(
    SpatialQueries.all ++ TableQueries.all ++ ReducerQueries.all ++ TextQueries.all ++
      AnnQueries.all ++ RasterQueries.all ++ MobilityQueries.all ++ GraphQueries.all ++
      StreamingQueries.all)

  private final class OracleView(byName: Map[String, Query])
      extends scala.collection.immutable.AbstractMap[String, String] {
    def get(k: String): Option[String] = byName.get(k).map(_.oracleSql)
    def iterator: Iterator[(String, String)] = byName.iterator.map { case (n, q) => n -> q.oracleSql }
    override def contains(k: String): Boolean = byName.contains(k)
    override def keySet: Set[String] = byName.keySet
    override def keysIterator: Iterator[String] = byName.keysIterator
    override def size: Int = byName.size
    override def knownSize: Int = byName.size
    def removed(k: String): Map[String, String] = iterator.toMap.removed(k)
    def updated[V1 >: String](k: String, v: V1): Map[String, V1] = iterator.toMap.updated(k, v)
  }
}
