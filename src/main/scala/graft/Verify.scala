package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/compare.py). Exits 1,
  * naming the failed queries, if any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional third arg (builder-side only; the driver passes two): run
    // only queries whose name starts with the given comma-separated
    // prefixes — targeted re-verification while iterating
    val only: String => Boolean = args.lift(2) match {
      case Some(pfx) => val ps = pfx.split(','); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try dump(spark, sfDir, outDir, only) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each selected query's result to `<outDir>/<name>.parquet` and
    * every oracle twin to `<outDir>/oracle_sql.json`; a query that throws
    * is logged and skipped so the rest still dump. Returns the names of
    * the queries that threw.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: String => Boolean): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // same isolation as Bench: a full GC lets the ContextCleaner drop
      // finished broadcasts / localCheckpoint blocks between queries —
      // 95 queries share this JVM, and accumulated pins measurably
      // degrade later stages (BENCH/BASELINE.md round 4)
      System.gc()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Dual-key: the driver's CORRECTNESS keys are dump basenames
    // ("qNN_name.parquet") while ours are bare names — emit both so either
    // lookup hits (round-1 all-no_oracle failure was exactly this mismatch).
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.result()
  }
}
