package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws fails the run (exit 1) after every other output is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names — dump and oracle just that subset
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session.local(Session.cpus)
    val failed = dump(spark, SparkEntry.queries.filter(q => keep(q._1)), sfDir, outDir)
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // no status file in outDir: the driver reads that directory
    if (failed.nonEmpty) {
      failed.foreach { case (name, err) => System.err.println(s"Verify: $name failed: $err") }
      sys.exit(1)
    }
  }

  /** Write each query's result to `outDir/<name>` as one parquet file.
    * Every query runs, whatever the others do; returns `(name, error)`
    * for each that threw (`Bench.attempt`'s exception class and message).
    */
  def dump(spark: SparkSession, queries: Map[String, (SparkSession, String) => DataFrame],
           sfDir: String, outDir: String): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      val (_, err) = Bench.attempt(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      // the Bench hygiene (graft.Hygiene), for the same reason:
      // queries that pin blocks eagerly (staged scans, distinct-value
      // cums) would otherwise accumulate across the suite in one JVM
      Hygiene.clearAll(spark)
      err.map(name -> _)
    }
  }

  /** `s` as a JSON string literal. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in a query's oracle SQL would
    * otherwise make `oracle_sql.json` unparseable and silently skip the
    * oracle compare. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
