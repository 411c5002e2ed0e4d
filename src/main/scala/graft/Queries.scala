package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops._

/** Named query registry — the graded surface (SURVEY.md §7.4).
  *
  * Each entry pairs a Spark DataFrame query over the testdata tables
  * with (when SQL-expressible) an ANSI-SQL oracle the driver runs in
  * DuckDB on the same parquet. Oracle-parity rules (SURVEY.md §7.3 /
  * FIXTURES.md §C): identical column aliases on both sides, round()
  * double aggregates, deterministic ORDER BY with tiebreakers, cast
  * away engine-specific integer widths (DuckDB sum(int)→HUGEINT,
  * row_number→BIGINT, len→BIGINT), emit timestamps as epoch-second
  * longs (parquet ns vs Spark µs).
  *
  * `writes` marks a query whose every run rewrites tables (layout
  * writers, format round-trips, index builds) or re-runs a streaming
  * job. Its warm run re-pays that work by design, so Bench reports it
  * in the write family, apart from the read family's warm series.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    writes: Boolean = false)

object Queries {

  /** The graded registry: per-family files composed into one surface
    * (round-7 verdict task 7 — the registry was a single 6,200-line
    * file; the split is purely mechanical, no query renamed).
    */
  val all: Seq[Q] =
    QueriesCore.qs ++ QueriesTime.qs ++ QueriesScalar.qs ++
    QueriesDedup.qs ++ QueriesSampling.qs ++ QueriesEvents.qs ++
    QueriesCuration.qs ++ QueriesText.qs ++ QueriesSim.qs ++
    QueriesMedia.qs ++ QueriesOps.qs ++ QueriesLayout.qs ++
    QueriesStreaming.qs ++ QueriesGraph.qs

  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap

  private[graft] def pathTag(d: String): String = QHelp.pathTag(d)
}
