package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Detects queries whose plan SHRINKS under `df.count()` — the audit
  * that exposed the rounds-1-5 bench under-measurement (round 6).
  *
  * Under count() Catalyst prunes all columns and then eliminates
  * subtrees whose output is unreferenced: a final left join against a
  * unique (grouped) key drops entirely (taking every Generate/Window/
  * Join beneath it), and trailing windows vanish wherever their
  * columns die with the projection. Any query listed here would be
  * mis-measured by a count()-based harness — which is why Bench
  * materializes through the noop sink instead. Run `Probe audit`
  * after adding a query to see whether count()-style shortcuts would
  * lie about it; PlanAuditSpec pins the flagged set so a new
  * eliminable query (or a harness regression back to count()) cannot
  * land silently.
  */
object PlanAudit {

  /** (name, lostNodeSummary) for every query whose optimized plan
    * loses Join/Generate/Window/Aggregate nodes under count();
    * construction failures surface as (name, "ERROR ...").
    */
  def audit(spark: SparkSession, d: String): Seq[(String, String)] = {
    def nodes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Map[String, Int] =
      p.collect { case n => n.nodeName }.groupBy(identity).view.mapValues(_.size).toMap
    graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, d)
        val full = nodes(df.queryExecution.optimizedPlan)
        val cnt = nodes(df.agg(count(lit(1))).queryExecution.optimizedPlan)
        val lost = Seq("Join", "Generate", "Window", "Aggregate").flatMap { k =>
          val f = full.getOrElse(k, 0); val c = cnt.getOrElse(k, 0)
          if (c < f) Some(s"$k:$f->$c") else None
        }
        if (lost.nonEmpty) Some(name -> lost.mkString(" ")) else None
      } catch {
        case e: Throwable => Some(name -> s"ERROR ${e.getClass.getSimpleName}")
      }
    }
  }
}
