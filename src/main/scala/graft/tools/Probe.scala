package graft.tools

import graft.{Hygiene, Session, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable.ArrayBuffer

/** The diagnostic CLI: four modes over the query registry, on the
  * session Bench and Verify run.
  *
  * {{{
  * sbt "runMain graft.tools.Probe plan <name>[,<name>...]|ALL"
  * sbt "runMain graft.tools.Probe stages <name>[,<name>...]|ALL [repeats]"
  * sbt "runMain graft.tools.Probe audit"
  * sbt "runMain graft.tools.Probe count"
  * }}}
  *
  *  - `plan`: the formatted explain of each query's returned frame.
  *    Queries that stream or write tables while they are built do that
  *    work here too; the plan shown is the returned frame's.
  *  - `stages`: per run (default 2), the seconds spent building the
  *    frame (`fn()`), planning it (`executedPlan`) and executing it
  *    (noop write, which includes the write command's own planning);
  *    then totals over every stage the run completed, build included,
  *    with the Spark jobs the run launched and the Janino compiles it
  *    paid (driver and tasks share the local JVM's `CodegenMetrics`; a
  *    warm codegen cache pays none),
  *    and the 15 stages with the most executor run time. This is the
  *    view `explain` cannot give: AQE picks partition counts at run time.
  *  - `audit`: the queries whose plan shrinks under `count()`
  *    ([[PlanAudit]]).
  *  - `count`: graded queries and how many carry an oracle, read from
  *    the registry without a session.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object Probe {
  val usage =
    "usage: Probe plan <name,...|ALL> | stages <name,...|ALL> [repeats] | audit | count"

  def main(args: Array[String]): Unit = {
    val cmd = try parse(args.toSeq) catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage)
      System.err.println(usage)
      sys.exit(2)
    }
    if (cmd.mode == "count") println(countLine)
    else {
      val spark = Session.local(Session.cpus)
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      try exec(spark, cmd, sfDir) finally spark.stop()
    }
  }

  /** Run one command on `spark`, which the caller owns. Refuses an
    * unknown mode, missing or extra arguments, or an unknown query name
    * with an IllegalArgumentException that names the bad input.
    */
  def run(spark: SparkSession, args: Seq[String], sfDir: String): Unit =
    exec(spark, parse(args), sfDir)

  private final case class Cmd(mode: String, names: Seq[String] = Nil, repeats: Int = 2)

  private def parse(args: Seq[String]): Cmd = args match {
    case Seq(m @ ("count" | "audit")) => Cmd(m)
    case Seq("plan", names) => Cmd("plan", queryNames(names))
    case Seq("stages", names) => Cmd("stages", queryNames(names))
    case Seq("stages", names, n) => Cmd("stages", queryNames(names),
      n.toIntOption.filter(_ > 0).getOrElse(
        refuse(s"stages: repeats must be a positive integer, got '$n'")))
    case Seq(m @ ("plan" | "stages")) => refuse(s"$m: missing query names")
    case Seq(m @ ("count" | "audit" | "plan" | "stages"), rest @ _*) =>
      refuse(s"$m: unexpected arguments '${rest.mkString(" ")}'")
    case Seq(m, _*) => refuse(s"unknown mode '$m'")
    case _ => refuse("missing mode")
  }

  private def refuse(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def queryNames(arg: String): Seq[String] = {
    val registry = SparkEntry.queries
    if (arg == "ALL") registry.keys.toSeq.sorted
    else {
      val names = arg.split(',').toSeq
      val unknown = names.filterNot(registry.contains)
      if (unknown.nonEmpty) refuse(s"unknown query '${unknown.mkString(",")}'")
      names
    }
  }

  private def countLine: String = {
    val (q, o) = (SparkEntry.queries, SparkEntry.oracleSql)
    s"queries=${q.size} oracled=${q.keySet.intersect(o.keySet).size}"
  }

  private def exec(spark: SparkSession, cmd: Cmd, sfDir: String): Unit = cmd.mode match {
    case "count" => println(countLine)
    case "audit" =>
      val (errs, flagged) = PlanAudit.audit(spark, sfDir).partition(_._2.startsWith("ERROR"))
      (errs ++ flagged).foreach { case (n, s) => println(s"AUDIT $n $s") }
      // errors print but don't count: the summary line claims
      // eliminable queries, not broken ones
      println(s"AUDIT_DONE flagged=${flagged.size} (these queries NEED the noop-sink materialization)")
    case "plan" => cmd.names.foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    case "stages" => stages(spark, cmd.names, cmd.repeats, sfDir)
  }

  private final case class St(id: Int, nameLine: String, wallMs: Long, runMs: Long,
                              cpuMs: Long, tasks: Int, recordsIn: Long, recordsOut: Long)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def stages(spark: SparkSession, names: Seq[String], repeats: Int,
                     sfDir: String): Unit = {
    val sc = spark.sparkContext
    // appended from the listener-bus thread, read and cleared here:
    // every access synchronizes on the buffer
    val done = ArrayBuffer.empty[St]
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        done.synchronized {
          done += St(i.stageId, i.name.takeWhile(_ != '\n').take(80), wall,
            m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks,
            m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
            m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    sc.addSparkListener(listener)
    try for (name <- names; r <- 1 to repeats) {
      // a straggler event from the last run must not land in this one
      Bridge.drainListenerBus(sc)
      done.synchronized(done.clear())
      jobs.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (df, build) = timed(SparkEntry.queries(name)(spark, sfDir))
      val (_, plan) = timed(df.queryExecution.executedPlan)
      val (_, execute) = timed(df.write.format("noop").mode("overwrite").save())
      Bridge.drainListenerBus(sc)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val snap = done.synchronized(done.toVector)
      println(f"== run $r: $name build=$build%.2f s plan=$plan%.2f s " +
        f"execute=$execute%.2f s, ${snap.size} stages")
      // totals over ALL stages: top-15 sums are not comparable across
      // code versions once a query has more than 15 stages
      println(f"  TOTAL run=${snap.map(_.runMs).sum}%8d ms " +
        f"cpu=${snap.map(_.cpuMs).sum}%8d ms tasks=${snap.map(_.tasks).sum}%5d " +
        f"in=${snap.map(_.recordsIn).sum}%11d out=${snap.map(_.recordsOut).sum}%11d " +
        f"jobs=${jobs.get}%4d compiles=$compiles%5d")
      snap.sortBy(-_.runMs).take(15).foreach { s =>
        println(f"  stage ${s.id}%3d wall=${s.wallMs}%6d ms run=${s.runMs}%6d ms " +
          f"cpu=${s.cpuMs}%6d ms tasks=${s.tasks}%3d in=${s.recordsIn}%9d " +
          f"out=${s.recordsOut}%9d  ${s.nameLine}")
      }
      Hygiene.clearAll(spark, blocking = true, gc = true)
    } finally sc.removeSparkListener(listener)
  }
}
