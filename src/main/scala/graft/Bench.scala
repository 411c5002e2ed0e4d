package graft
import scala.util.control.NonFatal
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg (local iteration only; the driver passes none):
    // comma-separated query names to bench just that subset
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(',').toSet) else None
    val spark = Session.local(Session.cpus)
    // absorb one-time JVM/classloading/scan-setup cost so per-query
    // numbers measure the queries. Whole-stage codegen compiles per
    // PLAN SHAPE, so warming one query does not absorb another's
    // compile — every query is timed cold-plan, uniformly.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    // cold = fresh plan (includes per-plan codegen compile); warm =
    // second run of the same query (plan/codegen caches hot — what a
    // resident cluster would see). Read-path warm is the stable basis
    // for comparing runs; write-path warm re-pays table rewrites and
    // streaming runs (see `Q.writes`).
    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }
    // Materialize through the noop sink, NOT count(): under
    // df.count() Catalyst prunes every column and then ELIMINATES
    // whole subtrees whose output is unreferenced — a final left join
    // against a unique (grouped) key drops entirely, and with it the
    // plan above it (tools/PlanAudit detects this; PlanAuditSpec pins
    // the affected set). The noop writer consumes every output row
    // with all columns live, so the timed number is the work a real
    // consumer pays, at zero sink cost.
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Host-factor calibration probe: a FIXED synthetic workload —
    // seeded range → hash-keyed two-level aggregate, zero IO, constant
    // size — timed at suite start and end. Same-code series on one host
    // differ by more than 1.4× from machine state alone, so every run
    // carries its own meter reading: totals are compared across runs
    // as total/calib, and a calib_pre/calib_post gap flags state drift
    // WITHIN a run. Median of 3 so one GC pause can't poison the
    // estimate. One DISCARDED run precedes the timed three: the probe's
    // own codegen/JIT would otherwise land in calib_pre only, biasing
    // pre high vs post; the discard is symmetric in both calls.
    def calibrate(): Double = {
      def once(): Double = time(exec(
        spark.range(0, 20000000L, 1, 32)
          .selectExpr("id * 2654435761 % 1000003 AS k", "id % 97 AS v")
          .groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("v"),
            org.apache.spark.sql.functions.count("*"))))
      once() // discarded: absorb the probe's own codegen/JIT warmup
      val runs = Seq(once(), once(), once()).sorted
      hygiene()
      runs(1)
    }
    // State hygiene between timed runs (graft.Hygiene — shared with
    // Verify): each bench invocation builds a fresh DataFrame, so
    // dropping every persisted RDD + cached relation after the noop
    // write materializes is safe, and blocking+GC makes each timed run
    // see the same clean session (without it, read-family "warm" ran
    // slower than cold).
    def hygiene(): Unit = Hygiene.clearAll(spark, blocking = true, gc = true)
    val calibPre = calibrate()
    val runs = Queries.all.sortBy(_.name)
      .filter(q => only.forall(_.contains(q.name)))
      .map { q =>
        val (cold, coldErr) = attempt(exec(q.fn(spark, sfDir)))
        hygiene()
        val (warm, warmErr) = attempt(exec(q.fn(spark, sfDir)))
        hygiene()
        ((q, cold, warm), coldErr.orElse(warmErr))
      }
    val results = runs.map(_._1)
    val failed = runs.collect { case ((q, _, _), Some(err)) => q.name -> err }
    val status = runs.map { case ((q, _, _), err) =>
      "\"" + q.name + "\":" + Verify.jsonString(err.getOrElse("ok")) }.mkString("{", ",", "}")
    def json(sel: ((Q, Double, Double)) => Double): String =
      results.map(x => s"\"" + x._1.name + "\":" + sel(x))
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalWarm = results.map(_._3).sum
    val (w, r) = results.partition(_._1.writes)
    val fam = s""""families":{"read":{"n":${r.size},"cold":${r.map(_._2).sum},"warm":${r.map(_._3).sum}},""" +
      s""""write":{"n":${w.size},"cold":${w.map(_._2).sum},"warm":${w.map(_._3).sum}}}"""
    // Subset runs (local iteration) are tagged with the count of
    // queries actually benched (a misspelled name silently drops out of
    // the filter), so their partial totals can never be mistaken for a
    // full-suite artifact, and they do NOT overwrite BENCH_LOCAL.json.
    val subsetTag = only.map(_ => s""""subset":${results.size},""").getOrElse("")
    val calibPost = calibrate()
    // calib-NORMALIZED per-query values: the host's speed factor swings
    // several-fold between sessions, so the artifact records
    // cold/calib (and warm) directly and one file carries its own
    // comparison basis. calib = mean of the pre/post probes.
    val calibMid = (calibPre + calibPost) / 2.0
    def norm(v: Double): Double = math.rint(v / calibMid * 10000) / 10000
    val calib = s""""calib_pre":$calibPre,"calib_post":$calibPost,"calib":$calibMid"""
    // The full run's stdout line keeps every driver-contract field
    // (metric/value/unit/queries/sf plus warm/families/calib) but rounds
    // per-query seconds to 4 decimals (0.1 ms — far below host noise)
    // and leaves the normalized maps and status to the file, so the
    // driver's tail capture cannot truncate it. BENCH_LOCAL.json is the
    // authoritative full-precision copy. A subset run's line is short,
    // so it prints the full-precision copy itself.
    def r4(v: Double): Double = math.rint(v * 10000) / 10000
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$subsetTag"queries":${json(x => r4(x._2))},"total_warm":$totalWarm,"queries_warm":${json(x => r4(x._3))},$fam,$calib,"sf":"$sfDir"}"""
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec",$subsetTag"queries":${json(_._2)},"total_warm":$totalWarm,"queries_warm":${json(_._3)},"queries_norm":${json(x => norm(x._2))},"queries_warm_norm":${json(x => norm(x._3))},"status":$status,$fam,$calib,"sf":"$sfDir"}"""
    if (only.isEmpty) {
      println(line)
      // the authoritative copy as a file, in case a harness parses logs
      // that interleave, prefix, or truncate stdout
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), fileLine)
      catch { case _: Throwable => }
    } else println(fileLine)
    spark.stop()
    if (failed.nonEmpty) {
      failed.foreach { case (name, err) => System.err.println(s"Bench: $name failed: $err") }
      sys.exit(1)
    }
  }

  /** Time one query run. A query that throws is timed up to the throw
    * and comes back with its exception class and message, which the
    * bench records as the query's status and fails the run on — never
    * a fast success.
    */
  private[graft] def attempt(fn: => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err = try { fn; None } catch {
      case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    ((System.nanoTime() - t0) / 1e9, err)
  }
}
