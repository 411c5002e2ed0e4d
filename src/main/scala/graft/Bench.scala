package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {

  /** Queries whose timed body REWRITES tables (layout writers,
    * format round-trips) or re-runs a full streaming job per
    * invocation. Their "warm" numbers re-pay that work by design
    * (q57's warm rebuilds two bucketed tables), so totals are
    * reported per family: read-path warm is the compile-jitter-free
    * series for round-over-round comparison; write-path cost is
    * one-time-amortized in production and belongs in its own bucket.
    */
  private val writePath = Set(
    "q45_csv_roundtrip", "q55_json_roundtrip", "q56_orc_roundtrip",
    "q57_bucketed_join", "q58_sorted_layout", "q63_text_roundtrip",
    "q70_zorder_layout", "q72_compact", "q73_schema_evolution",
    "q74_partitioned_layout", "q75_dpp_join", "q78_partitioned_bucketed",
    "q80_compact_partitioned", "dedup_simhash_bucketed_probe",
    // round 10: bucketed-table writes (band index; churn + compaction)
    // and the two new streaming-fold runs re-pay staging/state writes
    // per invocation, like their round-8/9 siblings
    "dedup_minhash_bucketed_probe", "dedup_simhash_index_compact",
    "streaming_fold_resume_parity", "pipeline_ingest_fold",
    "streaming_ingest_resume_parity",
    // round 11: the delta-publish fold rewrites staging, state, and a
    // compaction per invocation; the partitioned band index rewrites
    // its partitioned+bucketed table per invocation; the evolved
    // merge rewrites its stored legacy index per invocation
    "streaming_fold_delta_parity", "dedup_minhash_partitioned_probe",
    "dedup_simhash_evolved_merge", "dedup_simhash_delta_probe",
    // round 12: the stored-stats delta probe and the minhash delta
    // probe rewrite a bucketed table + stage/state dirs and run a
    // 2-leg stream per invocation; the merge-fold parity re-runs its
    // stream + compaction per invocation
    "dedup_simhash_delta_stats_probe", "dedup_minhash_delta_probe",
    "streaming_merge_fold_parity", "eval_auc_merge_fold",
    "dedup_spans_delta_probe", "ann_ivf_delta_probe",
    // round 13: the minhash stats-store probe runs a 2-store 2-leg
    // stream + bucketed table write per invocation; the retrain and
    // re-shard cutovers rebuild BOTH index generations + a 2-leg stream
    "dedup_minhash_delta_stats_probe", "ann_ivf_retrain_cutover",
    "dedup_minhash_reshard_cutover",
    "streaming_dedup_parity", "streaming_index_delete_parity",
    "streaming_interval_parity",
    "streaming_ivf_ingest_parity", "streaming_minhash_ingest_parity",
    "streaming_quality_parity", "streaming_sessions_parity",
    "streaming_simhash_ingest_parity", "streaming_static_join_parity",
    "streaming_tumbling_parity")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional arg (local iteration only; the driver passes none):
    // comma-separated query names to bench just that subset
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(',').toSet) else None
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive TIMESTAMP(MICROS) must read as session-tz TIMESTAMP (not
      // NTZ) so event-time ops and epoch casts keep rounds-1-5 semantics
      // and scan-level pushdown (Tables normalizes as a fallback)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time JVM/classloading/scan-setup cost so per-query
    // numbers measure the queries. Whole-stage codegen compiles per
    // PLAN SHAPE, so warming one query does not absorb another's
    // compile (measured: warming dedup_minhash left dedup_clusters
    // unchanged) — every query is timed cold-plan, uniformly.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    // cold = fresh plan (includes per-plan codegen compile, the number
    // comparable to BASELINE.md); warm = second run of the same query
    // (plan/codegen caches hot — what a resident cluster would see).
    // Read-path warm is the stable round-over-round basis; write-path
    // warm re-pays table rewrites / streaming runs (see writePath).
    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }
    // Materialize through the noop sink, NOT count(): under
    // df.count() Catalyst prunes every column and then ELIMINATES
    // whole subtrees whose output is unreferenced — a final left join
    // against a unique (grouped) key drops entirely, and with it the
    // plan above it. Rounds 1-5 timed count(), which reduced
    // dedup_minhash/dedup_simhash (and window-final queries like
    // q26/q66) to bare scan counts (tools/PlanAudit detects this; the
    // round-6 disclosure is in SURVEY.md). The noop writer consumes
    // every output row with all columns live, so the timed number is
    // the work a real consumer pays, at zero sink cost.
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Host-factor calibration probe (round-7 verdict task 1): a FIXED
    // synthetic workload — seeded range → hash-keyed two-level
    // aggregate, zero IO, constant size — timed at suite start and
    // end. Same-code bench series on this host have differed by up to
    // 1.44× from machine state alone (BASELINE.md r07 disclosure), so
    // every pin now carries its own meter reading: cross-series
    // totals are compared as total/calib (the probe is CPU+shuffle
    // shaped like the suite's hot path), and a calib_pre/calib_post
    // gap flags state drift WITHIN a series. Median of 3 runs so one
    // GC pause can't poison the estimate. One DISCARDED run precedes
    // the timed three (round-9, the r08 advice): the probe's own
    // plan-shape codegen/JIT otherwise lands in calib_pre's median
    // only (the suite warmup above warms q01's shape, not this one),
    // biasing pre high vs post — which reads as within-series state
    // drift. The discard is symmetric in both calls so pre and post
    // measure the same steady state.
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
    // see
    // the same clean deterministic session (round 4 measured what
    // happens without this: read-family "warm" slower than cold).
    def hygiene(): Unit = Hygiene.clearAll(spark, blocking = true, gc = true)
    val calibPre = calibrate()
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .map { case (name, fn) =>
        val (cold, coldErr) = attempt(exec(fn(spark, sfDir)))
        hygiene()
        val (warm, warmErr) = attempt(exec(fn(spark, sfDir)))
        hygiene()
        ((name, cold, warm), coldErr.orElse(warmErr))
      }
    val results = runs.map(_._1)
    val failed = runs.collect { case ((name, _, _), Some(err)) => name -> err }
    val status = runs.map { case ((name, _, _), err) =>
      "\"" + name + "\":" + Verify.jsonString(err.getOrElse("ok")) }.mkString("{", ",", "}")
    def json(sel: ((String, Double, Double)) => (String, Double)): String =
      results.map(sel).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalWarm = results.map(_._3).sum
    val (w, r) = results.partition(x => writePath.contains(x._1))
    val fam = s""""families":{"read":{"n":${r.size},"cold":${r.map(_._2).sum},"warm":${r.map(_._3).sum}},""" +
      s""""write":{"n":${w.size},"cold":${w.map(_._2).sum},"warm":${w.map(_._3).sum}}}"""
    // Subset runs (local iteration) are tagged so their partial totals
    // can never be mistaken for a full-suite artifact, and they do NOT
    // overwrite BENCH_LOCAL.json — only the driver-shape full run pins
    // the file a later reader would quote.
    // tag with the count of queries actually benched (a misspelled
    // name silently drops out of the filter — the requested-name count
    // would overstate the run)
    val subsetTag = only.map(_ => s""""subset":${results.size},""").getOrElse("")
    val calibPost = calibrate()
    // calib-NORMALIZED per-query values (round-13, the round-12
    // verdict's item 7): the host's speed factor has ranged 1.2–6.1
    // across sessions, so raw cross-round per-query comparison needs
    // the meter reading applied — recording cold/calib (and warm)
    // directly in the artifact makes the cross-round basis computable
    // from ONE file with no convention to remember. calib = mean of
    // the pre/post probes (each already a median-of-3 after a
    // discarded warmup)
    val calibMid = (calibPre + calibPost) / 2.0
    def norm(v: Double): Double = math.rint(v / calibMid * 10000) / 10000
    val calib = s""""calib_pre":$calibPre,"calib_post":$calibPost,"calib":$calibMid"""
    // Artifact-robustness split (round 14, the round-13 verdict's item
    // 2: the r12→r13 comparison was LOST because the stdout line got
    // front-truncated in the driver's tail capture, and r13's norm-map
    // additions doubled the line). The stdout line keeps every
    // driver-contract field (metric/value/unit/queries/sf plus the
    // r6-era warm/families/calib fields) but rounds per-query seconds
    // to 4 decimals (0.1 ms — far below host noise) and moves the two
    // calib-NORMALIZED maps to the FILE artifact only, roughly halving
    // the line. BENCH_LOCAL.json is the authoritative full-precision
    // copy: all four maps, unrounded.
    def r4(v: Double): Double = math.rint(v * 10000) / 10000
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$subsetTag"queries":${json(x => (x._1, r4(x._2)))},"total_warm":$totalWarm,"queries_warm":${json(x => (x._1, r4(x._3)))},$fam,$calib,"sf":"$sfDir"}"""
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec",$subsetTag"queries":${json(x => (x._1, x._2))},"total_warm":$totalWarm,"queries_warm":${json(x => (x._1, x._3))},"queries_norm":${json(x => (x._1, norm(x._2)))},"queries_warm_norm":${json(x => (x._1, norm(x._3)))},"status":$status,$fam,$calib,"sf":"$sfDir"}"""
    println(line)
    // belt-and-suspenders: the authoritative copy as a file, in case a
    // harness parses logs that interleave, prefix, or truncate stdout
    if (only.isEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), fileLine)
      catch { case _: Throwable => }
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
