package perfbench

import graft.{Hygiene, SparkEntry}
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, sum}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: sets up a session once, then runs
  * one workload in closed-loop passes until the time budget is spent and
  * writes every span and per-pass reading to one JSON file. Metrics are
  * computed from that file by `perfbench/run.py`.
  *
  * {{{
  * perfbench.Main --workload <name> --data <dir> --work <dir> --out <file>
  *   --seconds <s> --cores <n> [--trace]
  *   [--queries q1,q2,...]                          query workloads
  *   [--feed <dir> --legs <n> --per-leg <n>]         state_ingest
  * }}}
  */
object Main {
  final case class Args(m: Map[String, String], flags: Set[String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
    def has(k: String): Boolean = flags(k)
  }

  def parse(args: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { flags += k; i += 1 }
    }
    Args(m.toMap, flags.toSet)
  }

  /** The session settings of graft's `Bench`, with every directory Spark
    * or graft writes to placed under the run's absolute work root (the
    * launcher points `SPARK_LOCAL_DIRS` and `java.io.tmpdir` there too). */
  def newSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench's warm-up: one trivial job and one registry query. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    noop(SparkEntry.queries("q01_pricing_summary")(spark, data))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Host meter in `Bench.calibrate`'s shape (seeded range, hash-keyed
    * aggregate, no IO), smaller: median of three runs. */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = Clock.ms
      noop(spark.range(0, 100000L, 1, 8)
        .selectExpr("id * 2654435761 % 1000003 AS k", "id % 97 AS v")
        .groupBy("k").agg(sum("v"), count("*")))
      (Clock.ms - t0) / 1e3
    }
    val r = Seq(once(), once(), once()).sorted
    Hygiene.clearAll(spark, blocking = true, gc = true)
    r(1)
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a("work")).toAbsolutePath.normalize.toString
    val cores = a.int("cores", Runtime.getRuntime.availableProcessors)
    val trace = a.has("trace")
    val tracer = new Tracer
    val run = tracer.add("run", a("workload"), -1, Clock.jvmStartMs, Double.NaN)

    // one set-up, timed from JVM start: what a one-shot job pays before
    // its first operation (JVM start, class loading, graft's object
    // initialisation, session build, warm-up); a re-set-up in the same
    // JVM would skip most of it
    val spark = newSession(cores, work)
    val ready = Clock.ms
    warmUp(spark, a("data"))
    val warm = Clock.ms
    tracer.add("setup", "setup", run.id, Clock.jvmStartMs, warm)
      .set("start_s" -> (ready - Clock.jvmStartMs) / 1e3, "warmup_s" -> (warm - ready) / 1e3)
    spark.streams.addListener(new TriggerRecorder(tracer))
    val recorder = new Recorder(tracer)
    val calibPre = calibrate(spark)
    val deadline = Clock.ms + a("seconds").toDouble * 1e3
    val minPasses = if (trace) 3 else 2
    // The first pass is cold. Steady passes follow while the next one,
    // estimated by the last, fits the time budget; there is always at
    // least one. When tracing, steady passes alternate untraced and
    // traced so the tracing overhead is measured within the same run.
    def passLoop(pass: (Int, Boolean) => Unit): Unit = {
      var p = 0
      var last = 0.0
      while (p < minPasses || Clock.ms + last <= deadline) {
        val traced = trace && p % 2 == 0
        val t0 = Clock.ms
        if (traced) recorder.attach(spark)
        try pass(p, traced) finally if (traced) { BenchBus.drain(spark.sparkContext); recorder.detach(spark) }
        last = Clock.ms - t0
        p += 1
      }
    }
    val extra: Map[String, Any] = a("workload") match {
      case "state_ingest" =>
        val w = new Ingest(spark, tracer, run, work, a("data"), a("feed"), a("legs").toInt,
          a("per-leg").toInt)
        passLoop((p, traced) => w.pass(p, traced))
        Map("ingest" -> w.summary)
      case _ =>
        val names = a("queries").split(',').toSeq
        val w = new QueryPasses(spark, tracer, run, work, a("data"), names)
        w.writeOracles()
        passLoop((p, traced) => w.pass(p, traced))
        Map.empty
    }
    val calibPost = calibrate(spark)
    BenchBus.drain(spark.sparkContext)
    run.t1 = Clock.ms
    Files.writeString(Paths.get(a("out")), Json(Map("workload" -> a("workload"),
      "cores" -> cores, "traced" -> trace, "calib_pre_s" -> calibPre,
      "calib_post_s" -> calibPost, "spans" -> tracer.records) ++ extra))
    spark.stop()
  }
}

/** Per-pass readings every workload records, whether traced or not. In
  * steady passes the live heap is read after every operation, outside its
  * timer; the pass keeps the peak, and the wall and CPU time the readings
  * took (a full collection each) are taken out of the pass's figures. */
final class PassProbe(tracer: Tracer, run: Span, p: Int, traced: Boolean) {
  private val cpu0 = Clock.cpuS
  private val threads0 = Clock.threadCpuS()
  private val fs0 = FsStats.snap()
  private var heapPeak = 0.0
  private var heapReadS = 0.0
  private var heapReadCpuS = 0.0
  val span: Span = tracer.add("pass", s"pass $p", run.id, Clock.ms, Double.NaN)
    .set("index" -> p, "first" -> (p == 0), "traced" -> traced)

  def liveHeap(): Option[Double] =
    if (p == 0) None
    else {
      val (t0, c0) = (Clock.ms, Clock.cpuS)
      val mb = LiveHeap.afterGcMb()
      heapReadS += (Clock.ms - t0) / 1e3
      heapReadCpuS += Clock.cpuS - c0
      heapPeak = math.max(heapPeak, mb)
      Some(mb)
    }

  def close(): Unit = {
    span.t1 = Clock.ms
    val fs = FsStats.snap() - fs0
    val threads = Clock.threadCpuS()
    val byName = threads.map { case (k, v) => k -> (v - threads0.getOrElse(k, 0.0)) }
      .filter(_._2 > 0)
    val jit = Clock.jitCpuS(threads) - Clock.jitCpuS(threads0)
    span.set("cpu_s" -> (Clock.cpuS - cpu0 - heapReadCpuS - jit), "jit_cpu_s" -> jit,
      "thread_cpu_s" -> byName,
      "heap_read_s" -> heapReadS,
      "heap_peak_mb" -> heapPeak, "fs_bytes_written" -> fs.bytesWritten,
      "fs_bytes_read" -> fs.bytesRead)
  }
}

/** A query workload: each pass runs the given registry queries in order.
  * The first pass writes every result as parquet (what a one-shot job
  * pays, and what the oracle check reads); later passes consume results
  * through the noop sink, as `Bench` does. A query that throws is recorded
  * as failed and the pass goes on. */
final class QueryPasses(spark: SparkSession, tracer: Tracer, run: Span, work: String,
                        data: String, names: Seq[String]) {
  private val fns = SparkEntry.queries
  val outDir = s"$work/out"

  def writeOracles(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(sql))
  }

  def pass(p: Int, traced: Boolean): Unit = {
    val probe = new PassProbe(tracer, run, p, traced)
    val sc = spark.sparkContext
    for (n <- names) {
      val q = tracer.add("query", n, probe.span.id, Clock.ms, Double.NaN)
      var df: DataFrame = null
      try {
        sc.setJobGroup(s"pb-${q.id}-build", n, false)
        df = tracer.timed("build", n, q.id)(_ => fns(n)(spark, data))._1
        sc.setJobGroup(s"pb-${q.id}-execute", n, false)
        tracer.timed("execute", n, q.id) { _ =>
          if (p == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
          else Main.noop(df)
        }
        q.set("ok" -> true)
      } catch {
        case e: Throwable => q.set("ok" -> false, "error" -> e.toString.take(400))
      } finally {
        sc.clearJobGroup()
        q.t1 = Clock.ms
      }
      // read while the result is still referenced, so the blocks it pins
      // always count; once it is unreachable, whether they still count
      // depends on when Spark's context cleaner gets to them
      q.set("live_heap_mb" -> probe.liveHeap())
      java.lang.ref.Reference.reachabilityFence(df)
      tracer.timed("hygiene", n, probe.span.id)(_ =>
        Hygiene.clearAll(spark, blocking = true, gc = true))
    }
    probe.close()
  }
}
