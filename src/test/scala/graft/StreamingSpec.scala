package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Streaming twin of the batch window query, driven synchronously over
  * the same parquet (guide: memory sink + processAllAvailable).
  * Asserts streaming ≡ batch on total event counts.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  test("streaming tumbling counts equal batch tumbling counts") {
    val batchDf = graft.io.Tables.events(spark, d)
    // FileStreamSource needs a directory, not a single parquet file
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val agg = StreamingOps.tumblingCounts(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("stream_tumbling")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT sum(cnt) FROM stream_tumbling").collect()(0).getLong(0)
      assert(streamed == batchDf.count())
    } finally q.stop()
  }

  test("streaming session windows equal batch session windows") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_session"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT count(*), sum(n_events) FROM stream_sessions").collect()(0)
      val batch = Queries.queryMap("q16_session_window")(spark, d)
      assert(streamed.getLong(0) == batch.count())
      assert(streamed.getLong(1) == graft.io.Tables.events(spark, d).count())
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches batch sessions (closed set)") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_fsess"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val sessions = StreamingOps.statefulSessions(spark, stream)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("fsess").start()
    try {
      q.processAllAvailable()
      val emitted = spark.sql("SELECT user_id, session_start, n_events FROM fsess")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the micro-batch closes every session except each user's
      // trailing one; the watermark's no-data batch then fires
      // event-time timeouts for trailing sessions older than
      // watermark-gap. So: every emitted session is EXACTLY a batch
      // session, and every non-trailing batch session is emitted —
      // only trailing sessions near the stream's end may stay open.
      val batch = Queries.queryMap("q16_session_window")(spark, d)
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val batchSet = batch.toSet
      val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val closedInBatch = batch.filterNot { case (u, st, _) => lastPerUser(u) == st }.toSet
      assert(emitted.subsetOf(batchSet),
        s"emitted a session not in batch output: ${(emitted -- batchSet).take(3)}")
      assert(closedInBatch.subsetOf(emitted),
        s"missed closed sessions: ${(closedInBatch -- emitted).take(3)}")
      assert(emitted.nonEmpty)
    } finally q.stop()
  }

  test("stream-static join enriches every batch row (state-less)") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_static"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val batch = graft.io.Tables.events(spark, d)
    val dim = batch.select(col("event_type")).distinct()
      .withColumn("tier", when(length(col("event_type")) >= 6, "long")
        .otherwise("short"))
    val joined = StreamingOps.staticEnrich(stream, dim, "event_type")
      .groupBy(col("tier")).agg(count(lit(1)).as("cnt"))
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName("stream_static_test").start()
    try {
      q.processAllAvailable()
      // inner join against a total dim: every event lands in a tier
      val got = spark.sql("SELECT sum(cnt) FROM stream_static_test")
        .collect()(0).getLong(0)
      assert(got == batch.count())
      // and the per-tier split matches the batch join exactly
      val streamed = spark.table("stream_static_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val expect = batch.join(dim, "event_type").groupBy("tier").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamed == expect)
    } finally q.stop()
  }

  test("streaming dedup emits each duplicated event exactly once") {
    import org.apache.spark.sql.functions._
    // the same file delivered twice = every event is a duplicate
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_dup"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), dir.resolve("b.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val deduped = StreamingOps.streamingDedup(stream)
      .select(col("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*), count(DISTINCT event_id) FROM sdedup").collect()(0)
      val expected = graft.io.Tables.events(spark, d).count()
      assert(n.getLong(0) == expected, s"emitted ${n.getLong(0)} rows, expected $expected")
      assert(n.getLong(1) == expected)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_ssj"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val joined = StreamingOps.clickPurchaseJoin(spark,
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT click_id, purchase_ts_s FROM ssj")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin over the same data
      val e = graft.io.Tables.events(spark, d)
      val bc = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val bp = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val batch = bc.join(bp,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") > col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
        .select(col("click_id"), col("purchase_ts").cast("long").as("purchase_ts_s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessions survive cross-batch late events (monotonic merge)") {
    import org.apache.spark.sql.functions._
    // two micro-batches with the NEWER half delivered first, so batch 2
    // is entirely late data — regression for the backward-lastUs bug
    // (late events used to move last-seen backward and split sessions)
    val src = graft.io.Tables.events(spark, d)
    val cut = src.agg(expr("percentile(cast(ts as long), 0.5)")).collect()(0).getDouble(0).toLong
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_late"))
    val newer = src.filter(col("ts").cast("long") >= cut)
    val older = src.filter(col("ts").cast("long") < cut)
    newer.coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by them
    older.coalesce(1).write.mode("append").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val sessions = StreamingOps.statefulSessions(spark, stream)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("late_sess").start()
    try {
      q.processAllAvailable()
      val emitted = spark.sql("SELECT user_id, session_start, n_events FROM late_sess")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // late data makes exact batch parity impossible (documented);
      // the invariants that must still hold: sessions are well-formed,
      // counts positive, and no user double-counts beyond its events
      assert(emitted.nonEmpty)
      assert(emitted.forall(_._3 >= 1))
      val perUserEmitted = emitted.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val perUserTotal = src.groupBy(col("user_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      perUserEmitted.foreach { case (u, n) =>
        assert(n <= perUserTotal(u), s"user $u emitted $n > ${perUserTotal(u)} events")
      }
    } finally q.stop()
  }

  test("statefulUserCounts evicts idle users once the watermark passes the timeout") {
    import spark.implicits._
    // three single-file micro-batches (mtime-ordered): user 1 active,
    // then user 2 far ahead (advances the watermark past user 1's idle
    // horizon -> eviction), then user 1 returns
    val dir = TestSpark.tmpDir("events_evict")
    val base = 1700000000L
    def write(rows: (Long, Long)*): Unit = {
      rows.toSeq.toDF("user_id", "sec")
        .select($"user_id", $"sec".cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by them
    }
    write((1L, base), (1L, base + 60))
    write((2L, base + 3 * 3600))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val counts = StreamingOps.statefulUserCounts(
      spark, stream, idleTimeoutSec = 3600, watermark = "10 minutes")
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("evict_counts").start()
    try {
      // drain files 1-2: user 2's event advances the watermark past
      // user 1's idle horizon, and the trailing no-data batch fires the
      // event-time timeout (snapshot + evict) BEFORE user 1 returns
      q.processAllAvailable()
      write((1L, base + 4 * 3600))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_events FROM evict_counts").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.contains((1L, 2L)), "running count before eviction")
      // the count restarts at 1 after the return — proof the state
      // record was REMOVED at timeout, not retained forever
      assert(rows.contains((1L, 1L)), s"expected fresh post-eviction count in ${rows.toSeq}")
      assert(!rows.exists { case (u, n) => u == 1L && n == 3L },
        "state survived the idle timeout")
    } finally q.stop()
  }

  test("stateful mapGroupsWithState tracks per-user counts") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("events_state"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val counts = StreamingOps.statefulUserCounts(spark, stream)
    val q = counts.writeStream
      .outputMode("update")
      .format("memory").queryName("stateful_counts")
      .start()
    try {
      q.processAllAvailable()
      // update mode can emit a user twice (running count + eviction
      // snapshot, same value) — compare per-user maxima, not raw rows
      val total = spark.sql(
        """SELECT sum(m) FROM (SELECT user_id, max(n_events) AS m
           FROM stateful_counts GROUP BY user_id)""").collect()(0).getLong(0)
      assert(total == graft.io.Tables.events(spark, d).count())
      val perUser = spark.sql("SELECT count(DISTINCT user_id) FROM stateful_counts")
        .collect()(0).getLong(0)
      val users = graft.io.Tables.events(spark, d)
        .select(org.apache.spark.sql.functions.countDistinct("user_id"))
        .collect()(0).getLong(0)
      assert(perUser == users)
    } finally q.stop()
  }

  test("stagedLegs writes one file per slice and launches no schema job") {
    // the stream schema comes from the first file's footer, so the only
    // jobs are the slice writes; legs see a fresh stream, resume after
    // the first
    import spark.implicits._
    val root = TestSpark.tmpDir("staged_legs")
    val stage = s"$root/feed"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Boolean)]
    val (last, jobs) = org.apache.spark.TestBus.jobsDuring(spark.sparkContext) {
      QHelp.stagedLegs(spark, stage, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
          Seq((3L, "c")).toDF("id", "v")) { (src, resume) =>
        seen += ((resume, src.isStreaming))
        src.columns.toSeq
      }
    }
    assert(jobs == 2, s"staging two slices launched $jobs jobs")
    assert(seen.toSeq == Seq((false, true), (true, true)))
    assert(last == Seq("id", "v"))
    val files = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 2, files.map(_.getName).mkString(","))
    graft.io.FsOps.rm(spark, root)
  }

  test("stagedLegs under an add-only fold: each resumed leg publishes only its own slice") {
    import spark.implicits._
    import graft.streaming.DeltaState
    import graft.streaming.DeltaState.DeltaFoldSpec
    val root = TestSpark.tmpDir("staged_fold")
    val stateDir = s"$root/state"
    val init = Seq((0L, "z")).toDF("id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val fin = QHelp.stagedLegs(spark, s"$root/feed",
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq((3L, "c")).toDF("id", "v")) {
      (src, resume) => DeltaState.foreachBatchDeltaFold(src, init, stateDir,
        DeltaFoldSpec(add = _.withColumn("v", upper($"v"))), resume)
    }
    assert(DeltaState.committedDeltas(spark, stateDir).sorted == Seq(0L, 1L))
    assert(rows(spark.read.parquet(s"$stateDir/delta/b0/add")) == Seq((1L, "A"), (2L, "B")))
    assert(rows(spark.read.parquet(s"$stateDir/delta/b1/add")) == Seq((3L, "C")))
    assert(rows(fin) == Seq((0L, "z"), (1L, "A"), (2L, "B"), (3L, "C")))
    graft.io.FsOps.rm(spark, root)
  }
}
