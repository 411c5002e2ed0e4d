package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for every registered query on sf0.001.
  * Exact-value correctness is gated by the driver's DuckDB oracle
  * (tools/check_oracle.py locally); these tests pin structural facts
  * that must hold regardless of scale factor.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  test("every registered query runs and returns rows on sf0.001") {
    def catalog = spark.catalog.listTables().collect().map(t => t.name -> t.isTemporary).toSet
    Queries.all.foreach { q =>
      val before = catalog
      val n = q.fn(spark, d).count()
      assert(n > 0, s"${q.name} returned 0 rows")
      // q57b keeps its two bucketed tables for the life of the JVM
      val added = (catalog -- before).filterNot { case (t, _) =>
        q.name == "q57b_bucketed_probe" && t.startsWith("graft_b57p_") }
      assert(added.isEmpty && (before -- catalog).isEmpty,
        s"${q.name} left the catalog changed: +$added −${before -- catalog}")
    }
  }

  test("every oracled query name exists in the query map") {
    Queries.oracleMap.keySet.foreach { k =>
      assert(Queries.queryMap.contains(k), s"oracle for unknown query $k")
    }
  }

  test("scratch dirs are absolute and never under the working directory") {
    val dir = new org.apache.hadoop.fs.Path(QHelp.tmpDir(spark, "probe"))
    assert(dir.isAbsolute && dir.toUri.getPath.startsWith("/"), dir.toString)
    val cwd = new java.io.File(System.getProperty("user.dir")).getAbsolutePath
    assert(!dir.toUri.getPath.startsWith(cwd), s"$dir is under $cwd")
  }

  test("the scratch sweep removes a dead pid's dirs and keeps a live pid's") {
    val dead = { val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid() }
    val live = ProcessHandle.current().pid()
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/").stripPrefix("file:")
    def dirs(suffix: String) = Seq(s"$wh/graft_tmp/sweep_probe_$suffix",
      s"$wh/graft_tmp/sweep_probe_${suffix}_ckpt", s"$wh/graft_sweep_probe_$suffix")
    val kept = dirs(live.toString) ++ dirs("3f2a-uuid")
    (dirs(dead.toString) ++ kept).foreach(new java.io.File(_).mkdirs())
    try {
      Session.sweepDeadScratch(spark)
      assert(dirs(dead.toString).forall(!new java.io.File(_).exists()), "dead-pid scratch kept")
      assert(kept.forall(new java.io.File(_).exists()), "live or unsuffixed scratch swept")
    } finally kept.foreach(graft.io.FsOps.rm(spark, _))
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Bench records a throwing query's exception as its status, not a fast success") {
    assert(Bench.attempt(())._2.isEmpty)
    val (_, err) = Bench.attempt(throw new IllegalStateException("boom \"q\""))
    assert(err.contains("java.lang.IllegalStateException: boom \"q\""))
    assert(Verify.jsonString(err.get) ==
      "\"java.lang.IllegalStateException: boom \\\"q\\\"\"")
  }

  test("Bench's warm-up throws on a missing data dir, naming the dir and the query") {
    val missing = TestSpark.tmpDir("bench_warm") + "/no_sf"
    val err = intercept[IllegalStateException](Bench.warmUp(spark, missing))
    assert(err.getMessage.contains(missing), err.getMessage)
    assert(err.getMessage.contains("q01_pricing_summary"), err.getMessage)
  }

  test("Verify.dump writes every good query and returns each throwing one") {
    val out = TestSpark.tmpDir("verify_dump")
    val registry: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "good" -> Queries.queryMap("q01_pricing_summary"),
      "bad" -> ((_, _) => throw new IllegalStateException("no such table")))
    val failed = Verify.dump(spark, registry, d, out)
    assert(failed == Seq("bad" -> "java.lang.IllegalStateException: no such table"))
    assert(spark.read.parquet(s"$out/good").count() == 6)
    assert(!new java.io.File(s"$out/bad").exists())
  }

  test("Bench's write family is the queries that rewrite tables or re-run streams") {
    val (w, r) = Queries.all.partition(_.writes)
    assert((r.size, w.size) == (183, 42))
    assert(Queries.all.map(_.name).distinct.size == Queries.all.size)
  }

  test("q01 pricing summary has the 6 (flag,status) groups") {
    val rows = Queries.queryMap("q01_pricing_summary")(spark, d).collect()
    assert(rows.length == 6)
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == 6)
  }

  test("typed mapred wordcount agrees with DataFrame wordcount") {
    val a = Queries.queryMap("q02_wordcount")(spark, d).collect().map(r => (r.getString(0), r.getLong(1)))
    val b = Queries.queryMap("mapred_wordcount")(spark, d).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("topk query never exceeds k rows per key") {
    val df = Queries.queryMap("q04_topk_per_group")(spark, d)
    val over = df.groupBy("o_custkey").count().filter(org.apache.spark.sql.functions.col("count") > 3)
    assert(over.count() == 0)
  }

  test("sliding windows hold exactly 4x the events") {
    import org.apache.spark.sql.functions._
    val total = Queries.queryMap("q15_window_sliding")(spark, d)
      .agg(sum("cnt")).collect()(0).getLong(0)
    val events = graft.io.Tables.events(spark, d).count()
    assert(total == 4 * events)
  }

  test("approx sketches stay near their exact counterparts") {
    // the engine-native HLL convenience (graded contract: q82's KMV);
    // retired from the query surface in round 6, still unit-proven here
    import org.apache.spark.sql.functions._
    val approx = graft.ops.LibOps.approxCountDistinctByKey(
        graft.io.Tables.events(spark, d), Seq("event_type"), "user_id")
      .orderBy(col("event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.io.Tables.events(spark, d)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n) <= math.max(2L, (n * 0.1).toLong),
        s"HLL estimate $a too far from exact $n for $k")
    }
    // the approx-percentile convenience the old q32 also carried (its
    // graded counterparts are q81/q83's histogram quantiles): sketch
    // median within 10% of the exact percentile
    val ev = graft.io.Tables.events(spark, d)
    val row = ev.agg(
      percentile_approx(col("value"), lit(0.5), lit(1000)).as("a"),
      percentile(col("value"), lit(0.5)).as("e")).collect()(0)
    val (a, e) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(a - e) <= math.abs(e) * 0.1 + 1e-9,
      s"approx median $a too far from exact $e")
  }

  test("hash split is exhaustive, deterministic, and roughly 80/10/10") {
    val rows = Queries.queryMap("q47_hash_split")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = graft.io.Tables.documents(spark, d).count()
    assert(rows.values.sum == total)        // every doc in exactly one split
    assert(rows("train") > rows("valid") && rows("train") > rows("test"))
  }

  test("session windows partition all events") {
    import org.apache.spark.sql.functions._
    val total = Queries.queryMap("q16_session_window")(spark, d)
      .agg(sum("n_events")).collect()(0).getLong(0)
    val events = graft.io.Tables.events(spark, d).count()
    assert(total == events)
  }

  test("deltaIndex drops every table it wrote, gen-2 too, when the probe throws") {
    import org.apache.spark.sql.functions.col
    val all = graft.io.Tables.documents(spark, d)
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables
    var written = Set.empty[String]
    val err = intercept[IllegalStateException] {
      QHelp.deltaIndex(spark, "qh_throw", all, all.filter(col("doc_id") % 10 =!= 0),
          graft.streaming.FoldLaw.minhashBands("text", "doc_id"), "text",
          Seq("band_idx", "band_hash")) { ix =>
        ix.gen2(ix.resolved("doc_id", "band_idx", "band_hash"), 16)
        written = tables -- before
        throw new IllegalStateException("probe failed")
      }
    }
    assert(err.getMessage == "probe failed")
    assert(written.size == 2, written)
    assert((tables & written).isEmpty, tables & written)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(written.forall(t => !new java.io.File(s"$wh/$t").exists()))
    // the same for any scope body: a table and a sink view, then a throw
    val feed = TestSpark.tmpDir("scope_feed")
    all.select("doc_id").limit(5).write.mode("overwrite").parquet(feed)
    var opened = Set.empty[String]
    val err2 = intercept[IllegalStateException] {
      QHelp.scratch(spark) { sc =>
        graft.io.Bucketing.write(all.select("doc_id"), sc.table("qh_scope_throw"), 2, Seq("doc_id"))
        sc.sink(spark.readStream.schema(spark.read.parquet(feed).schema).parquet(feed))
        opened = tables -- before
        throw new IllegalStateException("body failed")
      }
    }
    assert(err2.getMessage == "body failed")
    assert(opened.size == 2, opened)
    assert((tables & opened).isEmpty, tables & opened)
  }

  test("DeltaIndex.resolved is base minus tombstones union adds, with and without tombstones") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").withColumn("x", lit(0))
    val adds = Seq((2L, "b2"), (4L, "d")).toDF("id", "v").withColumn("x", lit(1))
    val tombs = Seq(2L, 3L).toDF("id")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def resolved(t: Option[DataFrame]) = rows(new QHelp.DeltaIndex(base, adds, t, None, "id",
      (_, _) => fail("no gen-2")).resolved("id", "v"))
    assert(resolved(None) ==
      rows(base.select("id", "v").union(adds.select("id", "v"))))
    assert(resolved(Some(tombs)) == rows(base.join(tombs, Seq("id"), "left_anti")
      .select("id", "v").union(adds.select("id", "v"))))
    assert(resolved(Some(tombs)) == Seq("[1,a]", "[2,b2]", "[4,d]"))
  }
}
