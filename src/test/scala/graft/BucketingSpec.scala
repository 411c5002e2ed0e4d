package graft

import org.scalatest.funsuite.AnyFunSuite

/** Proof of the co-located-join path (SURVEY.md §4 / COVERAGE scale
  * notes): both sides bucketed on the join key → the sort-merge join
  * reads pre-shuffled buckets and the plan contains NO shuffle
  * exchange. At 100 TB this is how repeated fact-fact joins amortize
  * their shuffle to write time.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    try {
      graft.io.Tables.lineitem(spark, d)
        .select($"l_orderkey", $"l_quantity")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      graft.io.Tables.orders(spark, d)
        .select($"o_orderkey", $"o_totalprice")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
      // disable broadcast so the test exercises the SMJ bucket path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join should not shuffle:\n$plan")
        assert(joined.count() == graft.io.Tables.lineitem(spark, d).count())
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("q57b probe reuses the per-JVM bucketed tables and joins exchange-free") {
    val pid = ProcessHandle.current().pid()
    val tag = Queries.pathTag(d)
    val oT = s"graft_b57p_orders_${pid}_$tag"
    val lT = s"graft_b57p_lineitem_${pid}_$tag"
    // the tag is injective hex for short paths, bounded md5 past 32
    // chars — and never collides across distinct short paths
    assert(Queries.pathTag("/x/sf0.1") != Queries.pathTag("/x/sf0_1"))
    assert(Queries.pathTag("a" * 200).length == 32)
    // order-independence: another suite (QueriesSpec's run-everything
    // test) may have built the tables in this shared JVM already —
    // drop them so THIS test's first call exercises the build (the
    // dead-pid sweep of the scratch it leaves is QueriesSpec's
    // "scratch sweep" test)
    spark.sql(s"DROP TABLE IF EXISTS $oT")
    spark.sql(s"DROP TABLE IF EXISTS $lT")
    // warehouse.dir is a file: URI — java.io.File needs the bare path
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/").stripPrefix("file:")
    try {
      // first call builds the external bucketed tables...
      val first = Queries.queryMap("q57b_bucketed_probe")(spark, d)
      val rows1 = first.collect()
      assert(rows1.nonEmpty)
      assert(spark.catalog.tableExists(oT) && spark.catalog.tableExists(lT))
      // ...the second call must REUSE them (build-if-missing contract):
      // drop-and-rebuild would refresh the table creation time
      val created = spark.sql(s"DESCRIBE TABLE EXTENDED $oT")
        .filter("col_name = 'Created Time'").collect()(0).getString(1)
      val second = Queries.queryMap("q57b_bucketed_probe")(spark, d)
      assert(second.collect().map(_.toString).toSeq ==
        rows1.map(_.toString).toSeq)
      val created2 = spark.sql(s"DESCRIBE TABLE EXTENDED $oT")
        .filter("col_name = 'Created Time'").collect()(0).getString(1)
      assert(created == created2, "probe rebuilt a table it should reuse")
      // and the probe plan is the bucket path: the SMJ reads both
      // bucketed scans with NO exchange on the join key (the agg's
      // o_orderpriority exchange and the final range sort are the
      // query's own, not the join's)
      val plan = second.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
        !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"q57b probe shuffled a join input:\n${plan.take(2000)}")
    } finally {
      // external tables: DROP removes only the catalog entry — delete
      // the parquet dirs too so the suite leaves no scratch behind
      spark.sql(s"DROP TABLE IF EXISTS $oT")
      spark.sql(s"DROP TABLE IF EXISTS $lT")
      graft.io.FsOps.rm(spark, s"$wh/graft_tmp/q57b_orders_${tag}_$pid")
      graft.io.FsOps.rm(spark, s"$wh/graft_tmp/q57b_lineitem_${tag}_$pid")
    }
  }

  test("partitioned+bucketed layout prunes partitions AND joins shuffle-free") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS fact_pb")
    spark.sql("DROP TABLE IF EXISTS dim_b")
    try {
      // fact: 4 partitions x 4 buckets; other side bucketed the same
      (0L until 2000L).map(i => (i, s"p${i % 4}", i % 7))
        .toDF("k", "part", "v")
        .write.partitionBy("part").bucketBy(4, "k").sortBy("k")
        .mode("overwrite").saveAsTable("fact_pb")
      (0L until 2000L).map(i => (i, i * 2)).toDF("k2", "w")
        .write.bucketBy(4, "k2").sortBy("k2")
        .mode("overwrite").saveAsTable("dim_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.table("fact_pb").filter($"part" === "p1")
          .join(spark.table("dim_b"), $"k" === $"k2")
          .groupBy($"part").agg(count(lit(1)).as("n"))
        val rows = q.collect() // finalize the adaptive plan (and keep the result)
        // AQE's toString appends an "== Initial Plan ==" section that
        // repeats the tree; assert on the final plan only, or the
        // join-subtree substring crosses into the repeated copy
        val full = q.queryExecution.executedPlan.toString
        val cut = full.indexOf("== Initial Plan ==")
        val plan = if (cut >= 0) full.substring(0, cut) else full
        // both physical levers visible in ONE executed plan: the month
        // slice pruned at the scan, the join exchange-free off buckets
        // (the aggregate above the join legitimately shuffles — scope
        // the no-Exchange assert to the join subtree, q57's pattern)
        assert(plan.contains("PartitionFilters: [isnotnull(part"),
          s"expected partition pruning in the fact scan:\n$plan")
        val joinIdx = plan.indexOf("SortMergeJoin")
        assert(joinIdx >= 0, s"expected a SortMergeJoin:\n$plan")
        assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"),
          s"partitioned+bucketed join should not shuffle its inputs:\n$plan")
        assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
          Seq(("p1", 500L)))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fact_pb")
      spark.sql("DROP TABLE IF EXISTS dim_b")
    }
  }
}
