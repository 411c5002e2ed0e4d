package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops._
import graft.QHelp._

/** Storage-layout / IO family: formats, bucketing, Z-order, compaction,
  * partitioned writes, merge/CDC, quantiles, outlier gates. */
private[graft] object QueriesLayout {


  /** q45 — CSV sink + source round-trip (S1/S5 text formats for real):
    * nation written to CSV with header, read back with an explicit
    * schema, joined and aggregated — proves the text codec path is
    * lossless. The oracle reads the original parquet.
    */
  private val q45 = Q(
    "q45_csv_roundtrip",
    (s, d) => {
      import s.implicits._
      val n = nat(s, d)
      val tmp = tmpDir(s, "q45_csv")
      n.write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").schema(n.schema).csv(tmp)
        .join(broadcast(reg(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_nations"),
             concat_ws(",", sort_array(collect_list($"n_name"))).as("nations"))
        .orderBy($"r_name")
    },
    Some("""
      SELECT r_name, count(*) AS n_nations,
             string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""),
    writes = true)


  /** q55 — JSON-lines sink + source round-trip (S5's remaining text
    * format): supplier written as JSON lines, read back with an
    * explicit schema (doubles survive via shortest-round-trip
    * encoding), then the q31 aggregation — proves the JSON codec path
    * is lossless. The oracle reads the original parquet.
    */
  private val q55 = Q(
    "q55_json_roundtrip",
    (s, d) => {
      import s.implicits._
      val sup = Tables.supplier(s, d)
      val tmp = tmpDir(s, "q55_json")
      sup.write.mode("overwrite").json(tmp)
      s.read.schema(sup.schema).json(tmp)
        .join(broadcast(nat(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"), round(sum($"s_acctbal"), 2).as("sum_bal"))
        .orderBy($"n_name")
    },
    Some("""
      SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS sum_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""),
    writes = true)


  /** q56 — ORC sink + source round-trip (S5's other columnar format):
    * customer written as zlib-compressed ORC, read back with an
    * explicit schema, aggregated per market segment. The oracle reads
    * the original parquet — lossless-codec proof, same contract as
    * q45/q55.
    */
  private val q56 = Q(
    "q56_orc_roundtrip",
    (s, d) => {
      import s.implicits._
      val c = cust(s, d)
      val tmp = tmpDir(s, "q56_orc")
      c.write.mode("overwrite").option("compression", "zlib").orc(tmp)
      s.read.schema(c.schema).orc(tmp)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
             round(sum($"c_acctbal"), 2).as("sum_bal"))
        .orderBy($"c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_customers,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    writes = true)


  /** q57 — bucketed co-located fact-fact join: orders and lineitem
    * each written ONCE as bucketed tables (16 buckets on the join
    * key), then sort-merge-joined with ZERO shuffle exchanges — the
    * scan's hash layout already satisfies the join's required
    * distribution. At 100 TB this converts every subsequent
    * orders⋈lineitem run from two full-table shuffles into a pure
    * scan-side merge; the one-time bucketed write is the amortized
    * cost. The `merge` hint keeps the plan the scale plan (small-SF
    * Catalyst would broadcast orders, hiding the bucket path the query
    * exists to exercise); OpsSpec asserts the no-Exchange property.
    */
  // one aggregate contract for the build-and-probe (q57) and
  // probe-only (q57b) variants — shared so the two cannot drift
  private val q57OracleSql = """
      SELECT o_orderpriority, count(*) AS n_items,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""


  private val q57 = Q(
    "q57_bucketed_join",
    (s, d) => {
      import s.implicits._
      import graft.io.Bucketing
      scratch(s) { sc =>
        val o = Bucketing.write(ord(s, d).select($"o_orderkey", $"o_orderpriority"),
          sc.table("b_orders"), 16, Seq("o_orderkey"))
        val l = Bucketing.write(
          li(s, d).select($"l_orderkey", $"l_extendedprice", $"l_discount"),
          sc.table("b_lineitem"), 16, Seq("l_orderkey"))
        o.hint("merge")
          .join(l, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
               round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
                 .as("revenue"))
      }.orderBy($"o_orderpriority")
    },
    Some(q57OracleSql),
    writes = true)


  /** q57b — the bucketed join's PROBE side, measured alone: q57's
    * warm number re-pays two bucketed table writes every run (write
    * family by design), so the cost the layout exists to amortize —
    * the exchange-free sort-merge join — never appears as its own
    * number. Here the bucketed tables build ONCE per JVM (rebuild-or-
    * reuse by catalog existence; the catalog name and the file path
    * both carry the pid — catalogs are per-JVM, and the pid-keyed path
    * is the graft_tmp convention that makes concurrent JVMs unable to
    * overwrite each other's files mid-read; like every other graft_tmp
    * scratch write (q58/q70/q72), the cost is per-JVM dirs that stay
    * until `Session.local` sweeps dead pids' scratch in a later JVM)
    * and every subsequent run is the pure probe:
    * bucket-layout scans feeding an SMJ with zero shuffle exchanges.
    * Cold therefore includes the one-time build — the amortization
    * story stated honestly — and warm IS the join. At 100 TB this is
    * the number a resident cluster sees on every orders⋈lineitem after
    * the layout lands. Same aggregate contract as q57 (the shared
    * `q57OracleSql` serves both — structurally one oracle, it cannot
    * drift); BucketingSpec asserts the reuse (second call leaves the
    * catalog untouched) and the no-Exchange plan.
    */
  private val q57b = Q(
    "q57b_bucketed_probe",
    (s, d) => {
      import s.implicits._
      import graft.io.Bucketing
      val pid = ProcessHandle.current().pid()
      // hex of the path bytes — INJECTIVE (lossy sanitization like
      // replaceAll can alias '/x/sf0.1' with '/x/sf0_1'), so two
      // datasets can never share a table or path, and the identifier
      // stays valid for any input
      val tag = QHelp.pathTag(d)
      val oT = s"graft_b57p_orders_${pid}_$tag"
      val lT = s"graft_b57p_lineitem_${pid}_$tag"
      if (!s.catalog.tableExists(oT) || !s.catalog.tableExists(lT)) {
        Bucketing.write(ord(s, d).select($"o_orderkey", $"o_orderpriority"),
          oT, 16, Seq("o_orderkey"), path = Some(tmpDir(s, s"q57b_orders_$tag")))
        Bucketing.write(
          li(s, d).select($"l_orderkey", $"l_extendedprice", $"l_discount"),
          lT, 16, Seq("l_orderkey"), path = Some(tmpDir(s, s"q57b_lineitem_$tag")))
      }
      s.table(oT).hint("merge")
        .join(s.table(lT), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
             round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
               .as("revenue"))
        .orderBy($"o_orderpriority")
    },
    Some(q57OracleSql))


  /** q58 — range-clustered sorted layout + selective read-back:
    * lineitem rewritten `repartitionByRange(l_orderkey) +
    * sortWithinPartitions`, then a narrow key-range query over the new
    * layout. Sorting makes every row group's min/max stats tight and
    * file ranges disjoint, so the pushed-down BETWEEN skips all but
    * the overlapping groups — the scan reads O(matching), not
    * O(table). OpsSpec proves the skipping property from the parquet
    * footers (disjoint ranges, ≤2 of 8 groups overlap a 10% range);
    * the oracle proves the layout is lossless. The range gets MORE
    * selective as the table grows (fixed keys, growing keyspace) —
    * exactly the 100 TB shape.
    */
  private val q58 = Q(
    "q58_sorted_layout",
    (s, d) => {
      import s.implicits._
      import graft.io.Layout
      val tmp = tmpDir(s, "q58_layout")
      Layout.writeSorted(
        li(s, d).select($"l_orderkey", $"l_quantity", $"l_extendedprice"),
        tmp, 8, Seq($"l_orderkey"))
      s.read.parquet(tmp)
        .filter($"l_orderkey".between(100, 999))
        .groupBy(($"l_orderkey" % 10).as("key_bucket"))
        .agg(count(lit(1)).as("n"),
             round(sum($"l_quantity"), 2).as("sum_qty"),
             round(sum($"l_extendedprice"), 2).as("sum_price"))
        .orderBy($"key_bucket")
    },
    Some("""
      SELECT l_orderkey % 10 AS key_bucket, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey BETWEEN 100 AND 999
      GROUP BY 1 ORDER BY 1"""),
    writes = true)


  /** q70 — Z-order layout round-trip (Layout.ZOrder): lineitem
    * rewritten clustered on the Morton interleave of (l_partkey,
    * l_suppkey), read back through a 2-dim box predicate, aggregated.
    * The single-key layout (q58) leaves the second column full-width
    * per file; the space-filling curve gives BOTH columns narrow
    * per-file ranges (OpsSpec proves the box-volume shrink from the
    * parquet footers). Oracle = the same box aggregate over the
    * original table — the rewrite must be content-preserving.
    */
  private val q70 = Q(
    "q70_zorder_layout",
    (s, d) => {
      import s.implicits._
      import graft.io.Layout
      val tmp = tmpDir(s, "q70_zorder")
      Layout.ZOrder.writeZOrdered(
        li(s, d).select($"l_partkey", $"l_suppkey", $"l_quantity"),
        tmp, 8, "l_partkey", "l_suppkey")
      s.read.parquet(tmp)
        // box bounds valid at every sf (sf0.001 keys only span 0..199 x 0..9)
        .filter($"l_partkey".between(20, 150) && $"l_suppkey".between(1, 7))
        .groupBy(($"l_partkey" % 10).as("pk_bucket"))
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
        .orderBy($"pk_bucket")
    },
    Some("""
      SELECT l_partkey % 10 AS pk_bucket, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      WHERE l_partkey BETWEEN 20 AND 150 AND l_suppkey BETWEEN 1 AND 7
      GROUP BY 1 ORDER BY 1"""),
    writes = true)


  /** q71 — incremental aggregate maintenance (MergeOps.aggState /
    * mergeAggState): orders split into a historical snapshot
    * (< 1996-01-01) and an arriving batch (≥), each reduced to per-key
    * mergeable state, then MERGED — the shuffle carries state rows,
    * never the snapshot's raw corpus. The oracle aggregates the whole
    * table in one pass: incremental ≡ recompute is the graded claim.
    */
  private val q71 = Q(
    "q71_incremental_agg",
    (s, d) => {
      import s.implicits._
      // sum in DECIMAL: the merged state re-associates the sum
      // (snapshot partial + batch partial) vs the oracle's single
      // pass — a double sum could land a 1-ulp difference on a .005
      // rounding boundary; decimal addition is exact so the
      // incremental ≡ recompute parity is structural, not fixture luck
      val o = ord(s, d)
        .withColumn("o_price", $"o_totalprice".cast("decimal(18,2)"))
      val cut = "1996-01-01"
      val snap = MergeOps.aggState(
        o.filter($"o_orderdate" < cut), Seq("o_orderstatus"), Seq("o_price"))
      val batch = MergeOps.aggState(
        o.filter($"o_orderdate" >= cut), Seq("o_orderstatus"), Seq("o_price"))
      MergeOps.mergeAggState(snap, batch, Seq("o_orderstatus"), Seq("o_price"))
        .select($"o_orderstatus", $"n_rows",
          $"sum_o_price".cast("double").as("sum_price"),
          $"min_o_price".cast("double").as("min_price"),
          $"max_o_price".cast("double").as("max_price"))
        .orderBy($"o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
             CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))


  /** q72 — small-file compaction (Layout.compact): documents
    * fragmented into 64 tiny part files, compacted back into
    * size-targeted files (one round-robin shuffle), then aggregated.
    * Compaction is content-neutral by contract, so the oracle is the
    * plain aggregate over the original table; OpsSpec separately
    * proves the file-count collapse.
    */
  private val q72 = Q(
    "q72_compact",
    (s, d) => {
      import s.implicits._
      import graft.io.Layout
      val frag = tmpDir(s, "q72_frag")
      val compacted = tmpDir(s, "q72_compacted")
      docs(s, d).repartition(64).write.mode("overwrite").parquet(frag)
      Layout.compact(s, frag, compacted, targetBytes = 8L * 1024 * 1024)
      s.read.parquet(compacted)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang ORDER BY lang"""),
    writes = true)


  /** q74 — Hive-partitioned layout + partition-pruned read
    * (Layout.writePartitioned): orders written partitioned by month
    * ONLY (~80 directories at sf0.1), read back through a month range
    * (pruned at planning time via `PartitionFilters` — zero data files
    * opened outside 1996; OpsSpec asserts selected files < total
    * files; PLANS.md shows the non-empty PartitionFilters) plus a
    * status predicate that stays a pushed DATA filter. Round 4
    * partitioned by month×status (~240 dirs) — violating q78's own
    * file-count lesson (partition keys multiply directories; pick the
    * coarsest key real predicates range over). Month is that key:
    * date ranges prune directories; a 3-value status column earns 3×
    * the files for a predicate parquet row-group stats already serve.
    * The oracle proves the layout is lossless: same aggregate over the
    * unpartitioned original. At 100 TB this is THE first-line layout
    * lever — a date-partitioned corpus answers "last month" from a
    * directory listing, not a scan.
    */
  private val q74 = Q(
    "q74_partitioned_layout",
    (s, d) => {
      import s.implicits._
      import graft.io.Layout
      val tmp = tmpDir(s, "q74_part")
      Layout.writePartitioned(
        ord(s, d)
          .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM"))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice",
            $"o_month", $"o_orderstatus"),
        tmp, Seq("o_month"))
      s.read.parquet(tmp)
        .filter($"o_month".between("1996-01", "1996-12") &&
          $"o_orderstatus" === "O")
        .groupBy($"o_month")
        // exact-decimal sum (q59/q71/q78 practice): 2-decimal prices
        // cast exactly, so partial order can't flip a .005 boundary
        .agg(count(lit(1)).as("n_orders"),
             sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
               .as("sum_price"))
        .orderBy($"o_month")
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1996-01' AND '1996-12'
        AND o_orderstatus = 'O'
      GROUP BY 1 ORDER BY 1"""),
    writes = true)


  /** q75 — dynamic partition pruning over the partitioned layout: the
    * fact (orders partitioned by month) carries NO static predicate —
    * the months to read are only knowable through the join against the
    * filtered dim (months of 1997). Catalyst plants the dim's
    * broadcast result as a runtime `dynamicpruningexpression` in the
    * fact scan's PartitionFilters (OpsSpec asserts it), so the fact
    * reads 12 of 80 partitions without the query author writing a date
    * range — the pattern that kills unpruned 100 TB scans static
    * predicates miss (dim-driven date windows, dimension slices).
    */
  private val q75 = Q(
    "q75_dpp_join",
    (s, d) => {
      import s.implicits._
      import graft.io.Layout
      val tmp = tmpDir(s, "q75_part")
      Layout.writePartitioned(
        ord(s, d)
          .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM"))
          .select($"o_orderkey", $"o_totalprice", $"o_orderstatus", $"o_month"),
        tmp, Seq("o_month"))
      val fact = s.read.parquet(tmp)
      // month dim with a year attribute — the filter lives HERE, never
      // on the fact; only the join can transfer it
      val dim = ord(s, d)
        .select(date_format($"o_orderdate", "yyyy-MM").as("m")).distinct()
        .withColumn("m_year", substring($"m", 1, 4))
      fact.join(broadcast(dim.filter($"m_year" === "1997")),
          fact("o_month") === dim("m"))
        .groupBy($"o_month", $"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
             sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
               .as("sum_price"))
        .orderBy($"o_month", $"o_orderstatus")
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_orderstatus,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM orders
      WHERE strftime(o_orderdate, '%Y') = '1997'
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    writes = true)


  /** q78 — the composed production fact layout
    * (`Bucketing.write` with `partitionBy`): orders PARTITIONED by year
    * AND BUCKETED by orderkey, joined to bucketed lineitem through a
    * year predicate. The two physical levers compose in one plan — the
    * partition filter prunes 6 of 7 year directories at planning time,
    * and within the surviving slice the join reads co-bucketed files
    * with ZERO shuffle exchanges (BucketingSpec asserts both
    * properties on one executed plan). At 100 TB this is the canonical
    * fact shape: "this year's orders ⋈ lineitem" reads 1/7 of the
    * table and skips both shuffles. Partition granularity is a FILE
    * COUNT decision, not just a pruning one: partitions × buckets
    * multiplies files (80 months × 16 buckets = 1280 tiny files at
    * bench scale, measured 17 s to write; 7 years × 16 = 112, ~4 s) —
    * pick the coarsest key the pruning predicates actually use. The
    * `merge` hint keeps the scale plan at small sf (Catalyst would
    * broadcast the pruned orders slice, hiding the bucket path the
    * query grades).
    */
  private val q78 = Q(
    "q78_partitioned_bucketed",
    (s, d) => {
      import s.implicits._
      import graft.io.Bucketing
      scratch(s) { sc =>
        val o = Bucketing.write(
          ord(s, d)
            .withColumn("o_year", date_format($"o_orderdate", "yyyy"))
            .select($"o_orderkey", $"o_orderpriority", $"o_year"),
          sc.table("pb_orders"), 16, Seq("o_orderkey"), partitionBy = Seq("o_year"))
        val l = Bucketing.write(
          li(s, d).select($"l_orderkey", $"l_extendedprice", $"l_discount"),
          sc.table("pb_lineitem"), 16, Seq("l_orderkey"))
        o.filter($"o_year" === "1996")
          .hint("merge")
          .join(l, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderpriority")
          // exact-decimal revenue (q59/q71's practice): both inputs are
          // 2-decimal doubles, so the decimal casts are exact and the
          // product/sum never depend on partial-aggregation order —
          // round(sum(double),2) could flip a .005 boundary per engine
          .agg(count(lit(1)).as("n_items"),
               round(sum($"l_extendedprice".cast("decimal(18,2)") *
                   (expr("CAST(1 AS DECIMAL(3,2))") -
                    $"l_discount".cast("decimal(6,4)"))), 2)
                 .cast("double").as("revenue"))
      }.orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_items,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(6,4)))), 2)
                  AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE strftime(o_orderdate, '%Y') = '1996'
      GROUP BY 1 ORDER BY 1"""),
    writes = true)


  /** q76 — snapshot diff (MergeOps.diffSnapshots): the changeset that
    * turns `old` into `next`, extracted from the two snapshots — the
    * inverse of q59's upsert. `next` is a deterministic refresh of
    * orders (keys %7 dropped = deletes; %10 repriced in DECIMAL, the
    * q59-proven engine-portable formulation = updates; negative keys =
    * inserts). Graded output = the full changeset; the oracle replays
    * the same refresh and diffs with two-sided anti-join semantics.
    */
  private val q76 = Q(
    "q76_diff_snapshots",
    (s, d) => {
      import s.implicits._
      val o = ord(s, d).select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val repriced = round($"o_totalprice".cast("decimal(18,2)") *
        expr("CAST(1.1 AS DECIMAL(2,1))"), 2).cast("double")
      val next = o.filter($"o_orderkey" % 7 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 10 === 0, repriced).otherwise($"o_totalprice"))
        .unionByName(o.filter($"o_orderkey" % 13 === 0)
          .withColumn("o_orderkey", -$"o_orderkey" - 1))
      MergeOps.diffSnapshots(o, next, Seq("o_orderkey"))
        .orderBy($"o_orderkey")
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      nxt AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                              * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice
        FROM o WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT -o_orderkey - 1, o_orderstatus, o_totalprice
        FROM o WHERE o_orderkey % 13 = 0),
      ch AS (
        SELECT n.o_orderkey, n.o_orderstatus, n.o_totalprice,
               FALSE AS is_delete
        FROM nxt n LEFT JOIN o ON n.o_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
           OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
           OR n.o_totalprice IS DISTINCT FROM o.o_totalprice),
      del AS (
        SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
               TRUE AS is_delete
        FROM o LEFT JOIN (SELECT DISTINCT o_orderkey FROM nxt) n
          USING (o_orderkey)
        WHERE n.o_orderkey IS NULL)
      SELECT * FROM ch UNION ALL SELECT * FROM del
      ORDER BY o_orderkey"""))


  /** q59 — snapshot merge (MERGE INTO semantics): a deterministic
    * changeset derived from orders itself — updates (repriced, status
    * 'U'), inserts (new negative keys, status 'N'), deletes — applied
    * via MergeOps.upsert (ONE union shuffle + per-key window, no
    * join), then aggregated per status. Update/delete key sets are
    * disjoint by construction so the merge needs no version column.
    *
    * Orders is STAGED ONCE (eager localCheckpoint, the capstone
    * pattern): base + the three changeset branches all derive from the
    * staged frame, so the executed plan has ZERO orders FileScans
    * after the one staging scan — without staging each branch re-reads
    * the parquet (4 scans; at 100 TB that is 4 passes over the fact).
    */
  private val q59 = Q(
    "q59_merge_upsert",
    (s, d) => {
      import s.implicits._
      val o = ord(s, d).localCheckpoint(true)
      val upd = o.filter($"o_orderkey" % 10 === 0 && $"o_orderkey" % 7 =!= 0)
        // reprice in DECIMAL: round(double * 1.1, 2) is engine-
        // dependent (Spark rounds the shortest decimal repr, DuckDB
        // the binary value) — exact decimal ×11/10 is not
        .withColumn("o_totalprice",
          round($"o_totalprice".cast("decimal(18,2)") *
            expr("CAST(1.1 AS DECIMAL(2,1))"), 2).cast("double"))
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("is_delete", lit(false))
      val ins = o.filter($"o_orderkey" % 13 === 0)
        .withColumn("o_orderkey", -($"o_orderkey" + 1))
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("is_delete", lit(false))
      val del = o.filter($"o_orderkey" % 7 === 0)
        .withColumn("is_delete", lit(true))
      val changes = upd.unionByName(ins).unionByName(del)
      MergeOps.upsert(o, changes, Seq("o_orderkey"), Some("is_delete"))
        .groupBy($"o_orderstatus")
        // exact decimal sum, then one cast: a double sum of ~15k
        // 1e5-sized values carries ulp error that flips the 2nd
        // decimal depending on partition order — engine-dependent
        .agg(count(lit(1)).as("n"),
             sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
               .as("sum_price"))
        .orderBy($"o_orderstatus")
    },
    Some("""
      WITH upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)
                 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 0),
      ins AS (
        SELECT -(o_orderkey + 1) AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 13 = 0),
      merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 7 <> 0
          AND NOT (o_orderkey % 10 = 0 AND o_orderkey % 7 <> 0)
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins)
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM merged GROUP BY 1 ORDER BY 1"""))


  /** q60 — salted skew join: lineitem⋈supplier through
    * JoinOps.saltedJoin (4 salt buckets — large side spread across
    * sub-keys, small side replicated ×4), aggregated per nation. The
    * result is provably identical to the unsalted join (that is the
    * oracle); the salt is what keeps one hot supplier from stalling a
    * single reducer when the small side is too big to broadcast.
    */
  private val q60 = Q(
    "q60_salted_join",
    (s, d) => {
      import s.implicits._
      val l = li(s, d).select($"l_suppkey", $"l_extendedprice", $"l_discount")
      val sp = Tables.supplier(s, d)
        .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
      JoinOps.saltedJoin(l, sp, Seq("l_suppkey"), saltBuckets = 4)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_items"),
             round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
               .as("revenue"))
        .orderBy($"s_nationkey")
    },
    Some("""
      SELECT s_nationkey, count(*) AS n_items,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey"""))


  /** q61 — blocked fuzzy join (data-cleaning entity matching): part
    * names matched within Levenshtein distance 3, candidates blocked
    * by the name's noun (equi-join on the second word — never
    * all-pairs; per-block quadratic over the bounded adjective set).
    * DuckDB's levenshtein is the oracle's verifier — both engines
    * compute plain unit-cost edit distance.
    */
  private val q61 = Q(
    "q61_fuzzy_join",
    (s, d) => {
      import s.implicits._
      JoinOps.fuzzyJoin(Tables.part(s, d), Tables.part(s, d), "p_name",
          name => element_at(split(name, " "), 2), maxDist = 3)
        .select($"a", $"b", $"dist")
        .orderBy($"a", $"b")
    },
    Some("""
      WITH n AS (SELECT DISTINCT p_name FROM part)
      SELECT a.p_name AS a, b.p_name AS b,
             CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      FROM n a JOIN n b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3
      ORDER BY a, b"""))


  /** q62 — fixed-width histogram over l_extendedprice (the profiling
    * family): floor-binned, clamped to [0, 24], count + min/max per
    * bin. One partial-aggregated shuffle carrying ≤ 25 groups off a
    * single-column scan; both engines evaluate the identical double
    * expression so bin edges agree bit-for-bit.
    */
  private val q62 = Q(
    "q62_histogram",
    (s, d) => LibOps.histogram(li(s, d), "l_extendedprice",
        lo = 0.0, width = 5000.0, nbins = 25)
      .orderBy(col("bin")),
    Some("""
      SELECT CAST(least(greatest(floor(l_extendedprice / 5000.0), 0), 24) AS INTEGER) AS bin,
             count(*) AS n,
             round(min(l_extendedprice), 4) AS bin_min,
             round(max(l_extendedprice), 4) AS bin_max
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))


  /** q63 — literal S1 text source round-trip: documents written as
    * plain text lines, read back with `spark.read.text`, wordcounted.
    * Closes dumbo's default text-input path literally (the parquet
    * tables are the survey-sanctioned columnar upgrade; this proves
    * the line-oriented path works end to end). Oracle = the same
    * wordcount straight off the documents table (texts are single-line
    * by construction, so the round-trip is lossless).
    */
  private val q63 = Q(
    "q63_text_roundtrip",
    (s, d) => {
      val tmp = tmpDir(s, "q63_text")
      docs(s, d).select(col("text")).write.mode("overwrite").text(tmp)
      s.read.text(tmp)
        .select(explode(split(col("value"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("word"))
    },
    Some("""
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      GROUP BY word ORDER BY word"""),
    writes = true)


  /** q64 — per-group z-score outlier gate (LibOps.zscoreOutliers):
    * mean/std per returnflag broadcast back, row-local |z| filter —
    * no row shuffle, only the 3-row stats table moves. Threshold
    * margin measured: nearest row sits 9.5e-7 z-units from 1.5, six
    * orders above cross-engine float jitter, so the filtered set is
    * engine-stable.
    */
  private val q64 = Q(
    "q64_outliers",
    (s, d) => {
      import s.implicits._
      LibOps.zscoreOutliers(li(s, d), Seq("l_returnflag"), "l_extendedprice", 1.5)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_outliers"),
             round(max(abs($"z")), 4).as("max_abs_z"))
        .orderBy($"l_returnflag")
    },
    Some("""
      WITH s AS (
        SELECT l_returnflag, avg(l_extendedprice) AS m,
               stddev_pop(l_extendedprice) AS sd
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, count(*) AS n_outliers,
             round(max(abs((l_extendedprice - m) / sd)), 4) AS max_abs_z
      FROM lineitem JOIN s USING (l_returnflag)
      WHERE abs((l_extendedprice - m) / sd) > 1.5
      GROUP BY l_returnflag ORDER BY l_returnflag"""))


  /** q65 — equi-depth (quantile) binning of l_extendedprice into 8
    * bins (LibOps.equidepthBins): distinct-value counts shuffle (D
    * values, not N rows), one D-row cumulative window, then pure
    * integer threshold arithmetic — never the single-task global sort
    * an ntile formulation would pay. The oracle replays the identical
    * integer recipe, so engine≡oracle is exact (no float boundaries).
    */
  private val q65 = Q(
    "q65_equidepth",
    (s, d) => LibOps.equidepthSummary(li(s, d), "l_extendedprice", 8)
      .orderBy(col("bin")),
    Some("""
      WITH dv AS (
        SELECT l_extendedprice AS value, count(*) AS cnt
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
      cum AS (
        SELECT value, cnt, sum(cnt) OVER (ORDER BY value) AS cum,
               (SELECT sum(cnt) FROM dv) AS total
        FROM dv),
      bins AS (
        SELECT value, cnt,
               least(((cum - cnt) * 8) // total, 7) AS bin
        FROM cum)
      SELECT CAST(bin AS INTEGER) AS bin,
             CAST(sum(cnt) AS BIGINT) AS n,
             round(min(value), 4) AS lo,
             round(max(value), 4) AS hi
      FROM bins GROUP BY bin ORDER BY bin"""))


  /** q67 — median/MAD robust outlier gate (LibOps.robustOutliers):
    * the heavy-tail-safe variant of q64 — two grouped exact
    * percentiles with keys-sized broadcasts between them, then a
    * row-local |v − med|/MAD filter; no row data ever shuffles.
    * quantile_cont ≡ Spark percentile (the q24 parity). Runs on
    * events.value (heavy-tailed: robust-z reaches ~20, and the ~10k
    * distinct values per type keep the exact-percentile buffers small
    * — a near-continuous 100 TB column would use approx_percentile
    * boundaries with the same plan shape). Threshold 3.75 chosen with
    * measured cross-engine margin ≥ 3e-4 at every sf (nearest |rz| to
    * the cut), so a 1-ulp disagreement cannot flip a row.
    */
  private val q67 = Q(
    "q67_robust_outliers",
    (s, d) => {
      import s.implicits._
      // pin = true: the Bench/Verify harness runs Hygiene.clearAll, so
      // the graded instance keeps the fast no-recompute plan; the
      // library DEFAULT is pin = false (safe for embedders, whose
      // sessions run no such hygiene)
      LibOps.robustOutliers(ev(s, d), Seq("event_type"), "value", 3.75,
          pin = true)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_outliers"),
             round(max(abs($"rz")), 4).as("max_abs_rz"))
        .orderBy($"event_type")
    },
    Some("""
      WITH m AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1),
      d AS (
        SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        FROM events JOIN m USING (event_type) GROUP BY event_type)
      SELECT event_type, count(*) AS n_outliers,
             round(max(abs((value - med) / nullif(mad, 0))), 4) AS max_abs_rz
      FROM events JOIN m USING (event_type) JOIN d USING (event_type)
      WHERE abs((value - med) / nullif(mad, 0)) > 3.75
      GROUP BY event_type ORDER BY event_type"""))


  /** q66 — percentile-rank feature normalization
    * (LibOps.percentileRank): every lineitem gains its empirical-CDF
    * rank of l_quantity. The rank table comes from the shared
    * distinct-value cumulative (D=50 rows here), broadcast back onto
    * the fact — the oracle's `rank() OVER (ORDER BY …)` global window
    * is exactly the single-task sort the operator avoids. Exact
    * integer ratio, rounded at 6 for the cross-engine hash.
    */
  private val q66 = Q(
    "q66_pct_rank",
    (s, d) => LibOps.percentileRank(li(s, d), "l_quantity")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("pct_rank"))
      // the synthetic lineitem repeats (orderkey, linenumber) pairs, so
      // l_quantity completes the deterministic order
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity,
             round((CAST(rank() OVER (ORDER BY l_quantity) AS DOUBLE) - 1)
                   / count(*) OVER (), 6) AS pct_rank
      FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity"""))


  /** q46 — TPC-H Q5 shape: 6-table join (local-supplier revenue by
    * nation within a region-year slice). Date + region filters push to
    * the scans; nation/region broadcast; the fact-fact joins shuffle
    * on their keys after pruning.
    */
  private val q46 = Q(
    "q46_local_supplier_revenue",
    (s, d) => {
      import s.implicits._
      li(s, d)
        .join(ord(s, d), $"l_orderkey" === $"o_orderkey")
        .join(cust(s, d), $"o_custkey" === $"c_custkey")
        .join(Tables.supplier(s, d),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(nat(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(reg(s, d)), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA" &&
          $"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1997-01-01"))
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy($"revenue".desc, $"n_name")
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))


  /** q47 — deterministic hash-based train/valid/test split: bucket =
    * first 16 bits of md5(doc_id) mod 100. The reproducible-sampling
    * idiom for training pipelines — stable under repartitioning,
    * cluster size, and engine (md5 is portable, unlike rand(seed) or
    * TABLESAMPLE), so the same doc lands in the same split everywhere.
    */
  private val q47 = Q(
    "q47_hash_split",
    (s, d) => {
      import s.implicits._
      val bucket = (conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 4),
        16, 10).cast("int") % 100).as("bk")
      docs(s, d).withColumn("bk", bucket)
        .withColumn("split",
          when($"bk" < 80, "train").when($"bk" < 90, "valid").otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"split")
    },
    Some("""
      WITH b AS (
        SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100 AS bk
        FROM documents)
      SELECT CASE WHEN bk < 80 THEN 'train'
                  WHEN bk < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b GROUP BY 1 ORDER BY 1"""))


  /** q68 — leakage-safe grouped split (SampleOps.groupedSplit): fold
    * assignment hashed on `source`, so near-duplicate docs from one
    * site can never straddle train/test (q47's per-row split cannot
    * guarantee that). Row-local md5 CASE, no shuffle; the oracle
    * replays the same bucket arithmetic. count(DISTINCT source) per
    * fold plus the total over folds equaling 20 distinct sources
    * witnesses the co-assignment in the graded output itself.
    */
  private val q68 = Q(
    "q68_grouped_split",
    (s, d) => {
      import s.implicits._
      SampleOps.groupedSplit(docs(s, d), "source",
          Seq("train" -> 80, "valid" -> 90))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct($"source").as("n_sources"),
             sum($"n_chars").as("sum_chars"))
        .orderBy($"split")
    },
    Some("""
      WITH b AS (
        SELECT *, ('0x' || substr(md5(source), 1, 4))::INTEGER % 100 AS bk
        FROM documents)
      SELECT CASE WHEN bk < 80 THEN 'train'
                  WHEN bk < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             count(*) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b GROUP BY 1 ORDER BY 1"""))


  /** q69 — quality-weighted sampling (SampleOps.weightedSample): docs
    * survive with probability proportional to length (capped at 1) —
    * the continuous generalization of the mixture rates. Row-local
    * hash-threshold WHERE; the oracle computes the identical double
    * expression in the identical order, so the cut is bit-stable
    * across engines.
    */
  private val q69 = Q(
    "q69_weighted_sample",
    (s, d) => {
      import s.implicits._
      SampleOps.weightedSample(docs(s, d), "doc_id",
          least($"n_chars".cast("double") / 2000.0, lit(1.0)))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"lang")
    },
    Some("""
      WITH b AS (
        SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER AS bk
        FROM documents)
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b
      WHERE CAST(bk AS DOUBLE) <
            least(greatest(least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0), 0.0), 1.0) * 65536.0
      GROUP BY lang ORDER BY lang"""))


  /** q48 — bigram counts (every occurrence, unlike the deduplicated
    * dedup shingles): native WordNgrams (the interpreted
    * transform/element_at form cost 2.9s of a 3s query), explode,
    * count. Top-100 with full tiebreak.
    */
  private val q48 = Q(
    "q48_bigram_counts",
    (s, d) => {
      import s.implicits._
      docs(s, d)
        .select(explode(graft.functions.TextFunctions.word_ngrams($"text", 2)).as("bigram"))
        .groupBy($"bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"bigram")
        .limit(100)
    },
    Some("""
      SELECT bg AS bigram, count(*) AS cnt FROM (
        SELECT w[i] || ' ' || w[i+1] AS bg
        FROM (SELECT string_split(text, ' ') AS w FROM documents),
             unnest(range(1, len(w))) AS t(i))
      GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 100"""))


  /** q49 — TF-IDF with top-5 terms per document (reported for the
    * first 50 docs; tf/df statistics computed over the whole corpus).
    * Three aggregates: tf per (doc, term), df per term (count of the
    * already-distinct tf rows — no second distinct), corpus size N via
    * a broadcast 1-row cross join. At scale: the (doc, term) shuffle
    * dominates and is the irreducible cost of exact TF-IDF; df and N
    * are partial-aggregated.
    */
  private val q49 = Q(
    "q49_tfidf",
    (s, d) => {
      import s.implicits._
      val tokens = docs(s, d)
        .select($"doc_id", explode(TextOps.words($"text")).as("term"))
      val tf = tokens.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("dfc"))
      val n = docs(s, d).agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", $"tf" * log($"n".cast("double") / $"dfc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
      scored.filter($"doc_id" < 50)
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter($"rnk" <= 5)
        .select($"doc_id", $"rnk", $"term", round($"tfidf", 4).as("tfidf"))
        .orderBy($"doc_id", $"rnk")
    },
    Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT doc_id, term, tf * ln(n::DOUBLE / dfc) AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n
        WHERE doc_id < 50)
      SELECT doc_id, rnk, term, round(tfidf, 4) AS tfidf FROM (
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
        FROM scored) x
      WHERE rnk <= 5 ORDER BY doc_id, rnk"""))


  /** q50 — MapType column surface (§2.8 map functions): props parsed
    * into a real map (not string-extracted), then map_contains_key /
    * try_element_at / size(map) aggregates. Values parse as STRING and
    * cast per-key: a map<string,int> schema would null the WHOLE map
    * when any one value fails int conversion, diverging from the
    * oracle's per-key json semantics. try_element_at / try_cast (not
    * element_at / cast): ANSI mode errors where the oracle yields NULL.
    */
  private val q50 = Q(
    "q50_map_column",
    (s, d) => {
      import s.implicits._
      ev(s, d)
        .withColumn("m", from_json($"props", "map<string,string>", Map.empty[String, String]))
        .groupBy($"event_type")
        .agg(count(when(map_contains_key($"m", "k"), 1)).as("n_with_k"),
             round(avg(try_element_at($"m", lit("k")).try_cast("int")), 4).as("avg_k"),
             sum(size($"m")).as("total_keys"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type,
             count(*) FILTER (WHERE json_extract(props, '$.k') IS NOT NULL) AS n_with_k,
             round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
             CAST(sum(len(json_keys(props))) AS BIGINT) AS total_keys
      FROM events GROUP BY event_type ORDER BY event_type"""))


  /** q51 — conversion funnel (event-sequence analytics): users who
    * signed up, then clicked within 24h of first signup, then purchased
    * within 24h of that first qualifying click. It delegates to the
    * generalized `TimeOps.funnel` (per-user
    * min-aggregates chained by co-partitioned user equi-joins; q87
    * grades the op's native schema on a different step chain) and
    * keeps this query's original stage-label output contract.
    */
  private val q51 = Q(
    "q51_funnel",
    (s, d) => {
      import s.implicits._
      TimeOps.funnel(ev(s, d), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"), withinHours = Some(24))
        .select(
          when($"step_idx" === 1, "stage1_signup")
            .when($"step_idx" === 2, "stage2_click_24h")
            .otherwise("stage3_purchase_24h").as("stage"),
          $"n_users")
        .orderBy($"stage")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      s AS (
        SELECT user_id, min(tu) AS t_s FROM ev
        WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.tu) AS t_c
        FROM ev e JOIN s USING (user_id)
        WHERE e.event_type = 'click' AND e.tu > s.t_s
          AND e.tu <= s.t_s + 86400000000 GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.tu) AS t_p
        FROM ev e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.tu > c.t_c
          AND e.tu <= c.t_c + 86400000000 GROUP BY 1)
      SELECT 'stage1_signup' AS stage, count(*) AS n_users FROM s
      UNION ALL SELECT 'stage2_click_24h', count(*) FROM c
      UNION ALL SELECT 'stage3_purchase_24h', count(*) FROM p
      ORDER BY stage"""))


  /** q52 — bounded-frame window aggregate: 5-row rolling median of
    * order value per customer (interpolated percentile over ROWS
    * BETWEEN 4 PRECEDING AND CURRENT). Frame-bounded windows are the
    * remaining window family after running (q26) and rank (q42)
    * aggregates; at scale this is one keyed shuffle + per-group sorted
    * pass with an O(frame)-bounded buffer.
    */
  private val q52 = Q(
    "q52_rolling_median",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(-4, 0)
      ord(s, d)
        .withColumn("roll_median", round(percentile($"o_totalprice", lit(0.5)).over(w), 4))
        .select($"o_custkey", $"o_orderkey", $"roll_median")
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(quantile_cont(o_totalprice, 0.5) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_median
      FROM orders ORDER BY o_custkey, o_orderkey"""))


  /** q53 — column profiling (data-quality sweep): null count and
    * distinct count per column in one pass over the table (count +
    * count_distinct partial aggregates; no per-column scans). The
    * standard pre-training corpus audit.
    */
  private val q53 = Q(
    "q53_profile_columns",
    (s, d) => {
      import s.implicits._
      val o = ord(s, d)
      val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      val aggs = cols.flatMap { c =>
        Seq((count(lit(1)) - count(col(c))).as(s"nulls_$c"),
            countDistinct(col(c)).cast("long").as(s"dist_$c"))
      }
      val wide = o.agg(aggs.head, aggs.tail: _*)
      // one row per column via stack (unpivot of paired measures)
      val stacked = cols.map(c => s"'$c', nulls_$c, dist_$c").mkString(", ")
      wide.select(expr(
          s"stack(${cols.length}, $stacked) AS (col, n_nulls, n_distinct)"))
        .orderBy($"col")
    },
    Some("""
      SELECT 'o_custkey' AS col, count(*) - count(o_custkey) AS n_nulls,
             count(DISTINCT o_custkey) AS n_distinct FROM orders
      UNION ALL SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
             count(DISTINCT o_orderstatus) FROM orders
      UNION ALL SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority) FROM orders
      UNION ALL SELECT 'o_totalprice', count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice) FROM orders
      ORDER BY col"""))

  val qs: Seq[Q] = Seq(q45, q55, q56, q57, q57b, q58, q70, q71, q72, q74, q75, q78, q76, q59, q60, q61, q62, q63, q64, q65, q67, q66, q46, q47, q68, q69, q48, q49, q50, q51, q52, q53)
}
