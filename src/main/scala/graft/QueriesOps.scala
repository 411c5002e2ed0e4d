package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops._
import graft.QHelp._

/** Typed/UDAF/MapRed-shaped operator queries: medians, top-k UDAF,
  * params, codecs, asof/range joins, stats. */
private[graft] object QueriesOps {


  /** q24 — A6 arbitrary reducer: exact interpolated median per key
    * (built-in percentile; both engines use linear interpolation).
    */
  private val q24 = Q(
    "q24_median",
    (s, d) => {
      import s.implicits._
      li(s, d).groupBy($"l_returnflag")
        .agg(round(percentile($"l_quantity", lit(0.5)), 4).as("median_qty"),
             round(percentile($"l_extendedprice", lit(0.9)), 4).as("p90_price"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4)      AS median_qty,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))


  /** q25 — cube (all grouping-set combinations; §2.5 superset). */
  private val q25 = Q(
    "q25_cube",
    (s, d) => {
      import s.implicits._
      ord(s, d).cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))


  /** q26 — running analytic over the secondary-sort order (J3 idiom):
    * cumulative spend per customer in order-date order.
    */
  private val q26 = Q(
    "q26_running_sum",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      ord(s, d)
        .withColumn("running_total", round(sum($"o_totalprice").over(w), 2))
        .select($"o_custkey", $"o_orderkey", $"running_total")
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING), 2) AS running_total
      FROM orders ORDER BY o_custkey, o_orderkey"""))


  /** q27 — T1/T2 via the typed bounded-heap Aggregator (O(k) per group
    * on map and reduce side — the 100 TB-safe exact top-k).
    */
  private val q27 = Q(
    "q27_topk_udaf",
    (s, d) => {
      import s.implicits._
      val tk = udaf(graft.functions.TopKAggregator(5))
      li(s, d).groupBy($"l_returnflag")
        .agg(tk($"l_quantity").as("topk"))
        .select($"l_returnflag", posexplode($"topk"))
        .toDF("l_returnflag", "pos", "v")
        .orderBy($"l_returnflag", $"pos")
    },
    Some("""
      SELECT l_returnflag, CAST(rn - 1 AS INTEGER) AS pos, v FROM (
        SELECT l_returnflag, l_quantity AS v,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity DESC) AS rn
        FROM lineitem) t
      WHERE rn <= 5 ORDER BY l_returnflag, pos"""))


  /** q28 — GROUPING SETS through the SQL surface (temp view + spark.sql),
    * the general form of rollup/cube.
    */
  private val q28 = Q(
    "q28_grouping_sets",
    (s, d) => {
      // the returned frame is analysed, so it keeps the view's plan
      // after the view itself is dropped
      ord(s, d).createOrReplaceTempView("orders_v")
      try s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
      finally s.catalog.dropTempView("orders_v")
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))


  /** q29 — skew-safe salted aggregation (same result as a direct
    * groupBy-sum; the salted plan spreads hot keys over extra reducers).
    */
  private val q29 = Q(
    "q29_salted_agg",
    (s, d) => {
      import s.implicits._
      LibOps.saltedSumByKey(li(s, d), Seq("l_returnflag"), "l_quantity", as = "sum_qty")
        .select($"l_returnflag", round($"sum_qty", 2).as("sum_qty"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))


  /** q30 — string functions (§2.8) over part: regex capture, split,
    * upper — the mapper-side string idioms as pushed-down expressions.
    */
  private val q30 = Q(
    "q30_string_funcs",
    (s, d) => {
      import s.implicits._
      Tables.part(s, d)
        .select(
          regexp_extract($"p_brand", "Brand#(\\d+)", 1).cast("int").as("brand_num"),
          upper(split($"p_type", " ").getItem(0)).as("type_head"),
          $"p_retailprice")
        .groupBy($"brand_num", $"type_head")
        .agg(count(lit(1)).as("n"), round(avg($"p_retailprice"), 2).as("avg_price"))
        .orderBy($"brand_num", $"type_head")
    },
    Some("""
      SELECT CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INTEGER) AS brand_num,
             upper(string_split(p_type, ' ')[1]) AS type_head,
             count(*) AS n, round(avg(p_retailprice), 2) AS avg_price
      FROM part GROUP BY 1, 2 ORDER BY 1, 2"""))


  /** q31 — supplier dimension join (completes table coverage). */
  private val q31 = Q(
    "q31_supplier_stats",
    (s, d) => {
      import s.implicits._
      Tables.supplier(s, d)
        .join(broadcast(nat(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"), round(sum($"s_acctbal"), 2).as("sum_bal"))
        .orderBy($"n_name")
    },
    Some("""
      SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS sum_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))


  // q32_approx_sketches (HLL distinct + approx percentile) is retired:
  // both capabilities have DETERMINISTIC graded
  // counterparts — q82_kmv_distinct for the distinct sketch and
  // q81/q83 for histogram quantiles — so the engine-native
  // convenience ops (LibOps.approxCountDistinctByKey,
  // percentile_approx) stay available and unit-proven (QueriesSpec
  // "approx sketches"), but no longer hold a rows-only slot in the
  // graded surface.

  /** q33 — T3 nsmallest: bottom-2 cheapest orders per priority class. */
  private val q33 = Q(
    "q33_bottomk_per_group",
    (s, d) => {
      import s.implicits._
      LibOps.bottomKPerKey(ord(s, d), Seq("o_orderpriority"),
          Seq("o_totalprice", "o_orderkey"), 2)
        .select($"o_orderpriority", $"o_orderkey", $"o_totalprice", $"rnk")
        .orderBy($"o_orderpriority", $"rnk")
    },
    Some("""
      SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS rnk
        FROM orders) t
      WHERE rnk <= 2 ORDER BY o_orderpriority, rnk"""))


  /** q34 — C5 identitymapper: pure passthrough, deterministic order. */
  private val q34 = Q(
    "q34_identity",
    (s, d) => LibOps.identityMap(reg(s, d)).orderBy(col("r_regionkey")),
    Some("""
      SELECT * FROM region ORDER BY r_regionkey"""))


  /** q35 — C7 params: the oowordcount example (wordcount with an
    * excluded-words `-param`); the param list rides the closure /
    * codegen literal exactly like dumbo's task params.
    */
  private val excludedWords = Seq("the", "a", "of")

  private val q35 = Q(
    "q35_param_wordcount",
    (s, d) => {
      import s.implicits._
      TextOps.wordCount(docs(s, d))
        .filter(!$"word".isin(excludedWords: _*))
        .orderBy($"word")
    },
    Some(s"""
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      WHERE word NOT IN (${excludedWords.map(w => s"'$w'").mkString(", ")})
      GROUP BY word ORDER BY word"""))


  /** q36 — S4/S8 codec round-trip as a graded query: records encoded to
    * JSON lines and decoded back (encodepipe|decodepipe), then
    * aggregated — proves the codec is lossless for the nested path.
    */
  private val q36 = Q(
    "q36_codec_roundtrip",
    (s, d) => {
      val src = docs(s, d)
      val decoded = graft.io.Codec.decodeJson(graft.io.Codec.encodeJson(src), src.schema)
      decoded.groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang ORDER BY lang"""))


  /** q37 — composed corpus-cleaning pipeline: quality filter → exact
    * dedup → per-language counts, one fused plan (the operators
    * composing is the point; dumbo would run 3 materialized MR passes).
    * Thresholds are integer-exact (count*2 <= total, not a rounded
    * ratio) so the oracle can't diverge on a float boundary.
    */
  private val q37 = Q(
    "q37_clean_pipeline",
    (s, d) => {
      import s.implicits._
      val ws = TextOps.words($"text")
      val stops = array(TextOps.StopWords.map(lit): _*)
      docs(s, d)
        .filter(size(ws) >= 20 &&
          size(filter(ws, w => array_contains(stops, w))) * 2 <= size(ws))
        .groupBy($"text")
        .agg(min($"doc_id").as("doc_id"), min($"lang").as("lang"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"lang")
    },
    Some(s"""
      WITH good AS (
        SELECT doc_id, lang, text FROM documents
        WHERE len(string_split(text, ' ')) >= 20
          AND len(list_filter(string_split(text, ' '),
                w -> w IN (${TextOps.StopWords.map(w => s"'$w'").mkString(", ")}))) * 2
              <= len(string_split(text, ' '))),
      deduped AS (
        SELECT min(doc_id) AS doc_id, min(lang) AS lang FROM good GROUP BY text)
      SELECT lang, count(*) AS cnt FROM deduped GROUP BY lang ORDER BY lang"""))


  /** q38 — backward as-of join (attribution idiom): each click joined
    * to the user's latest purchase at-or-before it. Union-merge
    * formulation: one shuffle on user_id, no range explosion
    * (JoinOps.asofJoinBackward). DuckDB's native ASOF LEFT JOIN is the
    * oracle, matching on epoch-µs values so both engines compare at the
    * same precision (parquet is ns, Spark truncates to µs on read);
    * outputs are epoch seconds.
    */
  private val q38 = Q(
    "q38_asof_join",
    (s, d) => {
      import s.implicits._
      val e = ev(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      JoinOps.asofJoinBackward(clicks, purchases, Seq("user_id"), "ts",
          rightPayload = Seq("ts", "value"))
        .select($"event_id", $"user_id",
          unix_timestamp($"ts").as("click_ts_s"),
          unix_timestamp($"asof_ts").as("purchase_ts_s"),
          round($"asof_value", 2).as("purchase_value"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT c.event_id, c.user_id,
             c.tu // 1000000 AS click_ts_s,
             p.tu // 1000000 AS purchase_ts_s,
             round(p.value, 2) AS purchase_value
      FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
            WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu, value FROM events
            WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.tu <= c.tu
      ORDER BY c.event_id"""))


  /** q39 — range (interval) join: orders banded by price range. The
    * band table is tiny → broadcast nested-loop join, the right plan
    * for dim-table range predicates (never shuffles the fact side).
    */
  private val q39 = Q(
    "q39_range_join",
    (s, d) => {
      import s.implicits._
      val bands = Seq(
        ("p0_low", 0.0, 100000.0),
        ("p1_mid", 100000.0, 250000.0),
        ("p2_high", 250000.0, 400000.0),
        ("p3_top", 400000.0, 1e9)).toDF("band", "lo", "hi")
      ord(s, d).join(broadcast(bands),
          $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
        .groupBy($"band")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"band")
    },
    Some("""
      WITH bands(band, lo, hi) AS (VALUES
        ('p0_low', 0.0, 100000.0), ('p1_mid', 100000.0, 250000.0),
        ('p2_high', 250000.0, 400000.0), ('p3_top', 400000.0, 1000000000.0))
      SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY band ORDER BY band"""))


  /** q40 — pivot (long→wide): order counts per priority × status.
    * Explicit pivot values keep the plan a single pass (no value-
    * discovery job); coalesce(0) matches the conditional-agg oracle.
    */
  private val q40 = Q(
    "q40_pivot",
    (s, d) => {
      import s.implicits._
      ord(s, d).groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select($"o_orderpriority",
          coalesce($"F", lit(0L)).as("n_f"),
          coalesce($"O", lit(0L)).as("n_o"),
          coalesce($"P", lit(0L)).as("n_p"))
        .orderBy($"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))


  /** q41 — unpivot (wide→long, melt): per-flag sums unpivoted to
    * (flag, metric, value) rows.
    */
  private val q41 = Q(
    "q41_unpivot",
    (s, d) => {
      import s.implicits._
      li(s, d).groupBy($"l_returnflag")
        .agg(round(sum($"l_quantity"), 2).as("qty"),
             round(sum($"l_extendedprice"), 2).as("price"),
             round(sum($"l_discount"), 2).as("disc"))
        .unpivot(Array($"l_returnflag"), Array($"qty", $"price", $"disc"),
          "metric", "value")
        .orderBy($"l_returnflag", $"metric")
    },
    Some("""
      WITH s AS (
        SELECT l_returnflag,
               round(sum(l_quantity), 2)      AS qty,
               round(sum(l_extendedprice), 2) AS price,
               round(sum(l_discount), 2)      AS disc
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'qty' AS metric, qty AS value FROM s
      UNION ALL SELECT l_returnflag, 'price', price FROM s
      UNION ALL SELECT l_returnflag, 'disc', disc FROM s
      ORDER BY l_returnflag, metric"""))


  /** q42 — analytic window functions (lag/lead/rank/percent_rank/
    * ntile) over each customer's orders; the full tiebreakered ordering
    * makes every rank deterministic.
    */
  private val q42 = Q(
    "q42_window_analytics",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      ord(s, d).select($"o_custkey", $"o_orderkey",
          round(lag($"o_totalprice", 1).over(w), 2).as("prev_price"),
          round(lead($"o_totalprice", 1).over(w), 2).as("next_price"),
          rank().over(w).cast("int").as("rnk"),
          round(percent_rank().over(w), 4).as("pct_rnk"),
          ntile(4).over(w).cast("int").as("quartile"))
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(lag(o_totalprice) OVER w, 2)  AS prev_price,
             round(lead(o_totalprice) OVER w, 2) AS next_price,
             CAST(rank() OVER w AS INTEGER)      AS rnk,
             round(percent_rank() OVER w, 4)     AS pct_rnk,
             CAST(ntile(4) OVER w AS INTEGER)    AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))


  /** q43 — bivariate statistics per key: corr / covariance / variance
    * (one-pass co-moment aggregates in both engines).
    */
  private val q43 = Q(
    "q43_corr_stats",
    (s, d) => {
      import s.implicits._
      li(s, d).groupBy($"l_returnflag")
        .agg(round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qp"),
             round(covar_pop($"l_quantity", $"l_extendedprice"), 4).as("covar_p"),
             round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("covar_s"),
             round(var_pop($"l_quantity"), 4).as("var_qty"),
             round(stddev_samp($"l_extendedprice"), 4).as("std_price"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 4)       AS corr_qp,
             round(covar_pop(l_quantity, l_extendedprice), 4)  AS covar_p,
             round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
             round(var_pop(l_quantity), 4)                     AS var_qty,
             round(stddev_samp(l_extendedprice), 4)            AS std_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))


  /** q44 — per-label embedding centroids: posexplode → (label, pos)
    * aggregate. The shuffle carries (label, pos, partial-sum) — K·dim
    * cells regardless of corpus size, the scalable centroid shape
    * (same layout the IVF trainer uses).
    */
  private val q44 = Q(
    "q44_embedding_centroids",
    (s, d) => {
      import s.implicits._
      emb(s, d).select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"label", $"pos")
        .agg(round(avg($"v"), 4).as("c_v"), count(lit(1)).as("n_vecs"))
        .orderBy($"label", $"pos")
    },
    Some("""
      SELECT label, pos, round(avg(v), 4) AS c_v, count(*) AS n_vecs
      FROM (SELECT label,
                   CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
                   unnest(embedding) AS v
            FROM embeddings) t
      GROUP BY label, pos ORDER BY label, pos"""))


  // ------------------------------------------------------ typed MapRed

  /** mapred_wordcount — the same wordcount through the typed
    * mapper/combiner layer (C1+C3 via Dataset closures), proving the
    * dumbo-API layer against the q02 oracle.
    */
  private val mr1 = Q(
    "mapred_wordcount",
    (s, d) => {
      import s.implicits._
      val pairs = docs(s, d).select($"doc_id", $"text").as[(Long, String)]
      val mapped = MapRed.mapRecords(pairs) { (_, text) =>
        text.split(' ').iterator.map(w => (w, 1L))
      }
      MapRed.combineByKey(mapped)(_ + _)
        .toDF("word", "cnt")
        .orderBy($"word")
    },
    Some("""
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      GROUP BY word ORDER BY word"""))

  val qs: Seq[Q] = Seq(q24, q25, q26, q27, q28, q29, q30, q31, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, mr1)
}
