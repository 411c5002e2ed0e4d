package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** DataFrame re-expressions of the reference's standard mapper/reducer
  * library (SURVEY.md §2.5–§2.6; `dumbo/lib/__init__.py`).
  *
  * dumbo runs these as streaming Python reducers with optional map-side
  * combiners; here every one is a declarative aggregate so Catalyst
  * plans partial (map-side) + final aggregation automatically — the
  * combiner concept dissolves into `HashAggregateExec` partials, and at
  * 100 TB the shuffle carries only per-key partial buffers.
  */
object LibOps {

  /** A1 `sumreducer`: per-key sum. */
  def sumByKey(df: DataFrame, keys: Seq[String], value: String, as: String = "sum_value"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(sum(col(value)).as(as))

  /** A2 `sumsreducer`: element-wise sum of several value columns. */
  def sumsByKey(df: DataFrame, keys: Seq[String], values: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(values.head)).as(s"sum_${values.head}"),
           values.tail.map(v => sum(col(v)).as(s"sum_$v")): _*)

  /** A3+A4 `statscombiner`/`statsreducer`: per-key (n, mean, std, min, max).
    * One-pass moments; stddev_pop matches the reference's population std.
    */
  def statsByKey(df: DataFrame, keys: Seq[String], value: String): DataFrame = {
    val v = col(value)
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      avg(v).as("mean"),
      stddev_pop(v).as("std"),
      min(v).as("min_v"),
      max(v).as("max_v"))
  }

  /** T1/T2 `nlargestreducer`/`nlargestcombiner`: exact per-key top-k.
    * Window + row_number is the declarative form; Spark's physical plan
    * is a partial sort per partition — no full sort of the group.
    * Always pass a deterministic tiebreaker (SURVEY.md §7.3).
    */
  def topKPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
                 rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** T3 `nsmallestreducer`: bottom-k = topK with ascending order. */
  def bottomKPerKey(df: DataFrame, keys: Seq[String], orderAsc: Seq[String], k: Int): DataFrame =
    topKPerKey(df, keys, orderAsc.map(c => col(c).asc), k)

  /** A5 count-distinct (dumbo needs two chained MR passes for this —
    * wiki tutorial pattern; one exact aggregate here). At 100 TB prefer
    * [[approxCountDistinctByKey]] (HLL, no exact-distinct shuffle).
    */
  def countDistinctByKey(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count_distinct(col(value)).as("n_distinct"))

  /** A5 at scale: HyperLogLog++ sketch instead of exact distinct.
    * Engine-native convenience — the sketch is algorithm-specific, so
    * its numbers are unreproducible outside Spark; the GRADED distinct
    * sketch is [[kmvDistinct]] (q82), whose estimate any engine
    * replays bit-for-bit with the same state bound.
    */
  def approxCountDistinctByKey(df: DataFrame, keys: Seq[String], value: String,
                               rsd: Double = 0.05): DataFrame =
    df.groupBy(keys.map(col): _*).agg(approx_count_distinct(col(value), rsd).as("n_distinct_approx"))

  /** Fixed-width histogram (data-profiling family): bin =
    * floor((v - lo) / width) clamped to [0, nbins-1], with count and
    * exact min/max per bin. One partial-aggregated shuffle carrying at
    * most `nbins` groups — the profiling scan for 100 TB columns.
    * Rows with NULL values are dropped (they have no bin).
    */
  def histogram(df: DataFrame, value: String, lo: Double, width: Double,
                nbins: Int): DataFrame = {
    require(width > 0 && nbins > 0, s"histogram: width=$width nbins=$nbins")
    val v = col(value).cast("double")
    val bin = least(greatest(floor((v - lo) / width), lit(0.0)), lit(nbins - 1.0))
    df.filter(v.isNotNull)
      .groupBy(bin.cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
           round(min(v), 4).as("bin_min"),
           round(max(v), 4).as("bin_max"))
  }

  /** Population-stability-index drift report — the standard production
    * monitor for "has this feature's distribution moved?": two samples
    * (e.g. last week's corpus vs this week's) bucketed into the same
    * fixed-width histogram, each bin reporting its counts and its PSI
    * contribution (p−q)·ln(p/q) over add-`alpha`-smoothed shares
    * (smoothing keeps empty bins finite — the standard PSI practice).
    * Σ psi_contrib is the PSI; the conventional alarm thresholds are
    * 0.1 (drifting) / 0.25 (shifted).
    *
    * Scale shape: two partial-aggregated histogram passes (the
    * `histogram` shape — row-local bin, counts-only shuffle), then
    * everything is nbins-sized: spine join, 1-row totals broadcast,
    * row-local arithmetic. Emits ALL nbins bins (a bin absent from
    * both samples still contributes when the totals differ). Parity:
    * shares divide exact integers (correctly rounded), the single ln
    * per row is 1-ulp class absorbed by round-6 output.
    */
  def psiReport(a: DataFrame, b: DataFrame, value: String,
                lo: Double, width: Double, nbins: Int,
                alpha: Double = 0.5): DataFrame = {
    require(width > 0 && nbins > 0, s"psiReport: width=$width nbins=$nbins")
    psiFromStates(histState(a, value, lo, width, nbins),
      histState(b, value, lo, width, nbins), nbins, alpha)
  }

  /** The stored HISTOGRAM STATE of a sample — sparse (bin INT,
    * n BIGINT) over the [[psiReport]] binning (clamped fixed-width
    * bins; absent bin = 0) — the distribution-monitoring family's
    * ingest-lifecycle state (the [[kmvSketch]]/scoreCounts pattern for
    * DISTRIBUTIONS): build once per reference window, fold ingest
    * batches in under `FoldLaw.histBins` (graft.streaming), and every
    * drift gate ([[psiFromStates]], quantiles, winsorize bounds) reads
    * the nbins-sized state alone — the corpus is never rescanned at
    * monitoring time. Bin counts are additive over disjoint row sets,
    * so merge ≡ rebuild EXACTLY, and the law's signed fold retracts a
    * batch exactly (the spanIndex laws — this is the one monitoring
    * state where retraction subtracts cleanly; KMV documents rebuild
    * instead).
    */
  def histState(df: DataFrame, value: String, lo: Double, width: Double,
                nbins: Int): DataFrame = {
    require(width > 0 && nbins > 0, s"histState: width=$width nbins=$nbins")
    df.filter(col(value).cast("double").isNotNull)
      .groupBy(histBin(col(value), lo, width, nbins).as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** The [[histState]] bin of `value`: fixed-width bins from `lo`,
    * clamped to [0, nbins − 1]. */
  def histBin(value: Column, lo: Double, width: Double, nbins: Int): Column =
    least(greatest(floor((value.cast("double") - lo) / width), lit(0.0)),
      lit(nbins - 1.0)).cast("int")

  /** [[psiReport]]'s tail over two PREBUILT [[histState]]s — ONE
    * definition of the PSI arithmetic (the inline caller delegates
    * here), and the monitoring deployment: reference state stored
    * once, current state folded batch-by-batch, PSI recomputed from
    * the two nbins-sized states alone.
    */
  def psiFromStates(stateA: DataFrame, stateB: DataFrame, nbins: Int,
                    alpha: Double = 0.5): DataFrame = {
    require(nbins > 0, s"psiFromStates: nbins=$nbins")
    require(alpha > 0, s"psiFromStates: alpha=$alpha (0 would make empty bins infinite)")
    val ha = stateA.select(col("bin"), col("n").as("__na"))
    val hb = stateB.select(col("bin"), col("n").as("__nb"))
    val ta = ha.agg(sum(col("__na")).as("__ta"))
    val tb = hb.agg(sum(col("__nb")).as("__tb"))
    val spine = stateA.sparkSession.range(nbins)
      .select(col("id").cast("int").as("bin"))
    val p = (coalesce(col("__na"), lit(0L)) + alpha) /
      (col("__ta") + alpha * nbins)
    val q = (coalesce(col("__nb"), lit(0L)) + alpha) /
      (col("__tb") + alpha * nbins)
    spine
      .join(broadcast(ha), Seq("bin"), "left")
      .join(broadcast(hb), Seq("bin"), "left")
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("bin"),
        coalesce(col("__na"), lit(0L)).as("n_a"),
        coalesce(col("__nb"), lit(0L)).as("n_b"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
  }

  /** Per-group two-sample Kolmogorov–Smirnov drift report — the
    * DISTRIBUTIONAL complement of [[psiReport]]: for each group
    * (source, shard, vendor), the KS statistic between the group's
    * empirical CDF of `valueCol` and the CDF of the REST of the
    * corpus, with the α-level critical value and a drift verdict —
    * the "does this source's length/score distribution differ?" gate
    * that needs no binning choice.
    *
    * Scale shape: ONE (group, value) partial-aggregated count pass
    * is the only corpus-sized stage; everything after runs on the
    * groups × distinct-values grid (both aggregate outputs — use a
    * bounded-cardinality value such as a length, score bucket, or
    * rounded metric; for continuous doubles pre-bucket first). The
    * grid's per-group CDF is a group-partitioned window; the corpus
    * CDF the one support-sized unpartitioned window (the equidepth
    * convention). Parity: CDFs and the critical value derive from
    * exact BIGINT counts through float formulas written identically
    * in both engines, so D, crit, and the verdict are bit-equal —
    * the verdict needs no threshold margin. A group covering the
    * whole corpus has no "rest": NULL D/crit, drifted false.
    *
    * Output per group: (groupCol, n, d_stat, crit, drifted) with
    * d_stat/crit rounded to 6 (verdict on unrounded).
    */
  def ksReport(df: DataFrame, groupCol: String, valueCol: String,
               cAlpha: Double = 1.358): DataFrame = {
    val c = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).as("__x"))
      .agg(count(lit(1)).as("__c"))
    val grid = c.select(col("__g")).distinct()
      .crossJoin(c.select(col("__x")).distinct())
    val cum = grid.join(c, Seq("__g", "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .withColumn("__cg", sum(col("__c")).over(
        Window.partitionBy(col("__g")).orderBy(col("__x"))))
    val ng = c.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val ccum = c.groupBy(col("__x")).agg(sum(col("__c")).as("__cx"))
      .withColumn("__cc", sum(col("__cx")).over(Window.orderBy(col("__x"))))
      .select(col("__x"), col("__cc"))
    val nTot = c.agg(sum(col("__c")).as("__nt"))
    val rest = col("__nt") - col("__n")
    val d = cum
      .join(broadcast(ccum), "__x")
      .join(broadcast(ng), "__g")
      .crossJoin(broadcast(nTot))
      .withColumn("__diff",
        when(rest === 0L, lit(null).cast("double"))
          .otherwise(abs(col("__cg").cast("double") / col("__n") -
            (col("__cc") - col("__cg")).cast("double") / rest)))
      .groupBy(col("__g"), col("__n"), col("__nt"))
      .agg(max(col("__diff")).as("__d"))
    d.withColumn("__crit",
        when(rest === 0L, lit(null).cast("double"))
          .otherwise(lit(cAlpha) * sqrt(col("__nt").cast("double") /
            (col("__n").cast("double") * rest.cast("double")))))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        round(col("__d"), 6).as("d_stat"),
        round(col("__crit"), 6).as("crit"),
        coalesce(col("__d") > col("__crit"), lit(false)).as("drifted"))
  }

  /** Equi-depth (quantile) binning — the profiling complement to the
    * fixed-width `histogram`: every bin holds ~N/nbins rows regardless
    * of the value distribution. The naive formulation (`ntile` over a
    * global `orderBy`) collapses the corpus into ONE sort task; this
    * one never sorts rows at all:
    *
    *   1. distinct-value counts (partial-aggregated — the shuffle
    *      carries D distinct values, not N rows);
    *   2. one cumulative window over the D-row distinct-value table;
    *   3. bin(v) = min((cum(v) − c(v)) · nbins div N, nbins − 1) —
    *      the count of depth thresholds ceil(i·N/nbins) fully passed
    *      before v starts, folded into pure integer arithmetic (no
    *      threshold table, no float drift at any N).
    *
    * Rows sharing a value share a bin, so bins are exactly balanced
    * except where a hot value straddles a threshold (the unavoidable
    * tie semantics of value-deterministic equi-depth).
    *
    * The cumulative count is a two-level prefix sum (the PackOps
    * idiom), because for near-unique columns D ~ N and a
    * `Window.orderBy(value)` with no partition key would collapse the
    * distinct-value table into ONE sort task: values are bucketed by
    * their position in the [min, max] range (equal values share a
    * bucket; skew only costs balance, never correctness), the
    * in-bucket cumsum is an ordinary partitioned window, and bucket
    * totals cascade through one tiny window over `buckets` rows.
    *
    * Returns the (value, bin, cnt) mapping — D rows; join it back on
    * the value column for per-row bins (AQE broadcasts it when small),
    * or aggregate it directly for bin summaries.
    */
  def equidepthBins(df: DataFrame, value: String, nbins: Int,
                    buckets: Int = 64): DataFrame = {
    require(nbins > 0, s"equidepthBins: nbins=$nbins")
    distinctValueCum(df, value, buckets)
      .withColumn("bin",
        least(expr(s"((cum - cnt) * ${nbins}L) div total"), lit(nbins - 1L))
          .cast("int"))
      .select(col("value"), col("bin"), col("cnt"))
  }

  /** The shared cumulative-count core of `equidepthBins` /
    * `percentileRank`: (value, cnt, cum, total) per distinct value,
    * where `cum` counts rows with value ≤ this one — built with the
    * two-level prefix sum documented on `equidepthBins`.
    */
  private def distinctValueCum(df: DataFrame, value: String,
                               buckets: Int): DataFrame = {
    require(buckets > 0, s"distinctValueCum: buckets=$buckets")
    val v = col(value).cast("double")
    val nn = df.filter(v.isNotNull)
    // one driver row: N plus the value range that defines buckets —
    // fetched eagerly (the approxQuantileCuts pattern), which lets the
    // bucket expression be pure literals in BOTH consumers below; the
    // old formulation instead checkpointed the D-sized distinct-value
    // table to share it, an RDD pin a library caller could never release
    // (the leak class approxQuantileCuts had)
    val statsRow = nn.agg(count(lit(1)), min(v), max(v)).head()
    val total = statsRow.getLong(0)
    // empty/all-NULL column: lo/hi degenerate to a constant — every
    // branch below still planifies and the result is the same empty
    // (value, cnt, cum, total) frame the pinned formulation produced
    val (lo, hi) =
      if (statsRow.isNullAt(1)) (0.0, 0.0)
      else (statsRow.getDouble(1), statsRow.getDouble(2))
    def bucketOf(c: Column): Column =
      (if (hi == lo) lit(0)
       else least(floor((c - lit(lo)) / (lit(hi) - lit(lo)) * buckets),
         lit(buckets - 1.0))).cast("int")
    val bucketed = nn.groupBy(v.as("value")).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", bucketOf(col("value")))
      .withColumn("cum_in_bucket",
        sum("cnt").over(Window.partitionBy("bucket").orderBy("value")))
    // `buckets` rows computed off the BASE scan (a partial-aggregated
    // count — never the distinct-value groupBy), so the D-sized
    // aggregate above is consumed exactly once and nothing needs a
    // checkpoint; the tiny window is the only unpartitioned one.
    // NOTE: a dv→offsets rollup (one corpus pass instead of
    // two) was tried and REVERTED on measurement — the replanted dv
    // subtree's exchange is not reused across the broadcast-join
    // boundary (the trendingTerms lesson), so both corpus aggregates
    // still ran plus the extra rollup: `Probe stages` read +20% stage
    // input records and +56% CPU vs this shape
    val offsets = nn.groupBy(bucketOf(v).as("bucket"))
      .agg(count(lit(1)).as("bucket_total"))
      .withColumn("bucket_offset",
        coalesce(sum("bucket_total").over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("bucket_offset"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("bucket_offset") + col("cum_in_bucket"))
      .select(col("value"), col("cnt"), col("cum"), lit(total).as("total"))
  }

  /** Bin summaries (bin, n, lo, hi) from `equidepthBins` — aggregates
    * the D-row mapping, so the summary never rescans the data.
    */
  def equidepthSummary(df: DataFrame, value: String, nbins: Int): DataFrame =
    equidepthBins(df, value, nbins)
      .groupBy("bin")
      .agg(sum("cnt").as("n"),
           round(min("value"), 4).as("lo"),
           round(max("value"), 4).as("hi"))

  /** Percentile-rank normalization (the ML-feature transform): each
    * row gains `pct_rank` = (#rows with a strictly smaller value) / N
    * ∈ [0, 1), ties sharing a rank — SQL's `percent_rank` up to the
    * denominator (N, not N−1: the empirical CDF convention, exact
    * integer ratio). A window formulation globally sorts N rows in one
    * task; here the rank comes from the same distinct-value
    * cumulative-count machinery as `equidepthBins` (two-level prefix
    * sum, D-row shuffles), joined back on the value column — at 100 TB
    * the row data shuffles once, on the join, and AQE broadcasts the
    * mapping when D is small.
    */
  def percentileRank(df: DataFrame, value: String,
                     buckets: Int = 64): DataFrame = {
    // same guard as ZOrder.writeZOrdered's __z: the join would
    // otherwise silently collide with a caller column of these names
    require(!df.columns.contains("__v") && !df.columns.contains("__pr"),
      "percentileRank: input already has a __v/__pr column")
    val v = col(value).cast("double")
    val ranks = distinctValueCum(df, value, buckets)
      .select(col("value").as("__v"),
        ((col("cum") - col("cnt")).cast("double") / col("total")).as("__pr"))
    df.join(ranks, v === col("__v"), "left")
      .withColumn("pct_rank", round(col("__pr"), 6))
      .drop("__v", "__pr")
  }

  /** Quantile winsorization — clip a value column at its [pLo, pHi]
    * empirical quantiles (the robust-outliers sibling every feature/
    * score pipeline runs before normalization: heavy tails saturate
    * instead of dominating). Appends `lo`/`hi` (the cuts), `clipped`,
    * and `was_clipped`.
    *
    * Scale shape: ONE exact-percentile aggregate reduces the corpus to
    * a 2-value cut row (broadcast back); the clamp is a row-local
    * projection. Rows never shuffle. Exact percentile buffers the
    * column per group — one global group here, the q24/q67-audited
    * path; at extreme cardinality swap in approx_percentile and keep
    * the same clamp.
    */
  def winsorize(df: DataFrame, value: String, pLo: Double = 0.05,
                pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorize: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    Seq("lo", "hi", "clipped", "was_clipped").foreach(c =>
      require(!df.columns.contains(c),
        s"winsorize: input already has a $c column"))
    val v = col(value).cast("double")
    val cuts = df.agg(
      expr(s"percentile(`$value`, $pLo)").as("lo"),
      expr(s"percentile(`$value`, $pHi)").as("hi"))
    df.crossJoin(broadcast(cuts))
      // NULL stays NULL: Spark's least/greatest SKIP nulls, so an
      // unguarded clamp would fabricate p05-valued data for missing
      // rows (greatest(NULL, lo) = lo)
      .withColumn("clipped",
        when(v.isNotNull, least(greatest(v, col("lo")), col("hi"))))
      .withColumn("was_clipped",
        coalesce(v < col("lo") || v > col("hi"), lit(false)))
  }

  /** Deterministic approximate quantiles via an equi-width histogram —
    * the percentile SCALE path for near-continuous columns, where the
    * exact `percentile` aggregate buffers every value per group (the
    * q67-measured bottleneck: 18.9 s buffering a near-unique double
    * column that two histogram passes answer in a fraction).
    *
    * Returns ONE row with `cut_i` per requested prob: the upper edge
    * of the first histogram bucket whose cumulative count reaches
    * `ceil(p * n)`. Value error is bounded by one bucket width,
    * (max−min)/buckets; rank error by the bucket's occupancy
    * (ApproxSpec measures both on real data).
    *
    * Why not `approx_percentile`: its sketch is engine-specific — the
    * result is unreproducible outside Spark and ungradeable against
    * any oracle. This histogram is pure deterministic arithmetic
    * (floor/least/ceil over doubles), so ANY engine replays it
    * bit-for-bit — reproducibility a 100 TB pipeline wants from a
    * boundary that decides what data survives.
    *
    * Scale shape: two corpus passes, neither buffering values — a
    * min/max/count aggregate (1 row, fetched with `.head()` and
    * inlined as literals, the budgetSample pattern: nothing pinned for
    * a library caller to leak, and the stat crossJoins drop out of the
    * plan) and a partial-aggregated histogram groupBy (≤ `buckets`
    * rows). The only unpartitioned window runs over the buckets-sized
    * histogram (the equidepthBins convention). The stats job runs at
    * call time — same eager cost the checkpoint formulation paid,
    * without the JVM-lifetime RDD pin.
    */
  def approxQuantileCuts(df: DataFrame, value: String, probs: Seq[Double],
                         buckets: Int = 4096): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"approxQuantileCuts: probs must be in (0, 1], got $probs")
    require(buckets > 0, s"approxQuantileCuts: buckets=$buckets")
    // the stats frame is driver literals, so only the histogram's own
    // columns can collide
    (Seq("__bkt", "__cnt", "__cum") ++
        probs.indices.map(i => s"cut_$i")).foreach(c =>
      require(!df.columns.contains(c),
        s"approxQuantileCuts: input already has a $c column"))
    val v = col(value).cast("double")
    val statsRow = df.agg(min(v), max(v), count(v)).head()
    val nTotal = statsRow.getLong(2)
    // all-NULL/empty column: lo/hi are NULL and every cut is NULL —
    // the same degenerate row the checkpoint formulation produced
    val (loLit, hiLit) =
      if (statsRow.isNullAt(0))
        (lit(null).cast("double"), lit(null).cast("double"))
      else (lit(statsRow.getDouble(0)), lit(statsRow.getDouble(1)))
    val span = (hiLit - loLit) / lit(buckets.toDouble)
    // constant column (hi == lo): everything lands in bucket 0 and
    // every cut degenerates to lo — the guard keeps the division sane
    val bkt = when(hiLit === loLit, lit(0))
      .otherwise(least(floor((v - loLit) / span),
        lit((buckets - 1).toDouble)))
      .cast("int")
    val hist = df.filter(v.isNotNull)
      .groupBy(bkt.as("__bkt"))
      .agg(count(lit(1)).as("__cnt"))
    val cum = hist.withColumn("__cum",
      sum(col("__cnt")).over(Window.orderBy(col("__bkt"))))
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= ceil(lit(p) * lit(nTotal)), col("__bkt")))
        .as(s"__b$i")
    }
    cum.agg(aggs.head, aggs.tail: _*)
      .select(probs.indices.map { i =>
        (loLit + span * (col(s"__b$i") + 1)).as(s"cut_$i")
      }: _*)
  }

  /** Deterministic KMV (k-minimum-values) distinct-count sketch — the
    * approxQuantileCuts argument applied to COUNT DISTINCT: HLL
    * (`approx_count_distinct`) is engine-specific and ungradeable
    * (which is why an HLL row cannot be oracled); KMV over a
    * portable hash is pure deterministic arithmetic, so any engine
    * replays the estimate bit-for-bit. Estimator: normalize the md5
    * of each distinct value into (0,1]; with h_(k) the k-th smallest
    * per group, est = (k−1)/h_(k) (Bar-Yossef et al. 2002); a group
    * with fewer than k distinct values reports its EXACT count (the
    * sketch holds every hash — the standard KMV small-side fallback).
    * Relative error ~ 1/√k.
    *
    * Scale shape: one (keys, value) distinct shuffle, then a per-key
    * top-k window — `WindowGroupLimit` bounds every map partition's
    * contribution to k rows per key BEFORE the exchange, so the sketch
    * state that moves is k hashes per key, never the value set: the
    * same state bound a production KMV/theta sketch maintains, here as
    * a declarative plan.
    */
  def kmvDistinct(df: DataFrame, keys: Seq[String], value: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvDistinct: k=$k")
    Seq("__h", "__rk", "__n", "__hk", "n_distinct_est").foreach(c =>
      require(!df.columns.contains(c),
        s"kmvDistinct: input already has a $c column"))
    // md5 low-60-bits as a uniform double in (0,1]: first 15 hex
    // digits parsed to a long (< 2^60, exact), +1.0 AFTER the double
    // cast (so zero is impossible and the arithmetic order is fixed),
    // divided by the literal 2^60 — every step correctly rounded and
    // identical in any engine with md5 (the dedup_simhash contract)
    val h = (conv(substring(md5(col(value).cast("string").cast("binary")),
        1, 15), 16, 10).cast("double") + 1.0) /
      lit(1152921504606846976.0)
    val hashed = df.filter(col(value).isNotNull)
      .select((keys.map(col) :+ col(value)): _*).distinct()
      .withColumn("__h", h)
    // value as secondary sort key: two distinct values sharing a 60-bit
    // md5 prefix would otherwise make the k-th-smallest selection
    // order-dependent — the codebase's 'collisions are no concern, but
    // determinism is' tie-break convention, mirrored in the q82 oracle
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__h").asc, col(value).asc)
    hashed.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
           max(when(col("__rk") === k, col("__h"))).as("__hk"))
      .withColumn("n_distinct_est",
        when(col("__n") < k, col("__n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("__hk")))
      .drop("__n", "__hk")
  }

  /** The KMV sketch STATE behind [[kmvDistinct]] — per key group, the
    * k smallest md5-hash values with their (stringified) members: a
    * ~k-row/group mergeable summary (the count-distinct sibling of the
    * span/MinHash digest indexes). Store it once for the corpus; fold
    * ingest batches in with [[kmvMerge]]; read the estimate off the
    * state with [[kmvEstimate]] — the corpus is never rescanned.
    *
    * State schema: (keys..., __v string, __h double). The member
    * string rides along because (a) merge dedups on it exactly and
    * (b) it is the deterministic tie-break under 60-bit hash
    * collisions (the kmvDistinct convention).
    *
    * RETRACTION: KMV has no delete fold, by construction — the state
    * keeps only the k smallest hashes, so a deleted member's
    * replacement (the (k+1)-th smallest at build time) was discarded
    * and cannot be recovered from the state. Deleting documents from
    * the corpus is therefore a REBUILD over the survivors (one corpus
    * pass — the IVF codebook-retrain precedent; contrast
    * the span index, whose counts subtract). Deployments needing
    * cheap retraction keep the state SHARDED by ingest unit instead —
    * [[kmvSketchSharded]] / [[kmvEstimateSharded]]: dropping a shard
    * is an anti-join, and the estimate off the surviving shards stays
    * exact.
    */
  def kmvSketch(df: DataFrame, keys: Seq[String], value: String,
                k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvSketch: k=$k")
    Seq("__v", "__h", "__rk").foreach(c =>
      require(!df.columns.contains(c) && !keys.contains(c),
        s"kmvSketch: input already has a $c column"))
    val h = (conv(substring(md5(col("__v").cast("binary")), 1, 15), 16, 10)
      .cast("double") + 1.0) / lit(1152921504606846976.0)
    val hashed = df.filter(col(value).isNotNull)
      .select((keys.map(col) :+ col(value).cast("string").as("__v")): _*)
      .distinct()
      .withColumn("__h", h)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__h").asc, col("__v").asc)
    hashed.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Fold one KMV state into another (ingest maintenance): union,
    * exact dedup on the member, re-take the k smallest per group.
    * k-smallest-of-distinct-union is associative and commutative, so
    * merge ≡ rebuild EXACTLY and chained merges compose —
    * property-tested. Inputs are ~k-row/group
    * states; the merge never touches a corpus.
    */
  def kmvMerge(state: DataFrame, other: DataFrame, keys: Seq[String],
               k: Int = 64): DataFrame = {
    val cols = (keys :+ "__v" :+ "__h").map(col)
    kmvCompact(state.select(cols: _*).union(other.select(cols: _*)), keys, k)
  }

  /** [[kmvMerge]] on ONE frame holding any union of KMV states: exact
    * dedup on the member, then the k smallest per group. Because
    * merge(merge(X) ∪ Y) ≡ merge(X ∪ Y), a streamed sketch stores each
    * batch's sketch as a partial and resolves with this merge.
    */
  def kmvCompact(states: DataFrame, keys: Seq[String],
                 k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvCompact: k=$k")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__h").asc, col("__v").asc)
    states.groupBy((keys :+ "__v").map(col): _*).agg(first(col("__h")).as("__h"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** The [[kmvDistinct]] estimator read off a stored state: per group,
    * n_distinct_est = n when the sketch is unsaturated (n < k — the
    * count IS exact), else (k−1)/h_k with h_k the k-th smallest hash
    * (= the state's max). One partial-aggregated pass over ~k-row
    * groups.
    */
  def kmvEstimate(state: DataFrame, keys: Seq[String],
                  k: Int = 64): DataFrame =
    state.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), max(col("__h")).as("__hk"))
      .withColumn("n_distinct_est",
        when(col("__n") < k, col("__n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("__hk")))
      .drop("__n", "__hk")

  /** SHARDED KMV state — the retraction story [[kmvSketch]] documents:
    * a plain min-sketch cannot subtract, so deleting documents forces
    * a full-corpus rebuild. Keeping one sketch PER INGEST SHARD
    * (per-batch, per-day, per-source — whatever the takedown unit is)
    * makes retraction an id anti-join again: drop the affected shards'
    * rows (the `FoldLaw.kmvShards` delete, graft.streaming) and re-read
    * the estimate off the survivors
    * ([[kmvEstimateSharded]]). The estimate stays EXACT, not
    * approximate-on-top-of-approximate: each of the union's k
    * smallest hashes is necessarily within its own shard's k
    * smallest, so kMin(∪ shard sketches) = kMin(∪ shard member sets)
    * — the same identity that makes [[kmvMerge]] ≡ rebuild
    * (property-tested in OpsSpec as delete ≡ rebuild-without).
    *
    * State: one [[kmvSketch]] per (shardCol, keys...) group — ~k rows
    * per shard per key group, fixed-width; a new ingest batch appends
    * its own shard's sketch (one batch-sized pass, the corpus never
    * rescanned). The trade vs the unsharded state is state size
    * (shards × k rows per group) — the price of O(|deleted shards|)
    * retraction instead of O(corpus) rebuild.
    */
  def kmvSketchSharded(df: DataFrame, keys: Seq[String], value: String,
                       shardCol: String, k: Int = 64): DataFrame =
    kmvSketch(df, shardCol +: keys, value, k)

  /** The [[kmvDistinct]] estimator off a SHARDED state: exact-dedup
    * the member strings across shards (a member present in many
    * shards carries one hash), re-take the k smallest per key group
    * (the [[kmvMerge]] tail over all surviving shards at once), and
    * estimate. Everything is state-sized: the input is ~k rows per
    * shard per group, never the corpus.
    */
  def kmvEstimateSharded(state: DataFrame, keys: Seq[String],
                         k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvEstimateSharded: k=$k")
    val uni = state.groupBy((keys :+ "__v").map(col): _*)
      .agg(first(col("__h")).as("__h"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__h").asc, col("__v").asc)
    kmvEstimate(uni.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk"), keys, k)
  }


  /** Per-group [[approxQuantileCuts]] — the grouped percentile SCALE
    * path: one row of `cut_i` boundaries PER KEY GROUP, so per-domain
    * winsorization/robust gates run over near-continuous columns
    * without per-group exact-percentile buffers (the q67-measured
    * bottleneck) and without an unpartitioned window. Same
    * deterministic equi-width histogram as the global op (any engine
    * replays the boundary bit-for-bit); the group's own min/max span
    * the buckets, so error stays ≤ (max_g − min_g)/buckets per group.
    *
    * Scale shape: two corpus passes — the S-row per-key stats
    * aggregate (broadcast back for bucketing) and the partial-
    * aggregated per-(key, bucket) histogram (≤ S×B rows) — then
    * everything runs histogram-sized: the cumulative window is
    * PARTITIONED BY the keys (≤ B rows per partition), and the cut
    * selection is a keys-sized aggregate. Stats ride the histogram
    * rows via `first` (constant per key), so nothing re-joins.
    */
  def approxQuantileCutsBy(df: DataFrame, keys: Seq[String], value: String,
                           probs: Seq[Double],
                           buckets: Int = 4096): DataFrame = {
    require(keys.nonEmpty, "approxQuantileCutsBy: no key columns")
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"approxQuantileCutsBy: probs must be in (0, 1], got $probs")
    require(buckets > 0, s"approxQuantileCutsBy: buckets=$buckets")
    (Seq("__lo", "__hi", "__total", "__bkt", "__cnt", "__cum") ++
        probs.indices.map(i => s"cut_$i")).foreach(c =>
      require(!df.columns.contains(c) && !keys.contains(c),
        s"approxQuantileCutsBy: column $c collides with an internal name"))
    val v = col(value).cast("double")
    val stats = df.groupBy(keys.map(col): _*)
      .agg(min(v).as("__lo"), max(v).as("__hi"), count(v).as("__total"))
    val span = (col("__hi") - col("__lo")) / lit(buckets.toDouble)
    val bkt = when(col("__hi") === col("__lo"), lit(0))
      .otherwise(least(floor((v - col("__lo")) / span),
        lit((buckets - 1).toDouble)))
      .cast("int")
    val hist = df.join(broadcast(stats), keys)
      .filter(v.isNotNull)
      .groupBy(keys.map(col) :+ bkt.as("__bkt"): _*)
      .agg(count(lit(1)).as("__cnt"), first(col("__lo")).as("__lo"),
        first(col("__hi")).as("__hi"), first(col("__total")).as("__total"))
    val cum = hist.withColumn("__cum",
      sum(col("__cnt")).over(Window.partitionBy(keys.map(col): _*)
        .orderBy(col("__bkt"))))
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= ceil(lit(p) * col("__total")), col("__bkt")))
        .as(s"__b$i")
    } ++ Seq(first(col("__lo")).as("__lo"), first(col("__hi")).as("__hi"))
    cum.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keys.map(col) ++ probs.indices.map { i =>
        (col("__lo") +
          ((col("__hi") - col("__lo")) / lit(buckets.toDouble)) *
            (col(s"__b$i") + 1)).as(s"cut_$i")
      }: _*)
  }

  /** [[winsorize]] through [[approxQuantileCuts]] — identical clamp
    * semantics (NULL-preserving, appends lo/hi/clipped/was_clipped)
    * with the histogram boundaries instead of the exact-percentile
    * buffer: the variant to reach for when the column is
    * near-continuous at corpus scale and an error of one bucket width
    * in the cut is acceptable (for clipping heavy tails it always is).
    */
  def winsorizeApprox(df: DataFrame, value: String, pLo: Double = 0.05,
                      pHi: Double = 0.95, buckets: Int = 4096): DataFrame = {
    require(pLo > 0 && pHi <= 1 && pLo < pHi,
      s"winsorizeApprox: need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    Seq("lo", "hi", "clipped", "was_clipped").foreach(c =>
      require(!df.columns.contains(c),
        s"winsorizeApprox: input already has a $c column"))
    val v = col(value).cast("double")
    val cuts = approxQuantileCuts(df, value, Seq(pLo, pHi), buckets)
      .select(col("cut_0").as("lo"), col("cut_1").as("hi"))
    df.crossJoin(broadcast(cuts))
      // NULL stays NULL — the same guard winsorize carries
      .withColumn("clipped",
        when(v.isNotNull, least(greatest(v, col("lo")), col("hi"))))
      .withColumn("was_clipped",
        coalesce(v < col("lo") || v > col("hi"), lit(false)))
  }

  /** Key-skew report — the shuffle-planning diagnostic every 100 TB
    * join/aggregate decision starts from: per-key row counts reduced
    * to the `topK` heaviest keys with their share of the table and
    * skew ratio (count ÷ mean-per-key). A ratio ≫ 1 on a join key is
    * the signal to salt (q60's pattern) or isolate the hot keys; a
    * flat report clears the plain hash-partitioned path.
    *
    * Scale shape: one partial-aggregated count per key (the wordcount
    * shuffle), then everything else — the 1-row total/mean aggregate
    * and the topK selection — runs over the keys-sized count table,
    * never the corpus. The topK selection is `orderBy(...).limit(topK)`,
    * which Catalyst plans as `TakeOrderedAndProject`: each task keeps
    * its own topK then the driver merges K-sized slices — no
    * single-task sort, even when the key space itself is huge (the one
    * operator whose input cardinality is *distinct keys of a skewed
    * table*, so that matters). The rank window that follows runs over
    * the ≤topK surviving rows only. The broadcast is 1 row.
    */
  def skewReport(df: DataFrame, keys: Seq[String],
                 topK: Int = 10): DataFrame = {
    require(keys.nonEmpty, "skewReport: no key columns")
    // key columns must not collide with the report's own columns
    Seq("cnt", "rank", "pct_rows", "skew_ratio", "__total", "__nkeys").foreach(c =>
      require(!keys.contains(c), s"skewReport: key column $c collides with a report column"))
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).as("__total"), count(lit(1)).as("__nkeys"))
    val ord = col("cnt").desc +: keys.map(col(_).asc)
    // TakeOrderedAndProject over the keys-sized table; the window below
    // only ever sees ≤ topK rows (keys in the ordering = deterministic).
    val top = counts.orderBy(ord: _*).limit(topK)
    val w = Window.orderBy(ord: _*)
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w))
      .withColumn("pct_rows",
        round(col("cnt").cast("double") / col("__total") * 100.0, 4))
      .withColumn("skew_ratio",
        round(col("cnt").cast("double") * col("__nkeys") / col("__total"), 4))
      .select((col("rank") +: keys.map(col)) ++
        Seq(col("cnt"), col("pct_rows"), col("skew_ratio")): _*)
  }

  /** Per-group z-score outlier filter (quality-gate family): two
    * passes — a per-key mean/stddev aggregate (keys-cardinality rows,
    * broadcast back) and a row-local filter on |v - mean|/std. No row
    * ever shuffles; the stats table is the only exchanged data, so the
    * pattern holds at any corpus size. Groups with zero variance emit
    * no outliers (z is NULL there, filtered).
    */
  def zscoreOutliers(df: DataFrame, keys: Seq[String], value: String,
                     zThresh: Double): DataFrame = {
    val v = col(value).cast("double")
    val stats = df.groupBy(keys.map(col): _*)
      .agg(avg(v).as("__mean"), stddev_pop(v).as("__std"))
    df.join(broadcast(stats), keys)
      // try_divide: a zero-variance group yields NULL z (not an ANSI
      // divide-by-zero error), and NULL fails the threshold filter.
      .withColumn("z", try_divide(v - col("__mean"), col("__std")))
      .filter(abs(col("z")) > zThresh)
      .drop("__mean", "__std")
  }

  /** Median/MAD robust outlier gate — the heavy-tail-safe sibling of
    * `zscoreOutliers`: mean/stddev are themselves dragged by the
    * outliers they hunt, so production quality gates prefer the median
    * and the Median Absolute Deviation. Two grouped percentile
    * aggregates (per-key medians broadcast back between them — keys ×
    * tiny rows, never row data), then a row-local filter on
    * |v − median| / MAD. `percentile` is exact interpolated (the
    * engine≡oracle parity q24 already proves); zero-MAD groups emit
    * nothing (NULL via try_divide, same convention as zscoreOutliers).
    *
    * `pin = false` (the default) is the SAFE library shape: nothing is
    * checkpointed, so an embedder that never sweeps caches leaks
    * nothing — the price is that the MAD broadcast's subplan re-runs
    * the median pass (scan + heavy ObjectHashAggregate percentile
    * buffers) a second time and the final plan a third (measured
    * ~1 s → 3.1 s warm at sf0.1). `pin = true` eagerly
    * localCheckpoints the two keys-sized stats tables to kill the
    * recompute; the pins are keys-sized RDD blocks that live until
    * `Hygiene.clearAll` (what Bench/Verify run) or session end, so
    * ONLY opt in from a harness that controls hygiene (the graded q67
    * does — the approxQuantileCuts/distinctValueCum leak class must
    * never be a default a library embedder silently inherits). A pin-free
    * single-pass window formulation was measured too (diff = 0,
    * tools/Probe): it shuffles full corpus rows where this shape only
    * ever exchanges keys-sized stats — the wrong trade at 100 TB.
    */
  def robustOutliers(df: DataFrame, keys: Seq[String], value: String,
                     kThresh: Double, pin: Boolean = false): DataFrame = {
    val v = col(value).cast("double")
    def maybePin(stats: DataFrame): DataFrame =
      if (pin) stats.localCheckpoint(true) else stats
    val med = maybePin(df.groupBy(keys.map(col): _*)
      .agg(percentile(v, lit(0.5)).as("__med")))
    val withMed = df.join(broadcast(med), keys)
    val mad = maybePin(withMed.groupBy(keys.map(col): _*)
      .agg(percentile(abs(v - col("__med")), lit(0.5)).as("__mad")))
    withMed.join(broadcast(mad), keys)
      .withColumn("rz", try_divide(v - col("__med"), col("__mad")))
      .filter(abs(col("rz")) > kThresh)
      .drop("__med", "__mad")
  }

  /** Skew-safe two-phase aggregation: group on (keys, salt) first so a
    * hot key spreads over `buckets` reduce tasks, then re-aggregate on
    * the true keys. The salt is a pure function of `saltCols` (default:
    * the value column), so partial-sum groupings — and therefore any
    * float rounding — are bit-reproducible across runs, partitionings,
    * and task retries. When the hot key's values are constant (e.g.
    * counting with value=1), pass a high-entropy deterministic column
    * (a row id) as `saltCols`, or rely on Catalyst's map-side partial
    * aggregation, which already compresses constant-value hot keys.
    * The two-phase pattern is what transfers to buffer-heavy aggregates
    * (collect-style, exact distinct) where partials can't compress a
    * hot key. At 100 TB this is the pattern for power-law keys where
    * AQE skew handling isn't enough.
    */
  def saltedSumByKey(df: DataFrame, keys: Seq[String], value: String,
                     buckets: Int = 16, as: String = "sum_value",
                     saltCols: Seq[Column] = Nil): DataFrame = {
    val entropy = if (saltCols.nonEmpty) saltCols else Seq(col(value))
    val salted = df.withColumn("__salt", pmod(xxhash64(entropy: _*), lit(buckets)))
    salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(value)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(as))
  }

  /** C5 `identitymapper`: passthrough. */
  def identityMap(df: DataFrame): DataFrame = df

  /** C8 `setstatus`/query-level counters: named observable metrics
    * attached to the plan — the declarative complement to accumulators
    * (read after an action via QueryExecutionListener or
    * `df.observe` + collect).
    */
  def observed(df: DataFrame, name: String, metrics: Seq[Column]): DataFrame =
    df.observe(name, metrics.head, metrics.tail: _*)
}
