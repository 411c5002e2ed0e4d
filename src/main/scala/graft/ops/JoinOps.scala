package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join parity (SURVEY.md §2.4; `dumbo/lib/__init__.py :: JoinReducer`,
  * `dumbo/decor.py :: primary/secondary`, `examples/join.py`).
  *
  * dumbo's only join is the tagged reduce-side equi-join: primary
  * (dimension) values sort first within each key and are buffered in
  * memory, secondary (fact) rows stream past them. That "primary fits
  * in memory" assumption is exactly Spark's broadcast-hash-join
  * criterion, so the faithful scale mapping is `broadcast(primary)`;
  * when the primary is NOT small Catalyst falls back to sort-merge —
  * which is dumbo's reduce-side join generalized. Either way we gain
  * outer/semi/anti variants for free.
  */
object JoinOps {

  /** J2 MultiMapper: one logical job, per-source mapper. dumbo dispatches
    * on the task's input path; we apply each source's transform and union
    * by name — each branch keeps its own pushdown/pruning.
    */
  def multiSourceDispatch(sources: Seq[(DataFrame, DataFrame => DataFrame)]): DataFrame =
    sources.map { case (df, f) => f(df) }.reduce(_.unionByName(_))

  /** C9 path tagging (`-addpath`): key each row with its input file. */
  def withInputPath(df: DataFrame, as: String = "input_path"): DataFrame =
    df.withColumn(as, input_file_name())

  /** Backward as-of join: for each left row, the single latest right
    * row with `right.tsCol <= left.tsCol` (inclusive) on the same keys;
    * left rows with no prior right row keep null payloads (left-outer
    * as-of).
    *
    * Implemented as a union-merge: tag sides, sort each key group by
    * (ts, side) — right rows sort before left at equal ts so "at or
    * before" is inclusive — and carry the last non-null right payload
    * forward with `last(_, ignoreNulls)` over a running window. ONE
    * shuffle on the key, stream-ordered within groups; never a per-row
    * scan of the right side (the range-join formulation degenerates to
    * O(|L|·|R|) per key, which at 100 TB is the difference between a
    * merge pass and a cross product).
    *
    * `rightPayload` columns are emitted as `asof_<name>`; left columns
    * pass through unchanged.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       tsCol: String, rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // payloads ride in ONE struct: the struct is non-null for every
    // right row even when individual fields are null, so
    // last(ignoreNulls) matches the latest right ROW atomically — a
    // per-column carry would skip genuinely-null payload values and
    // stitch together fields from different right rows
    val payloadStruct = struct(rightPayload.map(c => col(c).as(s"asof_$c")): _*)
    val r = right
      .withColumn("__side", lit(0))
      .select((keys.map(col) :+ col(tsCol) :+ col("__side")) ++
        leftCols.filterNot(c => keys.contains(c) || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        payloadStruct.as("__asof"): _*)
    val l = left
      .withColumn("__side", lit(1))
      .select((leftCols.map(col) :+ col("__side")) :+
        lit(null).cast(r.schema("__asof").dataType).as("__asof"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = l.unionByName(r)
      .withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    rightPayload.foldLeft(merged)( (df, c) =>
        df.withColumn(s"asof_$c", col(s"__asof.asof_$c")))
      .drop("__side", "__asof")
  }

  /** Salted equi-join — the skew escape hatch when the small side is
    * too big to broadcast and one join key dominates (the
    * all-events-from-one-user shape that stalls a plain shuffle join
    * on a single reducer). The large side's rows are spread over
    * `saltBuckets` sub-keys; the small side is replicated once per
    * bucket, so every (key, salt) partition holds 1/`saltBuckets` of
    * the hot key's rows. Cost: small side × saltBuckets — salt just
    * enough to flatten the hottest key. Result set is identical to the
    * unsalted join (every pair meets in exactly one bucket).
    *
    * The salt is derived from a hash of the large row's full tuple
    * (NOT the key — that would keep the hot key together), so the
    * plan stays deterministic and partition-invariant; AQE's runtime
    * skew-join does this adaptively, this operator is the explicit
    * form for non-AQE contexts and for pinning the fan-out in tests.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    val l = large.withColumn("__salt",
      pmod(xxhash64(large.columns.map(col).toSeq: _*), lit(saltBuckets))
        .cast("int"))
    val s = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    l.join(s, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Blocked fuzzy self/two-sided join: string-similarity matching
    * without the all-pairs cross product. Candidates are generated by
    * an equi-join on `blockKey` (a cheap canonical key both of a true
    * match's sides share — a token, a length bucket, a phonetic code,
    * a q-gram bucket), then verified with exact Levenshtein distance.
    * At 100 TB the blocking key IS the operator: candidates are
    * per-block quadratic, so blocks must be bounded (same maxDF
    * discipline as the n-gram dedup path); everything downstream is a
    * plain equi-join + codegen'd per-pair verify.
    *
    * Emits (left AS a, right AS b, dist) for verified pairs with
    * `a < b` (canonical orientation, no self-pairs).
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame, strCol: String,
                blockKey: Column => Column, maxDist: Int): DataFrame = {
    val a = left.select(col(strCol).as("a")).distinct()
      .withColumn("__bk", blockKey(col("a")))
    val b = right.select(col(strCol).as("b")).distinct()
      .withColumn("__bk", blockKey(col("b")))
    a.join(b, Seq("__bk"))
      .filter(col("a") < col("b"))
      .withColumn("dist", levenshtein(col("a"), col("b")))
      .filter(col("dist") <= maxDist)
      .drop("__bk")
  }
}
