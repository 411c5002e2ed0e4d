package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, EvalOps, LibOps, SimOps}
import graft.streaming.DeltaState.{DeltaFoldSpec, MergeFoldSpec}

/** The two laws every incrementally maintained state in graft follows.
  * An instance is a state family: `derive` builds its state from input
  * rows, and the law says how a stored state takes a batch in, lets a
  * batch out, and folds a CDC stream under [[DeltaState]]:
  *
  *  - [[FoldLaw.PerDoc]]: state rows are per-document facts keyed by
  *    `id` (minhash bands, simhash signatures and segments, IVF cell
  *    assignments, KMV shards). Merge is a union, delete an id
  *    anti-join, and the stream fold a [[DeltaFoldSpec]].
  *  - [[FoldLaw.Counted]]: state rows are additive counts per group of
  *    `keys` (span occurrences, bucket stats, histogram bins, score
  *    counts). Merge and delete are one signed group-sum, and the stream
  *    fold a [[MergeFoldSpec]].
  *
  * For input sets with distinct ids (PerDoc) or disjoint rows
  * (Counted), both give `merge(derive(A), B) ≡ derive(A ∪ B)` and
  * `delete(merge(derive(A), B), B) ≡ derive(A)` (a Counted law takes
  * `derive(B)` where a PerDoc law takes `B`); PropertySpec checks both,
  * and the stream fold, once per law over every instance below.
  */
object FoldLaw {

  /** Per-document facts. `derive` maps input rows to state rows that
    * carry the `id` column; ids must be unique across ingests (a
    * re-ingested id doubles its rows, exactly as re-unioning the doc
    * into a rebuild would).
    */
  final case class PerDoc(id: String, derive: DataFrame => DataFrame) {
    /** `index ∪ derive(docs)`, over derive's columns. The stored index
      * is never rescanned beyond the union, so each fold costs one
      * batch-sized derivation. */
    def merge(index: DataFrame, docs: DataFrame): DataFrame = {
      val rows = derive(docs)
      index.select(rows.columns.map(col).toSeq: _*).unionByName(rows)
    }

    /** `index` minus every row whose `id` is in `ids`: one id-keyed
      * anti-join, which needs the deleted ids only. The anti-join is
      * duplicate-insensitive, so `ids` needs no distinct. */
    def delete(index: DataFrame, ids: DataFrame): DataFrame =
      index.join(ids.select(col(id)), Seq(id), "left_anti")

    /** The stream fold: each batch appends `derive(adds(batch))` and
      * tombstones the `id`s of `dels(batch)`. */
    def fold(adds: DataFrame => DataFrame,
             dels: DataFrame => DataFrame): DeltaFoldSpec =
      DeltaFoldSpec(add = b => derive(adds(b)),
        del = Some(b => dels(b).select(col(id))))

    /** The stream fold of an add-only feed. */
    def foldAdds(adds: DataFrame => DataFrame): DeltaFoldSpec =
      DeltaFoldSpec(add = b => derive(adds(b)))
  }

  /** Additive counts: `derive` maps input rows to one row per group of
    * `keys` with the `counts` columns. Counts over disjoint inputs add,
    * so a merge or a delete is a group-sum over the union, with a
    * delete's counts negated first.
    *
    * [[sum]] drops a group when all its counts are zero (`=!= 0`), the
    * rule [[MergeFoldSpec]]'s `merge` contract requires: a zero group
    * adds nothing to any later sum, whereas dropping negative groups
    * would forget a retraction a later add should cancel. Whenever a
    * retracted row was ingested before, no group goes negative, so
    * this is the same as keeping the groups above zero.
    */
  final case class Counted(keys: Seq[String], counts: Seq[String])
                          (val derive: DataFrame => DataFrame) {
    private def cols: Seq[Column] = (keys ++ counts).map(col)

    /** Group-sum of any union of state rows, dropping all-zero groups. */
    def sum(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(F.sum(col(counts.head)).as(counts.head),
          counts.tail.map(c => F.sum(col(c)).as(c)): _*)
        .filter(counts.map(c => col(c) =!= 0).reduce(_ || _))

    /** The state rows with every count negated: a retraction. */
    def negate(df: DataFrame): DataFrame =
      df.select(keys.map(col) ++ counts.map(c => (-col(c)).as(c)): _*)

    /** `sum(a ∪ b)` for two states. */
    def merge(a: DataFrame, b: DataFrame): DataFrame =
      sum(a.select(cols: _*).unionByName(b.select(cols: _*)))

    /** `sum(a ∪ negate(b))`: retract state `b` from state `a`. */
    def delete(a: DataFrame, b: DataFrame): DataFrame =
      sum(a.select(cols: _*).unionByName(negate(b)))

    /** The stream fold: each batch publishes the signed partial
      * `derive(adds(batch)) ∪ negate(derive(dels(batch)))`, and reads
      * and compactions [[sum]] base ∪ partials. */
    def fold(adds: DataFrame => DataFrame,
             dels: DataFrame => DataFrame): MergeFoldSpec =
      MergeFoldSpec(
        partial = b => derive(adds(b)).select(cols: _*)
          .unionByName(negate(derive(dels(b)))),
        merge = sum)

    /** The stream fold of an add-only feed. */
    def foldAdds(adds: DataFrame => DataFrame): MergeFoldSpec =
      MergeFoldSpec(partial = b => derive(adds(b)), merge = sum)

    /** The stream fold of a feed whose rows are already signed
      * contributions: `rows(batch)` has the state's columns, one row per
      * feed row, with a retraction's counts negated. Each batch
      * publishes [[sum]] of them, one aggregate where [[fold]] runs
      * `derive` twice. */
    def foldSigned(rows: DataFrame => DataFrame): MergeFoldSpec =
      MergeFoldSpec(partial = b => sum(rows(b)), merge = sum)
  }

  // ------------------------------------------------------- PerDoc instances

  /** The [[DedupOps.minhashIndex]] band rows of text docs. */
  def minhashBands(textCol: String, idCol: String, shingleN: Int = 3): PerDoc =
    PerDoc(idCol, DedupOps.minhashIndex(_, textCol, idCol, shingleN))

  /** The [[DedupOps.simhashIndex]] signature rows of text docs. */
  def simhashSignatures(textCol: String, idCol: String): PerDoc =
    PerDoc(idCol, DedupOps.simhashIndex(_, textCol, idCol))

  /** The [[DedupOps.simhashSegmentIndex]] rows of text docs. */
  def simhashSegments(textCol: String, idCol: String): PerDoc =
    PerDoc(idCol, df => DedupOps.simhashSegmentIndex(
      DedupOps.simhashIndex(df, textCol, idCol), idCol))

  /** The [[SimOps.ivfIndex]] cell assignments of vectors under one
    * pinned codebook. The instance holds the codebook, so every merge
    * assigns under the codebook the index was built with; a different
    * codebook is a retrain, which rebuilds the index. */
  def ivfCells(idCol: String, embCol: String,
               codebook: Array[Array[Double]]): PerDoc =
    PerDoc(idCol, SimOps.ivfIndex(_, idCol, embCol, codebook))

  /** The [[LibOps.kmvSketchSharded]] state: one sketch per shard, so
    * the shard is the unit a delete retires. */
  def kmvShards(keys: Seq[String], value: String, shardCol: String,
                k: Int = 64): PerDoc =
    PerDoc(shardCol, LibOps.kmvSketchSharded(_, keys, value, shardCol, k))

  // ------------------------------------------------------ Counted instances

  /** The [[DedupOps.spanIndex]] window-digest occurrence counts. */
  def spanOccurrences(textCol: String, idCol: String, n: Int = 10): Counted =
    Counted(Seq("fp"), Seq("occ"))(DedupOps.spanIndex(_, textCol, idCol, n))

  /** [[DedupOps.minhashBucketStats]], derived from band rows. */
  val minhashBucketStats: Counted =
    Counted(Seq("band_idx", "band_hash"), Seq("bucket_n"))(
      DedupOps.minhashBucketStats)

  /** [[DedupOps.simhashSegmentStats]], derived from segment rows. */
  val simhashSegmentStats: Counted =
    Counted(Seq("seg_idx", "seg_val"), Seq("bucket_n"))(
      DedupOps.simhashSegmentStats)

  /** The sparse [[LibOps.histState]] bin counts. */
  def histBins(value: String, lo: Double, width: Double, nbins: Int): Counted =
    Counted(Seq("bin"), Seq("n"))(LibOps.histState(_, value, lo, width, nbins))

  /** The [[EvalOps.scoreCounts]] per-score class counts. */
  def scoreCounts(scoreCol: String, labelCol: String,
                  keys: Seq[String] = Nil): Counted =
    Counted(keys :+ "score", Seq("n_pos", "n_neg"))(
      EvalOps.scoreCounts(_, scoreCol, labelCol, keys))
}
