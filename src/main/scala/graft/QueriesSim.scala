package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops._
import graft.QHelp._

/** Similarity-search family: brute/LSH/IVF/PQ ANN, MMR, hybrid RRF,
  * probe evals, cluster cards. */
private[graft] object QueriesSim {


  /** ann_cosine_topk — exact brute-force cosine top-5 for 10 query
    * vectors; double-precision on both sides for oracle parity.
    */
  private val a01 = Q(
    "ann_cosine_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
        .orderBy($"qid", $"rnk")
    },
    Some("""
      SELECT qid, nid, sim, rnk FROM (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS INTEGER) AS rnk
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** ann_lsh_topk — sign-LSH bucketed variant (the 100 TB scale path).
    * The hash family is fixed-seed deterministic, so the oracle is a
    * full DuckDB mirror (same planes, same bucketing, same re-rank) —
    * hash-compared, not merely recall-checked.
    */
  private val a02 = Q(
    "ann_lsh_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.lshTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
        .orderBy($"qid", $"rnk")
    },
    Some(s"""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
          ${lshBucketSql("embedding::DOUBLE[]", 64)} AS bucket
        FROM embeddings)
      SELECT qid, nid, sim, rnk FROM (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               round(list_cosine_similarity(q.emb, c.emb), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) AS INTEGER) AS rnk
        FROM b q JOIN b c USING (bucket)
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** ann_ivf_topk — IVF-flat probe variant. The codebook is
    * deterministic (the 16 lowest-id corpus vectors) and assignment /
    * probing are pure double arithmetic, so the oracle mirrors the
    * whole index: build codebook, assign argmax cell (ties to the
    * higher cell, like CellArgmax), probe the 2 best cells, exact
    * re-rank inside them.
    */
  /** The full IVF-flat probe oracle chain, parameterized by the
    * codebook-source and corpus predicates (the
    * minhashIncrementalSql one-definition idiom; round 9, was two
    * hand-kept copies): replays the deterministic lowest-id codebook,
    * per-vector argmax assignment (ties to the higher cell, like
    * CellArgmax), 2-best-cell probing for the vec_id < 10 queries,
    * and exact in-cell re-rank. Serves a03 (inline, full corpus),
    * a03u (fold-in maintenance: merged index ≡ rebuild on the union),
    * a03d (retraction: deleted index ≡ rebuild on the survivors), and
    * the streaming ingest parity — which by the per-row-assignment
    * laws differ ONLY in these predicates.
    */
  private[graft] def ivfProbeOracleSql(cbPred: String,
                                       corpusPred: String): String = {
    def w(pred: String): String = if (pred.isEmpty) "" else s" WHERE $pred"
    s"""
      WITH cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding::DOUBLE[] AS cvec,
               1.0 / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cinv
        FROM (SELECT vec_id, embedding FROM embeddings${w(cbPred)}
              ORDER BY vec_id LIMIT 16) s),
      scored AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, cb.cell,
               list_dot_product(e.embedding::DOUBLE[], cb.cvec) * cb.cinv AS score
        FROM (SELECT * FROM embeddings${w(corpusPred)}) e CROSS JOIN cb),
      assign AS (
        SELECT vec_id AS nid, emb AS c_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS r
          FROM scored) t WHERE r = 1),
      probe AS (
        SELECT vec_id AS qid, emb AS q_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS r
          FROM scored WHERE vec_id < 10) t WHERE r <= 2)
      SELECT qid, nid, sim, rnk FROM (
        SELECT q.qid, c.nid,
               round(list_cosine_similarity(q.q_emb, c.c_emb), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC, c.nid) AS INTEGER) AS rnk
        FROM probe q JOIN assign c USING (cell)
        WHERE q.qid <> c.nid) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""
  }

  private val a03 = Q(
    "ann_ivf_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.ivfTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
        .orderBy($"qid", $"rnk")
    },
    Some(ivfProbeOracleSql("", "")))


  /** ann_ivf_index_update — the ANN family's ingest lifecycle
    * (round 8; the dedup_*_index_update sibling): IVF assignment
    * index built over the vec_id < 200 snapshot under the snapshot's
    * pinned lowest-id codebook, the 200–399 batch folded in with
    * `ivfIndexMerge` (per-row assignment under a FIXED codebook ⇒
    * merge = plain union ≡ rebuild exactly — re-deriving the codebook
    * from the grown corpus is the RETRAIN event, by design not this
    * op), then queries probe the MERGED index via `ivfTopKIndexed` —
    * the corpus is never re-assigned. Because the snapshot holds the
    * 16 lowest ids of the union, the pinned snapshot codebook equals
    * the one-shot default codebook of the union, so the oracle is
    * a03's full replay restricted to vec_id < 400 — any merge defect
    * (lost vector, stale cell) changes candidates and fails the hash.
    */
  private val a03u = Q(
    "ann_ivf_index_update",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val snap = e.filter($"vec_id" < 200)
      val cb = SimOps.lowestIdCodebook(snap, "vec_id", "embedding", 16)
      val merged = SimOps.ivfIndexMerge(
        SimOps.ivfIndex(snap, "vec_id", "embedding", cb),
        e.filter($"vec_id" >= 200 && $"vec_id" < 400),
        "vec_id", "embedding", cb)
      SimOps.ivfTopKIndexed(e.filter($"vec_id" < 10), merged,
          "vec_id", "embedding", cb, k = 5)
        .orderBy($"qid", $"rnk")
    },
    Some(ivfProbeOracleSql("vec_id < 200", "vec_id < 400")))

  /** ann_ivf_index_delete — the RETRACTION half of the ANN lifecycle
    * (round 9; a03u is the fold-in half): assignment index built over
    * vec_id < 400 under the pinned < 200 snapshot codebook, the
    * 200–399 vectors then RETRACTED via `ivfIndexDelete` (assignment
    * rows are per-vector facts — one id anti-join, embeddings never
    * touched; the codebook stays pinned BY DESIGN — re-deriving it
    * from the shrunk corpus is the retrain event, which rebuilds).
    * By the delete law the probe against the retracted index must
    * equal the one-shot replay over the survivors (vec_id < 200) —
    * the shared ivfProbeOracleSql chain (the pinned codebook IS the
    * survivors' lowest-id codebook, so the oracle's rebuild matches
    * structurally). A leaked deleted vector resurfaces as a
    * candidate; an over-deleted one vacates a top-5 slot — either
    * fails the hash.
    */
  private val a03d = Q(
    "ann_ivf_index_delete",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val cb = SimOps.lowestIdCodebook(
        e.filter($"vec_id" < 200), "vec_id", "embedding", 16)
      val retracted = SimOps.ivfIndexDelete(
        SimOps.ivfIndex(e.filter($"vec_id" < 400), "vec_id", "embedding", cb),
        e.filter($"vec_id" >= 200 && $"vec_id" < 400).select($"vec_id"),
        "vec_id")
      SimOps.ivfTopKIndexed(e.filter($"vec_id" < 10), retracted,
          "vec_id", "embedding", cb, k = 5)
        .orderBy($"qid", $"rnk")
    },
    Some(ivfProbeOracleSql("vec_id < 200", "vec_id < 200")))


  /** ann_ivf_delta_probe — the delta-overlay × exchange-free
    * composition on the ANN family (round 12: with the simhash
    * segment, minhash band, and span stores, every probe-able index
    * family now has its batch-sized-publish deployment): the corpus
    * assignment index (pinned lowest-id codebook of the % 10 ≠ 0
    * snapshot) lives as a table BUCKETED on `cell`; a two-batch CDC
    * feed (stopped and RESUMED between batches) publishes adds
    * (% 10 == 0 vectors assigned under the SAME pinned codebook —
    * assignment is per-row, so delta ≡ resolved exactly) and
    * tombstones (% 10 == 7 takedown ids) into a DeltaState overlay —
    * the base table is never rewritten, and the codebook stays pinned
    * BY DESIGN (re-deriving it is the retrain event). Queries probe
    * through `ivfTopKDeltaIndexed`: candidate join straight off the
    * bucketed base scan (zero index-side exchange — OpsSpec asserts
    * it), tombstoned candidates dropped candidate-sized AFTER the
    * join, the overlay broadcast as a second source, one shared
    * re-rank. Equal to the one-shot replay over the net corpus
    * (% 10 ≠ 7) under the snapshot codebook — the family's shared
    * parameterized oracle.
    */
  private val a03dp = Q(
    "ann_ivf_delta_probe",
    (s, d) => {
      import s.implicits._
      import graft.io.Bucketing
      import graft.streaming.DeltaState
      import graft.streaming.DeltaState.DeltaFoldSpec
      val e = emb(s, d)
      val corpus = e.filter($"vec_id" % 10 =!= 0)
      val cb = SimOps.lowestIdCodebook(corpus, "vec_id", "embedding", 16)
      val tbl = s"graft_ivf_delta_${ProcessHandle.current().pid()}"
      Bucketing.writeBucketedKeys(
        SimOps.ivfIndex(corpus, "vec_id", "embedding", cb),
        tbl, 8, Seq("cell"), Seq("cell"))
      val base = Bucketing.table(s, tbl)
      val stageDir = tmpDir(s, "a03dp_feed")
      val stateDir = tmpDir(s, "a03dp_state")
      def feedSlice(addMod: Long, delMod: Long) =
        e.filter($"vec_id" % 20 === addMod)
          .select(lit("add").as("op"), $"vec_id", $"embedding")
          .unionByName(e.filter($"vec_id" % 20 === delMod)
            .select(lit("del").as("op"), $"vec_id", $"embedding"))
      val spec = DeltaFoldSpec(
        add = b => SimOps.ivfIndex(
          b.filter($"op" === "add").select($"vec_id", $"embedding"),
          "vec_id", "embedding", cb),
        del = Some(b => b.filter($"op" === "del").select($"vec_id")))
      val emptyIdx = SimOps.ivfIndex(e.limit(0), "vec_id", "embedding", cb)
      feedSlice(0L, 7L).coalesce(1).write.mode("overwrite").parquet(stageDir)
      val schema = s.read.parquet(stageDir).schema
      def src = s.readStream.schema(schema).parquet(stageDir)
      DeltaState.foreachBatchDeltaFold(src, emptyIdx, stateDir, spec)
      feedSlice(10L, 17L).coalesce(1).write.mode("append").parquet(stageDir)
      DeltaState.foreachBatchDeltaFold(src, emptyIdx, stateDir, spec,
        resume = true)
      val (overlayAdds, tombs) = DeltaState.overlay(s, stateDir)
      // tombstoned vectors don't query (the oracle's probe side is the
      // net corpus — a taken-down doc has no business probing either)
      val res = SimOps.ivfTopKDeltaIndexed(
          e.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 7),
          base, overlayAdds, tombs, "vec_id", "embedding", cb, k = 5)
        .localCheckpoint(true)
      Bucketing.drop(s, tbl)
      res.orderBy($"qid", $"rnk")
    },
    Some(ivfProbeOracleSql("vec_id % 10 <> 0", "vec_id % 10 <> 7")),
    writes = true)

  /** ann_ivf_retrain_cutover — the RETRAIN/re-shard cutover, the one
    * lifecycle event every index family documents but none graded
    * until round 13 (the round-12 verdict's task 4). Every ivfIndex
    * maintenance law holds only while the codebook is PINNED;
    * re-deriving it from the drifted corpus is the retrain event,
    * which rebuilds the index by definition. This grades that event
    * end-to-end: gen-1 = bucketed [[SimOps.ivfIndex]] under codebook
    * cb1 + a CDC delta chain (adds %10==0, takedowns %10==7 — the
    * a03dp feed verbatim); the RETRAIN derives cb2 from the NET
    * corpus — read straight off gen-1's resolved view (base ∖ tombs ∪
    * overlay adds; the assignment rows carry their vectors, so no
    * second corpus source exists anywhere) — and rebuilds into a
    * FRESH bucketed table while gen-1 still stands (the
    * two-generation window: OpsSpec asserts gen-1's probe answers
    * byte-identically through the rebuild). The graded result is the
    * cutover probe: [[SimOps.ivfTopKIndexed]] against gen-2 under
    * cb2, which must hash-equal the one-shot oracle under the NEW
    * codebook over the net corpus — a leaked old-codebook assignment,
    * a tombstoned vector surviving into gen-2, or a cb2 drawn from
    * the wrong corpus all break the hash. At 100 TB this is the
    * standard blue/green index deployment: the O(corpus) rebuild runs
    * beside the serving generation, readers cut over by swapping a
    * table name, and the old generation retires only after the cut.
    */
  private val a03rc = Q(
    "ann_ivf_retrain_cutover",
    (s, d) => {
      import s.implicits._
      import graft.io.Bucketing
      import graft.streaming.DeltaState
      import graft.streaming.DeltaState.DeltaFoldSpec
      val e = emb(s, d)
      val corpus = e.filter($"vec_id" % 10 =!= 0)
      val cb1 = SimOps.lowestIdCodebook(corpus, "vec_id", "embedding", 16)
      val pid = ProcessHandle.current().pid()
      val tbl1 = s"graft_ivf_rc_gen1_$pid"
      Bucketing.writeBucketedKeys(
        SimOps.ivfIndex(corpus, "vec_id", "embedding", cb1),
        tbl1, 8, Seq("cell"), Seq("cell"))
      val base = Bucketing.table(s, tbl1)
      val stageDir = tmpDir(s, "a03rc_feed")
      val stateDir = tmpDir(s, "a03rc_state")
      def feedSlice(addMod: Long, delMod: Long) =
        e.filter($"vec_id" % 20 === addMod)
          .select(lit("add").as("op"), $"vec_id", $"embedding")
          .unionByName(e.filter($"vec_id" % 20 === delMod)
            .select(lit("del").as("op"), $"vec_id", $"embedding"))
      val spec = DeltaFoldSpec(
        add = b => SimOps.ivfIndex(
          b.filter($"op" === "add").select($"vec_id", $"embedding"),
          "vec_id", "embedding", cb1),
        del = Some(b => b.filter($"op" === "del").select($"vec_id")))
      val emptyIdx = SimOps.ivfIndex(e.limit(0), "vec_id", "embedding", cb1)
      feedSlice(0L, 7L).coalesce(1).write.mode("overwrite").parquet(stageDir)
      val schema = s.read.parquet(stageDir).schema
      def src = s.readStream.schema(schema).parquet(stageDir)
      DeltaState.foreachBatchDeltaFold(src, emptyIdx, stateDir, spec)
      feedSlice(10L, 17L).coalesce(1).write.mode("append").parquet(stageDir)
      DeltaState.foreachBatchDeltaFold(src, emptyIdx, stateDir, spec,
        resume = true)
      // RETRAIN: the net corpus is gen-1's own resolved view — the
      // assignment rows carry their vectors, so nothing re-reads the
      // source table
      val (overlayAdds, tombs) = DeltaState.overlay(s, stateDir)
      val netVecs = tombs.fold(base.select($"vec_id", $"embedding"))(t =>
          base.join(t.select($"vec_id"), Seq("vec_id"), "left_anti")
            .select($"vec_id", $"embedding"))
        .unionByName(overlayAdds.select($"vec_id", $"embedding"))
      val cb2 = SimOps.lowestIdCodebook(netVecs, "vec_id", "embedding", 16)
      // rebuild gen-2 into its OWN table while gen-1 still stands
      val tbl2 = s"graft_ivf_rc_gen2_$pid"
      Bucketing.writeBucketedKeys(
        SimOps.ivfIndex(netVecs, "vec_id", "embedding", cb2),
        tbl2, 8, Seq("cell"), Seq("cell"))
      // the CUTOVER: the probe swings to gen-2 under the new codebook
      val res = SimOps.ivfTopKIndexed(
          e.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 7),
          Bucketing.table(s, tbl2), "vec_id", "embedding", cb2, k = 5)
        .localCheckpoint(true)
      Bucketing.drop(s, tbl1)
      Bucketing.drop(s, tbl2)
      res.orderBy($"qid", $"rnk")
    },
    Some(ivfProbeOracleSql("vec_id % 10 <> 7", "vec_id % 10 <> 7")),
    writes = true)

  private val a04 = Q(
    "ann_ivf_trained_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val cb = SimOps.trainCentroids(e, "vec_id", "embedding", 16, iters = 2)
      SimOps.ivfTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5,
          codebook = Some(cb))
        .orderBy($"qid", $"rnk")
    },
    Some(s"""
      WITH
      pos AS (SELECT unnest(range(1, 65)) AS p),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      cb0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               emb AS cvec
        FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) s),
      ${a04Round(0)},
      ${a04Round(1)},
      ${a04Score("sf_", "cb2")},
      ${a04Argmax("assign", "vec_id AS nid, emb AS c_emb, cell", "sf_", "", "r = 1")},
      ${a04Argmax("probe", "vec_id AS qid, emb AS q_emb, cell", "sf_", " WHERE vec_id < 10", "r <= 2")}
      SELECT qid, nid, sim, rnk FROM (
        SELECT q.qid, c.nid,
               round(list_cosine_similarity(q.q_emb, c.c_emb), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC, c.nid) AS INTEGER) AS rnk
        FROM probe q JOIN assign c USING (cell)
        WHERE q.qid <> c.nid) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** ann_pq_topk — product-quantization ANN (SimOps.pqTopK): corpus
    * encoded once as 8 sub-codes (compressed-domain scan, ~3% of the
    * bytes of the float column), per-query ADC lookup table, top-20
    * candidates by approximate dot, exact cosine re-rank to top-5. The
    * codebooks are deterministic (sliced from the 16 lowest-id
    * vectors), so the oracle replays the whole index — sub-codebooks,
    * argmin encoding (ties to the lower code), ordered-fold ADC sums,
    * candidate cut, exact re-rank — and the result is hash-graded.
    */
  private val a05 = Q(
    "ann_pq_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.pqTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
        .orderBy($"qid", $"rnk")
    },
    Some("""
      WITH
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      sub AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS m),
      cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS kidx, emb
        FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) s),
      cbm AS (
        SELECT cb.kidx, sub.m, cb.emb[sub.m*8+1 : sub.m*8+8] AS cvec
        FROM cb CROSS JOIN sub),
      enc AS (
        SELECT vec_id, m, kidx AS code FROM (
          SELECT e.vec_id, c.m, c.kidx,
                 row_number() OVER (PARTITION BY e.vec_id, c.m
                   ORDER BY list_distance(e.emb[c.m*8+1 : c.m*8+8], c.cvec) ASC, c.kidx ASC) r
          FROM e CROSS JOIN cbm c) t WHERE r = 1),
      lut AS (
        SELECT q.vec_id AS qid, c.m, c.kidx,
               list_dot_product(q.emb[c.m*8+1 : c.m*8+8], c.cvec) AS d
        FROM e q CROSS JOIN cbm c WHERE q.vec_id < 10),
      adc AS (
        SELECT l.qid, n.vec_id AS nid, sum(l.d ORDER BY l.m) AS score
        FROM enc n JOIN lut l ON l.m = n.m AND l.kidx = n.code
        WHERE l.qid <> n.vec_id
        GROUP BY l.qid, n.vec_id),
      cand AS (
        SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) r
          FROM adc) t WHERE r <= 20)
      SELECT qid, nid, sim, rnk FROM (
        SELECT c.qid, c.nid,
               round(list_cosine_similarity(q.emb, n.emb), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY c.qid
                 ORDER BY list_cosine_similarity(q.emb, n.emb) DESC, c.nid) AS INTEGER) AS rnk
        FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e n ON n.vec_id = c.nid) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** ann_recall_report — recall@5 of the IVF index vs the exact
    * brute-force baseline, computed IN the engine
    * (SimOps.recallAtK): the quality number an operator of a
    * corpus-scale ANN index watches, graded instead of trusted — both
    * sides are deterministic (the a01/a03 plans verbatim), so the
    * oracle replays approx, exact, the (qid, nid) hit join, and the
    * per-query ratio. The report itself adds nothing corpus-sized:
    * |queries|×k rows per side, broadcast join, partial aggregate.
    */
  private val a06 = Q(
    "ann_recall_report",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val q = e.filter($"vec_id" < 10)
      SimOps.recallAtK(
          SimOps.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          SimOps.ivfTopK(q, e, "vec_id", "embedding", 5))
        .orderBy($"qid")
    },
    Some("""
      WITH cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding::DOUBLE[] AS cvec,
               1.0 / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cinv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16) s),
      scored AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, cb.cell,
               list_dot_product(e.embedding::DOUBLE[], cb.cvec) * cb.cinv AS score
        FROM embeddings e CROSS JOIN cb),
      assign AS (
        SELECT vec_id AS nid, emb AS c_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS r
          FROM scored) t WHERE r = 1),
      probe AS (
        SELECT vec_id AS qid, emb AS q_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS r
          FROM scored WHERE vec_id < 10) t WHERE r <= 2),
      ivf AS (
        SELECT qid, nid FROM (
          SELECT q.qid, c.nid,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC, c.nid) AS rnk
          FROM probe q JOIN assign c USING (cell)
          WHERE q.qid <> c.nid) t
        WHERE rnk <= 5),
      exact AS (
        SELECT qid, nid FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rnk
          FROM embeddings q CROSS JOIN embeddings c
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
        WHERE rnk <= 5)
      SELECT e.qid, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             round(CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   / CAST(count(*) AS BIGINT), 4) AS recall
      FROM exact e LEFT JOIN ivf i ON e.qid = i.qid AND e.nid = i.nid
      GROUP BY e.qid ORDER BY e.qid"""))


  /** ann_filtered_topk — metadata-FILTERED vector search
    * (SimOps.ivfTopKFiltered): the vector-DB filtered-search mode.
    * The IVF index (codebook = 16 lowest-id FULL-corpus vectors) is
    * built once over the whole corpus; the label predicate applies to
    * candidates BEFORE ranking, so each query gets its 5 nearest
    * even-label neighbors — not a post-filtered remnant of an
    * unfiltered top-5. The oracle is the a03 replay with the label
    * carried through assignment and filtered in the candidate set
    * (the codebook CTE stays unfiltered — that is the semantic under
    * test).
    */
  private val a07 = Q(
    "ann_filtered_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.ivfTopKFiltered(e.filter($"vec_id" < 10), e, "vec_id", "embedding",
          col("label") % 2 === 0, 5)
        .orderBy($"qid", $"rnk")
    },
    Some("""
      WITH cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding::DOUBLE[] AS cvec,
               1.0 / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cinv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16) s),
      scored AS (
        SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS emb, cb.cell,
               list_dot_product(e.embedding::DOUBLE[], cb.cvec) * cb.cinv AS score
        FROM embeddings e CROSS JOIN cb),
      assign AS (
        SELECT vec_id AS nid, emb AS c_emb, cell FROM (
          SELECT vec_id, label, emb, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS r
          FROM scored) t WHERE r = 1 AND label % 2 = 0),
      probe AS (
        SELECT vec_id AS qid, emb AS q_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS r
          FROM scored WHERE vec_id < 10) t WHERE r <= 2)
      SELECT qid, nid, sim, rnk FROM (
        SELECT q.qid, c.nid,
               round(list_cosine_similarity(q.q_emb, c.c_emb), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC, c.nid) AS INTEGER) AS rnk
        FROM probe q JOIN assign c USING (cell)
        WHERE q.qid <> c.nid) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** search_hybrid_rrf — hybrid retrieval: lexical BM25
    * (query-by-document, TextOps.bm25PerQuery) and dense cosine
    * (SimOps.bruteForceTopK) top-10 lists per query, fused with
    * reciprocal-rank fusion (SimOps.rrfFuse, c = 60) into a final
    * top-5 — the standard two-tower search stack, run entirely in the
    * engine. Queries are docs 0–2 (doc_id and vec_id align in the
    * fixtures). Both retriever legs reuse already-graded parity
    * machinery (the t-bm25 score algebra, the a01 cosine ranking);
    * RRF itself is exact IEEE (1/(60+rank), two addends), so the
    * oracle replays the whole stack: inverted index, df, per-query
    * scores, both rankings, the full-outer fusion, the fused ranking.
    */
  private val a08 = Q(
    "search_hybrid_rrf",
    (s, d) => {
      import s.implicits._
      val ds = docs(s, d)
      val e = emb(s, d)
      SimOps.rrfFuse(
          TextOps.bm25PerQuery(ds.filter($"doc_id" < 3), ds, topN = 10),
          SimOps.bruteForceTopK(e.filter($"vec_id" < 3), e, "vec_id", "embedding", 10),
          k = 5)
        .orderBy($"qid", $"rnk")
    },
    Some("""
      WITH dd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      stats AS (
        SELECT count(*) AS n_docs, sum(len(w))::DOUBLE / count(*) AS avgdl
        FROM dd),
      qt AS (
        SELECT doc_id AS qid, unnest(list_distinct(w)) AS term
        FROM dd WHERE doc_id < 3),
      ctf AS (
        SELECT doc_id AS nid, term, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, len(w)::DOUBLE AS dl, unnest(w) AS term FROM dd) m
        WHERE term IN (SELECT DISTINCT term FROM qt)
        GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM ctf GROUP BY term),
      lex AS (
        SELECT qid, nid, rnk FROM (
          SELECT qid, nid,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nid) AS INTEGER) AS rnk
          FROM (
            SELECT q.qid, c.nid,
                   round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                         * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                     4) AS score
            FROM ctf c JOIN dfreq USING (term) JOIN qt q USING (term) CROSS JOIN stats
            WHERE q.qid <> c.nid
            GROUP BY q.qid, c.nid) s) r
        WHERE rnk <= 10),
      vec AS (
        SELECT qid, nid, rnk FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS INTEGER) AS rnk
          FROM embeddings q CROSS JOIN embeddings c
          WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id) t
        WHERE rnk <= 10)
      SELECT qid, nid, rnk_lex, rnk_vec, round(rrf, 6) AS rrf, rnk FROM (
        SELECT qid, nid, rnk_lex, rnk_vec, rrf,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY rrf DESC, nid) AS INTEGER) AS rnk
        FROM (
          SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.nid, v.nid) AS nid,
                 l.rnk AS rnk_lex, v.rnk AS rnk_vec,
                 COALESCE(1.0 / (60 + l.rnk), 0) + COALESCE(1.0 / (60 + v.rnk), 0) AS rrf
          FROM lex l FULL OUTER JOIN vec v ON l.qid = v.qid AND l.nid = v.nid) f) g
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** Unrolled greedy-MMR oracle: pool (brute-force top-poolN, sims
    * rounded to 4), pairwise in-pool csims (rounded to 4), then one
    * CTE pair (sel_t, acc_t) per greedy step — sel_1 is the
    * pure-relevance argmax, each later step maximizes
    * `λ·sim − (1 − λ)·max csim vs acc` with the (1 − λ) constant
    * computed BY the engine (both sides evaluate 1 − λ in IEEE double,
    * so the constants agree bit-for-bit). The mmrTopK replay.
    */
  private def mmrOracleSql(k: Int, poolN: Int, lambda: Double): String = {
    val steps = (2 to k).map { t =>
      s"""sel$t AS (
        SELECT qid, nid, $t AS step, sim FROM (
          SELECT p.qid, p.nid, p.sim,
                 row_number() OVER (PARTITION BY p.qid
                   ORDER BY $lambda * p.sim - (1 - $lambda) * m.msim DESC, p.nid) AS r
          FROM pool p
          JOIN (SELECT ps.qid, ps.nid_a AS nid, max(ps.csim) AS msim
                FROM ps JOIN acc${t - 1} s ON ps.qid = s.qid AND ps.nid_b = s.nid
                GROUP BY 1, 2) m ON m.qid = p.qid AND m.nid = p.nid
          WHERE NOT EXISTS (SELECT 1 FROM acc${t - 1} s
                            WHERE s.qid = p.qid AND s.nid = p.nid)) t
        WHERE r = 1),
      acc$t AS (SELECT * FROM acc${t - 1} UNION ALL SELECT * FROM sel$t)"""
    }.mkString(",\n      ")
    s"""
      WITH pool AS (
        SELECT qid, nid, sim FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rnk
          FROM embeddings q CROSS JOIN embeddings c
          WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id) t
        WHERE rnk <= $poolN),
      ps AS (
        SELECT a.qid, a.nid AS nid_a, b.nid AS nid_b,
               round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS csim
        FROM pool a JOIN pool b ON a.qid = b.qid AND a.nid <> b.nid
        JOIN embeddings ea ON ea.vec_id = a.nid
        JOIN embeddings eb ON eb.vec_id = b.nid),
      sel1 AS (
        SELECT qid, nid, 1 AS step, sim FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
          FROM pool) t WHERE r = 1),
      acc1 AS (SELECT * FROM sel1),
      $steps
      SELECT qid, nid, CAST(step AS INTEGER) AS step, sim
      FROM acc$k ORDER BY qid, step"""
  }


  /** ann_mmr_topk — Maximal-Marginal-Relevance diversification
    * (SimOps.mmrTopK): greedy top-5 from a brute-force top-10 pool at
    * λ = 0.7, every step graded — relevance minus max-redundancy over
    * the already-selected set, the standard post-retrieval
    * diversification pass. All sims round to 4 before selection on
    * BOTH sides, so the greedy argmax sequence replays exactly; the
    * per-step machinery (anti-join, per-query max, argmax window) is
    * query-partitioned — re-ranking a million queries distributes.
    */
  private val a09 = Q(
    "ann_mmr_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.mmrTopK(e.filter($"vec_id" < 3), e, "vec_id", "embedding",
          k = 5, poolN = 10, lambda = 0.7)
        .orderBy($"qid", $"step")
    },
    Some(mmrOracleSql(k = 5, poolN = 10, lambda = 0.7)))


  /** ann_hard_negatives — hard-negative mining for contrastive
    * training (SimOps.hardNegatives): per query vector, the 5 most
    * confusable corpus vectors inside the cosine band [0.15, 0.35) —
    * similar enough to carry gradient, below the near-duplicate zone
    * that would make them false negatives. Band and output compare the
    * ROUND-4 cosine on both sides (a01's precision contract extended
    * to the filter — at sf0.1 rows land exactly ON both band edges,
    * so banding the raw double would be engine-dependent). Graded as
    * the exact brute scan; the 100 TB path feeds the same band+rank
    * from an ivfTopK/lshTopK candidate pool.
    */
  private val a10 = Q(
    "ann_hard_negatives",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.hardNegatives(e.filter($"vec_id" < 5), e, "vec_id", "embedding",
          k = 5, loBand = 0.15, hiBand = 0.35)
        .orderBy($"qid", $"rnk")
    },
    Some("""
      SELECT qid, nid, sim, rnk FROM (
        SELECT qid, nid, sim,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY rawsim DESC, nid) AS INTEGER) AS rnk
        FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS rawsim,
                 round(list_cosine_similarity(q.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]), 4) AS sim
          FROM embeddings q CROSS JOIN embeddings c
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id) s
        WHERE sim >= 0.15 AND sim < 0.35) t
      WHERE rnk <= 5 ORDER BY qid, rnk"""))


  /** ann_knn_accuracy — leave-one-out 1-NN label accuracy
    * (SimOps.knnLabelAccuracy): the standard probe eval of the
    * embedding space, per label, on a deterministic md5 quarter-slice
    * of query vectors (the hashSample convention) — evaluated
    * in-engine and graded. Exact brute scan (corpus never shuffles,
    * sampled queries broadcast, WindowGroupLimit rank-1); the a01
    * margin contract covers the vote: a flip needs the top-2
    * neighbors to differ in label AND sit within an ulp of cosine.
    */
  private val a11 = Q(
    "ann_knn_accuracy",
    (s, d) => SimOps.knnLabelAccuracy(emb(s, d), "vec_id", "embedding",
        "label", sampleFraction = 0.25)
      .orderBy(col("label")),
    Some("""
      WITH q AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::INTEGER
              < 16384),
      nn AS (
        SELECT qid, nid FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                   c.embedding::DOUBLE[])
                     DESC, c.vec_id) AS rnk
          FROM q CROSS JOIN embeddings c
          WHERE c.vec_id <> q.vec_id) t
        WHERE rnk = 1),
      j AS (
        SELECT q.label AS label,
               CASE WHEN nn.nid IS NOT NULL AND q.label = cl.label
                    THEN 1 ELSE 0 END AS ok,
               CASE WHEN nn.nid IS NULL THEN 1 ELSE 0 END AS unres
        FROM q
        LEFT JOIN nn ON q.vec_id = nn.qid
        LEFT JOIN embeddings cl ON nn.nid = cl.vec_id)
      SELECT label, count(*) AS n_queries,
             CAST(sum(ok) AS BIGINT) AS n_correct,
             CAST(sum(unres) AS BIGINT) AS n_unresolved,
             round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS accuracy
      FROM j GROUP BY 1 ORDER BY 1"""))


  /** ann_knn_accuracy_ivf — the probe eval's SCALE PATH graded
    * end-to-end (SimOps.knnLabelAccuracy with the IVF candidate
    * pool): same md5 quarter-slice of queries, rank-1 vote drawn
    * from the a03 IVF index (default first-16 codebook, nprobe = 2)
    * instead of the brute scan. The oracle replays codebook,
    * assignment, probe, rank-1 (a03's fragments), the self
    * exclusion, and the label rollup — so the "at scale use the
    * pool" claim is itself hash-graded, not just probe-measured
    * (near-flat ×10/×30, BASELINE.md).
    */
  private val a12 = Q(
    "ann_knn_accuracy_ivf",
    (s, d) => SimOps.knnLabelAccuracy(emb(s, d), "vec_id", "embedding",
        "label", sampleFraction = 0.25, ivfCells = Some(16))
      .orderBy(col("label")),
    Some("""
      WITH cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding::DOUBLE[] AS cvec,
               1.0 / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                 AS cinv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16) s),
      scored AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, cb.cell,
               list_dot_product(e.embedding::DOUBLE[], cb.cvec) * cb.cinv AS score
        FROM embeddings e CROSS JOIN cb),
      assign AS (
        SELECT vec_id AS nid, emb AS c_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY score DESC, cell DESC) AS r
          FROM scored) t WHERE r = 1),
      probe AS (
        SELECT vec_id AS qid, emb AS q_emb, cell FROM (
          SELECT vec_id, emb, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY score DESC, cell DESC) AS r
          FROM scored
          WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::INTEGER
                < 16384) t
        WHERE r <= 2),
      nn AS (
        SELECT qid, nid FROM (
          SELECT q.qid, c.nid,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC,
                            c.nid) AS rnk
          FROM probe q JOIN assign c USING (cell)
          WHERE q.qid <> c.nid) t
        WHERE rnk = 1),
      qs AS (
        SELECT vec_id AS qid, label FROM embeddings
        WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::INTEGER
              < 16384),
      j AS (
        SELECT qs.label AS label,
               CASE WHEN nn.nid IS NOT NULL AND qs.label = cl.label
                    THEN 1 ELSE 0 END AS ok,
               CASE WHEN nn.nid IS NULL THEN 1 ELSE 0 END AS unres
        FROM qs
        LEFT JOIN nn ON qs.qid = nn.qid
        LEFT JOIN embeddings cl ON nn.nid = cl.vec_id)
      SELECT label, count(*) AS n_queries,
             CAST(sum(ok) AS BIGINT) AS n_correct,
             CAST(sum(unres) AS BIGINT) AS n_unresolved,
             round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS accuracy
      FROM j GROUP BY 1 ORDER BY 1"""))


  /** corpus_report — the data card: per source×lang token/char/doc
    * counts with rollup subtotals and each row's share of corpus
    * tokens — the summary table every released training corpus ships.
    * One corpus pass: the rollup aggregate (partial map-side — the
    * token count is a row-local projection) plus a 1-row total
    * broadcast for the share column. q13's rollup/NULLS FIRST parity
    * convention.
    */
  private val cr1 = Q(
    "corpus_report",
    (s, d) => {
      import s.implicits._
      val d0 = docs(s, d)
      val ntok = size(split($"text", " "))
      val totals = d0.agg(sum(ntok).cast("double").as("__tot"))
      d0.rollup($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(ntok).cast("long").as("n_tokens"),
             sum($"n_chars").as("n_chars_total"))
        .crossJoin(broadcast(totals))
        .withColumn("pct_tokens", round($"n_tokens" / $"__tot" * 100.0, 4))
        .drop("__tot")
        .orderBy($"source".asc_nulls_first, $"lang".asc_nulls_first)
    },
    Some("""
      WITH dd AS (
        SELECT source, lang, len(string_split(text, ' ')) AS ntok, n_chars
        FROM documents),
      tot AS (SELECT sum(ntok)::DOUBLE AS tt FROM dd)
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
             round(CAST(sum(ntok) AS BIGINT) / tt * 100.0, 4) AS pct_tokens
      FROM dd CROSS JOIN tot
      GROUP BY ROLLUP(source, lang), tt
      ORDER BY source NULLS FIRST, lang NULLS FIRST"""))


  /** corpus_cluster_cards — cluster topic cards (SimOps.clusterCards):
    * the embeddings k-means-clustered with the a04 trainer (16 cells,
    * 2 Lloyd rounds), each cell reported as doc count + its 3 most
    * distinctive terms by lift (cell term share / corpus term share)
    * over the joined document text (doc_id and vec_id align in the
    * fixtures) — the "what is in each cluster?" inspection step of
    * embedding-driven curation. The oracle replays trainer,
    * assignment, term statistics, the exact-integer-double lift, and
    * the per-cell ranking through the shared unrolled-Lloyd fragments.
    */
  private val cr2 = Q(
    "corpus_cluster_cards",
    (s, d) =>
      SimOps.clusterCards(emb(s, d), docs(s, d), "vec_id", "embedding",
          "doc_id", "text", numCells = 16, iters = 2, topTerms = 3)
        .orderBy(col("cell"), col("rnk")),
    Some(s"""
      WITH
      pos AS (SELECT unnest(range(1, 65)) AS p),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            WHERE embedding IS NOT NULL),
      cb0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               emb AS cvec
        FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) s),
      ${a04Round(0)},
      ${a04Round(1)},
      ${a04Score("sf_", "cb2")},
      ${a04Argmax("assign", "vec_id, cell", "sf_", "", "r = 1")},
      j AS (
        SELECT a.cell, d.text FROM assign a
        JOIN documents d ON d.doc_id = a.vec_id),
      nd AS (SELECT cell, count(*)::BIGINT AS n_docs FROM j GROUP BY cell),
      trm AS (SELECT cell, unnest(string_split(text, ' ')) AS term FROM j),
      ctf AS (SELECT cell, term, count(*)::BIGINT AS ctf FROM trm GROUP BY 1, 2),
      ctot AS (SELECT cell, count(*)::BIGINT AS ctot FROM trm GROUP BY 1),
      gtf AS (SELECT term, count(*)::BIGINT AS gtf FROM trm GROUP BY 1),
      gtot AS (SELECT count(*)::BIGINT AS gtot FROM trm),
      sc AS (
        SELECT c.cell, c.term,
               (c.ctf::DOUBLE * gtot) / (ct.ctot::DOUBLE * g.gtf) AS lift
        FROM ctf c JOIN gtf g USING (term) JOIN ctot ct USING (cell)
        CROSS JOIN gtot)
      SELECT cell, n_docs, term, round(lift, 6) AS lift, rnk FROM (
        SELECT cell, term, lift,
               CAST(row_number() OVER (PARTITION BY cell
                 ORDER BY lift DESC, term) AS INTEGER) AS rnk
        FROM sc) t JOIN nd USING (cell)
      WHERE rnk <= 3 ORDER BY cell, rnk"""))

  val qs: Seq[Q] = Seq(a01, a02, a03, a03u, a03d, a03dp, a03rc, a04, a05, a06, a07, a08, a09, a10, a11, a12, cr1, cr2)
}
