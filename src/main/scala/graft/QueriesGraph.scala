package graft

import org.apache.spark.sql.functions._
import graft.io.FsOps
import graft.ops.GraphOps
import QHelp._

/** Graph-analytics family: iterative fixpoint computations expressed
  * as chained Catalyst plans (the C4 iteration modality at its
  * canonical scale shape). The oracle replays the ENTIRE all-integer
  * fixpoint in SQL — unrolled iterations generated from one
  * round-emitter (the a04Round idiom), so a semantics fix cannot miss
  * a copy.
  */
private[graft] object QueriesGraph {

  /** One unrolled PageRank round: dangling mass of r{i-1}, per-edge
    * contributions half_up(u·w/outW) summed per dst, then the
    * three-term damped update — every rounding the exact rational
    * half-up integer division half_up(a/b) = (2a+b)//(2b), exactly
    * like GraphOps.pageRank (S = 10¹² rank units, damping 85/100).
    * The u·w numerator goes through HUGEINT (the engine uses
    * DECIMAL(38,0)) so no product can overflow; `//` on positives is
    * truncation, = Spark's `div`.
    */
  private def prRound(i: Int): String =
    s"""d$i AS (
      |        SELECT coalesce(sum(u), 0) AS dmass
      |        FROM r${i - 1} WHERE node NOT IN (SELECT src FROM en)),
      |      c$i AS (
      |        SELECT en.dst AS node,
      |               sum(CAST((2 * CAST(r.u AS HUGEINT) * en.w + en.outw)
      |                        // (2 * en.outw) AS BIGINT)) AS csum
      |        FROM r${i - 1} r JOIN en ON r.node = en.src GROUP BY en.dst),
      |      r$i AS (
      |        SELECT nd.node,
      |               CAST((30000000000000 + 100 * nn.n) // (200 * nn.n)
      |                  + (170 * coalesce(c.csum, 0) + 100) // 200
      |                  + (170 * CAST(d.dmass AS HUGEINT) + 100 * nn.n)
      |                    // (200 * nn.n)
      |                 AS BIGINT) AS u
      |        FROM nd LEFT JOIN c$i c USING (node)
      |             CROSS JOIN d$i d CROSS JOIN nn)""".stripMargin

  /** graph_pagerank — 3-iteration weighted PageRank over the word-
    * adjacency (bigram) graph of the documents corpus
    * (GraphOps.wordPageRank): nodes = words, edge w1→w2 weighted by
    * corpus bigram count. Ranks are exact BIGINT units of 10⁻¹² —
    * no float anywhere in the fixpoint or the graded output. Top-20
    * by rank with full tiebreak.
    */
  private val g01 = Q(
    "graph_pagerank",
    (s, d) => GraphOps.wordPageRank(docs(s, d), iters = 3, topK = 20,
      stageDir = tmpDir(s, "pagerank")),
    Some(s"""
      WITH e0 AS (
        SELECT w[i] AS src, w[i+1] AS dst, count(*) AS w
        FROM (SELECT string_split(text, ' ') AS w FROM documents
              WHERE text IS NOT NULL),
             unnest(range(1, len(w))) AS t(i)
        GROUP BY 1, 2),
      ow AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY src),
      en AS (SELECT e0.src, e0.dst, e0.w, ow.outw FROM e0 JOIN ow USING (src)),
      nd AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
      r0 AS (
        SELECT node,
               CAST((2000000000000 + nn.n) // (2 * nn.n) AS BIGINT) AS u
        FROM nd CROSS JOIN nn),
      ${prRound(1)},
      ${prRound(2)},
      ${prRound(3)}
      SELECT node, u AS rank_e12
      FROM r3 ORDER BY rank_e12 DESC, node LIMIT 20"""))

  /** One unrolled propagation round: every endpoint takes
    * least(own label, min of neighbors' labels) — all-integer,
    * mirroring GraphOps.minLabelPropagate exactly. */
  private def lpRound(i: Int): String =
    s"""l$i AS MATERIALIZED (
      |        SELECT l.node,
      |               least(l.label, coalesce(m.nbr_min, l.label)) AS label
      |        FROM l${i - 1} l LEFT JOIN (
      |          SELECT e.b AS node, min(l2.label) AS nbr_min
      |          FROM l${i - 1} l2 JOIN em e ON l2.node = e.a
      |          GROUP BY e.b) m USING (node))""".stripMargin

  private val lpIters = 8

  /** graph_components — k-round min-label propagation
    * (GraphOps.minLabelPropagate, k = 8) over the SAME exact-Jaccard
    * near-dup edges dedup_clusters closes transitively: the
    * bounded-round pure-DataFrame scale path next to the RDD fixpoint
    * (which must observe convergence driver-side). The oracle replays
    * all 8 rounds unrolled over the shared clusterEdgeCtes chain —
    * grading the k-round FUNCTION, not the fixpoint — and on this
    * fixture k = 8 ≥ the max component min-eccentricity (2-3 typical
    * for near-dup clusters), so the output also equals
    * dedup_clusters' connected components, property-tested.
    */
  private val g02 = Q(
    "graph_components",
    (s, d) => {
      val pairs = graft.ops.DedupOps
        .ngramJaccardPairs(docs(s, d), "text", "doc_id", roundJaccard = false)
        .filter(col("jaccard") >= 0.8).select(col("id_a"), col("id_b"))
      val labels = GraphOps.minLabelPropagate(pairs, "id_a", "id_b",
        iters = lpIters, stageDir = tmpDir(s, "components"))
      docs(s, d).select(col("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).cast("long").as("cluster_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$clusterEdgeCtes,
      em AS MATERIALIZED (SELECT a, b FROM edges),
      l0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS label FROM em),
      ${(1 to lpIters).map(lpRound).mkString(",\n      ")}
      SELECT d.doc_id,
             CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN l$lpIters l ON l.node = d.doc_id
      ORDER BY doc_id"""))

  /** graph_components_audit — the convergence audit of g02's
    * production config graded IN-ENGINE on the graded data (the
    * dedup_lsh_recall pattern): per propagation round, the count of
    * endpoint labels that CHANGED that round,
    * over the SAME near-dup edges and the same k = 8. A trailing run
    * of zeros is the measured safety margin of the fixed k on every
    * fixture — the "k ≥ diameter carries a large margin" claim was
    * previously only property-tested on random graphs; here a fixture
    * regen that produced a deeper component than k covers would turn
    * the last row nonzero and fail the hash loudly. The oracle replays
    * all 8 unrolled rounds (shared lpRound emitter) and diffs consecutive
    * label CTEs — both sides all-integer, no tolerance.
    */
  private val g03 = Q(
    "graph_components_audit",
    (s, d) => {
      val pairs = graft.ops.DedupOps
        .ngramJaccardPairs(docs(s, d), "text", "doc_id", roundJaccard = false)
        .filter(col("jaccard") >= 0.8).select(col("id_a"), col("id_b"))
      GraphOps.labelConvergenceAudit(pairs, "id_a", "id_b",
          iters = lpIters, stageDir = tmpDir(s, "components_audit"))
        .orderBy(col("round"))
    },
    Some(s"""$clusterEdgeCtes,
      em AS MATERIALIZED (SELECT a, b FROM edges),
      l0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS label FROM em),
      ${(1 to lpIters).map(lpRound).mkString(",\n      ")}
      ${(1 to lpIters).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS round,
           |       CAST(coalesce(sum(CASE WHEN c.label <> p.label
           |                           THEN 1 ELSE 0 END), 0) AS BIGINT)
           |         AS n_changed
           |       FROM l${i - 1} p JOIN l$i c USING (node)"""
          .stripMargin).mkString("\n      UNION ALL\n      ")}
      ORDER BY round"""))

  /** graph_components_incremental — the cluster family's ingest
    * lifecycle (GraphOps.componentsIncremental): the near-dup edges
    * split 2:1 into an "old corpus" set (snapshot = converged
    * min-label components of the old edges, k = 8) and an ingest
    * batch; the batch folds in WITHOUT replaying old edges — the
    * quotient graph on snapshot labels is propagated instead
    * (batch-bounded frame) and the snapshot remapped through it.
    * Graded against GROUND TRUTH, not a replay: the recursive-CTE
    * transitive closure over ALL edges (the dedup_clusters oracle) —
    * so the quotient argument itself is hash-graded end to end: a
    * wrong seed, a dropped bridge, or an unconverged snapshot all
    * split or merge some component and fail loudly.
    */
  private val g04 = Q(
    "graph_components_incremental",
    (s, d) => {
      // stage the near-dup edge list ONCE: both propagate calls below
      // (snapshot sym + quotient seed/edges) and
      // the returned remap plan otherwise re-evaluate the full
      // ngramJaccardPairs chain — the single most expensive pass of
      // this query — once per reference. One tiny parquet write caps
      // it at exactly one evaluation; the split filters read the
      // staged edge list. Lossless, so the graded result is unchanged
      val pairs = FsOps.stage(graft.ops.DedupOps
        .ngramJaccardPairs(docs(s, d), "text", "doc_id", roundJaccard = false)
        .filter(col("jaccard") >= 0.8).select(col("id_a"), col("id_b")),
        tmpDir(s, "ccinc_pairs"))
      val oldE = pairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
      val newE = pairs.filter((col("id_a") + col("id_b")) % 3 === 0)
      val snap = GraphOps.minLabelPropagate(oldE, "id_a", "id_b",
        iters = lpIters, stageDir = tmpDir(s, "ccinc_snap"))
      val labels = GraphOps.componentsIncremental(snap, newE,
        "id_a", "id_b", iters = lpIters,
        stageDir = tmpDir(s, "ccinc_q"))
      docs(s, d).select(col("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).cast("long").as("cluster_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$clusterCtesSql,
      cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
      SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
      FROM cl ORDER BY doc_id"""))

  val qs: Seq[Q] = Seq(g01, g02, g03, g04)
}
