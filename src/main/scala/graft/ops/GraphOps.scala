package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.FsOps

/** Iterative graph analytics (SURVEY.md §2 C4 — multi-pass iteration
  * chaining, taken to its canonical large-scale shape): fixed-iteration
  * weighted PageRank. dumbo's iteration surface chains MapReduce passes
  * where each pass re-keys the last pass's output; PageRank is the
  * classic instance — and on Spark the right expression is a chained
  * logical plan (join + partial-aggregated sum per round), NOT a
  * driver-side loop over collected data.
  *
  * Scale shape (per iteration): ONE equi-join of the nodes-sized ranks
  * frame onto the pre-aggregated edge list keyed by src, one
  * partial-aggregated contribution sum keyed by dst, one 1-row
  * dangling-mass aggregate broadcast back (the sanctioned 1-row-stat
  * class). Edges and per-src out-weights are aggregated ONCE before
  * the loop; the corpus is never rescanned. Iterations are a fixed
  * small constant, and every round starts from scratch parquet staged
  * under the caller's `stageDir` ([[FsOps.stage]], the q59 pattern),
  * so cost is strictly linear in iterations: each round's frame is
  * referenced twice by the next (dangling + contributions for
  * pageRank, self + neighbor-min for propagation), and without the
  * lineage cut the chain re-derives its predecessors ~2^iters times
  * unless runtime exchange reuse catches every copy (PlanAudit showed
  * 192 logical scans for 3 unstaged rounds). Staging is therefore not
  * optional: every op takes a required `stageDir`, so the blowup is
  * not reachable by omitting an argument. The staged frames are
  * nodes/edge-TYPES-sized, never corpus-sized, and the parquet round
  * trip is lossless, so staging changes cost shape only, never values.
  *
  * Each op's `stageDir` scaladoc lists the subdirs it overwrites. The
  * rounds are written when the call is made, not at the first action,
  * so the dir must be writable then.
  *
  * Exactness (the hash-grading contract): ranks are EXACT BIGINT
  * micro-units of 10⁻¹² (the text_quality_model all-integer class,
  * strictly stronger than the DECIMAL-quantized-double families).
  * Every rounding in the fixpoint is the exact rational half-up
  * integer division  half_up(a/b) = (2a + b) div (2b)  with the one
  * potentially-wide numerator (rank·weight) carried in DECIMAL(38,0)
  * — so there is NO floating-point operation anywhere, and the result
  * is bit-identical in any engine at any data scale. (A first cut
  * quantized per-step doubles to DECIMAL(28,12); at sf0.1 one node in
  * ~500k diverged by 1 unit because Spark rounds a double's shortest
  * decimal representation while DuckDB rounds its binary value — the
  * exact-half products a small-integer w/outW ratio produces land on
  * opposite sides. The integer form removes the class, not the
  * instance.)
  */
object GraphOps {

  /** Rank-unit scale: ranks live in [0, 1] as BIGINT multiples of
    * 10⁻¹²; Σ ranks ≈ SCALE up to the ±0.5-unit divisions. */
  val Scale: Long = 1000000000000L

  /** half_up(a / b) for positive a, b as one exact integral-divide
    * expression (SQL `div`); `a` may be any integral/decimal column. */
  private def halfUpDiv(a: Column, b: Column): Column =
    call_function("div", a * 2 + b, b * 2).cast("long")

  /** Fixed-iteration weighted PageRank over a directed edge list.
    * Output: (node, rank_e12 BIGINT) for ALL nodes; Σ rank_e12 ≈ 10¹²
    * exactly up to one ±0.5-unit rounding per term.
    *
    * @param edges (srcCol, dstCol, wCol); wCol a positive integral
    *              weight, parallel edges summed up front
    * @param dampingNum/dampingDen damping as an exact rational
    *              (default 85/100) — a double damping would re-admit
    *              the float-rounding class the integer form removes
    * @param stageDir scratch dir of the lineage cut: the call
    *              overwrites `edges` and `r0`..`r{iters}` under it, and
    *              the result reads `r{iters}`. Two results that are both
    *              still live must not share it.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, iters: Int = 3,
               dampingNum: Long = 85L, dampingDen: Long = 100L,
               stageDir: String): DataFrame = {
    require(iters >= 1 && iters <= 20, s"pageRank: iters=$iters out of [1,20]")
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"pageRank: damping $dampingNum/$dampingDen not in (0,1)")
    val ew = edges.groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(col(wCol).cast("long")).as("w"))
    // out-weight via a window over ew instead of a groupBy+self-join:
    // the join form evaluates `ew` — and with it the caller's whole
    // edge derivation (the corpus bigram
    // explode for wordPageRank) — TWICE inside this one staging write,
    // and pays a third shuffle for the join. The window computes the
    // same exact long sum per src off one ew evaluation. Values
    // identical (same groups, same integer sum)
    val edgesN = FsOps.stage(
      ew.withColumn("outw", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))),
      s"$stageDir/edges")
    val nodes = edgesN.select(col("src").as("node"))
      .union(edgesN.select(col("dst").as("node"))).distinct()
    // N is ONE driver-side scalar (the approxQuantileCuts
    // driver-literal-stat class), inlined so the base terms fold
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    def hu(a: BigInt, b: BigInt): Long = ((a * 2 + b) / (b * 2)).toLong
    val r0 = hu(Scale, n)
    // base = half_up((dd - dn)·S / (dd·N)) — a constant, folded here
    val base = hu((dampingDen - dampingNum) * BigInt(Scale), BigInt(dampingDen) * n)
    var ranks = FsOps.stage(nodes.select(col("node"), lit(r0).as("u")), s"$stageDir/r0")
    for (i <- 1 to iters) {
      // fresh aliases each round: r's src and contrib's node are new
      // attributes, so the chained self-referencing joins stay
      // unambiguous (the GraphFrames iteration idiom)
      val r = ranks.select(col("node").as("src"), col("u"))
      val dang = r.join(edgesN.select(col("src")).distinct(),
          Seq("src"), "left_anti")
        .agg(coalesce(sum(col("u")), lit(0L)).as("dmass"))
      // per-edge contribution half_up(u·w / outw): the u·w numerator
      // is DECIMAL(38,0)-exact (u ≤ 10¹², w unbounded at corpus scale
      // — a BIGINT product would overflow past w ≈ 4.6·10⁶)
      val contrib = r.join(edgesN, Seq("src"))
        .select(col("dst"),
          halfUpDiv(col("u").cast("decimal(38,0)") * col("w"), col("outw"))
            .as("c"))
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("csum"))
      ranks = FsOps.stage(
        ranks.select(col("node"))
          .join(contrib, Seq("node"), "left")
          .crossJoin(broadcast(dang))
          .select(col("node"),
            (lit(base)
              + halfUpDiv(coalesce(col("csum"), lit(0L)) * dampingNum,
                  lit(dampingDen))
              + halfUpDiv(col("dmass").cast("decimal(38,0)") * dampingNum,
                  lit(dampingDen) * n))
              .as("u")),
        s"$stageDir/r$i")
    }
    ranks.select(col("node"), col("u").as("rank_e12"))
  }

  /** k-round minimum-label propagation over an undirected edge list —
    * the bounded-round DataFrame sibling of the RDD fixpoint in
    * [[DedupOps.dedupClusters]]: each round every endpoint takes the
    * min of its own label and its neighbors' labels (one nodes-sized
    * equi-join + one partial-aggregated min per round, ranks staged
    * per round like [[pageRank]]). The graded function is "labels
    * after EXACTLY k rounds" — deterministic for any k and any
    * convergence state, so an oracle replays it with k unrolled
    * rounds; when k ≥ the max component min-eccentricity the result
    * IS connected components (near-dup clusters are small and dense —
    * 2-3 rounds typical — so a fixed k carries a large margin where
    * the fixpoint loop must OBSERVE convergence with a driver-side
    * loop-and-count. The fixpoint variant stays the right tool when k
    * is unknowable; this one is the right tool when a bound is known
    * and the plan must stay a pure, replayable chain).
    *
    * All-integer (labels ARE the node ids): no float anywhere.
    * Output: (node, label) over edge ENDPOINTS only — isolated nodes
    * are trivially their own cluster; callers join back (the
    * dedupClusters convention).
    *
    * @param stageDir scratch dir of the lineage cut: the call
    *              overwrites `sym_edges` and `lp0`..`lp{k}` under it,
    *              where `lp{k}` is the last round staged (k ≤ iters),
    *              and the result reads `lp{k}`. Two results that are
    *              both still live must not share it.
    */
  def minLabelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                        iters: Int, stageDir: String): DataFrame = {
    require(iters >= 1 && iters <= 50, s"minLabelPropagate: iters=$iters out of [1,50]")
    // stopOnConverge: a round that changes zero labels proves the
    // fixpoint — min-propagation is monotone and the
    // update is a deterministic function of the label frame, so
    // lp_i == lp_{i-1} implies lp_j == lp_i for all j > i. Skipping the
    // trailing rounds returns a frame ROW-IDENTICAL to lp$iters while
    // saving one full node-frame join + groupBy + staged write per
    // skipped round (the graded queries run k = 8 over graphs that
    // converge in 2-3 — the audit query measures exactly that margin,
    // and it keeps fixed-k below because its rounds ARE its semantics).
    propagateRounds(edges, srcCol, dstCol, iters, stageDir,
      stopOnConverge = true).last
  }

  /** The shared propagation loop of [[minLabelPropagate]] and
    * [[labelConvergenceAudit]] — ONE definition of the round semantics
    * (an audit that re-implemented the update rule could pass while
    * the production op drifted). Returns the staged label frames
    * lp0..lp{iters}: each element is a read of its scratch parquet, so
    * holding all iters+1 of them costs nothing until scanned and the
    * audit's per-round diffs scan only consecutive pairs.
    *
    * `stopOnConverge = true` stops staging further rounds once a round
    * changed ZERO labels: min-propagation is monotone and each round
    * is a deterministic function of the label frame, so
    * lp_i == lp_{i-1} implies lp_j == lp_i for every j > i — the last
    * staged frame is row-identical to lp$iters while each skipped
    * round saves a full node-frame join + groupBy + staged write.
    * Detection rides the staging write the round already pays, via an
    * `Observation` on the pre-projection change flag — the DataFrame
    * twin of [[DedupOps.dedupClusters]]'s
    * accumulator-on-materialization pattern; like that accumulator the
    * count is only compared to 0, so a task retry inflating it cannot
    * flip the verdict. [[labelConvergenceAudit]] passes `false`: its
    * graded output is one row per round, converged or not. */
  private def propagateRounds(edges: DataFrame, srcCol: String,
                              dstCol: String, iters: Int,
                              dir: String,
                              stopOnConverge: Boolean): Seq[DataFrame] = {
    // symmetrize in ONE pass over `edges`: the union-of-two-selects
    // form evaluates the caller's edge derivation once per branch
    // inside this staging write — for the
    // graded graph queries that derivation is the full ngramJaccardPairs
    // chain (shingle window + postings + pair join), so both
    // orientations from one explode halve the most expensive pass of
    // the whole op. Row set is identical: each input edge contributes
    // exactly its two orientations either way, then distinct()
    val sym = FsOps.stage(
      edges.select(explode(array(
          struct(col(srcCol).cast("long").as("a"),
            col(dstCol).cast("long").as("b")),
          struct(col(dstCol).cast("long").as("a"),
            col(srcCol).cast("long").as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .distinct(),
      s"$dir/sym_edges")
    var labels = FsOps.stage(
      sym.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("label")),
      s"$dir/lp0")
    val rounds = Seq.newBuilder[DataFrame]
    rounds += labels
    var converged = false
    var i = 1
    while (i <= iters && !converged) {
      val l = labels.select(col("node").as("a"), col("label"))
      val nbrMin = l.join(sym, Seq("a"))
        .groupBy(col("b").as("node")).agg(min(col("label")).as("nbr_min"))
      val upd = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"),
          col("label").as("__old"))
      if (stopOnConverge) {
        // the new label is least(old, ·) ≤ old, so changed ⇔ new < old;
        // count(when(...)) is 0 (never NULL) on an empty frame
        val obs = org.apache.spark.sql.Observation()
        labels = FsOps.stage(
          upd.observe(obs,
              count(when(col("label") < col("__old"), lit(1))).as("n_changed"))
            .select(col("node"), col("label")),
          s"$dir/lp$i")
        rounds += labels
        // FsOps.stage already ran the write action, and an Observation's
        // listener fires for write commands, so this returns immediately
        converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      } else {
        labels = FsOps.stage(upd.select(col("node"), col("label")), s"$dir/lp$i")
        rounds += labels
      }
      i += 1
    }
    rounds.result()
  }

  /** In-engine convergence audit of [[minLabelPropagate]] (the
    * `dedup_lsh_recall` pattern: grade the
    * production config's safety-margin claim on every fixture, don't
    * just property-test it on random graphs): one row per round i =
    * 1..iters with the count of nodes whose label CHANGED in that
    * round. `n_changed = 0` at round i means the propagation had
    * already converged after round i-1 — so a trailing run of zeros
    * is the measured margin of the fixed k over this data, and a
    * NONZERO final round is the audit failing loudly (k too small:
    * labels were still moving when the rounds ran out).
    *
    * Scale shape: the rounds themselves are [[minLabelPropagate]]'s
    * staged chain (shared loop, see [[propagateRounds]]); each audit
    * row is one endpoints-sized equi-join of two CONSECUTIVE staged
    * frames + a 1-row count — k small constant, so the audit costs
    * O(k) node-frame joins on top of the propagation it audits.
    * All-integer in, exact counts out: hash-gradeable, no tolerance.
    *
    * @param stageDir scratch dir of the lineage cut: the call
    *              overwrites `sym_edges` and `lp0`..`lp{iters}` under
    *              it, and the result reads every `lp` round (each audit
    *              row diffs a consecutive pair). Two results that are
    *              both still live must not share it.
    */
  def labelConvergenceAudit(edges: DataFrame, srcCol: String,
                            dstCol: String, iters: Int,
                            stageDir: String): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"labelConvergenceAudit: iters=$iters out of [1,50]")
    // fixed-k, NEVER early-exited: the audit's rounds ARE its semantics
    // (one graded row per round, zeros included)
    val rounds = propagateRounds(edges, srcCol, dstCol, iters, stageDir,
      stopOnConverge = false)
    rounds.sliding(2).zipWithIndex.map { case (Seq(prev, cur), i) =>
      prev.select(col("node"), col("label").as("__prev"))
        .join(cur, Seq("node"))
        .agg(coalesce(sum(when(col("label") =!= col("__prev"), 1L)
          .otherwise(0L)), lit(0L)).as("n_changed"))
        .select(lit(i + 1).cast("int").as("round"), col("n_changed"))
    }.reduce(_ unionByName _)
  }

  /** Incremental connected components: fold a batch of NEW edges into
    * a stored label snapshot — the graph/cluster family's ingest
    * lifecycle.
    * The old corpus's edges are NEVER replayed, because canonical
    * labels ARE the quotient: nodes sharing a snapshot label are
    * connected in the old graph by construction, so components of
    * (old ∪ batch) are exactly the components of the QUOTIENT graph
    * whose nodes are labels and whose edges are the batch edges
    * mapped through the snapshot — and when snapshot labels are the
    * [[minLabelPropagate]]/[[DedupOps.dedupClusters]] CANONICAL
    * MINIMA (label = min node id of its component), min-label
    * propagation over the quotient yields the union's canonical
    * minima directly (the min of a merged class is the min of its
    * member labels, each label being its own component's min). Unseen
    * batch endpoints enter as their own label (the convention's
    * identity), so a batch may bridge, extend, or create components.
    *
    * Scale shape: the propagated frame is BATCH-bounded — at most
    * 2·|batch edges| quotient nodes; old edges and untouched nodes
    * never enter the loop. The only corpus-sized work is one left
    * join seeding batch endpoints with snapshot labels and one left
    * join remapping the snapshot through the quotient result (both
    * label-keyed equi-joins). `iters` bounds the QUOTIENT diameter
    * (≤ the batch's longest new-edge path — audit with
    * [[labelConvergenceAudit]] over the quotient edges when in
    * doubt); the snapshot must itself be converged, which its own
    * audit grades.
    *
    * @param snapshotLabels (node, label) — [[minLabelPropagate]]'s
    *              output convention, converged (labels = component
    *              minima)
    * @param stageDir scratch dir of the lineage cut: the call
    *              overwrites `cc_seed`, then [[minLabelPropagate]]'s
    *              `sym_edges` and `lp0`..`lp{k}` under it, and the
    *              result reads `cc_seed` and `lp{k}`. Two results that
    *              are both still live must not share it, so it is not
    *              the dir `snapshotLabels` was staged under.
    * Output: (node, label) over snapshot nodes ∪ batch endpoints.
    */
  def componentsIncremental(snapshotLabels: DataFrame, newEdges: DataFrame,
                            srcCol: String, dstCol: String, iters: Int,
                            stageDir: String): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"componentsIncremental: iters=$iters out of [1,50]")
    val labs = snapshotLabels.select(col("node").cast("long").as("node"),
      col("label").cast("long").as("label"))
    // endpoints in ONE pass over newEdges (the propagateRounds
    // symmetrization rationale: the union form evaluated the caller's
    // batch-edge derivation once per branch)
    val ends = newEdges.select(explode(array(
        col(srcCol).cast("long"), col(dstCol).cast("long"))).as("node"))
      .distinct()
    // STAGE the (batch-bounded) seed: it is referenced three more
    // times below — twice mapping the quotient edges, once seeding
    // unseen endpoints into the output — and each unstaged reference
    // re-evaluates `newEdges`, which for the graded queries is the
    // full ngramJaccardPairs chain. One tiny write caps the whole op
    // at TWO evaluations of the batch-edge derivation (this seed and
    // the quotient-edge staging inside minLabelPropagate); the
    // returned plan reads only staged frames + the snapshot
    val seed = FsOps.stage(
      ends.join(labs, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label")),
      s"$stageDir/cc_seed")
    // quotient edges: batch endpoints mapped to their canonical
    // labels; same-label edges merge nothing and are dropped before
    // the loop (their labels remap to themselves via the coalesce)
    val qe = newEdges
      .select(col(srcCol).cast("long").as("__s"), col(dstCol).cast("long").as("__d"))
      .join(seed.select(col("node").as("__s"), col("label").as("la")), Seq("__s"))
      .join(seed.select(col("node").as("__d"), col("label").as("lb")), Seq("__d"))
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb"))
    val remap = minLabelPropagate(qe, "la", "lb", iters, stageDir)
      .select(col("node").as("label"), col("label").as("__nl"))
    val allNodes = labs.unionByName(seed.join(labs, Seq("node"), "left_anti"))
    allNodes.join(remap, Seq("label"), "left")
      .select(col("node"),
        coalesce(col("__nl"), col("label")).as("label"))
  }

  /** PageRank over the word-adjacency graph of a text corpus: nodes =
    * words, a directed edge w1→w2 per adjacent bigram occurrence
    * (weight = corpus bigram count, via the native WordNgrams
    * generator — pairing stays in the scan loop, no HOF lambda). The
    * "which words sit at the center of the corpus's phrase graph?"
    * card — connector words rank highest on natural text. Top-k is
    * TakeOrderedAndProject (never a vocab-sized window). `stageDir` is
    * [[pageRank]]'s.
    */
  def wordPageRank(df: DataFrame, textCol: String = "text",
                   iters: Int = 3, topK: Int = 20,
                   stageDir: String): DataFrame = {
    import graft.functions.TextFunctions.word_ngrams
    val bg = df.filter(col(textCol).isNotNull)
      .select(explode(word_ngrams(col(textCol), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("src"),
        split(col("bg"), " ").getItem(1).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    pageRank(bg, "src", "dst", "w", iters, stageDir = stageDir)
      .orderBy(col("rank_e12").desc, col("node")).limit(topK)
  }
}
