package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{FsOps, Tables}
import graft.ops._
import graft.QHelp._
import graft.streaming.FoldLaw

/** Sampling / packing / sketch family: stratified, weighted, mixture,
  * budget, curriculum, DSIR, KMV, equi-depth bins. */
private[graft] object QueriesSampling {


  /** pack_sequences — token-budget packing (PackOps.packBudget): docs
    * in id order are chunked into bins of 4096 whitespace tokens via a
    * distributed two-level prefix sum (NOT a single-partition global
    * window). Pure integer arithmetic → exact oracle: DuckDB computes
    * the same bins with one plain window cumsum.
    */
  private val pk1 = Q(
    "pack_sequences",
    (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"))
      PackOps.packBudget(toks, "doc_id", "n_tokens", budget = 4096L)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("sum_tokens"))
        .orderBy(col("bin"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT CAST((cum - n_tokens) // 4096 AS BIGINT) AS bin,
             count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      FROM c GROUP BY 1 ORDER BY 1"""))


  /** pack_efficiency — the padding-waste data card
    * (PackOps.packEfficiency): per 16-token document-length bucket,
    * padded sequences under per-doc batching (each doc →
    * ceil(tokens/64) sequences, last one padded) vs the packed
    * lower bound, and the share of slots padding burns. Row-local
    * `div`-ceil integer arithmetic, then one partial-aggregated
    * buckets-cardinality pass — the report that justifies the pk1
    * packer.
    */
  private val pk2 = Q(
    "pack_efficiency",
    (s, d) => {
      val toks = docs(s, d).select(
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      PackOps.packEfficiency(toks, "n_tokens", maxLen = 64, bucketWidth = 16)
        .orderBy(col("bucket"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        FROM documents),
      a AS (
        SELECT CAST(t // 16 AS INTEGER) AS bucket,
               count(*) AS n_docs,
               CAST(sum(t) AS BIGINT) AS tokens,
               CAST(sum((t + 63) // 64) AS BIGINT) AS n_seqs
        FROM d GROUP BY 1)
      SELECT bucket, n_docs, tokens, n_seqs,
             n_seqs * 64 - tokens AS pad_slots,
             round(CAST(n_seqs * 64 - tokens AS DOUBLE)
                   / CAST(n_seqs * 64 AS DOUBLE), 4) AS pad_pct,
             (tokens + 63) // 64 AS bins_packed,
             round(1.0 - CAST((tokens + 63) // 64 AS DOUBLE)
                         / CAST(n_seqs AS DOUBLE), 4) AS saved_pct
      FROM a ORDER BY bucket"""))


  /** sample_stratified — reproducible per-language downsample (up to 20
    * docs per lang by md5-of-id order): the curation sampler that is
    * stable across runs, engines, and partitionings, unlike rand().
    */
  private val sm1 = Q(
    "sample_stratified",
    (s, d) => SampleOps.stratifiedSample(docs(s, d), "lang", "doc_id", 20)
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("rk")),
    Some("""
      SELECT lang, doc_id, rk FROM (
        SELECT lang, doc_id,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INTEGER) AS rk
        FROM documents) t
      WHERE rk <= 20 ORDER BY lang, rk"""))


  /** sample_mixture — domain-mixture rebalancing: per-language keep
    * rates applied as a deterministic hash threshold (upsample en,
    * downsample zh). Row-local WHERE — no shuffle, no window; the
    * same doc survives under any partitioning or engine. The oracle
    * CASE is generated from the same rate map so they cannot drift.
    */
  private val MixtureRates: Seq[(String, Double)] =
    Seq("de" -> 0.5, "en" -> 0.9, "es" -> 0.25, "fr" -> 0.5, "zh" -> 0.1)


  private val sm2 = Q(
    "sample_mixture",
    (s, d) => SampleOps.mixtureSample(docs(s, d), "lang", "doc_id",
        MixtureRates.toMap)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id")),
    Some {
      val cases = MixtureRates.map { case (l, r) =>
        s"WHEN '$l' THEN $r * 65536.0"
      }.mkString("\n               ")
      s"""
      SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER AS bk
        FROM documents) b
      WHERE bk < CASE lang
               $cases
               ELSE 0.0 END
      ORDER BY lang, doc_id"""
    })


  /** sample_epochs — epoch-replicated mixing (SampleOps.epochMixture):
    * the UP-sampling half of data mixing — repeat small high-quality
    * sources for multiple epochs (src0 ×2.5) while down-weighting
    * others (src1 ×0.25), emitting explicit (doc, copy_idx) pairs.
    * Integer-only engine arithmetic (driver-computed floor/threshold
    * literals, hash compare, sequence generate), so the oracle replays
    * copies and indices exactly; the CASE literals are generated from
    * the same epoch map so the two sides cannot drift.
    */
  private val EpochMap: Seq[(String, Double)] =
    Seq("src0" -> 2.5, "src1" -> 0.25)


  private val sm7 = Q(
    "sample_epochs",
    (s, d) => SampleOps.epochMixture(docs(s, d), "source", "doc_id",
        EpochMap.toMap)
      .select(col("doc_id"), col("source"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx")),
    Some {
      // SampleOps.epochFull/epochThr: the ONE definition of the
      // integer decomposition — oracle literals cannot drift from the
      // engine's arithmetic
      val fullCases = EpochMap.map { case (g, e) =>
        s"WHEN '$g' THEN ${SampleOps.epochFull(e)}"
      }.mkString(" ")
      val thrCases = EpochMap.map { case (g, e) =>
        s"WHEN '$g' THEN ${SampleOps.epochThr(e)}"
      }.mkString(" ")
      s"""
      WITH b AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER AS bk,
               CASE source $fullCases ELSE ${SampleOps.epochFull(1.0)} END AS fc,
               CASE source $thrCases ELSE ${SampleOps.epochThr(1.0)} END AS th
        FROM documents),
      c AS (
        SELECT doc_id, source,
               fc + CASE WHEN bk < th THEN 1 ELSE 0 END AS n
        FROM b)
      SELECT doc_id, source, CAST(unnest(range(0, n)) AS INTEGER) AS copy_idx
      FROM c WHERE n > 0 ORDER BY doc_id, copy_idx"""
    })


  /** sample_shards — deterministic shuffle + shard assignment: every
    * doc gets a stable (shard, pos) from its id hash — the reproducible
    * global permutation a training dataloader reads. Shard membership
    * is row-local; the within-shard position is one shuffle partitioned
    * BY shard, the same distribution a shard-writer would reuse.
    */
  private val sm3 = Q(
    "sample_shards",
    (s, d) => SampleOps.shardAssignment(docs(s, d), "doc_id", 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos")),
    Some("""
      SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INTEGER) AS pos
      FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                 AS INTEGER) AS shard
        FROM documents) t
      ORDER BY shard, pos"""))


  /** sample_budget — token-budget sampling (SampleOps.budgetSample):
    * keep the highest-quality documents whose running token total fits
    * an 8k budget — the "best N tokens of this source" data-mixing
    * primitive. The engine runs the two-level score-bucketed prefix
    * sum (no global sort, no single-partition window); the oracle IS
    * the naive global formulation (one window over everything —
    * DuckDB's single node doesn't care), so the parity claim is
    * exactly "the distributed prefix sum equals the global running
    * sum". Integer token arithmetic and an (score, id) total order
    * make the kept set engine-exact; the boundary-straddling doc is
    * dropped (cum <= budget) on both sides.
    */
  private val sm4 = Q(
    "sample_budget",
    (s, d) => {
      import s.implicits._
      SampleOps.budgetSample(
        docs(s, d).withColumn("n_tokens", size(split($"text", " "))),
        "n_chars", "n_tokens", "doc_id", budget = 8000L)
        .select($"doc_id", $"n_tokens", $"cum_tokens")
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               n_chars
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id)
                 AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 8000 ORDER BY doc_id"""))


  /** sample_budget_grouped — per-source token budgets
    * (SampleOps.groupedBudgetSample): the per-domain quota of a mixing
    * recipe — best 400 tokens of EVERY source, greedy by n_chars. Same
    * parity claim as sample_budget (distributed two-level prefix sum ≡
    * the naive per-group running window DuckDB runs), with the group
    * score ranges riding a keys-sized broadcast instead of driver
    * literals.
    */
  private val sm8 = Q(
    "sample_budget_grouped",
    (s, d) => {
      import s.implicits._
      SampleOps.groupedBudgetSample(
        docs(s, d).withColumn("n_tokens", size(split($"text", " "))),
        "source", "n_chars", "n_tokens", "doc_id", budget = 400L)
        .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               n_chars
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT source, doc_id, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 400 ORDER BY doc_id"""))


  /** sample_cluster_balance — cluster-balanced subsampling
    * (SimOps.clusterBalance): cap every learned embedding cluster at
    * 16 rows (trained 16-cell k-means → md5-ranked top-16 per cell),
    * flattening the cluster distribution the way the MetaCLIP
    * per-entry cap balances image-text corpora — head clusters are
    * bounded, tail clusters survive whole. A composition of two
    * graded primitives (the a04 trainer + the sample_stratified cap),
    * so the oracle replays the whole thing: unrolled Lloyd's,
    * argmax assignment, per-cell sizes, md5-order rank, cap filter.
    * Output ≤ numCells×cap rows regardless of corpus size.
    */
  private val sm9 = Q(
    "sample_cluster_balance",
    (s, d) => {
      import s.implicits._
      SimOps.clusterBalance(emb(s, d), "vec_id", "embedding",
          numCells = 16, iters = 2, cap = 16)
        .orderBy($"vec_id")
    },
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
      sizes AS (SELECT cell, count(*) AS n FROM assign GROUP BY cell),
      ranked AS (
        SELECT vec_id, cell,
               CAST(row_number() OVER (PARTITION BY cell
                 ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC)
                 AS INTEGER) AS rk
        FROM assign)
      SELECT r.vec_id, r.cell, s.n, r.rk
      FROM ranked r JOIN sizes s USING (cell)
      WHERE r.rk <= 16
      ORDER BY r.vec_id"""))


  /** sample_temperature — temperature-flattened language mixing
    * (SampleOps.temperatureSample, alpha = 0.5, target 250 docs): the
    * multilingual corpus-balancing practice — rates DERIVED from the
    * observed per-lang counts (∝ √n), upsampling low-resource langs
    * (fr: 64 docs → rate ~0.61) relative to the head (en: 218 →
    * ~0.33 at sf0.01) while the kept total tracks the target. The
    * corpus never shuffles: per-lang counts (5 rows), a 1-row weight
    * total, a broadcast rates join, a row-local md5 threshold. Parity
    * is engine-exact by construction: sqrt is IEEE-correctly-rounded
    * everywhere, the weight total sums in DECIMAL (partial order
    * can't flip an ulp), and every remaining op is a correctly-
    * rounded IEEE primitive in the same tree order the oracle writes.
    */
  private val sm5 = Q(
    "sample_temperature",
    (s, d) => {
      import s.implicits._
      SampleOps.temperatureSample(docs(s, d), "lang", "doc_id", 0.5, 250L)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"),
             round(min($"mix_rate"), 6).as("rate"))
        .orderBy($"lang")
    },
    Some("""
      WITH c AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      t AS (
        SELECT CAST(sum(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,18)))
                    AS DOUBLE) AS tw
        FROM c),
      r AS (
        SELECT lang,
               least(1.0, sqrt(CAST(n AS DOUBLE)) / tw * 250.0
                            / CAST(n AS DOUBLE)) AS rate
        FROM c, t)
      SELECT d.lang, count(*) AS n_kept, round(min(rate), 6) AS rate
      FROM documents d JOIN r USING (lang)
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
              < rate * 65536.0
      GROUP BY d.lang ORDER BY d.lang"""))


  /** sample_temperature_a03 — the NON-dyadic temperature knob graded
    * (SampleOps.temperatureSample, alpha = 0.3, target 250): the first
    * knob a real user turns (alpha 0.3/0.7) routes through `pow`,
    * which is 1-ulp class, not correctly rounded — so the operator
    * DEFINES pow-path rates at 1e-9 precision (round(rate, 9) in both
    * engines), absorbing the cross-engine ulp noise. That documented
    * precision is the graded contract here: DuckDB replays pow, the
    * DECIMAL weight total, the rounding, and the md5 threshold; a
    * kept-set flip would need an unrounded rate within an ulp of a
    * 0.5e-9 rounding boundary (the operator's documented residual).
    * Alpha 0.3 flattens harder than √n: fr's rate rises and en's
    * falls relative to sample_temperature on the same corpus.
    */
  private val sm6 = Q(
    "sample_temperature_a03",
    (s, d) => {
      import s.implicits._
      SampleOps.temperatureSample(docs(s, d), "lang", "doc_id", 0.3, 250L)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"),
             round(min($"mix_rate"), 6).as("rate"))
        .orderBy($"lang")
    },
    Some("""
      WITH c AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      t AS (
        SELECT CAST(sum(CAST(pow(CAST(n AS DOUBLE), 0.3)
                             AS DECIMAL(38,18))) AS DOUBLE) AS tw
        FROM c),
      r AS (
        SELECT lang,
               round(least(1.0, pow(CAST(n AS DOUBLE), 0.3) / tw * 250.0
                                  / CAST(n AS DOUBLE)), 9) AS rate
        FROM c, t)
      SELECT d.lang, count(*) AS n_kept, round(min(rate), 6) AS rate
      FROM documents d JOIN r USING (lang)
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
              < rate * 65536.0
      GROUP BY d.lang ORDER BY d.lang"""))


  /** sample_dsir — DSIR importance resampling (SampleOps.dsirWeights):
    * every doc scored by the log-likelihood ratio of its hashed
    * unigram+bigram features under a TARGET domain (lang = 'en' here —
    * "select docs that look like the English reference") vs the raw
    * corpus — the published data-selection recipe at pre-training
    * scale (hashed features make the model B = 256 buckets, a
    * broadcast, regardless of corpus size). The oracle replays the
    * md5 feature hash, both smoothed histograms, the ln-ratio table,
    * and the DECIMAL(28,12)-quantized per-doc sums; keep derives from
    * the ROUNDED weight on both sides, so the flag is structurally
    * parity-safe given the hash-graded logw.
    */
  private val sm10 = Q(
    "sample_dsir",
    (s, d) => {
      import s.implicits._
      val ds = docs(s, d)
      SampleOps.dsirWeights(ds, ds.filter($"lang" === "en"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      g AS (
        SELECT doc_id, lang,
               unnest(w || list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1])) AS gram
        FROM w),
      gb AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(gram), 1, 6))::BIGINT % 256
                 AS INTEGER) AS b
        FROM g),
      th AS (SELECT b, count(*)::BIGINT AS ct FROM gb
             WHERE lang = 'en' GROUP BY b),
      ch AS (SELECT b, count(*)::BIGINT AS cq FROM gb GROUP BY b),
      tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM th),
      tc AS (SELECT CAST(sum(cq) AS BIGINT) AS nq FROM ch),
      lr AS (
        SELECT coalesce(th.b, ch.b) AS b,
               ln((coalesce(ct, 0) + 1.0) / (nt + 256.0))
             - ln((coalesce(cq, 0) + 1.0) / (nq + 256.0)) AS lr
        FROM th FULL JOIN ch ON th.b = ch.b CROSS JOIN tt CROSS JOIN tc),
      dtf AS (
        SELECT doc_id, b, count(*)::BIGINT AS tf FROM gb GROUP BY doc_id, b)
      SELECT doc_id,
             CAST(sum(tf) AS INTEGER) AS n_grams,
             round(CAST(sum(CAST(tf * lr AS DECIMAL(28,12))) AS DOUBLE), 4)
               AS logw,
             round(CAST(sum(CAST(tf * lr AS DECIMAL(28,12))) AS DOUBLE), 4)
               > 0 AS keep
      FROM dtf JOIN lr USING (b)
      GROUP BY doc_id ORDER BY doc_id"""))


  /** sample_curriculum — curriculum ordering
    * (SampleOps.curriculumOrder): every doc gets a global contiguous
    * training position, short-doc stages first (stage =
    * len(text) / 128 — the classic length curriculum),
    * hash-shuffled within each stage — computed with (stage, hash-
    * prefix)-partitioned windows plus a tiny bucket-offset frame, not
    * a one-task global sort. The oracle IS the naive global
    * row_number over (stage, md5, id) — parity proves the two-level
    * decomposition exactly reproduces the single-window semantics.
    */
  private val sm11 = Q(
    "sample_curriculum",
    (s, d) => {
      import s.implicits._
      SampleOps.curriculumOrder(
          docs(s, d).select($"doc_id", $"text"),
          floor(length($"text") / 128), "doc_id")
        .select($"doc_id", $"stage", $"pos")
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(len(text) // 128 AS INTEGER) AS stage,
             CAST(row_number() OVER (ORDER BY len(text) // 128,
               md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
      FROM documents ORDER BY doc_id"""))


  /** q77 — key-skew report (LibOps.skewReport): the shuffle-planning
    * diagnostic — top keys by row count with share and skew ratio
    * (count ÷ mean-per-key), computed keys-sized after one partial-
    * aggregated count. The number that decides whether a join key
    * needs q60's salting before it hits a 1000-executor shuffle.
    */
  private val q77 = Q(
    "q77_skew_report",
    (s, d) => LibOps.skewReport(ev(s, d), Seq("event_type"), topK = 5)
      .orderBy(col("rank")),
    Some("""
      WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
      t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nkeys FROM c)
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, event_type)
               AS INTEGER) AS rank,
             event_type, cnt,
             round(CAST(cnt AS DOUBLE) / total * 100.0, 4) AS pct_rows,
             round(CAST(cnt AS DOUBLE) * nkeys / total, 4) AS skew_ratio
      FROM c CROSS JOIN t
      QUALIFY rank <= 5
      ORDER BY rank"""))


  /** q80 — partition-aware compaction (Layout.compactPartitioned):
    * documents written partitioned by lang, fragmented into ~12 files
    * per partition, compacted back toward the byte budget WITHIN each
    * `lang=` directory — the layout-preserving sibling of q72 (plain
    * compact would flatten the partitioning and throw away pruning).
    * Compaction is content-neutral by contract, so the oracle is the
    * plain aggregate over the original table; the read-back filter
    * exercises partition pruning over the compacted layout, and
    * OpsSpec separately proves per-directory file collapse, the
    * preserved null sentinel, and token-exact round-tripping.
    */
  private val q80 = Q(
    "q80_compact_partitioned",
    (s, d) => {
      import s.implicits._
      import graft.io.Layout
      val frag = tmpDir(s, "q80_frag")
      val compacted = tmpDir(s, "q80_compacted")
      docs(s, d).repartition(12)
        .write.mode("overwrite").partitionBy("lang").parquet(frag)
      Layout.compactPartitioned(s, frag, compacted, Seq("lang"),
        targetBytes = 8L * 1024 * 1024)
      FsOps.readParquet(s, compacted)
        .filter($"lang" =!= "zz") // partition predicate over the new layout
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang <> 'zz' GROUP BY lang ORDER BY lang"""),
    writes = true)


  /** q79 — quantile winsorization (LibOps.winsorize): events.value
    * clipped at its global [p05, p95], summarized per event type —
    * rows never shuffle; the corpus reduces to a 2-value cut row that
    * broadcasts back. Oracle mirrors with quantile_cont (the
    * q24/q67-established exact-percentile parity); the clipped sum
    * runs in DECIMAL (cast, not round — cast operates on the exact
    * binary value in both engines) so partial order can't flip it.
    * The sf0.1 p05 cut lands exactly ON a repeated data value (19
    * rows) — safe because both engines compute the SAME cut double and
    * `v < lo` is false for v == lo on both sides.
    */
  private val q79 = Q(
    "q79_winsorize",
    (s, d) => {
      import s.implicits._
      LibOps.winsorize(ev(s, d), "value")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(when($"was_clipped", 1L).otherwise(0L)).as("n_clipped"),
          sum($"clipped".cast("decimal(18,6)")).cast("double")
            .as("sum_clipped"))
        .orderBy($"event_type")
    },
    Some("""
      WITH c AS (
        SELECT quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events)
      SELECT event_type, count(*) AS n,
             CAST(count(*) FILTER (value < lo OR value > hi) AS BIGINT)
               AS n_clipped,
             CAST(sum(CASE WHEN value IS NOT NULL
                           THEN CAST(least(greatest(value, lo), hi)
                                     AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS sum_clipped
      FROM events CROSS JOIN c
      GROUP BY event_type ORDER BY event_type"""))


  /** q81 — approx-percentile winsorization at SCALE
    * (LibOps.winsorizeApprox): the q79 clamp with histogram-bucket
    * boundaries instead of the exact-percentile buffer — the variant
    * q67/q79's docstrings promise for near-continuous 100 TB columns,
    * where exact `percentile` buffers every value per group (measured
    * 18.9 s on the q67 fixture) and sketch-based
    * `approx_percentile` is engine-specific and ungradeable. The
    * histogram quantile is pure deterministic arithmetic, so DuckDB
    * replays it BIT-FOR-BIT: the oracle mirrors the bucketing
    * (floor/least), the cumulative, the `ceil(p·n)` rank target, and
    * the upper-edge cut — a full-strength hash grade of an
    * approximate operator. Cut error ≤ one bucket width
    * ((max−min)/4096 ≈ 0.12 here; ApproxSpec measures the actual
    * margin vs the exact percentile). Decimal-cast clipped sum and
    * integer clip counts per event type, the q79 output convention.
    */
  private val q81 = Q(
    "q81_approx_winsorize",
    (s, d) => {
      import s.implicits._
      LibOps.winsorizeApprox(ev(s, d), "value", 0.05, 0.95, 4096)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(when($"value" < $"lo", 1L).otherwise(0L)).as("n_lo"),
          sum(when($"value" > $"hi", 1L).otherwise(0L)).as("n_hi"),
          round(min($"lo"), 6).as("cut_lo"),
          round(min($"hi"), 6).as("cut_hi"),
          sum($"clipped".cast("decimal(18,6)")).cast("double")
            .as("sum_clipped"))
        .orderBy($"event_type")
    },
    Some("""
      WITH s AS (
        SELECT min(value) AS vlo, max(value) AS vhi, count(value) AS total
        FROM events),
      h AS (
        SELECT CASE WHEN vhi = vlo THEN 0
                    ELSE least(CAST(floor((value - vlo) /
                                          ((vhi - vlo) / 4096.0))
                               AS INTEGER), 4095) END AS bkt,
               count(*) AS cnt
        FROM events, s WHERE value IS NOT NULL GROUP BY 1),
      c AS (
        SELECT bkt, sum(cnt) OVER (ORDER BY bkt) AS cum FROM h),
      cut AS (
        SELECT vlo + ((vhi - vlo) / 4096.0) *
                 (min(CASE WHEN cum >= ceil(0.05 * total) THEN bkt END) + 1)
                 AS lo,
               vlo + ((vhi - vlo) / 4096.0) *
                 (min(CASE WHEN cum >= ceil(0.95 * total) THEN bkt END) + 1)
                 AS hi
        FROM c, s GROUP BY vlo, vhi, total)
      SELECT event_type, count(*) AS n,
             CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lo,
             CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hi,
             round(min(lo), 6) AS cut_lo,
             round(min(hi), 6) AS cut_hi,
             CAST(sum(CASE WHEN value IS NOT NULL
                           THEN CAST(least(greatest(value, lo), hi)
                                     AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS sum_clipped
      FROM events CROSS JOIN cut
      GROUP BY event_type ORDER BY event_type"""))


  /** q82 — deterministic KMV distinct-count sketch (LibOps.kmvDistinct,
    * k=64): the gradeable distinct sketch (it replaced q32's rows-only
    * HLL) — per event type,
    * distinct users estimated from the 64 smallest md5-derived hashes
    * ((k−1)/h_(k)), with the EXACT count and the measured error
    * percentage in the same graded row (the q81 practice: the margin
    * is part of the contract, not prose). At sf0.001 every group has
    * < k distinct users, so the grade covers the exact-fallback branch
    * there and the estimator branch at sf0.01/0.1. DuckDB replays
    * hash, normalization, rank, and estimator bit-for-bit.
    */
  private val q82 = Q(
    "q82_kmv_distinct",
    (s, d) => {
      import s.implicits._
      val exact = ev(s, d).groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_exact"))
      LibOps.kmvDistinct(ev(s, d), Seq("event_type"), "user_id", 64)
        .join(exact, "event_type")
        .select($"event_type", $"n_exact",
          round($"n_distinct_est", 4).as("n_kmv"),
          round(abs($"n_distinct_est" - $"n_exact".cast("double"))
            / $"n_exact".cast("double") * 100.0, 2).as("err_pct"))
        .orderBy($"event_type")
    },
    Some("""
      WITH dv AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE user_id IS NOT NULL),
      h AS (
        SELECT event_type, user_id,
               (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS DOUBLE) + 1.0) / 1152921504606846976.0
                 AS hv
        FROM dv),
      r AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hv, user_id) AS rk
        FROM h),
      est AS (
        SELECT event_type,
               CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                    ELSE 63.0 / max(CASE WHEN rk = 64 THEN hv END) END
                 AS n_est
        FROM r WHERE rk <= 64 GROUP BY 1),
      ex AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1)
      SELECT event_type, n_exact, round(n_est, 4) AS n_kmv,
             round(abs(n_est - CAST(n_exact AS DOUBLE))
                   / CAST(n_exact AS DOUBLE) * 100.0, 2) AS err_pct
      FROM est JOIN ex USING (event_type)
      ORDER BY event_type"""))


  /** q83 — PER-GROUP approx-percentile winsorization
    * (LibOps.approxQuantileCutsBy): the q81 histogram boundaries
    * computed per event type — the per-domain robust gate a corpus
    * actually runs ("clip each source at ITS OWN p05/p95"), at scale:
    * no per-group exact-percentile buffers, no unpartitioned window
    * (the cumulative is PARTITIONED BY the key, ≤4096 rows per
    * partition), stats ride the histogram rows. Each group's own
    * min/max span its buckets, so the cut error is ≤ its own
    * range/4096. The oracle replays the grouped bucketing, per-key
    * cumulative, rank targets, and upper-edge cuts bit-for-bit — the
    * q81 grade, multiplied across groups.
    */
  private val q83 = Q(
    "q83_grouped_winsorize",
    (s, d) => {
      import s.implicits._
      val cuts = LibOps.approxQuantileCutsBy(
          ev(s, d), Seq("event_type"), "value", Seq(0.05, 0.95), 4096)
        .select($"event_type", $"cut_0".as("lo"), $"cut_1".as("hi"))
      ev(s, d).join(broadcast(cuts), "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(when($"value" < $"lo", 1L).otherwise(0L)).as("n_lo"),
          sum(when($"value" > $"hi", 1L).otherwise(0L)).as("n_hi"),
          round(min($"lo"), 6).as("cut_lo"),
          round(min($"hi"), 6).as("cut_hi"),
          sum(when($"value".isNotNull,
            least(greatest($"value", $"lo"), $"hi").cast("decimal(18,6)")))
            .cast("double").as("sum_clipped"))
        .orderBy($"event_type")
    },
    Some("""
      WITH s AS (
        SELECT event_type, min(value) AS vlo, max(value) AS vhi,
               count(value) AS total
        FROM events GROUP BY 1),
      h AS (
        SELECT e.event_type,
               CASE WHEN vhi = vlo THEN 0
                    ELSE least(CAST(floor((value - vlo)
                                          / ((vhi - vlo) / 4096.0))
                               AS INTEGER), 4095) END AS bkt,
               count(*) AS cnt,
               min(vlo) AS vlo, min(vhi) AS vhi, min(total) AS total
        FROM events e JOIN s USING (event_type)
        WHERE value IS NOT NULL GROUP BY 1, 2),
      c AS (
        SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bkt)
                 AS cum
        FROM h),
      cut AS (
        SELECT event_type,
               min(vlo) + ((min(vhi) - min(vlo)) / 4096.0) *
                 (min(CASE WHEN cum >= ceil(0.05 * total) THEN bkt END) + 1)
                 AS lo,
               min(vlo) + ((min(vhi) - min(vlo)) / 4096.0) *
                 (min(CASE WHEN cum >= ceil(0.95 * total) THEN bkt END) + 1)
                 AS hi
        FROM c GROUP BY event_type)
      SELECT e.event_type, count(*) AS n,
             CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lo,
             CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hi,
             round(min(lo), 6) AS cut_lo,
             round(min(hi), 6) AS cut_hi,
             CAST(sum(CASE WHEN value IS NOT NULL
                           THEN CAST(least(greatest(value, lo), hi)
                                     AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS sum_clipped
      FROM events e JOIN cut USING (event_type)
      GROUP BY e.event_type ORDER BY e.event_type"""))

  /** q94_kmv_incremental — count-distinct index maintenance: the KMV
    * sketch state (LibOps.kmvSketch, the ~k-row/group summary behind
    * q82's estimator) stored for a corpus half, the ingest half's
    * sketch FOLDED IN with kmvMerge (k-smallest-of-distinct-union is
    * associative ⇒ merge ≡ rebuild exactly, property-tested), and the
    * estimate read off the merged state next to the single-pass
    * kmvDistinct over the union: the graded output
    * shows n_merged = n_full on every row. The corpus is never
    * rescanned at ingest — the count-distinct sibling of the
    * exact/MinHash/semantic/span incremental-dedup family.
    */
  private val k94 = Q(
    "q94_kmv_incremental",
    (s, d) => {
      import s.implicits._
      val corpus = ev(s, d).filter($"event_id" % 2 === 0)
      val batch = ev(s, d).filter($"event_id" % 2 =!= 0)
      val merged = LibOps.kmvMerge(
        LibOps.kmvSketch(corpus, Seq("event_type"), "user_id", 64),
        LibOps.kmvSketch(batch, Seq("event_type"), "user_id", 64),
        Seq("event_type"), 64)
      val full = LibOps.kmvDistinct(ev(s, d), Seq("event_type"), "user_id", 64)
        .select($"event_type", round($"n_distinct_est", 4).as("n_full"))
      LibOps.kmvEstimate(merged, Seq("event_type"), 64)
        .select($"event_type", round($"n_distinct_est", 4).as("n_merged"))
        .join(full, "event_type")
        .orderBy($"event_type")
    },
    Some("""
      WITH hv AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v,
               (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS DOUBLE) + 1.0) / 1152921504606846976.0 AS h,
               event_id % 2 = 0 AS half
        FROM events WHERE user_id IS NOT NULL),
      skc AS (
        SELECT event_type, v, h FROM (
          SELECT event_type, v, h,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY h, v) AS rk
          FROM (SELECT DISTINCT event_type, v, h FROM hv WHERE half))
        WHERE rk <= 64),
      skb AS (
        SELECT event_type, v, h FROM (
          SELECT event_type, v, h,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY h, v) AS rk
          FROM (SELECT DISTINCT event_type, v, h FROM hv WHERE NOT half))
        WHERE rk <= 64),
      m AS (
        SELECT event_type, v, h FROM (
          SELECT event_type, v, h,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY h, v) AS rk
          FROM (SELECT event_type, v, h FROM skc
                UNION SELECT event_type, v, h FROM skb))
        WHERE rk <= 64),
      est AS (
        SELECT event_type, count(*) AS n, max(h) AS hk FROM m
        GROUP BY event_type),
      fullsk AS (
        SELECT event_type, count(*) AS n, max(h) AS hk FROM (
          SELECT event_type, v, h,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY h, v) AS rk
          FROM (SELECT DISTINCT event_type, v, h FROM hv))
        WHERE rk <= 64 GROUP BY event_type)
      SELECT e.event_type,
             round(CASE WHEN e.n < 64 THEN CAST(e.n AS DOUBLE)
                        ELSE 63.0 / e.hk END, 4) AS n_merged,
             round(CASE WHEN f.n < 64 THEN CAST(f.n AS DOUBLE)
                        ELSE 63.0 / f.hk END, 4) AS n_full
      FROM est e JOIN fullsk f USING (event_type)
      ORDER BY event_type"""))


  /** q95_kmv_shard_retract — the retraction story for the ONE family
    * whose state cannot subtract (the "shard the sketch" remedy
    * kmvSketch's scaladoc documents, graded): a min-sketch discards
    * the information a delete needs,
    * so the sharded state keeps one ~k-row sketch PER INGEST SHARD
    * (the takedown unit) and retraction becomes a shard-keyed
    * anti-join — the `FoldLaw.kmvShards` delete — with the estimate
    * read off the surviving shards (`kmvEstimateSharded`). The estimate is EXACT,
    * not stacked-approximate: each of the union's k smallest hashes is
    * within its own shard's k smallest, the same identity behind
    * kmvMerge ≡ rebuild. Graded head-to-head: the retracted-state
    * estimate next to the one-shot kmvDistinct over the surviving
    * events — the oracle replays BOTH paths (per-shard top-k, shard
    * drop, cross-shard dedup + re-rank vs the direct sketch), so the
    * two columns must agree row-for-row AND match DuckDB bit-for-bit.
    */
  private val k95 = Q(
    "q95_kmv_shard_retract",
    (s, d) => {
      import s.implicits._
      val e = ev(s, d).withColumn("shard", $"event_id" % 4)
      val shards = FoldLaw.kmvShards(Seq("event_type"), "user_id", "shard", 64)
      val retracted = shards.delete(shards.derive(e),
        s.range(2, 3).select($"id".as("shard")))
      val est = LibOps.kmvEstimateSharded(retracted, Seq("event_type"), 64)
        .select($"event_type", round($"n_distinct_est", 4).as("n_retracted"))
      val rebuild = LibOps.kmvDistinct(e.filter($"shard" =!= 2),
          Seq("event_type"), "user_id", 64)
        .select($"event_type", round($"n_distinct_est", 4).as("n_rebuild"))
      est.join(rebuild, "event_type").orderBy($"event_type")
    },
    Some("""
      WITH hv AS (
        SELECT DISTINCT event_type, event_id % 4 AS shard,
               CAST(user_id AS VARCHAR) AS v,
               (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS DOUBLE) + 1.0) / 1152921504606846976.0 AS h
        FROM events WHERE user_id IS NOT NULL),
      sk AS (
        SELECT event_type, shard, v, h FROM (
          SELECT event_type, shard, v, h,
                 row_number() OVER (PARTITION BY event_type, shard
                                    ORDER BY h, v) AS rk
          FROM hv) WHERE rk <= 64),
      uni AS (
        SELECT DISTINCT event_type, v, h FROM sk WHERE shard <> 2),
      m AS (
        SELECT event_type, v, h FROM (
          SELECT event_type, v, h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY h, v) AS rk
          FROM uni) WHERE rk <= 64),
      est AS (
        SELECT event_type, count(*) AS n, max(h) AS hk FROM m GROUP BY 1),
      fullsk AS (
        SELECT event_type, count(*) AS n, max(h) AS hk FROM (
          SELECT event_type, v, h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY h, v) AS rk
          FROM (SELECT DISTINCT event_type, v, h FROM hv WHERE shard <> 2))
        WHERE rk <= 64 GROUP BY 1)
      SELECT e.event_type,
             round(CASE WHEN e.n < 64 THEN CAST(e.n AS DOUBLE)
                        ELSE 63.0 / e.hk END, 4) AS n_retracted,
             round(CASE WHEN f.n < 64 THEN CAST(f.n AS DOUBLE)
                        ELSE 63.0 / f.hk END, 4) AS n_rebuild
      FROM est e JOIN fullsk f USING (event_type)
      ORDER BY event_type"""))

  val qs: Seq[Q] = Seq(pk1, pk2, sm1, sm2, sm7, sm3, sm4, sm8, sm9, sm5, sm6, sm10, sm11, q77, q80, q79, q81, q82, q83, k94, k95)
}
