package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` table — wordcount is the
  * reference's canonical example (`examples/wordcount.py`: mapper
  * splits, reducer sums, sumreducer doubles as combiner); the rest is
  * the north-star training-data-pipeline surface (SURVEY.md §2.11).
  *
  * Everything here is built from codegen'd `functions._` expressions —
  * no UDFs — so filters/projections still push into the scan and the
  * whole pipeline stays inside WholeStageCodegen at 100 TB.
  */
object TextOps {

  /** Tokenize on single spaces — testdata text is clean single-spaced
    * lowercase (verified; FIXTURES.md). For general text use
    * [[regexTokens]].
    */
  def words(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokenization: maximal runs of [a-z0-9]. RE2/Java
    * compatible so the DuckDB oracle can mirror it.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z0-9]+"), lit(0))

  /** Overlapping token-window chunking — the context-window prep step
    * of a retrieval/training pipeline: each document explodes into
    * windows of `windowTokens` words starting every `strideTokens`
    * (overlap = window − stride), each chunk carrying its index and
    * token span so provenance survives. Starts run 0, S, 2S, … up to
    * the FIRST start whose window reaches the document end
    * (ceil((n−W)/S)·S) — full coverage with no chunk that is a strict
    * sub-span of its predecessor (a redundant duplicate the dedup
    * family would otherwise have to clean up). Empty/whitespace-
    * degenerate docs yield their single trivial chunk rather than
    * vanishing — corpus accounting must see every doc.
    *
    * Scale shape: pure row-local generate (sequence → transform →
    * posexplode), codegen'd, no UDF, no shuffle — output rows ≈
    * corpus_tokens / stride, the linear cost chunking must have. The
    * arithmetic (sequence starts, 1-based slice) is engine-portable:
    * the oracle replays it with range + list slicing.
    */
  def chunkDocs(df: DataFrame, textCol: String = "text",
                idCol: String = "doc_id",
                windowTokens: Int = 64,
                strideTokens: Int = 48): DataFrame = {
    require(windowTokens > 0 && strideTokens > 0 &&
      strideTokens <= windowTokens,
      s"chunkDocs: need 0 < stride <= window, got ($windowTokens, $strideTokens)")
    // `__ws` is materialized as its own projection so the tokenize
    // runs once per doc: the chunk transform is a higher-order
    // function (interpreted), and a words() inlined into its lambda
    // re-tokenizes the doc per CHUNK (CollapseProject keeps the
    // two-step shape — a non-cheap expr referenced twice is never
    // inlined). Still a pure row-local generate: no shuffle.
    val ws = col("__ws")
    val nw = size(ws)
    // last start = ceil((n_w - W)/S) * S — the first start whose
    // window reaches the end (0 when n_w <= W: one chunk; n_w >= 1
    // always, split("", " ") is [""]). Non-negative int arithmetic:
    // double division is exact here and cast truncation == floor.
    val over = greatest(nw - lit(windowTokens), lit(0))
    val lastStart =
      ((over + lit(strideTokens - 1)) / lit(strideTokens.toDouble))
        .cast("int") * lit(strideTokens)
    val starts = sequence(lit(0), lastStart, lit(strideTokens))
    df.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol), nw.as("doc_tokens"),
        posexplode(transform(starts,
          s => array_join(slice(ws, s + 1, lit(windowTokens)), " "))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_text")
      .withColumn("chunk_tokens", size(words(col("chunk_text"))))
  }

  /** C1+C3+C2 wordcount: explode words, count per word. Catalyst plans
    * map-side partial counts — the dumbo combiner, automatically.
    */
  def wordCount(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A5/C4 itertwice: frequency-of-frequencies (2-pass MR in dumbo,
    * one fused plan here — the two shuffles remain, the intermediate
    * HDFS materialization does not).
    */
  def countOfCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    wordCount(df, textCol).groupBy("cnt").agg(count(lit(1)).as("n_words"))

  /** Stopword list used by quality scoring (fixed, tiny — broadcast as
    * a literal array into codegen).
    */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Quality scoring: token count, mean token length, stopword ratio.
    * Length/punct/stopword heuristics are the standard cheap pre-filters
    * in large-scale corpus cleaning.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    val stops = array(StopWords.map(lit): _*)
    df.withColumn("n_tokens", size(ws).cast("int"))
      .withColumn("avg_token_len",
        round((length(col(textCol)) - size(ws) + 1).cast("double") / size(ws), 4))
      .withColumn("stopword_ratio",
        round(size(filter(ws, w => array_contains(stops, w))).cast("double") / size(ws), 4))
  }

  /** Model-based quality classification — the fasttext-style linear
    * classifier every production curation stack runs after the cheap
    * heuristics (e.g. CCNet / GPT-3's Wikipedia-vs-crawl filter), with
    * the weights frozen as model constants. Inference only: features →
    * linear score → margin decision, the shape a trained model's
    * weights drop into.
    *
    * Everything is INTEGER arithmetic so any engine replays the score
    * bit-for-bit (the q82/sample_temperature grading argument applied
    * to model inference): ratio features are micro-unit fixed-point
    * (1e6·count `div` denominator — floor division, exact), the score
    * is a weighted sum of those BIGINTs, and the decision is
    * score > 0. No doubles, no sigmoid: sigmoid is monotone, so the
    * margin decision is the classifier's decision, and the 1-ulp
    * `exp` portability trap never enters the graded path.
    *
    * Features: stopword micro-ratio (+, natural-language mass),
    * duplicate-word micro-ratio (−, the Gopher repetition signal),
    * punctuation and digit micro-ratios (−, boilerplate/spam markers),
    * and capped token count (+, saturating length reward). All
    * row-local (one projection, no shuffle, codegen'd).
    */
  def qualityModel(df: DataFrame, textCol: String = "text",
                   bias: Long = 540000L, wStop: Long = 4L, wDup: Long = -3L,
                   wPunct: Long = -2L, wDigit: Long = -3L,
                   lenCap: Int = 64, wLen: Long = 15625L): DataFrame = {
    // same guard as winsorize/budgetSample: feature and output names
    // must never silently replace a caller column ("score"/"keep" are
    // exactly the names a curation pipeline is likely to carry)
    Seq("n_tok", "n_char", "n_stop", "n_dist", "n_punct", "n_digit",
        "stop_m", "dup_m", "punct_m", "digit_m", "score", "keep").foreach(c =>
      require(!df.columns.contains(c),
        s"qualityModel: input already has a $c column"))
    val ws = words(lower(col(textCol)))
    val stops = array(StopWords.map(lit): _*)
    df.withColumn("n_tok", size(ws).cast("bigint"))
      .withColumn("n_char", length(col(textCol)).cast("bigint"))
      .withColumn("n_stop",
        size(filter(ws, w => array_contains(stops, w))).cast("bigint"))
      .withColumn("n_dist", size(array_distinct(ws)).cast("bigint"))
      .withColumn("n_punct", (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[.,!?;:]", ""))).cast("bigint"))
      .withColumn("n_digit", (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[0-9]", ""))).cast("bigint"))
      .withColumn("stop_m", expr("(1000000 * n_stop) div greatest(n_tok, 1)"))
      .withColumn("dup_m",
        expr("(1000000 * (n_tok - n_dist)) div greatest(n_tok, 1)"))
      .withColumn("punct_m", expr("(1000000 * n_punct) div greatest(n_char, 1)"))
      .withColumn("digit_m", expr("(1000000 * n_digit) div greatest(n_char, 1)"))
      .withColumn("score",
        lit(bias) + lit(wStop) * col("stop_m") + lit(wDup) * col("dup_m") +
          lit(wPunct) * col("punct_m") + lit(wDigit) * col("digit_m") +
          lit(wLen) * least(col("n_tok"), lit(lenCap.toLong)))
      // NULL text: every count is NULL, the score is NULL, and the
      // decision defaults to reject (the filterCascade convention)
      .withColumn("keep", coalesce(col("score") > 0, lit(false)))
  }

  /** Repetition statistics (Gopher-style quality filters): highly
    * repetitive documents (boilerplate, keyword stuffing, generation
    * loops) are flagged by the mass of their most frequent word and by
    * duplicate word/bigram fractions.
    *
    * - `top_word_frac`  — occurrences of the most frequent word / tokens
    * - `dup_word_frac`  — 1 - distinct words / tokens
    * - `dup_bigram_frac`— 1 - distinct bigrams / bigrams (0 if no bigrams)
    *
    * The dup fractions are row-local array arithmetic (no shuffle);
    * top_word_frac needs per-(doc,word) counts — one partial-aggregated
    * shuffle, re-aggregated to the doc. The row-local counters ride
    * along as grouping keys (functionally dependent on the doc id), so
    * no second join is needed.
    */
  def repetitionStats(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    import graft.functions.TextFunctions.word_ngrams
    val base = df.select(col(idCol), words(col(textCol)).as("w"),
        word_ngrams(col(textCol), 2).as("bg"))
      .select(col(idCol), col("w"),
        size(col("bg")).as("nb"), size(array_distinct(col("bg"))).as("ndb"))
    base.select(col(idCol), col("nb"), col("ndb"), explode(col("w")).as("word"))
      .groupBy(col(idCol), col("nb"), col("ndb"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("nb"), col("ndb"))
      .agg(sum(col("c")).cast("int").as("n_tokens"),
           count(lit(1)).as("n_distinct_words"),
           max(col("c")).as("max_c"))
      .select(col(idCol), col("n_tokens"),
        round(col("max_c").cast("double") / col("n_tokens"), 4).as("top_word_frac"),
        round(lit(1.0) - col("n_distinct_words").cast("double") / col("n_tokens"), 4)
          .as("dup_word_frac"),
        when(col("nb") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("ndb").cast("double") / col("nb"), 4))
          .as("dup_bigram_frac"))
  }

  /** Whitespace + regex token counts per document. */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_ws_tokens", size(words(col(textCol))).cast("int"))
      .withColumn("n_re_tokens", size(regexTokens(col(textCol))).cast("int"))

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deterministic, pure-expression.
    */
  /** Public so the langid oracle SQL is generated from the same lists
    * (profile drift between Spark and oracle would be silent).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "a", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和"))

  /** Language ID: count stopword hits per profile, argmax wins
    * (ties broken by language code order); no hits → "und"(etermined).
    *
    * `__lid_ws` materializes the split ONCE as its own projection
    * (the spanDedup hoist): the five per-profile score columns are
    * interpreted HOF filters, and a split inlined into each
    * re-tokenizes every doc 5× after CollapseProject — measured
    * 12.8 → 10.8 s warm (t03) and 7.3 → 5.8 (confusion matrix) at
    * ×30; neutral at sf0.1 where scan setup dominates. The HOF
    * filters themselves stay interpreted — the residual cost — but
    * are row-local and profile-bounded.
    */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame =
    langIdScored(df, textCol).drop(LangProfiles.map(p => s"score_${p._1}"): _*)

  /** [[langId]] with the per-profile stopword-hit counts KEPT
    * (`score_de` … `score_zh`, IntegerType) alongside
    * `predicted_lang` — the raw classifier scores the threshold-free
    * evaluation layer ([[EvalOps.aucReport]] / [[EvalOps.prCurve]] /
    * [[EvalOps.calibrationBins]]) ranks on. Same single row-local
    * corpus pass; the score columns are computed either way and
    * dropping them was presentation, not cost.
    */
  def langIdScored(df: DataFrame, textCol: String = "text"): DataFrame = {
    val withWs = df.withColumn("__lid_ws", words(col(textCol)))
    val ws = col("__lid_ws")
    val scored = LangProfiles.foldLeft(withWs) { case (acc, (lang, stops)) =>
      acc.withColumn(s"score_$lang",
        size(filter(ws, w => array_contains(array(stops.map(lit): _*), w))))
    }
    val best = LangProfiles.map(_._1).foldLeft(lit("und") -> lit(0)) {
      case ((bestLang, bestScore), lang) =>
        val better = col(s"score_$lang") > bestScore
        (when(better, lit(lang)).otherwise(bestLang),
         when(better, col(s"score_$lang")).otherwise(bestScore))
    }
    scored.withColumn("predicted_lang", best._1)
      .drop("__lid_ws")
  }

  /** Unigram-LM cross-entropy scoring (CCNet-style quality proxy): fit
    * a unigram language model on the corpus itself (p(w) = count(w)/N)
    * and score each document by the mean negative log-likelihood of its
    * tokens. High xent ⇒ rare-token-heavy (gibberish, OCR noise);
    * unusually low xent ⇒ boilerplate. The standard cheap stand-in for
    * a perplexity filter when no external LM is available.
    *
    * Scale shape: one partial-aggregated (doc, word) tf pass (the
    * TF-IDF-style irreducible cost), a word-count re-aggregate of the
    * already-distinct tf rows, a keyed equi-join on `word` (both sides
    * partial-aggregated first, so the join carries vocab-sized and
    * per-doc-distinct rows, not raw tokens), and a broadcast 1-row N.
    */
  def unigramNll(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val tokens = df.select(col(idCol), explode(words(col(textCol))).as("word"))
    val tf = tokens.groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    // word counts straight off the token stream (Spark does not reuse
    // the tf subplan, so deriving wc from tf would re-explode anyway
    // at one extra aggregate level), and N without any explode at all:
    // a row-local size() sum — the third corpus pass is nearly free.
    val wc = tokens.groupBy(col("word")).agg(count(lit(1)).as("cw"))
    val n = df.select(sum(size(words(col(textCol)))).cast("long").as("n"))
    tf.join(wc, "word")
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).cast("int").as("n_tokens"),
        round(sum(col("tf") * -log(col("cw").cast("double") / col("n")))
          / sum(col("tf")), 4).as("xent"))
  }

  /** Interpolated BIGRAM language-model cross-entropy — the quality
    * scorer one rung above [[unigramNll]] (word-order-aware: "the the
    * the" scores badly here and fine there), trained on the corpus
    * itself like the unigram op. Per bigram position,
    * p(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}) + (1−λ)·c(w_i)/N
    * (Jelinek–Mercer interpolation — the unigram back-off term keeps
    * unseen-history positions finite), and the doc score is the mean
    * −ln p over its bigram positions. Docs with fewer than two tokens
    * have no bigram positions and are absent from the output (the
    * short-doc convention of the shingle family).
    *
    * Scale shape: the bigram LM table is DATA, not a broadcast — the
    * (doc, bigram) tf rows join it with keyed shuffles on the bigram /
    * word columns (AQE broadcasts the small sides at small SF; at
    * 100 TB these are the partial-aggregated count tables a corpus LM
    * actually is). N is the only 1-row broadcast. The per-doc sum runs
    * over DECIMAL(28,12)-cast terms, so partial aggregation order
    * cannot move an ulp (the q59 decimal-parity pattern — stronger
    * than unigramNll's double sum); the surviving cross-engine noise
    * is ln's 1-ulp class at 1e-12 quantization scale, absorbed by the
    * round-4 output convention.
    */
  def bigramNll(df: DataFrame, textCol: String = "text",
                idCol: String = "doc_id",
                lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, s"bigramNll: lambda=$lambda not in (0,1)")
    import graft.functions.TextFunctions.word_ngrams
    val bi = df.select(col(idCol),
      explode(word_ngrams(col(textCol), 2)).as("bg"))
    // NOTE (round 13): two single-explode reformulations of `cbg` were
    // tried and REVERTED on measurement. (a) cbg = tf.groupBy(bg).sum —
    // the replanted tf subtree's exchange is NOT reused once the final
    // join infers different filters on each planting (the trendingTerms
    // / unigramNll plan-verified lesson), so both explodes still ran
    // plus an extra aggregate (×10 A/B: 1.54× slower). (b) cbg as a
    // window over tf — one explode by construction, but it ADDS a
    // (doc,bg)-dictionary-sized shuffle + sort, which `Probe stages`
    // measured as +75% stage input records and +35% CPU: re-exploding
    // the corpus is cheaper than re-shuffling the tf frame (guide §2.3
    // — shuffled bytes, not scans, are the lever). The original
    // two-explode shape stands as the measured optimum
    val tf = bi.groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
    val cbg = bi.groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
    val toks = df.select(explode(words(col(textCol))).as("word"))
    val cw = toks.groupBy(col("word")).agg(count(lit(1)).as("cw"))
    val n = df.select(sum(size(words(col(textCol)))).cast("long").as("n"))
    val p = lit(lambda) *
        (col("cbg").cast("double") / col("c_prev").cast("double")) +
      lit(1 - lambda) *
        (col("c_cur").cast("double") / col("n").cast("double"))
    tf
      .withColumn("w_prev", split(col("bg"), " ").getItem(0))
      .withColumn("w_cur", split(col("bg"), " ").getItem(1))
      .join(cbg, "bg")
      .join(cw.select(col("word").as("w_prev"), col("cw").as("c_prev")),
        "w_prev")
      .join(cw.select(col("word").as("w_cur"), col("cw").as("c_cur")),
        "w_cur")
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).cast("int").as("n_bigrams"),
        round(
          sum((col("tf").cast("double") * -log(p)).cast("decimal(28,12)"))
            .cast("double") / sum(col("tf")).cast("double"), 4).as("xent"))
  }

  /** Single-scan filter cascade with per-stage observability — the
    * production shape of a curation pipeline: N ordered row predicates
    * where stage i only sees rows that survived stages 1..i-1, and the
    * operator reports how many rows each stage dropped WITHOUT running
    * N scans. Attribution is computed row-locally (the first failing
    * stage claims the row), so the stats are ONE partial-aggregated
    * pass; the surviving rows are the conjunction filter, which
    * Catalyst pushes into the scan. A NULL predicate counts as a
    * failure (same convention as ValidateOps).
    *
    * Returns the per-stage report: (stage, stage_name, n_in,
    * n_dropped), where n_in is the count entering that stage. Use
    * `cascadeSurvivors` for the filtered rows themselves.
    */
  def filterCascade(df: DataFrame,
                    stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "filterCascade: no stages")
    // same guard as ZOrder.writeZOrdered's __z: silently replacing a
    // caller's column of the internal name would corrupt attribution
    require(!df.columns.contains("__ff"),
      "filterCascade: input already has a __ff column")
    val spark = df.sparkSession
    import spark.implicits._
    // first failing stage per row: 0-based stage index, or -1 = kept
    val firstFail = stages.zipWithIndex.foldRight(lit(-1)) {
      case (((_, pred), i), rest) =>
        when(coalesce(pred, lit(false)), rest).otherwise(lit(i))
    }
    val agg = df.withColumn("__ff", firstFail)
      .agg(count(lit(1)).as("n_total"),
        stages.indices.map(i =>
          // count, not sum: an empty input yields 0 per stage, never a
          // NULL cell that getLong would trip on
          count(when(col("__ff") === i, 1)).as(s"__d$i")): _*)
      .head()
    val total = agg.getLong(0)
    val dropped = stages.indices.map(i => agg.getLong(i + 1))
    val nIn = dropped.scanLeft(total)(_ - _)
    stages.zipWithIndex.map { case ((name, _), i) =>
      (i + 1, name, nIn(i), dropped(i))
    }.toDF("stage", "stage_name", "n_in", "n_dropped")
  }

  /** The rows that pass every cascade stage — the conjunction filter,
    * pushed into the scan by Catalyst.
    */
  def cascadeSurvivors(df: DataFrame,
                       stages: Seq[(String, Column)]): DataFrame =
    stages.foldLeft(df) { case (d, (_, pred)) =>
      d.filter(coalesce(pred, lit(false)))
    }

  /** BM25 relevance ranking of the corpus against a small query term
    * set (Robertson/Sparck-Jones, the retrieval-side sibling of
    * TF-IDF): score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)), idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale shape: docs without ANY query term are dropped row-locally
    * (`arrays_overlap` against the ≤|query|-term literal array) BEFORE
    * tokens explode, so the (doc, term) stream carries only matching
    * docs × query terms — not the corpus vocabulary. df/N/avgdl are
    * broadcast one-row/|query|-row aggregates; the final top-k is a
    * rank bounded O(topN). Everything else is TF-IDF's irreducible
    * partial-aggregated tf pass.
    */
  def bm25(df: DataFrame, queryTerms: Seq[String], topN: Int = 20,
           k1: Double = 1.2, b: Double = 0.75,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val qArr = array(queryTerms.distinct.map(lit): _*)
    val toks = words(col(textCol))
    // N and avgdl come from the WHOLE corpus (row-local size sum);
    // the per-doc explode below only ever sees matching docs
    val stats = df.select(
      count(lit(1)).cast("long").as("n_docs"),
      // null-text docs count toward N but contribute 0 tokens — guard
      // against legacy sizeOfNull's size(NULL) = -1 corrupting the sum
      // (mirrors DuckDB, where sum skips the NULL len())
      (sum(when(col(textCol).isNotNull, size(toks)).otherwise(lit(0)))
        .cast("double") / count(lit(1))).as("avgdl"))
    val matching = df
      .where(arrays_overlap(toks, qArr))
      .select(col(idCol), size(toks).cast("double").as("dl"),
        explode(toks).as("term"))
      .where(col("term").isInCollection(queryTerms.distinct))
    val tf = matching.groupBy(col(idCol), col("term"))
      .agg(first(col("dl")).as("dl"), count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_terms"),
           round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topN)
  }

  /** Per-query BM25 — query-BY-DOCUMENT retrieval: each row of
    * `queries` is a whole document whose distinct terms form the
    * query, scored against every corpus document (the lexical leg of
    * hybrid search; also the shape of "find more like this"
    * curation). Same Robertson/Sparck-Jones idf and k1/b saturation
    * as [[bm25]]; n_docs/avgdl/df are CORPUS statistics (df = docs
    * containing the term), independent of the query set. The query
    * document itself is excluded (it would trivially rank first),
    * mirroring the ANN family's qid ≠ nid convention.
    *
    * Scale shape: the only corpus-sized work is the (doc, term) tf
    * aggregate — the inverted index every BM25 deployment builds
    * once — immediately semi-joined down to query terms via a
    * broadcast (query side is |queries| docs, tiny by contract). df
    * rides on the term-restricted index (term-restriction does not
    * change a term's own df), the score join broadcasts the query
    * term sets, and the final top-N window partitions by qid. No
    * corpus window, no cross product.
    */
  def bm25PerQuery(queries: DataFrame, corpus: DataFrame, topN: Int = 10,
                   k1: Double = 1.2, b: Double = 0.75,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = words(col(textCol))
    val stats = corpus.select(
      count(lit(1)).cast("long").as("n_docs"),
      (sum(when(col(textCol).isNotNull, size(toks)).otherwise(lit(0)))
        .cast("double") / count(lit(1))).as("avgdl"))
    // query term sets: (qid, term) distinct — broadcast-sized
    val qTerms = queries
      .select(col(idCol).as("qid"), explode(array_distinct(toks)).as("term"))
    // corpus inverted index restricted to query terms (semi-join keeps
    // the index build corpus-sized but its OUTPUT query-vocab-sized).
    // The tokenization is hoisted into its own projection so the size()
    // and the generator share ONE split per row (the dedup_spans
    // lesson: twice-referenced non-cheap exprs survive CollapseProject
    // only when materialized as a named column first).
    val cTf = corpus
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("nid"), toks.as("__ws"))
      .select(col("nid"), size(col("__ws")).cast("double").as("dl"),
        explode(col("__ws")).as("term"))
      .join(broadcast(qTerms.select(col("term")).distinct()), Seq("term"), "left_semi")
      .groupBy(col("nid"), col("term"))
      .agg(first(col("dl")).as("dl"), count(lit(1)).cast("double").as("tf"))
    val dfreq = cTf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    cTf.join(broadcast(dfreq), "term")
      .join(broadcast(qTerms), "term")
      .filter(col("qid") =!= col("nid"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("wgt",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("qid"), col("nid"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
           round(sum(col("wgt")), 4).as("score"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= topN)
      .select(col("qid"), col("nid"), col("n_terms"), col("score"), col("rnk"))
  }

  /** PII-style regex redaction: apply `(pattern → replacement)` rules
    * in order to `srcCol`, emitting `<srcCol>_redacted` plus
    * `n_redacted` (total matches masked across all rules). Patterns
    * must be RE2-compatible (Java and DuckDB agree) so the result is
    * oracle-able. Pure row-local projection — codegen'd
    * regexp_replace/regexp_extract_all, no shuffle, scales linearly.
    */
  def redact(df: DataFrame, srcCol: String,
             rules: Seq[(String, String)]): DataFrame = {
    // each rule counts its matches against the value AFTER the earlier
    // rules ran (not the raw source), so text swallowed by a previous
    // rule is never double-counted.
    val (redacted, nMatches) = rules.foldLeft((col(srcCol), lit(0))) {
      case ((c, n), (pat, rep)) =>
        (regexp_replace(c, pat, rep),
         n + size(regexp_extract_all(c, lit(pat), lit(0))))
    }
    df.withColumn(s"${srcCol}_redacted", redacted)
      .withColumn("n_redacted", nMatches.cast("int"))
  }

  /** The default PII rule set: emails, IPv4, then ID-like long digit
    * runs — widest-context rules first so the digit rule can't eat the
    * digits inside an email/IP before those rules see them. Public so
    * the oracle SQL is generated from the same list.
    */
  val RedactRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "[0-9]{6,}" -> "<ID>")

  /** Canonical text normalization (the pass that runs BEFORE hashing /
    * dedup so cosmetic variants collapse): lowercase, non-alphanumerics
    * to spaces, whitespace runs collapsed, trimmed. Emits
    * `<textCol>_norm` plus `norm_fp` (md5 of the normalized form — the
    * key exact dedup should group on). Row-local codegen'd regexps,
    * RE2-compatible so the oracle mirrors them.
    */
  def normalize(df: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))
    df.withColumn(s"${textCol}_norm", norm)
      .withColumn("norm_fp", md5(norm.cast("binary")))
  }

  /** Content fingerprint: md5 of the normalized text — identical bytes
    * in any engine, so exact-dup detection is portable and oracle-able.
    */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("fp", md5(col(textCol).cast("binary")))

  /** Rolling polynomial hash over word shingles (winnowing-style doc
    * fingerprint): deterministic base-31 hash of each `n`-word shingle,
    * document signature = min shingle hash. Pure expressions.
    */
  def rollingFingerprint(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("min_shingle_hash",
      array_min(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)))

  /** n-word shingles of the space-split text (deduplicated set).
    * Texts shorter than n words yield the whole text as a single
    * shingle (sequence() would otherwise run descending and slice(0)
    * is illegal), matching the native ShingleHashes expression; NULL
    * text stays NULL on both paths.
    *
    * NOTE: kept as the documented REFERENCE implementation of the
    * shingle semantics — the graded dedup paths use the native
    * `ShingleHashes`/`WordNgrams` expressions (hashing in the scan
    * loop, no HOF interpretation); PropertySpec's "word_ngrams ties
    * out with shingles" case pins the two formulations together.
    */
  def shingles(text: Column, n: Int): Column = {
    val ws = words(text)
    val idx = sequence(lit(0), size(ws) - n)
    when(text.isNull, lit(null).cast("array<string>"))
      .when(size(ws) >= n,
        array_distinct(transform(idx, i => concat_ws(" ", slice(ws, i + 1, lit(n))))))
      .otherwise(array(text))
  }

  /** Language-ID confusion matrix — the classifier eval for
    * [[langId]] against a trusted label column (the knnLabelAccuracy
    * stance applied to the stopword-profile classifier): one row per
    * (actual, predicted) pair with the count and its share of the
    * actual language's docs — the diagonal is per-language recall,
    * off-diagonal cells say WHICH languages confuse. One corpus pass
    * (langId is row-local), a langs²-bounded aggregate, and a
    * langs-partitioned share window over that tiny frame.
    */
  def langIdConfusion(df: DataFrame, langCol: String = "lang"): DataFrame =
    langId(df)
      .groupBy(col(langCol).as("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("pct_of_actual",
        round(col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("actual_lang"))), 4))

  /** Zipf-law fit over the head of the term-frequency distribution —
    * the corpus-health card: log-log OLS of count against rank over
    * the `topK` most frequent terms (natural text slopes ≈ −1;
    * markedly flatter/steeper heads flag synthetic, boilerplate-
    * heavy, or spam-dominated corpora). The head is the standard fit
    * domain — the tail departs from the power law in any real corpus.
    *
    * Scale shape: one partial-aggregated term-count pass (the
    * wordcount irreducible), then `orderBy(cnt).limit(topK)` —
    * TakeOrderedAndProject (per-partition top-k then merge, the
    * q77/PMI discipline: NEVER a vocabulary-sized unpartitioned
    * window); rank and the regression sums live on the ≤ topK
    * surviving rows. Ties rank deterministically by (cnt desc, word).
    *
    * Exactness: the OLS sums run over DECIMAL(28,12)-cast ln terms
    * (the bigramNll parity pattern — partial-aggregation order cannot
    * move an ulp; ln's 1-ulp cross-engine class is absorbed by the
    * 1e-12 quantization), and slope/intercept are a handful of IEEE
    * ops on the exact aggregated decimals, rounded to 6. NULL slope
    * when fewer than 2 distinct terms survive (zero OLS variance).
    */
  def zipfFit(df: DataFrame, textCol: String = "text",
              topK: Int = 1000): DataFrame = {
    require(topK >= 2, s"zipfFit: topK=$topK must be >= 2")
    val counts = df.select(explode(words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(topK)
    val ranked = counts.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("word"))))
    val lx = log(col("rnk").cast("double"))
    val ly = log(col("cnt").cast("double"))
    val dec = (c: Column) => c.cast("decimal(28,12)")
    val nD = col("n_terms").cast("double")
    val denom = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = (nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) / denom
    ranked
      .agg(
        count(lit(1)).as("n_terms"),
        sum(dec(lx)).as("sx"), sum(dec(ly)).as("sy"),
        sum(dec(lx * ly)).as("sxy"), sum(dec(lx * lx)).as("sxx"))
      .select(
        col("n_terms"),
        when(denom =!= 0.0, round(slope, 6)).as("slope"),
        when(denom =!= 0.0,
          round((col("sy").cast("double") - slope * col("sx").cast("double"))
            / nD, 6)).as("intercept"))
  }

  /** Heaps'-law vocabulary-growth fit — the companion corpus-health
    * card to [[zipfFit]]: log-log OLS of cumulative distinct-type
    * count V(n) against cumulative token count n over the corpus in
    * deterministic `idCol` order (natural text: V ≈ K·n^β with
    * β ≈ 0.4–0.6; a β near 1 flags unbounded-vocabulary noise, near 0
    * a closed template vocabulary). Output: one row (n_points, beta,
    * ln_k) — beta the slope, ln_k the intercept, both rounded 6.
    *
    * Scale shape: TWO partial-aggregated corpus passes — per-doc token
    * counts, and per-term first-occurrence doc (min(doc_id)) rolled up
    * to new-types-per-doc — joined on the doc spine; BOTH running sums
    * then go through the PackOps two-level prefix sum (in-bucket
    * partitioned windows + one |buckets|-row offsets cascade — never
    * an unpartitioned corpus-sized window). The OLS sums are ordinary
    * partial aggregates over the doc-level points.
    *
    * Exactness: the zipfFit contract — DECIMAL(28,12)-quantized ln
    * terms summed exactly, slope/intercept a handful of IEEE ops on
    * the aggregated decimals, NULL on zero variance (one point).
    */
  def heapsFit(df: DataFrame, textCol: String = "text",
               idCol: String = "doc_id",
               bucketWidth: Long = 4096L): DataFrame = {
    require(bucketWidth > 0, s"heapsFit: bucketWidth=$bucketWidth must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__t"))
    val perDoc = base.select(col("id"), size(words(col("__t"))).cast("long").as("n_tok"))
    val newTypes = base
      .select(col("id"), explode(words(col("__t"))).as("word"))
      .groupBy(col("word")).agg(min(col("id")).as("fd"))
      .groupBy(col("fd").as("id")).agg(count(lit(1)).as("n_new"))
    val spine = perDoc.join(newTypes, Seq("id"), "left")
      .select(col("id"), col("n_tok"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("bucket", expr(s"id div ${bucketWidth}L"))
    val inBucket = W.partitionBy(col("bucket")).orderBy(col("id"))
    val bucketed = spine
      .withColumn("ct_in", sum(col("n_tok")).over(inBucket))
      .withColumn("cv_in", sum(col("n_new")).over(inBucket))
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("bt"), sum(col("n_new")).as("bv"))
      .withColumn("ot", coalesce(sum(col("bt")).over(W.orderBy(col("bucket"))
        .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ov", coalesce(sum(col("bv")).over(W.orderBy(col("bucket"))
        .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("ot"), col("ov"))
    val pts = bucketed.join(broadcast(offsets), "bucket")
      .select((col("ot") + col("ct_in")).as("n"), (col("ov") + col("cv_in")).as("v"))
      .filter(col("n") > 0 && col("v") > 0)
    val lx = log(col("n").cast("double"))
    val ly = log(col("v").cast("double"))
    val dec = (c: Column) => c.cast("decimal(28,12)")
    val nD = col("n_points").cast("double")
    val denom = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = (nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) / denom
    pts.agg(
        count(lit(1)).as("n_points"),
        sum(dec(lx)).as("sx"), sum(dec(ly)).as("sy"),
        sum(dec(lx * ly)).as("sxy"), sum(dec(lx * lx)).as("sxx"))
      .select(
        col("n_points"),
        when(denom =!= 0.0, round(slope, 6)).as("beta"),
        when(denom =!= 0.0,
          round((col("sy").cast("double") - slope * col("sx").cast("double"))
            / nD, 6)).as("ln_k"))
  }

  /** Collocation mining by pointwise mutual information — the classic
    * "which word pairs belong together?" report: adjacent bigrams
    * with count >= `minCount`, scored by PMI = ln(p(w1w2) /
    * (p(w1)p(w2))) and reported top-`k`. The ranking compares the
    * UNLOGGED lift ratio (IEEE divisions/products of exact counts —
    * bit-equal in any engine; ln is monotone, so the order is
    * identical, and the 1-ulp-class ln only touches the reported
    * value, absorbed by round-6 — the psi convention).
    *
    * Scale shape: one unigram and one bigram count pass (both
    * partial-aggregated); the unigram table joins the minCount-
    * filtered bigrams word-keyed TWICE (w1, w2 — the same aggregate
    * subtree, exchange-reusable); totals are 1-row broadcasts; the
    * global top-k is `orderBy(...).limit(k)` — TakeOrderedAndProject
    * (per-partition top-k then merge, the q77 shape), never a
    * vocabulary-sized unpartitioned window; the rank column derives
    * from a window over the <= k surviving rows. Docs shorter than 2
    * words carry no bigram and are excluded from all statistics
    * (matching the oracle's range() construction).
    *
    * Output: (rnk, bigram, c12, c1, c2, pmi).
    */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long,
                 k: Int): DataFrame = {
    require(minCount >= 1 && k > 0,
      s"pmiBigrams: minCount=$minCount k=$k must be positive")
    val base = df.filter(size(words(col(textCol))) >= 2)
    val uni = base.select(explode(words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c1"))
    val bigAll = base.select(explode(
        graft.functions.TextFunctions.word_ngrams(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    // totals from ONE explode-free narrow scan: Σ len(w) tokens and
    // Σ (len(w) − 1) adjacent bigrams — summing the aggregated counts
    // instead would replant the whole explode+count subtree for a
    // number the row lengths already carry (plan-verified: the tm
    // branch did not reuse the bigram aggregate's exchange)
    val totals = base.agg(
      sum(size(words(col(textCol)))).as("__tn"),
      sum(size(words(col(textCol))) - 1).as("__tm"))
    val j = bigAll.filter(col("c12") >= minCount)
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("word").as("__w1"), col("c1")), "__w1")
      .join(uni.select(col("word").as("__w2"), col("c1").as("c2")), "__w2")
      .crossJoin(broadcast(totals))
      .withColumn("__lift",
        (col("c12").cast("double") / col("__tm")) /
        ((col("c1").cast("double") / col("__tn")) *
         (col("c2").cast("double") / col("__tn"))))
    j.orderBy(col("__lift").desc, col("bigram")).limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__lift").desc, col("bigram"))).cast("int"))
      .select(col("rnk"), col("bigram"), col("c12"), col("c1"), col("c2"),
        round(log(col("__lift")), 6).as("pmi"))
  }

  /** Trending terms per ingest batch — the token-level drift monitor
    * (complement of the numeric PSI gate): for each batch, the top-k
    * terms by smoothed share-of-batch lift against the PREVIOUS
    * batch. Lift = ((c+0.5)/(T+1)) / ((c_prev+0.5)/(T_prev+1)) with
    * add-half smoothing, so terms newly appearing in a batch rank by
    * how much mass they took, not by a division blowup. Batch 0 has
    * no predecessor and is not reported.
    *
    * Scale shape: one (batch, word) partial-aggregated count pass —
    * the only corpus-sized stage; the previous-batch counts arrive
    * via a word-keyed equi-join of the counts table against itself
    * shifted by one batch (both sides hash-partition on (batch,
    * word) — co-partitioned, never a window over the vocabulary);
    * batch totals are a batches-sized broadcast. The top-k is the
    * q04 per-key window (WindowGroupLimit bounds map-side state to
    * k per batch per task). Ranking compares unrounded IEEE doubles
    * computed by the same formula on engine and oracle, ties to the
    * lexicographically smaller word.
    *
    * Output: (batch, rank, word, cnt, prev_cnt, lift rounded to 4).
    */
  def trendingTerms(df: DataFrame, textCol: String, batchCol: Column,
                    k: Int): DataFrame = {
    require(k > 0, s"trendingTerms: k must be positive, got $k")
    val counts = df
      .select(batchCol.cast("int").as("batch"), col(textCol).as("__text"))
      // NULL batches drop, then `batch` is made structurally
      // NON-NULLABLE (the coalesce never fires post-filter): the
      // current and previous-batch join branches otherwise infer
      // DIFFERENT null filters from their keys (isnotnull(batch) vs
      // isnotnull(batch + 1) — not syntactically dedupable), which
      // breaks exchange reuse and runs the corpus explode+count pass
      // twice (plan-verified); with nothing to infer, the aggregate
      // exchange plans ONCE and all three consumers reuse it
      .filter(col("batch").isNotNull)
      .select(coalesce(col("batch"), lit(0)).as("batch"),
        explode(words(col("__text"))).as("word"))
      .groupBy(col("batch"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("batch"))
      .agg(sum(col("cnt")).as("total"))
    val prevC = counts.select((col("batch") + 1).as("batch"), col("word"),
      col("cnt").as("prev_cnt"))
    val prevT = totals.select((col("batch") + 1).as("batch"),
      col("total").as("prev_total"))
    val lifted = counts
      .join(broadcast(totals), "batch")
      // inner on prev totals: batch 0 (no predecessor) drops here
      .join(broadcast(prevT), "batch")
      .join(prevC, Seq("batch", "word"), "left")
      .withColumn("prev_cnt", coalesce(col("prev_cnt"), lit(0L)))
      .withColumn("lift",
        ((col("cnt").cast("double") + 0.5) /
          (col("total").cast("double") + 1.0)) /
        ((col("prev_cnt").cast("double") + 0.5) /
          (col("prev_total").cast("double") + 1.0)))
    LibOps.topKPerKey(lifted, Seq("batch"),
        Seq(col("lift").desc, col("word").asc), k, rankCol = "rank")
      .select(col("batch"), col("rank"), col("word"), col("cnt"),
        col("prev_cnt"), round(col("lift"), 4).as("lift"))
  }
}
