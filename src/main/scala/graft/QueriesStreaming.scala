package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{FsOps, Tables}
import graft.ops._
import graft.QHelp._
import graft.streaming.FoldLaw

/** Structured-Streaming parity family (watermarked windows, state ops). */
private[graft] object QueriesStreaming {


  // ------------------------------------------------------ streaming (graded)

  /** streaming_sessions_parity — the custom streaming sessionizer
    * (flatMapGroupsWithState, §2.9) run over the SAME events as
    * q16_session_window via a bounded file stream, graded against q16's
    * gaps-and-islands oracle. Sessions only EMIT when closed, so a
    * naive one-shot run would lose each user's trailing session; a
    * per-user sentinel event far past the last real event is unioned in
    * as a second file source — every real session closes inside the
    * data batch, while the sentinel sessions themselves stay open and
    * are never emitted. The watermark is pushed beyond the data's span
    * so cross-file disorder can't late-drop rows: this parity harness
    * wants exact equality; production keeps the real watermark for
    * bounded state (see StreamingSpec for those semantics).
    */
  private val st01 = Q(
    "streaming_sessions_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.StreamingOps
      val batch = ev(s, d).select($"user_id", $"ts")
      val maxSec = batch.agg(max($"ts").cast("long")).head().getLong(0)
      // stage events + sentinels into one scratch dir (FileStreamSource
      // needs a directory; events.parquet is a single file). coalesce(1)
      // is load-bearing, not cosmetic: a SINGLE part file makes one
      // micro-batch structurally guaranteed — if the sentinel were ever
      // delivered in an EARLIER batch than a user's real events (file
      // splitting under a future trigger/source option), the negative
      // gap would merge those events INTO the open sentinel session and
      // silently swallow that user's output. Fine for a parity harness
      // over bench-scale data; not a 100 TB pattern (production
      // streaming uses the real watermark + timeouts, no sentinels).
      val stageDir = tmpDir(s, "stream_events")
      batch.unionByName(
          batch.select($"user_id").distinct()
            .withColumn("ts", lit(maxSec + 7 * 24 * 3600).cast("timestamp")))
        .coalesce(1)
        .write.mode("overwrite").parquet(stageDir)
      val src = StreamingOps.eventsStream(s, stageDir, FsOps.readParquet(s, stageDir).schema)
      val sessions = StreamingOps.statefulSessions(
        s, src, gapSec = 1800, watermark = "3650 days")
      scratch(s)(_.sink(sessions)
        // defense in depth: sentinel sessions never close, hence never
        // emit — but a future sentinel tweak must not leak rows
        .filter($"session_start" <= maxSec)
        .select($"user_id", $"session_start", $"n_events"))
        .orderBy($"user_id", $"session_start", $"n_events")
    },
    Some(sessionOracleSql("")),
    writes = true)


  /** streaming_dedup_parity — the watermark-bounded streaming dedup
    * (`dropDuplicatesWithinWatermark`) graded end-to-end: the event
    * corpus is delivered TWICE through a file stream (every event a
    * duplicate), and the emitted set must equal the original table —
    * DuckDB's plain scan is the oracle. Exercises the state-store path
    * that plain unit counts only sample.
    */
  private val st02 = Q(
    "streaming_dedup_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.StreamingOps
      val batch = ev(s, d).select($"event_id", $"user_id", $"ts")
      val stageDir = tmpDir(s, "stream_dedup_events")
      batch.write.mode("overwrite").parquet(stageDir)
      batch.write.mode("append").parquet(stageDir)
      val src = StreamingOps.eventsStream(s, stageDir, FsOps.readParquet(s, stageDir).schema)
      val deduped = StreamingOps.streamingDedup(src, watermark = "3650 days")
      scratch(s)(_.sink(deduped)
        .select($"event_id", $"user_id", $"ts".cast("long").as("ts_s")))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events ORDER BY event_id"""),
    writes = true)


  /** streaming_interval_parity — the stream-stream interval join
    * (clicks joined to the same user's purchases within 24h,
    * watermark-bounded state on both sides) graded end-to-end: events
    * delivered through a bounded file stream, inner-join rows emit
    * eagerly on match, and the result must equal the batch interval
    * join DuckDB computes at µs precision (the engine's timestamp
    * resolution — parquet carries ns, both engines floor to µs).
    */
  private val st03 = Q(
    "streaming_interval_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.StreamingOps
      val batch = ev(s, d)
        .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      val stageDir = tmpDir(s, "stream_ssj_events")
      // single part file = single micro-batch (same note as st01)
      batch.coalesce(1).write.mode("overwrite").parquet(stageDir)
      val src = StreamingOps.eventsStream(s, stageDir, FsOps.readParquet(s, stageDir).schema)
      // parity harness: watermark pushed past the data span so no row
      // can be late-dropped; production uses the real lateness bound
      val joined = StreamingOps.clickPurchaseJoin(s,
        src.filter($"event_type" === "click"),
        src.filter($"event_type" === "purchase"),
        intervalHours = 24, watermark = "3650 days")
      scratch(s)(_.sink(joined))
        .orderBy($"click_id", $"purchase_ts_s", $"purchase_value")
    },
    Some("""
      WITH c AS (
        SELECT event_id AS click_id, user_id, epoch_us(ts) AS cu
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id AS p_user_id, epoch_us(ts) AS pu, value AS purchase_value
        FROM events WHERE event_type = 'purchase')
      SELECT click_id, user_id,
             cu // 1000000 AS click_ts_s,
             pu // 1000000 AS purchase_ts_s,
             purchase_value
      FROM c JOIN p ON user_id = p_user_id
        AND pu > cu AND pu <= cu + 86400000000
      ORDER BY click_id, purchase_ts_s, purchase_value"""),
    writes = true)


  /** streaming_tumbling_parity — the watermarked tumbling-window
    * aggregation (§2.9's windowed-agg state path, distinct from the
    * sessions/dedup/join state stores graded by st01–st03) run over a
    * bounded file stream and graded against q14's exact oracle. The
    * memory sink runs in COMPLETE mode: append-mode window emission
    * only fires when the watermark passes a window, and a bounded
    * harness stream has no post-data batch to flush the tail windows —
    * complete mode emits every window exactly as the batch query
    * would. That keeps all windows in state, fine for a parity
    * harness; production uses append + the real watermark, whose
    * eviction semantics StreamingSpec proves separately.
    */
  private val st04 = Q(
    "streaming_tumbling_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.StreamingOps
      val batch = ev(s, d).select($"ts", $"event_type", $"value")
      val stageDir = tmpDir(s, "stream_tumbling_events")
      batch.coalesce(1).write.mode("overwrite").parquet(stageDir)
      val src = StreamingOps.eventsStream(s, stageDir, FsOps.readParquet(s, stageDir).schema)
      val windows = StreamingOps.tumblingCounts(src, "1 hour", watermark = "2 hours")
      scratch(s)(_.sink(windows, mode = "complete")
        .select($"window_start", $"event_type", $"cnt",
          round($"sum_value", 2).as("sum_value")))
        .orderBy($"window_start", $"event_type")
    },
    Some("""
      SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
             event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    writes = true)


  /** streaming_static_join_parity — the stream-static enrichment path
    * (StreamingOps.staticEnrich), completing §2.9's join surface next
    * to the stateful stream-stream interval join: events streamed from
    * files, each micro-batch broadcast-joined to a static event-type
    * dim, aggregated per tier in complete mode, graded against the
    * equivalent batch SQL. Sums run in DECIMAL on both sides (q59's
    * practice) so the micro-batch partial order can never flip a
    * rounding boundary.
    */
  private val st05 = Q(
    "streaming_static_join_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.StreamingOps
      val batch = ev(s, d).select($"ts", $"event_type", $"value")
      val stageDir = tmpDir(s, "stream_static_events")
      batch.coalesce(1).write.mode("overwrite").parquet(stageDir)
      val src = StreamingOps.eventsStream(s, stageDir, FsOps.readParquet(s, stageDir).schema)
      val dim = ev(s, d).select($"event_type").distinct()
        .withColumn("type_tier",
          when(length($"event_type") >= 6, "long").otherwise("short"))
      val enriched = StreamingOps.staticEnrich(src, dim, "event_type")
        .groupBy($"type_tier")
        .agg(count(lit(1)).as("cnt"),
          round(sum($"value".cast("decimal(18,6)")), 2).cast("double")
            .as("sum_value"))
      scratch(s)(_.sink(enriched, mode = "complete")).orderBy($"type_tier")
    },
    Some("""
      SELECT CASE WHEN len(event_type) >= 6 THEN 'long' ELSE 'short' END
               AS type_tier,
             count(*) AS cnt,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""),
    writes = true)


  /** streaming_quality_parity — the curation path run STREAMING: the
    * document corpus streamed from files and scored by the SAME
    * TextOps.qualityModel plan the batch query grades (row-local
    * stateless transform: no watermark, no state store, append mode —
    * the ingest-time quality gate of a production pipeline). Graded
    * per-doc against the shared quality-model SQL fragments, so batch
    * query, streaming query, and oracle share one definition of the
    * model.
    */
  private val st06 = Q(
    "streaming_quality_parity",
    (s, d) => {
      import s.implicits._
      val batch = docs(s, d).select($"doc_id", $"text")
      val stageDir = tmpDir(s, "stream_quality_docs")
      batch.coalesce(1).write.mode("overwrite").parquet(stageDir)
      val src = s.readStream.schema(FsOps.readParquet(s, stageDir).schema).parquet(stageDir)
      val scored = TextOps.qualityModel(src)
        .select($"doc_id", $"score", $"keep")
      scratch(s)(_.sink(scored)).orderBy($"doc_id")
    },
    Some(s"""$qualityModelCtes
      SELECT doc_id, $qualityScoreSql AS score,
             coalesce($qualityScoreSql > 0, false) AS keep
      FROM m ORDER BY doc_id"""),
    writes = true)

  /** streaming_simhash_ingest_parity — the index-lifecycle INGEST
    * PROBE deployed under Structured Streaming (proving the lifecycle
    * ops compose with the streaming ingest path, not just batch): the
    * incoming docs (doc_id % 10 == 0) arrive as a file
    * stream in MULTIPLE micro-batches (4 files, maxFilesPerTrigger=2),
    * each probed via foreachBatch against the STORED simhash index of
    * the corpus — the dedup_simhash_incremental pipeline per batch,
    * outputs folded into an add-only DeltaState store. Because the
    * probe's per-doc output depends only on the doc and the index,
    * micro-batch boundaries cannot change the result, so the resolved
    * store is graded against the
    * SAME one-shot oracle as the batch query (shared
    * simhashIncrementalSql — batch query, streaming query, and oracle
    * share one definition).
    */
  private val st07 = Q(
    "streaming_simhash_ingest_parity",
    (s, d) => {
      import s.implicits._
      val all = docs(s, d)
      val stageDir = tmpDir(s, "stream_sh_batch")
      all.filter($"doc_id" % 10 === 0).repartition(4)
        .write.mode("overwrite").parquet(stageDir)
      val index = FsOps.stage(
        DedupOps.simhashIndex(all.filter($"doc_id" % 10 =!= 0), "text", "doc_id"),
        tmpDir(s, "stream_sh_index"))
      val src = s.readStream.schema(FsOps.readParquet(s, stageDir).schema)
        .option("maxFilesPerTrigger", "2").parquet(stageDir)
      probeFold(src, tmpDir(s, "stream_sh_out")) { batch =>
        DedupOps.simhashNearDupIncremental(batch, index, "text", "doc_id")
      }.orderBy($"doc_id")
    },
    Some(QueriesDedup.simhashIncrementalSql(
      "doc_id % 10 <> 0", "doc_id % 10 = 0")),
    writes = true)

  /** streaming_minhash_ingest_parity — the minhash lifecycle probe
    * deployed under Structured Streaming (st07 grades the simhash
    * probe; this one carries the family's heavier contract,
    * a VERIFYING probe whose corpus text is touched only through the
    * candidate-id semi-join): the incoming docs arrive as a file
    * stream in multiple micro-batches (4 files,
    * maxFilesPerTrigger=2), each probed via foreachBatch against the
    * STORED band index of the corpus — dedup_minhash_incremental's
    * pipeline per batch, outputs folded into an add-only DeltaState
    * store. The probe's per-doc output depends only on the doc, the
    * index, and the corpus, so micro-batch boundaries cannot change
    * the result: the resolved store is graded against the SAME
    * one-shot oracle as the batch
    * probe (shared minhashIncrementalSql — batch query, streaming
    * query, and oracle share one definition).
    */
  private val st08 = Q(
    "streaming_minhash_ingest_parity",
    (s, d) => {
      import s.implicits._
      val all = docs(s, d)
      val corpus = all.filter($"doc_id" % 10 =!= 0)
      val stageDir = tmpDir(s, "stream_mh_batch")
      all.filter($"doc_id" % 10 === 0).repartition(4)
        .write.mode("overwrite").parquet(stageDir)
      val index = FsOps.stage(DedupOps.minhashIndex(corpus, "text", "doc_id"),
        tmpDir(s, "stream_mh_index"))
      val src = s.readStream.schema(FsOps.readParquet(s, stageDir).schema)
        .option("maxFilesPerTrigger", "2").parquet(stageDir)
      probeFold(src, tmpDir(s, "stream_mh_out")) { batch =>
        DedupOps.minhashNearDupIndexed(batch, index, corpus,
          "text", "doc_id")
      }.orderBy($"doc_id")
    },
    Some(QueriesDedup.minhashIncrementalSql(
      "doc_id % 10 <> 0", "doc_id % 10 = 0")),
    writes = true)

  /** streaming_ivf_ingest_parity — the ANN lifecycle probe deployed
    * under Structured Streaming (the third family after st07/st08):
    * QUERY vectors arrive as a file stream in multiple
    * micro-batches, each probed via foreachBatch against the STORED
    * IVF assignment index of the full corpus under its pinned
    * lowest-id codebook — ann_ivf_topk's probe per batch, outputs
    * folded into an add-only DeltaState store. Each query's top-k
    * depends only on the query, the index, and the codebook (per-row
    * w.r.t. its batch), so the resolved store is graded against the
    * SAME one-shot oracle as the batch probe (shared
    * ivfProbeOracleSql).
    */
  private val st09 = Q(
    "streaming_ivf_ingest_parity",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val cb = SimOps.lowestIdCodebook(e, "vec_id", "embedding", 16)
      val stageDir = tmpDir(s, "stream_ivf_queries")
      e.filter($"vec_id" < 10).repartition(4)
        .write.mode("overwrite").parquet(stageDir)
      val index = FsOps.stage(SimOps.ivfIndex(e, "vec_id", "embedding", cb),
        tmpDir(s, "stream_ivf_index"))
      val src = s.readStream.schema(FsOps.readParquet(s, stageDir).schema)
        .option("maxFilesPerTrigger", "2").parquet(stageDir)
      probeFold(src, tmpDir(s, "stream_ivf_out")) { batch =>
        SimOps.ivfTopKIndexed(batch, index, "vec_id", "embedding", cb, k = 5)
      }.orderBy($"qid", $"rnk")
    },
    Some(QueriesSim.ivfProbeOracleSql("", "")),
    writes = true)

  /** streaming_index_delete_parity — index RETRACTION deployed under
    * Structured Streaming (closing the lifecycle×deployment matrix:
    * build/merge/probe/delete × batch/stream): a CDC-style takedown
    * feed — the doc_id % 10 == 0 ids in 4 files, maxFilesPerTrigger=2 ⇒
    * genuinely multi-batch — folds the batch's ids as tombstones into
    * the stored signature index via `DeltaState` (each trigger
    * publishes only its tombstone KEYS under the `_COMMIT` protocol;
    * the read anti-joins them against the base — the
    * `FoldLaw.simhashSignatures` id anti-join). Deletion composes
    * (chained anti-joins ≡ one anti-join of the union — the OpsSpec
    * law), so the final state must equal the never-ingested index,
    * proven THROUGH the consumer: the held-out % 10 == 5 batch probed
    * against the final state ≡ the one-shot incremental against the
    * index of the surviving corpus — the shared simhashIncrementalSql
    * chain with both slices excluded. A leaked takedown id resurfaces
    * as a candidate and fails the hash.
    */
  private val st10 = Q(
    "streaming_index_delete_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.DeltaState
      import graft.streaming.DeltaState.DeltaFoldSpec
      val all = docs(s, d)
      val index0 = DedupOps.simhashIndex(
        all.filter($"doc_id" % 10 =!= 5), "text", "doc_id")
      val stageDir = tmpDir(s, "stream_del_ids")
      all.filter($"doc_id" % 10 === 0).select($"doc_id").repartition(4)
        .write.mode("overwrite").parquet(stageDir)
      val src = s.readStream.schema(FsOps.readParquet(s, stageDir).schema)
        .option("maxFilesPerTrigger", "2").parquet(stageDir)
      // a takedown feed adds nothing: every trigger's add dir is empty
      val noAdds = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        index0.schema)
      val retracted = DeltaState.foreachBatchDeltaFold(src, index0,
        tmpDir(s, "stream_del_state"),
        DeltaFoldSpec(add = _ => noAdds, del = Some(_.select($"doc_id"))))
      DedupOps.simhashNearDupIncremental(
          all.filter($"doc_id" % 10 === 5), retracted, "text", "doc_id")
        .orderBy($"doc_id")
    },
    Some(QueriesDedup.simhashIncrementalSql(
      "doc_id % 10 <> 0 AND doc_id % 10 <> 5", "doc_id % 10 = 5")),
    writes = true)

  /** streaming_fold_resume_parity — RESUME-AFTER-INTERRUPT for the
    * streaming maintenance folds: a drift-monitoring feed folds the
    * `FoldLaw.histBins` histogram — an ADDITIVE, non-idempotent fold,
    * so any reprocessing double-counts and fails the hash — as a
    * `DeltaState` `MergeFoldSpec` (each trigger publishes its batch's
    * partial histogram; the read group-sums base ∪ partials) in TWO separate
    * invocations. Leg 1 sees only the first window's file, runs to
    * completion under AvailableNow, and STOPS; the second
    * window's file is then added and leg 2 re-invokes with
    * `resume = true` — checkpoint KEPT, so the restarted stream skips
    * the already-folded file, processes only the new one, and the
    * delta chain continues from the stored position (the
    * crash-safety property a 100 TB takedown/crawl feed needs: stop
    * anywhere, restart, land on the uninterrupted state). The final
    * state feeds `psiFromStates` against the stored reference window
    * and must equal q86's one-shot PSI chain (shared psiOracleSql) —
    * a re-folded file doubles bin counts, a dropped file loses them;
    * either breaks n_b and the hash. Replay-idempotence (retry of the
    * SAME batch id) is spec-asserted in DeltaStateSpec via the
    * batchId-keyed commit protocol.
    */
  private val st11 = Q(
    "streaming_fold_resume_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.DeltaState
      val e = ev(s, d)
      val hist = FoldLaw.histBins("value", lo = 0.0, width = 25.0, nbins = 20)
      val stageDir = tmpDir(s, "stream_resume_feed")
      val stateDir = tmpDir(s, "stream_resume_state")
      val emptyState = s.range(0)
        .select($"id".cast("int").as("bin"), $"id".as("n"))
      val spec = hist.foldAdds(identity)
      // leg 1: only the Jan 16–24 window staged; stream runs and stops.
      // Interrupt window: the ≥ Jan 24 file lands; leg 2 resumes off
      // the kept checkpoint and folds ONLY the new file
      val cur = stagedLegs(s, stageDir,
          e.filter($"ts" >= "2024-01-16 00:00:00" && $"ts" < "2024-01-24 00:00:00")
            .select($"value"),
          e.filter($"ts" >= "2024-01-24 00:00:00").select($"value")) {
        (src, resume) =>
          DeltaState.foreachBatchDeltaFold(src, emptyState, stateDir, spec, resume)
      }
      val refState = hist.derive(e.filter($"ts" < "2024-01-16 00:00:00"))
      LibOps.psiFromStates(refState, cur, nbins = 20).orderBy($"bin")
    },
    Some(QueriesEvents.psiOracleSql),
    writes = true)

  /** pipeline_ingest_fold — the END-TO-END INGEST CAPSTONE:
    * one crawl feed maintains EVERY store in the engine side-by-side,
    * proving the lifecycle folds compose in a single deployment
    * rather than only one-per-query. The corpus (doc_id % 10 ∉ {0,5})
    * seeds seven stores — minhash band index AND its bucket stats,
    * simhash signature index, span digest index, per-lang KMV
    * distinct-source sketch, quality-score eval counts, and the
    * n_chars drift histogram — then the % 10 == 0 feed arrives in two
    * micro-batches through `DeltaState.foreachBatchStoreFolds`, which
    * pins each batch ONCE and publishes all seven stores' batch-sized
    * deltas off the pinned copy (DeltaStateSpec proves the
    * single-materialization contract with an accumulator; at 100 TB
    * the alternative re-reads every ingest batch N-stores times).
    * The per-doc-fact indexes fold under `FoldLaw.PerDoc` and the
    * counts and histograms under `FoldLaw.Counted`, all add-only; the
    * KMV sketch is a `MergeFoldSpec` whose merge is its own k-smallest
    * compaction. After the stream, each
    * family is read THROUGH its consumer against the final stored states: the
    * % 10 == 5 batch probes the minhash (stats-capped), simhash, and
    * span indexes; the KMV estimate, the AUC, and the PSI report
    * come off their states alone. One summary row per family
    * (family, m1, m2, m3 — counts exact, float sums through DECIMAL
    * so partial order cannot flip a rounding boundary), graded
    * against a six-chain oracle where every chain is the family's own
    * shared one-shot replay over the corpus∪feed split — a fold that
    * dropped, doubled, or leaked a row in ANY store moves its
    * family's row and fails the hash.
    */
  private val st12 = Q(
    "pipeline_ingest_fold",
    (s, d) => {
      import s.implicits._
      import graft.streaming.DeltaState
      import graft.streaming.DeltaState.{DeltaFoldSpec, MergeFoldSpec, NamedDeltaStore}
      val all = docs(s, d)
      val corpus = all.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
      val feed = all.filter($"doc_id" % 10 === 0)
      val probe = all.filter($"doc_id" % 10 === 5)
      val stageDir = tmpDir(s, "cap_feed")
      feed.repartition(2).write.mode("overwrite").parquet(stageDir)
      val src = s.readStream.schema(FsOps.readParquet(s, stageDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      // the t21q digit-gated provenance label (one definition of the
      // degradation semantics would be nicer, but the gate is 3 lines
      // and the oracle below replays t21q's exact fragments)
      def labeled(df: DataFrame) = {
        val sfx = col("source").substr(lit(4), length(col("source")))
        TextOps.qualityModel(df).select(col("score"),
          (when(sfx.rlike("^[0-9]+$"), sfx.cast("int")) % 2 === 0).as("y"))
      }
      val emptyHist = s.range(0)
        .select($"id".cast("int").as("bin"), $"id".as("n"))
      // ONE corpus banding pass for the two minhash seeds: staged
      // once, both seeds read the same band rows (lossless parquet
      // round-trip, deterministic banding)
      val corpusBands = FsOps.stage(DedupOps.minhashIndex(corpus, "text", "doc_id"),
        tmpDir(s, "cap_mh_band"))
      val sigs = FoldLaw.simhashSignatures("text", "doc_id")
      val spans = FoldLaw.spanOccurrences("text", "doc_id")
      val evalCounts = FoldLaw.scoreCounts("score", "y")
      val hist = FoldLaw.histBins("n_chars", lo = 0.0, width = 32.0, nbins = 20)
      val root = tmpDir(s, "cap_state")
      def store(name: String, init: DataFrame, spec: DeltaState.StoreFold,
                input: Option[String] = None) =
        NamedDeltaStore(s"$root/$name", init, spec, input)
      val folded = DeltaState.foreachBatchStoreFolds(src, Seq(
          // mh_index and mh_stats fold off the SHARED per-trigger
          // banding of the pinned batch: the derivation is
          // deterministic scratch state, so stores stay independently
          // replayable while the banding runs once per trigger, not
          // once per store
          store("mh_index", corpusBands,
            DeltaFoldSpec(add = identity),
            input = Some("mh_band")),
          store("mh_stats", FoldLaw.minhashBucketStats.derive(corpusBands),
            FoldLaw.minhashBucketStats.foldAdds(identity),
            input = Some("mh_band")),
          store("sh_index", sigs.derive(corpus), sigs.foldAdds(identity)),
          store("span_index", spans.derive(corpus), spans.foldAdds(identity)),
          store("kmv", LibOps.kmvSketch(corpus, Seq("lang"), "source"),
            MergeFoldSpec(partial = LibOps.kmvSketch(_, Seq("lang"), "source"),
              merge = LibOps.kmvCompact(_, Seq("lang")))),
          store("eval_counts", evalCounts.derive(labeled(corpus)),
            evalCounts.foldAdds(labeled)),
          store("psi_state", emptyHist, hist.foldAdds(identity))),
        shared = Seq("mh_band" ->
          ((b: DataFrame) => DedupOps.minhashIndex(b, "text", "doc_id"))))
      def fin(name: String) = folded(s"$root/$name")
      val ingestedDocs = all.filter($"doc_id" % 10 =!= 5)
      def row(fam: String, agg: DataFrame) =
        agg.select(lit(fam).as("family"), $"m1", $"m2", $"m3")
      val mh = row("minhash",
        DedupOps.minhashNearDupIndexed(probe, fin("mh_index"), ingestedDocs,
            "text", "doc_id", bandStats = Some(fin("mh_stats")))
          .agg(sum(when($"is_dup", 1L).otherwise(0L)).cast("double").as("m1"),
            sum($"n_candidates").cast("double").as("m2"),
            sum($"max_jaccard".cast("decimal(18,4)")).cast("double").as("m3")))
      val sh = row("simhash",
        DedupOps.simhashNearDupIncremental(probe, fin("sh_index"),
            "text", "doc_id")
          .agg(sum(when($"is_dup", 1L).otherwise(0L)).cast("double").as("m1"),
            sum($"n_near").cast("double").as("m2"),
            sum(coalesce($"min_hamming", lit(-1))).cast("double").as("m3")))
      val sp = row("span",
        DedupOps.spanDedupIncremental(probe, fin("span_index"), "text", "doc_id")
          .agg(sum($"n_spans").cast("double").as("m1"),
            sum($"n_dup_ngrams").cast("double").as("m2"),
            sum($"dup_tokens").cast("double").as("m3")))
      val km = row("kmv",
        LibOps.kmvEstimate(fin("kmv"), Seq("lang"))
          .agg(count(lit(1)).cast("double").as("m1"),
            sum(round($"n_distinct_est", 4).cast("decimal(18,4)"))
              .cast("double").as("m2"),
            lit(0.0).as("m3")))
      val ev = row("eval",
        EvalOps.aucFromCounts(fin("eval_counts"))
          .select($"n_pos".cast("double").as("m1"),
            $"n_neg".cast("double").as("m2"), $"auc".as("m3")))
      val ps = row("psi",
        LibOps.psiFromStates(hist.derive(corpus), fin("psi_state"), nbins = 20)
          .agg(sum($"n_a").cast("double").as("m1"),
            sum($"n_b").cast("double").as("m2"),
            sum($"psi_contrib".cast("decimal(18,6)")).cast("double").as("m3")))
      mh.unionByName(sh).unionByName(sp).unionByName(km).unionByName(ev)
        .unionByName(ps)
        .orderBy($"family")
    },
    Some(s"""
      SELECT family, m1, m2, m3 FROM (
        SELECT 'minhash' AS family,
               CAST(count(*) FILTER (WHERE is_dup) AS DOUBLE) AS m1,
               CAST(sum(n_candidates) AS DOUBLE) AS m2,
               CAST(sum(CAST(max_jaccard AS DECIMAL(18,4))) AS DOUBLE) AS m3
        FROM (${QueriesDedup.minhashIncrementalSql(
          "doc_id % 10 <> 5", "doc_id % 10 = 5")}) q
        UNION ALL
        SELECT 'simhash' AS family,
               CAST(count(*) FILTER (WHERE is_dup) AS DOUBLE) AS m1,
               CAST(sum(n_near) AS DOUBLE) AS m2,
               CAST(sum(coalesce(min_hamming, -1)) AS DOUBLE) AS m3
        FROM (${QueriesDedup.simhashIncrementalSql(
          "doc_id % 10 <> 5", "doc_id % 10 = 5")}) q
        UNION ALL
        SELECT 'span' AS family,
               CAST(sum(n_spans) AS DOUBLE) AS m1,
               CAST(sum(n_dup_ngrams) AS DOUBLE) AS m2,
               CAST(sum(dup_tokens) AS DOUBLE) AS m3
        FROM (${QueriesDedup.spanOracleSql("", "doc_id % 10 = 5")}) q
        UNION ALL
        SELECT 'kmv' AS family,
               CAST(cnt AS DOUBLE) AS m1, CAST(s2 AS DOUBLE) AS m2,
               0.0 AS m3
        FROM (
          WITH dv AS (
            SELECT DISTINCT lang, source FROM documents
            WHERE doc_id % 10 <> 5 AND source IS NOT NULL),
          h AS (
            SELECT lang, source,
                   (CAST(('0x' || substr(md5(source), 1, 15))
                         ::BIGINT AS DOUBLE) + 1.0) / 1152921504606846976.0
                     AS hv
            FROM dv),
          r AS (
            SELECT lang, hv,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY hv, source) AS rk
            FROM h),
          est AS (
            SELECT lang,
                   CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                        ELSE 63.0 / max(CASE WHEN rk = 64 THEN hv END) END
                     AS n_est
            FROM r WHERE rk <= 64 GROUP BY 1)
          SELECT count(*) AS cnt,
                 sum(CAST(round(n_est, 4) AS DECIMAL(18,4))) AS s2
          FROM est) q
        UNION ALL
        SELECT 'eval' AS family,
               CAST(n_pos AS DOUBLE) AS m1, CAST(n_neg AS DOUBLE) AS m2,
               auc AS m3
        FROM (
          $qualityModelCtes,
          sc AS (
            SELECT $qualityScoreSql AS score,
                   (CASE WHEN regexp_matches(substr(d.source, 4), '^[0-9]+$$')
                         THEN TRY_CAST(substr(d.source, 4) AS INTEGER) END
                    % 2 = 0) AS y
            FROM m JOIN documents d USING (doc_id)
            WHERE d.doc_id % 10 <> 5),
          agg AS (
            SELECT score, n_pos, n_neg FROM (
              SELECT score,
                     CAST(sum(CASE WHEN y = true THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                     CAST(sum(CASE WHEN y = false THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_neg
              FROM sc GROUP BY score) t
            WHERE score IS NOT NULL AND n_pos + n_neg > 0),
          w AS (
            SELECT score, n_pos, n_neg,
                   CAST(coalesce(sum(n_neg) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS neg_below
            FROM agg)
          SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
                 CAST(sum(n_neg) AS BIGINT) AS n_neg,
                 CASE WHEN sum(n_pos) > 0 AND sum(n_neg) > 0 THEN
                   round(CAST(sum(n_pos * (2 * neg_below + n_neg)) AS DOUBLE) /
                         (CAST(sum(n_pos) AS DOUBLE)
                          * CAST(sum(n_neg) AS DOUBLE) * 2), 6)
                 END AS auc
          FROM w) q
        UNION ALL
        SELECT 'psi' AS family,
               CAST(sa AS DOUBLE) AS m1, CAST(sb AS DOUBLE) AS m2,
               CAST(sc3 AS DOUBLE) AS m3
        FROM (
          WITH bins AS (SELECT CAST(unnest(range(20)) AS INTEGER) AS bin),
          ha AS (
            SELECT CAST(least(greatest(floor(n_chars / 32.0), 0), 19)
                     AS INTEGER) AS bin,
                   count(*)::BIGINT AS n_a
            FROM documents
            WHERE n_chars IS NOT NULL
              AND doc_id % 10 <> 0 AND doc_id % 10 <> 5
            GROUP BY 1),
          hb AS (
            SELECT CAST(least(greatest(floor(n_chars / 32.0), 0), 19)
                     AS INTEGER) AS bin,
                   count(*)::BIGINT AS n_b
            FROM documents
            WHERE n_chars IS NOT NULL AND doc_id % 10 = 0
            GROUP BY 1),
          ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta FROM ha),
          tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM hb),
          p AS (
            SELECT bin, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
                   round(((coalesce(n_a, 0) + 0.5) / (ta + 10.0)
                          - (coalesce(n_b, 0) + 0.5) / (tb + 10.0))
                         * ln(((coalesce(n_a, 0) + 0.5) / (ta + 10.0))
                              / ((coalesce(n_b, 0) + 0.5) / (tb + 10.0))), 6)
                     AS pc
            FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)
            CROSS JOIN ta CROSS JOIN tb)
          SELECT CAST(sum(n_a) AS BIGINT) AS sa,
                 CAST(sum(n_b) AS BIGINT) AS sb,
                 sum(CAST(pc AS DECIMAL(18,6))) AS sc3
          FROM p) q
      ) u ORDER BY family"""),
    writes = true)

  /** streaming_ingest_resume_parity — RESUME for the PROBE path
    * (the probe twin of streaming_fold_resume_parity — with it, BOTH
    * streaming deployments carry a graded stop-anywhere/restart
    * property): the %20==0 half of the ingest batch is staged and
    * probed against the stored simhash index under AvailableNow, the
    * stream STOPS, the %20==10 half lands, and the re-invocation with
    * `resume = true` keeps the checkpoint — only the new file is
    * probed, its outputs fold into the same add-only DeltaState store,
    * and the resolved store must equal the one-shot incremental over
    * the full %10==0 batch (the shared simhashIncrementalSql chain).
    * A reprocessed first file would duplicate its rows (hash fails on
    * row count); a dropped second file loses its docs.
    */
  private val st13 = Q(
    "streaming_ingest_resume_parity",
    (s, d) => {
      import s.implicits._
      val all = docs(s, d)
      val index = FsOps.stage(
        DedupOps.simhashIndex(all.filter($"doc_id" % 10 =!= 0), "text", "doc_id"),
        tmpDir(s, "stream_ri_index"))
      val outDir = tmpDir(s, "stream_ri_out")
      stagedLegs(s, tmpDir(s, "stream_ri_batch"),
          all.filter($"doc_id" % 20 === 0), all.filter($"doc_id" % 20 === 10)) {
        (src, resume) => probeFold(src, outDir, resume) { batch =>
          DedupOps.simhashNearDupIncremental(batch, index, "text", "doc_id")
        }
      }.orderBy($"doc_id")
    },
    Some(QueriesDedup.simhashIncrementalSql(
      "doc_id % 10 <> 0", "doc_id % 10 = 0")),
    writes = true)

  /** streaming_fold_delta_parity — the BATCH-SIZED state publish
    * (a versioned-snapshot fold would rewrite the ENTIRE state as
    * v{n+1} every micro-batch, an O(index) write per trigger at
    * 100 TB; the DeltaState protocol
    * publishes each batch's ADD rows and tombstone KEYS into a
    * batchId-keyed `_COMMIT`-gated delta dir instead, O(batch) per
    * trigger, with a periodic compaction folding the chain into a new
    * `_SUCCESS`-gated base). Graded as a CDC feed carrying BOTH
    * halves of the lifecycle at once: the simhash signature index of
    * the % 10 ∉ {0, 5} corpus is the v0 base; two micro-batches then
    * ADD the % 10 == 0 docs' signatures and RETRACT the % 10 == 7
    * corpus ids (tombstones kill strictly-older rows — base and
    * prior-batch adds — the delete-then-merge fold order), with the
    * stream STOPPED between the batches and resumed off the kept
    * checkpoint (the st11 stop-anywhere bar, now on the delta path).
    * The % 10 == 5 batch probes the state TWICE: resolved from
    * base + deltas, then again after `compact` folded the chain into
    * a new base — both phases must equal the one-shot incremental
    * against the never-ingested net corpus (% 10 ∉ {5, 7}), the
    * shared simhashIncrementalSql chain. A double-applied delta, a
    * leaked tombstone, a row lost in compaction, or a resume that
    * reprocessed the first file each move candidates and fail the
    * hash; DeltaStateSpec separately asserts the write-side contract
    * (base file list byte-identical across ingest batches).
    */
  private val st14 = Q(
    "streaming_fold_delta_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.DeltaState
      val all = docs(s, d)
      val corpus = all.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
      val stageDir = tmpDir(s, "stream_delta_feed")
      val stateDir = tmpDir(s, "stream_delta_state")
      def feedSlice(addMod: Long, delMod: Long) =
        all.filter($"doc_id" % 20 === addMod)
          .select(lit("add").as("op"), $"doc_id", $"text")
          .unionByName(all.filter($"doc_id" % 20 === delMod)
            .select(lit("del").as("op"), $"doc_id",
              lit(null).cast("string").as("text")))
      val sigs = FoldLaw.simhashSignatures("text", "doc_id")
      val spec = sigs.fold(cdcAdds, cdcDels)
      val init = sigs.derive(corpus)
      // leg 1: only the first CDC file staged; stream runs and stops.
      // Interrupt window: the second CDC file lands; leg 2 resumes off
      // the kept checkpoint and publishes ONLY the new file's delta
      stagedLegs(s, stageDir, feedSlice(0L, 7L), feedSlice(10L, 17L)) {
        (src, resume) =>
          DeltaState.foreachBatchDeltaFold(src, init, stateDir, spec, resume)
      }
      val probe = all.filter($"doc_id" % 10 === 5)
      def probed(phase: String) = DedupOps.simhashNearDupIncremental(
          probe, DeltaState.read(s, stateDir), "text", "doc_id")
        .withColumn("phase", lit(phase))
      // phase 1: the live delta-resolved state (base + adds − tombs);
      // pin before compacting so the compaction cannot race the scan
      val viaDeltas = probed("delta").localCheckpoint(true)
      DeltaState.compact(s, stateDir)
      val viaCompact = probed("compact")
      viaDeltas.unionByName(viaCompact)
        .orderBy($"phase", $"doc_id")
    },
    Some(s"""
      SELECT phase, doc_id, n_near, min_hamming, is_dup FROM (
        SELECT 'delta' AS phase, q1.* FROM (${QueriesDedup.simhashIncrementalSql(
          "doc_id % 10 <> 5 AND doc_id % 10 <> 7", "doc_id % 10 = 5")}) q1
        UNION ALL
        SELECT 'compact' AS phase, q2.* FROM (${QueriesDedup.simhashIncrementalSql(
          "doc_id % 10 <> 5 AND doc_id % 10 <> 7", "doc_id % 10 = 5")}) q2
      ) u ORDER BY phase, doc_id"""),
    writes = true)

  /** streaming_merge_fold_parity — BATCH-SIZED publishes for
    * MERGEABLE-AGGREGATE state: the MergeFold protocol publishes each
    * batch's PARTIAL-aggregate rows — batch-sized — and group-sums on
    * read/compact under the `FoldLaw.histBins` law (`Counted`).
    * Graded on the drift-monitoring family WITH RETRACTION: the value
    * histogram's current window arrives as a CDC feed — batch 0 adds
    * the Jan 16–24 window (+1-weighted rows), the stream STOPS, batch
    * 1 resumes off the kept checkpoint, adds the ≥ Jan 24 window AND
    * RETRACTS the Jan 16–20 slice (−1-weighted rows — a mis-ingested
    * shard withdrawn). The PSI gate
    * against the stored reference window is probed TWICE — resolved
    * from base + partial deltas, then again after `compactStore`
    * folded the chain into a new merged base — and both phases must
    * equal the one-shot PSI over the NET window (ts ≥ Jan 20). A
    * double-applied partial, a lost retraction, or a compaction that
    * re-merged wrong each move a bin count and fail the hash;
    * DeltaStateSpec separately asserts the write-side contract (the
    * stats base file list byte-identical across ingest batches).
    */
  private val st15 = Q(
    "streaming_merge_fold_parity",
    (s, d) => {
      import s.implicits._
      import graft.streaming.DeltaState
      val e = ev(s, d)
      val stageDir = tmpDir(s, "stream_mf_feed")
      val stateDir = tmpDir(s, "stream_mf_state")
      val hist = FoldLaw.histBins("value", lo = 0.0, width = 25.0, nbins = 20)
      // each feed row is one signed contribution to its bin
      val spec = hist.foldSigned(_.filter($"value".isNotNull).select(
        LibOps.histBin($"value", 0.0, 25.0, 20).as("bin"), $"w".as("n")))
      val emptyState = s.range(0)
        .select($"id".cast("int").as("bin"), $"id".as("n"))
      def slice(lo: String, hi: String, w: Long) =
        e.filter($"ts" >= lo && $"ts" < hi)
          .select($"value", lit(w).as("w"))
      // leg 1: the Jan 16–24 window lands; stream runs and stops.
      // Interrupt window: batch 1 adds ≥ Jan 24 AND retracts Jan 16–20
      stagedLegs(s, stageDir,
          slice("2024-01-16 00:00:00", "2024-01-24 00:00:00", 1L),
          slice("2024-01-24 00:00:00", "2124-01-01 00:00:00", 1L)
            .unionByName(slice("2024-01-16 00:00:00", "2024-01-20 00:00:00", -1L))) {
        (src, resume) =>
          DeltaState.foreachBatchDeltaFold(src, emptyState, stateDir, spec, resume)
      }
      val refState = hist.derive(e.filter($"ts" < "2024-01-16 00:00:00"))
      def probed(phase: String) =
        LibOps.psiFromStates(refState, spec.resolve(s, stateDir), nbins = 20)
          .withColumn("phase", lit(phase))
      // phase 1: live base + partial deltas; pin before compacting so
      // the compaction cannot race the scan
      val viaDeltas = probed("delta").localCheckpoint(true)
      spec.compactStore(s, stateDir)
      val viaCompact = probed("compact")
      viaDeltas.unionByName(viaCompact)
        .select($"phase", $"bin", $"n_a", $"n_b", $"psi_contrib")
        .orderBy($"phase", $"bin")
    },
    Some {
      def psi(curPred: String) = s"""
        WITH bins AS (SELECT CAST(unnest(range(20)) AS INTEGER) AS bin),
        ha AS (
          SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS INTEGER)
                   AS bin,
                 count(*)::BIGINT AS n_a
          FROM events
          WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'
          GROUP BY 1),
        hb AS (
          SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS INTEGER)
                   AS bin,
                 count(*)::BIGINT AS n_b
          FROM events
          WHERE value IS NOT NULL AND $curPred
          GROUP BY 1),
        ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta FROM ha),
        tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM hb)
        SELECT bin,
               CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
               CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
               round(((coalesce(n_a, 0) + 0.5) / (ta + 10.0)
                      - (coalesce(n_b, 0) + 0.5) / (tb + 10.0))
                     * ln(((coalesce(n_a, 0) + 0.5) / (ta + 10.0))
                          / ((coalesce(n_b, 0) + 0.5) / (tb + 10.0))), 6)
                 AS psi_contrib
        FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)
        CROSS JOIN ta CROSS JOIN tb"""
      // net current window: (Jan16–24 ∪ ≥Jan24) − (Jan16–20) = ≥ Jan20
      val net = psi("ts >= TIMESTAMP '2024-01-20 00:00:00'")
      s"""
      SELECT phase, bin, n_a, n_b, psi_contrib FROM (
        SELECT 'compact' AS phase, q1.* FROM ($net) q1
        UNION ALL
        SELECT 'delta' AS phase, q2.* FROM ($net) q2
      ) u ORDER BY phase, bin"""
    },
    writes = true)

  val qs: Seq[Q] = Seq(st01, st02, st03, st04, st05, st06, st07, st08, st09,
    st10, st11, st12, st13, st14, st15)
}
