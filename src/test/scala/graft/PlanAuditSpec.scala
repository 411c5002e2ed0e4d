package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the set of count()-eliminable queries (round-6 queue item 2).
  *
  * Context: rounds 1-5 timed queries with `df.count()`, under which
  * Catalyst eliminates subtrees whose output is unreferenced — for 17
  * of the queries the timed plan lost Joins/Generates/Windows, and
  * for the dedup near-dup family the ENTIRE pipeline, so the bench
  * measured bare scan counts. Bench now materializes through the noop
  * sink; this spec keeps the failure mode visible: if a query is
  * added to (or leaves) the eliminable set, the pinned list below
  * must be updated CONSCIOUSLY — and anyone tempted to time with
  * count() again will find this list in their diff.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("count()-eliminable query set is pinned (noop-sink bench contract)") {
    val flagged = graft.tools.PlanAudit.audit(spark, "/root/testdata/sf0.001")
    val errors = flagged.filter(_._2.startsWith("ERROR"))
    assert(errors.isEmpty, s"query construction failed: $errors")
    val pinned = Set(
      "ann_recall_report",
      "decon_bloom", "decon_ngram_overlap", "decon_semantic",
      "decon_span_removal",
      "dedup_keep_best",
      "dedup_minhash", "dedup_minhash_incremental", "dedup_minhash_mirror",
      "dedup_novelty",
      "dedup_semantic", "dedup_semantic_incremental",
      "dedup_simhash", "dedup_spans",
      "q26_running_sum", "q38_asof_join", "q42_window_analytics",
      "q51_funnel", "q52_rolling_median", "q66_pct_rank",
      "q77_skew_report", "q81_approx_winsorize", "q83_grouped_winsorize",
      "q84_retention_cohorts", "q85_pit_features", "q86_drift_psi",
      // round-6 seventh session: q87/q51 share the funnel op (final
      // lag window over |steps| rows is unreferenced under count());
      // q88's share window, q89's z columns, and q91's crit/verdict
      // projection likewise drop
      "q87_funnel", "q88_transitions", "q89_rate_anomaly", "q91_ks_drift",
      "q92_attribution", "text_pmi_bigrams", "q93_rolling_active",
      "text_langid_confusion",
      "sample_curriculum", "sample_dsir", "sample_shards",
      // round 7: dedup_minhash_uncapped/dedup_spans_incremental end in
      // the same total-output left joins as their family (d02/d10);
      // ann_knn_accuracy(+_ivf) joined this set when the unresolved-
      // query fix left-joined the sample into the rollup — under
      // count() the unique-key label joins drop without changing the
      // group count
      "ann_knn_accuracy", "ann_knn_accuracy_ivf",
      "dedup_minhash_uncapped", "dedup_spans_incremental",
      // round 7 continuation: same spanReport left-join tail as d10i
      "dedup_spans_index_update",
      // round 7 eval family: under count() the AUC rank-sum window and
      // the PR suffix-sum windows drop (row counts survive on the
      // score-domain aggregate alone); calibration has no window and
      // stays non-eliminable
      "eval_auc_langid", "eval_pr_langid", "eval_auc_by_source",
      // zipf: the rank window + OLS-sum columns drop under count()
      // (the 1-row output count survives on the head aggregate alone)
      "text_zipf_fit",
      // round 8: the minhash index-update probe ends in the family's
      // total-output left join (d02i's tail); eval_auc_quality is the
      // eval_auc_langid shape over the quality scorer (rank-sum window
      // drops, the 1-row count survives). graph_components_audit is
      // NOT eliminable: its per-round rows ARE aggregates of the
      // consecutive-frame joins — count() can drop nothing
      "dedup_minhash_index_update", "eval_auc_quality",
      // round 8 cont.: the simhash ingest pair ends in the family's
      // total-output left join; eval_auc_incremental's rank-sum
      // windows (both the merged-state and the one-shot branch) drop
      // under count() — the 1-row crossJoin count survives without them
      "dedup_simhash_incremental", "dedup_simhash_index_update",
      "eval_auc_incremental",
      // round 9: every retraction grader probes through its family's
      // incremental tail — the same total-output left join (minhash/
      // simhash per-doc rollup, spanReport); the stats probe is
      // d02x's shape with the cap anti-join swapped in (the left-join
      // tail is unchanged). The bucketed probe is NOT here: its
      // localCheckpoint pins the full result before count() can prune
      "dedup_minhash_index_delete", "dedup_simhash_index_delete",
      "dedup_spans_index_delete", "dedup_minhash_stats_probe",
      "dedup_minhash_stats_delete",
      // the streaming delete parity's FOLD runs eagerly inside its
      // DeltaState stream; only its final probe-of-stored-output plan
      // (the incremental left-join tail again) is count()-prunable
      "streaming_index_delete_parity",
      // psiFromStates' spine left-joins + stat crossJoins prune under
      // count() (the spine count survives alone) — q86 has the same
      // tail but its inline hists hide behind the shared subtree;
      // both are noop-sink-timed anyway
      "drift_psi_incremental",
      // round 10: both new streaming-fold queries run their folds
      // EAGERLY inside their DeltaState streams; only the post-stream
      // readout plan is count()-prunable — resume-parity ends in the
      // psiFromStates tail above, and the capstone's six-row union
      // keeps its row count from the 1-row aggregates alone while the
      // m-columns' windows (AUC rank-sum) and probe left-join tails
      // drop. The two bucketed probes and the compaction are NOT here:
      // their localCheckpoint pins the full result before count() can
      // prune
      "streaming_fold_resume_parity", "pipeline_ingest_fold",
      // round 11: the delta-parity query's 'delta' phase is pinned by
      // localCheckpoint, but its 'compact' phase is a live probe plan
      // ending in the family's total-output left join — under count()
      // that branch prunes while the union's row count survives. The
      // partitioned probe and evolved merge are NOT here: one pins via
      // localCheckpoint, the other ends in a grouped aggregate whose
      // keys count() cannot drop
      "streaming_fold_delta_parity",
      // round 12: the merge-fold parity's 'delta' phase is pinned by
      // localCheckpoint, but its 'compact' phase is a live
      // psiFromStates plan — the spine left-joins + stat crossJoins
      // prune under count() exactly as drift_psi_incremental's do.
      // The two new delta probes are NOT here: both pin via
      // localCheckpoint before count() could prune
      "streaming_merge_fold_parity",
      // round 12 cont.: the eval merge-fold's 'compact' phase is a
      // live aucFromCounts plan — the rank-sum window drops under
      // count() exactly as eval_auc_incremental's does (the 'delta'
      // phase is localCheckpoint-pinned)
      "eval_auc_merge_fold",
      // round 12 cont.: the span delta probe's 'compact' phase is a
      // live spanReport plan — the family's total-output left-join
      // tail (dedup_spans_incremental's class). ann_ivf_delta_probe
      // is NOT here: it pins via localCheckpoint
      "dedup_spans_delta_probe")
    val got = flagged.map(_._1).toSet
    val msg =
      s"""count()-eliminable set drifted.
         |  newly eliminable (a count()-timed harness would UNDER-measure them): ${(got -- pinned).toSeq.sorted.mkString(", ")}
         |  no longer eliminable: ${(pinned -- got).toSeq.sorted.mkString(", ")}
         |If intentional, update the pinned set here — and keep Bench on the
         |noop sink; count() timing under-measures every query above.""".stripMargin
    assert(got == pinned, msg)
  }
}
