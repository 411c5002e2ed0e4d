package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.DeltaState
import graft.streaming.DeltaState.DeltaFoldSpec

/** The batch-sized-publish protocol (round 11's lead task): delta
  * ingest, crash/replay/divergence cases, compaction, retention, the
  * equivalence with the full-state rewrite fold, and the multi-store
  * stream with its shared per-trigger derivations.
  */
class DeltaStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    TestSpark.tmpDir(name) + "/s"

  // a per-doc-fact "index": (id, sig) rows; adds derive sig from the
  // batch, dels tombstone by id — the simhash/minhash/span fold shape
  private def spec: DeltaFoldSpec = DeltaFoldSpec(
    add = b => b.filter($"op" === "add").select($"id", ($"id" * 7).as("sig")),
    del = Some(b => b.filter($"op" === "del").select($"id")))

  private def batchDf(adds: Seq[Long], dels: Seq[Long]): DataFrame =
    adds.map(i => (i, "add")).toDF("id", "op")
      .unionByName(dels.map(i => (i, "del")).toDF("id", "op"))

  private def stateRows(dir: String): Seq[(Long, Long)] =
    DeltaState.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private def idx(ids: Seq[Long]): Seq[(Long, Long)] =
    ids.map(i => (i, i * 7)).sorted

  // the full-state rewrite of `spec`: the same fold (delete-then-union)
  // applied in memory to the whole state, batch by batch
  private def foldInMemory(init: DataFrame, batches: Seq[DataFrame]): Seq[(Long, Long)] =
    batches.foldLeft(init) { (state, b) =>
      state.join(b.filter($"op" === "del").select($"id"), Seq("id"), "left_anti")
        .unionByName(b.filter($"op" === "add").select($"id", ($"id" * 7).as("sig")))
    }.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("delta folds land on the rewrite protocol's state; base untouched per batch") {
    val dir = tmp("ds_core")
    DeltaState.init(spark, dir, (0L until 50L).map(i => (i, i * 7)).toDF("id", "sig"))
    def baseFiles(): Seq[String] =
      graft.io.FsOps.ls(spark, s"$dir/base/v0").sorted
    val before = baseFiles()
    // batch 0: add 100–109, retract 0–4 (dels hit the BASE)
    DeltaState.applyDeltaBatch(spark, dir, 0L,
      batchDf(100L until 110L, 0L until 5L), spec)
    // batch 1: add 110–119, retract 100–101 (dels hit a DELTA's adds)
    DeltaState.applyDeltaBatch(spark, dir, 1L,
      batchDf(110L until 120L, 100L until 102L), spec)
    // the batch-sized-write contract: the base's file list is
    // byte-identical after two ingest batches — nothing state-sized
    // was rewritten on the ingest path
    assert(baseFiles() == before, "ingest touched the base")
    val want = idx((5L until 50L) ++ (102L until 120L))
    assert(stateRows(dir) == want, "delta resolution != expected state")
    // equivalence with the full-state rewrite — batch 1 retracts batch
    // 0's adds, so the reference must see batch 0 folded before batch
    // 1's tombstones
    val rw = foldInMemory((0L until 50L).map(i => (i, i * 7)).toDF("id", "sig"),
      Seq(batchDf(100L until 110L, 0L until 5L),
        batchDf(110L until 120L, 100L until 102L)))
    assert(rw == want && stateRows(dir) == rw,
      "delta protocol and the full-state fold diverged")
    graft.io.FsOps.rm(spark, dir)
  }

  test("replays no-op, partials are invisible, divergence refuses loudly") {
    val dir = tmp("ds_replay")
    DeltaState.init(spark, dir, Seq((0L, 0L)).toDF("id", "sig"))
    DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L), Nil), spec)
    val once = stateRows(dir)
    // replay of the same batch id rewrites identical bytes — the
    // resolved state cannot move (an append sink would duplicate)
    DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L), Nil), spec)
    assert(stateRows(dir) == once, "replayed delta batch changed the state")
    // crash mid-write: delta data without _COMMIT is invisible to the
    // read AND to the next-expected position
    batchDf(Seq(99L), Nil).filter($"op" === "add")
      .select($"id", ($"id" * 7).as("sig"))
      .write.mode("overwrite").parquet(s"$dir/delta/b1/add")
    assert(stateRows(dir) == once, "uncommitted partial leaked into the read")
    // the redo of batch 1 overwrites the partial and commits
    DeltaState.applyDeltaBatch(spark, dir, 1L, batchDf(Seq(11L), Nil), spec)
    assert(stateRows(dir) == (once ++ Seq((11L, 77L))).sorted)
    // a skipped batch id (state behind checkpoint) refuses loudly
    val err = intercept[IllegalArgumentException] {
      DeltaState.applyDeltaBatch(spark, dir, 7L, batchDf(Seq(12L), Nil), spec)
    }
    assert(err.getMessage.contains("diverged"))
    graft.io.FsOps.rm(spark, dir)
  }

  test("compact folds deltas into a new base; replay-after-compact no-ops; retention holds") {
    val dir = tmp("ds_compact")
    DeltaState.init(spark, dir, Seq((0L, 0L)).toDF("id", "sig"))
    DeltaState.applyDeltaBatch(spark, dir, 0L,
      batchDf(Seq(10L, 11L), Seq(0L)), spec)
    DeltaState.applyDeltaBatch(spark, dir, 1L, batchDf(Seq(12L), Nil), spec)
    val pre = stateRows(dir)
    // a reader resolving the PRE-compaction snapshot (base v0 + deltas)
    val reader = DeltaState.read(spark, dir)
    DeltaState.compact(spark, dir)
    assert(DeltaState.latestBase(spark, dir) == 2L)
    assert(stateRows(dir) == pre, "compaction changed the state")
    // reader grace: folded deltas are retained one cycle, so the
    // pre-compaction reader still completes
    assert(reader.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == pre, "pre-compaction reader lost files at compact")
    // a replayed batch racing the compaction (its delta folded and its
    // id below the new base) must no-op, not re-apply
    DeltaState.applyDeltaBatch(spark, dir, 1L, batchDf(Seq(12L), Nil), spec)
    assert(stateRows(dir) == pre, "replay-after-compact re-applied a delta")
    // next cycle: two more batches, compact again — the first cycle's
    // folded deltas sweep now, and bases keep the last-2 window
    DeltaState.applyDeltaBatch(spark, dir, 2L, batchDf(Seq(13L), Nil), spec)
    DeltaState.applyDeltaBatch(spark, dir, 3L, batchDf(Nil, Seq(10L)), spec)
    DeltaState.compact(spark, dir)
    assert(stateRows(dir) == idx(Seq(11L, 12L, 13L)))
    assert(DeltaState.committedBases(spark, dir).sorted == Seq(2L, 4L),
      "base retention window should keep the last 2 bases")
    assert(DeltaState.committedDeltas(spark, dir).sorted == Seq(2L, 3L),
      "previous cycle's folded deltas should sweep at the next compact")
    graft.io.FsOps.rm(spark, dir)
  }

  test("overlay ≡ read: base.antiJoin(tombs) ∪ resolvedAdds lands on the resolved state") {
    // the batch-scale view for bucketed-base consumers: composing the
    // overlay against the base externally must equal read()'s own
    // resolution — asserted so the two views cannot drift
    val dir = tmp("ds_overlay")
    val base = (0L until 30L).map(i => (i, i * 7)).toDF("id", "sig")
    DeltaState.init(spark, dir, base)
    // batch 0 adds 100–104 and retracts base ids 0–2; batch 1 retracts
    // the batch-0 add 100 (overlay-internal resolution) and adds 105
    DeltaState.applyDeltaBatch(spark, dir, 0L,
      batchDf(100L until 105L, 0L until 3L), spec)
    DeltaState.applyDeltaBatch(spark, dir, 1L,
      batchDf(Seq(105L), Seq(100L)), spec)
    val (adds, tombs) = DeltaState.overlay(spark, dir)
    val composed = base.join(tombs.get, Seq("id"), "left_anti")
      .unionByName(adds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(composed == stateRows(dir), "overlay composition != read()")
    assert(composed == idx((3L until 30L) ++ (101L until 106L)))
    graft.io.FsOps.rm(spark, dir)
  }

  test("replayed compaction is a true no-op: folded deltas keep their one-cycle grace") {
    // round-11 advice (medium): a compaction trigger REPLAYED after a
    // crash (nothing pending) must not sweep the just-folded deltas —
    // a concurrent reader of the pre-compaction snapshot would lose
    // its files mid-scan, exactly what the retention window exists for
    val dir = tmp("ds_regrace")
    DeltaState.init(spark, dir, Seq((0L, 0L)).toDF("id", "sig"))
    DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L), Nil), spec)
    val reader = DeltaState.read(spark, dir)
    DeltaState.compact(spark, dir)
    assert(DeltaState.committedDeltas(spark, dir) == Seq(0L))
    // the replay: compact again with nothing pending
    DeltaState.compact(spark, dir)
    assert(DeltaState.committedDeltas(spark, dir) == Seq(0L),
      "replayed compaction swept the graced deltas")
    assert(reader.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == idx(Seq(0L, 10L)), "pre-compaction reader lost files on the replay")
    graft.io.FsOps.rm(spark, dir)
  }

  test("add/del frames carrying the reserved __b/__db columns refuse at publish time") {
    // round-11 advice: read() only checked the BASE schema — a
    // spec-authored add/del frame with __b/__db would be silently
    // clobbered by the ordering tag; it must refuse before landing
    val dir = tmp("ds_reserved")
    DeltaState.init(spark, dir, Seq((0L, 0L)).toDF("id", "sig"))
    val badAdd = DeltaFoldSpec(
      add = b => b.filter($"op" === "add").select($"id", ($"id" * 7).as("__b")))
    val e1 = intercept[IllegalArgumentException] {
      DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L), Nil), badAdd)
    }
    assert(e1.getMessage.contains("reserved"))
    val badDel = DeltaFoldSpec(
      add = b => b.filter($"op" === "add").select($"id", ($"id" * 7).as("sig")),
      del = Some(b => b.filter($"op" === "del").select($"id", lit(1L).as("__db"))))
    val e2 = intercept[IllegalArgumentException] {
      DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L), Seq(0L)), badDel)
    }
    assert(e2.getMessage.contains("reserved"))
    // nothing landed: the bad publishes left no committed delta
    assert(DeltaState.committedDeltas(spark, dir).isEmpty)
    graft.io.FsOps.rm(spark, dir)
  }

  test("the delta chain is bounded by DEFAULT arguments (round-11 verdict)") {
    // foreachBatchDeltaFold's default compactEvery must be a real
    // window: 9 single-file micro-batches through the DEFAULTS must
    // leave the base advanced past v0 and the pending chain shorter
    // than the batch count — an unbounded default would leave all 9
    val stage = TestSpark.tmpDir("ds_bound_feed")
    val dir = tmp("ds_bound")
    (0 until 9).foreach(i =>
      batchDf(Seq(100L + i), Nil).coalesce(1).write.mode("append").parquet(stage))
    val schema = spark.read.parquet(stage).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val init = Seq((0L, 0L)).toDF("id", "sig")
    val fin = DeltaState.foreachBatchDeltaFold(src, init, dir, spec)
    assert(fin.count() == 10L)
    assert(DeltaState.latestBase(spark, dir) > 0L,
      "default arguments never compacted — unbounded delta chain")
    val m = DeltaState.latestBase(spark, dir)
    assert(DeltaState.committedDeltas(spark, dir).count(_ >= m) < 9,
      "pending chain grew to the full batch count under defaults")
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, dir)
    graft.io.FsOps.rm(spark, dir + "_ckpt")
  }

  // aggregate-state fold shape for the MergeFold tests: per-key counts,
  // adds +1 per (key) row, dels -1 — the histState/scoreCounts family
  private def mergeSpec: DeltaState.MergeFoldSpec = DeltaState.MergeFoldSpec(
    partial = b => b.select($"id",
        when($"op" === "add", 1L).otherwise(-1L).as("n"))
      .groupBy($"id").agg(sum($"n").as("n")).filter($"n" =!= 0),
    merge = df => df.groupBy($"id").agg(sum($"n").as("n")).filter($"n" =!= 0))

  private def mergeRows(dir: String): Seq[(Long, Long)] =
    mergeSpec.resolve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("MergeFold: batch-sized partial publishes resolve to the sequential merge fold") {
    // the round-12 generalization: aggregate state (group-keyed counts)
    // publishes per-batch PARTIAL rows; resolve group-merges — must
    // equal folding the group-sum in sequentially, and the base
    // file list stays byte-identical across ingest batches (the
    // DeltaStateSpec write-side bar, now on the aggregate protocol)
    val dir = tmp("ds_merge")
    val init = Seq((1L, 5L), (2L, 3L)).toDF("id", "n")
    DeltaState.init(spark, dir, init)
    def baseFiles(): Seq[String] =
      graft.io.FsOps.ls(spark, s"$dir/base/v0").sorted
    val before = baseFiles()
    // batch 0: +2 to key 1, +1 to key 3 (new), -1 to key 2
    DeltaState.applyDeltaBatch(spark, dir, 0L,
      batchDf(Seq(1L, 1L, 3L), Seq(2L)), mergeSpec)
    // batch 1: -2 to key 2 → key 2 empties out and must drop
    DeltaState.applyDeltaBatch(spark, dir, 1L,
      batchDf(Seq(1L), Seq(2L, 2L)), mergeSpec)
    assert(baseFiles() == before, "aggregate ingest touched the base")
    val want = Seq((1L, 8L), (3L, 1L))
    assert(mergeRows(dir) == want, "merge resolution != sequential fold")
    graft.io.FsOps.rm(spark, dir)
  }

  test("MergeFold: compactStore folds partials into a merged base; replay no-ops; state stable") {
    val dir = tmp("ds_merge_c")
    DeltaState.init(spark, dir, Seq((1L, 5L)).toDF("id", "n"))
    DeltaState.applyDeltaBatch(spark, dir, 0L,
      batchDf(Seq(1L, 2L), Nil), mergeSpec)
    DeltaState.applyDeltaBatch(spark, dir, 1L,
      batchDf(Seq(2L), Seq(1L)), mergeSpec)
    val pre = mergeRows(dir)
    assert(pre == Seq((1L, 5L), (2L, 2L)))
    mergeSpec.compactStore(spark, dir)
    assert(DeltaState.latestBase(spark, dir) == 2L)
    assert(mergeRows(dir) == pre, "merge compaction changed the state")
    // a replayed partial racing the compaction no-ops (id < new base)
    DeltaState.applyDeltaBatch(spark, dir, 1L,
      batchDf(Seq(2L), Seq(1L)), mergeSpec)
    assert(mergeRows(dir) == pre, "replay-after-compact re-applied a partial")
    graft.io.FsOps.rm(spark, dir)
  }

  test("foreachBatchStoreFolds maintains a fact store and its aggregate stats side-by-side") {
    // the production pairing: a per-doc-fact index (DeltaFoldSpec) and
    // its per-key stats (MergeFoldSpec) fold off ONE stream in one
    // pass; the stats resolved from STORED state must equal stats
    // recomputed from the resolved index — the dedup stats-store bar
    val stage = TestSpark.tmpDir("ds_multi_feed")
    val root = TestSpark.tmpDir("ds_multi")
    val idxDir = s"$root/idx"
    val statsDir = s"$root/stats"
    val feed1 = batchDf(100L until 105L, Seq(1L))
    val feed2 = batchDf(Seq(105L), Seq(100L, 103L))
    feed1.coalesce(1).write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    def src = spark.readStream.schema(schema).parquet(stage)
    val init = (0L until 10L).map(i => (i, i * 7)).toDF("id", "sig")
    // stats state: per (sig % 3) bucket counts of the index rows
    val statsOf = (df: DataFrame) => df.groupBy(($"sig" % 3).as("k"))
      .agg(count(lit(1)).as("n"))
    val statsSpec = DeltaState.MergeFoldSpec(
      partial = b => b.select($"id",
          when($"op" === "add", 1L).otherwise(-1L).as("w"),
          (($"id" * 7) % 3).as("k"))
        .groupBy($"k").agg(sum($"w").as("n")).filter($"n" =!= 0),
      merge = df => df.groupBy($"k").agg(sum($"n").as("n")).filter($"n" =!= 0))
    val stores = Seq(
      DeltaState.NamedDeltaStore(idxDir, init, spec),
      DeltaState.NamedDeltaStore(statsDir, statsOf(init)
        .select($"k", $"n"), statsSpec))
    DeltaState.foreachBatchStoreFolds(src, stores)
    feed2.coalesce(1).write.mode("append").parquet(stage)
    val fin = DeltaState.foreachBatchStoreFolds(src, stores, resume = true)
    val wantIds = (0L until 10L).filterNot(_ == 1L) ++ Seq(101L, 102L, 104L, 105L)
    assert(fin(idxDir).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq == idx(wantIds), "fact store != expected")
    // the stats STORE (folded batch-sized) ≡ stats of the resolved index
    val fromStore = fin(statsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val recomputed = statsOf(fin(idxDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fromStore == recomputed, "stored stats diverged from the index")
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, root)
    graft.io.FsOps.rm(spark, idxDir + "_ckpt")
  }

  test("foreachBatchDeltaFold streams multi-batch, resumes, and compacts on schedule") {
    val stage = TestSpark.tmpDir("ds_feed")
    val dir = tmp("ds_stream")
    val feed1 = batchDf(100L until 110L, Seq(1L))
    val feed2 = batchDf(110L until 115L, Seq(100L))
    feed1.coalesce(1).write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    def src = spark.readStream.schema(schema).parquet(stage)
    val init = (0L until 10L).map(i => (i, i * 7)).toDF("id", "sig")
    // leg 1 (batch 0), then the second file lands and leg 2 resumes
    // off the kept checkpoint — only the new file folds; compactEvery=2
    // triggers the compaction at batch 1
    DeltaState.foreachBatchDeltaFold(src, init, dir, spec, compactEvery = 2)
    feed2.coalesce(1).write.mode("append").parquet(stage)
    val fin = DeltaState.foreachBatchDeltaFold(src, init, dir, spec,
      resume = true, compactEvery = 2)
    val got = fin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == idx((0L until 10L).filterNot(_ == 1L) ++
      (101L until 115L)), "streamed delta folds != expected state")
    // the scheduled compaction ran at batch 1: base advanced past v0
    assert(DeltaState.latestBase(spark, dir) == 2L,
      "compactEvery=2 should have compacted after batch 1")
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, dir)
    graft.io.FsOps.rm(spark, dir + "_ckpt")
  }

  test("a captured Snapshot resolves the same state through a concurrent compaction") {
    // the round-12 verdict's reader-consistency task: a consumer that
    // resolves several views of one logical state (overlay + read, or
    // a re-planned read) must not straddle a compaction between
    // directory listings. The Snapshot pins (baseVersion, pending) at
    // capture; compaction's one-cycle delta retention and keep-last-N
    // base window keep the captured files alive for a full cycle, so
    // every resolve off the handle yields the captured position even
    // as the store moves on underneath
    val dir = tmp("ds_snap")
    DeltaState.init(spark, dir, (0L until 20L).map(i => (i, i * 7)).toDF("id", "sig"))
    DeltaState.applyDeltaBatch(spark, dir, 0L,
      batchDf(Seq(100L, 101L), Seq(1L)), spec)
    DeltaState.applyDeltaBatch(spark, dir, 1L,
      batchDf(Seq(102L), Seq(100L)), spec)
    val snap = DeltaState.snapshot(spark, dir)
    val want = snap.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(want == idx((0L until 20L).filterNot(_ == 1L) ++ Seq(101L, 102L)))
    val (preAdds, preTombs) = snap.overlay(spark)
    val wantAdds = preAdds.collect().map(_.getLong(0)).sorted.toSeq
    // the store compacts and takes another batch — the handle must
    // not move
    DeltaState.compact(spark, dir)
    DeltaState.applyDeltaBatch(spark, dir, 2L,
      batchDf(Seq(103L), Seq(0L)), spec)
    assert(DeltaState.latestBase(spark, dir) == 2L)
    val gotAfter = snap.read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotAfter == want,
      "a captured snapshot drifted under a concurrent compaction")
    val (postAdds, postTombs) = snap.overlay(spark)
    assert(postAdds.collect().map(_.getLong(0)).sorted.toSeq == wantAdds &&
      postTombs.isDefined == preTombs.isDefined,
      "a captured snapshot's overlay drifted under a concurrent compaction")
    // the LIVE read sees the moved-on state — the handle is a pin,
    // not a freeze of the store
    assert(stateRows(dir) == idx((0L until 20L)
      .filterNot(i => i == 0L || i == 1L) ++ Seq(101L, 102L, 103L)))
    graft.io.FsOps.rm(spark, dir)
  }

  test("foreachBatchStoreFolds publishes N stores concurrently off ONE pinned batch") {
    // the round-12 verdict's task 2: concurrent store publishes must
    // not break the one-materialization contract — an accumulator-
    // bumping projection inside the stream counts row evaluations;
    // the pin's count() fires it once per feed row and every store's
    // concurrent publish reads the cached copy
    val stage = TestSpark.tmpDir("ds_conc_feed")
    val root = TestSpark.tmpDir("ds_conc")
    val nRows = 30L
    batchDf(100L until (100L + nRows - 2), Seq(1L, 2L))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val acc = spark.sparkContext.longAccumulator("delta_batch_row_evals")
    val bump = org.apache.spark.sql.functions.udf { (x: Long) =>
      acc.add(1); x
    }
    val src = spark.readStream.schema(spark.read.parquet(stage).schema)
      .parquet(stage)
      .select(bump($"id").as("id"), $"op")
    val init = (0L until 10L).map(i => (i, i * 7)).toDF("id", "sig")
    val statsSpec = DeltaState.MergeFoldSpec(
      partial = b => b.select(
          when($"op" === "add", 1L).otherwise(-1L).as("w"),
          (($"id" * 7) % 3).as("k"))
        .groupBy($"k").agg(sum($"w").as("n")).filter($"n" =!= 0),
      merge = df => df.groupBy($"k").agg(sum($"n").as("n")).filter($"n" =!= 0))
    val stores = Seq(
      DeltaState.NamedDeltaStore(s"$root/idx", init, spec),
      DeltaState.NamedDeltaStore(s"$root/idx2", init, spec),
      DeltaState.NamedDeltaStore(s"$root/stats",
        init.groupBy((($"sig") % 3).as("k")).agg(count(lit(1)).as("n")),
        statsSpec))
    val fin = DeltaState.foreachBatchStoreFolds(src, stores)
    val wantIds = (0L until 10L).filterNot(i => i == 1L || i == 2L) ++
      (100L until (100L + nRows - 2))
    Seq(s"$root/idx", s"$root/idx2").foreach { d =>
      assert(fin(d).collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq == idx(wantIds), s"concurrent fact store $d != expected")
    }
    assert(acc.value == nRows,
      s"batch rows evaluated ${acc.value} times for $nRows rows × 3 stores " +
        "— the pinned-batch single-scan contract broke under concurrency")
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, root)
    graft.io.FsOps.rm(spark, s"$root/idx_ckpt")
  }

  // the local property Spark's stream execution sets on every job of a
  // running streaming query (and its foreachBatch pool threads inherit)
  private val streamJob = (p: java.util.Properties) =>
    p.getProperty("sql.streaming.queryId") != null

  test("resolve views launch no Spark job: footers are read on the driver") {
    // ≥2 pending deltas carrying tombstones, beside an aggregate store
    // with ≥2 pending partials — every view is only BUILT here; a
    // schema-inferring read would launch one job per dir
    val dir = tmp("ds_nojobs")
    val mdir = tmp("ds_nojobs_m")
    DeltaState.init(spark, dir, (0L until 20L).map(i => (i, i * 7)).toDF("id", "sig"))
    DeltaState.init(spark, mdir, Seq((1L, 5L), (2L, 3L)).toDF("id", "n"))
    Seq(batchDf(100L until 105L, Seq(1L, 2L)), batchDf(Seq(105L), Seq(100L)),
        batchDf(Seq(106L), Seq(3L))).zipWithIndex.foreach { case (b, i) =>
      DeltaState.applyDeltaBatch(spark, dir, i.toLong, b, spec)
      DeltaState.applyDeltaBatch(spark, mdir, i.toLong, b, mergeSpec)
    }
    val sc = spark.sparkContext
    val (views, jobs) = org.apache.spark.TestBus.jobsDuring(sc) {
      val snap = DeltaState.snapshot(spark, dir)
      val msnap = DeltaState.snapshot(spark, mdir)
      assert(snap.pending.size == 3 && msnap.pending.size == 3)
      val (adds, tombs) = snap.overlay(spark)
      (snap.read(spark), msnap.mergeRead(spark, mergeSpec.merge), adds, tombs.get,
        DeltaState.read(spark, dir), DeltaState.overlay(spark, dir)._1,
        DeltaState.mergeRead(spark, mdir, mergeSpec.merge))
    }
    assert(jobs == 0, s"building the resolve views launched $jobs Spark jobs")
    val want = idx((0L until 20L).filterNot(Set(1L, 2L, 3L)) ++ (101L to 106L))
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(views._1) == want && rows(views._5) == want)
    assert(rows(views._3) == idx(101L to 106L) && rows(views._6) == idx(101L to 106L))
    assert(views._4.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 100L))
    assert(rows(views._2) == Seq((1L, 4L), (2L, 2L), (3L, -1L)) ++ (101L to 106L).map((_, 1L)))
    assert(rows(views._7) == rows(views._2))
    graft.io.FsOps.rm(spark, dir)
    graft.io.FsOps.rm(spark, mdir)
  }

  test("foreachBatchStoreFolds builds its returned map without a Spark job") {
    val stage = TestSpark.tmpDir("ds_nojobs_feed")
    val root = TestSpark.tmpDir("ds_nojobs_stream")
    batchDf(100L until 105L, Seq(1L, 2L)).coalesce(1).write.mode("append").parquet(stage)
    val src = spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage)
    val stores = Seq(
      DeltaState.NamedDeltaStore(s"$root/idx",
        (0L until 10L).map(i => (i, i * 7)).toDF("id", "sig"), spec),
      DeltaState.NamedDeltaStore(s"$root/counts", Seq((1L, 1L)).toDF("id", "n"), mergeSpec))
    // the first leg seeds both stores (two init writes on the caller
    // thread); the resumed leg's only caller-thread work is the map
    DeltaState.foreachBatchStoreFolds(src, stores)
    batchDf(Seq(105L), Seq(100L, 3L)).coalesce(1).write.mode("append").parquet(stage)
    val sc = spark.sparkContext
    val ((fin, jobs), streamJobs) = org.apache.spark.TestBus.jobsDuring(sc, streamJob) {
      org.apache.spark.TestBus.jobsDuring(sc, p => !streamJob(p)) {
        DeltaState.foreachBatchStoreFolds(src, stores, resume = true)
      }
    }
    // the filter does see the stream's own jobs: its triggers ran
    assert(streamJobs > 0, "no job carried the streaming query id")
    assert(DeltaState.committedDeltas(spark, s"$root/idx").sorted == Seq(0L, 1L))
    assert(jobs == 0, s"building the returned map launched $jobs Spark jobs")
    assert(fin(s"$root/idx").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq == idx((0L until 10L).filterNot(Set(1L, 2L, 3L)) ++ (101L to 105L)))
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, root)
    graft.io.FsOps.rm(spark, s"$root/idx_ckpt")
  }

  test("a delta that renames a base column still refuses at read: per-dir schemas") {
    // each dir is read with its OWN footer schema, so unionByName keeps
    // refusing a drifted delta instead of null-filling the base's column
    val dir = tmp("ds_rename")
    DeltaState.init(spark, dir, Seq((0L, 0L)).toDF("id", "sig"))
    val renamed = DeltaFoldSpec(
      add = b => b.filter($"op" === "add").select($"id", ($"id" * 7).as("sig2")))
    DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L), Nil), renamed)
    val err = intercept[org.apache.spark.sql.AnalysisException](DeltaState.read(spark, dir))
    assert(err.getMessage.contains("sig"), err.getMessage)
    graft.io.FsOps.rm(spark, dir)
  }

  test("foreachBatchStoreFolds resume refuses a kept state with a lost checkpoint") {
    // the silent-data-loss case the resume guard exists for: without
    // the checkpoint the restarted stream renumbers batch ids from 0
    // and the replay no-op would drop the new files' folds
    val dir = tmp("ds_nockpt")
    DeltaState.init(spark, dir, Seq((0L, 0L)).toDF("id", "sig"))
    val feed = dir + "_nofeed"
    batchDf(Seq(1L), Nil).write.mode("overwrite").parquet(feed)
    val src = spark.readStream.schema(spark.read.parquet(feed).schema)
      .parquet(feed)
    val err = intercept[IllegalArgumentException] {
      DeltaState.foreachBatchStoreFolds(src,
        Seq(DeltaState.NamedDeltaStore(dir, spark.emptyDataFrame, spec)),
        resume = true)
    }
    assert(err.getMessage.contains("checkpoint"))
    assert(DeltaState.committedDeltas(spark, dir).isEmpty)
    graft.io.FsOps.rm(spark, dir)
    graft.io.FsOps.rm(spark, feed)
  }

  // a shared derivation: the batch's add rows re-keyed, the kind of
  // transform two stores would otherwise each compute privately
  private def addsOnly(b: DataFrame): DataFrame =
    b.filter($"op" === "add").select($"id", $"op")

  test("foreachBatchStoreFolds refuses a shared derivation no store names") {
    // an unreferenced derivation would be computed every trigger for
    // nobody; a store naming an unregistered key would never fold
    val root = TestSpark.tmpDir("ds_shared_ref")
    val init = Seq((0L, 0L)).toDF("id", "sig")
    val src = spark.readStream.schema(batchDf(Nil, Nil).schema).parquet(root)
    val unused = intercept[IllegalArgumentException] {
      DeltaState.foreachBatchStoreFolds(src,
        Seq(DeltaState.NamedDeltaStore(s"$root/a", init, spec)),
        shared = Seq("adds" -> addsOnly _))
    }
    assert(unused.getMessage.contains("named by no store"))
    val unknown = intercept[IllegalArgumentException] {
      DeltaState.foreachBatchStoreFolds(src,
        Seq(DeltaState.NamedDeltaStore(s"$root/a", init, spec, Some("adds"))))
    }
    assert(unknown.getMessage.contains("not in"))
    // both refusals come before anything is written
    assert(!graft.io.FsOps.exists(spark, s"$root/a"))
    graft.io.FsOps.rm(spark, root)
  }

  test("a shared derivation that throws fails the trigger; no dependent store commits") {
    val stage = TestSpark.tmpDir("ds_derive_fail_feed")
    val root = TestSpark.tmpDir("ds_derive_fail")
    batchDf(100L until 105L, Nil).coalesce(1).write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage)
    val init = Seq((0L, 0L)).toDF("id", "sig")
    val boom = org.apache.spark.sql.functions.udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("derivation failed"); x
    }
    val stores = Seq(
      DeltaState.NamedDeltaStore(s"$root/raw", init, spec),
      DeltaState.NamedDeltaStore(s"$root/derived", init, spec, Some("bad")))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      DeltaState.foreachBatchStoreFolds(src, stores,
        shared = Seq("bad" -> ((b: DataFrame) => b.select(boom($"id").as("id"), $"op"))))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => String.valueOf(c.getMessage).contains("derivation failed")),
      s"trigger failure did not carry the derivation's error: $err")
    assert(DeltaState.committedDeltas(spark, s"$root/derived").isEmpty,
      "a store committed off a derivation that threw")
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, root)
  }

  test("a shared derivation named by two stores is evaluated once per feed row") {
    // the derivation is pinned and materialized ONCE per trigger, and
    // both stores' publishes chain on that computed copy — an
    // accumulator inside the derivation counts its row evaluations
    val stage = TestSpark.tmpDir("ds_derive_feed")
    val root = TestSpark.tmpDir("ds_derive")
    val nRows = 24L
    batchDf(100L until (100L + nRows), Nil)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage)
    val acc = spark.sparkContext.longAccumulator("derivation_row_evals")
    val bump = org.apache.spark.sql.functions.udf { (x: Long) =>
      acc.add(1); x
    }
    val init = (0L until 10L).map(i => (i, i * 7)).toDF("id", "sig")
    // add-only: a spec with tombstones pins its own input for its two
    // writes, which would hide a derivation computed once per store
    val addOnly = DeltaFoldSpec(add = spec.add)
    val stores = Seq(
      DeltaState.NamedDeltaStore(s"$root/a", init, addOnly, Some("bumped")),
      DeltaState.NamedDeltaStore(s"$root/b", init, addOnly, Some("bumped")),
      DeltaState.NamedDeltaStore(s"$root/raw", init, spec))
    val fin = DeltaState.foreachBatchStoreFolds(src, stores,
      shared = Seq("bumped" -> ((b: DataFrame) => b.select(bump($"id").as("id"), $"op"))))
    val want = idx((0L until 10L) ++ (100L until (100L + nRows)))
    stores.foreach { st =>
      assert(fin(st.stateDir).collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq == want, s"store ${st.stateDir} != expected")
    }
    assert(acc.value == nRows,
      s"derivation evaluated ${acc.value} times for $nRows rows × 2 stores " +
        "— the once-per-trigger derivation contract broke")
    graft.io.FsOps.rm(spark, stage)
    graft.io.FsOps.rm(spark, root)
  }

  private object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("a resolve plans one scan per delta kind, whatever the chain length") {
    // a union of per-batch scans let Catalyst push the anti-join into
    // every branch: one broadcast (and one job) per pending batch
    val init = (0L until 40L).map(i => (i, i * 7)).toDF("id", "sig")
    // (scans, broadcast exchanges) in the final adaptive plan
    def shape(df: DataFrame): (Int, Int) = {
      df.collect()
      val p = df.queryExecution.executedPlan
      (plans.collect(p) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size,
        plans.collect(p) {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b }.size)
    }
    val compactJobs = Seq(2, 8).map { k =>
      val dir = tmp(s"ds_shape$k")
      val mdir = tmp(s"ds_shape_m$k")
      DeltaState.init(spark, dir, init)
      DeltaState.init(spark, mdir, Seq((1L, 5L)).toDF("id", "n"))
      // every batch adds two ids and tombstones a base id and, after
      // the first, one of the previous batch's adds
      val batches = (0 until k).map(i => batchDf(Seq(100L + 2 * i, 101L + 2 * i),
        i.toLong +: (if (i > 0) Seq(99L + 2 * i) else Nil)))
      batches.zipWithIndex.foreach { case (b, i) =>
        DeltaState.applyDeltaBatch(spark, dir, i.toLong, b, spec)
        DeltaState.applyDeltaBatch(spark, mdir, i.toLong, b, mergeSpec)
      }
      val snap = DeltaState.snapshot(spark, dir)
      assert(snap.pending.size == k)
      assert(shape(snap.read(spark)) == (2, 1), s"read of a $k-batch chain")
      assert(shape(DeltaState.snapshot(spark, mdir).mergeRead(spark, mergeSpec.merge))._1 == 1,
        s"mergeRead of a $k-batch chain")
      val (_, jobs) = org.apache.spark.TestBus.jobsDuring(spark.sparkContext)(
        DeltaState.compact(spark, dir))
      assert(stateRows(dir) == foldInMemory(init, batches))
      graft.io.FsOps.rm(spark, dir)
      graft.io.FsOps.rm(spark, mdir)
      jobs
    }
    assert(compactJobs(0) == compactJobs(1),
      s"compacting 2 and 8 pending batches launched ${compactJobs.mkString(" and ")} jobs")
  }

  test("a store rooted under dirs named like b{n}/add and base/v{m} resolves by its own layout") {
    // positions are read from the last path components only
    val dir = TestSpark.tmpDir("ds_alias") +
      "/b3/add/base/v1/store"
    val init = (0L until 30L).map(i => (i, i * 7)).toDF("id", "sig")
    val batches = Seq(batchDf(100L until 105L, 0L until 3L),
      batchDf(Seq(105L), Seq(100L, 3L)), batchDf(Seq(106L), Seq(101L, 105L, 4L)))
    DeltaState.init(spark, dir, init)
    DeltaState.applyDeltaBatch(spark, dir, 0L, batches(0), spec)
    DeltaState.applyDeltaBatch(spark, dir, 1L, batches(1), spec)
    assert(stateRows(dir) == foldInMemory(init, batches.take(2)))
    DeltaState.compact(spark, dir)
    DeltaState.applyDeltaBatch(spark, dir, 2L, batches(2), spec)
    assert(stateRows(dir) == foldInMemory(init, batches))
    graft.io.FsOps.rm(spark, dir)
  }

  test("a state column named _metadata is data; positions still come from file paths") {
    val dir = tmp("ds_metacol")
    val named = DeltaFoldSpec(
      add = b => b.filter($"op" === "add").select($"id", concat(lit("m"), $"id").as("_metadata")),
      del = Some(b => b.filter($"op" === "del").select($"id")))
    DeltaState.init(spark, dir, (0L until 10L).map(i => (i, s"m$i")).toDF("id", "_metadata"))
    DeltaState.applyDeltaBatch(spark, dir, 0L, batchDf(Seq(10L, 11L), Seq(0L)), named)
    DeltaState.applyDeltaBatch(spark, dir, 1L, batchDf(Seq(12L), Seq(10L, 1L)), named)
    def rows(): Seq[(Long, String)] = DeltaState.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_metadata"))).sorted.toSeq
    val want = ((2L to 9L) ++ Seq(11L, 12L)).map(i => (i, s"m$i"))
    assert(rows() == want)
    DeltaState.compact(spark, dir)
    assert(rows() == want)
    graft.io.FsOps.rm(spark, dir)
  }
}
