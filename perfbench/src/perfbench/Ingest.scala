package perfbench

import graft.Hygiene
import graft.ops.DedupOps
import graft.streaming.DeltaState
import graft.streaming.DeltaState.{DeltaFoldSpec, MergeFoldSpec, NamedDeltaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `state_ingest` workload: a simhash segment index (`DeltaFoldSpec`)
  * and its segment stats (`MergeFoldSpec`) maintained together by
  * `DeltaState.foreachBatchStoreFolds` from a CDC feed of add and delete
  * rows, one feed file per trigger, in resumed legs of `perLeg` triggers.
  * Each pass starts from no state: the first leg seeds both stores with
  * the index and stats of the whole `documents` corpus (their `v0`), as
  * `dedup_simhash_delta_stats_probe` starts from its stored index. After
  * each leg a near-dup probe reads the live state. The first pass checks
  * every probe result and the final state of both stores against a
  * one-shot computation over the net live corpus.
  *
  * `feed` holds `b<k>.parquet` (columns op, doc_id, text; op is "add" or
  * "del") and `probe.parquet` (doc_id, text).
  */
final class Ingest(spark: SparkSession, tracer: Tracer, run: Span, work: String,
                   data: String, feed: String, legs: Int, perLeg: Int) {
  import spark.implicits._

  private val root = s"$work/state"
  private val segDir = s"$root/seg"
  private val statsDir = s"$root/stats"
  private val stageDir = s"$root/stage"
  private val batches = legs * perLeg
  private val feedFiles = (0 until batches).map(k => Paths.get(feed, f"b$k%05d.parquet"))
  private val probeDocs = spark.read.parquet(s"$feed/probe.parquet").cache()
  private val feedSchema = spark.read.parquet(feedFiles.head.toString).schema

  private def segOf(docs: DataFrame): DataFrame =
    DedupOps.simhashSegmentIndex(DedupOps.simhashIndex(docs, "text", "doc_id"), "doc_id")
  private def mergeStats(df: DataFrame): DataFrame =
    df.groupBy($"seg_idx", $"seg_val").agg(sum($"bucket_n").as("bucket_n"))
      .filter($"bucket_n" =!= 0)
  private def corpus = spark.read.parquet(s"$data/documents.parquet").select($"doc_id", $"text")
  private def adds(b: DataFrame) = b.filter($"op" === "add").select($"doc_id", $"text")
  private def dels(b: DataFrame) = b.filter($"op" === "del").select($"doc_id", $"text")

  private val segSpec = DeltaFoldSpec(
    add = b => segOf(adds(b)),
    del = Some(b => dels(b).select($"doc_id")))
  private val statsSpec = MergeFoldSpec(
    partial = b => DedupOps.simhashSegmentStats(segOf(adds(b)))
      .unionByName(DedupOps.simhashSegmentStats(segOf(dels(b)))
        .select($"seg_idx", $"seg_val", (-$"bucket_n").as("bucket_n"))),
    merge = mergeStats)

  private def probe(index: DataFrame, stats: DataFrame): DataFrame =
    DedupOps.simhashNearDupSegIndexed(probeDocs, index, "text", "doc_id",
      segStats = Some(stats))

  /** The net live corpus after the first `k` feed batches. */
  private def liveAfter(k: Int): DataFrame = {
    val rows = spark.read.schema(feedSchema).parquet(feedFiles.take(k).map(_.toString): _*)
    corpus.unionByName(adds(rows)).join(dels(rows).select($"doc_id"), Seq("doc_id"), "left_anti")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Sizes of each base version and delta batch dir of a store. */
  private def storeDirs(store: String, sub: String): Map[String, Long] = {
    val d = Paths.get(store, sub)
    if (!Files.exists(d)) Map.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.filter(Files.isDirectory(_))
        .map(x => s"$store/$sub/${x.getFileName}" -> dirBytes(x)).toMap
      finally s.close()
    }
  }

  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  def summary: Seq[Map[String, Any]] = passes.toList

  def pass(p: Int, traced: Boolean): Unit = {
    val check = p == 0
    Main.rmTree(Paths.get(root))
    Files.createDirectories(Paths.get(stageDir))
    val stores = Seq(
      NamedDeltaStore(segDir, segOf(corpus), segSpec),
      NamedDeltaStore(statsDir, DedupOps.simhashSegmentStats(segOf(corpus)), statsSpec))
    def src = spark.readStream.schema(feedSchema).option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
    val pp = new PassProbe(tracer, run, p, traced)
    val seen = mutable.LinkedHashMap.empty[String, Long]
    var bytesWritten = 0L
    val results = mutable.ArrayBuffer.empty[(Int, Option[Seq[String]], Span, Span)]
    val t0 = System.currentTimeMillis()
    for (leg <- 0 until legs) {
      // one feed file per trigger; modification times fix the file order
      for (k <- leg * perLeg until (leg + 1) * perLeg) {
        val dst = Paths.get(stageDir, f"part-$k%05d.parquet")
        Files.copy(feedFiles(k), dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 - 1000000L + k * 1000L))
      }
      val fs0 = FsStats.snap()
      val (_, l) = tracer.timed("leg", s"leg $leg", pp.span.id) { s =>
        try {
          DeltaState.foreachBatchStoreFolds(src, stores, resume = leg > 0)
          s.set("ok" -> true)
        } catch { case e: Throwable => s.set("ok" -> false, "error" -> e.toString.take(400)) }
      }
      bytesWritten += (FsStats.snap() - fs0).bytesWritten
      for (st <- Seq(segDir, statsDir); sub <- Seq("base", "delta"))
        seen ++= storeDirs(st, sub)
      val upTo = (leg + 1) * perLeg
      val (got, pr) = tracer.timed("probe", s"probe $leg", pp.span.id) { s =>
        try {
          val (snap, _) = tracer.timed("read", "DeltaState.read", s.id)(r => {
            val sn = DeltaState.snapshot(spark, segDir)
            r.set("pending" -> sn.pending.size)
            sn
          })
          val rows = sorted(probe(snap.read(spark), DeltaState.mergeRead(spark, statsDir, mergeStats)))
          s.set("ok" -> true, "pending" -> snap.pending.size)
          Some(rows)
        } catch { case e: Throwable => s.set("ok" -> false, "error" -> e.toString.take(400)); None }
      }
      // after the probe, not the leg: the stream's last pinned batch is
      // unpersisted asynchronously, and a read right after the leg would
      // sometimes still count its blocks
      pr.set("live_heap_mb" -> pp.liveHeap())
      results += ((upTo, got, pr, l))
    }
    pp.close()
    // output checks, outside the pass: every probe result, then the final
    // state of both stores, against one-shot computations over the live corpus
    if (check) for ((upTo, got, pr, l) <- results) {
      val live = segOf(liveAfter(upTo))
      if (got.isDefined && got.get != sorted(probe(live, DedupOps.simhashSegmentStats(live))))
        pr.set("ok" -> false, "error" -> "probe result differs from the one-shot probe")
      if (upTo == batches && l.attrs.get("ok").contains(true)) {
        val segOk = sorted(DeltaState.read(spark, segDir)) == sorted(live)
        val statsOk = sorted(DeltaState.mergeRead(spark, statsDir, mergeStats)) ==
          sorted(DedupOps.simhashSegmentStats(live))
        if (!segOk || !statsOk)
          l.set("ok" -> false, "error" -> s"final state differs from one-shot (index ok=$segOk, stats ok=$statsOk)")
      }
    }
    // space: what the stores hold now against a fresh one-shot index of the same live rows
    val stored = dirBytes(Paths.get(segDir)) + dirBytes(Paths.get(statsDir))
    val feedBytes = feedFiles.map(Files.size).sum
    val isBase = (k: String) => k.contains("/base/")
    // the seeded v0 bases are the initial load, not ingest: their bytes
    // are taken out of what the legs wrote
    val seeded = seen.filter(_._1.endsWith("/base/v0")).values.sum
    passes += Map("pass" -> p, "feed_bytes" -> feedBytes, "feed_rows" -> feedRows,
      "state_bytes_written" -> (bytesWritten - seeded), "seeded_bytes" -> seeded,
      "stored_bytes" -> stored, "oneshot_bytes" -> oneShotBytes,
      "delta_bytes" -> seen.filter(kv => !isBase(kv._1)).values.sum,
      "base_bytes_rewritten" -> seen.filter(kv => isBase(kv._1) && !kv._1.endsWith("/v0")).values.sum)
    Hygiene.clearAll(spark, blocking = true, gc = true)
  }

  /** Bytes of a freshly written one-shot index and stats of the final live rows. */
  private lazy val oneShotBytes: Long = {
    val dir = s"$work/oneshot"
    val live = segOf(liveAfter(batches))
    live.write.mode("overwrite").parquet(s"$dir/seg")
    DedupOps.simhashSegmentStats(live).write.mode("overwrite").parquet(s"$dir/stats")
    dirBytes(Paths.get(dir))
  }

  private lazy val feedRows: Long =
    spark.read.schema(feedSchema).parquet(feedFiles.map(_.toString): _*).count()
}
