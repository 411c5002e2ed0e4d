package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Bucketing, FsOps, Tables}
import graft.ops._
import graft.streaming.{DeltaState, FoldLaw}
import graft.streaming.DeltaState.{DeltaFoldSpec, NamedDeltaStore, StoreFold}

/** Shared helpers of the per-family query registries: testdata table
  * accessors, scratch-dir plumbing, staged CDC feeds, and the
  * oracle-SQL fragments used by more than one family. */
private[graft] object QHelp {


  private[graft] def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  private[graft] def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  private[graft] def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  private[graft] def nat(s: SparkSession, d: String) = Tables.nation(s, d)

  private[graft] def reg(s: SparkSession, d: String) = Tables.region(s, d)

  private[graft] def ev(s: SparkSession, d: String) = Tables.events(s, d)

  private[graft] def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private[graft] def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)


  /** Gaps-and-islands sessionization oracle, shared by q16 and
    * streaming_sessions_parity — ONE definition of the session
    * semantics (gap >= threshold starts a new session, half-open like
    * Spark's session_window; epoch-second floors), so the batch and
    * streaming graded paths can never drift apart.
    */
  private[graft] def sessionOracleSql(extraAggCols: String): String = s"""
      WITH x AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events),
      y AS (
        SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM x)
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             count(*) AS n_events$extraAggCols
      FROM y GROUP BY user_id, sid
      ORDER BY user_id, session_start, n_events"""


  /** dedup_clusters — transitive closure over near-dup pairs (the step
    * after pair generation in production dedup): min-label propagation
    * to connected components; cluster id = component minimum, so
    * keeping `doc_id == cluster_id` dedups the corpus. Oracled with a
    * DuckDB recursive CTE over the same exact-Jaccard edges.
    */
  /** Shared cluster CTE chain (d06 + dedup_keep_best): exact-Jaccard
    * near-dup edges and their transitive closure; defined once so the
    * two graded paths cannot drift. Ends with the `reach` relation —
    * append `cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM
    * reach GROUP BY a)`-style selections.
    */
  /** The dup-edge chain alone (shingles → pruned postings → Jaccard
    * pairs → symmetric `edges`), shared by the recursive-closure
    * oracles below AND the bounded-round graph_components replay — one
    * definition of the near-dup edge semantics.
    */
  private[graft] def clusterEdgeCtes: String = """
      WITH RECURSIVE sets AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [text] END AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) b),
      posts AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz, unnest(sh) AS s FROM sets),
      keep AS (
        SELECT s FROM posts GROUP BY s HAVING count(*) <= 100),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
               count(*) AS n_inter
        FROM posts a JOIN keep USING (s) JOIN posts b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      dup AS (
        SELECT id_a, id_b FROM pr
        WHERE n_inter::DOUBLE / (sz_a + sz_b - n_inter) >= 0.8),
      edges AS (
        SELECT id_a AS a, id_b AS b FROM dup
        UNION ALL SELECT id_b, id_a FROM dup)"""


  private[graft] def clusterCtesSql: String = s"""$clusterEdgeCtes,
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""


  /** text_quality_model — linear quality classifier inference
    * (TextOps.qualityModel): fixed-point micro-ratio features, integer
    * weighted sum, margin decision. Bit-exact in any engine (pure
    * BIGINT arithmetic, floor division, no sigmoid), so score AND
    * decision are hash-graded. Weights: bias calibrated so the corpus
    * splits near 50/50 and the decision column carries information.
    */
  /** Shared quality-model SQL fragments (text_quality_model +
    * streaming_quality_parity — the clusterCtesSql idiom): feature
    * CTEs and the integer score expression defined once so the batch
    * and streaming oracles cannot drift.
    */
  private[graft] def qualityModelCtes: String = """
      WITH f AS (
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS n_tok,
               length(text) AS n_char,
               len(list_filter(string_split(lower(text), ' '),
                 w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
               len(list_distinct(string_split(lower(text), ' '))) AS n_dist,
               length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
        FROM documents),
      m AS (
        SELECT doc_id,
               (1000000 * n_stop) // greatest(n_tok, 1) AS stop_m,
               (1000000 * (n_tok - n_dist)) // greatest(n_tok, 1) AS dup_m,
               (1000000 * n_punct) // greatest(n_char, 1) AS punct_m,
               (1000000 * n_digit) // greatest(n_char, 1) AS digit_m,
               least(n_tok, 64) AS len_c
        FROM f)"""


  private[graft] def qualityScoreSql: String =
    "540000 + 4*stop_m - 3*dup_m - 2*punct_m - 3*digit_m + 15625*len_c"


  // ---------------------------------------------------------- similarity

  /** DuckDB mirror of SimOps' sign-LSH bucket: the SAME seeded plane
    * matrix inlined as literals (Double.toString round-trips exactly),
    * bit p set when dot(emb, plane_p) >= 0.
    *
    * Precision contract: DuckDB's `list_dot_product` is NOT the same
    * fold as the engine's sequential loop (measured: ~half of all
    * plane dots differ at 1 ulp on sf0.1), so engine≡oracle holds
    * because the DATA carries margin, not bit-for-bit arithmetic. A
    * sign flip needs a dot within ~1 ulp of 0 and a rank flip needs
    * two in-bucket cosines within ~1 ulp; measured sf0.1 minima are
    * |dot| ≥ 3.6e-5 and nonzero sim gap ≥ 1.1e-6 — ten orders of
    * magnitude of headroom. Regenerated testdata should re-check those
    * margins before trusting a hash mismatch here.
    */
  private[graft] def lshBucketSql(embExpr: String, dim: Int): String =
    SimOps.planesFor(dim).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($embExpr, [${p.mkString(", ")}]::DOUBLE[]) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n          + ")


  /** ann_ivf_trained_topk — the IVF probe path under a TRAINED codebook:
    * SimOps.trainCentroids (2 unrolled Lloyd's iterations, centroid
    * components rounded to 1e-6 precisely so cross-engine float-merge
    * order cannot leak into the result) then the same probe/re-rank as
    * ann_ivf_topk. The oracle replays the whole trainer in SQL —
    * codebook init, two assign/recompute rounds (empty cells keep their
    * previous centroid, ties to the higher cell), probe, exact re-rank —
    * so the distributed k-means itself is hash-graded, not just
    * recall-tested.
    */
  // a04 oracle generators (the lshBucketSql idiom): the trained-IVF
  // oracle replays SimOps.trainCentroids in SQL, which needs the same
  // score / argmax-assign / recompute blocks five times — emitted from
  // one definition each so a semantics fix cannot miss a copy.
  private[graft] def a04Score(out: String, cb: String, src: String = "e"): String =
    s"""$out AS (
      |        SELECT $src.vec_id, $src.emb, cb.cell,
      |               list_dot_product($src.emb, cb.cvec) * (1.0 / sqrt(list_dot_product(cb.cvec, cb.cvec))) AS score
      |        FROM $src CROSS JOIN $cb cb)""".stripMargin


  private[graft] def a04Argmax(out: String, cols: String, src: String,
                        where: String, keep: String): String =
    s"""$out AS (
      |        SELECT $cols FROM (
      |          SELECT vec_id, emb, cell, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) r
      |          FROM $src$where) t WHERE $keep)""".stripMargin


  /** One unrolled Lloyd's round: score vs cb`i`, assign argmax cell
    * (ties to the higher cell, like CellArgmax), per-dimension mean
    * rounded to 1e-6 (half-away, same as trainCentroids.round6), empty
    * cells keep their previous centroid.
    */
  private[graft] def a04Round(i: Int): String =
    s"""${a04Score(s"s$i", s"cb$i")},
      |      ${a04Argmax(s"a$i", "vec_id, emb, cell", s"s$i", "", "r = 1")},
      |      m$i AS (
      |        SELECT cell, p.p AS pos, round(avg(emb[p.p]), 6) AS m
      |        FROM a$i CROSS JOIN pos p GROUP BY cell, p.p),
      |      cb${i + 1} AS (
      |        SELECT g.cell, list(coalesce(m$i.m, g.prev) ORDER BY g.pos) AS cvec
      |        FROM (SELECT c.cell, p.p AS pos, c.cvec[p.p] AS prev FROM cb$i c CROSS JOIN pos p) g
      |        LEFT JOIN m$i ON m$i.cell = g.cell AND m$i.pos = g.pos
      |        GROUP BY g.cell)""".stripMargin


  /** Cluster-valid scratch dir: rooted at the session's warehouse dir
    * (a shared filesystem on a real cluster — a relative local path
    * would resolve per-node and break any read-back; `Session.local`
    * sets an absolute one, so the working directory never roots
    * scratch), keyed by PID so
    * concurrent processes don't race (overwrite-while-read), while
    * staying self-overwriting within one process so bench loops don't
    * accumulate dirs without bound.
    */
  private[graft] def tmpDir(s: SparkSession, name: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    s"$wh/graft_tmp/${name}_${ProcessHandle.current().pid()}"
  }

  /** The catalog names one [[scratch]] scope hands out, all dropped
    * when the scope ends. */
  private[graft] final class Scratch(s: SparkSession) {
    private val pid = ProcessHandle.current().pid()
    private[QHelp] val tables = scala.collection.mutable.ArrayBuffer.empty[String]
    private[QHelp] val views = scala.collection.mutable.ArrayBuffer.empty[String]

    /** The table name `graft_<tag>_<pid>`, for the scope to drop. */
    def table(tag: String): String = {
      tables += s"graft_${tag}_$pid"
      tables.last
    }

    /** Run `stream` into a memory sink under AvailableNow, await
      * completion, and return the sink's view; the scope drops it. Two
      * parity-harness confs are scoped to the run and restored after:
      *
      *  - state partitions sized to harness volume (2; each shuffle
      *    partition is a full set of state-store instances whose
      *    load/commit cost is per-batch overhead — production sizes
      *    this to state volume instead);
      *  - no-data micro-batches OFF: every graded stream emits eagerly
      *    inside its data batch (inner interval join, first-sight
      *    dedup, sentinel-closed sessions), so the trailing
      *    watermark-advance batch produces zero rows and only pays
      *    state-store commits.
      *
      * Together measured 9.1 s -> 1.9 s on streaming_interval_parity at
      * sf0.1 local[32]. Production streams with timeout-driven emission
      * (session closes on idle) need no-data batches ON — that is the
      * default restored here.
      */
    def sink(stream: DataFrame, mode: String = "append"): DataFrame = {
      views += s"graft_sink${views.size}_$pid"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val prevNoData =
        s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      try {
        stream.writeStream
          .format("memory").queryName(views.last).outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      }
      s.table(views.last)
    }
  }

  /** Run `body` with a [[Scratch]] scope: the query's own dumbo-style
    * runner, which decides where intermediate output goes and removes
    * it. The body's result is pinned with `localCheckpoint(true)`, so
    * it no longer reads any scratch table or sink view, and then every
    * table and view the scope handed out is dropped — in a `finally`,
    * so a body that throws leaves nothing behind either. Timed work
    * includes the writes.
    */
  private[graft] def scratch(s: SparkSession)(body: Scratch => DataFrame): DataFrame = {
    val sc = new Scratch(s)
    try body(sc).localCheckpoint(true)
    finally {
      sc.tables.foreach(Bucketing.drop(s, _))
      sc.views.foreach(s.catalog.dropTempView)
    }
  }


  /** Stage a feed and run one stream leg per slice. Each slice is
    * written to `stageDir` as ONE file (one micro-batch per leg): the
    * first overwrites, later ones append. The stream schema is read
    * once, from the first file's footer on the driver, so staging
    * launches one job per slice and nothing else. After each write,
    * `leg(stream, resume)` runs on a fresh file stream over the whole
    * dir, with `resume = false` for the first leg only; a resumed leg
    * keeps its checkpoint and so reads only the new file. Returns the
    * last leg's result.
    */
  private[graft] def stagedLegs[T](s: SparkSession, stageDir: String,
                                   slices: DataFrame*)
                                  (leg: (DataFrame, Boolean) => T): T = {
    require(slices.nonEmpty, "stagedLegs: no slices")
    lazy val schema = FsOps.readParquet(s, stageDir).schema
    slices.zipWithIndex.map { case (slice, i) =>
      slice.coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(stageDir)
      leg(s.readStream.schema(schema).parquet(stageDir), i > 0)
    }.last
  }

  /** One slice of a CDC feed in the row format every delta lifecycle
    * query stages: `op` ("add" or "del") followed by `df`'s columns,
    * the adds being `df`'s rows with `idCol % 20 == addMod` and the
    * dels those with `idCol % 20 == delMod`. Dels carry their payload
    * too, so a signed fold can recompute what a retraction removes.
    */
  private[graft] def cdcSlice(df: DataFrame, idCol: String,
                              addMod: Long, delMod: Long): DataFrame = {
    def tagged(op: String, m: Long) = df.filter(col(idCol) % 20 === m)
      .select(lit(op).as("op") +: df.columns.map(col): _*)
    tagged("add", addMod).unionByName(tagged("del", delMod))
  }

  /** The rows of a staged CDC batch with the given `op`, without it. */
  private[graft] def cdcRows(batch: DataFrame, op: String): DataFrame =
    batch.filter(col("op") === op).drop("op")

  /** A staged CDC batch's add rows and del rows: the `adds` and `dels`
    * a [[graft.streaming.FoldLaw]] instance's `fold` takes. */
  private[graft] val cdcAdds: DataFrame => DataFrame = cdcRows(_, "add")
  private[graft] val cdcDels: DataFrame => DataFrame = cdcRows(_, "del")

  /** The CDC feed of an index-lifecycle query, folded into its
    * DeltaState stores. The feed is `src`'s `id` and `payload` columns
    * as two [[cdcSlice]]s: adds `id % 20 == 0` with dels `== 7`, then
    * adds `== 10` with dels `== 17`. [[stagedLegs]] stages them under
    * `<tag>_feed` and runs one leg per slice, the second resumed, and
    * every batch folds into each `(init, fold)` store through
    * [[DeltaState.foreachBatchStoreFolds]] (with two stores the batch is
    * pinned once). The stores live under `<tag>_state` and
    * `<tag>_stats_state`. Returns each store's dir and resolved final
    * state, in order.
    */
  private[graft] def cdcLegs(s: SparkSession, tag: String, src: DataFrame,
                             id: String, payload: String)
                            (stores: (DataFrame, StoreFold)*): Seq[(String, DataFrame)] = {
    require(stores.size <= 2, "cdcLegs: a feed folds into one or two stores")
    val feed = src.select(col(id), col(payload))
    val named = stores.zip(Seq("state", "stats_state")).map {
      case ((init, fold), name) => NamedDeltaStore(tmpDir(s, s"${tag}_$name"), init, fold)
    }
    val fin = stagedLegs(s, tmpDir(s, s"${tag}_feed"), cdcSlice(feed, id, 0L, 7L),
        cdcSlice(feed, id, 10L, 17L)) { (stream, resume) =>
      DeltaState.foreachBatchStoreFolds(stream, named, resume)
    }
    named.map(st => st.stateDir -> fin(st.stateDir))
  }

  /** How a delta index's bucket stats follow its CDC feed. Both start as
    * `law.derive` of the built base table. */
  private[graft] sealed trait IndexStats

  /** Stored once beside the base. After the stream the probe's stats
    * replay the feed: stored − the deleted docs' stats, recomputed from
    * their carried payload, + the overlay adds' stats. */
  private[graft] final case class ReplayedStats(law: FoldLaw.Counted) extends IndexStats

  /** Folded as a second store from the same feed; the probe reads it as
    * resolved. */
  private[graft] final case class FoldedStats(law: FoldLaw.Counted) extends IndexStats

  /** What a [[deltaIndex]] probe sees: the bucketed `base` table, the
    * overlay store's resolved `adds` and pending `tombs` (both
    * batch-sized), and the effective bucket `stats` when the index
    * keeps them. `gen2(rows, buckets)` writes `rows` as the scenario's
    * second-generation table, bucketed on the same keys, and returns
    * it; the scenario drops it with the base.
    */
  private[graft] final class DeltaIndex(val base: DataFrame, val adds: DataFrame,
                                        val tombs: Option[DataFrame],
                                        val stats: Option[DataFrame], id: String,
                                        val gen2: (DataFrame, Int) => DataFrame) {
    /** The resolved index over `cols`: base ∖ tombs ∪ adds. */
    def resolved(cols: String*): DataFrame = {
      val live = tombs.fold(base)(t => base.join(t.select(col(id)), Seq(id), "left_anti"))
      live.select(cols.map(col): _*).unionByName(adds.select(cols.map(col): _*))
    }
  }

  /** The delta-index lifecycle: the one script every bucketed
    * delta-probe and cutover query runs. An instance supplies its
    * `tag`, the `src` table its CDC feed is cut from ([[cdcLegs]]), the
    * `corpus` the index is built over, the per-doc `law` with the
    * feed's `payload` column, the bucket `keys`, optional `stats`, and
    * the `probe`.
    *
    * `law.derive(corpus)` is written as a table bucketed 8 ways on
    * `keys` (and sorted on them), and the feed folds into an overlay
    * store whose own base is empty: the bucketed table is the real base
    * and is never rewritten, so a probe joins it with no index-side
    * exchange. The script runs in a [[scratch]] scope, which owns the
    * base and gen-2 tables.
    */
  private[graft] def deltaIndex(s: SparkSession, tag: String, src: DataFrame,
                                corpus: DataFrame, law: FoldLaw.PerDoc,
                                payload: String, keys: Seq[String],
                                stats: Option[IndexStats] = None)
                               (probe: DeltaIndex => DataFrame): DataFrame =
    scratch(s) { sc =>
      def write(rows: DataFrame, name: String, buckets: Int) =
        Bucketing.write(rows, sc.table(name), buckets, keys)
      // bucket stats count index rows, so each row a batch's adds or dels
      // derive contributes +1 or −1: one signed aggregate per trigger
      def signed(st: FoldLaw.Counted, docs: DataFrame, w: Long) =
        law.derive(docs).select(st.keys.map(col) ++ st.counts.map(lit(w).as(_)): _*)
      val base = write(law.derive(corpus), tag, 8)
      val stored = stats.collect { case ReplayedStats(st) =>
        FsOps.stage(st.derive(base), tmpDir(s, s"${tag}_stats"))
      }
      val statsStore = stats.collect { case FoldedStats(st) =>
        st.derive(base) -> st.foldSigned(b =>
          signed(st, cdcAdds(b), 1L).unionByName(signed(st, cdcDels(b), -1L)))
      }
      val stores = cdcLegs(s, tag, src, law.id, payload)(
        (law.derive(src.limit(0)) -> law.fold(cdcAdds, cdcDels)) +: statsStore.toSeq: _*)
      val (adds, tombs) = DeltaState.overlay(s, stores.head._1)
      val effStats = stats.map {
        case ReplayedStats(st) =>
          // the feed's dels are the ids with id % 10 == 7
          val dels = src.filter(col(law.id) % 10 === 7).select(col(law.id), col(payload))
          st.merge(st.delete(stored.get, st.derive(law.derive(dels))),
            st.derive(adds))
        case FoldedStats(_) => stores(1)._2
      }
      probe(new DeltaIndex(base, adds, tombs, effStats, law.id,
        write(_, s"${tag}_gen2", _)))
    }

  /** Run `probe` on every micro-batch of `src` and keep its output as an
    * add-only DeltaState store under `outDir`, returning the resolved
    * output. The store's v0 base is the probe's empty output: its schema
    * comes from analysing `probe` over an empty batch, so no job runs
    * beyond the one that writes it. Resume contract as
    * [[DeltaState.foreachBatchDeltaFold]].
    */
  private[graft] def probeFold(src: DataFrame, outDir: String,
                               resume: Boolean = false)
                              (probe: DataFrame => DataFrame): DataFrame = {
    val s = src.sparkSession
    def empty(schema: org.apache.spark.sql.types.StructType) =
      s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    DeltaState.foreachBatchDeltaFold(src, empty(probe(empty(src.schema)).schema),
      outDir, DeltaFoldSpec(add = probe), resume)
  }


  /** Injective SQL-identifier-safe tag for a dataset path (hex of its
    * UTF-8 bytes — lossy sanitization could alias two paths): q57b
    * keys its per-JVM catalog tables and scratch dirs by it. Hex
    * doubles the length, so paths past 32 chars fall back to the md5
    * hex of the path (32 chars, bounded for any input — collision odds
    * 2^-64-class, documented rather than structural; the repo's own
    * dataset paths stay on the injective branch).
    */
  private[graft] def pathTag(d: String): String = {
    val hex = d.getBytes("UTF-8").map(b => f"$b%02x").mkString
    if (hex.length <= 64) hex
    else java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
