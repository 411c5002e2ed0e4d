package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{FsOps, Tables}
import graft.ops._
import graft.QHelp._
import graft.streaming.FoldLaw

/** Deduplication family: exact/chunk/span/incremental, MinHash+LSH,
  * SimHash, n-gram Jaccard, clustering (SURVEY.md §2.11). */
private[graft] object QueriesDedup {


  // --------------------------------------------------------------- dedup

  /** dedup_exact — exact dedup on a content digest (one aggregate). */
  private val d01 = Q(
    "dedup_exact",
    (s, d) => DedupOps.exactDedup(docs(s, d), "text", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      SELECT md5(text) AS content_fp, min(doc_id) AS doc_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY doc_id"""))


  /** dedup_minhash — MinHash(32)+LSH(8x4) near-dup with exact Jaccard
    * verification of candidates. Graded projection: (doc_id, is_dup,
    * dup_jaccard) — the VERIFIED outputs, which are SQL-checkable even
    * though the xxhash64 signatures are not. The oracle computes ground
    * truth as the UNPRUNED exact 3-gram Jaccard over all shared-shingle
    * pairs — unlike d04 it applies NO maxDF stop-shingle pruning, because
    * the engine's verification (array_intersect over full shingle sets)
    * is unpruned too; a pruned oracle would understate the Jaccard of a
    * pair sharing a hot shingle and silently diverge. Affordable because
    * the fixture's max shingle document frequency is 25 (sf0.1; 9/7 at
    * smaller sfs) — the inverted-index join stays tiny. The parity claim
    * is doc-level: is_dup ≡ "has an exact-Jaccard >= 0.8 partner". That
    * holds because LSH recall over the TRUE >= 0.8 pairs is MEASURED
    * TOTAL on this fixture at every sf (28/25/256 ground-truth pairs, 0
    * missed — the fixed seeded family makes this deterministic), and the
    * corpus' pair-Jaccard distribution has a structural gap (nothing in
    * (0.14, 0.8) at any sf) so a dup doc's best candidate is always a
    * verified >= 0.8 pair. dup_jaccard is NULL for non-dups: their best
    * candidate may be a sub-threshold pair LSH legitimately missed.
    */
  /** The doc-level MinHash oracle: ground truth as the UNPRUNED exact
    * 3-gram Jaccard over all shared-shingle pairs (see d02's doc).
    * Shared by `dedup_minhash` (capped production default — identical
    * output on fixtures with no >256 bucket) and
    * `dedup_minhash_uncapped` (the audit instance whose parity is
    * regen-proof by construction: no bucket is ever dropped).
    * Defined BEFORE d02: a Scala object initializes vals in
    * declaration order, so a forward reference here would capture
    * null into d02's Some(...).
    */
  private val minhashDocLevelOracle = """
      WITH sets AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [text] END AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) b),
      posts AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz, unnest(sh) AS s FROM sets),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
               count(*) AS n_inter
        FROM posts a JOIN posts b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      j AS (
        SELECT id_a, id_b, n_inter::DOUBLE / (sz_a + sz_b - n_inter) AS jac
        FROM pr WHERE n_inter::DOUBLE / (sz_a + sz_b - n_inter) >= 0.8),
      dup AS (
        SELECT doc_id, round(max(jac), 4) AS dup_jaccard FROM (
          SELECT id_a AS doc_id, jac FROM j
          UNION ALL SELECT id_b AS doc_id, jac FROM j) t
        GROUP BY doc_id)
      SELECT d.doc_id, dup.doc_id IS NOT NULL AS is_dup, dup.dup_jaccard
      FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
      ORDER BY d.doc_id"""


  private val d02 = Q(
    "dedup_minhash",
    // maxBucket=256 ACTIVE — the graded instance IS the production
    // default (the config users copy must be the graded one; the uncapped
    // shape is quadratic in copies — BASELINE.md measures 140 s at ×100
    // where the cap holds 20 s at ×300). The xxhash64 band hashes are not
    // SQL-derivable, so this doc-level oracle cannot replay the drop
    // itself; parity holds because (a) on the graded fixtures NO band
    // bucket exceeds 256 (capped ≡ uncapped output, asserted in OpsSpec
    // at sf0.001/0.01) so the measured-total-recall + Jaccard-gap
    // argument carries over unchanged, and (b) the cap's dropping
    // behavior is structurally hash-graded by dedup_minhash_mirror (every
    // intermediate replayed, cap active) and pinned by OpsSpec's
    // 600-identical-doc fixture. A fixture regen that mass-duplicates
    // past 256 flips (a): the mirror still grades, and
    // dedup_minhash_uncapped below is the audit instance that keeps
    // truth-vs-capped visible.
    (s, d) => DedupOps.minhashNearDup(docs(s, d), "text", "doc_id")
      .select(col("doc_id"), col("is_dup"),
        when(col("is_dup"), col("max_jaccard")).as("dup_jaccard"))
      .orderBy(col("doc_id")),
    Some(minhashDocLevelOracle))


  /** dedup_minhash_uncapped — the AUDIT instance, dedup_minhash's
    * companion: identical pipeline to dedup_minhash but with the bucket
    * cap disabled, so NO candidate bucket is ever dropped and doc-level
    * parity against the exact-Jaccard oracle is regen-proof — if a
    * fixture regen mass-duplicates a bucket past 256, THIS query keeps
    * grading truth while the capped production instance is allowed to
    * (visibly) diverge from it. Not a bench headline: its uncapped shape
    * is quadratic in copies by design (that is what it audits).
    */
  private val d02u = Q(
    "dedup_minhash_uncapped",
    (s, d) => DedupOps.minhashNearDup(docs(s, d), "text", "doc_id",
        maxBucket = Int.MaxValue)
      .select(col("doc_id"), col("is_dup"),
        when(col("is_dup"), col("max_jaccard")).as("dup_jaccard"))
      .orderBy(col("doc_id")),
    Some(minhashDocLevelOracle))


  /** dedup_minhash_mirror — MinHash+LSH on the engine-portable
    * md5-derived family (MinHashSigMd5), graded as a FULL STRUCTURAL
    * MIRROR with the maxBucket=256 cap ACTIVE. d02's xxhash64 band hashes
    * made the bucket cap un-mirrorable, so its graded instance runs
    * uncapped and its parity claim is doc-level (measured-total recall +
    * the corpus' Jaccard gap). Here every intermediate is replayed by the
    * oracle — 31-bit universal-hash signature values over
    * md5_number_lower bases, raw-4-tuple band buckets, the over-cap drop,
    * the distinct candidate pair set, exact-Jaccard verification over
    * shingle string sets, and the per-doc aggregate — so parity is
    * structural: a fixture regen that creates a >256-doc bucket changes
    * both sides identically. d02 stays graded as the fast-family
    * production path.
    */
  private val d02m = Q(
    "dedup_minhash_mirror",
    (s, d) => DedupOps.minhashNearDupMirror(docs(s, d), "text", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH sets AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [text] END AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) b),
      bases AS (
        -- s IS NOT NULL mirrors the engine's null-signature filter: a
        -- NULL-text doc signs NULL there and never reaches banding;
        -- without this a NULL-list band key would JOIN in DuckDB
        -- (list equality matches NULL elements) and pair NULL docs
        SELECT doc_id, CAST(md5_number_lower(s) % 2147483648 AS BIGINT) AS x
        FROM (SELECT doc_id, unnest(sh) AS s FROM sets) p
        WHERE s IS NOT NULL),
      sig AS (
        SELECT doc_id, t.i AS i,
               min(((1 + (2654435761 * (t.i + 1)) % 2147483646) * x
                    + (1013904223 * (t.i + 1)) % 2147483647) % 2147483647) AS v
        FROM bases, range(32) t(i) GROUP BY 1, 2),
      bands AS (
        SELECT doc_id, i // 4 AS band_idx, list(v ORDER BY i) AS band_key
        FROM sig GROUP BY doc_id, i // 4),
      ok AS (
        SELECT band_idx, band_key FROM bands
        GROUP BY 1, 2 HAVING count(*) <= 256),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a, bands b, ok
        WHERE a.band_idx = ok.band_idx AND a.band_key = ok.band_key
          AND b.band_idx = ok.band_idx AND b.band_key = ok.band_key
          AND a.doc_id < b.doc_id),
      jac AS (
        SELECT c.id_a, c.id_b,
               CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                    THEN len(list_intersect(sa.sh, sb.sh))::DOUBLE
                         / len(list_distinct(sa.sh || sb.sh))
                    ELSE 0.0 END AS jaccard
        FROM cand c
        JOIN sets sa ON sa.doc_id = c.id_a
        JOIN sets sb ON sb.doc_id = c.id_b),
      per AS (
        SELECT doc_id, count(*) AS n_candidates, max(jaccard) AS mj
        FROM (SELECT id_a AS doc_id, jaccard FROM jac
              UNION ALL SELECT id_b AS doc_id, jaccard FROM jac) t
        GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(per.n_candidates, 0) AS n_candidates,
             round(coalesce(per.mj, 0), 4) AS max_jaccard,
             coalesce(per.mj, 0) >= 0.8 AS is_dup
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      ORDER BY d.doc_id"""))


  /** dedup_minhash_incremental — near-dup scoring of an incoming
    * batch (doc_id % 10 == 0) against the existing corpus (the rest)
    * WITHOUT re-pairing the corpus: candidates are incoming×corpus
    * only, the crawl-ingest shape. Runs on the mirror family (an
    * incremental index persists signatures, which is exactly when a
    * private hash family becomes a trap), so the oracle replays the
    * whole pipeline: signatures for both sides, the corpus-side
    * maxBucket=256 drop, the probe join, verification, per-batch-doc
    * aggregate. The near-dup analogue of dedup_incremental's exact
    * path.
    */
  /** The full incremental-minhash oracle chain, parameterized by the
    * corpus/batch split predicates (the lpRound one-definition idiom):
    * serves both `dedup_minhash_incremental` and the index-maintenance
    * grader `dedup_minhash_index_update` — which by the merge law
    * (index(A) ⊎ bands(B) = index(A∪B), banding per-doc) must equal
    * exactly this one-shot replay on the merged corpus, so the two
    * graded queries differ ONLY in the split. */
  private[graft] def minhashIncrementalSql(oldPred: String,
                                    newPred: String): String = s"""
      WITH sets AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [text] END AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) b),
      bases AS (
        SELECT doc_id, CAST(md5_number_lower(s) % 2147483648 AS BIGINT) AS x
        FROM (SELECT doc_id, unnest(sh) AS s FROM sets) p
        WHERE s IS NOT NULL),
      sig AS (
        SELECT doc_id, t.i AS i,
               min(((1 + (2654435761 * (t.i + 1)) % 2147483646) * x
                    + (1013904223 * (t.i + 1)) % 2147483647) % 2147483647) AS v
        FROM bases, range(32) t(i) GROUP BY 1, 2),
      bands AS (
        SELECT doc_id, i // 4 AS band_idx, list(v ORDER BY i) AS band_key
        FROM sig GROUP BY doc_id, i // 4),
      oldb AS (SELECT * FROM bands WHERE $oldPred),
      newb AS (SELECT * FROM bands WHERE $newPred),
      ok AS (
        SELECT band_idx, band_key FROM oldb
        GROUP BY 1, 2 HAVING count(*) <= 256),
      cand AS (
        SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
        FROM newb n, oldb o, ok
        WHERE n.band_idx = ok.band_idx AND n.band_key = ok.band_key
          AND o.band_idx = ok.band_idx AND o.band_key = ok.band_key),
      jac AS (
        SELECT c.id_new, c.id_old,
               CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                    THEN len(list_intersect(sa.sh, sb.sh))::DOUBLE
                         / len(list_distinct(sa.sh || sb.sh))
                    ELSE 0.0 END AS jaccard
        FROM cand c
        JOIN sets sa ON sa.doc_id = c.id_new
        JOIN sets sb ON sb.doc_id = c.id_old),
      per AS (
        SELECT id_new AS doc_id, count(*) AS n_candidates,
               max(jaccard) AS mj
        FROM jac GROUP BY id_new)
      SELECT d.doc_id,
             coalesce(per.n_candidates, 0) AS n_candidates,
             round(coalesce(per.mj, 0), 4) AS max_jaccard,
             coalesce(per.mj, 0) >= 0.8 AS is_dup
      FROM (SELECT doc_id FROM documents WHERE $newPred) d
      LEFT JOIN per ON d.doc_id = per.doc_id
      ORDER BY d.doc_id"""

  private val d02i = Q(
    "dedup_minhash_incremental",
    (s, d) => {
      val all = docs(s, d)
      DedupOps.minhashNearDupIncremental(
        all.filter(col("doc_id") % 10 =!= 0),
        all.filter(col("doc_id") % 10 === 0),
        "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id % 10 <> 0", "doc_id % 10 = 0")))

  /** dedup_minhash_index_update — the index-MAINTENANCE half of the
    * minhash ingest lifecycle (d02i is the probe half; the exact
    * sibling of dedup_spans_index_update): band index built over doc_id
    * < 200, batch1 (200 ≤ id < 400) folded in by the
    * `FoldLaw.minhashBands` merge — corpus signatures never recomputed
    * — then batch2 (id ≥ 400) probed against the MERGED index, with
    * corpus text touched only through the candidate-id semi-join.
    * Banding is per-document, so the merged index must equal a one-shot
    * rebuild over doc_id < 400 — which is exactly what the oracle
    * replays (the shared minhashIncrementalSql chain split at 400). A
    * wrong merge (dropped band row, duplicated doc) perturbs bucket
    * sizes or candidates and fails the hash.
    */
  private val d02x = Q(
    "dedup_minhash_index_update",
    (s, d) => {
      val all = docs(s, d)
      val snapshot = DedupOps.minhashIndex(
        all.filter(col("doc_id") < 200), "text", "doc_id")
      val merged = FoldLaw.minhashBands("text", "doc_id").merge(snapshot,
        all.filter(col("doc_id") >= 200 && col("doc_id") < 400))
      DedupOps.minhashNearDupIndexed(all.filter(col("doc_id") >= 400),
          merged, all.filter(col("doc_id") < 400), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id < 400", "doc_id >= 400")))


  /** dedup_simhash — 64-bit SimHash + 16-bit-segment blocking. FULL
    * mirror oracle: the per-word hash is the low 64 bits of MD5 —
    * bit-for-bit DuckDB's `md5_number_lower` — so the oracle replays the
    * entire operator exactly: word hashes, the 64 vote sums, the >= 0 tie
    * rule, AND the engine's own candidate structure — 4x16-bit segment
    * blocking WITH the maxBucket=256 over-cap bucket drop (review-pass
    * hardening: an all-pairs oracle would silently diverge the day a
    * fixture grows a >256-doc segment bucket; mirroring the cap makes
    * parity structural, not measured). DuckDB's `>>` on BIGINT is
    * arithmetic like Spark's shiftright, so `(simhash >> s*16) & 65535`
    * extracts identical segments from the signed signatures. Signatures
    * reassemble as signed BIGINT (bit 63 = -2^63) to match Spark's
    * LongType without UBIGINT/HUGEINT schema drift.
    */
  private val d03 = Q(
    "dedup_simhash",
    (s, d) => DedupOps.simhashNearDup(docs(s, d), "text", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      hs AS (
        SELECT doc_id, md5_number_lower(w) AS h FROM words),
      votes AS (
        SELECT doc_id, t.b AS b,
               sum(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hs, range(64) t(b) GROUP BY 1, 2),
      sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v < 0 THEN 0
                             WHEN b = 63 THEN -9223372036854775808
                             ELSE (CAST(1 AS BIGINT) << b) END) AS BIGINT)
                 AS simhash
        FROM votes GROUP BY doc_id),
      segs AS (
        SELECT doc_id, simhash, t.s AS seg_idx,
               (simhash >> (t.s * 16)) & 65535 AS seg_val
        FROM sh, range(4) t(s)),
      keepseg AS (
        SELECT seg_idx, seg_val FROM segs
        GROUP BY 1, 2 HAVING count(*) <= 256),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
               a.simhash AS sh_a, b2.simhash AS sh_b
        FROM segs a
        JOIN keepseg USING (seg_idx, seg_val)
        JOIN segs b2 USING (seg_idx, seg_val)
        WHERE a.doc_id < b2.doc_id
          AND bit_count(xor(a.simhash, b2.simhash)) <= 3),
      near AS (
        SELECT doc_id, count(*) AS n_near FROM (
          SELECT id_a AS doc_id FROM pairs
          UNION ALL SELECT id_b AS doc_id FROM pairs) t
        GROUP BY doc_id)
      SELECT s.doc_id, s.simhash, COALESCE(near.n_near, 0) AS n_near
      FROM sh s LEFT JOIN near ON s.doc_id = near.doc_id
      ORDER BY s.doc_id"""))


  /** The d03 signature chain alone (word hashes → 64 vote sums → the
    * >= 0 tie rule → signed bit-63 reassembly), ending at the `sh`
    * relation — factored for oracles that grade signature STATE
    * directly rather than through a probe (dedup_simhash_evolved_merge).
    */
  private[graft] def simhashSigCtes: String = """
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      hs AS (
        SELECT doc_id, md5_number_lower(w) AS h FROM words),
      votes AS (
        SELECT doc_id, t.b AS b,
               sum(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hs, range(64) t(b) GROUP BY 1, 2),
      sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v < 0 THEN 0
                             WHEN b = 63 THEN -9223372036854775808
                             ELSE (CAST(1 AS BIGINT) << b) END) AS BIGINT)
                 AS simhash
        FROM votes GROUP BY doc_id)"""

  /** The full incremental-simhash oracle chain, parameterized by the
    * corpus/batch split predicates (the minhashIncrementalSql idiom —
    * one definition serves the probe grader and the index-maintenance
    * grader, which by the per-doc-signature merge law must equal this
    * one-shot replay on the merged corpus). Replays d03's signature
    * chain (md5 low-64 word hashes, 64 vote sums, >= 0 tie rule, the
    * signed bit-63 reassembly), then the INDEX-side-only segment cap,
    * the incoming×index candidate join, and signature-only Hamming
    * verification.
    */
  private[graft] def simhashIncrementalSql(oldPred: String,
                                    newPred: String): String = s"""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      hs AS (
        SELECT doc_id, md5_number_lower(w) AS h FROM words),
      votes AS (
        SELECT doc_id, t.b AS b,
               sum(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hs, range(64) t(b) GROUP BY 1, 2),
      sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v < 0 THEN 0
                             WHEN b = 63 THEN -9223372036854775808
                             ELSE (CAST(1 AS BIGINT) << b) END) AS BIGINT)
                 AS simhash
        FROM votes GROUP BY doc_id),
      segs AS (
        SELECT doc_id, simhash, t.s AS seg_idx,
               (simhash >> (t.s * 16)) & 65535 AS seg_val
        FROM sh, range(4) t(s)),
      oldseg AS (SELECT * FROM segs WHERE $oldPred),
      newseg AS (SELECT * FROM segs WHERE $newPred),
      keepseg AS (
        SELECT seg_idx, seg_val FROM oldseg
        GROUP BY 1, 2 HAVING count(*) <= 256),
      near AS (
        SELECT id_new, count(*) AS n_near, min(hamming) AS min_hamming
        FROM (
          SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old,
                 bit_count(xor(n.simhash, o.simhash)) AS hamming
          FROM newseg n
          JOIN keepseg USING (seg_idx, seg_val)
          JOIN oldseg o USING (seg_idx, seg_val)) p
        WHERE hamming <= 3
        GROUP BY id_new)
      SELECT d.doc_id,
             CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near,
             CAST(near.min_hamming AS INTEGER) AS min_hamming,
             coalesce(near.n_near, 0) > 0 AS is_dup
      FROM (SELECT doc_id FROM documents WHERE $newPred) d
      LEFT JOIN near ON d.doc_id = near.id_new
      ORDER BY d.doc_id"""

  /** dedup_simhash_incremental — the SimHash ingest probe: the doc_id %
    * 10 == 0 batch scored against the snapshot's simhashIndex. Candidates
    * are incoming×index segment matches only (index-side bucket cap), and
    * verification is bit_count(xor) over the two SIGNATURES — the probe
    * never touches corpus text at all (16 bytes/doc of state;
    * plan-asserted in OpsSpec), the strongest never-rescan contract in
    * the family.
    */
  private val d03i = Q(
    "dedup_simhash_incremental",
    (s, d) => {
      val all = docs(s, d)
      DedupOps.simhashNearDupIncremental(
        all.filter(col("doc_id") % 10 === 0),
        DedupOps.simhashIndex(
          all.filter(col("doc_id") % 10 =!= 0), "text", "doc_id"),
        "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(simhashIncrementalSql("doc_id % 10 <> 0", "doc_id % 10 = 0")))

  /** dedup_simhash_index_update — the maintenance half (the
    * dedup_minhash_index_update sibling): index(<200) ⊎ batch1
    * (200–399) by the `FoldLaw.simhashSignatures` merge (signatures
    * are per-doc, so merge = plain union = rebuild exactly), batch2
    * (≥400) probed
    * against the merged index ≡ the one-shot incremental on the
    * union — the shared simhashIncrementalSql chain split at 400.
    */
  private val d03u = Q(
    "dedup_simhash_index_update",
    (s, d) => {
      val all = docs(s, d)
      val sigs = FoldLaw.simhashSignatures("text", "doc_id")
      val merged = sigs.merge(sigs.derive(all.filter(col("doc_id") < 200)),
        all.filter(col("doc_id") >= 200 && col("doc_id") < 400))
      DedupOps.simhashNearDupIncremental(all.filter(col("doc_id") >= 400),
          merged, "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(simhashIncrementalSql("doc_id < 400", "doc_id >= 400")))

  /** dedup_ngram_jaccard — exact shingle Jaccard via inverted-index
    * join, top-50 most similar pairs. Oracled: Jaccard over 64-bit
    * shingle hashes equals Jaccard over the raw shingle strings
    * (injective modulo 64-bit collisions), so DuckDB mirrors it with
    * raw 3-gram shingles, the same maxDF=100 stop-shingle bound, and
    * the same short-doc whole-text shingle.
    */
  private val d04 = Q(
    "dedup_ngram_jaccard",
    (s, d) => DedupOps.ngramJaccardPairs(docs(s, d), "text", "doc_id")
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(50)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard")),
    Some("""
      WITH sets AS (
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
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, n_inter,
             round(n_inter::DOUBLE / (sz_a + sz_b - n_inter), 4) AS jaccard
      FROM pr
      ORDER BY jaccard DESC, id_a, id_b
      LIMIT 50"""))


  /** dedup_embedding — embedding-cosine near-dup over the whole corpus:
    * each vector's best in-bucket neighbor (sign-LSH, k=1), flagged
    * when cosine clears the near-dup threshold. The all-vs-all version
    * of the ANN machinery — bucket-joined via a co-partitioned shuffle
    * (never broadcast: the query side IS the corpus), never a cross
    * product. Deterministic hash family → full DuckDB mirror oracle.
    */
  private val d05 = Q(
    "dedup_embedding",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val top1 = SimOps.lshTopK(e, e, "vec_id", "embedding", 1)
        .select($"qid".as("vec_id"), $"nid".as("nn_id"), $"sim")
      // total over the corpus: vectors alone in their bucket keep a
      // null neighbor instead of vanishing (can't tell "not a dup"
      // from "not evaluated" otherwise)
      e.select($"vec_id")
        .join(top1, Seq("vec_id"), "left")
        .select($"vec_id", $"nn_id", $"sim",
          coalesce($"sim" >= 0.95, lit(false)).as("is_dup"))
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
          ${lshBucketSql("embedding::DOUBLE[]", 64)} AS bucket
        FROM embeddings),
      top1 AS (
        SELECT qid, nid, sim FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 round(list_cosine_similarity(q.emb, c.emb), 4) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) AS rnk
          FROM b q JOIN b c USING (bucket)
          WHERE c.vec_id <> q.vec_id) t
        WHERE rnk = 1)
      SELECT e.vec_id, t.nid AS nn_id, t.sim,
             coalesce(t.sim >= 0.95, false) AS is_dup
      FROM embeddings e LEFT JOIN top1 t ON e.vec_id = t.qid
      ORDER BY e.vec_id"""))


  /** dedup_semantic — SemDeDup cluster-then-prune over embeddings
    * (SimOps.semanticDedup): trained k-means cells (the a04 trainer,
    * replayed by the oracle through the same unrolled-Lloyd's SQL
    * fragments), centroid cosine per vector, then inside each
    * size-capped cell a vector is a duplicate when a ≥ tau neighbor
    * ranks better under the keep-farthest-from-centroid rule. tau is
    * 0.40 because the synthetic embeddings top out near 0.51 pairwise
    * cosine — the paper's 0.95 would grade an all-false column.
    */
  private val d11 = Q(
    "dedup_semantic",
    (s, d) => {
      import s.implicits._
      SimOps.semanticDedup(emb(s, d), "vec_id", "embedding",
          numCells = 16, iters = 2, tau = 0.40, maxCell = 512)
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH
      pos AS (SELECT unnest(range(1, 65)) AS p),
      e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      -- the trainer/assignment view excludes NULL embeddings, exactly
      -- as semanticDedup's where(isNotNull) does: a NULL vector must
      -- get NULL cell/csim (not argmax-by-NULL-score) and must not
      -- count toward a cell's maxCell size
      e AS (SELECT * FROM e0 WHERE emb IS NOT NULL),
      cb0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               emb AS cvec
        FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) s),
      ${a04Round(0)},
      ${a04Round(1)},
      ${a04Score("sf_", "cb2")},
      ${a04Argmax("assign", "vec_id, emb, cell", "sf_", "", "r = 1")},
      csim AS (
        SELECT a.vec_id, a.emb, a.cell,
               round(list_cosine_similarity(a.emb, cb.cvec), 4) AS csim
        FROM assign a JOIN cb2 cb USING (cell)),
      sizes AS (SELECT cell, count(*) AS n FROM csim GROUP BY cell),
      elig AS (
        SELECT c.* FROM csim c JOIN sizes s USING (cell) WHERE s.n <= 512),
      dup AS (
        SELECT DISTINCT a.vec_id
        FROM elig a JOIN elig b USING (cell)
        WHERE b.vec_id <> a.vec_id
          AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
          AND round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.40)
      SELECT e0.vec_id, c.cell, c.csim,
             d.vec_id IS NOT NULL AS is_dup
      FROM e0 LEFT JOIN csim c USING (vec_id) LEFT JOIN dup d USING (vec_id)
      ORDER BY e0.vec_id"""))


  /** dedup_semantic_incremental — the ingest shape of semantic dedup
    * (SimOps.semanticDedupIncremental): a batch (every 10th vec_id)
    * scored against the established corpus only, in cells trained on
    * the corpus — the corpus never re-pairs with itself, per-ingest
    * cost bounded by the batch. Any in-cell corpus neighbor ≥ tau
    * makes the incoming vector a duplicate (the batch defers to the
    * established set); the oracle replays trainer, both assignments,
    * the corpus-side cap, and the best-match row_number.
    */
  private val d13 = Q(
    "dedup_semantic_incremental",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      SimOps.semanticDedupIncremental(
          e.filter($"vec_id" % 10 =!= 0), e.filter($"vec_id" % 10 === 0),
          "vec_id", "embedding",
          numCells = 16, iters = 2, tau = 0.40, maxCell = 512)
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH
      pos AS (SELECT unnest(range(1, 65)) AS p),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            WHERE vec_id % 10 <> 0 AND embedding IS NOT NULL),
      inc AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
              WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
      cb0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               emb AS cvec
        FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) s),
      ${a04Round(0)},
      ${a04Round(1)},
      ${a04Score("sf_", "cb2")},
      ${a04Argmax("assign", "vec_id AS nn_id, emb AS c_emb, cell", "sf_", "", "r = 1")},
      ${a04Score("si_", "cb2", "inc")},
      ${a04Argmax("qassign", "vec_id, emb, cell", "si_", "", "r = 1")},
      q AS (
        SELECT a.vec_id, a.emb, a.cell,
               round(list_cosine_similarity(a.emb, cb.cvec), 4) AS csim
        FROM qassign a JOIN cb2 cb USING (cell)),
      ok AS (
        SELECT cell FROM (SELECT cell, count(*) AS n FROM assign GROUP BY cell)
        WHERE n <= 512),
      best AS (
        SELECT vec_id, nn_id, sim FROM (
          SELECT q.vec_id, c.nn_id,
                 round(list_cosine_similarity(q.emb, c.c_emb), 4) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.emb, c.c_emb), 4) DESC,
                            c.nn_id ASC) AS r
          FROM q JOIN assign c USING (cell) JOIN ok USING (cell)) x
        WHERE r = 1)
      SELECT i.vec_id, q.cell, q.csim, b.nn_id, b.sim,
             coalesce(b.sim >= 0.40, false) AS is_dup
      FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) i
      LEFT JOIN q USING (vec_id) LEFT JOIN best b USING (vec_id)
      ORDER BY i.vec_id"""))


  private val d06 = Q(
    "dedup_clusters",
    (s, d) => DedupOps.dedupClusters(docs(s, d), "text", "doc_id")
      .orderBy(col("doc_id")),
    Some(s"""$clusterCtesSql
      SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
      ORDER BY doc_id"""))


  /** dedup_keep_best — canonical-document selection: one kept doc per
    * near-dup cluster (most whitespace tokens, ties to the lowest id)
    * with the member count — the curation step dedup exists to serve.
    * Oracle = the shared recursive-CTE clusters + the same integer
    * keep rule (no float ties by construction).
    */
  private val d07 = Q(
    "dedup_keep_best",
    (s, d) => DedupOps.keepBest(docs(s, d), "text", "doc_id")
      .orderBy(col("cluster_id")),
    Some(s"""$clusterCtesSql,
      cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
      tok AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
              FROM documents)
      SELECT cluster_id, doc_id AS kept_doc_id, n_tokens, n_members FROM (
        SELECT c.cluster_id, c.doc_id, t.n_tokens,
               CAST(count(*) OVER (PARTITION BY c.cluster_id) AS INTEGER) AS n_members,
               row_number() OVER (PARTITION BY c.cluster_id
                 ORDER BY t.n_tokens DESC, c.doc_id ASC) AS rn
        FROM cl c JOIN tok t USING (doc_id)) x
      WHERE rn = 1 ORDER BY cluster_id"""))


  /** dedup_cluster_split — leakage-safe folds at NEAR-DUP-CLUSTER
    * granularity: the composition groupedSplit's contract names as its
    * reason to exist ("domain, url host, dedup-cluster id"). A per-row
    * or per-source split still leaks when two near-identical documents
    * arrive from different sources; hashing the dedup cluster id makes
    * train/test contamination by near-duplicates structurally
    * impossible. Pipeline: dedupClusters (graded at d06) → row-local
    * md5 CASE on cluster_id — the split adds zero shuffles on top of
    * clustering. Graded per-doc: split is a pure function of
    * cluster_id, so the output itself witnesses co-assignment.
    */
  private val d12 = Q(
    "dedup_cluster_split",
    (s, d) => {
      import s.implicits._
      SampleOps.groupedSplit(
          DedupOps.dedupClusters(docs(s, d), "text", "doc_id"),
          "cluster_id", Seq("train" -> 80, "valid" -> 90))
        .orderBy($"doc_id")
    },
    Some(s"""$clusterCtesSql,
      cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
      b AS (
        SELECT doc_id, cluster_id,
               ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::INTEGER
                 % 100 AS bk
        FROM cl)
      SELECT doc_id, cluster_id,
             CASE WHEN bk < 80 THEN 'train'
                  WHEN bk < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM b ORDER BY doc_id"""))


  /** dedup_chunks — sub-document (paragraph-idiom) exact dedup: 8-word
    * chunks, global first occurrence wins (lowest (doc, position)),
    * docs reassembled from surviving chunks. Ownership is a
    * partial-aggregated min() on the chunk digest — not a window —
    * plus one digest-keyed equi-join; see DedupOps.chunkDedup.
    */
  private val d08 = Q(
    "dedup_chunks",
    (s, d) => DedupOps.chunkDedup(docs(s, d), "text", "doc_id", chunkWords = 8)
      .orderBy(col("doc_id")),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      tok AS (SELECT doc_id, unnest(w) AS word,
                     unnest(range(1, len(w) + 1)) AS ord FROM w),
      chunks AS (
        SELECT doc_id, CAST((ord - 1) // 8 AS INTEGER) AS chunk_idx,
               string_agg(word, ' ' ORDER BY ord) AS chunk
        FROM tok GROUP BY 1, 2),
      fst AS (
        SELECT chunk, min(doc_id * 1048576 + chunk_idx) AS keep_pos
        FROM chunks GROUP BY chunk)
      SELECT c.doc_id,
             CAST(count(*) AS INTEGER) AS n_chunks,
             CAST(count(*) FILTER (WHERE doc_id * 1048576 + chunk_idx = keep_pos)
               AS INTEGER) AS n_kept,
             coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
               FILTER (WHERE doc_id * 1048576 + chunk_idx = keep_pos), '') AS clean_text
      FROM chunks c JOIN fst USING (chunk)
      GROUP BY c.doc_id ORDER BY c.doc_id"""))


  /** dedup_incremental — continuous-ingest dedup: the docs with
    * doc_id ≥ 250 arrive as a new batch and are deduped against the
    * digest index of the already-ingested snapshot (doc_id < 250) via
    * a left-anti join, then within-batch (min id wins). The snapshot
    * side is the 32-byte/doc digest INDEX, not the corpus — what makes
    * ingest-time dedup cheap at 100 TB.
    */
  private val d09 = Q(
    "dedup_incremental",
    (s, d) => {
      val all = docs(s, d)
      val snapshot = all.filter(col("doc_id") < 250)
        .select(md5(col("text").cast("binary")).as("content_fp"))
      DedupOps.incrementalDedup(all.filter(col("doc_id") >= 250), snapshot,
          "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH snap AS (
        SELECT DISTINCT md5(text) AS content_fp FROM documents WHERE doc_id < 250),
      batch AS (
        SELECT md5(text) AS content_fp, doc_id FROM documents WHERE doc_id >= 250)
      SELECT content_fp, min(doc_id) AS doc_id, count(*) AS n_copies
      FROM batch
      WHERE content_fp NOT IN (SELECT content_fp FROM snap)
      GROUP BY content_fp ORDER BY doc_id"""))


  /** dedup_spans — exact duplicated-substring spans (Lee et al. 2022
    * modality): sliding word 10-grams fingerprinted with md5, windows
    * occurring ≥2× corpus-wide merged into maximal per-doc spans.
    * Oracle mirrors the full chain — same 0-based window starts, same
    * md5 digests, same gaps-and-islands merge (lag-NULL opens a span
    * in both engines), same integer-width casts, double-division
    * coverage rounded to 6 on both sides.
    */
  /** The full span-dedup oracle chain, parameterized by the hot-filter
    * universe and output predicates (the minhashIncrementalSql
    * one-definition idiom): `hotPred` restricts which docs' windows count
    * toward the ≥2 occurrence bound (empty = all — the full-corpus and
    * maintained-index graders, whose union IS everything; non-empty = the
    * retraction grader, where deleted docs must stop counting), `outPred`
    * restricts dup/output rows to the graded batch (empty = whole
    * corpus). Serves d10 / d10i / d10u / d10d, which by the
    * additive-count laws differ ONLY in these predicates.
    */
  private[graft] def spanOracleSql(hotPred: String, outPred: String): String = {
    def where(alias: String, pred: String): String =
      if (pred.isEmpty) "" else s"\n        WHERE $alias$pred"
    s"""
      WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      starts AS (
        SELECT doc_id, w, unnest(range(0, greatest(len(w) - 9, 0))) AS pos
        FROM tok),
      win AS (
        SELECT doc_id, pos,
               md5(array_to_string(w[pos + 1 : pos + 10], ' ')) AS fp
        FROM starts),
      hot AS (
        SELECT fp FROM win${where("", hotPred)}
        GROUP BY fp HAVING count(*) >= 2),
      dup AS (
        SELECT win.doc_id, win.pos FROM win JOIN hot USING (fp)${where("win.", outPred)}),
      brk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= 10
                    THEN 0 ELSE 1 END AS brk
        FROM dup),
      grp AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS g
        FROM brk),
      sp AS (
        SELECT doc_id, g, min(pos) AS s, max(pos) AS e0, count(*) AS nw
        FROM grp GROUP BY 1, 2),
      agg AS (
        SELECT doc_id,
               CAST(count(*) AS INTEGER) AS n_spans,
               CAST(sum(nw) AS BIGINT) AS n_dup_ngrams,
               CAST(sum(e0 + 10 - s) AS BIGINT) AS dup_tokens
        FROM sp GROUP BY 1)
      SELECT t.doc_id,
             coalesce(a.n_spans, 0) AS n_spans,
             coalesce(a.n_dup_ngrams, 0) AS n_dup_ngrams,
             coalesce(a.dup_tokens, 0) AS dup_tokens,
             round(coalesce(a.dup_tokens, 0)::DOUBLE / len(w), 6) AS dup_frac
      FROM tok t LEFT JOIN agg a USING (doc_id)${where("t.", outPred)}
      ORDER BY t.doc_id"""
  }

  private val d10 = Q(
    "dedup_spans",
    (s, d) => DedupOps.spanDedup(docs(s, d), "text", "doc_id", n = 10)
      .orderBy(col("doc_id")),
    Some(spanOracleSql("", "")))


  /** dedup_spans_incremental — ingest-vs-corpus span dedup: the docs with
    * doc_id ≥ 250 arrive as a batch and probe the snapshot's spanIndex
    * (doc_id < 250 — the ~24-byte/ distinct-n-gram digest index, NOT
    * corpus text). A batch window is duplicated iff snapshot occ + batch
    * occ ≥ 2, which is exactly batch spanDedup over the union restricted
    * to batch docs (additive counting; property-tested in OpsSpec).
    * Oracle mirrors the full chain: windows over ALL docs, union-wide hot
    * filter, dup/output restricted to the batch — same 0-based starts,
    * same gaps-and-islands merge, same casts and rounding as d10.
    */
  private val d10i = Q(
    "dedup_spans_incremental",
    (s, d) => {
      val all = docs(s, d)
      val snapshot = DedupOps.spanIndex(
        all.filter(col("doc_id") < 250), "text", "doc_id", n = 10)
      DedupOps.spanDedupIncremental(all.filter(col("doc_id") >= 250),
          snapshot, "text", "doc_id", n = 10)
        .orderBy(col("doc_id"))
    },
    Some(spanOracleSql("", "doc_id >= 250")))

  /** dedup_spans_index_update — the index-MAINTENANCE half of the
    * span-dedup ingest lifecycle (d10i is the probe half): snapshot
    * index over doc_id < 200, batch1 (200 ≤ id < 400) folded in by
    * the `FoldLaw.spanOccurrences` merge — corpus never rescanned —
    * then batch2 (id ≥ 400) probed against the MERGED index. Because occurrence
    * counts are additive over disjoint doc sets, the two-step-ingest
    * output must equal one-shot batch spanDedup on the full union
    * restricted to batch2 — which is exactly what the oracle computes
    * (windows over ALL docs, union-wide hot filter, output ≥ 400).
    * A wrong merge (dropped digest, double-counted occ) breaks the
    * hot set and fails the hash. Same mirrored chain as d10/d10i.
    */
  private val d10u = Q(
    "dedup_spans_index_update",
    (s, d) => {
      val all = docs(s, d)
      val spans = FoldLaw.spanOccurrences("text", "doc_id", n = 10)
      val merged = spans.merge(spans.derive(all.filter(col("doc_id") < 200)),
        spans.derive(all.filter(col("doc_id") >= 200 && col("doc_id") < 400)))
      DedupOps.spanDedupIncremental(all.filter(col("doc_id") >= 400),
          merged, "text", "doc_id", n = 10)
        .orderBy(col("doc_id"))
    },
    Some(spanOracleSql("", "doc_id >= 400")))

  /** dedup_spans_index_delete — the RETRACTION half of the span
    * lifecycle (d10u is the fold-in half): index built over
    * doc_id < 400, the 200–399 docs then RETRACTED by the
    * `FoldLaw.spanOccurrences` delete (the signed fold — counts
    * subtract because they are additive; digests that empty out
    * drop), then the ≥ 400
    * batch probed against the retracted index. By the delete law the
    * result must equal one-shot batch spanDedup over ({<200} ∪
    * {≥400}) restricted to the batch — exactly the oracle's replay:
    * the hot filter counts windows ONLY over surviving docs (deleted
    * docs' windows must stop counting, or a takedown leaves its
    * boilerplate marked duplicated), output ≥ 400. An over-deleted
    * count, a digest kept at zero, or a leaked deleted-doc window all
    * perturb the hot set and fail the hash.
    */
  private val d10d = Q(
    "dedup_spans_index_delete",
    (s, d) => {
      val all = docs(s, d)
      val spans = FoldLaw.spanOccurrences("text", "doc_id", n = 10)
      val retracted = spans.delete(spans.derive(all.filter(col("doc_id") < 400)),
        spans.derive(all.filter(col("doc_id") >= 200 && col("doc_id") < 400)))
      DedupOps.spanDedupIncremental(all.filter(col("doc_id") >= 400),
          retracted, "text", "doc_id", n = 10)
        .orderBy(col("doc_id"))
    },
    Some(spanOracleSql("doc_id < 200 OR doc_id >= 400", "doc_id >= 400")))

  /** The corpus every delta-lifecycle query indexes: the docs that are
    * neither fed as adds (% 10 == 0) nor probed (% 10 == 5). */
  private def deltaCorpus(all: DataFrame): DataFrame =
    all.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5)

  /** dedup_spans_delta_probe — streaming-delta maintenance of the span
    * index, whose state is a count aggregate: it folds under
    * `FoldLaw.spanOccurrences`, a `Counted` law on the MergeFold
    * protocol, where a deletion's windows are recomputed from the
    * feed's carried text and count −1 each. The two-leg CDC feed
    * ([[QHelp.cdcLegs]]: adds % 10 == 0, retractions % 10 == 7)
    * publishes each trigger's signed per-digest partial; the stored index
    * is never rewritten on the ingest path. The % 10 == 5 batch probes
    * the state twice, delta-resolved and after compaction, and both
    * phases must equal one-shot spanDedup over the net corpus (window
    * counts over % 10 ≠ 7 docs, output % 10 == 5: the family's shared
    * oracle). A double-applied partial, a leaked retraction or a digest
    * kept at zero moves the hot set and fails the hash.
    */
  private val d10dp = Q(
    "dedup_spans_delta_probe",
    (s, d) => {
      val all = docs(s, d)
      val spans = FoldLaw.spanOccurrences("text", "doc_id", n = 10)
      // each window of a batch's adds or dels contributes +1 or −1 to
      // its digest's count: one signed aggregate per trigger
      def signed(docs: DataFrame, w: Long) = DedupOps.spanWindows(docs, "text", "doc_id", 10)
        .select(col("fp"), lit(w).as("occ"))
      val spec = spans.foldSigned(b =>
        signed(cdcAdds(b), 1L).unionByName(signed(cdcDels(b), -1L)))
      val Seq((stateDir, delta)) = cdcLegs(s, "d10dp", all, "doc_id", "text")(
        spans.derive(deltaCorpus(all)) -> spec)
      def probed(phase: String, state: DataFrame) = DedupOps.spanDedupIncremental(
          all.filter(col("doc_id") % 10 === 5), state, "text", "doc_id", n = 10)
        .withColumn("phase", lit(phase))
      val viaDeltas = probed("delta", delta).localCheckpoint(true)
      spec.compactStore(s, stateDir)
      viaDeltas.unionByName(probed("compact", spec.resolve(s, stateDir)))
        .orderBy(col("phase"), col("doc_id"))
    },
    Some(s"""
      SELECT phase, doc_id, n_spans, n_dup_ngrams, dup_tokens, dup_frac FROM (
        SELECT 'compact' AS phase, q1.* FROM (${spanOracleSql(
          "doc_id % 10 <> 7", "doc_id % 10 = 5")}) q1
        UNION ALL
        SELECT 'delta' AS phase, q2.* FROM (${spanOracleSql(
          "doc_id % 10 <> 7", "doc_id % 10 = 5")}) q2
      ) u ORDER BY phase, doc_id"""),
    writes = true)

  /** dedup_minhash_index_delete — the RETRACTION half of the minhash
    * lifecycle (d02x is the fold-in half): band index built over
    * doc_id < 400, the 200–399 docs RETRACTED by the
    * `FoldLaw.minhashBands` delete (band rows are per-doc facts — one id-keyed
    * anti-join, no text touched), then the ≥ 400 batch probed against
    * the retracted index with the surviving corpus (< 200) as the
    * verification side. By the delete law this must equal the
    * one-shot incremental of the batch against the < 200 corpus —
    * the shared minhashIncrementalSql chain split at (200, 400). A
    * leaked deleted band row resurfaces its doc as a candidate (wrong
    * n_candidates); an over-deleted row loses one — either fails the
    * hash.
    */
  private val d02d = Q(
    "dedup_minhash_index_delete",
    (s, d) => {
      val all = docs(s, d)
      val bands = FoldLaw.minhashBands("text", "doc_id")
      val retracted = bands.delete(
        bands.derive(all.filter(col("doc_id") < 400)),
        all.filter(col("doc_id") >= 200 && col("doc_id") < 400))
      DedupOps.minhashNearDupIndexed(all.filter(col("doc_id") >= 400),
          retracted, all.filter(col("doc_id") < 200), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id < 200", "doc_id >= 400")))

  /** dedup_minhash_stats_probe — the STORED-bucket-stats probe shape:
    * snapshot stats built once over the < 200 index, the 200–399 batch
    * folded into BOTH the index (the `FoldLaw.minhashBands` merge) and
    * the stats (the `FoldLaw.minhashBucketStats` merge — counts are
    * additive), then the ≥ 400 batch probed with
    * `bandStats` passed — the maxBucket cap is an anti-join against
    * the stored over-cap keys, NOT a count() window over the full
    * index per probe (plan-asserted in OpsSpec: no Window over the
    * index side). Stats-filtered ≡ window-filtered by construction
    * (same counts), so the oracle is d02x's exact chain: a stale or
    * mis-summed stats row flips a bucket across the 256 cap, changes
    * the candidate set, and fails the hash.
    */
  private val d02s = Q(
    "dedup_minhash_stats_probe",
    (s, d) => {
      val all = docs(s, d)
      val snapshot = DedupOps.minhashIndex(
        all.filter(col("doc_id") < 200), "text", "doc_id")
      val batch1 = all.filter(col("doc_id") >= 200 && col("doc_id") < 400)
      val bands = FoldLaw.minhashBands("text", "doc_id")
      val stats = FoldLaw.minhashBucketStats
      val merged = bands.merge(snapshot, batch1)
      val mergedStats = stats.merge(stats.derive(snapshot),
        stats.derive(bands.derive(batch1)))
      DedupOps.minhashNearDupIndexed(all.filter(col("doc_id") >= 400),
          merged, all.filter(col("doc_id") < 400), "text", "doc_id",
          bandStats = Some(mergedStats))
        .orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id < 400", "doc_id >= 400")))

  /** dedup_minhash_stats_delete — the stats SIGNED FOLD graded through
    * the consumer (d02s grades the additive merge; this grades the
    * retraction): full index + stats over doc_id < 400, the 200–399
    * docs retracted from BOTH — the index by id anti-join, the stats by
    * the `FoldLaw.minhashBucketStats` delete of the removed band rows'
    * stats (an id semi-join slice of the index — banding is
    * deterministic, so the slice IS what those docs contributed) — then
    * the ≥ 400 batch probed with the retracted stats passed. Equal to
    * the one-shot incremental against the < 200 corpus: an
    * under-decremented stat keeps a shrunk bucket over the cap (lost
    * candidates), a bucket kept at zero or over-decremented re-admits
    * one — either way the candidate set moves and the hash fails.
    */
  private val d02sd = Q(
    "dedup_minhash_stats_delete",
    (s, d) => {
      val all = docs(s, d)
      val bands = FoldLaw.minhashBands("text", "doc_id")
      val stats = FoldLaw.minhashBucketStats
      val full = bands.derive(all.filter(col("doc_id") < 400))
      val delIds = all.filter(col("doc_id") >= 200 && col("doc_id") < 400)
        .select(col("doc_id"))
      val retracted = bands.delete(full, delIds)
      val retractedStats = stats.delete(stats.derive(full),
        stats.derive(full.join(delIds, Seq("doc_id"), "left_semi")))
      DedupOps.minhashNearDupIndexed(all.filter(col("doc_id") >= 400),
          retracted, all.filter(col("doc_id") < 200), "text", "doc_id",
          bandStats = Some(retractedStats))
        .orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id < 200", "doc_id >= 400")))

  /** dedup_minhash_bucketed_probe — the minhash band index in its
    * production LAYOUT (the d03b pattern ported to the minhash family, so
    * that "at 100 TB the corpus bands live bucketed on (band_idx,
    * band_hash)" is a graded shape): the corpus band index WRITTEN as a
    * table BUCKETED on its probe key — band_hash is the raw ARRAY<BIGINT>
    * band tuple, which Spark hash-partitions and orders natively, so the
    * layout needs no derived scalar key — with its bucket stats derived
    * once at write time and stored beside it, and the % 10 == 0 batch
    * probed through `minhashNearDupIndexed` with the stored stats passed:
    * the cap is an anti-join against a keys-sized scan, and the candidate
    * join plans with ZERO exchange on the index side straight off the
    * bucketed scan (OpsSpec asserts no index-side Exchange; `merge` hint
    * keeps the scale plan where small-SF Catalyst would broadcast). Same
    * output as the inline-index probe by construction, so the oracle is
    * d02i's exact chain.
    */
  private val d02b = Q(
    "dedup_minhash_bucketed_probe",
    (s, d) => {
      import graft.io.Bucketing
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") % 10 =!= 0)
      scratch(s) { sc =>
        val bandIndex = Bucketing.write(DedupOps.minhashIndex(corpus, "text", "doc_id"),
          sc.table("mhband"), 8, Seq("band_idx", "band_hash"))
        val stats = FsOps.stage(DedupOps.minhashBucketStats(bandIndex),
          tmpDir(s, "d02b_stats"))
        DedupOps.minhashNearDupIndexed(
          all.filter(col("doc_id") % 10 === 0),
          bandIndex.hint("merge"), corpus, "text", "doc_id",
          bandStats = Some(stats))
      }.orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id % 10 <> 0", "doc_id % 10 = 0")),
    writes = true)

  /** dedup_minhash_partitioned_probe — the full production fact
    * layout composed onto a LIFECYCLE index (q78's
    * partitioned+bucketed shape applied to the minhash band index):
    * the corpus band index is stored
    * PARTITIONED on its ingest wave (doc_id % 3 stands in for the
    * ingest date — the band rows carry their doc id, so the partition
    * key derives row-locally at write time) AND BUCKETED on the raw
    * (band_idx, band_hash) probe key, with per-wave bucket stats
    * stored beside it. The probe scopes dedup BY INGEST TIME — the
    * % 10 == 0 batch against only waves 0–1 ("everything crawled
    * before X") — so the wave predicate prunes whole partition
    * directories at planning time, the surviving slice still joins
    * with ZERO index-side exchange off the bucketed scan (both
    * properties asserted in ONE plan in OpsSpec), and the cap comes
    * from the stored per-wave stats group-summed over the kept waves
    * (stats are additive over disjoint doc sets — the
    * `FoldLaw.minhashBucketStats` merge applied to partition pruning).
    * Equal to the one-shot incremental against the wave-0/1 corpus by
    * construction — the shared chain with the wave predicate folded
    * into the corpus split.
    */
  private val d02p = Q(
    "dedup_minhash_partitioned_probe",
    (s, d) => {
      import graft.io.Bucketing
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") % 10 =!= 0)
      val banded = DedupOps.minhashIndex(corpus, "text", "doc_id")
        .withColumn("ingest_wave", col("doc_id") % 3)
      scratch(s) { sc =>
        val index = Bucketing.write(banded, sc.table("mhband_part"), 8,
          Seq("band_idx", "band_hash"), partitionBy = Seq("ingest_wave"))
        // per-wave stats stored at write time, PARTITIONED on the same
        // wave key as the index (one layout across index and stats): the
        // pruned slice's stats are a keys-sized group-sum of the kept
        // waves (additive law), and the wave predicate prunes stats
        // partition directories at planning time exactly as it prunes
        // the index's
        val stats = FsOps.stage(
          banded.groupBy(col("ingest_wave"), col("band_idx"), col("band_hash"))
            .agg(count(lit(1)).as("bucket_n")),
          tmpDir(s, "d02p_stats"), "ingest_wave")
        val prunedStats = FoldLaw.minhashBucketStats.sum(
          stats.filter(col("ingest_wave") < 2))
        DedupOps.minhashNearDupIndexed(
          all.filter(col("doc_id") % 10 === 0),
          index.filter(col("ingest_wave") < 2).drop("ingest_wave").hint("merge"),
          corpus.filter(col("doc_id") % 3 < 2), "text", "doc_id",
          bandStats = Some(prunedStats))
      }.orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id % 10 <> 0 AND doc_id % 3 < 2",
      "doc_id % 10 = 0")),
    writes = true)

  /** dedup_simhash_evolved_merge — STATE SCHEMA EVOLUTION on a stored
    * index (a snapshot written by an older code version must fold without
    * a silent wrong answer): the corpus signature index is stored WITHOUT
    * the `lang` provenance column a later code version adds, then merged
    * with a tagged ingest batch through `Tables.evolveTo` — legacy rows
    * align to the wide schema with typed-NULL tags (the mergeSchema
    * semantics; a plain strict union would refuse, a positional union
    * would silently misalign), while a type change or a dropped stored
    * column refuses loudly (IoFunctionsSpec). The merged state is graded
    * DIRECTLY, per provenance tag: row count, bit_xor of the signatures
    * (order-independent and exact — one perturbed signature flips it),
    * and the summed signature popcount. The oracle replays the d03
    * signature chain and mirrors the NULL-tag rule, so a leaked legacy
    * tag, a dropped legacy row, or a signature moved by the alignment all
    * fail the hash.
    */
  private val d03e = Q(
    "dedup_simhash_evolved_merge",
    (s, d) => {
      val all = docs(s, d)
      // an older writer's state: signatures only, no provenance tag
      val stored = FsOps.stage(DedupOps.simhashIndex(
        all.filter(col("doc_id") % 10 =!= 0), "text", "doc_id"), tmpDir(s, "d03e_old"))
      // the current code version indexes WITH the lang tag
      val batchTagged = DedupOps.simhashIndex(
          all.filter(col("doc_id") % 10 === 0), "text", "doc_id")
        .join(all.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val merged = graft.io.Tables.evolveTo(stored, batchTagged.schema)
        .unionByName(batchTagged)
      merged
        .groupBy(coalesce(col("lang"), lit("legacy")).as("lang_tag"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(simhash)").as("sig_xor"),
          sum(bit_count(col("simhash"))).cast("long").as("bits"))
        .orderBy(col("lang_tag"))
    },
    Some(s"""$simhashSigCtes,
      tagged AS (
        SELECT s.doc_id, s.simhash,
               CASE WHEN d.doc_id % 10 = 0 THEN d.lang END AS lang
        FROM sh s JOIN documents d USING (doc_id))
      SELECT coalesce(lang, 'legacy') AS lang_tag,
             count(*) AS n_docs,
             bit_xor(simhash) AS sig_xor,
             CAST(sum(bit_count(simhash)) AS BIGINT) AS bits
      FROM tagged GROUP BY 1 ORDER BY 1"""),
    writes = true)

  /** The simhash segment index as a delta index ([[QHelp.deltaIndex]]):
    * the [[deltaCorpus]] bucketed on (seg_idx, seg_val), an overlay
    * that adds the % 10 == 0 docs and tombstones the % 10 == 7 ids, and
    * the % 10 == 5 batch probed through `simhashNearDupSegDeltaIndexed`.
    * The candidate join runs straight off the bucketed base scan
    * (OpsSpec asserts zero index-side exchange on this shape; probing
    * `DeltaState.read`'s union would reshuffle the base, because a
    * union carries no bucketed distribution), tombstoned candidates
    * drop by a candidate-sized id anti-join, the overlay joins as a
    * second window-sized candidate source, and the cap takes the
    * effective `stats`. Equal to the one-shot incremental against the
    * net corpus (% 10 ∉ {5, 7}), the family's shared chain.
    */
  private def simhashDeltaProbe(tag: String, stats: IndexStats)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val all = docs(s, d)
    deltaIndex(s, tag, all, deltaCorpus(all), FoldLaw.simhashSegments("text", "doc_id"),
        "text", Seq("seg_idx", "seg_val"), Some(stats)) { ix =>
      DedupOps.simhashNearDupSegDeltaIndexed(all.filter(col("doc_id") % 10 === 5),
        ix.base.hint("merge"), ix.adds, ix.tombs, "text", "doc_id", segStats = ix.stats.get)
    }.orderBy(col("doc_id"))
  }

  /** dedup_simhash_delta_probe — [[simhashDeltaProbe]] with the segment
    * stats stored at build time and replayed after the stream: stored −
    * the deleted docs' stats, recomputed from the feed's carried text
    * and never from an index scan, + the overlay's. */
  private val d03p = Q(
    "dedup_simhash_delta_probe",
    simhashDeltaProbe("d03p", ReplayedStats(FoldLaw.simhashSegmentStats)),
    Some(simhashIncrementalSql("doc_id % 10 <> 5 AND doc_id % 10 <> 7",
      "doc_id % 10 = 5")),
    writes = true)

  /** dedup_simhash_delta_stats_probe — [[simhashDeltaProbe]] with the
    * segment stats maintained as stored state: the stream folds a
    * second store whose per-trigger partial is the batch's signed
    * segment counts, and the cap comes entirely from that store, with
    * nothing re-derived from the feed. DeltaStateSpec asserts that such
    * a store's base file list stays byte-identical across ingest
    * batches. */
  private val d03sp = Q(
    "dedup_simhash_delta_stats_probe",
    simhashDeltaProbe("d03sp", FoldedStats(FoldLaw.simhashSegmentStats)),
    Some(simhashIncrementalSql("doc_id % 10 <> 5 AND doc_id % 10 <> 7",
      "doc_id % 10 = 5")),
    writes = true)

  /** The minhash band index as a delta index: the [[simhashDeltaProbe]]
    * scenario on the array-keyed family, bucketed on (band_idx,
    * band_hash) and probed through `minhashNearDupDeltaIndexed`. The
    * candidate join runs straight off the bucketed base scan (OpsSpec
    * asserts zero index-side exchange on this shape), tombstoned
    * candidates drop candidate-sized, the overlay joins as a second
    * source, and verification reads corpus text only for candidate ids,
    * with the overlay docs' text taken from the feed. Equal to the
    * one-shot incremental against the net corpus.
    */
  private def minhashDeltaProbe(tag: String, stats: IndexStats)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val all = docs(s, d)
    val corpus = deltaCorpus(all)
    deltaIndex(s, tag, all, corpus, FoldLaw.minhashBands("text", "doc_id"), "text",
        Seq("band_idx", "band_hash"), Some(stats)) { ix =>
      DedupOps.minhashNearDupDeltaIndexed(all.filter(col("doc_id") % 10 === 5),
        ix.base.hint("merge"), ix.adds, ix.tombs, corpus,
        all.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text")),
        "text", "doc_id", bandStats = ix.stats.get)
    }.orderBy(col("doc_id"))
  }

  /** dedup_minhash_delta_probe — [[minhashDeltaProbe]] with the bucket
    * stats stored at build time and replayed after the stream (the
    * `FoldLaw.minhashBucketStats` law: stored − the deleted docs' band
    * stats recomputed from carried text + the overlay's). */
  private val d02dp = Q(
    "dedup_minhash_delta_probe",
    minhashDeltaProbe("d02dp", ReplayedStats(FoldLaw.minhashBucketStats)),
    Some(minhashIncrementalSql("doc_id % 10 <> 5 AND doc_id % 10 <> 7",
      "doc_id % 10 = 5")),
    writes = true)

  /** dedup_minhash_delta_stats_probe — [[minhashDeltaProbe]] with the
    * bucket stats folded as a second store from the same feed (banding
    * is deterministic, so the deleted docs' recomputed band rows equal
    * the stored ones); the cap comes entirely from the resolved store. */
  private val d02sp = Q(
    "dedup_minhash_delta_stats_probe",
    minhashDeltaProbe("d02sp", FoldedStats(FoldLaw.minhashBucketStats)),
    Some(minhashIncrementalSql("doc_id % 10 <> 5 AND doc_id % 10 <> 7",
      "doc_id % 10 = 5")),
    writes = true)

  /** dedup_minhash_reshard_cutover — the re-shard cutover, the hash
    * families' analog of `ann_ivf_retrain_cutover`. A bucket layout is
    * frozen at write time, so a grown index changes its bucket count by
    * rebuilding the table. Band rows are per-doc facts under a fixed
    * hash family, so the re-shard is a layout-only rebuild: gen-2 is
    * written straight from gen-1's resolved view (base ∖ tombs ∪ overlay
    * adds) at double the bucket count, with no text read and nothing
    * re-shingled; IVF's retrain must re-derive its state because its
    * codebook changes, and a re-shard changes no parameter. The cutover
    * probe runs against gen-2 with stats derived from its own rows and
    * must hash-equal the family's one-shot oracle on the net corpus.
    * OpsSpec grades the two-generation window: gen-1's answers and
    * files are undisturbed through the rebuild and the cutover probe.
    */
  private val d02rc = Q(
    "dedup_minhash_reshard_cutover",
    (s, d) => {
      val all = docs(s, d)
      deltaIndex(s, "d02rc", all, deltaCorpus(all), FoldLaw.minhashBands("text", "doc_id"),
          "text", Seq("band_idx", "band_hash")) { ix =>
        val gen2 = ix.gen2(ix.resolved("doc_id", "band_idx", "band_hash"), 16)
        DedupOps.minhashNearDupIndexed(all.filter(col("doc_id") % 10 === 5), gen2,
          all.filter(col("doc_id") % 10 =!= 5 && col("doc_id") % 10 =!= 7),
          "text", "doc_id", bandStats = Some(DedupOps.minhashBucketStats(gen2)))
      }.orderBy(col("doc_id"))
    },
    Some(minhashIncrementalSql("doc_id % 10 <> 5 AND doc_id % 10 <> 7",
      "doc_id % 10 = 5")),
    writes = true)

  /** dedup_simhash_index_delete — the RETRACTION half of the simhash
    * lifecycle (d03u is the fold-in half): signature index over doc_id
    * < 400, the 200–399 signatures RETRACTED by the
    * `FoldLaw.simhashSignatures` delete (per-doc facts — id anti-join,
    * 16 bytes/doc removed, no text on either side), the ≥ 400 batch
    * probed against the retracted index ≡ the one-shot incremental
    * against the < 200 index — the shared simhashIncrementalSql chain
    * split at (200, 400). Deletion must also update the blocking
    * structure: a leaked signature re-enters segment buckets and can
    * flip a bucket across the 256 cap — both failure modes break the
    * hash.
    */
  private val d03d = Q(
    "dedup_simhash_index_delete",
    (s, d) => {
      val all = docs(s, d)
      val sigs = FoldLaw.simhashSignatures("text", "doc_id")
      val retracted = sigs.delete(
        sigs.derive(all.filter(col("doc_id") < 400)),
        all.filter(col("doc_id") >= 200 && col("doc_id") < 400))
      DedupOps.simhashNearDupIncremental(all.filter(col("doc_id") >= 400),
          retracted, "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some(simhashIncrementalSql("doc_id < 200", "doc_id >= 400")))

  /** dedup_simhash_bucketed_probe — the 100 TB probe shape graded:
    * the corpus's SEGMENT index (simhashSegmentIndex — the probe's
    * exact blocking relation, 4 fixed-width rows/doc) is WRITTEN as a
    * table BUCKETED on its probe key (seg_idx, seg_val), its bucket
    * stats derived ONCE at write time and STORED beside it (the probe
    * READS the keys-sized stored table rather than recomputing the
    * stats, and at maintenance time the stats fold under
    * `FoldLaw.simhashSegmentStats` exactly as the index does — laws in
    * OpsSpec and PropertySpec, the graded minhash siblings d02s/d02sd),
    * and the % 10 == 0 batch probed against the stored table through
    * `simhashNearDupSegIndexed` with the stored stats passed — so the
    * cap is an anti-join against a keys-sized scan, not an index-wide
    * aggregate per probe, and the candidate join plans with ZERO
    * exchange on the index side straight off the bucketed scan (the
    * q57 contract; `merge` hint keeps the plan the scale plan where
    * small-SF Catalyst would broadcast — OpsSpec asserts the
    * no-index-side-Exchange property on the stored plan). Same
    * output as the signature-index probe by construction, so the
    * oracle is d03i's exact chain.
    */
  private val d03b = Q(
    "dedup_simhash_bucketed_probe",
    (s, d) => {
      import graft.io.Bucketing
      val all = docs(s, d)
      scratch(s) { sc =>
        val segIndex = Bucketing.write(
          DedupOps.simhashSegmentIndex(
            DedupOps.simhashIndex(
              all.filter(col("doc_id") % 10 =!= 0), "text", "doc_id"),
            "doc_id"),
          sc.table("shseg"), 8, Seq("seg_idx", "seg_val"))
        // stats stored at write time (one aggregate pass, amortized over
        // every later probe), read back keys-sized for the cap
        val stats = FsOps.stage(DedupOps.simhashSegmentStats(segIndex),
          tmpDir(s, "d03b_stats"))
        DedupOps.simhashNearDupSegIndexed(
          all.filter(col("doc_id") % 10 === 0),
          segIndex.hint("merge"), "text", "doc_id",
          segStats = Some(stats))
      }.orderBy(col("doc_id"))
    },
    Some(simhashIncrementalSql("doc_id % 10 <> 0", "doc_id % 10 = 0")),
    writes = true)

  /** dedup_simhash_index_compact — index COMPACTION under churn (the
    * lifecycle composed with the layout family): the stored segment index
    * grows by FOUR append-mode merge folds (`appendBucketedKeys` — each
    * wave lands its rows in the right buckets without rewriting the
    * table, at the cost of one file per bucket per wave), then
    * `compactBucketed` rewrites it one-file-per-bucket with the bucket
    * spec copied from the catalog AND a RETRACTION folded into the same
    * single pass (the % 10 == 5 docs anti-joined out — on a stored table
    * a delete is a rewrite anyway, so compaction is when it is free). The
    * % 10 == 0 batch probed against the compacted table through the
    * stored-stats path must equal the one-shot incremental against the
    * never-ingested corpus (the shared chain with BOTH slices excluded):
    * a row lost in the rewrite, a leaked retracted doc, or a bucket
    * mis-assignment all move the candidate set and fail the hash. OpsSpec
    * separately asserts the file-count collapse and that the compacted
    * table still probes bucketed with zero index-side exchange.
    */
  private val d03c = Q(
    "dedup_simhash_index_compact",
    (s, d) => {
      import graft.io.Bucketing
      val all = docs(s, d)
      val keys = Seq("seg_idx", "seg_val")
      def segOf(pred: Column) = DedupOps.simhashSegmentIndex(
        DedupOps.simhashIndex(all.filter(pred), "text", "doc_id"), "doc_id")
      val ingested = col("doc_id") % 10 =!= 0
      scratch(s) { sc =>
        val (tbl, cpt) = (sc.table("shseg_churn"), sc.table("shseg_compact"))
        Bucketing.write(segOf(ingested && col("doc_id") % 4 === 0), tbl, 8, keys)
        (1 to 3).foreach(i => Bucketing.appendBucketedKeys(
          segOf(ingested && col("doc_id") % 4 === i), tbl, 8, keys))
        Bucketing.compactBucketed(s, tbl, cpt,
          df => df.join(all.filter(col("doc_id") % 10 === 5)
            .select(col("doc_id")), Seq("doc_id"), "left_anti"))
        val segIndex = s.table(cpt)
        val stats = FsOps.stage(DedupOps.simhashSegmentStats(segIndex),
          tmpDir(s, "d03c_stats"))
        DedupOps.simhashNearDupSegIndexed(
          all.filter(col("doc_id") % 10 === 0),
          segIndex.hint("merge"), "text", "doc_id",
          segStats = Some(stats))
      }.orderBy(col("doc_id"))
    },
    Some(simhashIncrementalSql("doc_id % 10 <> 0 AND doc_id % 10 <> 5",
      "doc_id % 10 = 0")),
    writes = true)

  val qs: Seq[Q] = Seq(d01, d02, d02u, d02m, d02i, d02x, d02d, d02s, d02sd,
    d02b, d02p, d02dp, d02sp, d02rc, d03, d03i, d03u, d03d, d03b, d03c, d03e, d03p, d03sp,
    d04, d05, d11, d13, d06, d07, d12, d08, d09, d10, d10i, d10u, d10d,
    d10dp)
}
