package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Unit tests in the reference's MapDriver/ReduceDriver style
  * (SURVEY.md §5): explicit inputs, explicit expected outputs.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("LibOps.sumByKey sums per key") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v")
    val got = LibOps.sumByKey(df, Seq("k"), "v").orderBy("k")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("a", 3.0), ("b", 5.0)))
  }

  test("LibOps.statsByKey computes n/mean/std/min/max") {
    val df = Seq(("a", 1.0), ("a", 3.0)).toDF("k", "v")
    val r = LibOps.statsByKey(df, Seq("k"), "v").collect()(0)
    assert(r.getAs[Long]("n") == 2)
    assert(r.getAs[Double]("mean") == 2.0)
    assert(r.getAs[Double]("std") == 1.0) // population std
    assert(r.getAs[Double]("min_v") == 1.0 && r.getAs[Double]("max_v") == 3.0)
  }

  test("LibOps.topKPerKey keeps k best with deterministic ties") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("k", "v")
    val got = LibOps.topKPerKey(df, Seq("k"), Seq($"v".desc), 2)
      .select("k", "v").orderBy("k", "v").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got.toSeq == Seq(("a", 2), ("a", 3), ("b", 9)))
  }

  test("MapRed.mapRecords is a flatMap over pairs") {
    val ds = Seq((1L, "x y"), (2L, "z")).toDS()
    val got = MapRed.mapRecords(ds) { (k, v) => v.split(' ').map(w => (w, k)) }
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("x", 1L), ("y", 1L), ("z", 2L)))
  }

  test("MapRed.reduceRecords groups all values per key") {
    val ds = Seq(("a", 1), ("b", 2), ("a", 3)).toDS()
    val got = MapRed.reduceRecords(ds) { (k, vs) => Iterator((k, vs.sum)) }
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 4), ("b", 2)))
  }

  test("MapRed.reduceRecordsSorted sees values in sort order") {
    val ds = Seq(("a", 3), ("a", 1), ("a", 2)).toDS()
    val got = MapRed.reduceRecordsSorted(ds, $"_2") { (k, vs) => Iterator((k, vs.mkString("-"))) }
      .collect()
    assert(got.toSeq == Seq(("a", "1-2-3")))
  }

  test("MapRed.Job.additer chains iterations into one plan (C4)") {
    val ds = Seq((1L, "a b"), (2L, "b c")).toDS()
    val out = MapRed.Job(ds)
      .additer(d => MapRed.mapRecords(d)((_, v) => v.split(' ').map(w => (w, 1L))))  // pass 1: map
      .additer(d => MapRed.combineByKey(d)(_ + _))                                   // pass 1: reduce
      .additer(d => MapRed.mapRecords(d)((_, n) => Iterator((n, 1L))))               // pass 2: map
      .additer(d => MapRed.combineByKey(d)(_ + _))                                   // pass 2: reduce (count-of-counts)
      .run().collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L))) // words a,c appear once; b twice
  }

  test("MapRed.combineByKey == reduceRecords for associative merge (combiner law)") {
    val data = (1 to 100).map(i => (s"k${i % 7}", i.toLong))
    val ds = data.toDS()
    val combined = MapRed.combineByKey(ds)(_ + _).collect().sortBy(_._1)
    val reduced = MapRed.reduceRecords(ds) { (k, vs) => Iterator((k, vs.sum)) }
      .collect().sortBy(_._1)
    assert(combined.toSeq == reduced.toSeq)
  }

  test("MapRed.broadcastParams ships params to tasks (C7)") {
    val params = MapRed.broadcastParams(spark, Map("exclude" -> "the,a"))
    val ds = Seq("the", "cat", "a", "dog").toDS()
    val kept = ds.filter(w => !params.value("exclude").split(',').contains(w))
      .collect().sorted
    assert(kept.toSeq == Seq("cat", "dog"))
  }

  test("MapRed.Counters aggregates across tasks") {
    val counters = new MapRed.Counters(spark)
    val acc = counters.counter("g", "n")
    Seq(1, 2, 3).toDS().foreach { i => acc.add(i.toLong) }
    assert(counters.value("g", "n") == 6)
  }

  test("SimOps.cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val top = SimOps.bruteForceTopK(df.filter($"vec_id" === 1), df, "vec_id", "embedding", 1)
      .collect()(0)
    assert(top.getAs[Double]("sim") == 0.0)
    val self = df.select(SimOps.cosine($"embedding", $"embedding").as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("SimOps.hardNegatives keeps only the band, ranked hardest-first") {
    def v(theta: Double) = Array(math.cos(theta).toFloat, math.sin(theta).toFloat)
    // query along x; corpus at known angles → cosines ~1, .34, .3, .2, .05
    val df = Seq(
      (0L, v(0.0)),
      (1L, v(0.001)),               // near-duplicate: above hiBand, excluded
      (2L, v(math.acos(0.34))),
      (3L, v(math.acos(0.30))),
      (4L, v(math.acos(0.20))),
      (5L, v(math.acos(0.05)))      // easy negative: below loBand, excluded
    ).toDF("vec_id", "embedding")
    val got = SimOps.hardNegatives(df.filter($"vec_id" === 0L), df,
        "vec_id", "embedding", k = 2, loBand = 0.15, hiBand = 0.95)
      .orderBy($"rnk").collect()
      .map(r => (r.getAs[Long]("nid"), r.getAs[Int]("rnk")))
    // top-2 inside the band: the .34 then the .30 neighbor
    assert(got.toSeq == Seq((2L, 1), (3L, 2)))
    // widening k admits the .20 but never the out-of-band rows
    val all = SimOps.hardNegatives(df.filter($"vec_id" === 0L), df,
        "vec_id", "embedding", k = 10, loBand = 0.15, hiBand = 0.95)
      .collect().map(_.getAs[Long]("nid")).toSet
    assert(all == Set(2L, 3L, 4L))
  }

  test("DedupOps.exactDedup keeps lowest id and counts copies") {
    val df = Seq((10L, "same"), (3L, "same"), (7L, "other")).toDF("doc_id", "text")
    val got = DedupOps.exactDedup(df, "text", "doc_id")
      .select("doc_id", "n_copies").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((3L, 2L), (7L, 1L)))
  }

  test("DedupOps.minhashNearDup flags identical docs as duplicates") {
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (31 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words), (2L, words), (3L, other)).toDF("doc_id", "text")
    val got = DedupOps.minhashNearDup(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Boolean]("is_dup") && got(1).getAs[Boolean]("is_dup"))
    assert(!got(2).getAs[Boolean]("is_dup"))
    assert(got(0).getAs[Double]("max_jaccard") == 1.0)
  }

  test("LSH/segment hot buckets are capped: mass-dup fixture stays sub-quadratic") {
    // 600 identical docs (every band/segment bucket = 600, over any
    // sane cap) + a 3-doc near-identical cluster + distinct filler.
    // Uncapped, the mass bucket alone would emit 600*599/2 ≈ 180k
    // candidate pairs per band; capped, those buckets drop and pair
    // volume stays bounded while the small cluster is still found.
    val boiler = (0L until 600L).map(i => (i, "the same boilerplate text repeated everywhere forever"))
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val cluster = Seq(
      (1000L, s"$base theta"),
      (1001L, s"$base iota"),
      (1002L, s"$base kappa"))
    val filler = (2000L until 2050L).map(i => (i, s"unique document number $i with its own words w$i x$i y$i z$i"))
    val df = (boiler ++ cluster ++ filler).toDF("doc_id", "text")
    val sig = DedupOps.minhashSignature(df, "text")
      .select($"doc_id", $"minhash_sig")
    val cands = DedupOps.minhashCandidates(
      DedupOps.minhashBands(sig, "doc_id"), "doc_id")
    val n = cands.count()
    assert(n < 5000, s"candidate pairs should stay sub-quadratic, got $n")
    // the under-cap near-dup cluster is still fully detected
    val clusterPairs = cands.filter($"id_a" >= 1000L && $"id_b" <= 1002L).count()
    assert(clusterPairs == 3, s"expected the 3-doc cluster's pairs, got $clusterPairs")
    // simhash path: the mass bucket is dropped there too
    val near = DedupOps.simhashNearDup(df, "text", "doc_id")
    val boilerNear = near.filter($"doc_id" < 600L && $"n_near" > 0).count()
    assert(boilerNear == 0, "over-cap boilerplate bucket must be dropped")
    val clusterNear = near.filter($"doc_id" >= 1000L && $"doc_id" <= 1002L)
      .agg(min($"n_near")).collect()(0).getLong(0)
    assert(clusterNear >= 1, "small cluster must survive the cap")
  }

  test("dedup_minhash graded fixtures: capped (maxBucket=256) ≡ uncapped") {
    // the round-7 graded dedup_minhash runs the production default
    // (maxBucket=256); its doc-level oracle computes UNPRUNED truth.
    // Parity rests on no band bucket exceeding 256 on the graded
    // fixtures — assert the stronger fact directly: the capped and
    // uncapped reports are identical at sf0.001 and sf0.01. A fixture
    // regen that mass-duplicates past the cap fails HERE first (and
    // dedup_minhash_uncapped keeps grading truth independently).
    for (sf <- Seq(TestSpark.Sf0001, "/root/testdata/sf0.01")) {
      val docs = graft.io.Tables.documents(spark, sf)
      val capped = DedupOps.minhashNearDup(docs, "text", "doc_id")
        .orderBy("doc_id").collect().toSeq
      val uncapped = DedupOps.minhashNearDup(docs, "text", "doc_id",
          maxBucket = Int.MaxValue)
        .orderBy("doc_id").collect().toSeq
      assert(capped == uncapped, s"capped != uncapped at $sf")
    }
  }

  test("MinHashSigMd5: md5_number_lower convention, fixed mixes, mirror cap") {
    import graft.functions.MinHashSigMd5
    // hand-compute the contract for a 1-shingle doc ("a b c", n=3):
    // base = little-endian long of md5 bytes 8..15, masked to 31 bits;
    // sig_i = (a_i * base + b_i) % p — the exact formulas the
    // dedup_minhash_mirror oracle replays in SQL
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("a b c".getBytes("UTF-8"))
    var h = 0L
    for (k <- 15 to 8 by -1) h = (h << 8) | (d(k) & 0xFFL)
    val x = h & 2147483647L
    val got = Seq((1L, "a b c")).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.minhash_sig_md5($"text", 3, 32))
      .collect()(0).getSeq[Long](0)
    assert(got.length == 32)
    for (i <- 0 until 32)
      assert(got(i) ==
        (MinHashSigMd5.A(i) * x + MinHashSigMd5.B(i)) % MinHashSigMd5.P)
    // identical docs → identical signatures → verified dup at 1.0;
    // distinct docs stay clean; NULL-text docs sign NULL, never band,
    // and report 0/0.0/false (the oracle filters them identically —
    // review-pass finding: DuckDB list joins MATCH null elements, so
    // an unfiltered oracle would pair NULL docs with each other)
    val rep = DedupOps.minhashNearDupMirror(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "nothing in common with those"),
      (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "text", "doc_id").orderBy("doc_id").collect()
    assert(rep(0).getAs[Boolean]("is_dup") && rep(1).getAs[Boolean]("is_dup"))
    assert(rep(0).getAs[Double]("max_jaccard") == 1.0)
    assert(!rep(2).getAs[Boolean]("is_dup"))
    for (r <- Seq(rep(3), rep(4))) {
      assert(r.getAs[Long]("n_candidates") == 0L)
      assert(r.getAs[Double]("max_jaccard") == 0.0)
      assert(!r.getAs[Boolean]("is_dup"))
    }
    // the GRADED configuration runs capped: an over-cap mass bucket is
    // dropped (no candidates for boilerplate docs) while an under-cap
    // cluster is still found — the behavior the mirror oracle replays
    val boiler = (0L until 300L).map(i => (i, "same boilerplate text everywhere"))
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val cluster = Seq((1000L, s"$base theta"), (1001L, s"$base iota"))
    val cap = DedupOps.minhashNearDupMirror(
      (boiler ++ cluster).toDF("doc_id", "text"), "text", "doc_id",
      maxBucket = 256)
    assert(cap.filter($"doc_id" < 300L && $"n_candidates" > 0).count() == 0)
    assert(cap.filter($"doc_id" >= 1000L && $"is_dup").count() == 2)
  }

  test("minhashNearDupIncremental: batch-vs-corpus only, corpus cap, total output") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // corpus-internal dup: must NOT surface
      (3L, "completely different corpus text here")).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, "alpha beta gamma delta epsilon"), // dup of corpus 1 and 2
      (101L, "brand new never seen words")).toDF("doc_id", "text")
    val got = DedupOps.minhashNearDupIncremental(
      corpus, incoming, "text", "doc_id").orderBy("doc_id").collect()
    // output is the incoming batch, total — corpus docs never appear
    assert(got.map(_.getLong(0)).toSeq == Seq(100L, 101L))
    assert(got(0).getAs[Boolean]("is_dup"))
    assert(got(0).getAs[Double]("max_jaccard") == 1.0)
    assert(got(0).getAs[Long]("n_candidates") == 2L) // paired with BOTH copies
    assert(!got(1).getAs[Boolean]("is_dup"))
    assert(got(1).getAs[Long]("n_candidates") == 0L)
    // corpus-side cap: an over-cap boilerplate bucket is dropped, so an
    // incoming copy of mass-duplicated corpus text reports clean (the
    // documented exact-dedup division of labor); an under-cap corpus
    // partner is still found
    val boiler = (0L until 300L).map(i => (i, "same boilerplate text everywhere"))
    val capGot = DedupOps.minhashNearDupIncremental(
      (boiler :+ (900L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      Seq((100L, "same boilerplate text everywhere"),
          (101L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      "text", "doc_id", maxBucket = 256).orderBy("doc_id").collect()
    assert(capGot(0).getAs[Long]("n_candidates") == 0L)
    assert(capGot(1).getAs[Boolean]("is_dup"))
  }

  test("DedupOps.simhash: identical docs share simhash, distance 0") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val sh = DedupOps.simhash(df, "text", "doc_id").collect().map(_.getLong(1))
    assert(sh(0) == sh(1))
  }

  test("DedupOps.ngramJaccardPairs exact on known overlap") {
    // doc1: shingles of 5 words (3 shingles); doc2 shares 2 of them
    val df = Seq((1L, "a b c d e"), (2L, "b c d e f")).toDF("doc_id", "text")
    val got = DedupOps.ngramJaccardPairs(df, "text", "doc_id").collect()
    assert(got.length == 1)
    // doc1 {abc,bcd,cde}, doc2 {bcd,cde,def} → inter 2, union 4 → 0.5
    assert(got(0).getAs[Long]("n_inter") == 2)
    assert(got(0).getAs[Double]("jaccard") == 0.5)
  }

  test("DedupOps.spanDedup: hand-computed spans, within-doc repeats, short docs") {
    // n=3, minOcc=2. doc1/doc2 share windows "a b c" and "b c d" (occ 2
    // each): doc1 dup starts {0,1} merge into one span covering tokens
    // 0..3 (4 of 6); doc2 dup starts {1,2} cover tokens 1..4 (4 of 6).
    // doc4 repeats "m n o" WITHIN itself at starts {0,6}; gap 6 > n so
    // they stay two spans of 3 tokens each (6 of 9). doc3 shares
    // nothing; doc5 is shorter than n words — both all-zero.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "p q r s"),
      (4L, "m n o z z z m n o"),
      (5L, "a b")).toDF("doc_id", "text")
    val got = DedupOps.spanDedup(df, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got(0) == ((1L, 1, 2L, 4L, 0.666667)))
    assert(got(1) == ((2L, 1, 2L, 4L, 0.666667)))
    assert(got(2) == ((3L, 0, 0L, 0L, 0.0)))
    assert(got(4) == ((5L, 0, 0L, 0L, 0.0)))
    val d4 = got(3)
    assert(d4 == ((4L, 2, 2L, 6L, 0.666667)))
  }

  test("DedupOps.spanDedup merges token-contiguous (gap == n) windows into one span") {
    // dup starts {0, 3} with n=3: windows [0,2] and [3,5] touch, so the
    // merge rule (gap <= n) yields ONE span covering tokens 0..5.
    // "a b c" appears in doc1@0 and doc2@0; "d e f" in doc1@3 and
    // doc2@4 — doc1's two dup windows are exactly contiguous.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c z d e f")).toDF("doc_id", "text")
    val got = DedupOps.spanDedup(df, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect()
    assert(got(0).getInt(1) == 1 && got(0).getLong(3) == 6L)
    // doc2 dup starts {0, 4}: gap 4 > 3 → two spans of 3 tokens
    assert(got(1).getInt(1) == 2 && got(1).getLong(3) == 6L)
  }

  test("spanDedupIncremental: index probe ≡ batch spanDedup on the union (property)") {
    // the additive-counting equivalence the op's contract claims:
    // incremental(batch, spanIndex(corpus)) == spanDedup(corpus ∪ batch)
    // restricted to batch docs. Fixture exercises every modality:
    // batch-vs-corpus dup (doc 100 repeats corpus text), fresh
    // within-batch dup (docs 101/102 share never-indexed text),
    // within-doc repeat in the batch (doc 103), clean doc (104),
    // sub-n doc (105) — plus the sf0.001 documents table for breadth.
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"),
      (3L, "a b"), // sub-n corpus doc: contributes no windows
      (4L, "m n o m n o m n o")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "z z a b c d e f"),       // dup vs corpus doc 1
      (101L, "fresh shared run of words one two three"),
      (102L, "other fresh shared run of words one two three"),
      (103L, "k1 k2 k3 x y z k1 k2 k3"), // within-doc repeat
      (104L, "nothing here matches anything else at all"),
      (105L, "too short")).toDF("doc_id", "text")
    for (n <- Seq(3, 5)) {
      val idx = DedupOps.spanIndex(corpus, "text", "doc_id", n = n)
      val inc = DedupOps.spanDedupIncremental(batch, idx, "text", "doc_id", n = n)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val ref = DedupOps.spanDedup(corpus.unionByName(batch), "text", "doc_id", n = n)
        .filter($"doc_id" >= 100L)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(inc == ref, s"n=$n: incremental != batch-on-union")
    }
    // breadth: real table split at the d10i boundary, full equivalence
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val idx = DedupOps.spanIndex(docs.filter($"doc_id" < 250), "text", "doc_id")
    val inc = DedupOps.spanDedupIncremental(
        docs.filter($"doc_id" >= 250), idx, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val ref = DedupOps.spanDedup(docs, "text", "doc_id")
      .filter($"doc_id" >= 250)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(inc == ref)
    assert(inc.nonEmpty)
  }

  test("spanIndexMerge: fold-in ≡ full rebuild, and chained merges compose (property)") {
    // the additivity contract: the FoldLaw.spanOccurrences merge of
    // spanIndex(A) and spanIndex(B) has exactly spanIndex(A ∪ B)'s
    // rows — occurrence counts are additive over disjoint doc sets.
    // Checked on the real table at two split points AND as a two-step
    // chain (corpus + batch1 + batch2), the daily-ingest shape the
    // graded query exercises via its consumer.
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val spans = graft.streaming.FoldLaw.spanOccurrences("text", "doc_id")
    def rows(ix: org.apache.spark.sql.DataFrame): Seq[String] =
      ix.select(hex(col("fp")), col("occ")).collect()
        .map(_.toString).sorted.toSeq
    for (cut <- Seq(100L, 250L)) {
      val merged = spans.merge(spans.derive(docs.filter($"doc_id" < cut)),
        spans.derive(docs.filter($"doc_id" >= cut)))
      val rebuilt = DedupOps.spanIndex(docs, "text", "doc_id")
      assert(rows(merged) == rows(rebuilt), s"cut=$cut: merge != rebuild")
    }
    val chained = spans.merge(
      spans.merge(spans.derive(docs.filter($"doc_id" < 150)),
        spans.derive(docs.filter($"doc_id" >= 150 && $"doc_id" < 300))),
      spans.derive(docs.filter($"doc_id" >= 300)))
    assert(rows(chained) == rows(DedupOps.spanIndex(docs, "text", "doc_id")),
      "chained merges must compose exactly")
  }

  test("minhashIndexMerge: fold-in ≡ full rebuild; merged-index probe ≡ one-shot incremental") {
    // banding is per-document, so index(A) ⊎ bands(B) = index(A ∪ B)
    // exactly for disjoint doc sets — checked at two split points, as
    // a two-step chain, and THROUGH the consumer at the graded query's
    // exact split (a merged index probed by a later batch must
    // reproduce the one-shot incremental on the union).
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val bands = graft.streaming.FoldLaw.minhashBands("text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val rebuilt = rows(DedupOps.minhashIndex(docs, "text", "doc_id"))
    for (cut <- Seq(100L, 250L)) {
      val merged = bands.merge(bands.derive(docs.filter($"doc_id" < cut)),
        docs.filter($"doc_id" >= cut))
      assert(rows(merged) == rebuilt, s"cut=$cut: merge != rebuild")
    }
    val chained = bands.merge(
      bands.merge(bands.derive(docs.filter($"doc_id" < 150)),
        docs.filter($"doc_id" >= 150 && $"doc_id" < 300)),
      docs.filter($"doc_id" >= 300))
    assert(rows(chained) == rebuilt, "chained merges must compose exactly")
    val mergedAt400 = bands.merge(bands.derive(docs.filter($"doc_id" < 200)),
      docs.filter($"doc_id" >= 200 && $"doc_id" < 400))
    val viaIndex = DedupOps.minhashNearDupIndexed(
      docs.filter($"doc_id" >= 400), mergedAt400,
      docs.filter($"doc_id" < 400), "text", "doc_id")
    val oneShot = DedupOps.minhashNearDupIncremental(
      docs.filter($"doc_id" < 400), docs.filter($"doc_id" >= 400),
      "text", "doc_id")
    assert(rows(viaIndex) == rows(oneShot),
      "merged-index probe != one-shot incremental")
    assert(rows(viaIndex).nonEmpty)
  }

  test("minhash ingest lifecycle plan: stored index means corpus signatures never recompute") {
    // the 100 TB contract of the minhash index (the span-lifecycle
    // sibling below): with the band index persisted, a probe reads
    // corpus TEXT exactly once — the candidate-bounded verification
    // lookup — never for signatures (the inline path scans corpus
    // text twice: banding + verification), and a merge never reads
    // corpus at all. A regression that re-derives corpus bands from
    // text doubles the corpus scan count and fails here.
    val dir = "/tmp/graft_test_mhidx"
    val corpusPath = s"$dir/corpus_docs.parquet"
    (1 to 30).map(i => (i.toLong, s"c$i a b c d e${i % 4} end"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusPath)
    (100 to 120).map(i => (i.toLong, s"b$i a b c d e${i % 4} end"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/batch_docs.parquet")
    val corpus = spark.read.parquet(corpusPath)
    DedupOps.minhashIndex(corpus, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/mh_index.parquet")
    val storedIdx = spark.read.parquet(s"$dir/mh_index.parquet")
    val batch = spark.read.parquet(s"$dir/batch_docs.parquet")
    def corpusScans(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      plan.linesIterator.count(_.contains("corpus_docs.parquet"))
    }
    val probe = DedupOps.minhashNearDupIndexed(
      batch, storedIdx, corpus, "text", "doc_id")
    assert(corpusScans(probe) == 1,
      "indexed probe must read corpus text exactly once (verification)")
    assert(probe.queryExecution.executedPlan.toString
      .contains("mh_index.parquet"), "probe must read the stored index")
    val merge = graft.streaming.FoldLaw.minhashBands("text", "doc_id")
      .merge(storedIdx, batch)
    assert(corpusScans(merge) == 0, "index merge must never read corpus")
    graft.io.FsOps.rm(spark, dir)
  }

  test("simhashIndexMerge: fold-in ≡ rebuild; merged-index probe ≡ one-shot; corpus text untouched") {
    // signatures are per-document, so the merge law is the minhash
    // bands' one (FoldLaw.PerDoc: plain union ≡ rebuild); and because
    // Hamming verification needs only the signatures, a probe against
    // a STORED index must not scan corpus text AT ALL — the strongest
    // never-rescan contract in the dedup family, asserted on the plan.
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val sigs = graft.streaming.FoldLaw.simhashSignatures("text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val rebuilt = rows(DedupOps.simhashIndex(docs, "text", "doc_id"))
    for (cut <- Seq(100L, 250L)) {
      val merged = sigs.merge(sigs.derive(docs.filter($"doc_id" < cut)),
        docs.filter($"doc_id" >= cut))
      assert(rows(merged) == rebuilt, s"cut=$cut: merge != rebuild")
    }
    val viaMerged = DedupOps.simhashNearDupIncremental(
      docs.filter($"doc_id" >= 400),
      sigs.merge(sigs.derive(docs.filter($"doc_id" < 200)),
        docs.filter($"doc_id" >= 200 && $"doc_id" < 400)),
      "text", "doc_id")
    val oneShot = DedupOps.simhashNearDupIncremental(
      docs.filter($"doc_id" >= 400),
      DedupOps.simhashIndex(docs.filter($"doc_id" < 400), "text", "doc_id"),
      "text", "doc_id")
    assert(rows(viaMerged) == rows(oneShot))
    assert(rows(viaMerged).nonEmpty)
    // plan: stored index + batch only — zero corpus reads on a probe
    val dir = "/tmp/graft_test_shidx"
    docs.filter($"doc_id" < 400).write.mode("overwrite")
      .parquet(s"$dir/corpus_docs.parquet")
    DedupOps.simhashIndex(
        spark.read.parquet(s"$dir/corpus_docs.parquet"), "text", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/sh_index.parquet")
    docs.filter($"doc_id" >= 400).write.mode("overwrite")
      .parquet(s"$dir/batch_docs.parquet")
    val probe = DedupOps.simhashNearDupIncremental(
      spark.read.parquet(s"$dir/batch_docs.parquet"),
      spark.read.parquet(s"$dir/sh_index.parquet"), "text", "doc_id")
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("corpus_docs.parquet"),
      s"simhash probe must never read corpus text:\n${plan.take(2000)}")
    assert(plan.contains("sh_index.parquet") && plan.contains("batch_docs.parquet"))
    graft.io.FsOps.rm(spark, dir)
  }

  test("ivfIndexMerge: fold-in ≡ rebuild under a pinned codebook; indexed probe ≡ ivfTopK") {
    // per-row assignment under a FIXED codebook: index(A) ⊎ assign(B)
    // = index(A ∪ B) exactly; and the stored-index probe must equal
    // the inline ivfTopK with the same pinned codebook AND never read
    // the corpus file (the index carries the embeddings).
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val cb = SimOps.lowestIdCodebook(
      e.filter($"vec_id" < 200), "vec_id", "embedding", 16)
    val cells = graft.streaming.FoldLaw.ivfCells("vec_id", "embedding", cb)
    val merged = cells.merge(cells.derive(e.filter($"vec_id" < 200)),
      e.filter($"vec_id" >= 200))
    assert(rows(merged) == rows(SimOps.ivfIndex(e, "vec_id", "embedding", cb)),
      "merge != rebuild")
    val q = e.filter($"vec_id" < 10)
    assert(rows(SimOps.ivfTopKIndexed(q, merged, "vec_id", "embedding", cb, k = 5))
        == rows(SimOps.ivfTopK(q, e, "vec_id", "embedding", 5, codebook = Some(cb))),
      "indexed probe != inline ivfTopK under the pinned codebook")
    // stored-index plan: queries + index only, corpus never re-assigned
    val dir = "/tmp/graft_test_ivfidx"
    e.write.mode("overwrite").parquet(s"$dir/corpus_embs.parquet")
    SimOps.ivfIndex(spark.read.parquet(s"$dir/corpus_embs.parquet"),
        "vec_id", "embedding", cb)
      .write.mode("overwrite").parquet(s"$dir/ivf_index.parquet")
    q.write.mode("overwrite").parquet(s"$dir/query_embs.parquet")
    val probe = SimOps.ivfTopKIndexed(
      spark.read.parquet(s"$dir/query_embs.parquet"),
      spark.read.parquet(s"$dir/ivf_index.parquet"),
      "vec_id", "embedding", cb, k = 5)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("corpus_embs.parquet"),
      s"indexed probe must not re-assign the corpus:\n${plan.take(2000)}")
    assert(plan.contains("ivf_index.parquet") && plan.contains("query_embs.parquet"))
    graft.io.FsOps.rm(spark, dir)
  }

  test("GraphOps bare calls stage by default: final plan is one scan of scratch parquet") {
    // round-7 verdict task 3: the measured 192-scan unstaged lineage
    // blowup must be unreachable by accident. A bare call (no
    // stageDir) now auto-derives a warehouse-rooted scratch dir, so
    // the returned frame is a plain read of the last staged round —
    // one parquet Relation, not a 2^iters join chain.
    // one logical leaf = one scan (the path only prints in the
    // physical plan's FileScan Location, so check it there)
    def stagedScan(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      assert(df.queryExecution.optimizedPlan.collectLeaves().size == 1,
        s"$tag: bare call must return a single staged-parquet scan")
      val phys = df.queryExecution.executedPlan.toString
      val loc = phys.linesIterator.find(_.contains(s"graft_tmp/graph_$tag"))
      assert(loc.isDefined,
        s"$tag: plan must scan the auto-derived scratch dir:\n${phys.take(1500)}")
      loc.get
    }
    val edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("a", "c", 1L)).toDF("src", "dst", "w")
    val pr = GraphOps.pageRank(edges, "src", "dst", "w", iters = 3)
    val prLoc = stagedScan(pr, "pagerank")
    val lpEdges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val lp = GraphOps.minLabelPropagate(lpEdges, "a", "b", iters = 4)
    stagedScan(lp, "labelprop")
    // and two bare calls never alias each other's scratch (the
    // per-JVM counter): the first result stays readable and correct
    // after the second call ran
    val pr2 = GraphOps.pageRank(edges.limit(2), "src", "dst", "w", iters = 1)
    assert(stagedScan(pr2, "pagerank") != prLoc)
    assert(pr.collect().map(_.getLong(1)).sum > 0L)
  }

  test("labelConvergenceAudit: zeros exactly from convergence; nonzero while moving") {
    // a path 1-2-3-4-5 needs 4 rounds for min-label 1 to reach node 5
    // under simultaneous updates; with iters=6 the audit must show
    // nonzero change counts through round 4 and zeros after — the
    // trailing-zeros = measured-margin contract the graded
    // graph_components_audit relies on.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val audit = GraphOps.labelConvergenceAudit(path, "a", "b", iters = 6)
      .orderBy("round").collect().map(r => (r.getInt(0), r.getLong(1)))
    // round 1: nodes 2..5 all drop to their smaller neighbor = 4
    // changes; each later round one fewer node still moves
    assert(audit.toSeq == Seq((1, 4L), (2, 3L), (3, 2L), (4, 1L),
      (5, 0L), (6, 0L)), audit.mkString(", "))
  }

  test("span ingest lifecycle plan: a stored index means the corpus is NEVER rescanned") {
    // the 100 TB contract both incremental span ops document: with the
    // spanIndex persisted, steady-state ingest reads ONLY the batch
    // text and the ~24-byte/row index — a regression that re-derives
    // anything from corpus text puts the corpus path back into these
    // plans and fails here. Inline parquet fixtures (temp dir).
    val dir = "/tmp/graft_test_spanidx"
    val corpusPath = s"$dir/corpus_docs.parquet"
    (1 to 30).map(i => (i.toLong, s"c$i a b c d e${i % 4} end"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusPath)
    (100 to 120).map(i => (i.toLong, s"b$i a b c d e${i % 4} end"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/batch_docs.parquet")
    val corpus = spark.read.parquet(corpusPath)
    DedupOps.spanIndex(corpus, "text", "doc_id", n = 3)
      .write.mode("overwrite").parquet(s"$dir/span_index.parquet")
    val storedIdx = spark.read.parquet(s"$dir/span_index.parquet")
    val batch = spark.read.parquet(s"$dir/batch_docs.parquet")
    for ((label, df) <- Seq(
        "probe" -> DedupOps.spanDedupIncremental(
          batch, storedIdx, "text", "doc_id", n = 3),
        "merge" -> {
          val spans =
            graft.streaming.FoldLaw.spanOccurrences("text", "doc_id", n = 3)
          spans.merge(storedIdx, spans.derive(batch))
        })) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("corpus_docs.parquet"),
        s"$label plan rescans corpus text:\n${plan.take(2000)}")
      assert(plan.contains("span_index.parquet"),
        s"$label plan must read the stored index")
      assert(plan.contains("batch_docs.parquet"),
        s"$label plan must read the batch")
    }
    graft.io.FsOps.rm(spark, dir)
  }

  test("spanDedup plan: tokenize hoisted out of the window lambda, fan-out fires") {
    // the round-6 perf contract: the window transform is a
    // higher-order function (interpreted), so anything inside its
    // lambda runs per WINDOW. A split/md5 re-inlined into the lambda
    // re-tokenizes (O(len²)/doc) / re-digests interpreted — measured
    // 3× slower end-to-end. Pin the shape: lambdas carry only
    // slice+concat, and the 1-partition input is repartitioned so the
    // explode doesn't run on a single task.
    // bare LocalRelation: 2 rows plan as 2 partitions < the suite's
    // defaultParallelism(4), so fanOut fires. (An explicit caller
    // repartition would be RESPECTED instead — the exchange guard
    // returns such plans unchanged, probe-free.)
    val df = Seq((1L, "a b c d e f"), (2L, "a b c z d e f"))
      .toDF("doc_id", "text")
    val plan = DedupOps.spanDedup(df, "text", "doc_id", n = 3)
      .queryExecution.optimizedPlan.toString
    val lambdas = plan.linesIterator.filter(_.contains("lambdafunction")).toSeq
    assert(lambdas.nonEmpty, plan.take(2000))
    assert(lambdas.forall(l => !l.contains("split(")),
      lambdas.mkString("\n"))
    assert(lambdas.forall(l => !l.contains("md5(")),
      lambdas.mkString("\n"))
    // fanOut target = defaultParallelism (4 in this suite)
    assert(plan.contains("Repartition 4"), plan.take(2000))
  }

  test("short documents (< shingle width) neither crash nor cross-collide") {
    // regression: sub-3-word docs used to (a) crash shingles() via an
    // illegal slice, (b) crash minhashNearDup with ANSI DIVIDE_BY_ZERO,
    // (c) collide all short docs through an all-MaxValue minhash sentinel.
    // Semantics: a short doc's shingle set is {whole text}, so identical
    // short docs ARE duplicates while different short docs never collide.
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "foo bar"),
                 (4L, "a proper document with plenty of words to shingle nicely"))
      .toDF("doc_id", "text")
    val sh = df.select(TextOps.shingles($"text", 3).as("s")).collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("hello world") && sh(3).nonEmpty)
    val near = DedupOps.minhashNearDup(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(near.length == 4)
    assert(near(0).getAs[Boolean]("is_dup") && near(1).getAs[Boolean]("is_dup"))
    assert(near(0).getAs[Double]("max_jaccard") == 1.0)
    assert(!near(2).getAs[Boolean]("is_dup") && !near(3).getAs[Boolean]("is_dup"))
    val pairs = DedupOps.ngramJaccardPairs(df, "text", "doc_id").collect()
    assert(pairs.length == 1) // exactly the identical short pair
    assert(pairs(0).getAs[Long]("id_a") == 1L && pairs(0).getAs[Long]("id_b") == 2L)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("VectorDot rejects dimension mismatches instead of truncating") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(graft.functions.VectorFunctions.vec_dot($"a", $"b")).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("dimension mismatch")),
      s"expected a dimension-mismatch error, got: ${messages(ex)}")
  }

  test("TextOps.shingles produces distinct n-grams") {
    val df = Seq(("x", "a b a b a")).toDF("id", "text")
    val sh = df.select(TextOps.shingles($"text", 2).as("s")).collect()(0).getSeq[String](0)
    assert(sh.toSet == Set("a b", "b a"))
  }

  test("SimOps.ivfTopK finds true nearest neighbors for most queries (recall sanity)") {
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val exact = SimOps.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    val ivf = SimOps.ivfTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 1,
        numCells = 8, nprobe = 4)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    assert(ivf.nonEmpty && ivf.keySet.subsetOf(exact.keySet))
    val hits = exact.count { case (q, n) => ivf.get(q).contains(n) }
    assert(hits >= exact.size / 4, s"IVF recall too low: $hits/${exact.size}")
  }

  test("DeconOps.semanticDecontaminate flags near-benchmark vectors only") {
    val bench = Seq((100L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(0.999, 0.01)), // ~0.57° off the benchmark → contaminated
      (2L, Array(0.0, 1.0)),    // orthogonal → clean whatever its bucket
      (3L, null.asInstanceOf[Array[Double]])) // NULL embedding → clean
      .toDF("vec_id", "embedding")
    val got = DeconOps.semanticDecontaminate(train, bench,
        "vec_id", "embedding", tau = 0.95, dim = 2)
      .orderBy("vec_id").collect()
    assert(got(0).getAs[Boolean]("contaminated") &&
      got(0).getAs[Long]("bench_id") == 100L)
    assert(!got(1).getAs[Boolean]("contaminated"))
    assert(got(2).isNullAt(got(2).fieldIndex("sim")) &&
      !got(2).getAs[Boolean]("contaminated"))
  }

  test("SampleOps.groupedBudgetSample budgets each group independently, NULLs last") {
    val df = Seq(
      ("a", 1L, Some(9.0), 50), ("a", 2L, Some(8.0), 50), ("a", 3L, Some(7.0), 50),
      ("b", 4L, Some(1.0), 80), ("b", 5L, None, 30))
      .toDF("g", "id", "score", "tok")
    val kept = SampleOps.groupedBudgetSample(df, "g", "score", "tok", "id", 100L)
      .select("id", "cum_tokens").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a: 50, 100, (150 straddles — dropped); b: 80, then the NULL-score
    // doc spends after every scored doc (110 — dropped)
    assert(kept.toSeq == Seq((1L, 50L), (2L, 100L), (4L, 80L)))
    // a NULL GROUP budgets like any other (null-safe stats joins — a
    // plain equi-join would silently drop these rows entirely)
    val withNull = Seq(
      (Some("a"), 1L, Some(9.0), 50),
      (None, 6L, Some(2.0), 40), (None, 7L, Some(1.0), 70))
      .toDF("g", "id", "score", "tok")
    val keptN = SampleOps.groupedBudgetSample(withNull, "g", "score", "tok", "id", 100L)
      .select("id", "cum_tokens").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(keptN.toSeq == Seq((1L, 50L), (6L, 40L)))
  }

  test("LibOps.robustOutliers DEFAULT pins nothing; pin=true opt-in matches") {
    val df = Seq(("a", 1.0), ("a", 1.1), ("a", 0.9), ("a", 100.0), ("b", 5.0))
      .toDF("k", "v")
    Hygiene.clearAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    // the DEFAULT call path is the safe one (round-7 verdict task 4):
    // a library embedder that never sweeps caches must leak nothing
    val free = LibOps.robustOutliers(df, Seq("k"), "v", 3.0).collect()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "default (pin=false) must not leave checkpointed RDD blocks behind")
    val pinned = LibOps.robustOutliers(df, Seq("k"), "v", 3.0, pin = true).collect()
    assert(free.map(_.toString).sorted.sameElements(pinned.map(_.toString).sorted))
    Hygiene.clearAll(spark)
  }

  test("SampleOps.epochMixture replicates integer epochs and hash-slices the fraction") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("doc_id", "source")
    // a ×2.0: every row exactly twice; b ×0: dropped; c (default 1.0): once
    val got = SampleOps.epochMixture(df, "source", "doc_id",
        Map("a" -> 2.0, "b" -> 0.0))
      .orderBy("doc_id", "copy_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("copy_idx")))
    assert(got.toSeq == Seq((1L, 0), (1L, 1), (2L, 0), (2L, 1), (4L, 0)))
    // fractional epochs: deterministic (two fresh plans agree) and
    // EXACTLY mixtureSample's kept set at the same rate — the ceil
    // threshold rule (bucket < ceil(frac*65536) ⇔ bucket < frac*65536.0)
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val frac1 = ids(SampleOps.epochMixture(df, "source", "doc_id", Map(), 0.5))
    val frac2 = ids(SampleOps.epochMixture(df, "source", "doc_id", Map(), 0.5))
    assert(frac1 == frac2 && frac1.size <= 4 && frac1.distinct == frac1)
    val mix = ids(SampleOps.mixtureSample(df, "source", "doc_id", Map(), 0.5))
    assert(frac1 == mix, s"epochs=0.5 must equal mixtureSample(0.5): $frac1 vs $mix")
  }

  test("groupedSplit on dedup clusters never splits a near-dup cluster") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val split = SampleOps.groupedSplit(
      DedupOps.dedupClusters(docs, "text", "doc_id"),
      "cluster_id", Seq("train" -> 80, "valid" -> 90))
    val perCluster = split.groupBy("cluster_id")
      .agg(countDistinct("split").as("n_folds"), count(lit(1)).as("n_docs"))
    assert(perCluster.filter(col("n_folds") > 1).count() == 0)
    // non-vacuous: the corpus has multi-member near-dup clusters
    assert(perCluster.filter(col("n_docs") > 1).count() > 0)
  }

  test("TextOps.qualityModel scores with exact integer arithmetic") {
    val df = Seq(
      (1L, "the cat is in the hat and it is fine"), // stopword-rich prose
      (2L, "111 111 111 111"),                      // repetitive digit junk
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.qualityModel(df).orderBy("doc_id").collect()
    // doc 1: stop_m=700000 (7/10), dup_m=200000 (2/10), len term 156250
    //   → 540000 + 4*700000 − 3*200000 + 156250 = 2896250
    assert(got(0).getAs[Long]("score") == 2896250L)
    assert(got(0).getAs[Boolean]("keep"))
    assert(!got(1).getAs[Boolean]("keep")) // dup_m/digit_m dominate
    assert(got(1).getAs[Long]("digit_m") == 800000L) // 12 of 15 chars
    assert(got(2).isNullAt(got(2).fieldIndex("score")) &&
      !got(2).getAs[Boolean]("keep")) // NULL text rejects, score stays NULL
  }

  test("SimOps.semanticDedup keeps the farthest-from-centroid duplicate") {
    // two cells on the axes; ids 1/2 are near-duplicates in cell 0 —
    // id 2 sits farther from the centroid (csim 0.9939 < 1.0), so the
    // keep-low-centroid-sim rule keeps 2 and marks 1 the duplicate
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    val cb = Some(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val got = SimOps.semanticDedup(df, "vec_id", "embedding",
        numCells = 2, tau = 0.95, maxCell = 16, codebook = cb)
      .orderBy("vec_id").collect()
    assert(got.map(_.getAs[Boolean]("is_dup")).toSeq ==
      Seq(true, false, false, false))
    assert(got(0).getAs[Int]("cell") == 0 && got(2).getAs[Int]("cell") == 1)
    assert(got(3).isNullAt(got(3).fieldIndex("cell")) &&
      got(3).isNullAt(got(3).fieldIndex("csim"))) // NULL embedding kept
    // the maxCell valve exempts degenerate cells from pairing
    val capped = SimOps.semanticDedup(df, "vec_id", "embedding",
        numCells = 2, tau = 0.95, maxCell = 1, codebook = cb)
      .orderBy("vec_id").collect()
    assert(capped.forall(!_.getAs[Boolean]("is_dup")))
  }

  test("SimOps.semanticDedupIncremental scores the batch against the corpus only") {
    val cb = Some(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val corpus = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val incoming = Seq(
      (10L, Array(0.999, 0.01)),  // near corpus 1 → dup
      (11L, Array(-1.0, 0.0)),    // lands in cell 1, orthogonal → clean
      (12L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    val got = SimOps.semanticDedupIncremental(corpus, incoming,
        "vec_id", "embedding", numCells = 2, tau = 0.95, maxCell = 16,
        codebook = cb)
      .orderBy("vec_id").collect()
    assert(got(0).getAs[Boolean]("is_dup") && got(0).getAs[Long]("nn_id") == 1L)
    assert(!got(1).getAs[Boolean]("is_dup") &&
      got(1).getAs[Double]("sim") == 0.0)
    assert(got(2).isNullAt(got(2).fieldIndex("cell")) &&
      !got(2).getAs[Boolean]("is_dup")) // NULL embedding stays clean
  }

  test("SimOps.clusterBalance caps each learned cell deterministically") {
    val cb = Some(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.8, 0.2)),
      (4L, Array(0.0, 1.0)), (5L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    // cap=2: cell 0 holds {1,2,3} pre-cap (n=3) and keeps the two
    // md5-first ids; cell 1 keeps its single row whole (n=1). The NULL
    // embedding has no cluster and is excluded entirely.
    val got = SimOps.clusterBalance(df, "vec_id", "embedding",
        numCells = 2, cap = 2, codebook = cb).orderBy("vec_id").collect()
    assert(got.length == 3)
    val byCell = got.groupBy(_.getAs[Int]("cell"))
    assert(byCell(0).length == 2 && byCell(0).forall(_.getAs[Long]("n") == 3L))
    assert(byCell(1).length == 1 && byCell(1).head.getAs[Long]("n") == 1L)
    assert(!got.exists(_.getAs[Long]("vec_id") == 5L))
    // the kept pair is the md5-order prefix of the cell, rk dense from 1
    val md5First = Seq(1L, 2L, 3L)
      .sortBy(id => org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString))
      .take(2).toSet
    assert(byCell(0).map(_.getAs[Long]("vec_id")).toSet == md5First)
    assert(byCell(0).map(_.getAs[Int]("rk")).sorted.toSeq == Seq(1, 2))
    // cap >= cell size keeps everything; repartitioning can't change the set
    assert(SimOps.clusterBalance(df, "vec_id", "embedding",
      numCells = 2, cap = 16, codebook = cb).count() == 4)
    val again = SimOps.clusterBalance(df.repartition(7, $"vec_id"),
        "vec_id", "embedding", numCells = 2, cap = 2, codebook = cb)
      .orderBy("vec_id").collect()
    assert(again.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
    // the rank filter must plan as WindowGroupLimit: per-task state is
    // bounded to cap rows per cell BEFORE the exchange (the scale claim)
    val plan = SimOps.clusterBalance(df, "vec_id", "embedding",
        numCells = 2, cap = 2, codebook = cb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("SimOps.ivfTopKFiltered: filter-before-rank over a full-corpus index") {
    import org.apache.spark.sql.functions.col
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val q = e.filter($"vec_id" < 5)
    val got = SimOps.ivfTopKFiltered(q, e, "vec_id", "embedding",
      col("label") % 2 === 0, 5).collect()
    // every neighbor satisfies the predicate...
    val evenIds = e.filter($"label" % 2 === 0)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => evenIds.contains(r.getAs[Long]("nid"))))
    // ...and each query still gets a FULL k (filter-before-rank): a
    // post-filtered unfiltered top-5 would keep only its even-label
    // subset, which for this fixture is strictly smaller somewhere
    val perQ = got.groupBy(_.getAs[Long]("qid")).view.mapValues(_.length)
    assert(perQ.values.forall(_ == 5), s"short result: ${perQ.toMap}")
    val plain = SimOps.ivfTopK(q, e, "vec_id", "embedding", 5)
      .collect().filter(r => evenIds.contains(r.getAs[Long]("nid")))
    assert(plain.groupBy(_.getAs[Long]("qid")).exists(_._2.length < 5),
      "fixture too easy: post-filtering lost nothing, test proves nothing")
  }

  test("TextOps.bm25PerQuery: query-by-document ranking properties") {
    val corpus = Seq(
      (10L, "apple banana apple"),
      (11L, "apple cherry"),
      (12L, "banana banana durian"),
      (13L, "elderberry fig")).toDF("doc_id", "text")
    val queries = Seq((10L, "apple banana apple")).toDF("doc_id", "text")
    val got = TextOps.bm25PerQuery(queries, corpus, topN = 10)
      .orderBy("rnk").collect()
    // the query doc itself is excluded; zero-overlap docs never appear
    assert(!got.exists(_.getAs[Long]("nid") == 10L))
    assert(!got.exists(_.getAs[Long]("nid") == 13L))
    // ranks are dense from 1 and ordered by score desc
    assert(got.map(_.getAs[Int]("rnk")).toSeq == (1 to got.length))
    val scores = got.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // both remaining docs match on one query term each
    assert(got.map(_.getAs[Long]("nid")).toSet == Set(11L, 12L))
  }

  test("SimOps.mmrTopK: greedy diversification prefers diverse over redundant") {
    // query 0 = (1,0); 1 and 2 are IDENTICAL vectors at +26° (sim 0.9,
    // mutual csim 1.0), 3 mirrors at -26° (sim 0.9, csim(3,1) ≈ 0.62).
    // Step 1 takes nid 1 (sim tie, nid order). At lambda 0.5 step 2
    // must take the DIVERSE 3 (0.45 - 0.31) over the duplicate 2
    // (0.45 - 0.50) — a pure-relevance top-2 would take 2.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.4358899f)),
      (2L, Array(0.9f, 0.4358899f)),
      (3L, Array(0.9f, -0.4358899f))).toDF("vec_id", "embedding")
    val got = SimOps.mmrTopK(df.filter($"vec_id" === 0L), df,
        "vec_id", "embedding", k = 3, poolN = 3, lambda = 0.5)
      .orderBy("step").collect()
    assert(got.map(r => (r.getAs[Int]("step"), r.getAs[Long]("nid"))).toSeq ==
      Seq((1, 1L), (2, 3L), (3, 2L)))
    // steps carry the ORIGINAL query sims, monotone rank-1 first
    assert(got(0).getAs[Double]("sim") >= got(2).getAs[Double]("sim"))
    // the greedy is row-local array math over ONE grouped frame: the
    // plan must stay linear in k — base relations appear a constant
    // number of times, not once per step (the join-based unroll this
    // replaced scanned the pool subplan 485 times at k = 5)
    def nScans(k: Int) = "LocalTableScan".r.findAllIn(
      SimOps.mmrTopK(df.filter($"vec_id" === 0L), df,
          "vec_id", "embedding", k = k, poolN = 3, lambda = 0.5)
        .queryExecution.executedPlan.toString).size
    val (s2, s3) = (nScans(2), nScans(3))
    assert(s2 == s3 && s3 <= 10,
      s"base-relation scan count must be constant in k, got k=2:$s2 k=3:$s3")
    // partition-invariant (the determinism contract)
    val again = SimOps.mmrTopK(df.repartition(5).filter($"vec_id" === 0L),
        df.repartition(3), "vec_id", "embedding", k = 3, poolN = 3,
        lambda = 0.5)
      .orderBy("step").collect()
    assert(again.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("SimOps.rrfFuse: exact reciprocal-rank fusion of two lists") {
    val lex = Seq((1L, 100L, 1), (1L, 101L, 2)).toDF("qid", "nid", "rnk")
    val vec = Seq((1L, 101L, 1), (1L, 102L, 2)).toDF("qid", "nid", "rnk")
    val got = SimOps.rrfFuse(lex, vec, k = 3).orderBy("rnk").collect()
    // 101 appears in both lists (1/62 + 1/61) and must win
    assert(got.map(_.getAs[Long]("nid")).toSeq == Seq(101L, 100L, 102L))
    val r101 = got(0)
    assert(r101.getAs[Int]("rnk_lex") == 2 && r101.getAs[Int]("rnk_vec") == 1)
    assert(math.abs(r101.getAs[Double]("rrf") -
      BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    // one-sided docs carry a null rank from the missing side
    assert(got(1).isNullAt(got(1).fieldIndex("rnk_vec")))
    assert(got(2).isNullAt(got(2).fieldIndex("rnk_lex")))
    // 100 (lex rank 1: 1/61) beats 102 (vec rank 2: 1/62)
    assert(got(1).getAs[Double]("rrf") > got(2).getAs[Double]("rrf"))
  }

  test("SimOps.recallAtK scores approx hits over the exact denominator") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "nid")
    // q1: one hit + one miss + an extra approx row outside the exact
    // set (must not inflate recall); q2: perfect
    val approx = Seq((1L, 10L), (1L, 99L), (1L, 98L), (2L, 20L), (2L, 21L))
      .toDF("qid", "nid")
    val got = SimOps.recallAtK(exact, approx).orderBy("qid").collect()
    assert(got.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("k"),
      r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toSeq ==
      Seq((1L, 2L, 1L, 0.5), (2L, 2L, 2L, 1.0)))
    // a query the approx side missed entirely still reports (recall 0)
    val none = SimOps.recallAtK(exact, approx.filter($"qid" =!= 2L))
      .orderBy("qid").collect()
    assert(none(1).getAs[Long]("n_hit") == 0L &&
      none(1).getAs[Double]("recall") == 0.0)
  }

  test("SimOps.trainCentroids: deterministic k-means improves or matches IVF recall") {
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val trained = SimOps.trainCentroids(e, "vec_id", "embedding", numCells = 8, iters = 2)
    assert(trained.length == 8 && trained.forall(_.length == 64))
    val again = SimOps.trainCentroids(e, "vec_id", "embedding", numCells = 8, iters = 2)
    assert(trained.zip(again).forall { case (a, b) => a.sameElements(b) }) // deterministic
    val exact = SimOps.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    val ivf = SimOps.ivfTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 1,
        numCells = 8, nprobe = 4, codebook = Some(trained))
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    val hits = exact.count { case (q, n) => ivf.get(q).contains(n) }
    assert(hits >= exact.size / 4, s"trained-IVF recall too low: $hits/${exact.size}")
  }

  test("PackOps.packBudget equals the single-window formulation, bins are budget-bounded") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val toks = docs.select($"doc_id", size(split($"text", " ")).cast("int").as("n_tokens"))
    // small bucketWidth so the two-level prefix sum actually cascades
    // across many buckets
    val packed = PackOps.packBudget(toks, "doc_id", "n_tokens", budget = 1000L, bucketWidth = 64L)
      .select($"doc_id", $"bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive global-window reference (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
    val ref = toks.withColumn("cum", sum($"n_tokens".cast("long")).over(w))
      .select($"doc_id", (($"cum" - $"n_tokens") / 1000L).cast("long").as("bin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed == ref)
    // bins are contiguous from 0
    val bins = packed.values.toSet
    assert(bins == (0L until bins.size).toSet)
  }

  test("DedupOps.keepBest: one doc per cluster, members add up, longest wins") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val kept = DedupOps.keepBest(docs, "text", "doc_id").collect()
    val clusters = DedupOps.dedupClusters(docs, "text", "doc_id")
      .select($"cluster_id").distinct().count()
    assert(kept.length == clusters) // exactly one keeper per cluster
    assert(kept.map(_.getAs[Int]("n_members").toLong).sum == docs.count())
    // the keeper dominates its cluster on (n_tokens, -doc_id)
    val multi = kept.filter(_.getAs[Int]("n_members") > 1)
    assert(multi.nonEmpty, "sf0.001 should have near-dup clusters")
    multi.foreach { r =>
      assert(r.getAs[Long]("kept_doc_id") >= 0 && r.getAs[Int]("n_tokens") > 0)
    }
  }

  test("SampleOps: stratified cap respected and hash sampling is stable") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val s1 = SampleOps.stratifiedSample(docs, "lang", "doc_id", 20)
      .select($"lang", $"doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // per-stratum cap
    assert(s1.groupBy(_._1).forall(_._2.size <= 20))
    // reproducible under a different partitioning (the whole point vs rand())
    val s2 = SampleOps.stratifiedSample(docs.repartition(7, $"doc_id"), "lang", "doc_id", 20)
      .select($"lang", $"doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s1 == s2)
    val n = docs.count()
    val half = SampleOps.hashSample(docs, "doc_id", 0.5).count()
    assert(half > n / 4 && half < 3 * n / 4, s"hashSample(0.5) kept $half of $n")
    assert(SampleOps.hashSample(docs, "doc_id", 0.5).count() == half) // deterministic
  }

  test("SimOps.pqTopK: sims are exact cosines from brute-force, decent recall") {
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val exact = SimOps.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 50)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("sim")).toMap
    val pq = SimOps.pqTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5).collect()
    assert(pq.nonEmpty)
    // every emitted sim is the true cosine (re-rank is exact, only the
    // candidate set is approximate)
    pq.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      exact.get(key).foreach(s => assert(s == r.getAs[Double]("sim"), s"sim mismatch at $key"))
    }
    // recall vs the true top-1
    val top1 = SimOps.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    val got = pq.groupBy(_.getAs[Long]("qid")).view.mapValues(_.map(_.getAs[Long]("nid")).toSet)
    val hits = top1.count { case (q, n) => got.get(q).exists(_.contains(n)) }
    assert(hits >= top1.size / 4, s"PQ recall too low: $hits/${top1.size}")
  }

  test("SimOps.trainCentroids: null embeddings are ignored, empty corpus returns empty") {
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val clean = SimOps.trainCentroids(e, "vec_id", "embedding", numCells = 4, iters = 1)
    // a null-embedding row must not perturb any centroid (it used to
    // unbox cell=null to 0 and zero out centroid 0)
    val withNull = e.select($"vec_id", $"embedding")
      .union(Seq((-1L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val trained = SimOps.trainCentroids(withNull, "vec_id", "embedding", numCells = 4, iters = 1)
    assert(clean.zip(trained).forall { case (a, b) => a.sameElements(b) })
    val empty = SimOps.trainCentroids(e.filter($"vec_id" < 0), "vec_id", "embedding",
      numCells = 4, iters = 2)
    assert(empty.isEmpty)
  }

  test("LibOps.observed exposes query-level metrics (C8)") {
    val df = Seq(1, 2, 3).toDF("v")
    val obs = LibOps.observed(df, "m", Seq(count(lit(1)).as("n"), sum($"v").as("s")))
    obs.collect()
    // metric row is retrievable from the last query execution
    val m = obs.queryExecution.observedMetrics("m")
    assert(m.getAs[Long]("n") == 3 && m.getAs[Long]("s") == 6)
  }

  test("SimOps.lshTopK results are a subset of brute-force rankings") {
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val exact = SimOps.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 50)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val lsh = SimOps.lshTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
    assert(lsh.nonEmpty)
    // every LSH hit is a genuine neighbor pair (sim computed identically),
    // and in-bucket rank order respects the exact sim ordering
    val lshSims = SimOps.lshTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
      .collect().groupBy(_.getAs[Long]("qid"))
    lshSims.values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("sim"))
      assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
    }
  }

  test("multi-probe LSH recall >= single-probe recall against exact top-1") {
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val exact = SimOps.bruteForceTopK(e.filter($"vec_id" < 20), e, "vec_id", "embedding", 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    def recall(mp: Boolean): Int = {
      val got = SimOps.lshTopK(e.filter($"vec_id" < 20), e, "vec_id", "embedding", 1,
          multiProbe = mp)
        .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
      exact.count { case (q, n) => got.get(q).contains(n) }
    }
    val single = recall(false); val multi = recall(true)
    assert(multi >= single, s"multi-probe recall $multi < single $single")
  }

  test("TextOps.langId predicts the dominant stopword language") {
    val df = Seq(
      (1L, "the cat and the dog is in the house"),
      (2L, "el gato y la casa de que los perros"),
      (3L, "qqq zzz xxx")).toDF("doc_id", "text")
    val got = TextOps.langId(df).orderBy("doc_id")
      .select("predicted_lang").collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "es", "und"))
  }

  test("TextOps fingerprints are deterministic across evaluations") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001).limit(20)
    val a = TextOps.rollingFingerprint(docs, "text", 3)
      .select("doc_id", "min_shingle_hash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = TextOps.rollingFingerprint(docs, "text", 3)
      .select("doc_id", "min_shingle_hash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("Codec.decodeJson yields nulls for missing fields (schema-on-read)") {
    import graft.io.Codec
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val lines = Seq("""{"id": 1, "name": "x"}""", """{"id": 2}""", "not json").toDS()
    val got = Codec.decodeJson(lines, schema).collect()
    assert(got.length == 3)
    assert(got(1).isNullAt(1)) // missing name -> null
    assert(got(2).isNullAt(0)) // unparseable -> null record
  }

  test("JoinOps.asofJoinBackward picks latest right at-or-before, else null") {
    val left = Seq((1L, 5L, "L1"), (1L, 10L, "L2"), (2L, 7L, "L3")).toDF("k", "ts", "tag")
    val right = Seq((1L, 5L, "a"), (1L, 8L, "b"), (1L, 11L, "late"), (2L, 9L, "c"))
      .toDF("k", "ts", "v")
    val got = JoinOps.asofJoinBackward(left, right, Seq("k"), "ts", Seq("ts", "v"))
      .orderBy("k", "ts").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("ts"), r.getAs[String]("tag"),
        Option(r.getAs[java.lang.Long]("asof_ts")).map(_.toLong),
        Option(r.getAs[String]("asof_v"))))
    assert(got.toSeq == Seq(
      (1L, 5L, "L1", Some(5L), Some("a")),   // at-or-before is inclusive
      (1L, 10L, "L2", Some(8L), Some("b")),  // latest prior, not just any
      (2L, 7L, "L3", None, None)))           // no prior right -> left-outer null
    assert(got.length == left.count())       // never duplicates left rows
  }

  test("native SignSketch equals the literal-tree sign-sketch formulation") {
    import graft.functions.{IvfFunctions, VectorFunctions}
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001).limit(100)
    val r = new scala.util.Random(42L)
    val planes = Array.fill(8)(Array.fill(64)(r.nextGaussian()))
    // reference: the composable form SignSketch replaced
    val ref = planes.zipWithIndex.map { case (w, p) =>
      val wLit = array(w.toIndexedSeq.map(lit): _*)
      when(VectorFunctions.vec_dot($"embedding", wLit) >= 0, shiftleft(lit(1), p))
        .otherwise(lit(0))
    }.reduce(_.bitwiseOR(_))
    val rows = e.select(
      IvfFunctions.sign_sketch($"embedding", planes).as("native"),
      ref.as("reference")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("native CellArgmax/CellTopCells equal the struct-ordering formulations") {
    import graft.functions.{IvfFunctions, VectorFunctions}
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001).limit(100)
    val centroids = e.orderBy($"vec_id").limit(8).select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // reference: struct-ordering argmax / reverse-sorted probe list
    val sims = array(centroids.toIndexedSeq.zipWithIndex.map { case (cVec, i) =>
      val cLit = array(cVec.toIndexedSeq.map(lit): _*)
      struct((VectorFunctions.vec_dot($"embedding", cLit) /
        math.sqrt(cVec.map(x => x * x).sum)).as("s"), lit(i).as("cell"))
    }: _*)
    val rows = e.select(
      IvfFunctions.cell_argmax($"embedding", centroids).as("am_native"),
      array_max(sims).getField("cell").as("am_ref"),
      IvfFunctions.cell_top_cells($"embedding", centroids, 3).as("top_native"),
      slice(reverse(array_sort(sims)), 1, 3).getField("cell").as("top_ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.getSeq[Int](2) == r.getSeq[Int](3))
    }
  }

  test("asofJoinBackward carries payload fields atomically from the matched row") {
    // regression: per-column last(ignoreNulls) carries skipped a
    // genuinely-NULL payload value and stitched fields from two
    // different right rows; the struct carry must return the matched
    // row as-is, nulls included
    val left = Seq((1L, 12L)).toDF("k", "ts")
    val right = Seq((1L, 5L, Option(3.0)), (1L, 10L, Option.empty[Double]))
      .toDF("k", "ts", "v")
    val row = JoinOps.asofJoinBackward(left, right, Seq("k"), "ts", Seq("ts", "v"))
      .collect()(0)
    assert(row.getAs[Long]("asof_ts") == 10L)   // matched row is ts=10...
    assert(row.isNullAt(row.fieldIndex("asof_v"))) // ...whose v IS null
  }

  test("asofJoinBackward agrees with a per-row reference scan on random data") {
    val rnd = new scala.util.Random(7L)
    val left = Seq.tabulate(200)(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val right = Seq.tabulate(150)(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong * 7 % 1000, i * 10L))
      .distinctBy(r => (r._1, r._2)) // operator contract: unique (key, ts) on the right
    val lDf = left.toDF("k", "ts", "lid")
    val rDf = right.toDF("k", "ts", "payload")
    val got = JoinOps.asofJoinBackward(lDf, rDf, Seq("k"), "ts", Seq("payload"))
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("ts"), r.getAs[Long]("lid")) ->
        Option(r.getAs[java.lang.Long]("asof_payload")).map(_.toLong))
      .toMap
    assert(got.size == left.size)
    left.foreach { case (k, ts, lid) =>
      val expected = right.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got((k, ts, lid)) == expected, s"key=$k ts=$ts")
    }
  }

  test("DedupOps.dedupClusters groups transitively-linked near-dups") {
    // sliding windows over w1..w36: J(A,B) = J(B,C) = 25/31 ≈ 0.806
    // (edges at 0.7) while J(A,C) = 22/34 ≈ 0.647 (NO direct edge) —
    // only genuine transitive propagation can cluster A with C
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (4 to 33).map(i => s"w$i").mkString(" ")
    val c = (7 to 36).map(i => s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"z$i").mkString(" ")
    val df = Seq((10L, a), (20L, b), (30L, c), (40L, other)).toDF("doc_id", "text")
    // precondition: the A-C pair really is below threshold (guards the
    // test's own premise against shingle-width drift) — UNROUNDED,
    // the same value dedupClusters thresholds on
    val direct = DedupOps.ngramJaccardPairs(df, "text", "doc_id", roundJaccard = false)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(direct((10L, 20L)) >= 0.7 && direct((20L, 30L)) >= 0.7)
    assert(direct((10L, 30L)) < 0.7)
    val got = DedupOps.dedupClusters(df, "text", "doc_id", threshold = 0.7)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 10L), (20L, 10L), (30L, 10L), (40L, 40L)))
  }

  test("MediaOps.resizeMedia rewrites metadata and bounds output size") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001).limit(10)
    val media = MediaOps.attachMedia(docs)
    val resized = MediaOps.resizeMedia(spark, media, 64, 64).collect()
    assert(resized.length == 10)
    val inLens = media.select("doc_id", "media").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).length).toMap
    resized.foreach { r =>
      assert(r.getAs[Int]("width") == 64 && r.getAs[Int]("height") == 64)
      val outLen = r.getAs[Array[Byte]]("media").length
      assert(outLen >= 1 && outLen <= inLens(r.getAs[Long]("doc_id")))
    }
    // deterministic across evaluations
    val again = MediaOps.resizeMedia(spark, media, 64, 64).collect()
    assert(resized.map(_.getAs[Array[Byte]]("media").toSeq).toSeq ==
      again.map(_.getAs[Array[Byte]]("media").toSeq).toSeq)
  }

  test("MediaOps.resizeMedia handles empty media (regression: media(-1) crash)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media", BinaryType),
      StructField("mime", StringType), StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Array.emptyByteArray, "application/fake", 100, 100),
      org.apache.spark.sql.Row(2L, "abc".getBytes("UTF-8"), "application/fake", 100, 100))
    val media = spark.createDataFrame(rows, schema)
    val out = MediaOps.resizeMedia(spark, media, 64, 64).orderBy("doc_id").collect()
    assert(out(0).getAs[Array[Byte]]("media").isEmpty)  // empty in -> empty out
    assert(out(0).getAs[Int]("width") == 64)
    assert(out(1).getAs[Array[Byte]]("media").nonEmpty)
  }

  test("MediaOps feature extraction is deterministic and sized right") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001).limit(10)
    val feats = MediaOps.extractFeatures(spark, MediaOps.attachMedia(docs)).collect()
    assert(feats.length == 10)
    feats.foreach { f =>
      assert(f.byte_len > 0 && f.n_frames == f.byte_len / 64)
      assert(f.frame_checksums.length == (f.n_frames + 3) / 4)
    }
  }

  test("MapRedTest drivers run mapper/reducer closures without a SparkSession") {
    // the user-facing mapredtest surface (SURVEY.md §5.1): the same
    // closures drop into MapRed.mapRecords/reduceRecords unchanged
    val mapper = (_: Long, text: String) => text.split(' ').iterator.map(w => (w, 1L))
    val reducer = (w: String, ns: Iterator[Long]) => Iterator.single((w, ns.sum))
    val in = Seq((1L, "a b a"), (2L, "b a"))
    assert(MapRedTest.MapDriver(mapper).run(in) ==
      Seq(("a", 1L), ("b", 1L), ("a", 1L), ("b", 1L), ("a", 1L)))
    assert(MapRedTest.ReduceDriver[String, Long, String, Long](reducer).run(
      Seq(("a", 2L), ("b", 1L), ("a", 1L))) == Seq(("a", 3L), ("b", 1L)))
    // secondary-sort contract: values arrive sorted when requested
    val firstVal = (k: String, vs: Iterator[Long]) => Iterator.single((k, vs.next()))
    assert(MapRedTest.ReduceDriver[String, Long, String, Long](firstVal, Some(Ordering.Long))
      .run(Seq(("a", 9L), ("a", 3L), ("a", 7L))) == Seq(("a", 3L)))
    val full = MapRedTest.MapReduceDriver(mapper, reducer)
    val withComb = MapRedTest.MapReduceDriver(mapper, reducer, Some((a: Long, b: Long) => a + b))
    val expected = Seq(("a", 3L), ("b", 2L))
    assert(full.run(in) == expected)
    assert(withComb.run(in) == expected) // combiner law: same answer
  }

  test("MapRedTest drivers agree with the Spark MapRed layer on the same closures") {
    // mapredtest's core promise: a closure validated in the driver
    // behaves identically when dropped into the distributed layer
    import spark.implicits._
    val mapper = (_: Long, text: String) => text.split(' ').iterator.map(w => (w, 1L))
    val reducer = (w: String, ns: Iterator[Long]) => Iterator.single((w, ns.sum))
    val input = Seq((1L, "x y x z"), (2L, "z x"), (3L, "y"))
    val driver = MapRedTest.MapReduceDriver(mapper, reducer).run(input).toSet
    val ds = input.toDF("k", "v").as[(Long, String)]
    val cluster = MapRed.reduceRecords(MapRed.mapRecords(ds)(mapper))(reducer)
      .collect().toSet
    assert(driver == cluster)
  }

  test("lshTopK/ivfTopK never broadcast a corpus-sized query side (self-join)") {
    // dedup_embedding passes the corpus as its own query set: at 100 TB
    // a broadcast of that side is a guaranteed OOM, so the self-join
    // path must plan a co-partitioned shuffle join on the bucket/cell
    // key. Small external query sets must still broadcast.
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val selfLsh = SimOps.lshTopK(e, e, "vec_id", "embedding", 1)
    val planLsh = selfLsh.queryExecution.executedPlan.toString
    assert(!planLsh.contains("BroadcastExchange"), "self-join LSH must not broadcast")
    assert(planLsh.contains("SortMergeJoin"))
    val selfIvf = SimOps.ivfTopK(e, e, "vec_id", "embedding", 1)
    val planIvf = selfIvf.queryExecution.executedPlan.toString
    assert(!planIvf.contains("BroadcastExchange"), "self-join IVF must not broadcast")
    // same-plan-different-object still counts as a self-join
    val e2 = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val selfByPlan = SimOps.lshTopK(e2, e, "vec_id", "embedding", 1)
    assert(!selfByPlan.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    // a genuinely small query set keeps the broadcast
    val ann = SimOps.lshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 3)
    assert(ann.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
  }

  test("Bucketing: co-located join plans with zero shuffle exchanges") {
    import graft.io.Bucketing
    val a = (1L to 200L).map(i => (i, s"p${i % 5}")).toDF("k", "tag")
    val b = (1L to 600L).map(i => (i % 200 + 1, i.toDouble)).toDF("k2", "v")
    Bucketing.write(a, "t_buck_a", 4, Seq("k"))
    Bucketing.write(b, "t_buck_b", 4, Seq("k2"))
    val joined = spark.table("t_buck_a").hint("merge")
      .join(spark.table("t_buck_b"), $"k" === $"k2")
      .groupBy($"tag").agg(sum($"v").as("sv"))
    assert(joined.count() == 5)
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself is exchange-free: scans satisfy the distribution.
    // (the final 5-row groupBy still exchanges; assert the JOIN inputs)
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, plan)
    assert(!plan.substring(joinIdx).contains("Exchange"), plan)
    // control: the same join over non-bucketed inputs shuffles both sides
    val flat = a.hint("merge").join(b, $"k" === $"k2")
    val flatPlan = flat.queryExecution.executedPlan.toString
    val flatIdx = flatPlan.indexOf("SortMergeJoin")
    assert(flatPlan.substring(flatIdx).contains("Exchange"), flatPlan)
    Bucketing.drop(spark, "t_buck_a"); Bucketing.drop(spark, "t_buck_b")
  }

  test("Layout.writeSorted yields disjoint prunable row-group ranges") {
    import graft.io.Layout
    val dir = "/tmp/graft_test_layout"
    val df = (0L until 10000L).map(i => ((i * 7919) % 10000, i))
      .toDF("k", "v") // shuffled key order: unsorted input
    Layout.writeSorted(df, dir, 8, Seq($"k"))
    val stats = Layout.rowGroupStats(spark, dir, "k").sortBy(_._3)
    assert(stats.size >= 8)
    // ranges are disjoint (sorted within, range-partitioned across)
    stats.sliding(2).foreach {
      case Seq((_, _, _, max1), (_, _, min2, _)) => assert(max1 < min2)
      case _ =>
    }
    // a 10% key range overlaps at most 2 of the >=8 row groups — the
    // skipping property the sorted layout exists for
    val overlapping = stats.count { case (_, _, mn, mx) => mx >= 0 && mn <= 999 }
    assert(overlapping <= 2, stats.mkString(", "))
    // lossless: read-back under a pushed range filter matches the source
    val got = spark.read.parquet(dir).filter($"k" < 100).count()
    assert(got == 100)
  }

  test("Layout.ZOrder narrows per-file ranges on BOTH dimensions") {
    import graft.io.Layout
    // a 64x64 grid in shuffled order: x and y are independent keys
    val grid = (0L until 4096L).map(i => ((i * 2711) % 4096))
      .map(j => (j % 64, j / 64)).toDF("x", "y")
    val zDir = "/tmp/graft_test_zorder"
    Layout.ZOrder.writeZOrdered(grid, zDir, 16, "x", "y")
    def spans(dir: String, c: String): Seq[Long] =
      Layout.rowGroupStats(spark, dir, c).map { case (_, _, mn, mx) => mx - mn }
    // 16 z-tiles over a 64x64 grid: files cover ~a quarter of each
    // dimension on average (a range boundary straddling a quadrant
    // seam can widen an individual file, so assert the mean)
    def avg(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    assert(avg(spans(zDir, "x")) <= 24, spans(zDir, "x").mkString(","))
    assert(avg(spans(zDir, "y")) <= 24, spans(zDir, "y").mkString(","))
    // contrast: the single-key sorted layout leaves y full-width
    val sDir = "/tmp/graft_test_zorder_sorted"
    Layout.writeSorted(grid, sDir, 16, Seq($"x"))
    assert(avg(spans(sDir, "y")) >= 55)
    // lossless: content survives the rewrite
    assert(spark.read.parquet(zDir).groupBy("x").count().collect().toSet ==
      grid.groupBy("x").count().collect().toSet)
  }

  test("Tables.readEvolved surfaces columns an unmergéd read can drop") {
    import graft.io.Tables
    val v1 = "/tmp/graft_test_evolve_v1"
    val v2 = "/tmp/graft_test_evolve_v2"
    // each version has a column the OTHER lacks, so NO single footer
    // carries the full schema — an unmerged read (whichever footer it
    // samples) deterministically fails the columns assertion below
    (0L until 50L).map(i => (i, i * 2)).toDF("id", "only1")
      .write.mode("overwrite").parquet(v1)
    (50L until 80L).map(i => (i, s"s$i")).toDF("id", "only2")
      .write.mode("overwrite").parquet(v2)
    val merged = Tables.readEvolved(spark, Seq(v1, v2))
    assert(merged.columns.toSet == Set("id", "only1", "only2"))
    assert(merged.count() == 80L)
    // rows read the other version's column as NULL, their own as data
    assert(merged.where(col("only1").isNotNull).count() == 50L)
    assert(merged.where(col("only2").isNotNull).count() == 30L)
  }

  test("Layout.compact collapses a fragmented directory losslessly") {
    import graft.io.Layout
    val frag = "/tmp/graft_test_compact_in"
    val out = "/tmp/graft_test_compact_out"
    val df = (0L until 5000L).map(i => (i, i % 7)).toDF("id", "g")
    df.repartition(40).write.mode("overwrite").parquet(frag)
    val parts = Layout.compact(spark, frag, out, targetBytes = 512L * 1024)
    val outFiles = new java.io.File(out).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(outFiles == parts && parts < 10, s"parts=$parts files=$outFiles")
    // lossless: every row survives the rewrite
    assert(spark.read.parquet(out).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (0L until 5000L))
  }

  test("Layout.writePartitioned prunes partitions: selected files < total") {
    import graft.io.Layout
    val dir = "/tmp/graft_test_hivepart"
    val df = (0L until 3000L)
      .map(i => (i, s"m${i % 6}", i % 7)).toDF("id", "m", "v")
    Layout.writePartitioned(df, dir, Seq("m"))
    // total data files on disk (recursive: files live in m=... dirs)
    def countFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(countFiles).sum
      else if (f.getName.startsWith("part-")) 1 else 0
    val total = countFiles(new java.io.File(dir))
    assert(total >= 6, s"expected >=6 partition files, got $total")
    val q = spark.read.parquet(dir).filter($"m" === "m3")
    // planning-time pruning: the partition predicate lands in
    // PartitionFilters (non-empty), NOT in the data filter
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(m"), plan)
    // and the scan actually opens only the matching directory's files
    val filesRead = q.select(input_file_name()).distinct().count()
    assert(filesRead < total, s"read $filesRead of $total files")
    assert(q.count() == 500)
    graft.io.FsOps.rm(spark, dir)
  }

  test("Layout.writePartitioned filesPerPartition>1 spreads a hot partition losslessly") {
    import graft.io.Layout
    val dir = "/tmp/graft_test_hivepart_multi"
    // hot partition: 90% of rows in m=hot — the case the salt exists for
    val df = ((0L until 4500L).map(i => (i, "hot")) ++
      (4500L until 5000L).map(i => (i, s"cold${i % 2}"))).toDF("id", "m")
    val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet
    Layout.writePartitioned(df, dir, Seq("m"), filesPerPartition = 4)
    def files(sub: String): Int = new java.io.File(s"$dir/m=$sub")
      .listFiles().count(_.getName.startsWith("part-"))
    // the hot directory is spread over up to 4 files, more than 1
    assert(files("hot") > 1 && files("hot") <= 4,
      s"hot files=${files("hot")}")
    // lossless: every row comes back exactly once, partition col intact
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      (0L until 5000L).toSet)
    assert(back.filter($"m" === "hot").count() == 4500)
    // the staged salt frame is released after the write: no NEW pinned
    // RDD survives the call (unpersist removes from the registry
    // synchronously; blocking=false only defers block deletion)
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .diff(pinsBefore).isEmpty)
    graft.io.FsOps.rm(spark, dir)
  }

  test("dynamic partition pruning plants a runtime filter in the fact scan") {
    import graft.io.Layout
    val dir = "/tmp/graft_test_dpp"
    val fact = (0L until 4000L).map(i => (i, s"d${i % 8}")).toDF("v", "day")
    Layout.writePartitioned(fact, dir, Seq("day"))
    // the dim must be a real source scan: a filter over an in-memory
    // LocalRelation constant-folds away before the PartitionPruning
    // rule runs, and DPP only fires on a surviving selective predicate
    val dimDir = "/tmp/graft_test_dpp_dim"
    (0 until 8).map(i => (s"d$i", if (i < 2) "hot" else "cold"))
      .toDF("day_key", "tier").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = spark.read.parquet(dir)
      .join(broadcast(dim.filter($"tier" === "hot")), $"day" === $"day_key")
      .groupBy($"day").agg(count(lit(1)).as("n"))
    val rows = q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression in the fact scan:\n$plan")
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("d0", 500L), ("d1", 500L)))
    graft.io.FsOps.rm(spark, dir); graft.io.FsOps.rm(spark, dimDir)
  }

  test("Layout.compactPartitioned compacts per-partition, preserving layout") {
    import graft.io.Layout
    val frag = "/tmp/graft_test_pcompact_in"
    val out = "/tmp/graft_test_pcompact_out"
    // skewed partitions (g=a 4x g=b), plus a NULL partition value —
    // fragment every partition into ~12 files
    val df = ((0L until 4000L).map(i => (i, "a")) ++
      (4000L until 5000L).map(i => (i, "b")) ++
      (5000L until 5100L).map(i => (i, null: String))).toDF("id", "g")
    df.repartition(12).write.mode("overwrite").partitionBy("g").parquet(frag)
    def filesUnder(d: java.io.File): Map[String, Int] =
      d.listFiles().filter(_.isDirectory).map(sub =>
        sub.getName -> sub.listFiles().count(_.getName.startsWith("part-"))).toMap
    val before = filesUnder(new java.io.File(frag))
    assert(before.values.forall(_ >= 10), before.toString)
    val (dirs, _) = Layout.compactPartitioned(spark, frag, out, Seq("g"),
      targetBytes = 512L * 1024 * 1024)
    assert(dirs == 3)
    val after = filesUnder(new java.io.File(out))
    // partitioning preserved (incl. the Hive null sentinel), each
    // partition collapsed to its byte-budget file count (1 here)
    assert(after.keySet == before.keySet, after.toString)
    assert(after.values.forall(_ == 1), after.toString)
    // lossless, null partition included
    assert(spark.read.parquet(out).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (0L until 5100L))
    assert(spark.read.parquet(out).filter($"g".isNull).count() == 100)
    graft.io.FsOps.rm(spark, frag); graft.io.FsOps.rm(spark, out)
  }

  test("Layout.compactPartitioned survives type-inference-hostile tokens") {
    import graft.io.Layout
    // zero-padded values: partition inference would re-type "007" as
    // int 7 and the parts join would then drop the whole partition —
    // the compaction must preserve directory tokens byte-for-byte
    val frag = "/tmp/graft_test_pcompact_pad_in"
    val out = "/tmp/graft_test_pcompact_pad_out"
    val df = (0L until 900L).map(i => (i, f"${i % 3}%03d")).toDF("id", "g")
    df.repartition(6).write.mode("overwrite").partitionBy("g").parquet(frag)
    val (dirs, _) = Layout.compactPartitioned(spark, frag, out, Seq("g"),
      targetBytes = 512L * 1024 * 1024)
    assert(dirs == 3)
    val outDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(outDirs == Set("g=000", "g=001", "g=002"), outDirs.toString)
    assert(spark.read.parquet(out).count() == 900)
    graft.io.FsOps.rm(spark, frag); graft.io.FsOps.rm(spark, out)
  }

  test("MergeOps aggState merge law: state(a) ++ state(b) == state(a ∪ b)") {
    val a = Seq(("x", 1.0), ("x", 2.0), ("y", 5.0)).toDF("k", "v")
    val b = Seq(("x", 10.0), ("z", -1.0)).toDF("k", "v")
    val merged = MergeOps.mergeAggState(
      MergeOps.aggState(a, Seq("k"), Seq("v")),
      MergeOps.aggState(b, Seq("k"), Seq("v")),
      Seq("k"), Seq("v")).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val direct = MergeOps.aggState(a.unionByName(b), Seq("k"), Seq("v"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(merged.toSeq == direct.toSeq)
    assert(merged.toSeq == Seq(
      ("x", 3L, 13.0, 1.0, 10.0), ("y", 1L, 5.0, 5.0, 5.0), ("z", 1L, -1.0, -1.0, -1.0)))
  }

  test("MergeOps.upsert applies updates, inserts, and deletes") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "price")
    val changes = Seq(
      (2L, "b2", 21.0, false), // update
      (4L, "d", 40.0, false),  // insert
      (3L, "c", 30.0, true)    // delete
    ).toDF("id", "name", "price", "is_delete")
    val got = MergeOps.upsert(base, changes, Seq("id"), Some("is_delete"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0)))
  }

  test("MergeOps.upsert resolves multi-change keys by version") {
    val base = Seq((1L, "a")).toDF("id", "name")
    val changes = Seq((1L, "v1", 1L), (1L, "v2", 2L))
      .toDF("id", "name", "ver")
    val got = MergeOps.upsert(base, changes, Seq("id"),
      versionCol = Some("ver")).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "v2")))
  }

  test("MergeOps.diffSnapshots emits exactly the changeset that replays") {
    val old = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "price")
    val next = Seq((1L, "a", 1.0), (2L, "B", 2.5), (4L, "d", 4.0))
      .toDF("id", "name", "price")
    val diff = MergeOps.diffSnapshots(old, next, Seq("id"))
    val rows = diff.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.toSeq == Seq(
      (2L, "B", 2.5, false), (3L, "c", 3.0, true), (4L, "d", 4.0, false)))
    // closure: upsert(old, diff) == next
    val replayed = MergeOps.upsert(old, diff, Seq("id"), Some("is_delete"))
    assert(replayed.exceptAll(next).count() == 0 &&
      next.exceptAll(replayed).count() == 0)
  }

  test("SampleOps.budgetSample keeps the best-score prefix within budget") {
    // scores with a tie (ids 2,3 both score 5, broken id asc) and a
    // boundary doc: order = id1(s9,t4), id2(s5,t3), id3(s5,t4), id4(s1,t10)
    val df = Seq(
      (1L, 9.0, 4), (2L, 5.0, 3), (3L, 5.0, 4), (4L, 1.0, 10))
      .toDF("id", "score", "toks")
    val got = SampleOps.budgetSample(df, "score", "toks", "id", budget = 11L)
      .select("id", "cum_tokens").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // prefix: id1 cum=4, id2 cum=7 (tie broken id asc), id3 cum=11;
    // id4 would reach 21 > 11 -> dropped
    assert(got.toSeq == Seq((1L, 4L), (2L, 7L), (3L, 11L)))
    // partition-invariant: same kept set under any input partitioning
    val re = SampleOps.budgetSample(df.repartition(7), "score", "toks", "id", 11L)
      .select("id", "cum_tokens").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(re.toSeq == got.toSeq)
    // two-level path ≡ global running sum on a bigger fixture where
    // many buckets are populated
    val big = (0L until 500L).map(i => (i, ((i * 7919) % 101).toDouble, 3))
      .toDF("id", "score", "toks")
    val kept = SampleOps.budgetSample(big, "score", "toks", "id", 600L)
      .select("id").collect().map(_.getLong(0)).toSet
    val expect = big.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .sortBy { case (id, s, _) => (-s, id) }
      .scanLeft((0L, 0L)) { case ((_, cum), (id, _, t)) => (id, cum + t) }
      .drop(1).takeWhile(_._2 <= 600L).map(_._1).toSet
    assert(kept == expect)
  }

  test("SampleOps.temperatureSample flattens composition toward target") {
    // skewed sources: a=400, b=100, c=25 rows
    val df = ((0 until 400).map(i => ("a", i.toLong)) ++
      (400 until 500).map(i => ("b", i.toLong)) ++
      (500 until 525).map(i => ("c", i.toLong))).toDF("src", "id")
    val kept = SampleOps.temperatureSample(df, "src", "id", 0.5, 200L)
    val by = kept.groupBy($"src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = kept.groupBy($"src").agg(min($"mix_rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // alpha=0.5: weights 20/10/5 of 35 -> rates ~0.286/0.571/1.143->1.0
    assert(math.abs(rates("a") - 20.0 / 35 * 200 / 400) < 1e-12)
    assert(rates("c") == 1.0) // capped: tiny source keeps everything
    assert(by("c") == 25)
    // kept total tracks the target (hash threshold is ~uniform)
    val total = by.values.sum
    assert(total > 140 && total < 260, s"total=$total")
    // low-resource share rises vs natural: b kept/b total > a kept/a total
    assert(by("b").toDouble / 100 > by("a").toDouble / 400)
    // deterministic under repartitioning
    val re = SampleOps.temperatureSample(df.repartition(13), "src", "id", 0.5, 200L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(re == kept.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("SampleOps.temperatureSample: dyadic sqrt-chain alphas and pow-path precision") {
    val df = ((0 until 400).map(i => ("a", i.toLong)) ++
      (400 until 500).map(i => ("b", i.toLong)) ++
      (500 until 525).map(i => ("c", i.toLong))).toDF("src", "id")
    def rates(alpha: Double): Map[String, Double] =
      SampleOps.temperatureSample(df, "src", "id", alpha, 200L)
        .groupBy($"src").agg(min($"mix_rate")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // alpha=0.25 routes through sqrt(sqrt(n)) — an IEEE-exact tree: the
    // uncapped rate must equal the driver-side replay bit-for-bit
    // the DECIMAL(38,18) weight-total cast, replayed driver-side
    def dec18(x: Double): BigDecimal =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    val r25 = rates(0.25)
    val w = Map("a" -> math.sqrt(math.sqrt(400.0)),
      "b" -> math.sqrt(math.sqrt(100.0)), "c" -> math.sqrt(math.sqrt(25.0)))
    val tw = (dec18(w("a")) + dec18(w("b")) + dec18(w("c"))).toDouble
    assert(r25("a") == w("a") / tw * 200.0 / 400.0)
    // alpha=0.75 = sqrt(n) * sqrt(sqrt(n)), same exactness contract
    val r75 = rates(0.75)
    val w75 = math.sqrt(400.0) * math.sqrt(math.sqrt(400.0))
    val tw75 = (dec18(w75) +
      dec18(math.sqrt(100.0) * math.sqrt(math.sqrt(100.0))) +
      dec18(math.sqrt(25.0) * math.sqrt(math.sqrt(25.0)))).toDouble
    assert(r75("a") == w75 / tw75 * 200.0 / 400.0)
    // pow-path alphas are DEFINED at 1e-9 precision: every emitted
    // rate is its own round(_, 9) (the documented contract the
    // sample_temperature_a03 oracle replays)
    val r3 = rates(0.3)
    r3.values.foreach(r =>
      assert(r == BigDecimal(r).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$r"))
    // flattening monotonicity: smaller alpha -> flatter (head rate
    // falls), so the 0.25 head rate sits below the 0.3 one
    assert(r25("a") < r3("a"))
  }

  test("LibOps.psiReport: zero on identical samples, positive on shift, finite on empty bins") {
    val a = Seq(1.0, 1.0, 5.0, 9.0).toDF("v")
    val same = LibOps.psiReport(a, a, "v", lo = 0.0, width = 2.0, nbins = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(same.length == 5) // full spine, empty bins included
    assert(same.forall(_._4 == 0.0)) // p == q exactly per bin
    // shifted distribution: total PSI strictly positive, every bin finite
    val b = Seq(9.0, 9.0, 9.0, 1.0).toDF("v")
    val drift = LibOps.psiReport(a, b, "v", lo = 0.0, width = 2.0, nbins = 5)
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toMap
    assert(drift.values.forall(c => !c.isNaN && !c.isInfinite))
    assert(drift.values.sum > 0.1, s"psi=${drift.values.sum}")
    // bin 1 (values [2,4)) is empty in BOTH but totals match -> 0;
    // smoothing keeps it defined
    assert(drift(1) == 0.0)
  }

  test("TimeOps.pointInTimeFeatures: strict pre-label window, no leakage") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val label = Seq((100L, 1L, ts("2024-01-10 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val events = Seq(
      (1L, 1L, ts("2024-01-10 12:00:00"), 5.0),  // AT label time: leakage, excluded
      (2L, 1L, ts("2024-01-10 11:59:59"), 2.0),  // just before: in
      (3L, 1L, ts("2024-01-08 12:00:00"), 3.0),  // inside 72h: in
      (4L, 1L, ts("2024-01-07 11:00:00"), 7.0),  // outside 72h: out
      (5L, 2L, ts("2024-01-10 11:00:00"), 9.0)   // other user: out
    ).toDF("event_id", "user_id", "ts", "value")
    val got = TimeOps.pointInTimeFeatures(label, events,
        "user_id", "ts", "value", "event_id", windowHours = 72).collect()(0)
    assert(got.getAs[Long]("n_prior") == 2)
    assert(got.getAs[Double]("sum_prior") == 5.0)
    // window lower bound is inclusive: exactly -72h counts
    val got2 = TimeOps.pointInTimeFeatures(label,
        Seq((6L, 1L, ts("2024-01-07 12:00:00"), 1.5))
          .toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", "event_id", windowHours = 72).collect()(0)
    assert(got2.getAs[Long]("n_prior") == 1 &&
      got2.getAs[Double]("sum_prior") == 1.5)
  }

  test("DedupOps.noveltyReport: first batch owns content, dups count once") {
    val df = Seq(
      (1L, "a b c", 0), (2L, "a b c", 0),  // batch 0: dup within batch
      (3L, "d e", 0),
      (4L, "a b c", 1),                    // batch 1: carry-over, not novel
      (5L, "f g h i", 1),
      (6L, "a b c", 2), (7L, "d e", 2)     // batch 2: nothing novel
    ).toDF("doc_id", "text", "batch")
    val got = DedupOps.noveltyReport(df, "text", "doc_id", col("batch"))
      .orderBy("batch").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (0, 3L, 2L, 2L, 5L, 1.0),   // "a b c"(3 toks) + "d e"(2) novel
      (1, 2L, 2L, 1L, 4L, 0.5),   // only "f g h i" novel
      (2, 2L, 2L, 0L, 0L, 0.0)))
  }

  test("SimOps.clusterCards surfaces each cluster's distinctive terms") {
    // two well-separated 2-D clusters; ids 0/1 seed one centroid each
    val e = Seq(
      (0L, Array(1.0f, 0.01f)), (1L, Array(0.01f, 1.0f)),
      (2L, Array(1.0f, 0.02f)), (3L, Array(0.02f, 1.0f)),
      (4L, Array(1.0f, 0.03f)), (5L, Array(0.03f, 1.0f))
    ).toDF("vec_id", "embedding")
    val d = Seq(
      (0L, "apple apple common"), (2L, "apple apple common"),
      (4L, "apple apple common"),
      (1L, "banana banana common"), (3L, "banana banana common"),
      (5L, "banana banana common")).toDF("doc_id", "text")
    val cards = SimOps.clusterCards(e, d, "vec_id", "embedding",
        "doc_id", "text", numCells = 2, iters = 1, topTerms = 1)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getString(2), r.getDouble(3))).toMap
    assert(cards.size == 2)
    val byTerm = cards.values.map(v => v._2 -> v).toMap
    // each cluster: 3 docs, its fruit as the top term, lift = (6/9)/(6/18) = 2
    assert(byTerm.keySet == Set("apple", "banana"))
    assert(byTerm.values.forall { case (n, _, lift) => n == 3L && lift == 2.0 })
  }

  test("BpeOps.fertility: per-group tokens-per-word under a merge list") {
    val df = Seq((1L, "aa bb", "g1"), (2L, "aa aa", "g2"))
      .toDF("doc_id", "text", "lang")
    val got = BpeOps.fertility(df, Seq(("a", "a"))).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    // g1: "aa"→1 token, "bb"→2 tokens; 2 words, 5 chars → fertility 1.5
    // g2: both words merge to 1 token each → fertility 1.0
    assert(got.toSeq == Seq(
      ("g1", 3L, 2L, 5L, 1.5, round4(5.0 / 3)),
      ("g2", 2L, 2L, 5L, 1.0, 2.5)))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("SampleOps.curriculumOrder: contiguous global permutation, stages in order") {
    val df = (0L until 200L).map(i => (i, (i % 4).toInt)).toDF("id", "diff")
    val got = SampleOps.curriculumOrder(df, col("diff"), "id")
      .select("id", "stage", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // pos is a permutation of 1..N
    assert(got.map(_._3).sorted.toSeq == (1L to 200L))
    // every stage-s row precedes every stage-(s+1) row
    val maxByStage = got.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    val minByStage = got.groupBy(_._2).view.mapValues(_.map(_._3).min).toMap
    (0 to 2).foreach(s => assert(maxByStage(s) < minByStage(s + 1)))
    // deterministic under repartitioning
    val re = SampleOps.curriculumOrder(df.repartition(11), col("diff"), "id")
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(re == got.map(t => t._1 -> t._3).toMap)
  }

  test("SampleOps.dsirWeights ranks target-like docs above raw-like docs") {
    // target domain speaks alpha/beta; the raw corpus is zeta/eta-heavy
    val corpus = Seq(
      (1L, "alpha beta alpha beta"), // target-like
      (2L, "zeta eta zeta eta"),     // raw-like
      (3L, "alpha beta zeta eta"),   // mixed
      (4L, "zeta eta theta iota"),
      (5L, "zeta eta zeta theta")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "alpha beta alpha beta"),
      (11L, "alpha beta alpha beta"),
      (12L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val got = SampleOps.dsirWeights(corpus, target).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getBoolean(3))).toMap
    // n_grams = unigrams + bigrams: 4 + 3 for a 4-word doc
    assert(got(1L)._1 == 7)
    // monotone in target-likeness; keep = logw > 0 splits the extremes
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2)
    assert(got(1L)._3 && !got(2L)._3)
    // deterministic under repartitioning (hash features, no rand)
    val re = SampleOps.dsirWeights(corpus.repartition(7), target).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re == got.map { case (k, v) => k -> v._2 })
  }

  test("SampleOps.budgetSample: NULL scores sort last, never vanish") {
    // NULL-score docs take the dedicated after-all-scores bucket: they
    // are kept only with budget left after every scored doc (greedy by
    // id among themselves), instead of being silently dropped by a
    // null-unsafe bucket join
    val df = Seq(
      (1L, Some(9.0), 4), (2L, Some(5.0), 3),
      (3L, None, 2), (4L, None, 5))
      .toDF("id", "score", "toks")
    val got = SampleOps.budgetSample(df, "score", "toks", "id", budget = 10L)
      .select("id", "cum_tokens").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // order: id1(4), id2(7), then nulls by id: id3(9); id4 would hit 14
    assert(got.toSeq == Seq((1L, 4L), (2L, 7L), (3L, 9L)))
    // all-NULL scores: pure id-order greedy, not an empty result
    val allNull = Seq((1L, Option.empty[Double], 6), (2L, None, 3), (3L, None, 4))
      .toDF("id", "score", "toks")
    val gotAll = SampleOps.budgetSample(allNull, "score", "toks", "id", 9L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotAll == Set(1L, 2L))
  }

  test("LibOps.approxQuantileCuts: cut within one bucket width of exact") {
    // near-continuous deterministic fixture (the regime the op exists
    // for): 10k pseudo-random doubles in [0, 500)
    val df = (0 until 10000)
      .map(i => ((i * 2654435761L) % 1000003).toDouble / 2000.0)
      .toDF("v")
    val buckets = 4096
    val cuts = LibOps.approxQuantileCuts(df, "v", Seq(0.05, 0.95), buckets)
      .collect()(0)
    val exact = df.agg(
      expr("percentile(v, 0.05)"), expr("percentile(v, 0.95)")).collect()(0)
    val Seq(lo, hi) = df.agg(min($"v"), max($"v")).collect()(0)
      .toSeq.map(_.asInstanceOf[Double])
    val width = (hi - lo) / buckets
    // the documented margin: upper-edge cut lands within one bucket
    // width of the exact interpolated percentile
    assert(math.abs(cuts.getDouble(0) - exact.getDouble(0)) <= width,
      s"p05 approx=${cuts.getDouble(0)} exact=${exact.getDouble(0)} width=$width")
    assert(math.abs(cuts.getDouble(1) - exact.getDouble(1)) <= width,
      s"p95 approx=${cuts.getDouble(1)} exact=${exact.getDouble(1)} width=$width")
    // rank guarantee (the cut's definition, independent of width): at
    // least ceil(p*n) values sit at or below each cut
    val n = 10000L
    assert(df.filter($"v" <= cuts.getDouble(0)).count() >= math.ceil(0.05 * n).toLong)
    assert(df.filter($"v" <= cuts.getDouble(1)).count() >= math.ceil(0.95 * n).toLong)
  }

  test("LibOps.winsorizeApprox: NULL-preserving clamp, constant column") {
    val df = Seq(Some(1.0), Some(2.0), None, Some(100.0)).toDF("v")
    val got = LibOps.winsorizeApprox(df, "v", 0.25, 0.75, 16)
      .select("v", "clipped", "was_clipped").collect()
    // NULL row: clipped stays NULL, was_clipped false (no fabricated
    // boundary values — the q79 review lesson)
    val nullRow = got.find(_.isNullAt(0)).get
    assert(nullRow.isNullAt(1) && !nullRow.getBoolean(2))
    // non-null rows: clipped ∈ [lo, hi]
    val clipped = got.filter(!_.isNullAt(0)).map(_.getDouble(1))
    assert(clipped.forall(c => c >= 1.0 && c <= 100.0))
    // constant column: every cut degenerates to the single value,
    // nothing clips, no division blow-up
    val const = Seq(7.0, 7.0, 7.0).toDF("v")
    val gotC = LibOps.winsorizeApprox(const, "v", 0.05, 0.95, 64)
      .select("clipped", "was_clipped").collect()
    assert(gotC.forall(r => r.getDouble(0) == 7.0 && !r.getBoolean(1)))
  }

  test("TextOps.chunkDocs: coverage, overlap, tail, degenerate doc") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "solo"),                                    // 1 token
      (3L, "")                                         // degenerate
    ).toDF("doc_id", "text")
    val got = TextOps.chunkDocs(df, "text", "doc_id",
        windowTokens = 4, strideTokens = 3)
      .select("doc_id", "chunk_idx", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // starts 0,3,6 (ceil((10-4)/3)*3 = 6): the last window reaches the
    // end, and no chunk is a strict sub-span of its predecessor
    assert(d1.toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    // every token appears in some chunk (coverage), overlap = 1 here
    assert((1 to 10).forall(i => d1.exists(_.split(" ").contains(s"w$i"))))
    // single-token and empty docs yield exactly one chunk each
    assert(got.count(_._1 == 2L) == 1 && got.count(_._1 == 3L) == 1)
    assert(got.find(_._1 == 2L).get._3 == "solo")
  }

  test("LibOps.kmvDistinct: exact under k, bounded error above") {
    // fewer distinct values than k: the sketch holds every hash and
    // reports the exact count
    val small = (0 until 100).map(i => ("g", i % 7)).toDF("g", "v")
    val sm = LibOps.kmvDistinct(small, Seq("g"), "v", k = 64).collect()(0)
    assert(sm.getAs[Double]("n_distinct_est") == 7.0)
    // 5000 distinct values, k=64: estimator within 5 standard errors
    // (se ~ n/sqrt(k) = 12.5%)
    val big = (0 until 5000).map(i => ("g", i)).toDF("g", "v")
    val est = LibOps.kmvDistinct(big, Seq("g"), "v", k = 64)
      .collect()(0).getAs[Double]("n_distinct_est")
    assert(math.abs(est - 5000.0) / 5000.0 < 0.625, s"est=$est")
    // deterministic under repartitioning (the sketch is a pure
    // function of the value set)
    val re = LibOps.kmvDistinct(big.repartition(11), Seq("g"), "v", k = 64)
      .collect()(0).getAs[Double]("n_distinct_est")
    assert(re == est)
    // duplicates cannot shift the estimate (distinct-first)
    val dup = LibOps.kmvDistinct(big.union(big), Seq("g"), "v", k = 64)
      .collect()(0).getAs[Double]("n_distinct_est")
    assert(dup == est)
  }

  test("LibOps.approxQuantileCutsBy: per-group cut within the group's bucket width") {
    // two groups with very different ranges: the cut error bound is
    // per-group ((max_g - min_g)/B), not global
    val df = ((0 until 2000).map(i => ("narrow", i / 1000.0)) ++
      (0 until 2000).map(i => ("wide", i * 50.0))).toDF("g", "v")
    val buckets = 256
    val cuts = LibOps.approxQuantileCutsBy(df, Seq("g"), "v",
        Seq(0.05, 0.95), buckets)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for (g <- Seq("narrow", "wide")) {
      val sub = df.filter($"g" === g)
      val ex = sub.agg(expr("percentile(v, 0.05)"), expr("percentile(v, 0.95)"))
        .collect()(0)
      val Seq(lo, hi) = sub.agg(min($"v"), max($"v")).collect()(0)
        .toSeq.map(_.asInstanceOf[Double])
      val width = (hi - lo) / buckets
      assert(math.abs(cuts(g)._1 - ex.getDouble(0)) <= width,
        s"$g p05: ${cuts(g)._1} vs ${ex.getDouble(0)} width=$width")
      assert(math.abs(cuts(g)._2 - ex.getDouble(1)) <= width,
        s"$g p95: ${cuts(g)._2} vs ${ex.getDouble(1)} width=$width")
    }
    // constant group: both cuts degenerate to the single value
    val const = Seq(("c", 5.0), ("c", 5.0)).toDF("g", "v")
    val cc = LibOps.approxQuantileCutsBy(const, Seq("g"), "v", Seq(0.5))
      .collect()(0)
    assert(cc.getDouble(1) == 5.0)
  }

  test("q59 staged plan has zero parquet scans (orders staged once)") {
    // the round-5 contract: all four merge branches read the SAME
    // materialized blocks — a re-introduced per-branch parquet scan
    // would put FileScan parquet back into this plan. Inline fixture
    // (a tiny orders.parquet in a temp dir), not the generated
    // testdata — the suite must pass on any checkout
    val dir = "/tmp/graft_test_q59plan"
    (1L to 40L).map(i => (i, i % 7, if (i % 2 == 0) "O" else "F",
        100.0 + i, java.sql.Date.valueOf("1995-01-01"), s"p$i"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val df = Queries.queryMap("q59_merge_upsert")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan parquet"), plan.take(2000))
    assert(plan.contains("Scan ExistingRDD"), plan.take(2000))
    graft.io.FsOps.rm(spark, dir)
  }

  test("session-7 plan contracts: single-scan shapes survive") {
    // the round-6 seventh-session plan fixes, pinned: nullability-
    // inference asymmetries on self-referenced aggregates break
    // ReusedExchange and silently double corpus passes. Each op below
    // earned an explicit filter / coalesce / reformulation to plan
    // its corpus scan the MINIMAL number of times — a regression
    // re-introduces an extra FileScan and fails here. Inline parquet
    // fixtures (temp dir), not the generated testdata.
    import java.sql.Timestamp
    val dir = "/tmp/graft_test_s7plans"
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      // AQE reuses exchanges at RUNTIME: finalize the plan by
      // executing, then read the final section only
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      finalPlan(df).linesIterator.count(_.contains("FileScan parquet"))
    (1 to 40).map(i => (i.toLong, s"w$i w${i % 7} w${i % 5} end",
        s"src${i % 3}", "en"))
      .toDF("doc_id", "text", "source", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (1 to 60).map(i => (i.toLong, (i % 5).toLong,
        Seq("view", "click", "purchase", "error")(i % 4),
        new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
          + i * 3600000L)))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // funnel: exactly one pushed-filter scan per step
    assert(scans(TimeOps.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), Some(24))) == 3)
    // rate anomaly: ONE corpus scan (map-rollup spine, no distinct-
    // types rescan)
    assert(scans(TimeOps.rateAnomaly(ev, "ts", "event_type",
      "2024-01-01 00:00:00", nHours = 72, trailing = 6,
      zThresh = 3.0)) == 1)
    // trending terms: ONE explode+count pass reused by all three
    // consumers
    assert(scans(TextOps.trendingTerms(docs, "text",
      expr("cast(substring(source, 4, 5) as int)"), k = 3)) == 1)
    // PMI: bigram + unigram explodes + the explode-free totals scan,
    // and exactly TWO Generate explodes (a tm-from-aggregate
    // formulation replants the bigram explode as a third)
    val pmi = TextOps.pmiBigrams(docs, "text", minCount = 1L, k = 3)
    val pmiPlan = finalPlan(pmi)
    assert(pmiPlan.linesIterator.count(_.contains("FileScan parquet")) == 3)
    assert(pmiPlan.linesIterator.count(_.contains("Generate explode")) == 2)
    // langId: the split is hoisted — ONE split( in the whole plan
    // (inlined into the five profile filters it would appear 5x)
    val lid = TextOps.langId(docs)
    assert(lid.queryExecution.optimizedPlan.toString
      .linesIterator.count(_.contains("split(")) == 1,
      lid.queryExecution.optimizedPlan.toString.take(2000))
    graft.io.FsOps.rm(spark, dir)
  }

  test("TimeOps.retentionCohorts builds the weekly retention matrix") {
    import java.sql.Timestamp
    def ts(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // weeks: W1 = Jan 1-7, W2 = Jan 8-14, W3 = Jan 15-21 (Mon starts)
    // u1: W1, W2, W3; u2: W1 only; u3: W2, W3
    val df = Seq(
      (1L, ts(2)), (1L, ts(9)), (1L, ts(16)), (1L, ts(3)),
      (2L, ts(5)),
      (3L, ts(10)), (3L, ts(17))).toDF("user_id", "ts")
    val got = TimeOps.retentionCohorts(df, "user_id", "ts")
      .orderBy($"cohort_week", $"week_offset").collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01", 0, 2L, 100.0),  // u1, u2
      ("2024-01-01", 1, 1L, 50.0),   // u1
      ("2024-01-01", 2, 1L, 50.0),   // u1
      ("2024-01-08", 0, 1L, 100.0),  // u3
      ("2024-01-08", 1, 1L, 100.0))) // u3
  }

  test("LibOps.winsorize clips at the exact empirical quantiles") {
    val df = (1 to 20).map(_.toDouble).toDF("v")
    val got = LibOps.winsorize(df, "v", 0.1, 0.9)
      .select("v", "clipped", "was_clipped").orderBy("v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    // exact percentile with interpolation: p10 of 1..20 = 2.9, p90 = 18.1
    assert(got.count(_._3) == 4)
    assert(got.filter(_._1 <= 2).forall(_._2 == 2.9))
    assert(got.filter(_._1 >= 19).forall(_._2 == 18.1))
    // inliers pass through untouched
    assert(got.filter(g => g._1 >= 3 && g._1 <= 18).forall(g => g._2 == g._1 && !g._3))
    // NULL stays NULL and unflagged — never fabricated into the cut
    val withNull = (Seq[Option[Double]](None) ++ (1 to 20).map(i => Some(i.toDouble)))
      .toDF("v")
    val nullRow = LibOps.winsorize(withNull, "v", 0.1, 0.9)
      .filter($"v".isNull).select("clipped", "was_clipped").collect()(0)
    assert(nullRow.isNullAt(0) && !nullRow.getBoolean(1))
  }

  test("LibOps.skewReport surfaces hot keys with exact shares") {
    val df = (Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++ Seq.fill(10)("cold"))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    val got = LibOps.skewReport(df, Seq("k"), topK = 2).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // 100 rows, 3 keys, mean 33.33: hot 60 rows = 60% = 1.8x mean
    assert(got.toSeq == Seq(
      (1, "hot", 60L, 60.0, 1.8),
      (2, "warm", 30L, 30.0, 0.9)))
  }

  test("LibOps.skewReport plans its top-K as TakeOrderedAndProject") {
    // the round-6 contract: the topK selection over the per-key count
    // table must be per-partition top-K + K-sized merge, never an
    // unpartitioned sort/window — the key space of a skewed table is
    // unbounded at the design point. A re-introduced global
    // row_number window would put a Window over a single-partition
    // Exchange back into this plan.
    val df = (0 until 1000).map(i => (s"k${i % 97}", i)).toDF("k", "v")
    val plan = LibOps.skewReport(df, Seq("k"), topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // the rank window must sit ABOVE the top-K (≤ topK input rows), not
    // below it over the full count table (tree strings list parents
    // first, so the Window's offset must precede TakeOrderedAndProject;
    // the only SinglePartition exchange allowed is the 1-row totals agg)
    assert(plan.indexOf("Window") >= 0 &&
      plan.indexOf("Window") < plan.indexOf("TakeOrderedAndProject"),
      plan.take(2000))
  }

  test("SampleOps.shardAssignment is a stable partition-invariant permutation") {
    val df = (0L until 500L).toDF("id")
    val a = SampleOps.shardAssignment(df, "id", 4)
      .select("id", "shard", "pos").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val b = SampleOps.shardAssignment(df.repartition(13), "id", 4)
      .select("id", "shard", "pos").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    // all shards populated, positions are 1..n per shard with no gaps
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet == Set(0, 1, 2, 3))
    byShard.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.size).toSeq)
    }
    assert(a.map(_._1).distinct.length == 500)
  }

  test("ValidateOps.checkConstraints reports per-constraint violations in one scan") {
    val df = Seq((1L, 10.0, "ok"), (2L, -5.0, "ok"), (3L, 7.0, null))
      .toDF("id", "price", "tag")
    val got = ValidateOps.checkConstraints(df, Seq(
      "price_positive" -> (col("price") > 0),
      "tag_not_null" -> col("tag").isNotNull,
      "id_unique_ish" -> col("id").isNotNull))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      ("price_positive", 3L, 1L, false),
      ("tag_not_null", 3L, 1L, false),
      ("id_unique_ish", 3L, 0L, true)))
    // NULL predicate result counts as a violation (tag null row)
    val viol = ValidateOps.violations(df, col("tag").isNotNull).collect()
    assert(viol.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("JoinOps.saltedJoin equals the plain join and spreads the hot key") {
    val large = (0L until 1000L).map(i => (if (i < 900) 1L else i, i))
      .toDF("k", "v") // 90% of rows share k=1: the skew shape
    val small = Seq((1L, "hot"), (950L, "cold")).toDF("k", "tag")
    val salted = JoinOps.saltedJoin(large, small, Seq("k"), saltBuckets = 4)
    val plain = large.join(small, "k")
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0)
    // the hot key's rows really do carry >1 distinct salt
    val salts = large.withColumn("__salt",
        pmod(xxhash64(large.columns.map(col).toSeq: _*), lit(4)))
      .filter($"k" === 1L).select("__salt").distinct().count()
    assert(salts > 1)
  }

  test("JoinOps.fuzzyJoin verifies blocked candidates with edit distance") {
    val names = Seq("blue gear", "glue gear", "blue bolt", "red gear")
      .toDF("name")
    val got = JoinOps.fuzzyJoin(names, names, "name",
        n => element_at(split(n, " "), 2), maxDist = 2)
      .orderBy("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // "blue gear"~"glue gear" dist 1; "blue"~"red" dist 3 > 2 (blocked
    // but rejected); "blue bolt" shares no block with the gears
    assert(got.toSeq == Seq(("blue gear", "glue gear", 1)))
  }

  test("DeconOps.decontaminate flags exact 3-gram collisions only") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zz alpha beta gamma yy"), // shares "alpha beta gamma"
      (2L, "alpha gamma beta zz yy"), // same words, no shared 3-gram
      (3L, "one two")                 // too short: no 3-grams, clean
    ).toDF("doc_id", "text")
    val got = DeconOps.decontaminate(train, bench).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 3, 1, true),  // 3 distinct 3-grams, 1 shared
      (2L, 3, 0, false),
      (3L, 0, 0, false)))
  }

  test("DeconOps.spanRemoval drops covered tokens, keeps the rest in order") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zz alpha beta gamma yy"),       // one hit window: tokens 1-3 go
      (2L, "alpha beta gamma delta xx"),    // two overlapping hits: 0-3 go
      (3L, "alpha gamma beta zz yy"),       // no shared 3-gram: verbatim
      (4L, "one two"),                      // too short: verbatim
      (5L, "alpha beta gamma")              // fully covered: empty string
    ).toDF("doc_id", "text")
    val got = DeconOps.spanRemoval(train, bench).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 5, 3, "zz yy"),
      (2L, 5, 4, "xx"),
      (3L, 5, 0, "alpha gamma beta zz yy"),
      (4L, 2, 0, "one two"),
      (5L, 3, 3, "")))
  }

  test("DedupOps.crossSourceOverlap folds pairs into an unordered source matrix") {
    val txt = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq(
      (1L, txt, "srcA"), (2L, txt, "srcB"), (3L, txt, "srcA"),
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8", "srcB")
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.crossSourceOverlap(df, "text", "doc_id", "source")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // identical texts: pairs (1,2) A-B, (1,3) A-A, (2,3) A-B, all j=1.0;
    // doc 4 shares nothing and must not appear
    assert(got.toSeq == Seq(
      ("srcA", "srcA", 1L, 1.0),
      ("srcA", "srcB", 2L, 1.0)))
  }

  test("new-op plan shapes: no corpus window, no cartesian, broadcast sides") {
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    // spanRemoval: benchmark grams broadcast; the rebuild is row-local —
    // no Window operator anywhere, no cartesian product
    val sr = DeconOps.spanRemoval(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .queryExecution.executedPlan.toString
    assert(!sr.contains("Window"), s"spanRemoval grew a window:\n$sr")
    assert(!sr.contains("CartesianProduct"), "spanRemoval cartesian")
    assert(sr.contains("BroadcastHashJoin"), "benchmark grams not broadcast")
    // bm25PerQuery: df/query-term joins broadcast; the only nested-loop
    // join is the 1-row stats crossJoin
    val bq = graft.ops.TextOps.bm25PerQuery(
        docs.filter(col("doc_id") < 3), docs, topN = 10)
      .queryExecution.executedPlan.toString
    assert(!bq.contains("CartesianProduct"), "bm25PerQuery cartesian")
    assert("BroadcastHashJoin".r.findAllIn(bq).size >= 2,
      s"bm25PerQuery term/df joins not broadcast:\n$bq")
    // crossSourceOverlap: keyed equi-joins only
    val cs = DedupOps.crossSourceOverlap(docs, "text", "doc_id", "source")
      .queryExecution.executedPlan.toString
    assert(!cs.contains("CartesianProduct"), "crossSourceOverlap cartesian")
  }

  test("DeconOps.bloomDecontaminate matches the exact path") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zz alpha beta gamma yy"),
      (2L, "alpha gamma beta zz yy"),
      (3L, "one two")
    ).toDF("doc_id", "text")
    // bloom pre-filter + exact verify must reproduce the exact answer
    // (no false negatives; false positives killed by the verify join)
    val exact = DeconOps.decontaminate(train, bench).orderBy("doc_id").collect().toSeq
    val bloom = DeconOps.bloomDecontaminate(train, bench).orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
    // a definitely-absent gram stream keeps everything clean even at a
    // high fpp (false positives may pass the bloom but never the verify)
    val noisy = DeconOps.bloomDecontaminate(train, bench, fpp = 0.5)
      .orderBy("doc_id").collect().toSeq
    assert(noisy == exact)
  }

  test("BloomProbe prunes absent grams and never drops present ones") {
    import graft.functions.BloomFunctions.bloom_probe
    val bench = (0L until 200L).map(i => s"gram-$i").toDF("gram")
    val bloom = bench.stat.bloomFilter(col("gram"), 200L, 0.03)
    val probe = (0L until 200L).map(i => s"gram-$i")
      .toDF("g").where(bloom_probe(col("g"), bloom))
    // no false negatives: every inserted string passes the probe
    assert(probe.count() == 200L)
    // definite-absence pruning: disjoint strings mostly fail the probe
    val absent = (0L until 1000L).map(i => s"other-$i")
      .toDF("g").where(bloom_probe(col("g"), bloom)).count()
    assert(absent < 150L, s"bloom pruned too little: $absent/1000 passed")
  }

  test("TextOps.bm25 ranks by hand-computed Robertson score") {
    val df = Seq(
      (1L, "cat dog cat"),   // cat tf=2, dl=3
      (2L, "cat fish"),      // cat tf=1, dl=2
      (3L, "bird bird bird") // no query term
    ).toDF("doc_id", "text")
    val got = TextOps.bm25(df, Seq("cat"), topN = 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // N=3 docs, avgdl=8/3, df(cat)=2 -> idf = ln(1 + 1.5/2.5)
    val idf = math.log(1 + 1.5 / 2.5)
    // BigDecimal.valueOf mirrors Spark's round() exactly (string-based)
    def s(tf: Double, dl: Double) =
      java.math.BigDecimal.valueOf(
          idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8.0 / 3))))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got.toSeq == Seq((1L, 1, s(2, 3)), (2L, 1, s(1, 2))))
    // doc 3 has no query term and must not appear at all
    assert(!got.exists(_._1 == 3L))
  }

  test("BpeOps.trainMerges reproduces the classic low/lower walk") {
    val df = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val got = BpeOps.trainMerges(df, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pairs: (l,o)=3 ties (o,w)=3 -> lexicographic "l o" wins; then
    // (lo,w)=3; then (low,e)=1 ties (e,r)=1 -> "e r" wins
    assert(got.toSeq == Seq(
      (1, "l", "o", 3L), (2, "lo", "w", 3L), (3, "e", "r", 1L)))
    // overlap semantics: "aaa" counts 2 adjacencies, merges to [aa, a]
    val aaa = Seq((1L, "aaa")).toDF("doc_id", "text")
    val g2 = BpeOps.trainMerges(aaa, 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(g2.toSeq == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("BpeOps.trainMerges: in-memory fast path ≡ distributed loop") {
    // richer fixture with ties, repeats, multi-char growth; the default
    // call takes the collected in-memory loop, maxInMemoryVocab=0
    // forces the distributed per-merge aggregate — results must be
    // identical merge-for-merge (argmax tie-break and overlap
    // semantics included)
    val df = Seq(
      (1L, "low lower lowest low low"),
      (2L, "banana bandana and sand"),
      (3L, "aaa aa aaaa mississippi"),
      (4L, "the the the thee them theme")).toDF("doc_id", "text")
    def run(maxMem: Int) = BpeOps.trainMerges(df, 8, maxInMemoryVocab = maxMem)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(run(4000000) == run(0))
  }

  test("BpeOps.applyMerges tokenizes with trained merges, never across spaces") {
    val df = Seq((1L, "low low lower"), (2L, "ol ol")).toDF("doc_id", "text")
    // merges from the low/lower walk: low -> 1 token, lower -> [low, er]
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val got = BpeOps.applyMerges(df, merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // doc 1: low(1) + low(1) + low,er(2) = 4; doc 2: "ol" has no (l,o)
    // adjacency — the space between "ol ol" must not merge l|o across it
    assert(got.toSeq == Seq((1L, 4), (2L, 4)))
  }

  test("TextOps.filterCascade attributes each drop to its first failing stage") {
    val df = Seq(
      (1L, "ok row", 10),     // passes all
      (2L, "s", 1),           // fails stage 1 (len)
      (3L, "no number", -5),  // passes 1, fails 2 (positive)
      (4L, "x", -5)           // fails 1 AND 2 -> attributed to stage 1 only
    ).toDF("id", "t", "v")
    val stages = Seq(
      "min_len" -> (length(col("t")) >= 2),
      "positive" -> (col("v") > 0))
    val got = TextOps.filterCascade(df, stages).orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "min_len", 4L, 2L),   // rows 2 and 4
      (2, "positive", 2L, 1L))) // row 3 only — row 4 already claimed
    val kept = TextOps.cascadeSurvivors(df, stages).collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L))
    // empty input: a zeroed report, not an NPE on null aggregate cells
    val empty = TextOps.filterCascade(df.filter(col("id") < 0), stages)
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(empty.toSeq == Seq((1, 0L, 0L), (2, 0L, 0L)))
  }

  test("TextOps.repetitionStats computes top-word and dup fractions") {
    val df = Seq(
      (1L, "a a a b"),    // top word a: 3/4; distinct 2/4; bigrams [a a, a a, a b] dup 1/3
      (2L, "x y z"),      // no repetition at all
      (3L, "w")           // single token: no bigrams
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got(0) == ((1L, 4, 0.75, 0.5, 0.3333)))
    assert(got(1) == ((2L, 3, 0.3333, 0.0, 0.0)))
    assert(got(2) == ((3L, 1, 1.0, 0.0, 0.0)))
  }

  test("SampleOps.groupedSplit co-assigns every row of a group to one fold") {
    val df = (0L until 300L).map(i => (i, s"site${i % 30}")).toDF("id", "grp")
    val split = SampleOps.groupedSplit(df, "grp", Seq("train" -> 70, "valid" -> 85))
    // every group appears in exactly one split (the leakage guarantee)
    val perGroup = split.groupBy("grp")
      .agg(countDistinct(col("split")).as("n")).collect().map(_.getLong(1))
    assert(perGroup.forall(_ == 1L))
    // all three folds are populated and the assignment is stable
    val folds = split.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(folds == Set("train", "valid", "test"))
    val again = SampleOps.groupedSplit(df.repartition(7), "grp",
      Seq("train" -> 70, "valid" -> 85))
    assert(split.select("id", "split").collect().toSet ==
      again.select("id", "split").collect().toSet)
  }

  test("SampleOps.weightedSample keeps rows in proportion to their weight") {
    val df = (0L until 2000L).map(i => (i, if (i < 1000) 1.0 else 0.2))
      .toDF("id", "w")
    val kept = SampleOps.weightedSample(df, "id", col("w"))
      .groupBy("w").count().collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    // weight 1.0 keeps everything; weight 0.2 keeps ~20% (hash-uniform)
    assert(kept(1.0) == 1000L)
    assert(kept(0.2) > 100L && kept(0.2) < 300L, s"got ${kept(0.2)}")
    // deterministic: same survivors under any partitioning
    val ids1 = SampleOps.weightedSample(df, "id", col("w")).collect().map(_.getLong(0)).toSet
    val ids2 = SampleOps.weightedSample(df.repartition(7), "id", col("w"))
      .collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // out-of-range weights clamp instead of misbehaving
    val neg = (0L until 100L).map((_, -5.0)).toDF("id", "w")
    assert(SampleOps.weightedSample(neg, "id", col("w")).count() == 0L)
  }

  test("SampleOps.mixtureSample applies per-group rates deterministically") {
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    // rate 1.0 keeps every row of the group; rate 0.0 drops all of it
    val kept = SampleOps.mixtureSample(df, "lang", "doc_id",
      Map("en" -> 1.0, "zh" -> 0.0)).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.length == 100 && kept.forall(_._2 == "en"))
    // partial rates: kept set is a subset and is stable across runs
    val half = SampleOps.mixtureSample(df, "lang", "doc_id", Map("en" -> 0.5, "zh" -> 0.5))
    val ids1 = half.collect().map(_.getLong(0)).toSet
    val ids2 = half.repartition(7).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.nonEmpty && ids1.size < 200)
    // unknown groups fall back to defaultRate
    val none = SampleOps.mixtureSample(df, "lang", "doc_id", Map("fr" -> 1.0))
    assert(none.count() == 0)
  }

  test("DedupOps.chunkDedup keeps only the first occurrence of each chunk") {
    val df = Seq(
      (1L, "a b c d"), // chunks: "a b", "c d"
      (2L, "c d e f"), // "c d" already owned by doc 1
      (3L, "a b"),     // fully duplicate -> empty clean_text
      (4L, "x y z")    // trailing partial chunk "z" kept
    ).toDF("doc_id", "text")
    val got = DedupOps.chunkDedup(df, "text", "doc_id", chunkWords = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 2, 2, "a b c d"),
      (2L, 2, 1, "e f"),
      (3L, 1, 0, ""),
      (4L, 2, 2, "x y z")))
  }

  test("TextOps.redact masks staged rules without double counting") {
    val df = Seq(
      (1L, "mail bob123456@x.com ip 10.0.0.1 id 9876543"),
      (2L, "clean text")).toDF("id", "s")
    val got = TextOps.redact(df, "s", TextOps.RedactRules)
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("s_redacted"), r.getAs[Int]("n_redacted")))
    // the email's own digit run is consumed by the email rule, not
    // re-counted by the later digit rule
    assert(got(0) == (("mail <EMAIL> ip <IP> id <ID>", 3)))
    assert(got(1) == (("clean text", 0)))
  }

  test("LibOps.histogram bins fixed-width with clamping") {
    val df = Seq(-5.0, 0.0, 4.9, 5.0, 14.9, 100.0).toDF("v")
    val got = LibOps.histogram(df, "v", lo = 0.0, width = 5.0, nbins = 3)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0, 3L, -5.0, 4.9), // below-range clamps into bin 0
      (1, 1L, 5.0, 5.0),
      (2, 2L, 14.9, 100.0))) // above-range clamps into the last bin
  }

  test("LibOps.equidepthBins balances depth and keeps equal values together") {
    // 12 distinct values, 4 bins -> exactly 3 values (3 rows) per bin
    val df = (1 to 12).map(_.toDouble).toDF("v")
    val bins = LibOps.equidepthBins(df, "v", 4).orderBy("value").collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2)))
    assert(bins.map(_._2).toSeq == Seq(0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3))
    // a hot value straddling a threshold stays in ONE bin (ties share)
    val hot = (Seq.fill(6)(1.0) ++ Seq(2.0, 3.0)).toDF("v")
    val hotBins = LibOps.equidepthBins(hot, "v", 4).orderBy("value").collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    assert(hotBins.toSeq == Seq((1.0, 0), (2.0, 3), (3.0, 3)))
    // summary aggregates the mapping: per-bin n / lo / hi
    val summ = LibOps.equidepthSummary(df, "v", 4).orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(summ.toSeq == Seq(
      (0, 3L, 1.0, 3.0), (1, 3L, 4.0, 6.0), (2, 3L, 7.0, 9.0), (3, 3L, 10.0, 12.0)))
  }

  test("LibOps.percentileRank assigns empirical-CDF ranks with shared ties") {
    val df = Seq(10.0, 20.0, 20.0, 40.0).toDF("v")
    val got = LibOps.percentileRank(df, "v").orderBy("v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.toSeq == Seq((10.0, 0.0), (20.0, 0.25), (20.0, 0.25), (40.0, 0.75)))
  }

  test("LibOps.robustOutliers flags by median/MAD, skips zero-MAD groups") {
    val df = Seq(("a", 0.0), ("a", 0.0), ("a", 0.0), ("a", 100.0),
                 ("b", 1.0), ("b", 2.0), ("b", 3.0), ("b", 4.0), ("b", 100.0))
      .toDF("k", "v")
    // group a: med 0, MAD 0 -> try_divide NULL -> even 100.0 is not
    // emitted (a zero-MAD group has no robust scale to judge by);
    // group b: med 3, MAD 1 -> only 100.0 has |rz| = 97 > 2
    val got = LibOps.robustOutliers(df, Seq("k"), "v", 2.0)
      .select("k", "v").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("b", 100.0)))
  }

  test("LibOps.zscoreOutliers flags per-group extremes, skips zero-variance groups") {
    val df = Seq(("a", 0.0), ("a", 0.0), ("a", 0.0), ("a", 100.0),
                 ("b", 5.0), ("b", 5.0)).toDF("k", "v")
    // group a: mean 25, std_pop ~43.3 -> only 100.0 has |z| > 1.5
    val got = LibOps.zscoreOutliers(df, Seq("k"), "v", 1.5)
      .select("k", "v").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("a", 100.0)))
  }

  test("DedupOps.incrementalDedup drops snapshot dups then batch dups") {
    val snap = Seq("seen text").toDF("text")
      .select(md5($"text".cast("binary")).as("content_fp"))
    val batch = Seq(
      (10L, "seen text"),  // already in snapshot -> dropped
      (11L, "fresh a"), (12L, "fresh a"), // in-batch dup -> min id
      (13L, "fresh b")).toDF("doc_id", "text")
    val got = DedupOps.incrementalDedup(batch, snap, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies")))
    assert(got.toSeq == Seq((11L, 2L), (13L, 1L)))
  }

  test("TextOps.normalize collapses case/punct/whitespace variants") {
    val df = Seq((1L, "Hello,  World!"), (2L, "hello world")).toDF("id", "s")
    val got = TextOps.normalize(df, "s").orderBy("id").collect()
      .map(r => (r.getAs[String]("s_norm"), r.getAs[String]("norm_fp")))
    assert(got(0)._1 == "hello world")
    // cosmetic variants collapse to the same dedup key
    assert(got(0)._2 == got(1)._2)
  }

  test("TextOps.unigramNll is the corpus-unigram cross-entropy per doc") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // corpus counts: a=2 b=2 c=1, N=5
    val got = TextOps.unigramNll(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got(0)._2 == 3 && got(1)._2 == 2)
    assert(math.abs(got(0)._3 - math.log(2.5)) < 1e-3) // all tokens p=0.4
    assert(math.abs(got(1)._3 - (math.log(2.5) + math.log(5.0)) / 2) < 1e-3)
  }

  test("TextOps.bigramNll is the interpolated bigram cross-entropy per doc") {
    // corpus: N=7; cw a=4 b=2 c=1; cbg 'a b'=2 'b a'=1 'a a'=1
    val df = Seq((1L, "a b a b"), (2L, "a a"), (3L, "c"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramNll(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // d3 has one token -> no bigram positions -> absent
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0)._2 == 3 && got(1)._2 == 1)
    def p(cbg: Double, cp: Double, cc: Double): Double =
      0.75 * (cbg / cp) + 0.25 * (cc / 7.0)
    val x1 = (2 * -math.log(p(2, 4, 2)) + 1 * -math.log(p(1, 2, 4))) / 3
    val x2 = -math.log(p(1, 4, 4))
    assert(math.abs(got(0)._3 - x1) < 1e-3, s"${got(0)._3} vs $x1")
    assert(math.abs(got(1)._3 - x2) < 1e-3, s"${got(1)._3} vs $x2")
    // word-order sensitivity — the capability unigramNll lacks: same
    // bag of words, scrambled order -> higher cross-entropy than the
    // corpus-typical order (its bigrams are unseen histories)
    val df2 = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "b b a a"))
      .toDF("doc_id", "text")
    val r2 = TextOps.bigramNll(df2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(r2(3L) > r2(1L))
    // deterministic under repartitioning (decimal-sum order freedom)
    val re = TextOps.bigramNll(df.repartition(7)).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(re.toSeq == got.toSeq)
  }

  test("TimeOps.funnel: ordered first-occurrence steps with attribution window") {
    import java.sql.Timestamp
    def ts(min: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    val df = Seq(
      // u1 converts every step inside the 60-min window
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // u2 clicks BEFORE viewing — order matters, no step-2 conversion
      (2L, "click", ts(0)), (2L, "view", ts(10)),
      // u3 clicks 2 h after the first view — outside the window
      (3L, "view", ts(0)), (3L, "click", ts(120)),
      // u4 views only
      (4L, "view", ts(0))).toDF("user_id", "event_type", "ts")
    val got = TimeOps.funnel(df, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinHours = Some(1))
      .orderBy("step_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, "view", 4L), (2, "click", 1L), (3, "purchase", 1L)))
    // unbounded: u3's late click now converts
    val open = TimeOps.funnel(df, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("step_idx").collect().map(_.getLong(2))
    assert(open.toSeq == Seq(4L, 2L, 1L))
    // the step-k clock starts at the step-(k-1) REACH time, not at any
    // later event: u1's purchase at +20min converts even though a
    // same-type event at +90min would not
    val pct = TimeOps.funnel(df, "user_id", "ts", "event_type",
        Seq("view", "click"), withinHours = Some(1))
      .orderBy("step_idx").collect().map(r => Option(r.get(3)))
    assert(pct(0).isEmpty && pct(1).contains(0.25))
  }

  test("TimeOps.funnelReaches: per-user wide reach times with NULL dropout") {
    import java.sql.Timestamp
    def ts(min: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    def us(min: Int): Long = ts(min).getTime * 1000L
    val df = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      (2L, "view", ts(5)), (2L, "click", ts(120))) // outside 1 h window
      .toDF("user_id", "event_type", "ts")
    val got = TimeOps.funnelReaches(df, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinHours = Some(1))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    assert(got.toSeq == Seq(
      (1L, Some(us(0)), Some(us(10)), Some(us(20))),
      (2L, Some(us(5)), None, None)))
  }

  test("SimOps.knnLabelAccuracy: separable clusters score 1.0 per label") {
    val a = Array.fill(4)(0.0f)
    def v(base: Int, jitter: Float): Array[Float] = {
      val x = a.clone(); x(base) = 1.0f; x((base + 1) % 4) = jitter; x
    }
    // two well-separated clusters, 3 points each, labels follow clusters
    val df = Seq(
      (1L, v(0, 0.1f), 7), (2L, v(0, 0.2f), 7), (3L, v(0, 0.3f), 7),
      (4L, v(2, 0.1f), 9), (5L, v(2, 0.2f), 9), (6L, v(2, 0.3f), 9))
      .toDF("vec_id", "embedding", "label")
    val got = SimOps.knnLabelAccuracy(df, "vec_id", "embedding", "label",
        sampleFraction = 1.0)
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq((7, 3L, 3L, 0L, 1.0), (9, 3L, 3L, 0L, 1.0)))
    // the IVF-pool scale path votes identically on separable clusters
    val ivf = SimOps.knnLabelAccuracy(df, "vec_id", "embedding", "label",
        sampleFraction = 1.0, ivfCells = Some(2))
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(ivf.toSeq == got.toSeq)
  }

  test("SimOps.knnLabelAccuracy: unresolved queries stay in the denominator") {
    // a singleton corpus slice: sampleFraction 1.0 makes the lone
    // vector its own query, and with self excluded it has NO neighbor
    // — before the left-join fix it silently vanished from n_queries
    val df = Seq((1L, Array(1.0f, 0.0f), 7))
      .toDF("vec_id", "embedding", "label")
    val got = SimOps.knnLabelAccuracy(df, "vec_id", "embedding", "label",
        sampleFraction = 1.0).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_queries") == 1L)
    assert(r.getAs[Long]("n_correct") == 0L)
    assert(r.getAs[Long]("n_unresolved") == 1L)
    assert(r.getAs[Double]("accuracy") == 0.0)
  }

  test("TimeOps.attributionWeights: linear decay, exact normalization") {
    import java.sql.Timestamp
    def ts(min: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 12:00:00").getTime + min * 60000L)
    val df = Seq(
      (1L, 10L, "view", ts(-90)),      // raw = 60min - 90min -> outside 1h window
      (1L, 11L, "view", ts(-30)),      // raw = 30min
      (1L, 12L, "click", ts(-10)),     // raw = 50min
      (1L, 13L, "purchase", ts(0)),
      (1L, 14L, "click", ts(5)),       // after conversion -> excluded
      (2L, 20L, "purchase", ts(0)))    // no touches -> no rows
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = TimeOps.attributionWeights(df, "user_id", "ts", "event_id",
        "event_type", "purchase", Seq("view", "click"), windowHours = 1)
      .orderBy("touch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (13L, 11L, "view", 30L * 60000000L, 0.375),   // 30/(30+50)
      (13L, 12L, "click", 10L * 60000000L, 0.625))) // 50/(30+50)
  }

  test("TextOps.pmiBigrams: exact counts, lift ranking, short docs excluded") {
    val df = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "c c"), (4L, "x"))
      .toDF("doc_id", "text")
    // docs >= 2 words: 1,2,3. unigrams: a=3 b=3 c=3 (c from d2 + 2 from d3), tn=9
    // bigrams: "a b"x3 ("a b a b" has a-b, b-a, a-b; "a b c": a-b, b-c),
    //   "b a"x1, "b c"x1, "c c"x1 -> tm=6
    val got = TextOps.pmiBigrams(df, "text", minCount = 2L, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // only "a b" passes minCount=2: lift = (3/6)/((3/9)*(3/9)) = 4.5
    assert(got.toSeq == Seq((1, "a b", 3L, 3L, 3L,
      BigDecimal(math.log(4.5)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
  }

  test("TimeOps.rollingActiveUsers: sliding distinct via bounded fan-out") {
    import java.sql.Timestamp
    def ts(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val df = Seq(
      (1L, ts(1)), (1L, ts(1)),  // same-day dup collapses
      (2L, ts(1)), (2L, ts(2)),
      (1L, ts(3))).toDF("user_id", "ts")
    val got = TimeOps.rollingActiveUsers(df, "user_id", "ts", windowDays = 2)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // d1: dau {1,2}, wau(trailing 2d) {1,2}; d2: dau {2}, wau {1,2};
    // d3: dau {1}, wau {1,2} (u2 active d2 counts for d3)
    assert(got.toSeq == Seq(
      ("2024-01-01", 2L, 2L, 1.0),
      ("2024-01-02", 1L, 2L, 0.5),
      ("2024-01-03", 1L, 2L, 0.5)))
  }

  test("TextOps.langIdConfusion: confusion matrix with per-actual shares") {
    val df = Seq(
      (1L, "the and of", "en"),     // -> en (diagonal)
      (2L, "the and of", "fr"),     // -> en (off-diagonal)
      (3L, "le la les", "fr"),      // -> fr
      (4L, "xyz qqq", "en"))        // -> und
      .toDF("doc_id", "text", "lang")
    val got = TextOps.langIdConfusion(df)
      .orderBy("actual_lang", "predicted_lang").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("en", "en", 1L, 0.5), ("en", "und", 1L, 0.5),
      ("fr", "en", 1L, 0.5), ("fr", "fr", 1L, 0.5)))
  }

  test("LibOps.ksReport: exact two-sample KS vs rest-of-corpus") {
    val df = Seq(("a", 1), ("a", 2), ("b", 2), ("b", 3), ("b", 3)).toDF("g", "v")
    val got = LibOps.ksReport(df, "g", "v").orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    // D(a vs b) = max(|.5-0|, |1-1/3|, |1-1|) = 2/3; crit = 1.358*sqrt(5/6)
    assert(got.map(_._1).toSeq == Seq("a", "b"))
    assert(got(0)._2 == 2L && got(1)._2 == 3L)
    assert(got.forall(_._3 == 0.666667))
    assert(got.forall(_._4 == 1.239679))
    assert(got.forall(!_._5))
    // a group covering the whole corpus has no rest: NULL stats, not drifted
    val solo = LibOps.ksReport(Seq(("a", 1), ("a", 2)).toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(solo.isNullAt(2) && solo.isNullAt(3) && !solo.getBoolean(4))
  }

  test("TimeOps.transitionMatrix: per-user lead with deterministic ties") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
    val df = Seq(
      // u1: two events at the SAME µs — successor resolves by event_id
      (1L, 1L, "a", t0), (1L, 2L, "b", t0), (1L, 3L, "a", t1),
      // u2: a single event — no transition
      (2L, 4L, "b", t0)).toDF("user_id", "event_id", "event_type", "ts")
    val got = TimeOps.transitionMatrix(df, "user_id", "ts", "event_id", "event_type")
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("a", "b", 1L, 1.0), ("b", "a", 1L, 1.0)))
  }

  test("TimeOps.transitionMatrix: NULL users are dropped, not one giant stream") {
    import java.sql.Timestamp
    val t = (m: Int) => new Timestamp(
      Timestamp.valueOf("2024-01-01 00:00:00").getTime + m * 60000L)
    // the anonymous stream interleaves c->d->c->d... — before the
    // round-7 filter it formed ONE window partition and fabricated
    // c->d / d->c transitions that exist for no actual user
    val df = Seq(
      (Option(1L), 1L, "a", t(0)), (Option(1L), 2L, "b", t(1)),
      (Option.empty[Long], 3L, "c", t(0)), (Option.empty[Long], 4L, "d", t(1)),
      (Option.empty[Long], 5L, "c", t(2)), (Option.empty[Long], 6L, "d", t(3)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = TimeOps.transitionMatrix(df, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", "b", 1L)),
      "NULL-user events must contribute no transitions")
  }

  test("TimeOps.rateAnomaly: dense spine, exact rolling moments, NULL z on zero variance") {
    import java.sql.Timestamp
    def ts(hour: Int, n: Int): Seq[Timestamp] = (0 until n).map(i =>
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
        + hour * 3600000L + i * 1000L))
    // type x: lookback 1,2,1,2 then a spike of 4 at h=4
    val x = Seq(0 -> 1, 1 -> 2, 2 -> 1, 3 -> 2, 4 -> 4)
      .flatMap { case (h, n) => ts(h, n).map(("x", _)) }
    // type y: constant 1/hour -> zero variance -> NULL z, never anomalous
    val y = (0 to 5).flatMap(h => ts(h, 1).map(("y", _)))
    val df = (x ++ y).toDF("event_type", "ts")
    val got = TimeOps.rateAnomaly(df, "ts", "event_type",
        "2024-01-01 00:00:00", nHours = 8, trailing = 4, zThresh = 3.0)
      .orderBy("event_type", "h").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
    // spine is dense: 2 types x 4 scored hours (h=4..7)
    assert(got.length == 8)
    // x@4: m = 6/4 = 1.5, var = (10 - 9) / 4 = 0.25 -> z = 2.5/0.5 = 5
    val x4 = got.find(g => g._1 == "x" && g._2 == 4).get
    assert(x4._3 == 4L && x4._4.contains(5.0) && x4._5)
    // x@6: lookback 1,2,4,0 (h=5 empty hour counts 0 via the spine)
    val x6 = got.find(g => g._1 == "x" && g._2 == 6).get
    assert(x6._3 == 0L && !x6._5)
    // y: constant lookback -> zero variance -> NULL z, not anomalous
    val y4 = got.find(g => g._1 == "y" && g._2 == 4).get
    assert(y4._4.isEmpty && !y4._5)
  }

  test("TextOps.trendingTerms: smoothed lift vs previous batch, top-k") {
    val df = Seq(
      (0, "a a b"),
      (1, "a b b c")).toDF("batch", "text")
    val got = TextOps.trendingTerms(df, "text", col("batch"), k = 2)
      .orderBy("batch", "rank").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // batch 0 has no predecessor and is absent; batch 1:
    // lift(c) = (1.5/5)/(0.5/4) = 2.4 (new term), lift(b) = (2.5/5)/(1.5/4)
    assert(got.toSeq == Seq(
      (1, 1, "c", 1L, 0L, 2.4),
      (1, 2, "b", 2L, 1L, 1.3333)))
  }

  test("PackOps.packEfficiency: exact integer padding arithmetic per bucket") {
    val df = Seq(10L, 10L, 10L, 10L, 64L, 65L, 100L).toDF("n_tokens")
    val got = PackOps.packEfficiency(df, "n_tokens", maxLen = 64, bucketWidth = 50)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getDouble(7)))
    assert(got.toSeq == Seq(
      // 4 x 10-token docs: 4 padded seqs of 64 vs 1 packed bin
      (0, 4L, 40L, 4L, 216L, 0.8438, 1L, 0.75),
      // 64 + 65 tokens: 1 + 2 seqs (65 straddles), packed needs 3 too
      (1, 2L, 129L, 3L, 63L, 0.3281, 3L, 0.0),
      (2, 1L, 100L, 2L, 28L, 0.2188, 2L, 0.0)))
  }

  test("DedupOps.lshRecallReport: exact truth vs capped LSH candidates") {
    val dup = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, dup), (2L, dup),                       // an exact near-dup pair
      (3L, (11 to 20).map(i => s"w$i").mkString(" ")),
      (4L, (21 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = DedupOps.lshRecallReport(df, "text", "doc_id",
      sampleFraction = 1.0).collect()(0)
    assert(r.getAs[Long]("n_true_pairs") == 1L)
    assert(r.getAs[Long]("n_hits") == 1L)
    assert(r.getAs[Double]("recall") == 1.0)
    assert(r.getAs[Double]("precision_at_tau") == 1.0)
    // empty sample: zero counts, NULL ratios (try_divide), not a crash
    val z = DedupOps.lshRecallReport(df, "text", "doc_id",
      sampleFraction = 0.0).collect()(0)
    assert(z.getAs[Long]("n_true_pairs") == 0L && z.isNullAt(3) && z.isNullAt(4))
  }

  test("EvalOps NULL drop stays ABOVE the aggregate (fused-filter plan contract)") {
    // the round-7 1.9x finding: a splittable `score IS NOT NULL`
    // pushes below the aggregate and re-evaluates the computed score
    // expression per row. The fused when() predicate must keep the
    // Filter above the Aggregate — pin it so an optimizer change
    // cannot silently re-admit the double evaluation.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val df = spark.range(100)
      .selectExpr("id % 7 as s", "id % 2 = 0 as y")
      .selectExpr("s * 2 + 1 as score", "y") // a COMPUTED score column
    Seq(
      EvalOps.scoreCounts(df, "score", "y"),
      EvalOps.aucByGroup(df.selectExpr("score", "y", "'g' as grp"),
        "score", "y", "grp")) foreach { out =>
      val agg = out.queryExecution.optimizedPlan
        .collect { case a: Aggregate => a }
      assert(agg.nonEmpty)
      // no Filter anywhere beneath the BOTTOM aggregate (the corpus
      // pass — the fused filter legitimately sits between it and any
      // aggregate above)
      assert(agg.last.children.flatMap(_.collect { case f: Filter => f }).isEmpty,
        s"NULL-drop filter pushed below the corpus aggregate:\n${out.queryExecution.optimizedPlan}")
    }
  }

  test("index retraction: delete ≡ rebuild-without for every family; merge-then-delete round-trips") {
    // the lifecycle's retraction half: every index family can take
    // documents OUT, through its FoldLaw instance. Checked as the exact law —
    // delete(index(A ∪ B), B) = index(A) — and as the round-trip a
    // real takedown performs: fold a batch in, retract it, land back
    // on the never-ingested snapshot. Per-doc-fact families (minhash
    // bands, simhash signatures, IVF assignments) delete by id
    // anti-join; the span index is counts, so deletion is the signed
    // fold (and must drop digests that empty out, or a takedown
    // leaves its boilerplate marked duplicated forever).
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val a = docs.filter($"doc_id" < 200)
    val b = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
    val bIds = b.select($"doc_id")
    import graft.streaming.FoldLaw
    // minhash: law + round-trip
    val bands = FoldLaw.minhashBands("text", "doc_id")
    val mhA = rows(DedupOps.minhashIndex(a, "text", "doc_id"))
    assert(rows(bands.delete(
      DedupOps.minhashIndex(docs.filter($"doc_id" < 400), "text", "doc_id"),
      bIds)) == mhA, "minhash delete != rebuild-without")
    assert(rows(bands.delete(bands.merge(bands.derive(a), b), bIds)) == mhA,
      "minhash merge-then-delete != snapshot")
    // simhash: law + round-trip
    val sigs = FoldLaw.simhashSignatures("text", "doc_id")
    val shA = rows(DedupOps.simhashIndex(a, "text", "doc_id"))
    assert(rows(sigs.delete(
      DedupOps.simhashIndex(docs.filter($"doc_id" < 400), "text", "doc_id"),
      bIds)) == shA, "simhash delete != rebuild-without")
    assert(rows(sigs.delete(sigs.merge(sigs.derive(a), b), bIds)) == shA,
      "simhash merge-then-delete != snapshot")
    // span: signed fold (needs deleted TEXT, not just ids) + round-trip
    val spans = FoldLaw.spanOccurrences("text", "doc_id")
    def spanRows(ix: org.apache.spark.sql.DataFrame): Seq[String] =
      ix.select(hex(col("fp")), col("occ")).collect()
        .map(_.toString).sorted.toSeq
    val spA = spanRows(DedupOps.spanIndex(a, "text", "doc_id"))
    assert(spanRows(spans.delete(
      DedupOps.spanIndex(docs.filter($"doc_id" < 400), "text", "doc_id"),
      spans.derive(b))) == spA, "span delete != rebuild-without")
    assert(spanRows(spans.delete(
      spans.merge(spans.derive(a), spans.derive(b)), spans.derive(b))) == spA,
      "span merge-then-delete != snapshot")
    // IVF: law + round-trip under the pinned codebook
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val ea = e.filter($"vec_id" < 200)
    val eb = e.filter($"vec_id" >= 200 && $"vec_id" < 400)
    val cb = SimOps.lowestIdCodebook(ea, "vec_id", "embedding", 16)
    val cells = FoldLaw.ivfCells("vec_id", "embedding", cb)
    val ivfA = rows(SimOps.ivfIndex(ea, "vec_id", "embedding", cb))
    assert(rows(cells.delete(
      SimOps.ivfIndex(e.filter($"vec_id" < 400), "vec_id", "embedding", cb),
      eb.select($"vec_id"))) == ivfA,
      "ivf delete != rebuild-without")
    assert(rows(cells.delete(cells.merge(cells.derive(ea), eb),
      eb.select($"vec_id"))) == ivfA,
      "ivf merge-then-delete != snapshot")
  }

  test("bucket stats: additive merge/delete laws; stats-capped probe ≡ window probe, no index-wide window") {
    // bucket sizes are a static property of the index, additive under
    // merge and signed under delete (FoldLaw.Counted) — so a probe
    // passing stored stats must (a) return
    // exactly what the window path returns and (b) plan WITHOUT any
    // window over the index (the cap becomes an anti-join against the
    // rare over-cap keys).
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val a = docs.filter($"doc_id" < 250)
    val b = docs.filter($"doc_id" >= 250)
    val ixA = DedupOps.minhashIndex(a, "text", "doc_id")
    val ixB = DedupOps.minhashIndex(b, "text", "doc_id")
    val ixAll = DedupOps.minhashIndex(docs, "text", "doc_id")
    val mhStats = graft.streaming.FoldLaw.minhashBucketStats
    val shStatsLaw = graft.streaming.FoldLaw.simhashSegmentStats
    // merge law: stats(A) ⊎ stats(B) = stats(A ∪ B)
    assert(rows(mhStats.merge(
      DedupOps.minhashBucketStats(ixA), DedupOps.minhashBucketStats(ixB)))
      == rows(DedupOps.minhashBucketStats(ixAll)),
      "minhash stats merge != rebuild")
    // delete law: stats(A ∪ B) ⊖ stats(bands(B)) = stats(A)
    assert(rows(mhStats.delete(
      DedupOps.minhashBucketStats(ixAll), mhStats.derive(ixB)))
      == rows(DedupOps.minhashBucketStats(ixA)),
      "minhash stats delete != rebuild-without")
    // simhash segment stats: same two laws
    val sgA = DedupOps.simhashSegmentIndex(
      DedupOps.simhashIndex(a, "text", "doc_id"), "doc_id")
    val sgB = DedupOps.simhashSegmentIndex(
      DedupOps.simhashIndex(b, "text", "doc_id"), "doc_id")
    val sgAll = DedupOps.simhashSegmentIndex(
      DedupOps.simhashIndex(docs, "text", "doc_id"), "doc_id")
    assert(rows(shStatsLaw.merge(
      DedupOps.simhashSegmentStats(sgA), DedupOps.simhashSegmentStats(sgB)))
      == rows(DedupOps.simhashSegmentStats(sgAll)),
      "simhash stats merge != rebuild")
    assert(rows(shStatsLaw.delete(
      DedupOps.simhashSegmentStats(sgAll), shStatsLaw.derive(sgB)))
      == rows(DedupOps.simhashSegmentStats(sgA)),
      "simhash stats delete != rebuild-without")
    // probe equivalence + plan contract, with a maxBucket LOW enough
    // (4) that the cap actually bites on this fixture — an
    // always-empty over-cap set would vacuously pass equivalence
    val statsProbe = DedupOps.minhashNearDupIndexed(b, ixA, a,
      "text", "doc_id", maxBucket = 4,
      bandStats = Some(DedupOps.minhashBucketStats(ixA)))
    val windowProbe = DedupOps.minhashNearDupIndexed(b, ixA, a,
      "text", "doc_id", maxBucket = 4)
    assert(rows(statsProbe) == rows(windowProbe),
      "stats-capped probe != window-capped probe")
    assert(statsProbe.collect().nonEmpty)
    assert(!statsProbe.queryExecution.executedPlan.toString.contains("Window"),
      "stats-capped probe must not window the index")
    assert(windowProbe.queryExecution.executedPlan.toString.contains("Window"))
    // same pair for the simhash segment probe
    val shStats = DedupOps.simhashNearDupSegIndexed(b, sgA,
      "text", "doc_id", maxBucket = 4,
      segStats = Some(DedupOps.simhashSegmentStats(sgA)))
    val shWindow = DedupOps.simhashNearDupSegIndexed(b, sgA,
      "text", "doc_id", maxBucket = 4)
    assert(rows(shStats) == rows(shWindow),
      "simhash stats-capped probe != window-capped probe")
    assert(!shStats.queryExecution.executedPlan.toString.contains("Window"),
      "simhash stats-capped probe must not window the index")
  }

  test("histState: merge ≡ rebuild, chains compose, delete retracts exactly, psiFromStates ≡ psiReport") {
    // the distribution-monitoring lifecycle's laws (FoldLaw.histBins,
    // the score-counts pattern on histogram bins): counts additive
    // over disjoint rows, signed fold retracts a batch exactly
    // (emptied bins drop — sparse-state convention), and the stored-
    // state PSI equals the inline two-sample report (shared tail).
    val e = graft.io.Tables.events(spark, TestSpark.Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val a = e.filter($"event_id" % 3 === 0)
    val b = e.filter($"event_id" % 3 === 1)
    val c = e.filter($"event_id" % 3 === 2)
    val hist = graft.streaming.FoldLaw.histBins("value", 0.0, 25.0, 20)
    def st(df: org.apache.spark.sql.DataFrame) =
      LibOps.histState(df, "value", 0.0, 25.0, 20)
    val all = rows(st(e))
    assert(rows(hist.merge(hist.merge(st(a), st(b)), st(c))) == all,
      "chained state merges != rebuild")
    assert(rows(hist.delete(st(e), st(c)))
      == rows(st(e.filter($"event_id" % 3 =!= 2))),
      "state delete != rebuild-without")
    // round-trip: fold in, retract, land on the original
    assert(rows(hist.delete(hist.merge(st(a), st(b)), st(b))) == rows(st(a)),
      "merge-then-delete != original state")
    // PSI through the consumer: stored states ≡ inline report
    assert(rows(LibOps.psiFromStates(st(a), st(b), 20))
      == rows(LibOps.psiReport(a, b, "value", 0.0, 25.0, 20)),
      "psiFromStates != psiReport")
  }

  test("compactBucketed: churned index files collapse, bucket layout and content survive") {
    // the operational seam of append-mode index maintenance: four
    // merge folds leave ~waves×buckets files; the compaction rewrite
    // must collapse them to one per bucket, copy the bucket spec from
    // the catalog (the probe's zero-exchange plan depends on it), and
    // be content-neutral
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val tbl = "graft_test_churn"
    val cpt = "graft_test_churn_compacted"
    Seq(tbl, cpt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def dataFiles(t: String): Int = graft.io.Bucketing.dataFileCount(spark, t)
    try {
      val keys = Seq("seg_idx", "seg_val")
      def segOf(m: Int) = DedupOps.simhashSegmentIndex(
        DedupOps.simhashIndex(docs.filter($"doc_id" % 4 === m), "text", "doc_id"),
        "doc_id")
      graft.io.Bucketing.write(segOf(0), tbl, 4, keys)
      (1 to 3).foreach(i =>
        graft.io.Bucketing.appendBucketedKeys(segOf(i), tbl, 4, keys))
      val before = dataFiles(tbl)
      assert(before > 4, s"churn fixture produced only $before files")
      graft.io.Bucketing.compactBucketed(spark, tbl, cpt)
      // round-11 advice fix: the autoBucketedScan pin runs on a cloned
      // session — the caller's session conf must come back untouched
      assert(spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true") == "true",
        "compactBucketed leaked its conf pin into the caller's session")
      val after = dataFiles(cpt)
      assert(after < before && after <= 4,
        s"compaction did not collapse files: $before -> $after")
      // spec copied, content identical, compacted scan still bucketed
      val specIn = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
      val specOut = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(cpt)).bucketSpec
      assert(specIn == specOut, s"bucket spec changed: $specIn -> $specOut")
      assert(spark.table(cpt).collect().map(_.toString).sorted.toSeq ==
        spark.table(tbl).collect().map(_.toString).sorted.toSeq,
        "compaction changed table content")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val agg = spark.table(cpt).groupBy($"seg_idx", $"seg_val").count()
        val scans = agg.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == cpt) => f
        }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          "compacted table no longer scans bucketed")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
      // a table sorted on other columns than its bucket keys is refused,
      // not silently re-sorted on the keys
      segOf(0).write.bucketBy(4, "seg_idx").sortBy("doc_id")
        .mode("overwrite").saveAsTable(tbl)
      val err = intercept[IllegalArgumentException](
        graft.io.Bucketing.compactBucketed(spark, tbl, cpt))
      assert(err.getMessage.contains("[doc_id]") && err.getMessage.contains("[seg_idx]"),
        err.getMessage)
    } finally
      Seq(tbl, cpt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed band-index probe: minhash index side reads its buckets and never shuffles") {
    // the minhash sibling of the segment-index assertion below
    // (round 10): the band index stored BUCKETED on its raw probe key
    // (band_idx, band_hash ARRAY<BIGINT> — Spark hash-partitions and
    // orders arrays natively), stats stored keys-sized, and the probe
    // plans with zero Exchange anywhere between the index scan and
    // its first join. Broadcast off so the SMJ bucket path (the
    // large-ingest shape) is what's asserted; AQE off for a
    // deterministic tree.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val tbl = "graft_test_mhband_bucketed"
    val statsDir = "/tmp/graft_test_mhband_stats"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      graft.io.Bucketing.write(
        DedupOps.minhashIndex(corpus, "text", "doc_id"),
        tbl, 4, Seq("band_idx", "band_hash"))
      val bandIndex = spark.table(tbl)
      DedupOps.minhashBucketStats(bandIndex)
        .write.mode("overwrite").parquet(statsDir)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = DedupOps.minhashNearDupIndexed(batch, bandIndex,
          corpus, "text", "doc_id",
          bandStats = Some(spark.read.parquet(statsDir)))
        // matches the inline-index probe exactly
        val viaInline = DedupOps.minhashNearDupIncremental(corpus, batch,
          "text", "doc_id")
        assert(probe.collect().map(_.toString).sorted.toSeq ==
          viaInline.collect().map(_.toString).sorted.toSeq,
          "bucketed probe != inline-index probe")
        def isIndexScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == tbl)
          case _ => false
        }
        val plan = probe.queryExecution.executedPlan
        val indexScans = plan.collect { case f if isIndexScan(f) => f }
        assert(indexScans.nonEmpty, s"plan must scan the stored table:\n$plan")
        assert(indexScans.forall {
          case f: FileSourceScanExec => f.bucketedScan
        }, s"index scan must use the bucket layout:\n$plan")
        def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
          if (isIndexScan(p)) Some(List(p))
          else p.children.view.flatMap(pathTo).headOption.map(p :: _)
        val path = pathTo(plan).getOrElse(fail(s"no path to index scan:\n$plan"))
        val belowJoin = path.reverse
          .takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
        assert(path.reverse.exists(_.getClass.getSimpleName.contains("Join")),
          s"index scan feeds no join:\n$plan")
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the stored index was shuffled before its join:\n$plan")
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.io.FsOps.rm(spark, statsDir)
    }
  }

  test("partitioned+bucketed band index: probe prunes partitions AND never shuffles the index") {
    // round 11 (verdict task 7): the q78 fact layout composed onto a
    // lifecycle index — ONE plan must show non-empty PartitionFilters
    // on the index scan (the wave predicate prunes directories at
    // planning time) AND zero Exchange between that scan and its
    // join (the bucket layout satisfies the join distribution). The
    // pruned slice's result must equal the inline probe over the
    // pruned corpus.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val tbl = "graft_test_mhband_part"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      val banded = DedupOps.minhashIndex(corpus, "text", "doc_id")
        .withColumn("ingest_wave", $"doc_id" % 3)
      graft.io.Bucketing.write(banded, tbl, 4, Seq("band_idx", "band_hash"),
        partitionBy = Seq("ingest_wave"))
      val pruned = spark.table(tbl)
        .filter($"ingest_wave" < 2).drop("ingest_wave")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = DedupOps.minhashNearDupIndexed(batch, pruned,
          corpus.filter($"doc_id" % 3 < 2), "text", "doc_id")
        val viaInline = DedupOps.minhashNearDupIncremental(
          corpus.filter($"doc_id" % 3 < 2), batch, "text", "doc_id")
        assert(probe.collect().map(_.toString).sorted.toSeq ==
          viaInline.collect().map(_.toString).sorted.toSeq,
          "pruned partitioned probe != inline probe over the pruned corpus")
        def isIndexScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == tbl)
          case _ => false
        }
        val plan = probe.queryExecution.executedPlan
        val indexScans = plan.collect {
          case f: FileSourceScanExec if isIndexScan(f) => f
        }
        assert(indexScans.nonEmpty, s"plan must scan the stored table:\n$plan")
        assert(indexScans.forall(_.bucketedScan),
          s"index scan must use the bucket layout:\n$plan")
        assert(indexScans.forall(_.partitionFilters.nonEmpty),
          s"wave predicate did not reach PartitionFilters:\n$plan")
        def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
          if (isIndexScan(p)) Some(List(p))
          else p.children.view.flatMap(pathTo).headOption.map(p :: _)
        val path = pathTo(plan).getOrElse(fail(s"no path to index scan:\n$plan"))
        val belowJoin = path.reverse
          .takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
        assert(path.reverse.exists(_.getClass.getSimpleName.contains("Join")),
          s"index scan feeds no join:\n$plan")
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the stored index was shuffled before its join:\n$plan")
        // round 12 (verdict task 8): the stored per-wave STATS live
        // partitioned on the same wave key — the same predicate must
        // prune stats partition directories at planning time too
        val statsDir = "/tmp/graft_test_mhband_part_stats"
        try {
          banded.groupBy($"ingest_wave", $"band_idx", $"band_hash")
            .agg(count(lit(1)).as("bucket_n"))
            .write.mode("overwrite").partitionBy("ingest_wave")
            .parquet(statsDir)
          val prunedStats = spark.read.parquet(statsDir)
            .filter($"ingest_wave" < 2)
            .groupBy($"band_idx", $"band_hash")
            .agg(sum($"bucket_n").as("bucket_n"))
          val statsScans = prunedStats.queryExecution.executedPlan.collect {
            case f: FileSourceScanExec => f
          }
          assert(statsScans.nonEmpty)
          assert(statsScans.forall(_.partitionFilters.nonEmpty),
            "wave predicate did not reach the stats scan's PartitionFilters")
          // additive law: pruned group-sum ≡ stats of the pruned index
          val direct = DedupOps.minhashBucketStats(pruned).collect()
            .map(_.toString).sorted.toSeq
          assert(prunedStats.collect().map(_.toString).sorted.toSeq == direct,
            "pruned per-wave stats != stats of the pruned index")
        } finally graft.io.FsOps.rm(spark, statsDir)
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("minhash delta probe: bucketed base never shuffles AND equals the resolved-state probe") {
    // round 12 (verdict task 3): the round-11 capstone composition on
    // the array-keyed band index — the probe must (a) keep the
    // zero-exchange plan on the bucketed base scan and (b) equal the
    // plain stats-capped probe of the RESOLVED band index
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val batch = docs.filter($"doc_id" % 10 === 5)
    val addDocs = docs.filter($"doc_id" % 10 === 0)
    val delDocs = corpus.filter($"doc_id" % 10 === 7)
    val tbl = "graft_test_mhband_delta"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      graft.io.Bucketing.write(
        DedupOps.minhashIndex(corpus, "text", "doc_id"), tbl, 4,
        Seq("band_idx", "band_hash"))
      val base = spark.table(tbl)
      val overlayAdds = DedupOps.minhashIndex(addDocs, "text", "doc_id")
      val tombs = delDocs.select($"doc_id")
      val stats = graft.streaming.FoldLaw.minhashBucketStats
      val effStats = stats.merge(
        stats.delete(DedupOps.minhashBucketStats(base),
          stats.derive(DedupOps.minhashIndex(delDocs, "text", "doc_id"))),
        DedupOps.minhashBucketStats(overlayAdds))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val viaDelta = DedupOps.minhashNearDupDeltaIndexed(batch, base,
          overlayAdds, Some(tombs), corpus,
          addDocs.select($"doc_id", $"text"), "text", "doc_id",
          bandStats = effStats)
        // (b) equality with the plain stats-capped probe over the
        // resolved index (net corpus: tombstoned docs out, adds in)
        val netCorpus = corpus.filter($"doc_id" % 10 =!= 7)
          .unionByName(addDocs)
        val viaResolved = DedupOps.minhashNearDupIndexed(batch,
          DedupOps.minhashIndex(netCorpus, "text", "doc_id"),
          netCorpus, "text", "doc_id", bandStats = Some(effStats))
        assert(viaDelta.collect().map(_.toString).sorted.toSeq ==
          viaResolved.collect().map(_.toString).sorted.toSeq,
          "minhash delta probe != resolved-state probe")
        // (a) zero exchange between the base scan and its join
        def isBaseScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == tbl)
          case _ => false
        }
        val plan = viaDelta.queryExecution.executedPlan
        val baseScans = plan.collect {
          case f: FileSourceScanExec if isBaseScan(f) => f
        }
        assert(baseScans.nonEmpty, s"plan must scan the stored base:\n$plan")
        assert(baseScans.forall(_.bucketedScan),
          s"base scan must use the bucket layout:\n$plan")
        def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
          if (isBaseScan(p)) Some(List(p))
          else p.children.view.flatMap(pathTo).headOption.map(p :: _)
        val path = pathTo(plan).getOrElse(fail(s"no path to base scan:\n$plan"))
        val belowJoin = path.reverse
          .takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
        assert(path.reverse.exists(_.getClass.getSimpleName.contains("Join")),
          s"base scan feeds no join:\n$plan")
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the bucketed base was shuffled before its join:\n$plan")
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("IVF delta probe: bucketed base never shuffles AND equals the resolved-state probe") {
    // round 12: the delta-overlay composition on the ANN family — the
    // probe must (a) keep the zero-exchange plan on the cell-bucketed
    // base scan and (b) equal ivfTopKIndexed over the resolved index
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ops.SimOps
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val corpus = e.filter($"vec_id" % 10 =!= 0)
    val addVecs = e.filter($"vec_id" % 10 === 0)
    val cb = SimOps.lowestIdCodebook(corpus, "vec_id", "embedding", 16)
    val tbl = "graft_test_ivf_delta"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      graft.io.Bucketing.write(
        SimOps.ivfIndex(corpus, "vec_id", "embedding", cb),
        tbl, 4, Seq("cell"))
      val base = spark.table(tbl)
      val overlayAdds = SimOps.ivfIndex(addVecs, "vec_id", "embedding", cb)
      val tombs = corpus.filter($"vec_id" % 10 === 7).select($"vec_id")
      val queries = e.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 7)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val viaDelta = SimOps.ivfTopKDeltaIndexed(queries, base,
          overlayAdds, Some(tombs), "vec_id", "embedding", cb, k = 5)
        // (b) equality with the plain probe over the resolved index
        val resolved = SimOps.ivfIndex(
          e.filter($"vec_id" % 10 =!= 7), "vec_id", "embedding", cb)
        val viaResolved = SimOps.ivfTopKIndexed(queries, resolved,
          "vec_id", "embedding", cb, k = 5)
        assert(viaDelta.collect().map(_.toString).sorted.toSeq ==
          viaResolved.collect().map(_.toString).sorted.toSeq,
          "IVF delta probe != resolved-state probe")
        // (a) zero exchange between the base scan and its join (the
        // query side broadcasts — small probe set — so the bucketed
        // base never moves; assert it structurally)
        def isBaseScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == tbl)
          case _ => false
        }
        val plan = viaDelta.queryExecution.executedPlan
        val baseScans = plan.collect {
          case f: FileSourceScanExec if isBaseScan(f) => f
        }
        assert(baseScans.nonEmpty, s"plan must scan the stored base:\n$plan")
        def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
          if (isBaseScan(p)) Some(List(p))
          else p.children.view.flatMap(pathTo).headOption.map(p :: _)
        val path = pathTo(plan).getOrElse(fail(s"no path to base scan:\n$plan"))
        val belowJoin = path.reverse
          .takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
        assert(path.reverse.exists(_.getClass.getSimpleName.contains("Join")),
          s"base scan feeds no join:\n$plan")
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the bucketed base was shuffled before its join:\n$plan")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("IVF retrain cutover: the old generation answers undisturbed through the rebuild") {
    // round 13 (the round-12 verdict's task 4): the blue/green retrain
    // event — gen-2 rebuilds under a NEW codebook into its OWN table
    // while gen-1 serves. Contract: (a) gen-1's probe answers
    // byte-identically before and after the rebuild AND the cutover
    // probe (its files are never touched — asserted on the file list),
    // and (b) the cutover probe against gen-2 equals the one-shot
    // inline ivfTopK under the new codebook over the net corpus
    import graft.ops.SimOps
    val e = graft.io.Tables.embeddings(spark, TestSpark.Sf0001)
    val corpus = e.filter($"vec_id" % 10 =!= 0)
    val cb1 = SimOps.lowestIdCodebook(corpus, "vec_id", "embedding", 16)
    val tbl1 = "graft_test_ivf_rc_gen1"
    val tbl2 = "graft_test_ivf_rc_gen2"
    Seq(tbl1, tbl2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.io.Bucketing.write(
        SimOps.ivfIndex(corpus, "vec_id", "embedding", cb1),
        tbl1, 4, Seq("cell"))
      val gen1 = spark.table(tbl1)
      val queries = e.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 0)
      def gen1Probe() = SimOps.ivfTopKIndexed(queries, gen1,
        "vec_id", "embedding", cb1, k = 5).collect().map(_.toString).sorted.toSeq
      val servedBefore = gen1Probe()
      val filesBefore = gen1.inputFiles.sorted.toSeq
      // RETRAIN: net corpus (takedowns out, ingests in), new codebook,
      // gen-2 rebuilt beside the serving generation
      val net = e.filter($"vec_id" % 10 =!= 7)
      val cb2 = SimOps.lowestIdCodebook(net, "vec_id", "embedding", 16)
      graft.io.Bucketing.write(
        SimOps.ivfIndex(net, "vec_id", "embedding", cb2),
        tbl2, 4, Seq("cell"))
      val cutQueries = e.filter($"vec_id" < 10 && $"vec_id" % 10 =!= 7)
      val cutover = SimOps.ivfTopKIndexed(cutQueries,
        spark.table(tbl2),
        "vec_id", "embedding", cb2, k = 5).collect().map(_.toString).sorted.toSeq
      val oneShot = SimOps.ivfTopK(cutQueries, net, "vec_id", "embedding", 5,
        codebook = Some(cb2)).collect().map(_.toString).sorted.toSeq
      assert(cutover == oneShot,
        "cutover probe != one-shot under the new codebook")
      // the old generation is UNDISTURBED: same answers, same files
      assert(gen1Probe() == servedBefore,
        "gen-1's probe answers changed during the gen-2 rebuild")
      assert(spark.table(tbl1).inputFiles.sorted.toSeq
        == filesBefore, "gen-1's files moved during the gen-2 rebuild")
    } finally Seq(tbl1, tbl2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("minhash re-shard cutover: layout-only rebuild equals a re-shingled index; gen-1 undisturbed") {
    // round 13: the hash families' re-shard event — band rows are
    // per-doc FACTS under a fixed hash family, so re-bucketing the
    // resolved rows at a new bucket count must answer identically to
    // an index REBUILT from the net corpus text (zero re-shingling is
    // the event's whole value), and gen-1 must serve undisturbed
    // (answers + file list) through the rebuild and the cutover probe
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val batch = docs.filter($"doc_id" % 10 === 5)
    val tbl1 = "graft_test_mh_rc_gen1"
    val tbl2 = "graft_test_mh_rc_gen2"
    Seq(tbl1, tbl2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.io.Bucketing.write(
        DedupOps.minhashIndex(corpus, "text", "doc_id"),
        tbl1, 4, Seq("band_idx", "band_hash"))
      val gen1 = spark.table(tbl1)
      def gen1Probe() = DedupOps.minhashNearDupIndexed(batch, gen1, corpus,
        "text", "doc_id",
        bandStats = Some(DedupOps.minhashBucketStats(gen1)))
        .collect().map(_.toString).sorted.toSeq
      val servedBefore = gen1Probe()
      val filesBefore = gen1.inputFiles.sorted.toSeq
      // re-shard: net view (takedowns out, ingests in) re-bucketed at
      // DOUBLE the count, straight from gen-1's rows — no text read
      val delIds = corpus.filter($"doc_id" % 10 === 7).select($"doc_id")
      val addDocs = docs.filter($"doc_id" % 10 === 0)
      val netBands = gen1.join(delIds, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"band_idx", $"band_hash")
        .unionByName(DedupOps.minhashIndex(addDocs, "text", "doc_id"))
      graft.io.Bucketing.write(netBands, tbl2, 8,
        Seq("band_idx", "band_hash"))
      val gen2 = spark.table(tbl2)
      val netText = docs.filter($"doc_id" % 10 =!= 5 && $"doc_id" % 10 =!= 7)
      val cutover = DedupOps.minhashNearDupIndexed(batch, gen2, netText,
        "text", "doc_id",
        bandStats = Some(DedupOps.minhashBucketStats(gen2)))
        .collect().map(_.toString).sorted.toSeq
      // layout-only rebuild ≡ full re-shingled rebuild of the net corpus
      val reshingled = DedupOps.minhashIndex(netText, "text", "doc_id")
      val viaRebuild = DedupOps.minhashNearDupIndexed(batch, reshingled,
        netText, "text", "doc_id",
        bandStats = Some(DedupOps.minhashBucketStats(reshingled)))
        .collect().map(_.toString).sorted.toSeq
      assert(cutover == viaRebuild,
        "re-sharded fact rows != re-shingled index of the net corpus")
      assert(gen1Probe() == servedBefore,
        "gen-1's probe answers changed during the re-shard")
      assert(spark.table(tbl1).inputFiles.sorted.toSeq
        == filesBefore, "gen-1's files moved during the re-shard")
    } finally Seq(tbl1, tbl2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("delta probe: bucketed base never shuffles AND equals the resolved-state probe") {
    // round 11 capstone shape: the DeltaState overlay composed with
    // the bucketed base — the probe must (a) keep the zero-exchange
    // plan on the base scan (a probe of read()'s union would lose it:
    // a union carries no bucketed distribution) and (b) equal the
    // plain stats-capped probe of the RESOLVED segment index
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    def segOf(df: org.apache.spark.sql.DataFrame) =
      DedupOps.simhashSegmentIndex(
        DedupOps.simhashIndex(df, "text", "doc_id"), "doc_id")
    val corpus = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val batch = docs.filter($"doc_id" % 10 === 5)
    val addDocs = docs.filter($"doc_id" % 10 === 0)
    val delDocs = corpus.filter($"doc_id" % 10 === 7)
    val tbl = "graft_test_shseg_delta"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      graft.io.Bucketing.write(segOf(corpus), tbl, 4,
        Seq("seg_idx", "seg_val"))
      val base = spark.table(tbl)
      val overlayAdds = segOf(addDocs)
      val tombs = delDocs.select($"doc_id")
      val stats = graft.streaming.FoldLaw.simhashSegmentStats
      val effStats = stats.merge(
        stats.delete(DedupOps.simhashSegmentStats(base),
          stats.derive(segOf(delDocs))),
        DedupOps.simhashSegmentStats(overlayAdds))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val viaDelta = DedupOps.simhashNearDupSegDeltaIndexed(batch, base,
          overlayAdds, Some(tombs), "text", "doc_id", segStats = effStats)
        // (b) equality with the plain probe over the resolved index
        val resolved = segOf(corpus.filter($"doc_id" % 10 =!= 7)
          .unionByName(addDocs))
        val viaResolved = DedupOps.simhashNearDupSegIndexed(batch, resolved,
          "text", "doc_id", segStats = Some(effStats))
        assert(viaDelta.collect().map(_.toString).sorted.toSeq ==
          viaResolved.collect().map(_.toString).sorted.toSeq,
          "delta probe != resolved-state probe")
        // (a) zero exchange between the base scan and its join
        def isBaseScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == tbl)
          case _ => false
        }
        val plan = viaDelta.queryExecution.executedPlan
        val baseScans = plan.collect {
          case f: FileSourceScanExec if isBaseScan(f) => f
        }
        assert(baseScans.nonEmpty, s"plan must scan the stored base:\n$plan")
        assert(baseScans.forall(_.bucketedScan),
          s"base scan must use the bucket layout:\n$plan")
        def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
          if (isBaseScan(p)) Some(List(p))
          else p.children.view.flatMap(pathTo).headOption.map(p :: _)
        val path = pathTo(plan).getOrElse(fail(s"no path to base scan:\n$plan"))
        val belowJoin = path.reverse
          .takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
        assert(path.reverse.exists(_.getClass.getSimpleName.contains("Join")),
          s"base scan feeds no join:\n$plan")
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the bucketed base was shuffled before its join:\n$plan")
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed segment-index probe: index side reads its buckets and never shuffles") {
    // the round-8 verdict's documented-but-unproven 100 TB claim made
    // structural: the simhash segment index STORED bucketed on its
    // probe key (seg_idx, seg_val), with stored stats, probes with
    // ZERO exchange anywhere above the index scan — the batch side
    // shuffles to meet the buckets, the index never moves (q57b's
    // contract on a lifecycle index). AQE off for a deterministic
    // plan tree; broadcast off so the SMJ bucket path (the
    // large-ingest shape) is what's asserted.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val tbl = "graft_test_shseg_bucketed"
    val statsDir = "/tmp/graft_test_shseg_stats"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      graft.io.Bucketing.write(
        DedupOps.simhashSegmentIndex(
          DedupOps.simhashIndex(corpus, "text", "doc_id"), "doc_id"),
        tbl, 4, Seq("seg_idx", "seg_val"))
      val segIndex = spark.table(tbl)
      DedupOps.simhashSegmentStats(segIndex)
        .write.mode("overwrite").parquet(statsDir)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = DedupOps.simhashNearDupSegIndexed(batch, segIndex,
          "text", "doc_id",
          segStats = Some(spark.read.parquet(statsDir)))
        // matches the signature-index probe exactly
        val viaSig = DedupOps.simhashNearDupIncremental(batch,
          DedupOps.simhashIndex(corpus, "text", "doc_id"), "text", "doc_id")
        assert(probe.collect().map(_.toString).sorted.toSeq ==
          viaSig.collect().map(_.toString).sorted.toSeq,
          "bucketed probe != signature-index probe")
        def isIndexScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == tbl)
          case _ => false
        }
        val plan = probe.queryExecution.executedPlan
        val indexScans = plan.collect { case f if isIndexScan(f) => f }
        assert(indexScans.nonEmpty, s"plan must scan the stored table:\n$plan")
        assert(indexScans.forall {
          case f: FileSourceScanExec => f.bucketedScan
        }, s"index scan must use the bucket layout:\n$plan")
        // the index rows are never REPARTITIONED on their way into a
        // join: on the path from each index scan up to the first join
        // above it there is no shuffle (exchanges above the joins —
        // distinct, final aggregates — are candidate-sized and the
        // query's own; the batch and stats sides legitimately move)
        def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
          if (isIndexScan(p)) Some(List(p))
          else p.children.view.flatMap(pathTo).headOption.map(p :: _)
        val path = pathTo(plan).getOrElse(fail(s"no path to index scan:\n$plan"))
        val belowJoin = path.reverse
          .takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
        assert(path.reverse.exists(_.getClass.getSimpleName.contains("Join")),
          s"index scan feeds no join:\n$plan")
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the stored index was shuffled before its join:\n$plan")
        // sanity: the batch side DOES shuffle (this is an SMJ plan,
        // not a degenerate empty-side one)
        assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty)
      } finally {
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.io.FsOps.rm(spark, statsDir)
    }
  }
}
