package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{Codec, FsOps}

class IoFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Codec round-trips records through JSON lines (encodepipe/decodepipe)") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    val lines = Codec.encodeJson(df)
    val back = Codec.decodeJson(lines, df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("Codec.parseWithRegex extracts typed fields (NCDC -parser idiom)") {
    val df = Seq("id=7 temp=21", "id=9 temp=-3").toDF("line")
    val parsed = Codec.parseWithRegex(df, "line", "id=(\\d+) temp=(-?\\d+)", Seq("id", "temp"))
    val got = parsed.select($"id".cast("int"), $"temp".cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(got.toSeq == Seq((7, 21), (9, -3)))
  }

  test("FsOps exists/ls/rm + writeParquet with overwrite and delinputs") {
    val tmp = TestSpark.tmpDir("fsops")
    val in = s"$tmp/in"; val out = s"$tmp/out"
    Seq((1, "x")).toDF("k", "v").write.parquet(in)
    assert(FsOps.exists(spark, in))
    assert(FsOps.ls(spark, in).nonEmpty)
    val df = spark.read.parquet(in)
    FsOps.writeParquet(spark, df, out, overwrite = true, delInputs = Seq(in))
    assert(FsOps.exists(spark, out))
    assert(!FsOps.exists(spark, in)) // -delinputs after success
    assert(FsOps.cat(spark.read.parquet(out)).length == 1)
    FsOps.rm(spark, tmp)
    assert(!FsOps.exists(spark, tmp))
  }

  test("readParquet reads a Spark-written dir exactly as spark.read.parquet infers it") {
    val tmp = TestSpark.tmpDir("readpq")
    def same(dir: String): Unit = {
      val inferred = spark.read.parquet(dir)
      val footer = FsOps.readParquet(spark, dir)
      assert(footer.schema == inferred.schema, s"schema differs under $dir")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(footer) == rows(inferred), s"rows differ under $dir")
    }
    // nested struct, array, map, decimal and timestamp columns
    val nested = s"$tmp/nested"
    spark.range(6).select($"id",
        struct($"id".as("a"), struct(($"id" * 2).as("c")).as("b")).as("s"),
        array($"id", $"id" + 1).as("xs"),
        map($"id".cast("string"), $"id" * 1.5).as("m"),
        ($"id" / 7).cast("decimal(12,4)").as("d"),
        timestamp_seconds($"id" * 86400).as("ts"))
      .repartition(3).write.parquet(nested)
    same(nested)
    // a zero-row write still leaves one data file with the schema
    val empty = s"$tmp/empty"
    spark.range(6).filter($"id" < 0).select($"id", array($"id").as("xs"))
      .write.parquet(empty)
    same(empty)
    // a partitionBy write: the schema comes from the first partition
    // dir's footer, the partition column from the paths
    val parted = s"$tmp/parted"
    spark.range(9).select($"id", ($"id" % 3).as("wave"), ($"id" * 0.5).as("v"))
      .write.partitionBy("wave").parquet(parted)
    same(parted)
    assert(FsOps.readParquet(spark, parted).filter($"wave" < 2).count() == 6)
    // _SUCCESS (Spark), _COMMIT (the state protocol) and .crc siblings
    // (Hadoop's checksum files) are skipped; the .crc is not parquet
    FsOps.touch(spark, s"$nested/_COMMIT")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$nested/.a.crc"), Array[Byte](1, 2, 3))
    assert(FsOps.exists(spark, s"$nested/_SUCCESS"))
    same(nested)
    // a dir with only markers refuses, naming the dir
    val bare = s"$tmp/bare"
    FsOps.touch(spark, s"$bare/_SUCCESS")
    val err = intercept[IllegalArgumentException](FsOps.readParquet(spark, bare))
    assert(err.getMessage.contains(bare))
    FsOps.rm(spark, tmp)
  }

  test("stage writes a frame and reads it back as spark.read.parquet infers it, with no read job") {
    val tmp = TestSpark.tmpDir("stage")
    def same(staged: org.apache.spark.sql.DataFrame, dir: String): Unit = {
      val inferred = spark.read.parquet(dir)
      assert(staged.schema == inferred.schema, s"schema differs under $dir")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(staged) == rows(inferred), s"rows differ under $dir")
    }
    val df = spark.range(9).select($"id", ($"id" % 3).as("wave"), ($"id" * 0.5).as("v"))
    same(FsOps.stage(df, s"$tmp/flat"), s"$tmp/flat")
    same(FsOps.stage(df, s"$tmp/parted", "wave"), s"$tmp/parted")
    assert(FsOps.ls(spark, s"$tmp/parted").map(_.split('/').last).filter(_.startsWith("wave="))
      .sorted == Seq("wave=0", "wave=1", "wave=2"))
    // staging again into the same dir replaces the earlier contents
    val again = FsOps.stage(spark.range(2).select(($"id" + 10).as("k")), s"$tmp/flat")
    same(again, s"$tmp/flat")
    assert(again.columns.toSeq == Seq("k"))
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    // the read-back is a footer read: as many jobs as the bare write
    def jobs(body: => Unit): Int =
      org.apache.spark.TestBus.jobsDuring(spark.sparkContext)(body)._2
    for (parts <- Seq(Nil, Seq("wave"))) {
      val written = jobs(df.write.mode("overwrite").partitionBy(parts: _*)
        .parquet(s"$tmp/plain"))
      val staged = jobs(FsOps.stage(df, s"$tmp/staged", parts: _*))
      assert(staged == written, s"partitionBy $parts: stage ran $staged jobs, the write $written")
    }
    FsOps.rm(spark, tmp)
  }

  test("readParquet over dirs with columns in different orders reads them by name") {
    val tmp = TestSpark.tmpDir("readpq_order")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$tmp/a")
    Seq(("b", 2L)).toDF("name", "id").write.parquet(s"$tmp/b")
    val both = FsOps.readParquet(spark, s"$tmp/a", s"$tmp/b")
    assert(both.columns.toSeq == Seq("id", "name"))
    assert(both.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    FsOps.rm(spark, tmp)
  }

  test("readParquet over a dir that renamed a column refuses, naming the column") {
    val tmp = TestSpark.tmpDir("readpq_rename")
    Seq((1L, "a")).toDF("id", "headline").write.parquet(s"$tmp/a")
    Seq((2L, "b")).toDF("id", "title").write.parquet(s"$tmp/b")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      FsOps.readParquet(spark, s"$tmp/a", s"$tmp/b"))
    assert(err.getMessage.contains("headline"), err.getMessage)
    FsOps.rm(spark, tmp)
  }

  test("Tables.sequenceFile round-trips Text/Text pairs (S2 source parity)") {
    val dir = TestSpark.tmpDir("seqfile") + "/data"
    val in = Seq(("k1", "v1"), ("k2", "v2"), ("k3", "with spaces\tand tabs"))
      .toDF("key", "value")
    graft.io.Tables.writeSequenceFile(in, dir)
    val back = graft.io.Tables.sequenceFile(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("k1", "v1"), ("k2", "v2"), ("k3", "with spaces\tand tabs")))
  }

  test("Tables.autoInput sniffs parquet / sequencefile / text by magic bytes (S3)") {
    val base = TestSpark.tmpDir("auto")
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$base/pq")
    graft.io.Tables.writeSequenceFile(Seq(("k", "v")).toDF("key", "value"), s"$base/seq")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/plain.txt"), "line1\nline2\n")
    assert(graft.io.Tables.autoInput(spark, s"$base/pq").schema.fieldNames.toSeq == Seq("id", "s"))
    assert(graft.io.Tables.autoInput(spark, s"$base/seq")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("k", "v")))
    assert(graft.io.Tables.autoInput(spark, s"$base/plain.txt")
      .collect().map(_.getString(0)).toSeq == Seq("line1", "line2"))
    // partitioned layout: part files nest under key=value dirs
    Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "s", "p")
      .write.partitionBy("p").parquet(s"$base/pq_part")
    assert(graft.io.Tables.autoInput(spark, s"$base/pq_part").count() == 2)
    // a file shorter than the 4-byte magic header is text, not an error
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/tiny.txt"), "a\n")
    assert(graft.io.Tables.autoInput(spark, s"$base/tiny.txt")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("writeParquet passes the compression codec through (S5 -compressoutput)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    for (codec <- Seq("zstd", "snappy")) {
      val out = TestSpark.tmpDir(s"pq_$codec") + "/out"
      FsOps.writeParquet(spark, df, out, compression = Some(codec))
      val parts = FsOps.ls(spark, out).filter(_.endsWith(".parquet"))
      assert(parts.nonEmpty && parts.forall(_.contains(s".$codec.")),
        s"expected .$codec. part files, got $parts")
      assert(spark.read.parquet(out).count() == 2)
    }
  }

  test("TopKAggregator: bounded heap == full sort take k") {
    val vals = (1 to 500).map(i => ((i * 37) % 13, ((i * 97) % 101).toDouble))
    val ds = vals.toDF("k", "v")
    val tk = udaf(graft.functions.TopKAggregator(4))
    val got = ds.groupBy("k").agg(tk($"v").as("topk")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val expected = vals.groupBy(_._1).map { case (k, kv) =>
      k -> kv.map(_._2).sorted(Ordering[Double].reverse).take(4)
    }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, e) => assert(got(k).toSeq == e.toSeq, s"key $k") }
  }

  test("vec_dot is available in SQL via GraftExtensions") {
    val r = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  test("native text/dedup kernels are available in SQL via GraftExtensions") {
    // SQL forms must agree with the Column-API forms the graded
    // queries use — same expression class underneath
    val row = spark.sql(
      """SELECT simhash64('the quick brown fox') AS sh,
                word_ngrams('a b c d', 2) AS ng,
                shingle_hashes('a b c d', 3) AS sgl,
                minhash_sig(shingle_hashes('a b c d', 3), 8) AS sig""").collect()(0)
    val df = Seq("the quick brown fox").toDF("t")
    val expectSh = df.select(graft.functions.HashFunctions.simhash64(col("t"))).collect()(0).getLong(0)
    assert(row.getLong(0) == expectSh)
    assert(row.getSeq[String](1) == Seq("a b", "b c", "c d"))
    assert(row.getSeq[Long](2).length == 2) // two 3-shingles of a 4-word text
    assert(row.getSeq[Long](3).length == 8)
    // non-literal size argument fails loudly, not silently
    val err = intercept[Exception](spark.sql("SELECT word_ngrams('a b', length('xx'))").collect())
    assert(err.getMessage.contains("literal"))
  }

  test("evolveTo: missing columns fill with typed NULLs; type drift and dropped columns refuse") {
    // round 11 (verdict task 5): a stored state written by an older
    // code version must align to the current schema without a silent
    // wrong answer — added columns become NULL (unknown provenance),
    // anything lossy degrades LOUDLY
    import spark.implicits._
    val old = Seq((1L, 10L), (2L, 20L)).toDF("id", "sig")
    val wide = Seq((3L, 30L, "en")).toDF("id", "sig", "lang")
    val aligned = graft.io.Tables.evolveTo(old, wide.schema)
    assert(aligned.schema == wide.schema,
      "aligned state must carry the current wide schema")
    assert(aligned.collect().map(r => (r.getLong(0), r.getLong(1),
        r.isNullAt(2))).sorted.toSeq == Seq((1L, 10L, true), (2L, 20L, true)),
      "legacy rows must fill added columns with NULL")
    // and the aligned state unions strictly with current-code rows
    assert(aligned.unionByName(wide).count() == 3)
    // type drift: INT sig stored, BIGINT expected — refusal, no cast
    val narrowed = Seq((1, 10)).toDF("id", "sig")
    val e1 = intercept[IllegalArgumentException](
      graft.io.Tables.evolveTo(narrowed, wide.schema))
    assert(e1.getMessage.contains("silent cast"))
    // a stored column the target lacks: refusal, no silent drop
    val extra = Seq((1L, 10L, 0.5)).toDF("id", "sig", "score")
    val e2 = intercept[IllegalArgumentException](
      graft.io.Tables.evolveTo(extra, wide.schema))
    assert(e2.getMessage.contains("drop"))
  }

  test("SQL kernels reject wrong-typed arguments at analysis time") {
    import org.apache.spark.sql.AnalysisException
    // declared inputTypes: misuse is an AnalysisException, never an
    // executor-side ClassCastException mid-job
    intercept[AnalysisException](spark.sql("SELECT simhash64(42)").collect())
    intercept[AnalysisException](spark.sql("SELECT shingle_hashes(42, 2)").collect())
    intercept[AnalysisException](spark.sql("SELECT word_ngrams(array(1), 2)").collect())
    intercept[AnalysisException](spark.sql("SELECT minhash_sig(array('a'), 8)").collect())
    intercept[AnalysisException](
      spark.sql("SELECT vec_dot(array('a'), array('b'))").collect())
  }
}
