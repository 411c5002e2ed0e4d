package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed table layout — the co-located join primitive (SURVEY.md
  * §2.4 scale path). A fact table written with `bucketBy(n, key)` is
  * hash-partitioned ON DISK: every file belongs to one of `n` buckets
  * of `hash(key)`. Two tables bucketed by their join keys with the
  * same bucket count satisfy the join's required distribution straight
  * off the scan, so the sort-merge join plans with ZERO shuffle
  * exchanges — at 100 TB that removes the single largest cost of a
  * fact-fact join (re-shuffling both inputs every run). Bucketing pays
  * one shuffle at WRITE time and amortizes it over every subsequent
  * join/aggregation on the bucket key; the break-even is one read.
  *
  * Bucket-sorted output (`sortBy`) additionally lets the merge join
  * skip its per-partition sort when each bucket holds one file.
  */
object Bucketing {

  /** Write `df` as a bucketed (optionally bucket-sorted) managed
    * parquet table. Overwrites any previous version; the table lives
    * under `spark.sql.warehouse.dir` (shared FS on a real cluster).
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCol: String, sortCols: Seq[String] = Nil,
                    path: Option[String] = None): Unit =
    writeBucketedKeys(df, table, numBuckets, Seq(bucketCol), sortCols, path)

  /** [[writeBucketed]] with a COMPOSITE bucket key — the layout for
    * indexes whose probe joins on a key tuple (e.g. the simhash
    * segment index on (seg_idx, seg_val)): hash-partitioning on the
    * full tuple satisfies the join's required distribution straight
    * off the scan, so every probe joins with zero exchange on the
    * index side while only the (batch-sized) probe side shuffles.
    */
  def writeBucketedKeys(df: DataFrame, table: String, numBuckets: Int,
                        bucketCols: Seq[String], sortCols: Seq[String] = Nil,
                        path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "writeBucketedKeys: no bucket columns")
    // an explicit path makes the table EXTERNAL: files land under the
    // caller's chosen dir (q57b uses pid-keyed graft_tmp scratch, with
    // a dead-pid sweep bounding accumulation) and the CALLER owns
    // their lifecycle — DROP TABLE removes only the catalog entry
    val w0 = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = path.fold(w0)(p => w0.option("path", p))
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Append-mode fold write into an existing bucketed table — the
    * lifecycle MERGE on a stored index (each ingest batch's rows land
    * in their buckets without rewriting the table; the probe's
    * zero-exchange plan is unchanged because every file still belongs
    * to one hash bucket). The cost: each append adds one file per
    * written bucket, so a long-maintained index accumulates
    * waves × buckets small files — periodic [[compactBucketed]]
    * undoes that. `numBuckets`/`bucketCols` must match the table's
    * spec (Spark rejects a mismatch at write time).
    */
  def appendBucketedKeys(df: DataFrame, table: String, numBuckets: Int,
                         bucketCols: Seq[String],
                         sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "appendBucketedKeys: no bucket columns")
    val w = df.write.mode("append").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Compact a bucketed table fragmented by append-mode maintenance
    * folds — [[graft.io.Layout.compact]] for BUCKETED state, the
    * operational composition of the index lifecycle with the layout
    * family: after N [[appendBucketedKeys]] folds a stored index
    * holds N files per bucket and selective probes pay per-file
    * open/footer cost. The rewrite reads the table once, applies
    * `transform` (identity for a pure compaction; an id anti-join
    * folds a RETRACTION into the same single pass — on a stored table
    * a delete is a rewrite anyway, so compaction is exactly when it
    * is free), repartitions on the bucket keys into one partition per
    * bucket (the writer assigns bucket ids with the same hash, so
    * each task holds exactly one bucket → ONE file per bucket), and
    * writes `outTable` with the bucket spec COPIED from the catalog —
    * the layout, and every probe's zero-exchange plan, survives by
    * construction. Writes to a NEW name because a table cannot be
    * overwritten from its own scan (the rationale behind DeltaState's
    * versioned bases); the caller swaps names / drops the old when
    * ready.
    */
  def compactBucketed(spark: SparkSession, inTable: String, outTable: String,
                      transform: DataFrame => DataFrame = identity,
                      path: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(inTable))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"compactBucketed: table $inTable has no bucket spec"))
    // keep the source's bucket-grouped scan: the scan already satisfies
    // the repartition's distribution, so the exchange is elided and the
    // rewrite is ZERO-shuffle (each task reads one bucket's files and
    // writes its one compacted file — the plan a 100 TB compaction
    // wants). Without this pin, DisableUnnecessaryBucketedScan ungroups
    // the scan AFTER the aligned exchange was already elided, splitting
    // each bucket across tasks — measured: 4 waves × 4 buckets
    // recompact to 16 files instead of 4. The pin is scoped to a CLONED
    // session (round-10 advice: setting it on the caller's session
    // would silently change the plans of any query planning
    // concurrently in that session): `newSession` shares the
    // SparkContext and the catalog — so the rewrite sees `inTable` and
    // `outTable` lands in the shared catalog — but carries its own
    // SQLConf, and the pin dies with the clone.
    val ss = spark.newSession()
    // newSession() initializes its SQLConf from the SparkConf, NOT the
    // caller's live session — a runtime-set conf (AQE toggles, shuffle
    // partitions, broadcast threshold) would silently not apply to the
    // rewrite (round-11 advice). Copy the caller's runtime SQL-conf
    // overrides onto the clone first. Only MODIFIABLE keys are copied
    // — static confs are identical by construction (shared
    // SparkContext) — and a modifiable key that refuses to apply
    // fails LOUDLY: swallowing it would re-introduce the exact
    // silent-non-application bug this copy fixes (round-12 advice)
    spark.conf.getAll.foreach { case (k, v) =>
      if (ss.conf.isModifiable(k) && !ss.conf.getOption(k).contains(v))
        ss.conf.set(k, v)
    }
    ss.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val df = transform(ss.table(inTable))
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
    writeBucketedKeys(df, outTable, spec.numBuckets, spec.bucketColumnNames,
      spec.sortColumnNames, path)
  }

  /** The full production fact layout: Hive-PARTITIONED on a pruning
    * key (date/source) AND BUCKETED on a join key — the two physical
    * levers compose, they don't compete. A predicate on the partition
    * column prunes whole directories at planning time; within the
    * surviving partitions every file still belongs to one hash bucket
    * of the join key, so a join against a same-bucketed table plans
    * with zero shuffle exchanges over just the pruned slice. At 100 TB
    * this is the canonical fact-table shape: "this quarter's orders ⋈
    * lineitem" reads 1/8 of the table AND skips both shuffles.
    * q78 grades the composition; BucketingSpec asserts both plan
    * properties at once (non-empty PartitionFilters, no Exchange
    * under the join).
    */
  def writePartitionedBucketed(df: DataFrame, table: String,
                               partitionCols: Seq[String], numBuckets: Int,
                               bucketCol: String,
                               sortCols: Seq[String] = Nil): Unit =
    writePartitionedBucketedKeys(df, table, partitionCols, numBuckets,
      Seq(bucketCol), sortCols)

  /** [[writePartitionedBucketed]] with a COMPOSITE bucket key — the
    * q78 fact layout applied to a LIFECYCLE INDEX (round 11): a stored
    * band/segment index partitioned on its ingest key (date/wave) and
    * bucketed on its probe-key tuple. Probes that scope the corpus by
    * ingest time ("dedup against everything crawled before X") prune
    * whole partition directories at planning time AND still join
    * exchange-free off the bucketed scan within the surviving slice;
    * per-partition stats stay additive, so the pruned slice's bucket
    * stats are a keys-sized group-sum of the kept waves. Graded by
    * `dedup_minhash_partitioned_probe`.
    */
  def writePartitionedBucketedKeys(df: DataFrame, table: String,
                                   partitionCols: Seq[String], numBuckets: Int,
                                   bucketCols: Seq[String],
                                   sortCols: Seq[String] = Nil): Unit = {
    require(partitionCols.nonEmpty,
      "writePartitionedBucketedKeys: no partition columns")
    require(bucketCols.nonEmpty,
      "writePartitionedBucketedKeys: no bucket columns")
    val w = df.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCols: _*)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (the catalog carries the bucket spec —
    * a plain `read.parquet` of the files would lose it).
    */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

  /** Count the visible data files under a catalog table's location —
    * the fragmentation meter [[compactBucketed]] exists to shrink
    * (one shared definition for the compaction spec and BASELINE.md's
    * "compaction isolation" measurement).
    */
  def dataFileCount(spark: SparkSession, tableName: String): Int = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)).location
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next().getPath.getName
      if (!f.startsWith("_") && !f.startsWith(".")) n += 1
    }
    n
  }

  /** Drop a bucketed table. For MANAGED tables (no `path` at write
    * time) this also deletes the files; for EXTERNAL tables (written
    * with `path`) only the catalog entry goes — the caller owns the
    * files and deletes the path itself when it means to (FsOps.rm).
    */
  def drop(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")
}
