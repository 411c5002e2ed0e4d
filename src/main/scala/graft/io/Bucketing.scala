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
  * Every table is bucket-sorted on its bucket keys (`sortBy`), which
  * additionally lets the merge join skip its per-partition sort when
  * each bucket holds one file.
  */
object Bucketing {

  /** Write `df` as a managed parquet table bucketed `buckets` ways on
    * `keys` and sorted on them within each bucket, and return it read
    * back from the catalog (which carries the bucket spec — a plain
    * `read.parquet` of the files would lose it). Overwrites any
    * previous version.
    *
    * A composite `keys` tuple is the layout for indexes whose probe
    * joins on a key tuple (the simhash segment index on
    * (seg_idx, seg_val)): hash-partitioning on the full tuple
    * satisfies the join's required distribution straight off the scan,
    * so only the batch-sized probe side shuffles.
    *
    * `partitionBy` adds Hive partitioning on a pruning key (date,
    * ingest wave): the two levers compose, so a predicate on the
    * partition column prunes whole directories at planning time and
    * the surviving slice still joins exchange-free off the buckets
    * (q78 on a fact table, `dedup_minhash_partitioned_probe` on a
    * lifecycle index; BucketingSpec and OpsSpec assert both plan
    * properties at once).
    *
    * `path` makes the table EXTERNAL: its files land under the caller's
    * dir and the caller owns their lifecycle — [[drop]] removes only
    * the catalog entry. Without it the table lives under
    * `spark.sql.warehouse.dir` (a shared FS on a real cluster).
    */
  def write(df: DataFrame, table: String, buckets: Int, keys: Seq[String],
            partitionBy: Seq[String] = Nil,
            path: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "Bucketing.write: no bucket columns")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    val wp = if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)
    path.fold(wp)(p => wp.option("path", p)).saveAsTable(table)
    df.sparkSession.table(table)
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
                         bucketCols: Seq[String]): Unit = {
    require(bucketCols.nonEmpty, "appendBucketedKeys: no bucket columns")
    df.write.mode("append").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
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
    * construction. [[write]] sorts on the bucket keys, so a table
    * sorted on other columns is refused rather than silently re-sorted.
    * Writes to a NEW name because a table cannot be overwritten from
    * its own scan (the rationale behind DeltaState's versioned bases);
    * the caller swaps names / drops the old when ready.
    */
  def compactBucketed(spark: SparkSession, inTable: String, outTable: String,
                      transform: DataFrame => DataFrame = identity): Unit = {
    import org.apache.spark.sql.functions.col
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(inTable))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"compactBucketed: table $inTable has no bucket spec"))
    require(spec.sortColumnNames == spec.bucketColumnNames,
      s"compactBucketed: table $inTable is sorted on " +
        s"[${spec.sortColumnNames.mkString(", ")}], not on its bucket columns " +
        s"[${spec.bucketColumnNames.mkString(", ")}]")
    // keep the source's bucket-grouped scan: the scan already satisfies
    // the repartition's distribution, so the exchange is elided and the
    // rewrite is ZERO-shuffle (each task reads one bucket's files and
    // writes its one compacted file — the plan a 100 TB compaction
    // wants). Without this pin, DisableUnnecessaryBucketedScan ungroups
    // the scan AFTER the aligned exchange was already elided, splitting
    // each bucket across tasks — measured: 4 waves × 4 buckets
    // recompact to 16 files instead of 4. The pin is scoped to a CLONED
    // session, because setting it on the caller's session would
    // silently change the plans of any query planning concurrently in
    // that session: `newSession` shares the SparkContext and the
    // catalog — so the rewrite sees `inTable` and `outTable` lands in
    // the shared catalog — but carries its own SQLConf, and the pin
    // dies with the clone.
    val ss = spark.newSession()
    // newSession() initializes its SQLConf from the SparkConf, NOT the
    // caller's live session — a runtime-set conf (AQE toggles, shuffle
    // partitions, broadcast threshold) would silently not apply to the
    // rewrite. Copy the caller's runtime SQL-conf overrides onto the
    // clone first. Only MODIFIABLE keys are copied — static confs are
    // identical by construction (shared SparkContext) — and a
    // modifiable key that refuses to apply fails LOUDLY: swallowing it
    // would re-introduce the exact silent-non-application bug this
    // copy fixes
    spark.conf.getAll.foreach { case (k, v) =>
      if (ss.conf.isModifiable(k) && !ss.conf.getOption(k).contains(v))
        ss.conf.set(k, v)
    }
    ss.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val df = transform(ss.table(inTable))
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
    write(df, outTable, spec.numBuckets, spec.bucketColumnNames)
  }

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
