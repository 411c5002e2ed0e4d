package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Sorted data layout — the data-skipping primitive. Writing a table
  * `repartitionByRange + sortWithinPartitions` on its hot filter key
  * makes every parquet row group's min/max statistics TIGHT and the
  * key ranges of files DISJOINT: a pushed-down range predicate then
  * skips all but the few row groups that actually overlap, so a
  * selective query reads O(matching data), not O(table). At 100 TB
  * this is the difference between a 10-second point-range query and a
  * full scan; the one-time range-shuffle at write amortizes over every
  * subsequent selective read (same trade as [[Bucketing]], keyed for
  * ranges instead of hash equality).
  *
  * The range partitioner samples the key distribution, so skew in the
  * layout key yields balanced files without manual salting.
  */
object Layout {

  /** A parquet data file (not a _SUCCESS marker, checksum, or
    * partition subdirectory name) — used where the file must actually
    * BE parquet (footer reads).
    */
  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") || name.startsWith("part-")

  /** Any visible (non-hidden) file — Spark's own data-file convention
    * for listings: only `_`-prefixed (markers) and `.`-prefixed
    * (checksums) names are metadata. The byte-counting listings use
    * THIS, not [[isDataFile]]: a Hive-written layout names data files
    * `000000_0`, and a suffix-based filter would count 0 bytes for the
    * whole directory and silently drop it from a compaction.
    */
  private[io] def isVisibleFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Write `df` range-partitioned into `numParts` files and sorted by
    * `sortCols` within each — globally range-clustered parquet.
    */
  def writeSorted(df: DataFrame, path: String, numParts: Int,
                  sortCols: Seq[Column]): Unit =
    df.repartitionByRange(numParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").parquet(path)

  /** Hive-partitioned layout (`key=value` directories) — the most
    * common physical-layout lever on a real corpus: a predicate on a
    * partition column prunes whole DIRECTORIES at planning time
    * (`PartitionFilters` in the scan, zero data files opened for
    * non-matching partitions), and a join against a filtered dim on
    * the partition key prunes them at RUNTIME via dynamic partition
    * pruning. Sorted/Z-order layouts skip row groups INSIDE files;
    * partitioning skips the files themselves — at 100 TB a
    * date-partitioned corpus turns "last month" from a full scan into
    * a 1% listing.
    *
    * The `repartition` on the partition columns co-locates each
    * partition's rows, so every `key=value` directory gets
    * `filesPerPartition` files instead of one per (task × partition) —
    * an unrepartitioned `partitionBy` write of a T-task DataFrame over
    * P partitions emits up to T×P small files, the exact fragmentation
    * [[compactPartitioned]] exists to undo. The default of 1 file per
    * partition funnels each partition through one task: right for
    * date-grained partitions of moderate size, a straggler for a hot
    * partition (one task writes lang=en's 60% of the corpus) — raise
    * `filesPerPartition` there and the salt spreads each partition
    * over that many tasks/files.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       filesPerPartition: Int = 1): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned: no partition columns")
    require(filesPerPartition > 0,
      s"writePartitioned: filesPerPartition=$filesPerPartition")
    require(!df.columns.contains("__salt"),
      "writePartitioned: table column __salt collides with an internal name")
    import org.apache.spark.sql.functions._
    if (filesPerPartition == 1)
      df.repartition(partitionCols.map(df(_)): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    else {
      // Salt on a per-row id, NOT a content hash: a hot partition of
      // mass-duplicated rows would content-hash to ONE salt and defeat
      // the split. The id is positional, so a shuffle-fetch-failure
      // retry could re-salt recomputed rows differently and duplicate/
      // drop rows in the written output (the SPARK-23207 hazard that
      // makes round-robin repartition sort first) — so the salted
      // frame is MATERIALIZED (eager localCheckpoint) before the
      // repartition: downstream retries re-read frozen blocks, never
      // re-derive salts. Lost-executor recovery degrades to a loud job
      // failure (localCheckpoint's documented trade) — never silent
      // corruption. Only the filesPerPartition > 1 path pays this, and
      // the pinned blocks are released once the write consumes them
      // (consumption ends inside this function — nothing else may
      // reference the staged frame).
      val staged = df.withColumn("__salt",
          pmod(xxhash64(monotonically_increasing_id()),
            lit(filesPerPartition.toLong)))
        .localCheckpoint(true)
      // explicit partition count (the compactPartitioned convention):
      // without it AQE coalesces a small shuffle into one task and the
      // salt spread silently collapses back to 1 file per directory.
      // The count is the session's shuffle parallelism, NOT
      // defaultParallelism — a session tuned to 200 shuffle partitions
      // on an 8-core driver would otherwise funnel the whole corpus
      // through 8 write tasks (and re-merge salts via hash collisions)
      val shufflePartitions =
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      try staged
        .repartition(
          math.max(filesPerPartition, shufflePartitions),
          partitionCols.map(col) :+ col("__salt"): _*)
        .drop("__salt")
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
      // release the checkpoint's RDD-level pin: Dataset.unpersist only
      // talks to the cache manager and would leave localCheckpoint
      // blocks resident for the JVM's life. Unpersist EXACTLY the RDD
      // this call pinned — the LogicalRDD the checkpointed Dataset
      // wraps — never a registry diff, which would sweep pins another
      // thread of a shared SparkContext created during the write
      finally staged.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => // plan shape changed across Spark versions: leave the
                  // pin rather than guess (loud in getPersistentRDDs)
      }
    }
  }

  /** Z-order (Morton) layout — multi-dimensional data skipping, the
    * Delta/Iceberg `Z-ORDER BY` capability: a single-key sorted layout
    * (`writeSorted`) gives tight min/max on ONE column and leaves
    * every other column's file ranges full-width; interleaving the
    * bits of two range-bucketed keys clusters rows into space-filling-
    * curve tiles, so BOTH columns get narrow per-file ranges and a
    * 2-dim box predicate prunes on either (or both) dimensions. The
    * write pays one range shuffle on the Morton key; every later
    * selective read skips row groups via footer stats — same
    * amortization argument as `writeSorted`, extended to 2-dim
    * predicates.
    */
  object ZOrder {
    import org.apache.spark.sql.functions._

    /** Spread the low 16 bits of `b` so bit i lands at position 2i —
      * the classic Morton bit-twiddle as a codegen'd arithmetic chain.
      */
    private def spread16(b: Column): Column = {
      val s1 = b.bitwiseOR(shiftleft(b, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }

    /** 32-bit Morton key of two columns range-bucketed to 16 bits each
      * over their [lo, hi] — row-local arithmetic, codegen'd.
      */
    def mortonKey(x: Column, xLo: Double, xHi: Double,
                  y: Column, yLo: Double, yHi: Double): Column = {
      def bucket(c: Column, lo: Double, hi: Double): Column =
        if (hi == lo) lit(0L)
        else least(greatest(
          floor((c.cast("double") - lo) / (hi - lo) * 65536.0), lit(0.0)),
          lit(65535.0)).cast("long")
      spread16(bucket(x, xLo, xHi))
        .bitwiseOR(shiftleft(spread16(bucket(y, yLo, yHi)), 1))
    }

    /** Write `df` clustered on the Morton key of (`xCol`, `yCol`) into
      * `numParts` files. The column ranges come from one bounded
      * min/max aggregate (4 values to the driver — the detectDim
      * trade; pass a production job its known ranges via `mortonKey`
      * directly to skip it).
      */
    def writeZOrdered(df: DataFrame, path: String, numParts: Int,
                      xCol: String, yCol: String): Unit = {
      require(!df.columns.contains("__z"),
        "writeZOrdered: input already has a __z column")
      val r = df.agg(
        org.apache.spark.sql.functions.min(df(xCol).cast("double")),
        org.apache.spark.sql.functions.max(df(xCol).cast("double")),
        org.apache.spark.sql.functions.min(df(yCol).cast("double")),
        org.apache.spark.sql.functions.max(df(yCol).cast("double"))).head()
      if (r.isNullAt(0) || r.isNullAt(2)) {
        // empty input (or all-null keys): no range to bucket — write
        // the data as-is, matching writeSorted's empty-input behavior
        df.write.mode("overwrite").parquet(path)
        return
      }
      val z = mortonKey(df(xCol), r.getDouble(0), r.getDouble(1),
        df(yCol), r.getDouble(2), r.getDouble(3))
      df.withColumn("__z", z)
        .repartitionByRange(numParts, org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Small-file compaction — the operational sibling of the layout
    * writers: long-running ingest leaves directories of thousands of
    * tiny part files, and at 100 TB the per-file open/footer/seek
    * overhead (plus NameNode/listing pressure) dominates selective
    * reads. Compaction rewrites the directory into
    * ceil(totalBytes / targetBytes) balanced files via one round-robin
    * shuffle. Returns the target file count. Driver work is one
    * listing (bounded by file count); data moves once.
    *
    * `targetBytes` is APPROXIMATE: the file count is sized from the
    * COMPRESSED input bytes, but the round-robin split is by row, so
    * when the rewrite compresses differently from the fragmented input
    * (tiny files carry proportionally more footer/dictionary overhead
    * and compress worse) the output files land near, not at, the
    * target. That is the right trade — an exact-size split would need
    * a second pass over the data to learn the output ratio.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, s"compact: targetBytes=$targetBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(inPath).getFileSystem(conf)
    // recursive: Hive-partitioned layouts keep data files in key=value
    // subdirectories, which a top-level listing would total as 0 bytes
    val it = fs.listFiles(new Path(inPath), true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (isVisibleFile(f.getPath.getName)) total += f.getLen
    }
    val parts = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(parts)
      .write.mode("overwrite").parquet(outPath)
    parts
  }

  /** Partition-aware compaction: rewrite a Hive-partitioned layout
    * with each `key=value` directory compacted toward `targetBytes`
    * files, PRESERVING the partitioning (plain [[compact]] would
    * flatten it and throw away the pruning the layout was written
    * for). One data pass: per-directory byte totals come from the
    * driver listing (bounded by file count), each row is salted
    * `hash % partsOf(itsPartition)` via a broadcast of the
    * directory-sized parts map, and a single `repartition` on
    * (partition cols, salt) co-locates each output file's rows before
    * the `partitionBy` write — so a hot partition gets many files and
    * a cold one gets one, without a per-partition driver loop.
    * Returns (partitionDirs, targetFileCount). Same `targetBytes`
    * approximation caveat as [[compact]].
    */
  def compactPartitioned(spark: SparkSession, inPath: String, outPath: String,
                         partitionCols: Seq[String],
                         targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    require(partitionCols.nonEmpty, "compactPartitioned: no partition columns")
    require(targetBytes > 0, s"compactPartitioned: targetBytes=$targetBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(inPath)
    val fs = root.getFileSystem(conf)
    val rootUri = fs.makeQualified(root).toString.stripSuffix("/")
    // per-partition-directory byte totals from one recursive listing
    val it = fs.listFiles(root, true)
    val bytesByDir = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (isVisibleFile(f.getPath.getName)) {
        val rel = f.getPath.getParent.toString.stripPrefix(rootUri).stripPrefix("/")
        bytesByDir(rel) = bytesByDir.getOrElse(rel, 0L) + f.getLen
      }
    }
    require(bytesByDir.nonEmpty,
      s"compactPartitioned: no visible data files under $inPath")
    // "month=1996-01/status=O" → partition values, unescaped with
    // SPARK'S OWN path unescaper (not java.net.URLDecoder, which maps
    // a literal '+' to space — a byte Spark's escaping never produces,
    // so the parts join would silently drop that partition); Hive's
    // null sentinel maps back to null. Delegating to catalyst keeps
    // the listing-side parse in lockstep with whatever Spark's
    // read-back does, across Spark upgrades.
    def partValues(rel: String): Seq[String] = {
      val segs = rel.split('/').toSeq.filter(_.nonEmpty)
      require(segs.size == partitionCols.size && segs.zip(partitionCols)
          .forall { case (seg, c) => seg.startsWith(c + "=") },
        s"compactPartitioned: '$rel' does not match partition columns $partitionCols")
      segs.map { seg =>
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(seg.indexOf('=') + 1))
        if (v == "__HIVE_DEFAULT_PARTITION__") null else v
      }
    }
    val partsRows = bytesByDir.toSeq.map { case (rel, bytes) =>
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      org.apache.spark.sql.Row.fromSeq(partValues(rel) :+ n)
    }
    val partsSchema = org.apache.spark.sql.types.StructType(
      partitionCols.map(c => org.apache.spark.sql.types.StructField(
        s"__pc_$c", org.apache.spark.sql.types.StringType)) :+
      org.apache.spark.sql.types.StructField(
        "__parts", org.apache.spark.sql.types.IntegerType))
    val partsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(partsRows, 1), partsSchema)
    // read with partition-type inference OFF: inference re-types
    // directory tokens ("g=007" → int 7), whose canonical string "7"
    // would never match the parsed token "007" — the parts join would
    // silently drop the whole partition. With inference off the
    // partition columns come back as the raw STRING tokens (matching
    // the listing exactly) and the rewrite preserves the original
    // directory names byte-for-byte — which is what a compaction must
    // do anyway: re-layout files, never re-canonicalize values.
    // (Restored in finally; partition discovery runs eagerly at
    // read.parquet, so the flag only needs to cover this call.)
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.get(inferKey)
    val df =
      try { spark.conf.set(inferKey, "false"); spark.read.parquet(inPath) }
      finally spark.conf.set(inferKey, prevInfer)
    // internal-name guard (the percentileRank/__z pattern): a table
    // column named like the parts-map/salt helpers would make the
    // join ambiguous or be silently dropped
    (partitionCols.map(c => s"__pc_$c") ++
        Seq("__parts", "__salt", "__salt_src")).foreach(c =>
      require(!df.columns.contains(c),
        s"compactPartitioned: table column $c collides with an internal name"))
    // null-safe string match: the read-back partition value round-trips
    // through the same directory-name encoding the listing parsed
    val joinCond = partitionCols.map(c =>
      df(c).cast("string") <=> col(s"__pc_$c")).reduce(_ && _)
    val totalParts = partsRows.map(_.getInt(partitionCols.size)).sum
    df
      // salt on (source file, row index) from the parquet _metadata
      // column, NOT a content hash and NOT a positional id: a
      // partition of mass-duplicated rows (this codebase's core
      // workload) would content-hash to ONE salt and defeat the split,
      // while monotonically_increasing_id is positional — a shuffle-
      // fetch-failure retry that recomputes the map side could re-salt
      // rows differently and duplicate/drop rows in the written output
      // (the SPARK-23207 hazard). (file, row_index) is a stable row
      // identity: deterministic across retries AND across split
      // re-planning, and distinct for every physical row.
      .withColumn("__salt_src",
        xxhash64(col("_metadata.file_path"), col("_metadata.row_index")))
      .join(broadcast(partsDf), joinCond)
      .withColumn("__salt", pmod(col("__salt_src"), col("__parts").cast("long")))
      .repartition(math.max(totalParts, spark.sparkContext.defaultParallelism),
        partitionCols.map(col) :+ col("__salt"): _*)
      .drop((partsSchema.map(_.name) :+ "__salt" :+ "__salt_src"): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outPath)
    (bytesByDir.size, totalParts)
  }

  /** Per-row-group (path, rows, min, max) stats of a long column over
    * every parquet file under `path` — the evidence a skipping claim
    * rests on: tight disjoint ranges = prunable layout. Driver-side
    * footer reads only (no data pages), bounded by file count.
    */
  def rowGroupStats(spark: SparkSession, path: String,
                    col: String): Seq[(String, Long, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val files = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(p => isDataFile(p.getName))
    files.toSeq.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          val c = block.getColumns.asScala
            .find(_.getPath.toDotString == col)
            .getOrElse(sys.error(s"column $col not found in ${p.getName}"))
          val stats = c.getStatistics
          (p.getName, block.getRowCount,
            stats.genericGetMin.asInstanceOf[Number].longValue(),
            stats.genericGetMax.asInstanceOf[Number].longValue())
        }
      } finally reader.close()
    }
  }
}
