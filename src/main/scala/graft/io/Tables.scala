package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet readers for the driver testdata tables (TESTDATA.md).
  *
  * Capability parity with the reference's sources (SURVEY.md §2.2):
  * dumbo reads line/sequencefile datasets from a directory
  * (`dumbo/backends/streaming.py` inputformat handling); our engine is
  * parquet-first so scans get column pruning + predicate pushdown for
  * free — at 100 TB the scan is the dominant cost and a columnar format
  * with pushdown is the only viable layout.
  *
  * No schema is forced here: parquet carries it, and letting Spark use
  * the file footer keeps vectorized reading enabled.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a testdata table, normalizing any TIMESTAMP_NTZ column to
    * session-tz TimestampType. The driver writes timestamp columns
    * (`events.ts`, `lineitem.l_shipdate`, `orders.o_orderdate`) with
    * varying parquet annotations across rounds; when they arrive
    * without isAdjustedToUTC, Spark 4 infers TIMESTAMP_NTZ — a type
    * event-time windows, watermarks, and epoch casts all reject. Under
    * the UTC session timezone the cast keeps the wall-clock instant,
    * which is also how DuckDB's naive TIMESTAMP reads the same file on
    * the oracle side, so both engines keep seeing identical epochs.
    * The cast sits above the scan and does not disturb pushdown of
    * untouched columns; it is a no-op (absent) for tables without NTZ
    * columns.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val ntz = raw.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) raw
    else ntz.foldLeft(raw) { (df, f) =>
      df.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts normalization — the driver has shipped this column in
    * several parquet physical types across rounds, so the reader
    * accepts all of them and always yields a session-tz TimestampType:
    *  - TIMESTAMP(NANOS), which Spark's vectorized reader rejects:
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *    Verify/Bench/tests) it arrives as a Long of nanoseconds and is
    *    truncated to µs — exactly what a native ns→µs read would do;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers
    *    as TIMESTAMP_NTZ (breaking event-time windows, watermarks, and
    *    epoch casts): cast to TimestampType, which under the UTC
    *    session timezone keeps the wall-clock instant — the same
    *    interpretation DuckDB's naive TIMESTAMP gives the oracle side;
    *  - plain TIMESTAMP, passed through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: double division loses sub-µs precision
        // on 2024-era epoch-nano magnitudes (> 2^53)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** SequenceFile source (SURVEY.md §2.2 S2): dumbo's default binary
    * input — Text key/value pairs read via the Hadoop API into a
    * (key, value) string DataFrame. Parquet remains the engine's
    * primary layout (columnar, pruned, pushed-down); this shim exists
    * for literal source parity when ingesting legacy Hadoop output.
    * Splittable like any SequenceFile read, so it parallelizes across
    * blocks at scale.
    */
  def sequenceFile(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .sequenceFile(path,
        classOf[org.apache.hadoop.io.Text], classOf[org.apache.hadoop.io.Text])
      // materialize immediately: Hadoop RecordReaders REUSE Writable
      // instances across records
      .map { case (k, v) => (k.toString, v.toString) }
      .toDF("key", "value")
  }

  /** SequenceFile sink (Text/Text), the round-trip twin of
    * [[sequenceFile]]. Expects a 2-string-column DataFrame.
    */
  def writeSequenceFile(df: DataFrame, path: String): Unit =
    df.rdd.map(r => (r.getString(0), r.getString(1))).saveAsSequenceFile(path)

  /** S3 "auto inputformat": sniff the on-disk format the way dumbo's
    * AutoInputFormat does, but by magic bytes instead of trying record
    * readers: `PAR1` → parquet, `SEQ` → [[sequenceFile]] (Text/Text),
    * anything else → line text (one `value` column). Only the first
    * data file's 4-byte header is read driver-side; the actual scan is
    * the normal distributed reader for the detected format.
    */
  def autoInput(spark: SparkSession, path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // first data file, RECURSIVELY (partitioned datasets nest part
    // files under key=value dirs); _metadata/_SUCCESS and dotfiles are
    // not data
    def firstDataFile(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(p)
      if (st.isFile) { if (st.getLen > 0) Some(p) else None }
      else fs.listStatus(p).sortBy(_.getPath.getName).iterator
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap(s => firstDataFile(s.getPath))
        .nextOption()
    }
    val first = firstDataFile(hPath).getOrElse(
      throw new IllegalArgumentException(s"autoInput: no data files under $path"))
    // files shorter than a magic header can only be text
    val n = math.min(4L, fs.getFileStatus(first).getLen).toInt
    val magic = new Array[Byte](n)
    val in = fs.open(first)
    try in.readFully(0, magic) finally in.close()
    if (magic.sameElements("PAR1".getBytes("US-ASCII"))) spark.read.parquet(path)
    else if (magic.startsWith("SEQ".getBytes("US-ASCII"))) sequenceFile(spark, path)
    else spark.read.text(path)
  }

  /** Read an EVOLVED dataset: corpus versions written months apart
    * rarely share an identical schema (new quality columns appear, old
    * ones linger), and a plain parquet read takes the schema of a
    * random footer — silently dropping the new columns for every file.
    * `mergeSchema` unions the footers instead: rows from files missing
    * a column read it as NULL, so downstream code sees one stable wide
    * schema. Footer merging is a driver-side metadata pass (bounded by
    * file count); the data scan is unchanged.
    */
  def readEvolved(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Align a STORED state/index written by an older code version to the
    * schema the current code expects — the [[readEvolved]] treatment for
    * the versioned-state dirs (a v-old snapshot must fold/probe without a
    * silent wrong answer). Columns added since the state was written fill
    * with typed NULLs (the mergeSchema semantics — downstream code sees
    * one stable wide schema and treats NULL as "unknown provenance",
    * exactly what a legacy row is); anything else degrades LOUDLY:
    *
    *  - a stored column whose type changed is a refusal (a silent cast
    *    could flip hash/sign semantics — e.g. an INT signature widened
    *    to BIGINT hashes differently downstream);
    *  - a stored column the target schema lacks is a refusal (silently
    *    dropping state data is the wrong answer this helper exists to
    *    prevent — if the column was genuinely retired, the caller
    *    selects it away explicitly before aligning).
    *
    * Graded by `dedup_simhash_evolved_merge` (a tag-less stored index
    * merged with tagged batch rows, NULL-tag semantics mirrored in the
    * oracle); the refusal paths are spec-asserted in IoFunctionsSpec.
    */
  def evolveTo(df: DataFrame, target: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    target.foreach { f =>
      have.get(f.name).foreach(dt => require(dt == f.dataType,
        s"evolveTo: stored column ${f.name} has type $dt but the target " +
          s"schema expects ${f.dataType} — refusing a silent cast"))
    }
    val extra = df.columns.filterNot(c => target.fieldNames.contains(c))
    require(extra.isEmpty,
      s"evolveTo: stored columns ${extra.mkString(", ")} are missing from " +
        "the target schema — refusing to silently drop state data (select " +
        "them away explicitly if retired)")
    import org.apache.spark.sql.functions.{col, lit}
    df.select(target.map(f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }
}
