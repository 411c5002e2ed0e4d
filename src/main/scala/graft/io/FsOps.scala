package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem + sink utilities (SURVEY.md §2.2 S7/S9): the
  * `dumbo cat/ls/exists/rm/put/get` CLI verbs (`dumbo/cmd.py`) and the
  * `-overwrite`/`-delinputs` job options, over the Hadoop FileSystem
  * API so they work on HDFS/S3A/local alike.
  */
object FsOps {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `dumbo ls` */
  def ls(spark: SparkSession, path: String): Seq[String] =
    fs(spark, path).listStatus(new Path(path)).toSeq.map(_.getPath.toString)

  /** `dumbo exists` */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** `dumbo rm -rf` */
  def rm(spark: SparkSession, path: String): Boolean =
    fs(spark, path).delete(new Path(path), true)

  /** Create an empty marker file (the commit markers of the streaming
    * state protocols — `_COMMIT` under a delta batch dir). Overwrites
    * an existing marker: markers carry no payload, so re-touching on a
    * replay is idempotent by construction.
    */
  def touch(spark: SparkSession, path: String): Unit =
    fs(spark, path).create(new Path(path), true).close()

  /** `dumbo put` / `dumbo get` */
  def put(spark: SparkSession, local: String, dest: String): Unit =
    fs(spark, dest).copyFromLocalFile(new Path(local), new Path(dest))
  def get(spark: SparkSession, src: String, local: String): Unit =
    fs(spark, src).copyToLocalFile(new Path(src), new Path(local))

  /** Read parquet dirs that Spark wrote as ONE relation, with the schema
    * taken from each dir's footer on the driver: Spark records its row
    * schema under `ParquetReadSupport.SPARK_METADATA_KEY` in every file
    * it writes, so this is the schema `spark.read.parquet` would infer —
    * without the one-task Spark job that inference launches per read.
    *
    * The dirs' schemas are resolved the way `unionByName` over one scan
    * per dir would resolve them (by name, in the first dir's column
    * order, types widened), by analysing `unionByName` over empty local
    * frames: no job runs, and a dir that renamed, dropped or added a
    * column raises the same `AnalysisException` that union would. One
    * relation instead of that union keeps the plan one scan wide: Catalyst
    * pushes joins and filters through a union into every branch, so
    * whatever sits above a k-way union is planned, and code-generated,
    * k times.
    *
    * A dir written with `partitionBy` is read through its first
    * partition dir's footer; the partition columns are discovered from
    * the paths, as `spark.read.parquet` discovers them.
    *
    * Refuses a dir without a visible data file or a footer without a
    * Spark schema: there is no inference fallback.
    */
  def readParquet(spark: SparkSession, dirs: String*): DataFrame = {
    require(dirs.nonEmpty, "FsOps.readParquet: no dirs")
    val schema = dirs.map(footerSchema(spark, _)).distinct
      .map(s => spark.createDataFrame(java.util.Collections.emptyList[Row](), s))
      .reduce(_ unionByName _).schema
    spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Write `df` to scratch parquet and read it back: the lineage cut and
    * staged load every multi-pass query uses. Overwrites `dir` (with
    * Hive partitioning on `partitionBy` when given) and returns
    * [[readParquet]] of it, so the read-back takes its schema from the
    * footer and launches no job beyond the write's. The frame reads
    * `dir` until it is overwritten: a caller keeps one live result per
    * dir.
    */
  def stage(df: DataFrame, dir: String, partitionBy: String*): DataFrame = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    readParquet(df.sparkSession, dir)
  }

  /** The first visible data file directly under `dir`, else under its
    * first `col=value` partition dir that has one. */
  private def firstDataFile(spark: SparkSession, dir: Path): Option[Path] = {
    val (files, dirs) = fs(spark, dir.toString).listStatus(dir)
      .filter(s => Layout.isVisibleFile(s.getPath.getName)).partition(_.isFile)
    files.map(_.getPath).sortBy(_.getName).headOption.orElse(
      dirs.map(_.getPath).filter(_.getName.contains('=')).sortBy(_.getName)
        .iterator.flatMap(firstDataFile(spark, _)).nextOption())
  }

  private def footerSchema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = firstDataFile(spark, new Path(dir))
      .getOrElse(throw new IllegalArgumentException(
        s"FsOps.readParquet: no parquet data file under $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY)
    finally reader.close()
    require(json != null,
      s"FsOps.readParquet: $file carries no Spark row schema in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** `dumbo cat | head` — sample rows without a full materialization. */
  def cat(df: DataFrame, n: Int = 20): Seq[Row] = df.limit(n).collect().toSeq

  /** Sink with dumbo's `-overwrite` and `-delinputs` semantics: write
    * parquet (overwrite mode = rm-output-first), then optionally delete
    * the inputs only after a successful write. `compression` is the
    * `-compressoutput` surface (S5): any codec Spark's parquet sink
    * accepts — snappy (default), zstd, gzip, lz4, none.
    */
  def writeParquet(spark: SparkSession, df: DataFrame, out: String,
                   overwrite: Boolean = true, delInputs: Seq[String] = Nil,
                   compression: Option[String] = None): Unit = {
    val w = df.write.mode(if (overwrite) "overwrite" else "errorifexists")
    compression.fold(w)(c => w.option("compression", c)).parquet(out)
    delInputs.foreach(rm(spark, _))
  }
}
