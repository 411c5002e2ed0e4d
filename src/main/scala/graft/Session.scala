package graft
import org.apache.spark.sql.SparkSession

/** The one place graft's session policy lives. Bench, Verify, the
  * probe CLI and the test suites all run on this session, so a result
  * checked in a test is a result the driver sees.
  */
object Session {
  /** A local session on `cpus` cores:
    *  - one shuffle partition per core;
    *  - UTC, so epoch casts and event-time windows do not depend on
    *    the host's zone;
    *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), read as
    *    Long and converted to µs timestamps in `graft.io.Tables.events`;
    *  - `inferTimestampNTZ` off: naive TIMESTAMP(MICROS) reads as a
    *    session-zone TIMESTAMP (not NTZ), which event-time ops, epoch
    *    casts and scan-level pushdown rely on;
    *  - `GraftExtensions`: the native kernels as SQL functions. It
    *    injects functions only, no optimizer rule, so DataFrame plans
    *    are the same with or without it;
    *  - the warehouse, which roots every scratch dir (`QHelp.tmpDir`,
    *    the iterative graph ops' staging, bucketed tables), at
    *    `graft-warehouse` under `java.io.tmpdir`: Spark's default is
    *    `spark-warehouse` under the working directory, so a run's
    *    scratch would depend on where it was started.
    */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores for an entry point's session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
}
