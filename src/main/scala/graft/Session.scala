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
    *    scratch would depend on where it was started;
    *  - once per JVM, [[sweepDeadScratch]] over that warehouse.
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
    if (swept.compareAndSet(false, true)) sweepDeadScratch(s)
    s
  }

  private val swept = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Remove the pid-keyed scratch of JVMs that no longer exist: every
    * dir directly under `<warehouse>/graft_tmp`, and every `graft_*`
    * dir directly under `<warehouse>` (managed scratch tables), whose
    * name ends in `_<pid>` — or `_<pid>_ckpt`, the stream checkpoint
    * DeltaState keeps beside a store — for a pid with no live process.
    * Keying scratch by pid keeps concurrent JVMs from overwriting each
    * other's files mid-read; this sweep keeps it from growing without
    * bound, as a JVM that exits (or is killed) leaves its dirs behind.
    * A live pid's dirs and names without a numeric suffix are never
    * touched. Best-effort: a failure leaves the scratch in place.
    */
  private[graft] def sweepDeadScratch(s: SparkSession): Unit = {
    import graft.io.FsOps
    val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    def dead(dir: String) =
      dir.split('/').last.stripSuffix("_ckpt").split('_').last.toLongOption
        .exists(p => !ProcessHandle.of(p).isPresent)
    def under(root: String) =
      if (FsOps.exists(s, root)) FsOps.ls(s, root) else Nil
    try (under(s"$wh/graft_tmp") ++
        under(wh).filter(_.split('/').last.startsWith("graft_")))
      .filter(dead).foreach(FsOps.rm(s, _))
    catch { case _: Exception => }
  }

  /** Cores for an entry point's session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
}
