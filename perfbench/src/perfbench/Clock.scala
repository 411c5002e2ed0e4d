package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness timestamps line up with the millisecond epoch times Spark's
  * listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds used by this process, local executors included. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU seconds of this process's live threads, from `/proc` (Linux;
    * empty elsewhere), summed by thread name with its numbers dropped
    * ("GC Thread#3" counts as "GC Thread#"). A thread that has exited is
    * no longer listed. */
  def threadCpuS(): Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("comm"))).trim
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        // fields after the parenthesised name: state is 0, utime 11, stime 12
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(comm.replaceAll("[0-9]+", "") -> (f(11).toLong + f(12).toLong) / ClockTicksPerS)
      } catch { case _: java.io.IOException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** CPU seconds the JIT compiler threads ("C1/C2 CompilerThread<n>") have
    * used. The launcher keeps them alive for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none exits uncounted. */
  def jitCpuS(cpu: Map[String, Double]): Double =
    cpu.collect { case (k, v) if k.contains("CompilerThre") => v }.sum
  private val ClockTicksPerS = 100.0  // Linux's USER_HZ
}

/** Live heap: a full collection, then the sum over heap pools of their
  * `MemoryPoolMXBean` collection usage (what each pool holds after it). */
object LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toList
  def afterGcMb(): Double = {
    System.gc()
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }
}

/** Hadoop `FileSystem` statistics for the local file system, summed over
  * all threads: bytes of every read and write that goes through Hadoop
  * (parquet, checkpoints, commit markers). The local file system does not
  * count operations, so only bytes are kept. */
object FsStats {
  final case class Snap(bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }
  def snap(): Snap = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Snap(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}
