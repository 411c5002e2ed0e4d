package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `crashfs:` scheme, able to stop its
  * caller right after the k-th filesystem STEP of a commit protocol: it
  * performs the step, then throws [[CrashFs.Crash]], exactly as if the
  * process had died with the step on disk. A step is
  *
  *  - a parquet write finishing (the committer creating `_SUCCESS`),
  *  - a `_COMMIT` marker touch,
  *  - the delete of a batch or base dir (`b{n}`, `v{m}`).
  *
  * Register with `fs.crashfs.impl` and address paths as
  * `crashfs:///abs/path`. [[CrashFs.arm]] sets the step budget; the
  * budget is global to the JVM, so arm it around single-threaded code.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = CrashFs.Uri
  override def getScheme: String = CrashFs.Scheme

  private def created(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    if (f.getName == "_SUCCESS" || f.getName == "_COMMIT") CrashFs.step(out.close())
    out
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    created(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    created(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val done = super.delete(f, recursive)
    if (f.getName.matches("[bv]\\d+")) CrashFs.step(())
    done
  }
}

object CrashFs {
  val Scheme = "crashfs"
  val Uri: java.net.URI = java.net.URI.create("crashfs:///")

  /** Fatal (a `VirtualMachineError`), so no `NonFatal` handler — the
    * best-effort sweep and retention deletes have one — can swallow it:
    * a process that died does not go on to the next step. */
  final class Crash extends VirtualMachineError("crashfs: stopped after the armed step")

  private var budget = 0 // steps left before the crash; 0 = never crash
  private var taken = 0

  /** Count steps from now on and crash after the `steps`-th one
    * (`steps = 0` only counts). */
  def arm(steps: Int): Unit = synchronized { budget = steps; taken = 0 }

  /** Stop crashing; returns the number of steps taken since [[arm]]. */
  def disarm(): Int = synchronized { budget = 0; taken }

  private def step(beforeCrash: => Unit): Unit = synchronized {
    taken += 1
    if (budget > 0) {
      budget -= 1
      if (budget == 0) { beforeCrash; throw new Crash }
    }
  }

  /** True when `t` or one of its causes is a [[Crash]]. */
  def isCrash(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[Crash] || isCrash(t.getCause))
}
