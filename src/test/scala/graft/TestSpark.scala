package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: the driver's session
  * (`Session.local`), with quieter logs.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  private val roots = new ConcurrentLinkedQueue[Path]()
  private lazy val cleanup: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => roots.forEach { root =>
      scala.util.Try(if (Files.exists(root)) {
        val all = Files.walk(root)
        try all.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally all.close()
      })
    }))

  /** A fresh dir under `java.io.tmpdir`, named `prefix` plus a random
    * suffix, removed with everything in it when the JVM exits. */
  def tmpDir(prefix: String): String = {
    cleanup
    val root = Files.createTempDirectory(prefix)
    roots.add(root)
    root.toString
  }
}
