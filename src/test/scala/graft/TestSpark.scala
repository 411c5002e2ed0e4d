package graft

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
}
