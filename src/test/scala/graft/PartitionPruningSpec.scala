package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proof of the partition-pruning path (COVERAGE scale notes): with
  * data laid out hive-partitioned on a filter column, a predicate on
  * that column prunes whole directories at planning time — at 100 TB
  * this is the difference between scanning one partition and all of
  * them. Testdata ships unpartitioned single files, so this spec
  * writes a partitioned copy to prove the engine's queries benefit
  * when the layout provides it.
  */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("filters on partition columns prune partitions at the scan") {
    val tmp = TestSpark.tmpDir("docs_part")
    val docs = graft.io.Tables.documents(spark, TestSpark.Sf0001)
    docs.write.partitionBy("lang").mode("overwrite").parquet(tmp)
    val q = spark.read.parquet(tmp).filter(col("lang") === "en")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filters in scan:\n$scan")
    val all = docs.filter(col("lang") === "en").count()
    assert(q.count() == all)
    graft.io.FsOps.rm(spark, tmp)
  }
}
