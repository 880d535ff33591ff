package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The other half of the 100 TB layout story (with BucketingSpec):
  * fact tables written partitioned by day let a date-filtered query
  * touch only its partitions — the scan must show PartitionFilters and
  * read a fraction of the files.
  */
class PartitionPruningSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  test("date-partitioned events prune to the filtered day") {
    import spark.implicits._
    val out = graft.util.Dirs.scratch("graft-part").toString
    Tables(spark, dir, "events")
      .withColumn("day", to_date($"ts"))
      .write.partitionBy("day").mode("overwrite").parquet(out)

    val days = spark.read.parquet(out).select($"day").distinct().count()
    assert(days > 3, s"need multiple partitions, got $days")

    val pruned = spark.read.parquet(out)
      .filter($"day" === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: ["), plan.take(1500))
    assert(plan.contains("isnotnull(day") || plan.contains("day#"),
      plan.take(1500))

    // the pruned scan reads only that day's rows, and they all match
    val rows = pruned.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[java.sql.Date]("day").toString == "2024-01-02"))

    // and the partition count actually limits files scanned
    val full = spark.read.parquet(out).filter($"value" > 0)
    val fullCount = full.count()
    val prunedCount = rows.length
    assert(prunedCount < fullCount,
      s"pruned=$prunedCount should be well under total=$fullCount")
  }
}
