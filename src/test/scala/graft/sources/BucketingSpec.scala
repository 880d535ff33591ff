package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The 100 TB co-location story (Tables scaladoc): fact tables written
  * bucketed by their join key let the big fact-fact join run with NO
  * shuffle exchange on either side. This spec proves the plan property
  * on the real data: orders ⋈ lineitem bucketed by order key has zero
  * Exchange operators; the same join over plain parquet has two.
  */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.TestSpark.session

  // force SMJ + AQE off (so executedPlan holds countable
  // ShuffleExchangeExec nodes); restored after the suite
  override protected def beforeAll(): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private val dir = "/root/testdata/sf0.001"

  private def exchangeCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e if e.getClass.getSimpleName.contains("ShuffleExchange") => e
    }.size

  test("bucketed fact-fact join runs without a shuffle exchange") {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables(spark, dir, "lineitem")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    val plain = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").count()
    val bucketed = spark.table("lineitem_b")
      .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").count()

    // identical results...
    val p = plain.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = bucketed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p == b)

    // ...but the bucketed join needs no exchange before the join (the
    // only remaining exchange is the final groupBy re-partition)
    val plainEx = exchangeCount(plain)
    val bucketedEx = exchangeCount(bucketed)
    info("bucketed plan:\n" + bucketed.queryExecution.executedPlan.toString()
      .linesIterator.filter(l => l.contains("Exchange") ||
        l.contains("SortMergeJoin") || l.contains("Scan") ||
        l.contains("Aggregate")).mkString("\n"))
    assert(bucketedEx < plainEx,
      s"bucketed=$bucketedEx plain=$plainEx — bucketing did not remove shuffles")
    assert(bucketedEx <= 1, s"expected at most the aggregation exchange, got $bucketedEx")
  }
}
