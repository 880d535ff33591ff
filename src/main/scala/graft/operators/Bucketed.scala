package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.util.Dirs

/** Bucketed co-located fact-fact join — the 100 TB join shape where
  * the shuffle is paid ONCE at write time and every subsequent join on
  * the bucket key is exchange-free.
  *
  * At scale, `lineitem ⋈ orders` on the order key is the canonical
  * repeated fact-fact join: shuffling both sides on every query moves
  * the whole table through the network each time. Bucketing both
  * tables by their join key (same bucket count, Spark's Murmur3 bucket
  * hash) lets the planner prove co-partitioning, so the sort-merge
  * join reads bucket i of each table side-by-side with NO Exchange on
  * either input — the only shuffle left in the plan is the tiny
  * post-join aggregate. `sortBy` + one-file-per-bucket (the
  * `repartition(BUCKETS, key)` before write uses the SAME hash
  * function as bucket assignment, so each write task holds exactly one
  * bucket) additionally lets the planner elide the merge-join sort.
  *
  * PlanSpec asserts the property that matters: zero exchanges under
  * the join. The DuckDB oracle replays the identical join over the raw
  * tables — bucketing must not change a single row.
  */
object Bucketed {

  val BUCKETS = 8

  // one bucketed copy per (session, source dir); table names carry the
  // dir tag so two SFs in one session can't serve each other's data
  private def tag(dir: String): String =
    java.lang.Integer.toHexString(dir.hashCode)

  def ordersTable(dir: String): String = s"graft_orders_b_${tag(dir)}"
  def lineitemTable(dir: String): String = s"graft_lineitem_b_${tag(dir)}"

  private def ensure(s: SparkSession, dir: String): Unit =
    Dirs.derived(s, dir, "bucketed") {
      val wh = Dirs.scratch("graft-bucketed").toString
      Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(BUCKETS, col("o_orderkey"))
        .write.mode("overwrite")
        .option("path", s"$wh/orders_b")
        .bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordersTable(dir))
      Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(BUCKETS, col("l_orderkey"))
        .write.mode("overwrite")
        .option("path", s"$wh/lineitem_b")
        .bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lineitemTable(dir))
    }

  /** Revenue by order priority over the bucketed join. */
  def q27BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensure(s, dir)
    s.table(lineitemTable(dir))
      .join(s.table(ordersTable(dir)), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  /** The join-only frame (no aggregate) for plan assertions. */
  def joinedFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensure(s, dir)
    s.table(lineitemTable(dir))
      .join(s.table(ordersTable(dir)), $"l_orderkey" === $"o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q27_bucketed_join" -> (q27BucketedJoin _),
  )

  val oracles: Map[String, String] = Map(
    "q27_bucketed_join" ->
      """SELECT o_orderpriority,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
