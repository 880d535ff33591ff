package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** As-of join — an operator Spark lacks natively, re-expressed as a
  * composition of existing operators (the preferred path from the
  * custom-operator ladder: compose > Expression > Strategy): for each
  * left row, attach the latest right row with the same key whose time
  * is ≤ the left time.
  *
  * Plan shape: tag + union both sides, ONE shuffle on the key, one
  * per-key sort, `last_value(..., ignoreNulls)` over an unbounded-
  * preceding window, then filter back to left rows. At 100 TB this is
  * the minimal-movement formulation: no per-row range probing, no
  * broadcast of a time index, and AQE handles key skew on the single
  * exchange. Right rows sort before left rows at equal timestamps, so
  * the join is inclusive (right.time ≤ left.time).
  */
object AsofJoin {

  /** Generic composition. `rightCols` are the columns carried from the
    * right side (they appear null when no right row precedes). */
  def asof(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__pri", lit(1))
    val carried = rightCols.map(c => col(c))
    val r = right
      .withColumn("__k", col(rightKey)).withColumn("__t", col(rightTime))
      .withColumn("__pri", lit(0))
    val lAll = l.columns.filterNot(_.startsWith("__")).toSeq
    val unioned =
      l.select((lAll.map(col) ++ Seq(col("__k"), col("__t"), col("__pri")) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
        .unionByName(
          r.select((lAll.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
            Seq(col("__k"), col("__t"), col("__pri")) ++ carried): _*))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__pri"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__pri") === 1).drop("__k", "__t", "__pri")
  }

  /** FORWARD as-of: for each left row, the EARLIEST right row with the
    * same key whose time is ≥ the left time — the "next event after"
    * direction (next shipment after an order, next quote after a
    * trade). Identical single-shuffle composition to [[asof]] with the
    * window order reversed (time DESC): in descending order the
    * unbounded-preceding frame holds exactly the rows with time ≥
    * current, and `last(…, ignoreNulls)` picks the nearest of them.
    * Right rows still sort before left rows on ties, so the match is
    * inclusive (right.time ≥ left.time). */
  def asofForward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__pri", lit(1))
    val carried = rightCols.map(c => col(c))
    val r = right
      .withColumn("__k", col(rightKey)).withColumn("__t", col(rightTime))
      .withColumn("__pri", lit(0))
    val lAll = l.columns.filterNot(_.startsWith("__")).toSeq
    val unioned =
      l.select((lAll.map(col) ++ Seq(col("__k"), col("__t"), col("__pri")) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
        .unionByName(
          r.select((lAll.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
            Seq(col("__k"), col("__t"), col("__pri")) ++ carried): _*))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").desc, col("__pri"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__pri") === 1).drop("__k", "__t", "__pri")
  }

  /** Query: each event joined to the customer's NEXT order at or after
    * event time ([[asofForward]]), with the lead time in days — the
    * attribution-window direction ("did this click convert"). */
  def eventsAsofNextOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(min($"o_orderkey").as("o_orderkey"))
      .withColumn("o_ts", $"o_orderdate")
    asofForward(events, orders,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_ts"))
      .select($"event_id", $"user_id",
        $"o_orderkey".as("next_orderkey"),
        expr("datediff(to_date(o_ts), to_date(ts))").cast("long")
          .as("lead_days"))
      .orderBy($"event_id")
  }

  /** Query: each event joined to the customer's latest order at event
    * time. Orders are first deduped to one per (customer, date) with a
    * deterministic winner so the as-of tie-break is well-defined in
    * both engines. */
  def eventsAsofOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"))
    asof(events, orders,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey"))
      .select($"event_id", $"user_id", $"o_orderkey".as("asof_orderkey"))
      .orderBy($"event_id")
  }

  /** Staleness bound for the tolerance variant: an as-of match older
    * than this many days is discarded (kdb/pandas `merge_asof`
    * `tolerance` semantics). */
  val ASOF_TOLERANCE_DAYS = 30

  /** As-of join WITH TOLERANCE: same single-shuffle composition as
    * [[eventsAsofOrders]], but the matched right row also carries its
    * own timestamp, and a post-window projection nulls the payload
    * when the match is staler than [[ASOF_TOLERANCE_DAYS]] — the
    * "latest quote, but only if fresh" semantics. The tolerance gate
    * is a narrow codegen'd projection AFTER the one keyed exchange;
    * day arithmetic goes through explicit date casts so Spark's
    * `datediff` and DuckDB's `date_diff('day', …)` agree exactly. */
  def eventsAsofOrdersTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"))
      .withColumn("o_ts", $"o_orderdate")
    val fresh = expr("datediff(to_date(ts), to_date(o_ts))") <=
      ASOF_TOLERANCE_DAYS
    asof(events, orders,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_ts"))
      .select($"event_id", $"user_id",
        when(fresh, $"o_orderkey").as("asof_orderkey"),
        when(fresh, expr("datediff(to_date(ts), to_date(o_ts))")
          .cast("long")).as("staleness_days"))
      .orderBy($"event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_asof_join" -> (eventsAsofOrders _),
    "q66_asof_tolerance" -> (eventsAsofOrdersTolerance _),
    "q84_asof_forward" -> (eventsAsofNextOrder _),
  )

  val oracles: Map[String, String] = Map(
    // DuckDB's ASOF picks the nearest match under any inequality:
    // <= gives the forward (next-at-or-after) direction
    "q84_asof_forward" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey,
        |  CAST(date_diff('day', CAST(e.ts AS DATE),
        |    CAST(o.o_orderdate AS DATE)) AS BIGINT) AS lead_days
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q18_asof_join" ->
      """SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        | ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q66_asof_tolerance" ->
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
         |  FROM orders GROUP BY 1, 2),
         |j AS (SELECT e.event_id, e.user_id, o.o_orderkey,
         |    date_diff('day', CAST(o.o_orderdate AS DATE),
         |      CAST(e.ts AS DATE)) AS d
         |  FROM events e ASOF LEFT JOIN o
         |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
         |SELECT event_id, user_id,
         |  CASE WHEN d <= $ASOF_TOLERANCE_DAYS THEN o_orderkey END
         |    AS asof_orderkey,
         |  CAST(CASE WHEN d <= $ASOF_TOLERANCE_DAYS THEN d END AS BIGINT)
         |    AS staleness_days
         |FROM j ORDER BY event_id""".stripMargin,
  )
}
