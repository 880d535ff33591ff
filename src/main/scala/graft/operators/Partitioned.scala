package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.util.Dirs

/** Time-partitioned layout + partition pruning — the OTHER half of
  * the 100 TB storage story next to [[Bucketed]].
  *
  * Event/fact tables at scale are laid out partitioned by ingestion
  * day (`.../day=2024-01-15/part-*.parquet`): a query for one day
  * must read one directory, not filter 100 TB row-by-row. The scan's
  * `PartitionFilters` (directory-level pruning, zero I/O for pruned
  * partitions) are distinct from `PushedFilters` (row-group-level) —
  * PlanSpec asserts the day predicate lands in PartitionFilters and
  * prunes to a single partition.
  *
  * The partition column is a `yyyy-MM-dd` STRING (not DATE): string
  * partition values round-trip through directory names and the Hive
  * path convention identically on every engine, dodging date-parsing
  * ambiguity. Spark's partition-column type INFERENCE (on by default)
  * would re-read these directory values as DATE, so the reads below
  * pass an explicit schema — that is what actually pins the string
  * semantics, not the write side. The DuckDB oracle replays the same
  * day filter over the RAW events table — layout must not change a
  * single row.
  */
object Partitioned {

  val DAY = "2024-01-15"

  /** The day-partitioned copy of events, read back with the schema it
    * was written with. */
  private def byDay(s: SparkSession, dir: String): DataFrame = {
    val (root, schema) = Dirs.derived(s, dir, "partitioned") {
      val root = Dirs.scratch("graft-partitioned").toString
      val withDay = Tables(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      withDay.write.mode("overwrite")
        .partitionBy("day")
        .parquet(s"$root/events_by_day")
      (root, withDay.schema)
    }
    s.read.schema(schema).parquet(s"$root/events_by_day")
  }

  /** One day's event-type counts, read from the partitioned layout. */
  def q30PartitionPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    byDay(s, dir)
      .filter($"day" === DAY)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  /** The filtered frame (pre-aggregate) for plan assertions. */
  def prunedFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    byDay(s, dir).filter($"day" === DAY)
  }

  /** DYNAMIC partition pruning — the runtime half of the pruning
    * story: the qualifying days are not a literal in the query (q30's
    * case) but the output of an aggregation ("days whose total cents
    * beat the per-day average"), so static pruning is impossible.
    * Spark broadcasts the filtered dim and injects its day values
    * into the partitioned scan's PartitionFilters as a
    * `dynamicpruningexpression` — pruned directories are never read,
    * decided AT RUNTIME. At 100 TB this is the difference between
    * scanning the whole fact table and touching only the qualifying
    * day directories; PlanSpec pins the dynamicpruning node. The
    * threshold is exact integer arithmetic (per-row cents, Long sums,
    * truncating mean) so the day set — and therefore the pruning
    * decision — replays bit-identically in DuckDB. */
  def q69DppHotDays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val laid = byDay(s, dir)
    val daily = Tables(s, dir, "events")
      .select(date_format($"ts", "yyyy-MM-dd").as("day"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
      .groupBy($"day").agg(sum($"vc").as("c"))
      .localCheckpoint() // read twice (threshold, hot-day filter)
    val thr = daily.agg(expr("sum(c) div count(1)")).as[Long].head()
    val hot = daily.filter($"c" > thr).select($"day")
    laid
      .select($"day", $"event_type",
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
      .join(broadcast(hot), "day")
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"vc").as("sum_cents"))
      .orderBy($"day", $"event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_partition_pruned" -> (q30PartitionPruned _),
    "q69_dpp_hot_days" -> (q69DppHotDays _),
  )

  val oracles: Map[String, String] = Map(
    // same integer threshold (per-row cents, Long sums, truncating
    // mean) → same hot-day set → same rollup, from the RAW table
    "q69_dpp_hot_days" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
        |  FROM events),
        |daily AS (SELECT day, CAST(sum(vc) AS BIGINT) AS c
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) // count(*) AS thr
        |  FROM daily),
        |hot AS (SELECT day FROM daily, t WHERE c > thr)
        |SELECT e.day, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vc) AS BIGINT) AS sum_cents
        |FROM e JOIN hot USING (day)
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q30_partition_pruned" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
  )
}
