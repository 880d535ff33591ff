package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.util.Dirs

/** Non-parquet sources and schema evolution — the ingestion-side
  * surface a lakehouse engine needs beyond its primary columnar
  * format.
  *
  * Scale rules demonstrated here:
  *  - JSON/CSV reads ALWAYS carry an explicit schema: schema inference
  *    is a full extra pass over the data (at 100 TB, a second 100-TB
  *    scan before the first real one) and can silently widen types
  *    between runs. The readers below never infer.
  *  - Schema evolution via `mergeSchema`: old files lacking a column
  *    surface it as NULL — additive evolution without rewriting
  *    history, the standard lakehouse contract. (Per-file footer
  *    merging has a planning cost, so production tables pin the merged
  *    schema in a catalog; the read here demonstrates the semantics.)
  *
  * Every fixture is derived deterministically from the events table
  * (split by `event_id` parity), so the DuckDB oracle recomputes each
  * result from the RAW table — a format round-trip must not change a
  * single value.
  */
object AltSources {

  private def ensure(s: SparkSession, dir: String): String =
    Dirs.derived(s, dir, "altsrc") {
      val root = Dirs.scratch("graft-altsrc").toString
      val ev = Tables(s, dir, "events")
      // schema evolution: generation 1 predates the `value` column
      ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$root/evo/gen=1")
      ev.filter(col("event_id") % 2 === 1)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$root/evo/gen=2")
      // JSONL + CSV fixtures (simple columns; ts stays out — format
      // round-trips of timestamps are a rendering quagmire that
      // belongs to the writer config, not this demonstration)
      ev.select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").json(s"$root/events_json")
      ev.select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("header", "true").csv(s"$root/events_csv")
      // ORC: Spark's second native columnar format — same explicit-
      // schema read discipline; predicate pushdown works like parquet
      ev.select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(s"$root/events_orc")
      root
    }

  private val flatSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Additive schema evolution: gen-1 files lack `value`; mergeSchema
    * reads them as NULL alongside gen-2. */
  def q32SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensure(s, dir)
    s.read.option("mergeSchema", "true").parquet(s"$root/evo")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        count($"value").as("n_with_value"),
        round(sum(coalesce($"value", lit(0.0))), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  /** JSONL round-trip with an explicit schema (no inference pass). */
  def q33JsonSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensure(s, dir)
    s.read.schema(flatSchema).json(s"$root/events_json")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("sum_value"),
        sum($"user_id").as("sum_user"))
      .orderBy($"event_type")
  }

  /** ORC round-trip with an explicit schema — Spark's second native
    * columnar format; the same pushdown/pruning machinery as parquet
    * applies, so the only operator-level difference is the format
    * string. */
  def q68OrcSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensure(s, dir)
    s.read.schema(flatSchema).orc(s"$root/events_orc")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("sum_value"),
        sum($"user_id").as("sum_user"))
      .orderBy($"event_type")
  }

  /** CSV round-trip with an explicit schema (no inference pass). */
  def q34CsvSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensure(s, dir)
    s.read.schema(flatSchema).option("header", "true")
      .csv(s"$root/events_csv")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("sum_value"),
        sum($"user_id").as("sum_user"))
      .orderBy($"event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_schema_evolution" -> (q32SchemaEvolution _),
    "q33_json_source" -> (q33JsonSource _),
    "q34_csv_source" -> (q34CsvSource _),
    "q68_orc_source" -> (q68OrcSource _),
  )

  private val flatAgg =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      | round(sum(value), 2) AS sum_value,
      | CAST(sum(user_id) AS BIGINT) AS sum_user
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "q32_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
        |   AS n_with_value,
        | round(sum(CASE WHEN event_id % 2 = 1 THEN value ELSE 0.0 END), 2)
        |   AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q33_json_source" -> flatAgg,
    "q34_csv_source" -> flatAgg,
    "q68_orc_source" -> flatAgg,
  )
}
