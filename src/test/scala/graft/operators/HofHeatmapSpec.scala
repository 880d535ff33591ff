package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Similarity.vectorStatsHof]] and
  * [[Relational.q72DowHourHeatmap]].
  */
class HofHeatmapSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("vector stats via HOFs: fold, extremes, positive count") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_hof").toString
    Seq((1L, Array(1.0f, -2.0f, 0.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val r = Similarity.vectorStatsHof(spark, dir).head()
    // q = [1000, -2000, 0, 500]
    assert(r.getLong(1) == 4L)
    assert(r.getLong(2) == 1000L * 1000 + 2000L * 2000 + 500L * 500)
    assert(r.getLong(3) == 2L)
    assert(r.getLong(4) == -2000L && r.getLong(5) == 1000L)
  }

  test("dow/hour heatmap: UTC buckets with the %w Sunday=0 convention") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_hm").toString
    // 2023-11-19 was a Sunday; 14:30 UTC → (dow 0, hod 14)
    val sunday = Timestamp.valueOf("2023-11-19 14:30:00")
    val monday = Timestamp.valueOf("2023-11-20 03:10:00")
    Seq((1L, sunday, 1L, "view", 1.00), (2L, sunday, 2L, "view", 2.00),
      (3L, monday, 1L, "click", 0.25))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Relational.q72DowHourHeatmap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map((0L, 14L) -> (2L, 300L), (1L, 3L) -> (1L, 25L)))
  }
}
