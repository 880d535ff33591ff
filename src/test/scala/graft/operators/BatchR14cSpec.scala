package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-C operators: interval
  * union coverage, fuzzy entity linking and histogram drift.
  */
class BatchR14cSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("interval coverage: nested merges, touching merges, gaps split") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_iv").toString
    Seq(
      // user 1: [0,60s] with nested [30s,40s]; gap; [120s,150s]
      (1L, ts("2024-03-01 10:00:00"), 1L, "e", 60.00),
      (2L, ts("2024-03-01 10:00:30"), 1L, "e", 10.00),
      (3L, ts("2024-03-01 10:02:00"), 1L, "e", 30.00),
      // user 2: [0,10s] and [10s,15s] touch exactly -> ONE interval
      (4L, ts("2024-03-01 10:00:00"), 2L, "e", 10.00),
      (5L, ts("2024-03-01 10:00:10"), 2L, "e", 5.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Relational.q81IntervalCoverage(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val us = 1000000L
    assert(out(1L) == ((2L, 90L * us, 150L * us)))
    assert(out(2L) == ((1L, 15L * us, 15L * us)))
  }

  test("fuzzy link: seeded deletions resolve back through the block") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_fz").toString
    // 10: 'blue'->pos 10%3+2=3 -> 'ble ring'; 20: 'black'->pos 2 ->
    // 'back ring'; 30: 'hot'->pos 2 -> 'ht bolt'. Cross-candidates in
    // the b|ring block score lev 3 -> excluded by the <=2 gate.
    Seq((10L, "blue ring", "Brand#1"), (20L, "black ring", "Brand#1"),
      (30L, "hot bolt", "Brand#1"))
      .toDF("p_partkey", "p_name", "p_brand")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    val out = Relational.q82FuzzyLink(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (10L, "ble ring", "blue ring", 1L, 1L, true),
      (20L, "back ring", "black ring", 1L, 1L, true),
      (30L, "ht bolt", "hot bolt", 1L, 1L, true)))
  }

  test("histogram drift: permille L2 with clamped buckets, tie to low") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_hd").toString
    Seq(
      // first half: both rows land in bucket 0
      (1L, ts("2024-01-05 10:00:00"), 1L, "a", 1.00),
      (2L, ts("2024-01-05 11:00:00"), 1L, "a", 2.00),
      // second half: one bucket-0 row, one clamped into bucket 15
      (3L, ts("2024-01-20 10:00:00"), 1L, "a", 1.00),
      (4L, ts("2024-01-20 11:00:00"), 1L, "a", 400.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Quality.histogramDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // bucket 0: 1000 vs 500 permille; bucket 15: 0 vs 500 ->
    // L2 = 500^2 + 500^2; |delta| ties at 500 -> worst bucket 0
    assert(out("a") == ((2L, 2L, 500000L, 0L, 500L)))
  }
}
