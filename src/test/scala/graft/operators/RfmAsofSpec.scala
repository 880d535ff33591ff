package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Relational.q65RfmSegments]] (fixed-breakpoint
  * RFM scoring) and [[AsofJoin.eventsAsofOrdersTolerance]] (as-of with
  * staleness bound).
  */
class RfmAsofSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def day(d: Int) = new Timestamp(1700000000000L + d * 86400000L)

  test("rfm: breakpoint scores and segment code") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_rfm").toString
    val rows =
      // c1: one 50.00 order on the anchor day → r5 f1 m1 = 511
      Seq((1000L, 1L, day(500), 50.00)) ++
        // c2: 25 orders of 300.00, last one 100 days before anchor →
        // recency 100 → r3; freq 25 → f5; 750000 cents → m5 = 355
        (0 until 25).map(i => (2000L + i, 2L, day(400 - i), 300.00))
    rows.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q65RfmSegments(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(out(1L) == (0L, 1L, 5000L, 5L, 1L, 1L, 511L))
    assert(out(2L) == (100L, 25L, 750000L, 3L, 5L, 5L, 355L))
  }

  test("asof tolerance: fresh match kept, stale and missing nulled") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_asoft").toString
    Seq((10L, 1L, day(200)), (20L, 2L, day(200)), (30L, 3L, day(200)))
      .toDF("event_id", "user_id", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    Seq((100L, 1L, day(190)),   // 10 days before u1's event: fresh
      (200L, 2L, day(100)))     // 100 days before u2's event: stale
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = AsofJoin.eventsAsofOrdersTolerance(spark, dir).collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out(10L) == ((Some(100L), Some(10L))))
    assert(out(20L) == ((None, None)))
    assert(out(30L) == ((None, None)))
  }
}
