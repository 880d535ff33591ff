package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted-sequence checks for [[Relational.q62EventTransitions]]
  * (first-order Markov transition counts + integer permille shares)
  * and [[Relational.q63RobustOutliers]] (per-type daily robust
  * z-score flags on the lower-median/MAD convention).
  */
class TransitionOutlierSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("transitions: per-user ordering, counts, permille shares") {
    import spark.implicits._
    // user 1: A B A B → (A→B)×2, (B→A)×1; user 2: A A B → (A→A), (A→B)
    val rows = Seq(
      (1L, 1L, ts(0), "A", 0.0), (1L, 2L, ts(1), "B", 0.0),
      (1L, 3L, ts(2), "A", 0.0), (1L, 4L, ts(3), "B", 0.0),
      (2L, 5L, ts(0), "A", 0.0), (2L, 6L, ts(1), "A", 0.0),
      (2L, 7L, ts(2), "B", 0.0),
      // user 3: single event — no transition
      (3L, 8L, ts(0), "C", 0.0))
    val dir = graft.util.Dirs.scratch("graft_trans").toString
    rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val out = Relational.q62EventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("A", "B") -> (3L, 750L),
      ("A", "A") -> (1L, 250L),
      ("B", "A") -> (1L, 1000L)))
  }

  test("transitions: same-timestamp ties break on event_id") {
    import spark.implicits._
    val rows = Seq(
      (1L, 2L, ts(0), "Y", 0.0), (1L, 1L, ts(0), "X", 0.0))
    val dir = graft.util.Dirs.scratch("graft_trans2").toString
    rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Relational.q62EventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("X", "Y")))
  }

  test("outliers: spike day flagged, constant group unflagged") {
    import spark.implicits._
    def day(d: Int, min: Int) =
      new Timestamp(1700000000000L + (d * 1440L + min) * 60000L)
    val spiky =
      // 8 quiet days at 1.00 total (day 0 split into two events that
      // must sum before quantile selection) + one 100.00 spike
      Seq((100L, day(0, 1), 9L, "m", 0.60), (101L, day(0, 2), 9L, "m", 0.40)) ++
        (1 to 7).map(d => (110L + d, day(d, 0), 9L, "m", 1.00)) ++
        Seq((120L, day(8, 0), 9L, "m", 100.00))
    val flat = (0 to 4).map(d => (200L + d, day(d, 0), 9L, "flat", 2.00))
    val dir = graft.util.Dirs.scratch("graft_outlier").toString
    (spiky ++ flat).map { case (id, t0, u, ty, v) => (id, t0, u, ty, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val out = Relational.q63RobustOutliers(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val m = out.filter(_._1 == "m")
    assert(m.length == 9)
    // median of [100×8, 10000] (lower, rank 5) = 100; MAD = 0 → guard 1
    assert(m.forall(x => x._4 == 100L && x._5 == 0L))
    assert(m.count(_._6 == 1L) == 1)
    assert(m.find(_._6 == 1L).get._3 == 10000L)
    val f = out.filter(_._1 == "flat")
    assert(f.length == 5 && f.forall(x =>
      x._3 == 200L && x._4 == 200L && x._5 == 0L && x._6 == 0L))
  }
}
