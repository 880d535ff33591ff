package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted-gap fixtures for the time-series densification operators
  * ([[Relational.q48CalendarFill]], [[Relational.q49FillForward]]).
  */
class TimeSeriesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(day: Int, h: Int = 0) =
    new Timestamp(1700000000000L + day * 86400000L + h * 3600000L)

  private def write(rows: Seq[(Long, Long, String, String, Timestamp)])
      : String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ts").toString
    rows.toDF("event_id", "user_id", "event_type", "props", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("calendar fill: absent (day, type) cells appear as zeros") {
    // days 0 and 3 have events; days 1-2 are a gap. Two types, one of
    // which only ever fires on day 0.
    val dir = write(Seq(
      (1L, 1L, "view", "{}", ts(0)),
      (2L, 1L, "click", "{}", ts(0)),
      (3L, 1L, "view", "{}", ts(3))))
    val out = Relational.q48CalendarFill(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out.size == 8, s"4 days x 2 types: ${out.keySet}") // dense
    assert(out.count(_._2 == 0L) == 5) // 3 gap cells + day-3 click + day-0? no: day0 both, day3 view only
    assert(out.values.sum == 3L) // total events preserved
    // the gap days are explicitly present with zero
    val days = out.keys.map(_._1).toSet
    assert(days.size == 4)
  }

  test("cohort retention: planted two-cohort matrix") {
    // user 1 first active week 0, active weeks 0,1,3;
    // user 2 first active week 0, active week 0 only;
    // user 3 first active week 1, active weeks 1,2.
    val dir = write(Seq(
      (1L, 1L, "view", "{}", ts(0)), (2L, 1L, "view", "{}", ts(7)),
      (3L, 1L, "view", "{}", ts(22)),
      (4L, 2L, "view", "{}", ts(1)),
      (5L, 3L, "view", "{}", ts(8)), (6L, 3L, "view", "{}", ts(15))))
    // cohort keys as strings: robust to the timestamp/NTZ loader split,
    // and ISO-formatted so lexicographic order == chronological
    val out = Relational.q50CohortRetention(spark, dir).collect()
      .map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    val cohorts: Seq[String] = out.keys.map(_._1).toSet.toSeq.sorted
    assert(cohorts.size == 2, s"two cohorts expected: $cohorts")
    val (c0, c1) = (cohorts(0), cohorts(1))
    assert(out((c0, 0L)) == 2) // users 1,2 in week 0
    assert(out((c0, 1L)) == 1) // user 1 returns
    assert(out((c0, 3L)) == 1) // user 1 returns again (ts(22) = wk 3)
    assert(!out.contains((c0, 2L))) // nobody from cohort 0 in week 2
    assert(out((c1, 0L)) == 1 && out((c1, 1L)) == 1) // user 3
  }

  test("trailing distinct: window membership and dedup are exact") {
    // user 1 active days 0 and 2 (one window overlap span), user 2
    // active day 10 (disjoint)
    val dir = write(Seq(
      (1L, 1L, "view", "{}", ts(0)),
      (2L, 1L, "view", "{}", ts(0)), // same user+day: dedup to one
      (3L, 1L, "view", "{}", ts(2)),
      (4L, 2L, "view", "{}", ts(10))))
    val out = Relational.q52TrailingDistinct(spark, dir).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    def day(i: Int) = new java.sql.Date(ts(i).getTime).toString
    // user 1 covers window-days 0..8 (day0 → 0..6, day2 → 2..8), but
    // counts ONCE per window-day even where both spans overlap
    (0 to 8).foreach(i => assert(out(day(i)) == 1, s"day $i"))
    // user 2 covers 10..16; day 9 has nobody
    assert(!out.contains(day(9)))
    (10 to 16).foreach(i => assert(out(day(i)) == 1, s"day $i"))
    assert(out.size == 16)
  }

  test("fill forward: carries the last reading, resets per user") {
    val dir = write(Seq(
      // user 1: reading 5 at day0, non-view events after, new reading
      (1L, 1L, "view", """{"k": 5}""", ts(0)),
      (2L, 1L, "click", """{"k": 99}""", ts(0, 1)), // non-view: ignored
      (3L, 1L, "purchase", "{}", ts(0, 2)),
      (4L, 1L, "view", """{"k": 7}""", ts(0, 3)),
      (5L, 1L, "click", "{}", ts(0, 4)),
      // user 2: no reading before its first event
      (6L, 2L, "click", "{}", ts(0))))
    val out = Relational.q49FillForward(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L) == Some(5L))
    assert(out(2L) == Some(5L), "click's own k must NOT count as a reading")
    assert(out(3L) == Some(5L))
    assert(out(4L) == Some(7L))
    assert(out(5L) == Some(7L))
    assert(out(6L) == None, "no reading yet → null, not another user's")
  }
}
