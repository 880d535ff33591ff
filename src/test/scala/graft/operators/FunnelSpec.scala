package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted-sequence checks for [[Relational.q42FunnelSteps]]: the
  * funnel is ORDERED (a click before the first view doesn't count) and
  * each step takes the first qualifying event strictly after the
  * previous step.
  */
class FunnelSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("funnel steps are ordered, first-qualifying, strictly after") {
    import spark.implicits._
    val rows = Seq(
      // user 1: click BEFORE first view — click must not count; the
      // later click does; purchase between view and click must not
      (1L, "click", ts(0)), (1L, "view", ts(10)), (1L, "purchase", ts(15)),
      (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      // user 2: full ordered chain; second view/click ignored
      (2L, "view", ts(0)), (2L, "view", ts(5)), (2L, "click", ts(6)),
      (2L, "click", ts(7)), (2L, "purchase", ts(8)),
      // user 3: view only
      (3L, "view", ts(0)),
      // user 4: no funnel event at all
      (4L, "error", ts(0)))
    val dir = graft.util.Dirs.scratch("graft_funnel").toString
    rows.toDF("user_id", "event_type", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val out = Relational.q42FunnelSteps(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.getTimestamp(2)), Option(r.getTimestamp(3)),
        Option(r.getTimestamp(4)))).toMap
    assert(out(1L) == (3L, Some(ts(10)), Some(ts(20)), Some(ts(30))))
    assert(out(2L) == (3L, Some(ts(0)), Some(ts(6)), Some(ts(8))))
    assert(out(3L) == (1L, Some(ts(0)), None, None))
    assert(out(4L) == (0L, None, None, None))
    assert(out.size == 4)
  }
}
