package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted check for [[StreamBatch.streamingSlidingAgg]]: every event
  * lands in exactly its two overlapping epoch-aligned windows, with
  * per-row cents quantization.
  */
class SlidingWindowSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("sliding 1h/30m windows: two-window fanout, counts and cents") {
    import spark.implicits._
    // T0 is an exact 30-minute boundary (1700001000000 ms)
    val t0 = 1700001000000L
    def ts(minOff: Int) = new Timestamp(t0 + minOff * 60000L)
    val dir = graft.util.Dirs.scratch("graft_slide").toString
    Seq(
      (1L, ts(10), 7L, "A", 1.00),
      (2L, ts(40), 7L, "A", 2.00),
      (3L, ts(10), 8L, "B", 0.505)) // cents round-half-up → 51
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = StreamBatch.streamingSlidingAgg(spark, dir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3)))
    val m30 = 30 * 60000L
    assert(out.toSet == Set(
      (t0 - m30, "A", 1L, 100L), (t0, "A", 2L, 300L),
      (t0 + m30, "A", 1L, 200L),
      (t0 - m30, "B", 1L, 51L), (t0, "B", 1L, 51L)))
  }
}
