package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

import EventAnalytics.Event

/** Watermark + window semantics under Structured Streaming (append
  * mode: windows emit only once the watermark passes; late data beyond
  * the watermark is dropped). */
class EventAnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.TestSpark.session

    private def ts(sec: Long) = new Timestamp(sec * 1000L)

  /** Wait until at least one further microbatch with data committed, so
    * the watermark from the previous adds takes effect. */
  private def awaitBatches(q: org.apache.spark.sql.streaming.StreamingQuery,
      minBatches: Int = 2): Unit = {
    val start = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = System.currentTimeMillis() + 20000
    while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < start + minBatches
      && System.currentTimeMillis() < deadline) Thread.sleep(100)
  }

  test("windowed totals finalize when the watermark passes; late rows drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val out = EventAnalytics.windowedTotals(input.toDS())
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName("win_totals")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      // window [60,120): two clicks; then advance event time past
      // watermark (120 + 10s) so the window finalizes
      input.addData(
        Event(ts(61), 1, "click", 2.0),
        Event(ts(62), 2, "click", 3.0),
        Event(ts(65), 1, "view", 1.0))
      awaitBatches(query)
      input.addData(Event(ts(135), 3, "click", 1.0)) // advances watermark to 125
      awaitBatches(query)
      // a late click for the already-finalized window: dropped
      input.addData(Event(ts(63), 4, "click", 100.0))
      awaitBatches(query)
      input.addData(Event(ts(200), 3, "view", 1.0)) // push watermark further

      val deadline = System.currentTimeMillis() + 30000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.length < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        rows = spark.sql(
          "SELECT * FROM win_totals WHERE win_start = timestamp '1970-01-01 00:01:00'")
          .collect()
      }
      val byType = rows.map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(byType("click") == ((2L, 5.0)), s"late row must be dropped: $byType")
      assert(byType("view") == ((1L, 1.0)))
    } finally query.stop()
  }

  test("session windows split on the gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val out = EventAnalytics.userSessions(input.toDS())
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      // user 1: burst at 10-13s, then a separate burst at 30s
      input.addData(
        Event(ts(10), 1, "click", 1.0),
        Event(ts(12), 1, "click", 1.0),
        Event(ts(13), 1, "view", 1.0),
        Event(ts(30), 1, "click", 1.0))
      awaitBatches(query)
      input.addData(Event(ts(100), 2, "view", 0.0)) // advance watermark

      val deadline = System.currentTimeMillis() + 30000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.length < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        rows = spark.sql("SELECT * FROM sessions WHERE user_id = 1").collect()
      }
      assert(rows.length == 2, s"expected 2 sessions, got ${rows.toSeq}")
      val counts = rows.map(_.getLong(3)).sorted.toSeq
      assert(counts == Seq(1L, 3L))
    } finally query.stop()
  }
}
