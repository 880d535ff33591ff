package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-E operators: forward
  * as-of, streaming OHLC equivalence, and IVF-PQ retrieval.
  */
class BatchR14eSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof forward: earliest order at-or-after the event, else null") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_af").toString
    Seq(
      (1L, ts("2024-01-05 10:00:00"), 1L, "e", 1.0),
      (2L, ts("2024-01-20 10:00:00"), 1L, "e", 1.0), // after all orders
      (3L, ts("2024-01-05 10:00:00"), 2L, "e", 1.0)) // user w/o orders
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    Seq((100L, 1L, ts("2024-01-03 00:00:00")),
      (101L, 1L, ts("2024-01-10 00:00:00")))
      .map { case (k, c, d) => (k, c, "O", 1.0, d, "x") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = AsofJoin.eventsAsofNextOrder(spark, dir).collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out(1L) == ((101L, 5L))) // next = Jan 10 order, 5 days out
    assert(out(2L) == ((-1L, -1L)))
    assert(out(3L) == ((-1L, -1L)))
  }

  test("streaming ohlc equals the batch q79 resample") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_so").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "a", 5.00),
      (2L, ts("2024-03-01 11:00:00"), 1L, "a", 9.00),
      (3L, ts("2024-03-01 12:00:00"), 1L, "a", 1.00),
      (4L, ts("2024-03-02 09:00:00"), 1L, "a", 2.00),
      (5L, ts("2024-03-01 09:00:00"), 2L, "b", 3.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    def key(r: org.apache.spark.sql.Row, dayAt: Int, typeAt: Int) =
      (r.getTimestamp(dayAt).toString, r.getString(typeAt))
    val batch = Relational.q79OhlcResample(spark, dir).collect()
      .map(r => key(r, 1, 0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val stream = StreamBatch.streamingOhlc(spark, dir).collect()
      .map(r => key(r, 0, 1) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(stream == batch && batch.nonEmpty)
  }

  test("ivfpq planted twins: residual ADC retrieves the near-duplicate") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ipq").toString
    def vec(seed: Long): Array[Float] = Array.tabulate(64) { d =>
      (java.lang.Long.remainderUnsigned(
        graft.functions.TextHashes.mix64(seed * 131L + d),
        1000000L) / 1000000.0f) - 0.5f
    }
    val base = (0L until 300L).map(i => (i, vec(i)))
    val twins = (0L until 10L).map { q =>
      (1000L + q, vec(q).zipWithIndex.map { case (x, d) =>
        x + (if (d % 7 == 0) 0.01f else -0.01f)
      })
    }
    (base ++ twins).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val tops = Similarity.ivfpqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    // the twin shares its query's cell (tiny perturbation), so probe 1
    // always reaches it; residual ADC must then rank it into the top-5
    val recovered = (0L until 10L).count(q => tops(q).contains(1000L + q))
    assert(recovered >= 8, s"recovered $recovered/10: $tops")
  }
}
