package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-B operators: OHLC
  * resampling, gaps-and-islands, neighborhood Jaccard, CDC bucket
  * checksums and n-gram novelty.
  */
class BatchR14bSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("ohlc: open/close by arrival order, high/low/volume/total") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ohlc").toString
    // arrival order (event_id) deliberately disagrees with value order
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "a", 5.00),
      (2L, ts("2024-03-01 11:00:00"), 1L, "a", 9.00),
      (3L, ts("2024-03-01 12:00:00"), 1L, "a", 1.00),
      (4L, ts("2024-03-01 13:00:00"), 1L, "a", 7.00),
      (5L, ts("2024-03-02 09:00:00"), 1L, "a", 2.00),
      (6L, ts("2024-03-01 09:00:00"), 2L, "b", 3.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Relational.q79OhlcResample(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    assert(out(("a", "2024-03-01")) ==
      ((500L, 900L, 100L, 700L, 4L, 2200L)))
    assert(out(("a", "2024-03-02")) == ((200L, 200L, 200L, 200L, 1L, 200L)))
    assert(out(("b", "2024-03-01")) == ((300L, 300L, 300L, 300L, 1L, 300L)))
  }

  test("gap islands: rn-difference runs, longest-island tie to earliest") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_isl").toString
    def day(d: Int) = ts(f"2024-01-${d + 1}%02d 12:00:00")
    // user 1: days {0,1,2, 5,6, 9}; user 2: {4..7}; user 3: {0,1, 3,4}
    // (two len-2 islands -> tie resolves to the earlier start)
    val rows =
      Seq(0, 1, 2, 5, 6, 9).map(d => (1L, d)) ++
        Seq(4, 5, 6, 7).map(d => (2L, d)) ++
        Seq(0, 1, 3, 4).map(d => (3L, d))
    rows.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, day(d), u, "e", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Relational.q80GapIslands(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((3L, 6L, 3L, 0L)))
    assert(out(2L) == ((1L, 4L, 4L, 4L)))
    assert(out(3L) == ((2L, 4L, 2L, 0L)))
  }

  test("jaccard: shared-customer permille on deduped purchase edges") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_jac").toString
    val t0 = ts("2024-01-01 00:00:00")
    // supplier 1 customers {1,2,3}; supplier 2 {2,3,4}; supplier 3 {9}
    // (cust 2, supp 1) appears via TWO orders -> dedup must collapse it
    val pairs = Seq((1L, 1L), (2L, 1L), (2L, 1L), (3L, 1L),
      (2L, 2L), (3L, 2L), (4L, 2L), (9L, 3L))
    pairs.zipWithIndex.map { case ((c, _), i) =>
      (i + 1L, c, "O", 1.0, t0, "x")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, su), i) => (i + 1L, su) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val out = Graph.jaccardCocustomer(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // |{2,3}| = 2, union = 3+3-2 = 4 -> 500 permille; supplier 3
    // shares no customer -> never produced by the wedge join
    assert(out.toSeq == Seq((1L, 2L, 2L, 4L, 500L)))
  }

  test("bucket checksum: only damaged buckets surface, with status") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ck").toString
    val t0 = ts("2024-01-01 00:00:00")
    // 997 -> +1-cent corruption (bucket 15); 2018 = 2*1009 -> dropped
    // (bucket 31); 5 and 70 -> clean buckets 0 and 1, must NOT appear
    Seq(5L, 70L, 997L, 2018L)
      .map(k => (k, 1L, "O", 10.00, t0, "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Cdc.bucketChecksum(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      (15L, 1L, 1L, -1L, "value_drift"),
      (31L, 1L, 0L, 1000L, "count_drift")))
  }

  test("ngram novelty: df==1 share in integer permille") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_nov").toString
    // doc 1/2 share the shingle "a b c"; doc 3 is under 3 words
    // (excluded); doc 4's repeated shingle collapses via distinct
    Seq((1L, "a b c d", "en"), (2L, "a b c x", "en"), (3L, "q r", "en"),
      (4L, "z z z z z", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      1L -> ((2L, 1L, 500L)),
      2L -> ((2L, 1L, 500L)),
      4L -> ((1L, 1L, 1000L))))
  }
}
