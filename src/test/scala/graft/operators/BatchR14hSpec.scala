package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-H operators: bipartite
  * HITS and the multi-aggregate pivot.
  */
class BatchR14hSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("hits: authority concentrates on the supplier every hub buys from") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ht").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // suppliers: 1 is bought by customers {1,2,3}; 2 only by {1}
    val pairs = Seq((1L, 1L), (2L, 1L), (3L, 1L), (1L, 2L))
    pairs.zipWithIndex.map { case ((c, _), i) =>
      (i + 1L, c, "O", 1.0, t0, "x")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, su), i) => (i + 1L, su) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val out = Graph.hitsBipartite(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand replay: a0 = (1e6, 1e6); h1r = c1:2e6, c2:1e6, c3:1e6;
    // renorm by (2e6 div 1e6 + 1 = 3) -> h1 = (666666, 333333, 333333);
    // a2r: s1 = 666666+333333+333333 = 1333332, s2 = 666666;
    // renorm by (1333332 div 1e6 + 1 = 2) -> (666666, 333333);
    // round 2: h2r c1 = 999999, c2/c3 = 666666; renorm div 1 ->
    // unchanged... recompute: max 999999 div 1e6 + 1 = 1 -> same;
    // a2r: s1 = 999999+666666+666666 = 2333331, s2 = 999999;
    // renorm by (2333331 div 1e6 + 1 = 3) -> s1 777777, s2 333333
    assert(out == Map(1L -> 777777L, 2L -> 333333L))
  }

  test("pivot multi-agg: count and cents per status, absent cells 0") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_pm").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, "O", 1.00), (2L, "O", 2.50), (3L, "F", 4.00))
      .map { case (k, st, p) => (k, 1L, st, p, t0, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q86PivotMultiAgg(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      (("1-URGENT", 2L, 350L, 1L, 400L, 0L, 0L)))
  }
}
