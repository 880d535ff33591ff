package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Quality.profile]] (null/distinct accounting)
  * and [[Quality.referential]] (orphan detection on a broken edge).
  */
class QualitySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("profile: nulls excluded from nonnull and distinct counts") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dq1").toString
    val t0 = new Timestamp(1700000000000L)
    Seq(
      (1L, Some(10L), Some("O"), Some(1.5), Some(t0), Some("1-URGENT")),
      (2L, Some(10L), None, Some(1.5), Some(t0), Some("1-URGENT")),
      (3L, None, Some("F"), None, None, None))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Quality.profile(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("o_orderkey") == (3L, 3L, 3L, 1000L))
    assert(out("o_custkey") == (3L, 2L, 1L, 666L))
    assert(out("o_orderstatus") == (3L, 2L, 2L, 666L))
    assert(out("o_totalprice") == (3L, 2L, 1L, 666L))
    assert(out("o_orderdate") == (3L, 2L, 1L, 666L))
    assert(out("o_orderpriority") == (3L, 2L, 1L, 666L))
  }

  test("referential: orphans counted on every broken edge") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dq2").toString
    def w(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    // lineitem: 4 rows; orderkey 99 and partkey 77 are orphans
    w("lineitem", Seq(
      (1L, 1L, 1L), (1L, 2L, 1L), (2L, 77L, 2L), (99L, 1L, 2L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey"))
    w("orders", Seq((1L, 1L), (2L, 1L))
      .toDF("o_orderkey", "o_custkey"))
    w("part", Seq((1L, "a"), (2L, "b")).toDF("p_partkey", "p_name"))
    w("supplier", Seq((1, 0), (2, 0)).toDF("s_suppkey", "s_nationkey"))
    w("customer", Seq((1L, 0)).toDF("c_custkey", "c_nationkey"))
    w("nation", Seq((0, 0)).toDF("n_nationkey", "n_regionkey"))
    w("region", Seq(Tuple1(0)).toDF("r_regionkey"))
    val out = Quality.referential(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("lineitem->orders") == (4L, 1L, 750L))
    assert(out("lineitem->part") == (4L, 1L, 750L))
    assert(out("lineitem->supplier") == (4L, 0L, 1000L))
    assert(out("orders->customer") == (2L, 0L, 1000L))
    assert(out("customer->nation") == (1L, 0L, 1000L))
    assert(out("supplier->nation") == (2L, 0L, 1000L))
    assert(out("nation->region") == (1L, 0L, 1000L))
    assert(out.size == 7)
  }
}
