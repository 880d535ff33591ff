package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the ranking-window suite
  * ([[Relational.q53WindowFuncs]]) and the multiset set-ops
  * ([[Relational.q54MultisetOps]]).
  */
class WindowSetOpsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def day(d: String) = Timestamp.valueOf(s"$d 00:00:00")

  private def write(
      rows: Seq[(Long, Long, String, Double, Timestamp, String)]): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_wso").toString
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("q53: ntile/percent_rank/cume_dist/lag over a planted history") {
    // customer 1: four orders on distinct dates; customer 2: a date TIE
    // broken by o_orderkey (ntile is row-positional, so the tiebreak is
    // what makes it deterministic).
    val dir = write(Seq(
      (1L, 1L, "F", 10.0, day("1997-01-01"), "1-URGENT"),
      (2L, 1L, "F", 20.0, day("1997-01-03"), "1-URGENT"),
      (3L, 1L, "F", 30.0, day("1997-01-10"), "1-URGENT"),
      (4L, 1L, "F", 40.0, day("1997-02-01"), "1-URGENT"),
      (6L, 2L, "F", 50.0, day("1997-05-05"), "1-URGENT"),
      (5L, 2L, "F", 60.0, day("1997-05-05"), "1-URGENT")))
    val out = Relational.q53WindowFuncs(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1 else r.getInt(5))).toMap
    // customer 1: quartiles 1..4, pct_rank ppm 0, 1/3, 2/3, 1 of 1e6
    assert(out(1L) == ((1, 0L, 250000L, -1)))
    assert(out(2L) == ((2, 333333L, 500000L, 2)))
    assert(out(3L) == ((3, 666666L, 750000L, 7)))
    assert(out(4L) == ((4, 1000000L, 1000000L, 22)))
    // customer 2: same date — orderkey 5 ranks before 6; both rows are
    // date-ties so percent_rank/cume_dist see one rank group
    assert(out(5L)._1 == 1 && out(6L)._1 == 2)
    assert(out(5L)._4 == -1 && out(6L)._4 == 0) // lag crosses the tie
  }

  test("q54: intersect-all keeps min multiplicity, except-all the surplus") {
    // cust 1: 3 orders in H1'97, 1 in H2'97 -> intersect mult 1, except 2
    // cust 2: H2 only -> appears in neither
    // cust 3: 2 in each half -> intersect mult 2, no except row
    val dir = write(Seq(
      (1L, 1L, "F", 1.0, day("1997-01-05"), "x"),
      (2L, 1L, "F", 1.0, day("1997-02-05"), "x"),
      (3L, 1L, "F", 1.0, day("1997-03-05"), "x"),
      (4L, 1L, "F", 1.0, day("1997-08-05"), "x"),
      (5L, 2L, "F", 1.0, day("1997-09-05"), "x"),
      (6L, 3L, "F", 1.0, day("1997-01-15"), "x"),
      (7L, 3L, "F", 1.0, day("1997-02-15"), "x"),
      (8L, 3L, "F", 1.0, day("1997-07-15"), "x"),
      (9L, 3L, "F", 1.0, day("1997-08-15"), "x"),
      (10L, 9L, "F", 1.0, day("1996-06-15"), "x"))) // outside both halves
    val out = Relational.q54MultisetOps(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("intersect_all", 1L) -> 1L,
      ("except_all", 1L) -> 2L,
      ("intersect_all", 3L) -> 2L))
  }
}
