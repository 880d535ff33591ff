package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Relational.q70DecimalAgg]] (exact decimal
  * money path) and [[Relational.q71ComplexTypes]] (collection
  * functions).
  */
class DecimalComplexSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("decimal agg: sums and tax are exact, no float drift") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dec").toString
    val t0 = new Timestamp(1700000000000L)
    // 0.1 + 0.2 is the classic float trap: decimal path must yield
    // exactly 0.30, and 6% of 0.25 is exactly 0.0150 at 4dp
    Seq((1L, 1L, "O", 0.10, t0, "x"), (2L, 1L, "O", 0.20, t0, "x"),
      (3L, 1L, "F", 0.25, t0, "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q70DecimalAgg(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 0.10 + 0.20 = exactly 30 cents (would be 0.30000000000000004 in
    // float); 6% of 0.25 = exactly 150 at the e4 scale. The BIGINT
    // wire is a lossless scale-up of the internal decimals.
    assert(out("O") == ((2L, 30L, 180L, 20L)))
    assert(out("F") == ((1L, 25L, 150L, 25L)))
    // and the internal arithmetic really is decimal: the pre-scaling
    // aggregate columns are DecimalType on the plan
    import org.apache.spark.sql.types.DecimalType
    val fields = graft.operators.Relational
      .q70DecimalAggInternal(spark, dir).schema.fields
    assert(fields.count(_.dataType.isInstanceOf[DecimalType]) == 3)
  }

  test("decimal div: native decimal division obeys the half-up pin") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_div").toString
    val t0 = new Timestamp(1700000000000L)
    // "T" is an exact 4dp tie: total 0.01 over 8 orders = 0.00125,
    // which HALF_UP rounds to 0.0013 → avg_e4 = 13 (the integer pin
    // (200+8) div 16 = 13 must agree); "O" is the plain case.
    val rows = Seq((1L, 1L, "O", 0.10), (2L, 1L, "O", 0.20)) ++
      (3L to 9L).map(k => (k, 1L, "T", 0.00)) :+ ((10L, 1L, "T", 0.01))
    rows.map { case (k, c, st, p) => (k, c, st, p, t0, "x") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q75DecimalDiv(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("O") == ((2L, 30L, 1500L)))
    assert(out("T") == ((8L, 1L, 13L)))
  }

  test("complex types: sorted csv, membership, map round-trip") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_cx").toString
    Seq((1L, 5L, 1.00), (1L, 1L, 2.00), (1L, 5L, 3.00), (2L, 9L, 0.50))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.q71ComplexTypes(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2),
        r.getBoolean(3), r.getLong(4))).toMap
    assert(out(1L) == ((2L, "1,5", true, 600L)))
    assert(out(2L) == ((1L, "9", false, 50L)))
  }
}
