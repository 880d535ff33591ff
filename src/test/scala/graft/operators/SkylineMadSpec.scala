package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for [[Relational.q59Skyline]] and [[Relational.q60MadRobust]]. */
class SkylineMadSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("skyline: planted frontier with dominated, tied, and duplicate points") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_sky").toString
    // (partkey, price, size):
    //  1: (1.00, 10) frontier
    //  2: (2.00, 20) frontier (bigger, pricier)
    //  3: (2.00,  5) dominated by 1 (cheaper, bigger)
    //  4: (1.50, 10) dominated by 1 (same size, pricier)
    //  5: (3.00, 20) dominated by 2 (same size, pricier)
    //  6: (2.00, 20) duplicate of 2 — ties don't dominate: BOTH stay
    //  7: (0.50,  1) frontier (cheapest of all)
    Seq((1L, 1.00, 10), (2L, 2.00, 20), (3L, 2.00, 5), (4L, 1.50, 10),
      (5L, 3.00, 20), (6L, 2.00, 20), (7L, 0.50, 1))
      .toDF("p_partkey", "p_retailprice", "p_size")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    val got = Relational.q59Skyline(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 100L, 10L), (2L, 200L, 20L),
      (6L, 200L, 20L), (7L, 50L, 1L)))
  }

  test("skyline on testdata: frontier is a strict antichain covering the extremes") {
    import spark.implicits._
    val got = Relational.q59Skyline(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // pairwise non-dominance
    for (a <- got; b <- got if a != b)
      assert(!(b._1 <= a._1 && b._2 >= a._2 &&
        (b._1 < a._1 || b._2 > a._2)), s"$b dominates $a")
    // the single cheapest price and the single largest size both have
    // a representative on the frontier
    val pts = graft.sources.Tables(spark, sf, "part")
      .select(org.apache.spark.sql.functions
          .expr("CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)")
          .as("pc"),
        $"p_size".cast("long").as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val minPrice = pts.map(_._1).min
    val maxSize = pts.map(_._2).max
    assert(got.exists(_._1 == minPrice))
    assert(got.exists(_._2 == maxSize))
  }

  test("MAD: planted odd and even counts replay the lower-median rule") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_mad").toString
    // values (cents): 100, 200, 300, 1000, 10000 → median 300;
    // deviations: 200, 100, 0, 700, 9700 → MAD 200 (lower median of
    // sorted 0,100,200,700,9700 is the rank-2 element = 200)
    Seq(1.00, 2.00, 3.00, 10.00, 100.00).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }
      .toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val r = Relational.q60MadRobust(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (5L, 300L, 200L))
  }

  test("MAD on testdata: robust to a planted outlier, unlike the mean") {
    val base = Relational.q60MadRobust(spark, sf).head()
    // MAD bounds: 0 ≤ mad ≤ max deviation, and for this mid-heavy
    // distribution the median sits inside the value range
    val mm = graft.sources.Tables(spark, sf, "orders")
      .agg(org.apache.spark.sql.functions
          .expr("CAST(floor(min(o_totalprice) * 100.0 + 0.5) AS BIGINT)"),
        org.apache.spark.sql.functions
          .expr("CAST(floor(max(o_totalprice) * 100.0 + 0.5) AS BIGINT)"))
      .head()
    assert(base.getLong(1) >= mm.getLong(0) &&
      base.getLong(1) <= mm.getLong(1))
    assert(base.getLong(2) > 0 &&
      base.getLong(2) <= mm.getLong(1) - mm.getLong(0))
  }
}
