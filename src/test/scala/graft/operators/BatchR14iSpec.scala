package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-I operators: Benford
  * first-digit audit and IVF cell balance.
  */
class BatchR14iSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("benford: cents leading digit, permille deviation per digit") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_bf").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // cents: 100, 150, 25 -> leading digits 1, 1, 2; one 9.00 -> 900
    Seq(1.00, 1.50, 0.25, 9.00).zipWithIndex
      .map { case (p, i) => (i + 1L, 1L, "O", p, t0, "x") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Quality.benfordAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == (1L to 9L).toSet) // all digits present
    assert(out(1L) == ((2L, 500L, 301L, 199L)))
    assert(out(2L) == ((1L, 250L, 176L, 74L)))
    assert(out(9L) == ((1L, 250L, 46L, 204L)))
    assert(out(3L) == ((0L, 0L, 125L, 125L)))
  }

  test("cell balance: counts per seeded cell, permille shares") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_cb").toString
    // 8 one-hot seeds (cells 0..7); 8 extra vectors all hugging seed 0
    def e(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(i) = 1.0f; v
    }
    val rows = (0 until 8).map(i => i.toLong -> e(i)) ++
      (0 until 8).map(j => (100L + j) -> e(0).map(_ * 0.9f))
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.cellBalance(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // cell 0 holds its seed + the 8 huggers = 9 of 16 -> 562 permille,
    // 4500 ppm vs 1000 balanced; the other cells hold 1 each
    assert(out(0L) == ((9L, 562L, 4496L)))
    (1L to 7L).foreach(c => assert(out(c) == ((1L, 62L, 496L))))
  }
}
