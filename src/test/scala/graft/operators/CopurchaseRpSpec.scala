package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Graph.copurchaseTopK]] and
  * [[Similarity.randomProjection]].
  */
class CopurchaseRpSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("copurchase: per-order pairs, count ranking, partkey tiebreak") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_cop").toString
    // order 1: {1,2,3}; order 2: {1,2} (2 listed twice — distinct
    // collapses it); order 3: {1,4}
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 2L),
      (3L, 1L), (3L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val out = Graph.copurchaseTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 1L, 2L, 2L), (1L, 2L, 3L, 1L), (1L, 3L, 4L, 1L)))
    assert(out.filter(_._1 == 2L).toSeq == Seq(
      (2L, 1L, 1L, 2L), (2L, 2L, 3L, 1L)))
    assert(out.filter(_._1 == 4L).toSeq == Seq((4L, 1L, 1L, 1L)))
  }

  test("random projection: derandomized signs on a unit basis vector") {
    import spark.implicits._
    import graft.functions.TextHashes
    val dir = graft.util.Dirs.scratch("graft_rp").toString
    val v = Array.fill(64)(0.0f); v(0) = 1.0f
    Seq((1L, v)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val r = Similarity.randomProjection(spark, dir).head()
    (0 until Similarity.RP_DIMS).foreach { j =>
      val parity = java.lang.Long.remainderUnsigned(
        TextHashes.mix64(j.toLong * 4294967296L), 2L)
      val expected = 1000L * (1L - 2L * parity)
      assert(r.getLong(1 + j) == expected, s"p$j")
    }
  }

  test("random projection preserves identical vectors exactly") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_rp2").toString
    val v = Array.tabulate(64)(i => (math.sin(i) * 2).toFloat)
    Seq((1L, v), (2L, v)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val rows = Similarity.randomProjection(spark, dir).collect()
    assert(rows.length == 2)
    (1 to Similarity.RP_DIMS).foreach { c =>
      assert(rows(0).getLong(c) == rows(1).getLong(c))
    }
  }
}
