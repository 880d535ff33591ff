package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted-moment check for [[Similarity.dimEnergy]]. */
class DimEnergySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("dimEnergy: exact integer moments, variance surrogate, rank") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dim").toString
    Seq(
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(3.0f, 0.0f, -2.0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.dimEnergy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      // dim, n, sum_q, sumsq_q, mean_milli, var_milli2, energy_rank
      (0L, 2L, 4000L, 10000000L, 2000L, 1000000L, 2L),
      (1L, 2L, 0L, 0L, 0L, 0L, 3L),
      (2L, 2L, 0L, 8000000L, 0L, 4000000L, 1L)))
  }

  test("dimEnergy on testdata: 64 dims, deterministic") {
    val a = Similarity.dimEnergy(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    val b = Similarity.dimEnergy(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.length == 64)
    // ranks are a permutation of 1..64
    assert(a.map(_(6).asInstanceOf[Long]).sorted == (1L to 64L).toSeq)
  }
}
