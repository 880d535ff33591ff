package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Validates [[Similarity.matryoshkaOverlap]] against a plain-Scala
  * brute-force replay: full-dim and prefix-truncated rankings with the
  * identical sequential-fold cosine and (cos DESC, id) tie-break, then
  * the overlap@5 and top-1 columns — independent of the TopK
  * aggregator and join plumbing the operator uses.
  */
class MatryoshkaSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSpark.session

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("matryoshka overlap matches a plain-Scala brute-force replay") {
    import spark.implicits._
    val emb = graft.sources.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def topk(dim: Int): Map[Long, Seq[Long]] =
      emb.filter(_._1 < 10).map { case (q, qv0) =>
        val qv = qv0.take(dim)
        q -> emb.filter(_._1 != q)
          .map { case (n, nv) => (cos(qv, nv.take(dim)), n) }
          .sortBy { case (c, n) => (-c, n) }.take(5).map(_._2).toSeq
      }.toMap
    val full = topk(64)
    val trunc = topk(Similarity.MRL_DIM)
    val got = Similarity.matryoshkaOverlap(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == full.keySet)
    full.keySet.foreach { q =>
      val expect = (full(q).toSet.intersect(trunc(q).toSet).size.toLong,
        full(q).head, trunc(q).head)
      assert(got(q) == expect, s"query $q: got ${got(q)}, want $expect")
    }
    // the audit must be non-degenerate on this corpus: truncation to
    // a quarter of the dims should not preserve every ranking exactly
    assert(got.values.exists(_._1 < 5L),
      "suspicious: 16-dim truncation preserved every top-5 exactly")
  }
}
