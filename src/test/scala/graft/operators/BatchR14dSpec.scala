package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-D operators: two-stage
  * rerank, boilerplate-prefix audit, quality-quota selection and the
  * OUTER generator surface.
  */
class BatchR14dSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("rerank: with corpus <= shortlist, output == exact brute force") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_rr").toString
    // 12 vectors (< RERANK_SHORTLIST + 1): stage 1 shortlists all
    // candidates, so stage 2 must reproduce the exact ranking
    val vecs = (0 until 12).map { i =>
      i.toLong -> Array.tabulate(4)(j => (((i * 5 + j * 7) % 13) - 6).toFloat)
    }
    vecs.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    val byId = vecs.toMap
    val expected = (for {
      q <- 0L until 10L
      (n, r) <- byId.keys.filter(_ != q).toSeq
        .map(j => (j, cos(byId(q), byId(j))))
        .sortBy { case (j, c) => (-c, j) }.take(5).map(_._1).zipWithIndex
    } yield (q, r + 1L, n)).toSet
    val out = Similarity.rerankTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == expected)
  }

  test("boilerplate prefix: top-2-word prefix share per source") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_bp").toString
    Seq(
      (1L, "hello world alpha beta", "en", "A"),
      (2L, "hello world gamma", "en", "A"),
      (3L, "bye now delta", "en", "A"),
      (4L, "hi", "en", "B")) // sub-2-word doc: prefix = whole text
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.boilerplatePrefix(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out("A") == ((3L, "hello world", 2L, 666L, true)))
    assert(out("B") == ((1L, "hi", 1L, 1000L, true)))
  }

  test("quality quota: permille quota cut line per source") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_qq").toString
    // src0 (even -> 400 permille of 5 docs = quota 2); scores by
    // stopword share: 500, 250, 250, 0, 0 -> threshold 250 at doc 2
    val src0 = Seq(
      (1L, "the a b b"), (2L, "the b b b"), (3L, "the c c c"),
      (4L, "b b b b"), (5L, "c c c c")).map { case (i, t) =>
      (i, t, "en", "src0")
    }
    // src1 (odd -> 200 permille of 5 = quota 1)
    val src1 = Seq(
      (6L, "the the the the"), (7L, "x x x x"), (8L, "y y y y"),
      (9L, "z z z z"), (10L, "w w w w")).map { case (i, t) =>
      (i, t, "en", "src1")
    }
    (src0 ++ src1).toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Curation.qualityQuota(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out("src0") == ((5L, 2L, 250L, 2L, 8L, 20L)))
    assert(out("src1") == ((5L, 1L, 1000L, 6L, 4L, 20L)))
  }

  test("explode outer: empty generator input survives as a null row") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_eo").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, "O", "1-URGENT"), (2L, "P", "3-MEDIUM"))
      .map { case (k, st, p) => (k, 1L, st, 1.0, t0, p) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q83ExplodeOuter(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) "<null>" else r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, "O", 0L, "1"), (1L, "O", 1L, "URGENT"),
      (2L, "P", -1L, "<null>")))
  }
}
