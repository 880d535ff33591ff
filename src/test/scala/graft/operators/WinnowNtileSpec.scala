package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[TextAnalysis.winnowing]] (fingerprint
  * selection invariants + exact single-window cases) and
  * [[Relational.q67NtileRanks]] (partitioned ntile/rank/permille).
  */
class WinnowNtileSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_win").toString
    docs.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("winnowing: single-gram and single-window docs select exactly") {
    import graft.functions.TextHashes
    val d1 = "a b c d"                    // 1 gram
    val d2 = "a b c d e f g"              // 4 grams, ONE window
    val dir = writeDocs(Seq((1L, d1), (2L, d2), (3L, "too short")))
    val out = TextAnalysis.winnowing(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == (1L, 1L, TextHashes.hash64(d1, 0L)))
    // doc 2: the window min over the 4 gram hashes (rightmost ties)
    val grams2 = (0 to 3).map(i =>
      TextHashes.hash64(d2.split(' ').slice(i, i + 4).mkString(" "), 0L))
    assert(out(2L) == (4L, 1L, grams2.min))
    assert(!out.contains(3L)) // < 4 words: no grams
  }

  test("winnowing: density guarantee on the real corpus") {
    val rows = TextAnalysis.winnowing(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, sel) =>
      val nw = math.max(n - 3, 1)
      assert(sel >= 1 && sel <= nw)
      // a selected position covers at most w windows
      assert(sel >= (nw + 3) / 4, s"density violated: n=$n sel=$sel")
    }
  }

  test("q67: ntile quartiles, ranks, integer permille per nation") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_nt").toString
    // nation 0: five suppliers with distinct balances; nation 1: one
    (Seq((1, 0, 10.0), (2, 0, 20.0), (3, 0, 30.0), (4, 0, 40.0),
      (5, 0, 50.0), (6, 1, 99.0)))
      .toDF("s_suppkey", "s_nationkey", "s_acctbal")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val out = Relational.q67NtileRanks(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // ntile(4) of 5 rows: bucket sizes 2,1,1,1
    assert(out(1) == (0L, 1L, 1L, 0L))
    assert(out(2) == (0L, 1L, 2L, 250L))
    assert(out(3) == (0L, 2L, 3L, 500L))
    assert(out(4) == (0L, 3L, 4L, 750L))
    assert(out(5) == (0L, 4L, 5L, 1000L))
    assert(out(6) == (1L, 1L, 1L, 0L)) // singleton group → permille 0
  }
}
