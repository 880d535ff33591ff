package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture checks for [[Dedup.containmentPairs]]: containment
  * catches the quote-inclusion relation Jaccard dedup is blind to.
  */
class ContainmentSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("containment flags a quoted subset that Jaccard misses") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_containment").toString
    // doc 1: a short passage. doc 2: a long doc QUOTING doc 1 verbatim
    // inside much longer surrounding text. doc 3: unrelated.
    val quote = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, quote),
      (2L, s"$filler $quote ${(61 to 120).map(i => s"w$i").mkString(" ")}"),
      (3L, "entirely different words nothing shared here at all"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val pairs = Dedup.containmentPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 1 → 2: every interior bigram of the quote appears in doc 2; only
    // the quote's boundary bigrams (filler|alpha, zeta|w61 vs none in
    // doc 1) differ → containment well above the 800-permille gate
    assert(pairs.contains((1L, 2L)),
      s"quoted-subset pair missing: ${pairs.keySet}")
    assert(pairs((1L, 2L)) >= 800)
    // 2 → 1 must NOT qualify: doc 2's shingles are mostly filler
    assert(!pairs.contains((2L, 1L)))
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))

    // and the SYMMETRIC near-dup operator is blind to this pair — the
    // union is filler-dominated, Jaccard ≈ |quote|/|doc2| << 0.8
    val jacc = Dedup.ngramJaccardPairs(spark, dir).collect()
    assert(jacc.isEmpty, "Jaccard should not flag a quote inclusion")
  }

  test("sf0.001: containment superset of symmetric pairs, exact permille") {
    val sf = "/root/testdata/sf0.001"
    val cont = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacc = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // J(A,B) ≥ 0.8 ⇒ C(A→B) ≥ J ≥ 0.8 and C(B→A) ≥ 0.8: both ordered
    // directions of every Jaccard pair must appear
    jacc.foreach { case (a, b) =>
      assert(cont.contains((a, b)) && cont.contains((b, a)),
        s"jaccard pair ($a,$b) missing from containment output")
    }
  }
}
