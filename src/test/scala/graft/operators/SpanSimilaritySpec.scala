package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted-corpus checks for [[Dedup.spanCrossdoc]] (cross-document
  * repeated 20-word spans) and [[Retrieval.docSimilarity]] (ranked
  * idf-weighted shared-shingle similarity).
  */
class SpanSimilaritySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def write(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_span").toString
    docs.map { case (id, tx) => (id, tx, "en", "src0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("spanCrossdoc: shared 20-word span marks both docs, others absent") {
    val span = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = write(Seq(
      (1L, span),                       // exactly the span: 1 gram
      (2L, "pre " + span),              // 21 words: 2 grams, 1 shared
      (3L, (1 to 25).map(i => s"z$i").mkString(" ")), // no overlap
      (4L, "short doc")))               // < 20 words: no grams
    val out = Dedup.spanCrossdoc(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (1L, 1L), 2L -> (2L, 1L)))
  }

  test("spanCrossdoc: identical docs share every span") {
    val text = (1 to 30).map(i => s"t$i").mkString(" ") // 11 grams
    val dir = write(Seq((1L, text), (2L, text)))
    val out = Dedup.spanCrossdoc(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (11L, 11L), 2L -> (11L, 11L)))
  }

  test("docSimilarity: shared-shingle ranking with nbr tiebreak") {
    // docs 1/2/4 share the shingle "a b c d e" (df=3); doc 3 disjoint.
    // N=4, bits(4 div 3)=1 → every shared shingle scores 1.
    val dir = write(Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e x"),
      (3L, "z y x2 w v u"),
      (4L, "a b c d e q")))
    val out = Retrieval.docSimilarity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 1L), (1L, 2L, 4L, 1L),   // tie → nbr_id asc
      (2L, 1L, 1L, 1L), (2L, 2L, 4L, 1L),
      (4L, 1L, 1L, 1L), (4L, 2L, 2L, 1L)))
  }

  test("docSimilarity: df=1 shingles prune, idf bits weight rare overlap higher") {
    // 8 docs: pair (1,2) shares one rare shingle (df=2 → bits(8 div 2)=3
    // → w2=9); docs 3..8 + 1 share a common shingle (df=7 →
    // bits(8 div 7)=1 → w2=1). Doc 1's top nbr must be 2 (9 > anything)
    val common = "c1 c2 c3 c4 c5"
    val rare = "r1 r2 r3 r4 r5"
    val dir = write(
      Seq((1L, s"$common $rare"), (2L, s"k0 $rare")) ++
        (3 to 8).map(i => (i.toLong, s"u$i $common")))
    val out = Retrieval.docSimilarity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.head == (1L, 1L, 2L, 9L))
    // doc 1 also pairs with each of 3..8 at dot 1; top-5 keeps 4 of them
    assert(doc1.length == 5 && doc1.tail.forall(_._4 == 1L))
    assert(doc1.tail.map(_._3).toSeq == Seq(3L, 4L, 5L, 6L))
    // doc 2's only neighbour is 1
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 1L, 9L)))
  }
}
