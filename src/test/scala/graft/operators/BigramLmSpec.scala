package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[TextAnalysis.perplexityBigram]]: hand-computed surprisals on a
  * planted corpus, plus the discrimination property the filter exists
  * for (predictable text scores low, unique text high).
  */
class BigramLmSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def write(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_bg").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("hand-computed surprisal on a 2-doc corpus") {
    // corpus: "a b a b" and "a c". unigrams: a=3,b=2,c=1, total=6.
    // bigrams: (a,b)=2, (b,a)=1, (a,c)=1; contexts: a=3, b=1.
    val dir = write(Seq((1L, "a b a b"), (2L, "a c")))
    val out = TextAnalysis.perplexityBigram(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1: first 'a' = floor(log2(6/3)) = 1; (a,b) = floor(log2(3/2))
    // = 0; (b,a) = floor(log2(1/1)) = 0; (a,b) = 0 → sum 1, max 1
    assert(out(1L) == ((4L, 1L, 1L)))
    // doc 2: first 'a' = 1; (a,c) = floor(log2(3/1)) = 1 → sum 2, max 1
    assert(out(2L) == ((2L, 2L, 1L)))
  }

  test("repetitive text scores below unique text") {
    val dir = write(Seq(
      (1L, Seq.fill(20)("x y").mkString(" ")), // one bigram repeated
      (2L, ('a' to 'z').mkString(" "))))       // every bigram unique
    val out = TextAnalysis.perplexityBigram(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2).toDouble / r.getLong(1))
      .toMap
    assert(out(1L) < out(2L),
      s"mean surprisal: repetitive ${out(1L)} vs unique ${out(2L)}")
  }
}
