package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for [[Retrieval.bm25TopK]] and [[Retrieval.chunkOverlap]]. */
class RetrievalSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def plantedDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ret").toString
    rows.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("bm25: doc with more query-term hits outranks; scores replay exactly") {
    // q1 = (spark, join, window). d1 has all three, d2 one, d3 none.
    val dir = plantedDocs(Seq(
      (1L, "spark join window filter"),
      (2L, "spark table scan filter"),
      (3L, "agg sort limit merge")))
    val got = Retrieval.bm25TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val q1 = got.filter(_._1 == 1L)
    assert(q1.map(_._3).toSeq == Seq(1L, 2L)) // d3 has no hit → absent
    // exact integer replay for (q1, d1): N=3, every doc dl=4, avgdl=4
    // → norm_x1000 = 250 + 750·4/4 = 1000; term tf=1, df for
    // spark=2, join=1, window=1
    def contrib(df: Long): Long = {
      val idf = ((3L - df) * Retrieval.IDF_SCALE) / (df + 1) + 1
      val k1 = Retrieval.K1_X10
      (idf * 1L * (10 + k1) * 100) / (1L * 1000 + (k1 * 1000) / 10)
    }
    val expect = contrib(2) + contrib(1) + contrib(1)
    assert(q1.head._4 == expect)
    // ranking property: more matched terms wins here (d1 > d2)
    assert(q1(0)._4 > q1(1)._4)
  }

  test("bm25: length normalization — same tf, shorter doc scores higher") {
    // both docs contain 'hash table scan' once; d2 is padded longer
    val dir = plantedDocs(Seq(
      (1L, "hash table scan"),
      (2L, "hash table scan pad pad pad pad pad pad pad pad pad")))
    val got = Retrieval.bm25TopK(spark, dir).collect()
      .filter(_.getLong(0) == 3L) // q3 = (hash, table, scan)
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0)._2 > got(1)._2)
  }

  test("chunking: boundaries, overlap, and short-doc passthrough") {
    val c = Retrieval.CHUNK_CHARS // 200
    val st = Retrieval.CHUNK_STRIDE // 150
    val dir = plantedDocs(Seq(
      (1L, "a" * 10), // < chunk: single chunk, verbatim
      (2L, "b" * c), // == chunk: exactly one... starts 0 and 150
      (3L, ("x" * st) + ("y" * st)))) // 300 chars → chunks at 0, 150
    val got = Retrieval.chunkOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    assert(got(1L).map(_._4).toSeq == Seq("a" * 10))
    // 200-char doc: starts 0 (full 200) and 150 (50-char tail)
    assert(got(2L).map(x => (x._3, x._4.length)).toSeq ==
      Seq((0L, c), (150L, c - st)))
    // overlap: chunk0's last 50 chars == chunk1's first 50 chars
    val d3 = got(3L).sortBy(_._2).map(_._4)
    assert(d3(0).takeRight(c - st) == d3(1).take(c - st))
    // reconstruction: stride-prefixes concatenated + last chunk = doc
    assert(d3.init.map(_.take(st)).mkString + d3.last ==
      ("x" * st) + ("y" * st))
  }

  test("rag index: gate drops short tails, dedup keeps one copy of shared chunks") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_rag").toString
    val shared = "s" * 200 // one full chunk, identical across two docs
    Seq((1L, shared, "en"), (2L, shared, "en"),
        (3L, "t" * 10, "en"), // below the 80-char gate entirely
        (4L, "u" * 200 + "v" * 200, "de")) // chunks at 0,150,300: 200/200/100
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = Retrieval.ragIndex(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // en: docs 1,2 each chunk at 0 (200 chars, kept) and 150 (50-char
    // tail, gated); doc 3 fully gated → 2 candidates, 1 kept after
    // dedup (the chunks are byte-identical)
    assert(got("en") == (2L, 1L, 200L))
    // de: starts 0,150,300 → lens 200,200,100; all pass the gate; the
    // 150-chunk (u50+v150) differs from both others → 3 kept
    assert(got("de") == (3L, 3L, 500L))
  }

  test("bm25 on testdata: k bounded, ranks contiguous, scores positive") {
    val rows = Retrieval.bm25TopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Retrieval.BM25_QUERIES.map(_._1).toSet)
    byQ.values.foreach { rs =>
      assert(rs.length <= Retrieval.BM25_K)
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq)
      assert(rs.forall(_.getLong(3) > 0))
      // scores non-increasing in rank
      val byRank = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }
}
