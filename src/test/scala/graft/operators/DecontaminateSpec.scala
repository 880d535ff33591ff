package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHashes

/** Planted-contamination checks for [[Decontaminate]]: a training doc
  * sharing an exact 13-word run with a benchmark doc is flagged with
  * the right hit count; docs sharing only shorter runs are not; and
  * the plan broadcasts the benchmark gram set (never the corpus).
  */
class DecontaminateSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def gramHashes(text: String): Array[Long] = {
    val words = text.split(' ')
    (0 to words.length - Decontaminate.NGRAM).map { i =>
      TextHashes.hash64(
        words.slice(i, i + Decontaminate.NGRAM).mkString(" "), 0L)
    }.distinct.sorted.toArray
  }

  private def frame(rows: (Long, String)*) = {
    import spark.implicits._
    rows.map { case (id, text) => (id, gramHashes(text)) }
      .toDF("doc_id", "grams")
  }

  private val benchText =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa"

  test("doc sharing a 13-word run with the benchmark is flagged") {
    val bench = frame(1000L -> benchText)
    // doc 1: contains the bench's first 13 words verbatim inside other
    // text -> exactly one shared 13-gram (the copied run is 13 words)
    val contaminated = "zz yy " +
      benchText.split(' ').take(13).mkString(" ") + " xx ww"
    // doc 2: shares only a 12-word run -> NOT contaminated at n=13
    val nearMiss = "zz yy " +
      benchText.split(' ').take(12).mkString(" ") + " xx ww"
    val out = Decontaminate
      .decontaminateAgainst(frame(1L -> contaminated, 2L -> nearMiss), bench)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val row = out.head
    assert(row.getLong(2) == 1L, s"n_hits=${row.getLong(2)}")
    assert(row.getLong(1) == gramHashes(contaminated).length.toLong)
  }

  test("a longer copied run yields one hit per sliding 13-gram") {
    val bench = frame(1000L -> benchText)
    // all 16 bench words copied -> 16-13+1 = 4 shared 13-grams
    val doc = "aa bb " + benchText + " cc dd"
    val out = Decontaminate
      .decontaminateAgainst(frame(1L -> doc), bench).collect()
    assert(out.length == 1 && out.head.getLong(2) == 4L,
      out.mkString(";"))
  }

  test("plan broadcasts the benchmark gram set, not the corpus") {
    val plan = Decontaminate
      .decontaminate(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the corpus side must reach the join as a streamed (non-broadcast)
    // child: exactly one broadcast exchange in the plan TREE (formatted
    // mode repeats each node in the details section — match the tree
    // form "BroadcastExchange (n)" only)
    val exchanges =
      raw"BroadcastExchange \(\d+\)".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges broadcast exchanges\n${plan.take(3000)}")
  }

  test("fixture query is non-trivial at sf0.001 or returns cleanly") {
    // sf0.001 has ~50 docs; the 10% benchmark may or may not overlap.
    // The contract check: runs, correct schema, no negative counts.
    val out = Decontaminate.decontaminate(spark, "/root/testdata/sf0.001")
    assert(out.columns.toSeq == Seq("doc_id", "n_grams", "n_hits"))
    out.collect().foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
    }
  }
}
