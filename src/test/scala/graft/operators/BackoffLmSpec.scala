package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validates [[TextAnalysis.perplexityBackoff]] against a plain-Scala
  * replay of the whole contract (reference-half split, bigram model,
  * stupid-backoff branch, OOV floor, integer bit-length surprisal) on
  * the real corpus, plus a planted fixture that forces BOTH fallback
  * paths (unseen bigram; word absent from the reference half). */
class BackoffLmSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def bitLog(x: Long): Long =
    java.lang.Long.toBinaryString(math.max(x, 0L)).length.toLong - 1L

  /** First-principles replay over raw (doc_id, text) rows. */
  private def replay(rows: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long)] = {
    val inRef = (id: Long) => graft.functions.TextHashes
      .mix64Bucket(id, TextAnalysis.BACKOFF_REF_BUCKETS) == 0L
    val ref = rows.filter(r => inRef(r._1))
    val ucnt = ref.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val total = ucnt.values.sum
    val bcnt = ref.flatMap { case (_, t) =>
      t.split(" ", -1).sliding(2).filter(_.length == 2).map(a => (a(0), a(1)))
    }.groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    val ctx = bcnt.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    rows.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val first = bitLog(total / math.max(ucnt.getOrElse(ws(0), 0L), 1L))
      val bis = ws.sliding(2).filter(_.length == 2)
        .map(a => (a(0), a(1))).toSeq
      val scored = bis.map { b =>
        bcnt.get(b) match {
          case Some(c12) => (bitLog(ctx(b._1) / c12), false)
          case None => (bitLog(
            (TextAnalysis.BACKOFF_ALPHA_DEN * total) /
              (TextAnalysis.BACKOFF_ALPHA_NUM *
                math.max(ucnt.getOrElse(b._2, 0L), 1L))), true)
        }
      }
      val all = first +: scored.map(_._1)
      id -> (all.size.toLong, all.sum, all.max,
        scored.count(_._2).toLong)
    }.toMap
  }

  private def run(d: String): Map[Long, (Long, Long, Long, Long)] =
    TextAnalysis.perplexityBackoff(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("corpus scores match the first-principles replay") {
    import spark.implicits._
    val rows = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val got = run(dir)
    val exp = replay(rows)
    assert(rows.nonEmpty && got.size == rows.size)
    rows.foreach { case (id, _) =>
      assert(got(id) == exp(id), s"doc $id: got ${got(id)}, exp ${exp(id)}")
    }
  }

  test("planted fixture exercises the backoff branch and the OOV floor") {
    import spark.implicits._
    // pick doc ids on each side of the deterministic split
    val pool = (1L to 50L)
    val inRef = (id: Long) => graft.functions.TextHashes
      .mix64Bucket(id, TextAnalysis.BACKOFF_REF_BUCKETS) == 0L
    val refId = pool.find(inRef).get
    val outIds = pool.filterNot(inRef).take(2)
    // reference doc defines the model: bigrams (a,b), (b,a), (a,b)
    // scored doc 1: unseen bigram (b,b) -> backoff via c(b)
    // scored doc 2: OOV word z -> backoff with the max(c,1) floor,
    //               and an OOV FIRST token
    val rows = Seq(
      (refId, "a b a b"),
      (outIds(0), "a b b"),
      (outIds(1), "z a z"))
    val tmp = graft.util.Dirs.scratch("backoff_planted").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = run(tmp)
    val exp = replay(rows)
    rows.foreach { case (id, _) =>
      assert(got(id) == exp(id), s"doc $id: got ${got(id)}, exp ${exp(id)}")
    }
    // non-vacuity: the fixture really took both fallback paths
    assert(got(outIds(0))._4 >= 1L, "unseen-bigram backoff never fired")
    assert(got(outIds(1))._4 >= 1L, "OOV backoff never fired")
    // hand-checked numbers for the model half: N=4, c(a)=c(b)=2,
    // c12(a,b)=2, c12(b,a)=1, c1(a)=2, c1(b)=1
    // doc outIds(0) "a b b": first a -> log2(4/2)=1; (a,b) seen ->
    // log2(2/2)=0; (b,b) backoff -> log2(5*4 div (2*2)) = log2(5)=2
    assert(got(outIds(0)) == ((3L, 3L, 2L, 1L)), got(outIds(0)).toString)
    // doc outIds(1) "z a z": first z OOV -> log2(4/1)=2;
    // (z,a) backoff -> log2(20 div 4)=2; (a,z) backoff with OOV floor
    // -> log2(20 div 2)=3
    assert(got(outIds(1)) == ((3L, 7L, 3L, 2L)), got(outIds(1)).toString)
  }
}
