package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHashes

/** Validates the TRAINED hash classifier (round 19 — the weights are
  * learned in-engine by iterative parameter mixing, no seeded
  * stand-in left) four ways:
  *  - plain-Scala replay of the WHOLE TRAINING (teacher labels,
  *    train-half split, shard hash, within-shard sequential passes,
  *    truncating-div mixing) on the real corpus — exact weight-table
  *    equality with `text_hash_classifier_train`;
  *  - plain-Scala replay of the scoring path on the real corpus,
  *    row for row, against the learned table;
  *  - a PLANTED labeled corpus where training on the train half
  *    separates the HELD-OUT half with margin — the generalization
  *    check: held-out docs recombine a SHARED vocabulary into unseen
  *    bigram combinations, so zero-weight memorization cannot pass;
  *  - plan pins: scoring stays one pruned scan, no row explosion,
  *    no shuffle before the output sort.
  */
class HashClassifierSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"
  private val D = TextAnalysis.HASH_CLS_DIM

  private def tokens(text: String): Array[String] =
    text.split(" ", -1).filter(_.nonEmpty)

  private def featCounts(text: String): Map[Int, Long] = {
    val toks = tokens(text)
    val feats = toks.toSeq ++
      toks.toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    feats.groupBy(f => (TextHashes.hash64(f, 0L) & (D - 1)).toInt)
      .map { case (b, fs) => b -> fs.size.toLong }
  }

  private val STOP = Set("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as")

  private def teacherY(text: String): Long = {
    val toks = tokens(text)
    val ns = toks.count(STOP)
    if (ns * 1000L >= TextAnalysis.HASH_CLS_STOP_PERMILLE * toks.length)
      1L
    else -1L
  }

  private def inTrainHalf(id: Long): Boolean =
    java.lang.Long.remainderUnsigned(TextHashes.mix64(id), 2L) == 0L

  private def shardOf(id: Long): Long = java.lang.Long.remainderUnsigned(
    TextHashes.mix64(id ^ TextAnalysis.HASH_CLS_SHARD_SEED),
    TextAnalysis.HASH_CLS_SHARDS.toLong)

  /** First-principles IPM replay — the independent twin of
    * TextAnalysis.trainedClsWeights. */
  private def trainReplay(rows: Seq[(Long, String)]): Array[Long] = {
    val tr = rows.filter(r => inTrainHalf(r._1)).sortBy(_._1)
    val shards = tr.groupBy(r => shardOf(r._1)).toSeq.sortBy(_._1)
    var w = Array.fill(D)(0L)
    (1 to TextAnalysis.HASH_CLS_EPOCHS).foreach { _ =>
      val finals = shards.map { case (_, docs) =>
        val wv = w.clone()
        docs.foreach { case (_, text) =>
          val c = featCounts(text)
          val y = teacherY(text)
          val dot = c.iterator.map { case (b, v) => v * wv(b) }.sum
          if (y * dot <= 0L)
            c.foreach { case (b, v) =>
              wv(b) += y * v * TextAnalysis.HASH_CLS_GAIN
            }
        }
        wv
      }
      if (finals.nonEmpty)
        w = Array.tabulate(D)(j => finals.map(_(j)).sum / finals.length)
    }
    w
  }

  private def scoreOf(text: String, w: Array[Long]): Long =
    featCounts(text).iterator.map { case (b, v) => v * w(b) }.sum

  private def corpusRows: Seq[(Long, String)] = {
    import spark.implicits._
    graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
  }

  test("learned weight table matches the first-principles IPM replay") {
    TextAnalysis.clearClsMemo()
    val got = TextAnalysis.hashClassifierTrain(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = trainReplay(corpusRows)
    val exp = w.zipWithIndex
      .collect { case (v, b) if v != 0L => b.toLong -> v }.toMap
    assert(got == exp,
      s"weights diverge: ${got.size} vs ${exp.size} nonzero; sample " +
        s"diff=${(got.toSet diff exp.toSet).take(3)}")
    // the model genuinely learned: it must agree with the teacher on
    // a solid majority of the HELD-OUT half (measured 83% at sf0.001;
    // ≥75% asserts learning happened without pinning host noise)
    val rows = corpusRows
    val ho = rows.filter(r => !inTrainHalf(r._1))
    val okHo = ho.count { case (_, t) =>
      (scoreOf(t, w) < 0L) == (teacherY(t) == -1L)
    }
    assert(ho.nonEmpty && okHo * 100 >= ho.size * 75,
      s"holdout teacher-agreement too weak: $okHo/${ho.size}")
  }

  test("scores and routing match a plain-Scala replay on the corpus") {
    TextAnalysis.clearClsMemo()
    val got = TextAnalysis.hashClassifier(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val rows = corpusRows
    val w = trainReplay(rows)
    assert(rows.nonEmpty && got.size == rows.length)
    rows.foreach { case (id, text) =>
      val toks = tokens(text)
      val nf = (toks.length + math.max(toks.length - 1, 0)).toLong
      val score = scoreOf(text, w)
      val low = score < TextAnalysis.HASH_CLS_THRESHOLD
      assert(got(id) == ((nf, score, low)),
        s"doc $id: got ${got(id)}, expected ($nf, $score, $low)")
    }
    // non-vacuity: the corpus itself routes BOTH ways
    assert(got.values.exists(_._3) && got.values.exists(!_._3),
      "corpus routed to a single class — separation untested")
  }

  test("planted labeled corpus: training separates the held-out half with margin") {
    import spark.implicits._
    // shared 30-word filler vocabulary recombined per doc: clean docs
    // are stopword-rich, low docs pure filler. Held-out docs reuse
    // TRAIN vocabulary in UNSEEN combinations (ids interleave through
    // the mix64 split), so passing requires learned per-word weights,
    // not memorized documents.
    def filler(i: Int, k: Int) = s"f${(i * 7 + k * 3) % 30}"
    val planted: Seq[(Long, String)] = (0 until 40).flatMap { i =>
      val clean = (i.toLong * 2,
        s"the of to in ${filler(i, 0)} ${filler(i, 1)}")
      val low = (i.toLong * 2 + 1,
        (0 until 6).map(filler(i, _)).mkString(" "))
      Seq(clean, low)
    }
    val tmp = graft.util.Dirs.scratch("hash_cls_planted").toString
    planted.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    TextAnalysis.clearClsMemo()
    val got = TextAnalysis.hashClassifier(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // engine agrees with the replay everywhere (training + scoring)
    val w = trainReplay(planted)
    planted.foreach { case (id, text) =>
      assert(got(id) == ((scoreOf(text, w),
        scoreOf(text, w) < 0L)), s"doc $id diverges from replay")
    }
    val holdout = planted.filter(p => !inTrainHalf(p._1))
    val trainN = planted.size - holdout.size
    assert(holdout.nonEmpty && trainN > 0, "degenerate split")
    // every held-out doc routes to its planted side, STRICTLY off
    // the threshold (the margin): clean (even ids) positive, low
    // (odd ids) negative
    holdout.foreach { case (id, _) =>
      val (score, isLow) = got(id)
      if (id % 2 == 0)
        assert(score > 0L && !isLow, s"held-out clean doc $id: $score")
      else
        assert(score < 0L && isLow, s"held-out low doc $id: $score")
    }
    val margin = holdout.map(p => math.abs(got(p._1)._1)).min
    assert(margin >= 16L,
      s"held-out margin collapsed to $margin — separation is fragile")
  }

  test("plan: one pruned scan, no row explosion, no pre-sort shuffle") {
    val df = TextAnalysis.hashClassifier(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan not pruned to (doc_id, text)")
    assert(!plan.contains("Generate"), "features exploded into rows")
    // the only exchange is the output sort's range partitioning
    val exch = "Exchange [a-z]+".r.findAllIn(plan).toSeq
    assert(exch.forall(_.contains("rangepartitioning")),
      s"unexpected shuffle: $exch")
  }
}
