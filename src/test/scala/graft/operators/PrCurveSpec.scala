package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHashes

/** Validates the classifier operating-point sweep
  * (`text_classifier_pr_curve`) three ways:
  *  - full plain-Scala replay on the real corpus — training (the
  *    HashClassifierSpec IPM twin), holdout scoring, the integer
  *    threshold grid, confusion counts, ppm ratios, and the
  *    smallest-threshold F1-argmax selection, row-for-row equal;
  *  - a PLANTED corpus where the curve's endpoints and monotonicity
  *    are forced: at the min-score threshold everything predicts
  *    clean (recall = 1e6, fn = 0), recall is non-increasing in the
  *    threshold, every row's confusion sums to the holdout count,
  *    and exactly one row carries `is_selected`;
  *  - plan pins: the sweep joins the bounded grid to the checkpointed
  *    scored holdout with a broadcast nested-loop (constant side),
  *    never a shuffle join, and nothing explodes feature rows.
  */
class PrCurveSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"
  private val D = TextAnalysis.HASH_CLS_DIM
  private val GRID = TextAnalysis.PR_GRID

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

  private def teacherClean(text: String): Boolean = {
    val toks = tokens(text)
    toks.count(STOP) * 1000L >=
      TextAnalysis.HASH_CLS_STOP_PERMILLE * toks.length
  }

  private def inTrainHalf(id: Long): Boolean =
    java.lang.Long.remainderUnsigned(TextHashes.mix64(id), 2L) == 0L

  private def shardOf(id: Long): Long = java.lang.Long.remainderUnsigned(
    TextHashes.mix64(id ^ TextAnalysis.HASH_CLS_SHARD_SEED),
    TextAnalysis.HASH_CLS_SHARDS.toLong)

  /** The HashClassifierSpec first-principles IPM twin, verbatim. */
  private def trainReplay(rows: Seq[(Long, String)]): Array[Long] = {
    val tr = rows.filter(r => inTrainHalf(r._1)).sortBy(_._1)
    val shards = tr.groupBy(r => shardOf(r._1)).toSeq.sortBy(_._1)
    var w = Array.fill(D)(0L)
    (1 to TextAnalysis.HASH_CLS_EPOCHS).foreach { _ =>
      val finals = shards.map { case (_, docs) =>
        val wv = w.clone()
        docs.foreach { case (_, text) =>
          val c = featCounts(text)
          val y = if (teacherClean(text)) 1L else -1L
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

  private case class CurveRow(threshold: Long, tp: Long, fp: Long,
    fn: Long, tn: Long, precisionPpm: Long, recallPpm: Long,
    f1Ppm: Long, isSelected: Boolean)

  /** Independent replay of the WHOLE sweep from raw (doc_id, text). */
  private def curveReplay(rows: Seq[(Long, String)]): Seq[CurveRow] = {
    val w = trainReplay(rows)
    val ho = rows.filter(r => !inTrainHalf(r._1))
      .map { case (_, t) => (teacherClean(t), scoreOf(t, w)) }
    if (ho.isEmpty) return Seq.empty
    val lo = ho.map(_._2).min
    val hi = ho.map(_._2).max
    val grid = (0 to GRID).map(k => lo + (hi - lo) * k / GRID).distinct
    val raw = grid.map { t =>
      val tp = ho.count { case (y, s) => y && s >= t }.toLong
      val fp = ho.count { case (y, s) => !y && s >= t }.toLong
      val fn = ho.count { case (y, s) => y && s < t }.toLong
      val tn = ho.count { case (y, s) => !y && s < t }.toLong
      val prec = tp * 1000000L / math.max(tp + fp, 1L)
      val rec = tp * 1000000L / math.max(tp + fn, 1L)
      val f1 = 2L * tp * 1000000L / math.max(2L * tp + fp + fn, 1L)
      (t, tp, fp, fn, tn, prec, rec, f1)
    }
    val bestF1 = raw.map(_._8).max
    val bestT = raw.filter(_._8 == bestF1).map(_._1).min
    raw.sortBy(_._1).map { case (t, tp, fp, fn, tn, p, r, f1) =>
      CurveRow(t, tp, fp, fn, tn, p, r, f1, t == bestT)
    }
  }

  private def collectCurve(d: String): Seq[CurveRow] =
    TextAnalysis.classifierPrCurve(spark, d).collect().toSeq
      .map(r => CurveRow(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getBoolean(8)))

  private def corpusRows: Seq[(Long, String)] = {
    import spark.implicits._
    graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
  }

  test("curve matches the first-principles replay on the real corpus") {
    TextAnalysis.clearClsMemo()
    val got = collectCurve(dir)
    val exp = curveReplay(corpusRows)
    assert(exp.nonEmpty, "degenerate corpus: empty holdout")
    assert(got == exp, {
      val d = got.zipAll(exp, null, null).filter { case (a, b) => a != b }
      s"curve diverges at ${d.take(3)}"
    })
    // the instrument is non-degenerate on the real corpus: both
    // classes present in the holdout, so precision genuinely moves
    val h = got.head
    assert(h.tp > 0 && h.fp > 0,
      s"holdout single-class (tp=${h.tp}, fp=${h.fp}) — sweep vacuous")
  }

  test("planted corpus: endpoints, monotonicity, one selected row") {
    import spark.implicits._
    def filler(i: Int, k: Int) = s"f${(i * 7 + k * 3) % 30}"
    val planted: Seq[(Long, String)] = (0 until 40).flatMap { i =>
      Seq((i.toLong * 2, s"the of to in ${filler(i, 0)} ${filler(i, 1)}"),
        (i.toLong * 2 + 1, (0 until 6).map(filler(i, _)).mkString(" ")))
    }
    val tmp = graft.util.Dirs.scratch("pr_curve_planted").toString
    planted.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    TextAnalysis.clearClsMemo()
    val got = collectCurve(tmp)
    val exp = curveReplay(planted)
    assert(got == exp, "planted curve diverges from replay")
    val nHo = planted.count(p => !inTrainHalf(p._1)).toLong
    assert(nHo > 0)
    got.foreach { r =>
      assert(r.tp + r.fp + r.fn + r.tn == nHo,
        s"confusion does not sum to holdout at ${r.threshold}")
    }
    // min-score threshold predicts everything clean
    val first = got.head
    assert(first.fn == 0L && first.tn == 0L,
      s"min threshold missed docs: $first")
    assert(first.recallPpm == 1000000L)
    // recall non-increasing, threshold strictly increasing
    got.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.threshold < b.threshold)
        assert(a.recallPpm >= b.recallPpm,
          s"recall increased with threshold: $a -> $b")
      case _ =>
    }
    // exactly one operating point, and it's the argmax
    assert(got.count(_.isSelected) == 1)
    val sel = got.find(_.isSelected).get
    val best = got.map(_.f1Ppm).max
    assert(sel.f1Ppm == best)
    assert(got.filter(_.f1Ppm == best).map(_.threshold).min
      == sel.threshold, "not the smallest argmax threshold")
    // the planted corpus separates, so the selected point is a real
    // operating point, not a degenerate corner: it beats both the
    // all-clean and the all-low corners on F1
    assert(sel.f1Ppm > 0L && sel.tp > 0L && sel.tn > 0L,
      s"selected point degenerate: $sel")
  }

  test("plan: grid joins broadcast, no shuffle join, no explode") {
    TextAnalysis.clearClsMemo()
    val df = TextAnalysis.classifierPrCurve(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // scoring ran once inside the eager checkpoint; the sweep plan
    // reads the checkpointed holdout, so no parquet rescans here
    assert(!plan.contains("Scan parquet"),
      "sweep re-scans parquet instead of the checkpointed holdout")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"grid join not broadcast: ${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      "corpus-sized shuffle join in the sweep")
    assert(!plan.contains("Generate"), "feature explode in sweep plan")
  }
}
