package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validates the unigram-LM tokenizer family
  * (text_unigram_train / text_unigram_encode /
  * text_tokenizer_fertility) against an INDEPENDENT plain-Scala
  * replay of the whole algorithm (word forms → substring seed →
  * Viterbi-EM prune rounds → encode), plus a planted MORPHEME
  * fixture where the tokenizer demonstrably learns multi-character
  * pieces and segments held-in long words into them — the
  * BpeTrainSpec discipline for the other tokenizer. */
class UnigramSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"
  private val L = TextAnalysis.UNI_MAX_PIECE
  private val BOW = "\u0003"
  private val EOW = "\u0004"

  // ---- independent replay (maps + loops, no Spark, no engine
  // internals) ----

  private def cps(s: String): Vector[String] =
    s.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))

  private def forms(text: String): Seq[String] =
    text.replace("|", "\u0001").replace("#", "\u0002").split(" ", -1)
      .zipWithIndex.collect { case (w, i) if w.nonEmpty =>
        (if (i > 0) BOW else "") + w + EOW
      }.toSeq

  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def blCost(tot: Long, cnt: Long): Long =
    java.lang.Long.toBinaryString(
      math.max(tot / math.max(cnt, 1L), 1L)).length - 1L

  private def viterbi(w: Vector[String], cost: Map[String, Long])
      : List[String] = {
    val n = w.length
    val INF = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(INF); dp(0) = 0L
    for (i <- 1 to n; j <- math.max(0, i - L) until i)
      cost.get(w.slice(j, i).mkString).foreach { c =>
        if (dp(j) < INF && dp(j) + c < dp(i)) dp(i) = dp(j) + c
      }
    var pos = n
    var out = List.empty[String]
    while (pos > 0) {
      val j = (math.max(0, pos - L) until pos).find { j =>
        dp(j) < INF && cost.get(w.slice(j, pos).mkString)
          .exists(c => dp(j) + c == dp(pos))
      }.get
      out = w.slice(j, pos).mkString :: out
      pos = j
    }
    out
  }

  /** (vocab: piece -> (usage, cost), wordFreq) */
  private def replayTrain(rows: Seq[(Long, String)])
      : (Map[String, (Long, Long)], Map[String, Long]) = {
    val wf = rows.flatMap(r => forms(r._2))
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val seed = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    wf.foreach { case (w, f) =>
      val c = cps(w)
      for (i <- c.indices; l <- 1 to math.min(L, c.length - i))
        seed(c.slice(i, i + l).mkString) += f
    }
    val tot0 = seed.values.sum
    val top = seed.toSeq.sortWith { case ((pa, ca), (pb, cb)) =>
      if (ca != cb) ca > cb else utf8Lt(pa, pb)
    }.take(TextAnalysis.UNI_SEED_K)
    val singles = seed.filter(kv => cps(kv._1).length == 1).toSeq
    var vocab: Map[String, (Long, Long)] =
      (top ++ singles).map { case (p, c) => p -> (c, blCost(tot0, c)) }
        .toMap
    (1 to TextAnalysis.UNI_EM_ROUNDS).foreach { _ =>
      val cost = vocab.map { case (p, v) => p -> v._2 }
      val usage = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      wf.foreach { case (w, f) =>
        viterbi(cps(w), cost).foreach(p => usage(p) += f)
      }
      val totU = usage.values.sum
      val keep = usage.toSeq.sortWith { case ((pa, ua), (pb, ub)) =>
        if (ua != ub) ua > ub else utf8Lt(pa, pb)
      }.take(TextAnalysis.UNI_VOCAB_K)
      val nv = (keep ++ singles.map(s =>
        s._1 -> usage.getOrElse(s._1, 0L))).toMap
      vocab = nv.map { case (p, u) => p -> (u, blCost(totU, u)) }
    }
    (vocab, wf)
  }

  private def corpusRows: Seq[(Long, String)] = {
    import spark.implicits._
    graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
  }

  private def trainOf(d: String): Seq[(String, Long, Long)] = {
    TextAnalysis.clearUniMemo()
    TextAnalysis.unigramTrain(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("trained vocabulary matches the independent replay, twice (determinism)") {
    val rows = corpusRows
    val (vocab, _) = replayTrain(rows)
    val exp = vocab.toSeq.map { case (p, (u, c)) => (p, u, c) }
      .sortWith((a, b) => utf8Lt(a._1, b._1))
    val got1 = trainOf(dir)
    val got2 = trainOf(dir) // memo cleared: full retrain
    assert(got1 == exp, s"vocab diverges: got ${got1.size} rows, " +
      s"exp ${exp.size}; sample=${(got1.toSet diff exp.toSet).take(3)}")
    assert(got1 == got2, "retraining is not deterministic")
  }

  test("encode matches the replay and its invariants hold") {
    val rows = corpusRows
    val (vocab, _) = replayTrain(rows)
    val cost = vocab.map { case (p, v) => p -> v._2 }
    TextAnalysis.clearUniMemo()
    val got = TextAnalysis.unigramEncode(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.size == rows.size)
    rows.foreach { case (id, text) =>
      val fs = forms(text)
      val segs = fs.map(w => viterbi(cps(w), cost))
      val ns = fs.map(w => cps(w).length.toLong).sum
      val nt = segs.map(_.length.toLong).sum
      val sc = segs.flatten.map(cost).sum
      val cp = if (ns > 0) nt * 1000 / ns else 1000L
      assert(got(id) == ((ns, nt, sc, cp)), s"doc $id: got ${got(id)}")
      assert(nt <= ns && (fs.isEmpty || nt >= fs.size),
        s"doc $id: token count outside [words, symbols]")
    }
  }

  test("planted morpheme corpus: multi-character pieces are learned and used") {
    import spark.implicits._
    // stems × suffixes, heavily repeated — the unigram objective
    // should discover the morphemes (≤ 6-cp pieces incl. the BOW/EOW
    // markers) rather than whole words (too long) or characters (too
    // expensive). CJK + astral emoji exercise the code-point paths.
    val stems = Seq("play", "work", "read", "walk")
    val sufs = Seq("ing", "ed", "er")
    val words = for (s <- stems; f <- sufs) yield s + f
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 8).map(k => words((i + k * 7) % words.size))
        .mkString(" ") + " 世界 😀ok")
    }
    val tmp = graft.util.Dirs.scratch("unigram_planted").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (vocab, wf) = replayTrain(docs)
    val got = trainOf(tmp)
    val exp = vocab.toSeq.map { case (p, (u, c)) => (p, u, c) }
      .sortWith((a, b) => utf8Lt(a._1, b._1))
    assert(got == exp, s"planted vocab diverges: " +
      s"${(got.toSet diff exp.toSet).take(3)} / " +
      s"${(exp.toSet diff got.toSet).take(3)}")
    // the tokenizer genuinely learned morphology: multi-cp pieces
    // with nonzero usage exist…
    val multi = got.filter(t => cps(t._1).length >= 3 && t._2 > 0)
    assert(multi.nonEmpty, s"no multi-cp pieces learned: $got")
    // …and a 9-cp word form (BOW + stem + suffix + EOW) segments into
    // FEWER pieces than characters but MORE than one (|form| = 9 > 6
    // = UNI_MAX_PIECE, so one piece is impossible; morphemes make it
    // 2-3)
    val cost = vocab.map { case (p, v) => p -> v._2 }
    val form = BOW + "playing" + EOW
    assert(wf.contains(form), s"fixture lost its target form: $form")
    val seg = viterbi(cps(form), cost)
    assert(seg.length >= 2 && seg.length <= 4,
      s"morpheme segmentation degenerate: $seg")
    assert(seg.exists(p => cps(p).length >= 3),
      s"no multi-cp piece used in $seg")
    // engine encode agrees on the planted corpus too
    TextAnalysis.clearUniMemo()
    val enc = TextAnalysis.unigramEncode(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    docs.foreach { case (id, text) =>
      val fs = forms(text)
      val ns = fs.map(w => cps(w).length.toLong).sum
      val nt = fs.map(w => viterbi(cps(w), cost).length.toLong).sum
      assert(enc(id) == ((ns, nt)), s"planted doc $id encode diverges")
    }
  }

  test("fertility relation: shared word/symbol axes, both tokenizers") {
    TextAnalysis.clearUniMemo()
    val rows = TextAnalysis.tokenizerFertility(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq("bpe", "unigram"))
    val Seq(b, u) = rows.toSeq
    // same forms ⇒ identical word and symbol totals — the relation's
    // built-in self-check
    assert(b._2 == u._2 && b._3 == u._3,
      s"word/symbol axes diverge: $b vs $u")
    rows.foreach { r =>
      assert(r._5 >= 1000L, s"${r._1}: fewer tokens than words? $r")
      assert(r._6 >= 1000L, s"${r._1}: token longer than its symbols? $r")
      assert(r._4 <= r._3, s"${r._1}: more tokens than symbols? $r")
    }
  }
}
