package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validates [[TextAnalysis.bpeTrain]] against a direct plain-Scala
  * BPE trainer over token LISTS (textbook Sennrich greedy merge),
  * independently of the ||-delimited-string representation the
  * operator uses — if the string `replace` trick ever deviated from
  * true greedy left-to-right merge application, the two would diverge
  * here before any oracle run.
  *
  * The plain-Scala reference replays the operator's boundary-complete
  * pre-tokenization from first principles (delimiter escape, BOW on
  * space-preceded words, EOW on all words, code-point symbols, UTF-8
  * byte tie-break), so the full-alphabet fixture test below pins the
  * unicode/digits/punctuation contract end to end.
  */
class BpeTrainSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSpark.session

  private def mergeOnce(toks: Vector[String], a: String, b: String)
      : Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Per-CODE-POINT symbolization (astral chars stay one symbol) —
    * the unit both engines split on (BatchR16Spec's charEntropy
    * contract). */
  private def codePointSyms(w: String): Vector[String] =
    w.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))

  /** First-principles replay of [[TextAnalysis.bpeWordForms]] on raw
    * text: escape wire delimiters, whitespace-split keeping positions,
    * drop empties, BOW-mark space-preceded words, EOW-suffix all. */
  private def wordForms(text: String): Seq[String] = {
    val esc = text.map {
      case '|' => '\u0001'
      case '#' => '\u0002'
      case c => c
    }
    esc.split(" ", -1).zipWithIndex.toSeq
      .filter(_._1.nonEmpty)
      .map { case (w, i) =>
        (if (i > 0) TextAnalysis.BPE_BOW else "") + w + TextAnalysis.BPE_EOW
      }
  }

  /** Frequency-weighted word-form vocabulary from the raw corpus. */
  private def formVocab(d: String): Map[Vector[String], Long] = {
    import spark.implicits._
    val texts = graft.sources.Tables(spark, d, "documents")
      .select($"text").as[String].collect()
    val vc = scala.collection.mutable.Map
      .empty[Vector[String], Long].withDefaultValue(0L)
    texts.foreach { t =>
      wordForms(t).foreach(f => vc(codePointSyms(f)) += 1L)
    }
    vc.toMap
  }

  /** (count DESC, pa, pb) argmax with UTF-8-byte string comparison —
    * the engines' binary collation, not the JVM's UTF-16 order. */
  private def bestPair(counts: collection.Map[(String, String), Long])
      : ((String, String), Long) =
    counts.reduceLeft { (best, cur) =>
      val c = java.lang.Long.compare(cur._2, best._2)
      val better =
        if (c != 0) c > 0
        else {
          val ca = TextAnalysis.utf8Cmp(cur._1._1, best._1._1)
          if (ca != 0) ca < 0
          else TextAnalysis.utf8Cmp(cur._1._2, best._1._2) < 0
        }
      if (better) cur else best
    }

  /** Plain-Scala greedy trainer (full recount every round) — the
    * independent reference the incremental-delta loop must match. */
  private def plainTrain(d: String, rounds: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var vocab = formVocab(d)
    (1 to rounds).flatMap { r =>
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (toks, f) =>
        toks.iterator.sliding(2).withPartial(false)
          .foreach { p => counts((p(0), p(1))) += f }
      }
      if (counts.isEmpty) None
      else {
        val ((pa, pb), n) = bestPair(counts)
        vocab = vocab.groupMapReduce { case (toks, _) =>
          mergeOnce(toks, pa, pb)
        }(_._2)(_ + _)
        Some((r.toLong, pa, pb, pa + pb, n))
      }
    }
  }

  test("bpe train: merge table matches a plain-Scala greedy trainer") {
    val got = TextAnalysis.bpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.length == TextAnalysis.BPE_TRAIN_ROUNDS)
    val expect = plainTrain(dir, TextAnalysis.BPE_TRAIN_ROUNDS)
    assert(expect.length == TextAnalysis.BPE_TRAIN_ROUNDS,
      "test corpus exhausted before the gate anchor round count")
    assert(got.toSeq == expect,
      s"merge tables diverge:\n got=${got.toSeq}\n exp=$expect")
  }

  test("bpe train at K=128: incremental delta loop == full-recount " +
      "trainer, 128 REAL merges on the unenriched corpus") {
    val rounds = 128
    val got = TextAnalysis.bpeMerges(spark, dir, rounds)
    val expect = plainTrain(dir, rounds)
    assert(got.length == expect.length,
      s"round counts diverge: got ${got.length}, expect ${expect.length}")
    // the boundary-complete pre-tokenizer's merge capacity on the REAL
    // corpus covers K=128 (r17 verdict #1: no vocab enrichment needed)
    assert(got.length == rounds,
      s"corpus exhausted at ${got.length} < $rounds merges")
    // compare round-by-round so a divergence names its round
    got.zip(expect).foreach { case (g, e) =>
      assert(g == e, s"merge tables diverge at round ${e._1}:" +
        s"\n got=$g\n exp=$e")
    }
  }

  test("full-alphabet fixture: digits, punctuation, unicode (incl. " +
      "astral), and wire-delimiter escapes train identically") {
    import spark.implicits._
    val tmp = graft.util.Dirs.scratch("bpe_alphabet").toString
    // every character class the old ^[a-z]+$ filter dropped: digits,
    // punctuation, uppercase, accents, CJK, an astral emoji (U+1F600,
    // a surrogate pair — must stay ONE symbol), plus the wire
    // delimiters | and # as data (escape path), repeated spaces
    // (empty-token drop) and a doc-initial word (no BOW)
    val docs = Seq(
      (1L, "Price: $12.99 (was $15.00) — 20% off!", "en", "fix"),
      (2L, "naïve café déjà-vu übermensch", "fr", "fix"),
      (3L, "日本語のテキスト 漢字とカナ", "ja", "fix"),
      (4L, "emoji 😀 test 😀😀 again", "en", "fix"),
      (5L, "pipe|bar and hash#tag mix |# end", "en", "fix"),
      (6L, "double  space   runs", "en", "fix"),
      (7L, "Price: $12.99 (was $15.00) — 20% off!", "en", "fix"),
      (8L, "naïve café déjà-vu übermensch", "fr", "fix")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rounds = 24
    val got = TextAnalysis.bpeMerges(spark, tmp, rounds)
    val expect = plainTrain(tmp, rounds)
    assert(expect.nonEmpty && got.length == expect.length,
      s"round counts diverge: got ${got.length}, expect ${expect.length}")
    got.zip(expect).foreach { case (g, e) =>
      assert(g == e, s"merge tables diverge at round ${e._1}:" +
        s"\n got=$g\n exp=$e")
    }
    // the astral emoji survived as one code point somewhere in the
    // symbol stream: no lone surrogate halves in any merge output
    got.foreach { case (_, pa, pb, merged, _) =>
      Seq(pa, pb, merged).foreach { sym =>
        sym.toCharArray.zipWithIndex.foreach { case (c, i) =>
          if (Character.isHighSurrogate(c))
            assert(i + 1 < sym.length &&
              Character.isLowSurrogate(sym.charAt(i + 1)),
              s"lone high surrogate in $sym")
        }
      }
    }
    // encode on the fixture round-trips through the same forms: the
    // per-doc symbol count equals the reference form lengths
    val enc = TextAnalysis.bpeEncodeTable(spark, tmp,
      TextAnalysis.bpeMerges(spark, tmp, rounds)
        .toDF("merge_round", "pa", "pb", "merged", "n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = graft.sources.Tables(spark, tmp, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    texts.foreach { case (id, t) =>
      val before = wordForms(t).map(codePointSyms(_).length.toLong).sum
      assert(enc(id) == before,
        s"doc $id n_symbols: got ${enc(id)}, expected $before")
    }
  }

  test("exhaustion degrades gracefully: K past the corpus's merge " +
      "capacity emits every real merge and stops") {
    val got = TextAnalysis.bpeMerges(spark, dir, 500)
    val expect = plainTrain(dir, 500)
    assert(got == expect.toVector)
    // the boundary-complete pre-tokenizer's measured capacity on this
    // corpus (SCALING.md round-18): all 144 merges real, none synthetic
    assert(got.length == 144, s"capacity drifted: ${got.length}")
    assert(got.forall(_._5 > 0L), "a merge with zero corpus mass")
    // and the exhausted table still encodes (every doc collapses to
    // whole-word-or-better tokens; counts stay positive)
    import spark.implicits._
    val enc = TextAnalysis.bpeEncodeTable(spark, dir,
      got.toDF("merge_round", "pa", "pb", "merged", "n")).collect()
    assert(enc.nonEmpty && enc.forall(r => r.getLong(2) > 0L))
  }

  test("bpe encode consumes the trained table (no retrain): " +
      "bpeEncodeTable == bpeEncode") {
    val viaTable = TextAnalysis.bpeEncodeTable(
      spark, dir, TextAnalysis.bpeTrain(spark, dir)).collect().toSeq
    val direct = TextAnalysis.bpeEncode(spark, dir).collect().toSeq
    assert(viaTable == direct)
  }

  test("bpe encode: token counts match a plain-Scala tokenizer replay") {
    import spark.implicits._
    val merges = TextAnalysis.bpeTrain(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val got = TextAnalysis.bpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val forms = wordForms(text).map(codePointSyms)
      val before = forms.map(_.length.toLong).sum
      // greedy replay per word form, merges in training order
      val after = forms.map { f =>
        merges.foldLeft(f) {
          case (toks, (a, b)) => mergeOnce(toks, a, b)
        }.length.toLong
      }.sum
      val pm = if (before > 0) after * 1000 / before else 1000L
      assert(got(id) == ((before, after, pm)),
        s"doc $id: got ${got(id)}, expected ($before, $after, $pm)")
    }
    // sanity: training actually compresses this corpus
    val (b, a) = (docs.map(d => got(d._1)._1).sum,
      docs.map(d => got(d._1)._2).sum)
    assert(a < b, "12 merges should shrink the token count")
  }
}
