package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import graft.sources.Tables

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, quality scoring, language ID, and
  * document fingerprinting. Everything is a narrow projection over the
  * scan — codegen'd string functions, no shuffle except final ordering
  * — so the plan is scan-bound at any scale.
  */
object TextAnalysis {

  private[operators] val STOPWORDS = Seq("the", "a", "an", "and", "or",
    "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Whitespace tokens + a BPE-ish regex segmentation (letters runs,
    * digit runs, single other chars). */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(
        $"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text",
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
          .cast("long").as("bpeish_tokens"),
        length($"text").cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  /** Quality scoring: alpha ratio, space ratio, stopword ratio, mean
    * word length — the standard cheap pre-filter features. The score
    * is a fixed linear blend, computed with the same expression shape
    * as the oracle so doubles match bit-for-bit. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = split($"text", " ")
    val alphaRatio =
      length(regexp_replace($"text", "[^a-z]", "")) / length($"text")
    val stopRatio =
      size(filter(words, w => w.isInCollection(STOPWORDS))) / size(words)
    val meanWordLen =
      (length($"text") - size(words) + 1) / size(words)
    Tables(s, dir, "documents")
      .select(
        $"doc_id",
        round(alphaRatio, 4).as("alpha_ratio"),
        round(stopRatio, 4).as("stop_ratio"),
        round(meanWordLen, 4).as("mean_word_len"),
        round(alphaRatio * 0.5d + stopRatio * 0.3d +
          (lit(1.0d) / (meanWordLen + 1.0d)) * 0.2d, 4).as("quality"))
      .orderBy($"doc_id")
  }

  /** Language ID by stopword-set voting (n-gram-free heuristic): count
    * hits from per-language function-word sets, argmax with
    * deterministic tie-break. The synthetic corpus text is English word
    * salad with a random `lang` label, so this checks the machinery,
    * not real-world accuracy. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = Map(
      "en" -> Seq("the", "a", "and", "of", "to", "is"),
      "es" -> Seq("el", "la", "y", "de", "que", "es"),
      "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
      "fr" -> Seq("le", "la", "et", "de", "est", "un"))
    val words = split($"text", " ")
    val scores = sets.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(size(filter(words, w => w.isInCollection(ws))).as("hits"),
        lit(lang).as("lang"))
    }
    Tables(s, dir, "documents")
      .select($"doc_id", $"lang".as("labeled_lang"),
        greatest(scores: _*).getField("lang").as("predicted_lang"),
        greatest(scores: _*).getField("hits").cast("long").as("hits"))
      .orderBy($"doc_id")
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * a portable definition the oracle reproduces exactly. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val normalized = regexp_replace(lower($"text"), "[^a-z0-9 ]", "")
    Tables(s, dir, "documents")
      .select(
        $"doc_id",
        md5(regexp_replace(normalized, " +", " ")).as("md5_fingerprint"))
      .orderBy($"doc_id")
  }

  /** Engine-native 64-bit rolling-hash fingerprint (codegen'd Catalyst
    * expression; oracle recomputes the full hash in DuckDB SQL via
    * [[OracleSql.rollingHash]]). */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", GraftFunctions.rolling_hash64($"text").as("rolling_fp"))
      .orderBy($"doc_id")
  }

  // PII patterns — common-subset syntax only (char classes, bounded
  // repetition, ASCII \b) so Java regex (Spark) and RE2 (DuckDB oracle)
  // agree byte-for-byte. No backrefs, no lookaround.
  private[operators] val EMAIL_RE =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val IP_RE =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[operators] val PHONE_RE = "\\b555-[0-9]{4}\\b"

  /** PII scan + redaction — the scrubbing pass a training pipeline runs
    * before text leaves the curation boundary. The `documents` corpus
    * is digit-free word salad, so the operator runs over log-rendered
    * lines derived deterministically from `events` (ids embedded as
    * synthetic emails/IPs/phones — the log-leak shape PII scrubbing
    * exists for; presence varies per row so counts are non-constant).
    * Narrow codegen'd regexp projection, no shuffle except the final
    * sort — scan-bound at any scale, exactly like a 100 TB scrub pass. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rendered = concat_ws(" ",
      $"event_type",
      when($"user_id" % 2 === 0,
        concat(lit("user"), $"user_id", lit("@example.com")))
        .otherwise(lit("anon")),
      when($"event_id" % 3 === 0,
        concat(lit("ip=10.0."), $"user_id" % 256, lit("."), $"event_id" % 256))
        .otherwise(lit("noip")),
      concat(lit("phone 555-01"),
        lpad(($"event_id" % 100).cast("string"), 2, "0")),
      $"props")
    // redact in a fixed order (email, ip, phone) so the oracle's
    // regexp_replace chain is literally the same rewrite
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(rendered, EMAIL_RE, "<EMAIL>"),
        IP_RE, "<IP>"),
      PHONE_RE, "<PHONE>")
    Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"user_id", $"props")
      // r19: the events table ships as ONE parquet split, so the six
      // regex passes below ran on a single core; the CONDITIONAL
      // repartition fires only on under-split scans (no-op at scale)
      .transform(Tables.repartitionForCpu(_, col("event_id")))
      .select(
        $"event_id",
        size(regexp_extract_all(rendered, lit(EMAIL_RE), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(rendered, lit(IP_RE), lit(0)))
          .cast("long").as("n_ip"),
        size(regexp_extract_all(rendered, lit(PHONE_RE), lit(0)))
          .cast("long").as("n_phone"),
        length(redacted).cast("long").as("redacted_len"),
        md5(redacted).as("redacted_md5"))
      .orderBy($"event_id")
  }

  /** Intra-document repetition signals (the Gopher/RefinedWeb-style
    * repetition filters): distinct-token ratio, most-frequent-token
    * fraction (ties broken to the lexicographically smallest token),
    * and duplicate-2-gram fraction. Computed in one narrow typed map —
    * per-row hash counting, no explode/groupBy shuffle on tokens, so
    * the cost is one scan regardless of corpus size. The oracle
    * recomputes all three from first principles via unnest+group-by. */
  def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id", $"text")
      .transform(Tables.repartitionForCpu(_, col("doc_id")))
      .as[(Long, String)]
      .map { case (id, text) =>
        // limit -1 keeps trailing empty tokens, matching the DuckDB
        // oracle's string_split (JVM split's default limit 0 drops
        // them, which would diverge on text with trailing spaces)
        val w = text.split(" ", -1)
        val n = w.length
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        w.foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
        // argmax with deterministic tie-break: highest count, then
        // smallest token (ASCII corpus: JVM and DuckDB orders agree)
        var topTok = ""; var topCnt = -1
        counts.foreach { case (t, c) =>
          if (c > topCnt || (c == topCnt && t < topTok)) {
            topTok = t; topCnt = c
          }
        }
        val grams = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        while (i < n - 1) { grams.add(w(i) + " " + w(i + 1)); i += 1 }
        (id, n.toLong, counts.size.toLong, topTok, topCnt.toLong,
          math.max(n - 1, 0).toLong, grams.size.toLong)
      }
      .toDF("doc_id", "n_tokens", "n_distinct", "top_token", "top_count",
        "n_2grams", "n_distinct_2grams")
      .select(
        $"doc_id",
        $"n_tokens",
        round($"n_distinct".cast("double") / $"n_tokens", 6)
          .as("distinct_ratio"),
        $"top_token",
        round($"top_count".cast("double") / $"n_tokens", 6)
          .as("top_token_frac"),
        when($"n_2grams" === 0, lit(0.0))
          .otherwise(round(($"n_2grams" - $"n_distinct_2grams")
            .cast("double") / $"n_2grams", 6))
          .as("dup_2gram_frac"))
      .orderBy($"doc_id")
  }

  /** Per-document top-3 terms by tf/df — the corpus-statistics family
    * (TF-IDF keyword extraction): term frequency is per-doc, document
    * frequency is a CORPUS-wide aggregate joined back in. Scale shape:
    * one shuffle on (doc, term) for tf (map-side combined), one on
    * term for df, a term-keyed join (no broadcast hint — vocabulary is
    * unbounded on a real corpus, AQE broadcasts when it measures
    * small), and a per-doc window. Ranking uses tf·1.0/df (identical
    * double op on both engines) with the term as tie-break; idf's log
    * is deliberately avoided — libm vs StrictMath transcendentals are
    * not bit-portable, and a monotone transform doesn't change the
    * top-k anyway. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = Tables(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // materialize ONCE: tf feeds both the df rollup and the final
      // join; the pruned subplans differ, so without this the
      // tokenize+shuffle aggregate over every token runs twice per
      // invocation (the round-17 duplicated-subtree class)
      .localCheckpoint()
    // tf rows are distinct (doc, term), so df = row count per term
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id")
      .orderBy(($"tf".cast("double") / $"df").desc, $"term")
    tf.join(df, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df")
      .orderBy($"doc_id", $"rank")
  }

  /** Corpus-lexicon vocabulary size for [[vocabCoverage]]. */
  val VOCAB_V = 30

  /** Corpus-derived lexicon quality score (the CCNet-style idea —
    * score documents by how well their tokens match a language model
    * built FROM the corpus — with the LM reduced to a top-V unigram
    * lexicon so every number is integer-exact and oracle-replayable;
    * a real deployment swaps in a KenLM scorer at the same two-pass
    * shape):
    *
    *  - pass 1 builds the lexicon: token counts in ONE scan (map-side
    *    combined, shuffle O(distinct tokens)), then the top-V by
    *    (count DESC, token ASC) via sort+limit — which plans as
    *    TakeOrderedAndProject, a bounded per-partition heap, NOT a
    *    global sort (the q8 property). Only the V-row lexicon is
    *    collected and broadcast — bounded at any corpus size, the
    *    same contract as the kmeans centroids.
    *  - pass 2 scores: tokens explode, broadcast-join the lexicon,
    *    one partial-aggregated groupBy(doc_id). Per-token credit is
    *    the QUANTIZED inverse rank `floor(1e9/rank + 0.5)` summed as
    *    a LONG — double summation order across shuffled rows is
    *    nondeterministic, integer summation is exact and commutative,
    *    so the score hash-matches under any partitioning (same trick
    *    as the samplers' integer ranks; a float mean here would be
    *    the one nondeterminism in the whole text family).
    *
    * Output per doc: token count, in-lexicon count, and the integer
    * score (callers derive coverage = n_in_vocab/n_tokens and the
    * mean-credit quality themselves — emitting the raw integers
    * instead of a rounded ratio sidesteps the .xxx5 half-even
    * divergence documented in the verify gotchas). */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def toks = Tables(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val top = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(VOCAB_V)
      .as[(String, Long)].collect() // bounded: V rows
    val vocab = top.zipWithIndex
      .map { case ((w, _), i) => (w, i + 1L) }
      .toSeq.toDF("w", "rank")
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count($"rank").as("n_in_vocab"),
        coalesce(sum(floor(lit(1.0e9) / $"rank" + 0.5).cast("long")),
          lit(0L)).as("score_q"))
      .orderBy($"doc_id")
  }

  /** Unigram-LM surprisal scoring — the CCNet/perplexity-filter shape:
    * build a unigram language model from the corpus in one pass, then
    * score every document by its mean token surprisal; downstream
    * pipelines drop the high-surprisal (gibberish) and very-low-
    * surprisal (boilerplate) tails. A production deployment swaps a
    * KenLM n-gram scorer into the same two-pass plan.
    *
    * Every number is INTEGER-exact so the oracle hash-matches under any
    * partitioning: per-token surprisal is quantized to
    * floor(log2(total_tokens div c)) — computed as
    * length(bin(total div c)) - 1, pure integer arithmetic available
    * identically in Spark and DuckDB (no float log whose last ulp could
    * differ between libm implementations) — and per-doc aggregates are
    * LONG sums. Callers derive mean surprisal = sum_surprisal/n_tokens.
    *
    * Scale shape: pass 1 is a map-side-combined token count (shuffle
    * O(distinct tokens)) + a single-row total; pass 2 re-explodes and
    * joins tokens to their counts — the count table is
    * vocabulary-sized (language vocabularies are millions of rows at
    * any corpus size, broadcast-eligible; AQE decides), then one
    * partial-aggregated groupBy(doc_id). Same skeleton as
    * [[tfidfTopTerms]]/[[vocabCoverage]]. */
  def perplexityUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def toks = Tables(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val cnt = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    // corpus total: one bounded row (the same ≤1-row collect contract
    // as the vocabCoverage lexicon)
    val total = cnt.agg(sum($"c")).as[Long].collect()(0)
    // `div`, not `/`: Column./ on longs is DOUBLE division, whose
    // correctly-rounded quotient can cross an integer boundary before
    // the floor implied by bin() — integer div cannot
    val surprisal = (length(bin(expr(s"${total}L div c"))) - 1).cast("long")
    toks.join(cnt, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(surprisal).as("sum_surprisal"),
        max(surprisal).as("max_surprisal"))
      .orderBy($"doc_id")
  }

  /** Reference-split modulus for [[perplexityBackoff]]: docs whose
    * mix64 bucket is 0 train the LM (a deterministic half). */
  val BACKOFF_REF_BUCKETS = 2L
  /** Stupid-backoff discount α = 2/5 (Brants et al. 2007's 0.4), kept
    * as an exact rational so the surprisal stays integer. */
  val BACKOFF_ALPHA_NUM = 2L
  val BACKOFF_ALPHA_DEN = 5L

  /** Stupid-backoff bigram-LM scoring — [[perplexityBigram]] made a
    * REAL quality filter: that key trains on the corpus it scores, so
    * every scored bigram exists in the model and the backoff path of
    * a production scorer never executes. Here the model trains on a
    * deterministic REFERENCE HALF (mix64_bucket(doc_id, 2) = 0 — the
    * splitmix64 membership the sampling family uses) and scores ALL
    * documents, so out-of-model bigrams genuinely occur and take the
    * stupid-backoff route (Brants et al. 2007, the large-LM industry
    * standard precisely because it needs no discount fitting):
    * score(w₂|w₁) = c₁₂/c₁ if seen, else α·c(w₂)/N with α = 2/5.
    * Surprisals stay INTEGER-exact via the same bit-length log₂
    * floor as the other perplexity keys — the backoff branch is
    * floor(log₂((5·N) div (2·max(c(w₂), 1)))), with the max(·,1) an
    * OOV floor for words absent from the reference half entirely.
    * Output adds `n_backoff` (bigram positions that fell back) — the
    * out-of-domain signal a filter thresholds alongside the mean
    * surprisal.
    *
    * Scale shape: the model is two vocabulary-sized map-side-combined
    * aggregates over HALF the corpus; scoring is the usual
    * model-tables-join-token-stream skeleton with LEFT joins (the
    * miss IS the signal), all joins against vocabulary-sized
    * relations AQE broadcasts. One extra bounded 1-row collect for N.
    * The 100 TB deployment swaps the reference half for a curated
    * reference corpus (wiki-quality text) — identical plan. */
  def perplexityBackoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions
    // the tokenized relation feeds SIX differently-pruned consumers
    // (6 scans in its plan) and is deliberately NOT checkpointed: the
    // corpus-sized ws-array materialization measured SLOWER at 1×
    // (1.34 vs 1.24 s) AND at the 100× decade (26.1 vs 24.7 s) than
    // six cheap narrow scans + splits — the perplexity_bigram
    // negative-result calculus (BASELINE.md rounds 17–18); split-on-
    // space is too cheap to beat a write+read of the whole corpus
    val d = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("ws"))
    val ref = d.filter(
      GraftFunctions.mix64_bucket($"doc_id", BACKOFF_REF_BUCKETS) === 0L)
    val ucnt = ref.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    // coalesce: sum over an EMPTY ucnt is null, and unlike the other
    // perplexity keys' totals (empty only on an empty corpus) an
    // empty REFERENCE HALF is reachable with a non-empty corpus
    // (every doc_id in the other bucket) — degrade to the documented
    // total=0 floor instead of a driver NPE (review r18)
    val total = ucnt.agg(coalesce(sum($"c"), lit(0L)))
      .as[Long].collect()(0) // bounded: 1 row
    val bigramsOf = (rel: DataFrame) => rel.filter(size($"ws") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> struct(element_at(ws, i) AS w1,
          |              element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val bcnt = bigramsOf(ref).groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c12"))
    val ctx = bcnt.groupBy($"w1").agg(sum($"c12").as("c1"))
    // first token: unigram surprisal under the reference model, with
    // the same OOV floor (never a backoff COUNT — n_backoff measures
    // bigram fallbacks only)
    val firstS = d
      .select($"doc_id", element_at($"ws", 1).as("w"))
      .join(ucnt, Seq("w"), "left")
      .select($"doc_id",
        (length(bin(expr(
          s"${total}L div greatest(coalesce(c, 0L), 1L)"))) - 1)
          .cast("long").as("s"),
        lit(false).as("backed"))
    val biS = bigramsOf(d)
      .join(bcnt, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(ucnt.select($"w".as("w2"), $"c".as("c2")), Seq("w2"), "left")
      .select($"doc_id",
        when($"c12".isNotNull,
          length(bin(expr("c1 div c12"))) - 1)
          .otherwise(length(bin(expr(
            s"($BACKOFF_ALPHA_DEN * ${total}L) div " +
              s"($BACKOFF_ALPHA_NUM * greatest(coalesce(c2, 0L), 1L))")))
            - 1)
          .cast("long").as("s"),
        $"c12".isNull.as("backed"))
    firstS.union(biS)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"s").as("sum_surprisal"),
        max($"s").as("max_surprisal"),
        sum(when($"backed", 1L).otherwise(0L)).as("n_backoff"))
      .orderBy($"doc_id")
  }

  /** Character-level entropy per document — the cheap gibberish /
    * binary-junk / repeated-char detector every pretraining filter
    * stack runs BEFORE the expensive model-based quality scores (a
    * base64 blob and `aaaa…` padding both betray themselves in the
    * character distribution alone). The [[perplexityUnigram]]
    * integer-exact discipline at character granularity with a
    * PER-DOCUMENT model: per char type, surprisal =
    * floor(log₂(n_chars div c)) computed as a bit length
    * (`length(bin(x)) - 1`) — no floating log anywhere, so the
    * per-doc sums are exact on both engines. Σ c·surprisal is the
    * floor-quantized Shannon entropy in whole bits; a doc repeating
    * one character scores 0, uniform text scores ≈ n·log₂(alphabet).
    * Scale shape: one scan, explode to (doc, char) — a bounded ~
    * alphabet-size per-doc blow-up the partial aggregate collapses
    * BEFORE the shuffle (docs are contiguous within input splits, so
    * map-side combine reduces to ≤ |alphabet| rows per doc); the
    * per-doc total then joins back doc_id-keyed onto the same
    * co-partitioned relation (one exchange, reused). No corpus-wide
    * state of any kind — embarrassingly parallel by document.
    *
    * Unicode contract: the unit of counting is the CODE POINT. Spark's
    * split("") delegates to Java regex, whose zero-width matches fall
    * between code points (surrogate pairs stay whole; combining marks
    * count as their own code points, i.e. no grapheme clustering) —
    * pinned by BatchR16Spec's astral/combining-mark fixture against a
    * `String.codePoints` replay. Cross-engine note: DuckDB's
    * string_split(text, '') is also per code point, but that equality
    * is empirical, not contractual; driver-oracle parity is validated
    * on the synthetic corpora (BMP text). */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ch = Tables(s, dir, "documents")
      .select($"doc_id", explode(split($"text", "")).as("ch"))
      .filter(length($"ch") > 0) // split("") edge artifacts
    val cnt = ch.groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy($"doc_id").agg(sum($"c").as("n"))
    val surprisal = (length(bin(expr("n div c"))) - 1).cast("long")
    cnt.join(totals, "doc_id")
      .select($"doc_id", $"c", $"n", surprisal.as("s"))
      .groupBy($"doc_id")
      .agg(max($"n").as("n_chars"), // constant per doc
        count(lit(1)).as("distinct_chars"),
        sum($"c" * $"s").as("surprisal_bits"))
      .orderBy($"doc_id")
  }

  /** Bigram-LM surprisal — [[perplexityUnigram]] upgraded to a
    * conditional model: token i ≥ 2 is charged
    * `⌊log2(c(w_{i−1}) ÷ c(w_{i−1}w_i))⌋` (the MLE `−log2 p(w_i|w_{i−1})`
    * floor-quantized with the same `length(bin(a div b)) − 1` integer
    * trick as the unigram score), the first token its unigram
    * surprisal — so a document's term count is exactly `n_tokens` and
    * both sums stay LONG-exact for the oracle. Context counts come
    * from the bigram table itself (`c(w1) = Σ_w c(w1 w)`) so
    * probabilities are properly normalized per context.
    *
    * Scale shape: the model side is two vocabulary-sized aggregates
    * (bigram and context counts, both map-side combined); the scoring
    * side re-joins the token/bigram streams against them —
    * model-tables-join-corpus, the CCNet scoring skeleton with the
    * wiki-LM swapped for corpus MLE counts. Bigram pairs come from a
    * columnar `transform(sequence…)` over the split array — no
    * per-doc window sort, no self-join. */
  def perplexityBigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("ws"))
    val toks = d.select($"doc_id", explode($"ws").as("w"))
    val ucnt = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val total = ucnt.agg(sum($"c")).as[Long].collect()(0) // bounded: 1 row
    val bi = d.filter(size($"ws") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> struct(element_at(ws, i) AS w1,
          |              element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val bcnt = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val ctx = bcnt.groupBy($"w1").agg(sum($"c12").as("c1"))
    val firstS = d
      .select($"doc_id", element_at($"ws", 1).as("w"))
      .join(ucnt, "w")
      .select($"doc_id",
        (length(bin(expr(s"${total}L div c"))) - 1).cast("long").as("s"))
    val biS = bi
      .join(bcnt, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .select($"doc_id",
        (length(bin(expr("c1 div c12"))) - 1).cast("long").as("s"))
    firstS.union(biS)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"s").as("sum_surprisal"),
        max($"s").as("max_surprisal"))
      .orderBy($"doc_id")
  }

  /** Winnowing k-gram / window widths (word-level; Schleimer et al.
    * 2003 §4, the MOSS fingerprint-selection algorithm). */
  val WINNOW_K = 4
  val WINNOW_W = 4

  /** Winnowing fingerprint selection: per document, hash every
    * [[WINNOW_K]]-word gram, slide a [[WINNOW_W]]-gram window, and in
    * each window select the MINIMUM hash (ties → rightmost — the
    * paper's rule, which is what bounds the fingerprint density);
    * report per doc the gram count, the number of DISTINCT selected
    * positions (≤ n_grams/ w on average — the guarantee), and the
    * smallest selected fingerprint. A doc shorter than one full
    * window still selects from its single truncated window, so every
    * ≥ k-word doc yields ≥ 1 fingerprint. Per-doc JVM loop (the
    * gramSets rationale); position-local algorithm ⇒ embarrassingly
    * parallel, no shuffle before the final sort. The oracle replays
    * hash, window argmin, and tiebreak from first principles
    * (HUGEINT FNV + row_number (h ASC, pos DESC)). */
  def winnowing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextHashes
    Tables(s, dir, "documents")
      .select($"doc_id", $"text")
      .transform(Tables.repartitionForCpu(_, col("doc_id")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val words = text.split(' ')
        val n = words.length - (WINNOW_K - 1)
        if (n <= 0) None
        else {
          val h = new Array[Long](n)
          var i = 0
          while (i < n) {
            val sb = new java.lang.StringBuilder
            var j = 0
            while (j < WINNOW_K) {
              if (j > 0) sb.append(' ')
              sb.append(words(i + j))
              j += 1
            }
            h(i) = TextHashes.hash64(sb.toString, 0L)
            i += 1
          }
          val nw = math.max(n - WINNOW_W + 1, 1)
          val sel = collection.mutable.SortedSet[Int]()
          var jw = 0
          while (jw < nw) {
            val end = math.min(jw + WINNOW_W - 1, n - 1)
            var best = jw
            var p = jw + 1
            while (p <= end) {
              // <= keeps the RIGHTMOST minimum while scanning left→right
              if (h(p) <= h(best)) best = p
              p += 1
            }
            sel += best
            jw += 1
          }
          var minFp = Long.MaxValue
          sel.foreach(p => if (h(p) < minFp) minFp = h(p))
          Some((id, n.toLong, sel.size.toLong, minFp))
        }
      }
      .toDF("doc_id", "n_grams", "n_selected", "min_fp")
      .orderBy($"doc_id")
  }

  /** Output size for [[bpePairStats]]. */
  val BPE_TOPK = 50

  /** BPE merge-candidate statistics — the pair-counting pass a BPE
    * tokenizer trainer runs to pick its next merge: corpus-weighted
    * counts of ADJACENT CHARACTER PAIRS within words, i.e. for every
    * word w with corpus frequency f, each of the len(w)-1 overlapping
    * 2-char windows contributes f. Top [[BPE_TOPK]] pairs by
    * (count DESC, pair ASC).
    *
    * Scale shape: the corpus collapses to its VOCABULARY first (one
    * word-keyed map-side-combined aggregate — sublinear output), pair
    * expansion then runs over distinct words only, and the pair space
    * itself is alphabet², so the final aggregate and the rank window
    * operate on a bounded few-hundred-row relation (the window is NOT
    * over corpus-sized data — the q45 lesson does not apply). */
  def bpePairStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = Tables(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    val counts = vocab
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"), $"freq")
      .groupBy($"pair").agg(sum($"freq").as("n"))
    counts
      .withColumn("rank", row_number().over(
        Window.orderBy($"n".desc, $"pair")).cast("long"))
      .filter($"rank" <= BPE_TOPK)
      .select($"rank", $"pair", $"n")
      .orderBy($"rank")
  }

  /** Merge rounds for [[bpeTrain]] — the driver-gate anchor (the
    * oracle replays this many unrolled rounds; see r15's MATERIALIZED
    * CTE note in BASELINE.md). The trainer itself is round-count
    * agnostic ([[bpeMerges]]); BpeTrainSpec witnesses K=128. */
  val BPE_TRAIN_ROUNDS = 12

  /** BPE tokenizer TRAINING — the iterated merge loop that
    * [[bpePairStats]] is one round of, and the canonical LLM-pipeline
    * loop (Sennrich et al. 2016): K rounds of (count adjacent symbol
    * pairs weighted by word frequency → pick the best pair → merge it
    * greedily left-to-right in every word). Output is the merge table
    * itself — (merge_round, pa, pb, merged, n) — which IS the trained
    * tokenizer.
    *
    * Scale shape: the corpus collapses to its VOCABULARY in ONE scan
    * (word-keyed map-side-combined aggregate, sublinear output,
    * `localCheckpoint`ed); every one of the K rounds then runs on the
    * bounded vocab relation only — one pair aggregate whose argmax is
    * a SINGLE driver row, and a merge applied as a LITERAL
    * codegen'd `replace` (the "broadcast merge table" is plan-time
    * constant folding, no join at all). At 100 TB the corpus pass is
    * the linear term and the loop is vocabulary-bound — replicated
    * decades leave the vocab (hence the whole loop) exactly constant.
    *
    * Symbol sequences ride a flat string, tokens delimited by `||`
    * (`||l||o||w||`): merging (a,b) is `replace(sym,
    * "|a||b|", "|ab|")`, and because every boundary is TWO bars,
    * consecutive non-overlapping matches don't consume each other's
    * delimiter — left-to-right `replace` is then EXACTLY greedy BPE
    * merge application, bit-identical between Spark and DuckDB (the
    * oracle replays all K rounds unrolled, generated by the same
    * Scala loop).
    *
    * Pre-tokenization is BOUNDARY-COMPLETE over the FULL corpus
    * alphabet (r17 verdict #1 — the old `^[a-z]+$` filter silently
    * dropped every word with a digit, punctuation mark, or non-ASCII
    * character): words are whitespace-split, every word carries the
    * [[BPE_EOW]] end-of-word marker (Sennrich 2016's `</w>`), and
    * every word PRECEDED BY A SPACE carries the [[BPE_BOW]]
    * space-attachment marker (SentencePiece's `▁`), so merges can
    * learn word-initial and word-final units like real tokenizers do.
    * The wire delimiters `|` and `#` are canonicalized to
    * U+0001/U+0002 first ([[BPE_WIRE_ESC_FROM]]) — a lossless escape
    * for any corpus that doesn't itself use those two control
    * characters as data (see the constant's scaladoc for the bound).
    * Symbols are Unicode CODE POINTS (Spark's split("") and DuckDB's
    * per-character indexing both operate per code point — the
    * charEntropy unicode contract, BatchR16Spec), and all tie-breaks
    * compare UTF-8 BYTES ([[utf8Cmp]]) so the driver-side argmax
    * matches both engines' binary collation on any alphabet. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir, BPE_TRAIN_ROUNDS)
      .toDF("merge_round", "pa", "pb", "merged", "n")
      .orderBy($"merge_round")
  }

  /** Wire-delimiter escape for the BPE symbol encoding: `|` and `#`
    * in corpus text are canonicalized to U+0001/U+0002 before
    * symbolization (both engines via `translate`), so the `||` token
    * delimiter and the `#` word joiner can never collide with data.
    * Bound: a corpus that uses U+0001/U+0002 THEMSELVES as data
    * (C0 control characters — absent from any printable text) would
    * collapse those into the same symbol classes as |/#; that is the
    * entire caveat, and it is the same disclosed-encoding-limit shape
    * as the graph family's node-id disjointness note. */
  val BPE_WIRE_ESC_FROM = "|#"
  /** @see [[BPE_WIRE_ESC_FROM]] */
  val BPE_WIRE_ESC_TO = "\u0001\u0002"
  /** Space-attachment marker (SentencePiece `▁` analog): prefixed to
    * every word PRECEDED by a space, so doc-initial and mid-doc word
    * occurrences are distinct forms and merges can learn
    * word-initial units. U+0003 keeps it one code point, out of any
    * printable corpus, and below all printable bytes in UTF-8 order. */
  val BPE_BOW = "\u0003"
  /** End-of-word marker (Sennrich `</w>` analog): suffixed to every
    * word, so merges can learn word-final units. */
  val BPE_EOW = "\u0004"

  /** Unsigned UTF-8 byte-order comparison — the collation BOTH
    * engines use for the merge tie-break: Spark's UTF8String compares
    * raw UTF-8 bytes and DuckDB's default collation is binary memcmp,
    * while Java's String.compareTo orders by UTF-16 code unit
    * (diverging on supplementary characters). The driver-side argmax
    * must match the engines, not the JVM. */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    // delegate to the engine's own comparator instead of a second
    // hand-rolled byte loop (review r18): "driver argmax matches the
    // engine collation" is then true BY CONSTRUCTION. Driver-side
    // cold path only — the per-round argmax over the pair-type map.
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** The boundary-complete word-form relation both BPE entry points
    * symbolize: delimiter-escaped, whitespace-split, empty tokens
    * dropped, [[BPE_BOW]]-prefixed when space-preceded,
    * [[BPE_EOW]]-suffixed always. Column `word` is the form string;
    * one row per word OCCURRENCE (callers aggregate). */
  private def bpeWordForms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The form rule is the bit-exactness contract shared by the BPE
    // AND unigram oracles — exactly one builder ([[docWordForms]])
    // may own it, or the train- and encode-side relations drift.
    docWordForms(s, dir).select($"word")
  }

  /** Trained-merge memo for [[bpeMerges]] — keyed by (canonical data
    * dir, round count). The gate runs `text_bpe_train` and
    * `text_bpe_encode` as independent query invocations; without this
    * the pair would pay the K-round training loop twice (r15 verdict).
    * Sound because a benchmark/test data dir is immutable for the
    * lifetime of the JVM (driver testdata, temp fixture dirs). */
  private val mergeMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Vector[(Long, String, String, String, Long)]]

  /** For benchmark repeats ([[benchPreRep]]): drop memoized merge
    * tables so a repeated `text_bpe_train` measurement re-pays
    * training. */
  def clearBpeMemo(): Unit = mergeMemo.clear()

  /** The BPE merge-training loop itself, INCREMENTAL pair counting
    * (real-vocab capable, r15 verdict #2): instead of recounting every
    * adjacent pair of every vocab word each round, the pair-count
    * state is MAINTAINED — merging (pa,pb) only changes the pair
    * multiset of words that contain `|pa||pb|`, so each round runs
    * ONE signed delta aggregate over that affected subset (old pairs
    * at -freq, post-merge pairs at +freq) and keeps everything else.
    * At a production vocab (32 k merges) the per-round work follows
    * the AFFECTED-word count, which shrinks as merges specialize —
    * the classical incremental BPE trainer — rather than paying a
    * full vocab recount per round.
    *
    * The pair-count state lives on the DRIVER, and that is a
    * scale-safe choice, not a shortcut: its size is bounded by pair
    * TYPES, not corpus or vocab size — the initial alphabet is the
    * corpus's distinct CODE POINTS plus the two boundary markers, a
    * property of the language/script (hundreds for alphabetic text,
    * low tens of thousands for CJK), NOT of data volume, so initial
    * pair types are alphabet² at any corpus scale and each merge adds
    * one symbol whose adjacent-pair types arrive through the round's
    * delta. After K rounds the map holds O(alphabet² + K·avg_new_types)
    * entries — tens of thousands at a real 32 k-merge vocab, kilobytes
    * here. Each round is then exactly one Spark job (the delta
    * aggregate, collected), the argmax is a local map scan with the
    * frozen SQL ordering's (-n, pa, pb) tie-break compared in UTF-8
    * BYTES ([[utf8Cmp]] — the collation UTF8String and DuckDB share
    * on ANY alphabet), and the vocab stays a lazy chain of codegen'd
    * literal `replace`s re-checkpointed every [[BPE_VOCAB_CKPT_EVERY]]
    * rounds to keep lineage flat at high K. Exactness: maintained
    * counts equal a full recount by signed-multiset algebra, so the
    * merge table is bit-identical to the recount loop the r15 oracle
    * froze — BpeTrainSpec witnesses this against a plain-Scala
    * full-recount trainer at both K=12 (gate anchor) and K=128. */
  private[graft] def bpeMerges(s: SparkSession, dir: String, rounds: Int)
      : Vector[(Long, String, String, String, Long)] = {
    val key = (new java.io.File(dir).getCanonicalPath, rounds)
    mergeMemo.getOrElseUpdate(key, trainMerges(s, dir, rounds))
  }

  /** Re-checkpoint cadence for the vocab replace-chain in
    * [[trainMerges]]. */
  val BPE_VOCAB_CKPT_EVERY = 16

  private def trainMerges(s: SparkSession, dir: String, rounds: Int)
      : Vector[(Long, String, String, String, Long)] = {
    import s.implicits._
    var vocab = bpeWordForms(s, dir)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select(
        concat(lit("||"), array_join(split($"word", ""), "||"),
          lit("||")).as("sym"),
        $"freq")
      .localCheckpoint()
    // guarded: sequence(1, 0) is DESCENDING in Spark, so single-token
    // words must short-circuit (r14 lesson: total expressions, never
    // rely on upstream filters) — `when` without `otherwise` is null
    // and explode(null) emits no rows, exactly the empty pair list
    val pairsOf = when(size($"arr") >= 2, expr(
      "transform(sequence(1, size(arr) - 1)," +
        " i -> named_struct('pa', arr[i - 1], 'pb', arr[i]))"))
    def pairAgg(rel: DataFrame): Array[org.apache.spark.sql.Row] = rel
      .withColumn("arr", filter(split($"sym", "[|][|]"), t => t =!= ""))
      .select(explode(pairsOf).as("p"), $"f")
      .groupBy($"p.pa".as("pa"), $"p.pb".as("pb"))
      .agg(sum($"f").as("n"))
      .collect()
    // driver-held pair counts — bounded by pair TYPES (Scaladoc above)
    val pc = scala.collection.mutable
      .Map.empty[(String, String), Long].withDefaultValue(0L)
    pairAgg(vocab.select($"sym", $"freq".as("f"))).foreach { row =>
      pc((row.getString(0), row.getString(1))) = row.getLong(2)
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    while (r <= rounds && pc.nonEmpty) {
      // argmax with the engines' collation: count DESC, then pa, pb in
      // UTF-8 BYTE order (utf8Cmp) — Scala tuple/String ordering would
      // diverge from UTF8String/DuckDB on supplementary characters
      val ((pa, pb), n) = pc.reduceLeft { (best, cur) =>
        val c = java.lang.Long.compare(cur._2, best._2)
        val better =
          if (c != 0) c > 0
          else {
            val ca = utf8Cmp(cur._1._1, best._1._1)
            if (ca != 0) ca < 0 else utf8Cmp(cur._1._2, best._1._2) < 0
          }
        if (better) cur else best
      }
      merges += ((r.toLong, pa, pb, pa + pb, n))
      val (pat, rep) = (s"|$pa||$pb|", s"|$pa$pb|")
      // signed delta over the affected subset only, in ONE scan: every
      // pair of an affected word leaves at -freq and re-enters at
      // +freq in its post-merge form; unaffected words contribute
      // nothing. literal (non-regex) replace — same left-to-right
      // non-overlapping semantics as DuckDB's replace()
      // arr0 (pre-merge) always has ≥2 tokens — it CONTAINS the merge
      // pattern — so its transform is total; arr1 (post-merge) can
      // collapse to ONE token, where sequence(1, 0) is DESCENDING in
      // Spark (the r14 lesson), so its side is when-guarded: the null
      // makes concat null, and coalesce falls back to the old-pairs
      // side alone — total expression, no upstream-filter reliance
      val signedPairs = expr(
        "coalesce(concat(" +
          " transform(sequence(1, size(arr0) - 1), i ->" +
          "  named_struct('pa', arr0[i-1], 'pb', arr0[i], 'f', -freq))," +
          " if(size(arr1) >= 2," +
          "  transform(sequence(1, size(arr1) - 1), i ->" +
          "   named_struct('pa', arr1[i-1], 'pb', arr1[i], 'f', freq))," +
          "  null))," +
          " transform(sequence(1, size(arr0) - 1), i ->" +
          "  named_struct('pa', arr0[i-1], 'pb', arr0[i], 'f', -freq)))")
      val delta = vocab.filter($"sym".contains(pat))
        .withColumn("arr0",
          filter(split($"sym", "[|][|]"), t => t =!= ""))
        .withColumn("arr1",
          filter(split(replace($"sym", lit(pat), lit(rep)), "[|][|]"),
            t => t =!= ""))
        .select(explode(signedPairs).as("q"))
        .select($"q.pa".as("pa"), $"q.pb".as("pb"), $"q.f".as("f"))
        .groupBy($"pa", $"pb").agg(sum($"f").as("n"))
        .collect()
      delta.foreach { row =>
        val k = (row.getString(0), row.getString(1))
        val v = pc(k) + row.getLong(2)
        if (v > 0L) pc(k) = v else pc.remove(k)
      }
      vocab = vocab.withColumn("sym",
        replace($"sym", lit(pat), lit(rep)))
      if (r % BPE_VOCAB_CKPT_EVERY == 0) vocab = vocab.localCheckpoint()
      r += 1
    }
    merges.toVector
  }

  /** BPE tokenizer ENCODING — apply the merge table [[bpeTrain]]
    * learns to tokenize every document (the train→encode pair is the
    * canonical LLM-pipeline tokenizer loop): per doc, the
    * boundary-complete word forms ([[bpeWordForms]] — full alphabet,
    * BOW/EOW markers) are exploded to code points and the K merges
    * replay IN TRAINING ORDER, greedy left-to-right — the standard fast-BPE
    * approximation of rank-order merging, exact here because training
    * picked each merge against the same corpus state this replay
    * reaches. Output per doc: symbol count before, token count after,
    * and the compression per-mille — what a tokenizer card reports as
    * fertility/compression.
    *
    * Wire form: each word is the `||`-delimited symbol string
    * [[bpeTrain]] uses, words joined by `#` — a hard boundary no
    * `"|a||b|"` merge pattern can cross, so per-word merge semantics
    * hold in ONE flat per-doc string and the whole encode is K nested
    * codegen'd `replace` calls over one scan (no explode, no shuffle;
    * scan-bound at any scale). The merge literals come from the same
    * driver-side training loop (bounded: vocab-sized aggregates, K
    * 1-row collects); the oracle replays training AND encoding
    * unrolled. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    // train-once, encode-everywhere: the merge literals come from the
    // memoized trainer, so a gate run that already ran text_bpe_train
    // pays NOTHING here (r15 verdict #1) — and a user with a persisted
    // merge table skips training entirely via [[bpeEncodeTable]]
    bpeEncodeWith(s, dir,
      bpeMerges(s, dir, BPE_TRAIN_ROUNDS).map(m => (m._2, m._3)))

  /** Production composition path: encode with an ALREADY-TRAINED merge
    * table (the [[bpeTrain]] output schema — merge_round, pa, pb) read
    * from wherever the tokenizer was persisted. The table is K rows by
    * construction (one per merge round), so collecting it to merge
    * literals is bounded by K, not by any corpus — the same
    * bounded-side collect discipline as the dedup keeper's cluster
    * composition. */
  def bpeEncodeTable(s: SparkSession, dir: String, mergeTable: DataFrame)
      : DataFrame = {
    import s.implicits._
    val merges = mergeTable.orderBy($"merge_round").collect()
      .map(r => (r.getAs[String]("pa"), r.getAs[String]("pb"))).toSeq
    bpeEncodeWith(s, dir, merges)
  }

  private def bpeEncodeWith(s: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    // the same boundary-complete word forms as training ([[bpeWordForms]]),
    // built array-side so the whole doc stays one row: escape delimiters,
    // split, drop empties (null + isNotNull filter), mark space-preceded
    // words with BPE_BOW (index-aware transform), suffix BPE_EOW
    val words = split(
      translate($"text", BPE_WIRE_ESC_FROM, BPE_WIRE_ESC_TO), " ")
    val forms = filter(
      transform(words, (w, i) =>
        when(w === "", lit(null).cast("string"))
          .otherwise(concat(
            when(i > 0, lit(BPE_BOW)).otherwise(lit("")),
            w, lit(BPE_EOW)))),
      f => f.isNotNull)
    val sym0 = array_join(
      transform(forms, w =>
        concat(lit("||"), array_join(split(w, ""), "||"), lit("||"))),
      "#")
    val encoded = merges.foldLeft(sym0) { case (acc, (pa, pb)) =>
      replace(acc, lit(s"|$pa||$pb|"), lit(s"|$pa$pb|"))
    }
    // token count by DELIMITER ARITHMETIC instead of split+filter:
    // each word form with t tokens contributes exactly 2(t+1) bars
    // and forms join on W-1 hashes, so T = bars/2 − W. Counting
    // characters via length-after-replace keeps the whole count in
    // codegen'd string scans — no array materialization per doc
    // (A/B'd vs the split+filter count: BASELINE.md round-18).
    // Merged tokens never contain | or # (escaped at symbolization).
    val tokensOf = (c: org.apache.spark.sql.Column) =>
      when(length(c) === 0, lit(0L)).otherwise({
        val bars = length(c) - length(replace(c, lit("|"), lit("")))
        val words = length(c) - length(replace(c, lit("#"), lit(""))) + 1
        ((bars - words * 2) / lit(2)).cast("long")
      })
    Tables(s, dir, "documents")
      // r19: K replace passes per doc on a ONE-split scan ran on a
      // single core — conditional repartition (no-op at scale) spreads
      // the encode across the box
      .transform(Tables.repartitionForCpu(_, col("doc_id")))
      .select($"doc_id", sym0.as("s0"), encoded.as("s1"))
      .select($"doc_id",
        tokensOf($"s0").as("n_symbols"),
        tokensOf($"s1").as("n_tokens"))
      .select($"doc_id", $"n_symbols", $"n_tokens",
        when($"n_symbols" > 0,
          expr("n_tokens * 1000 div n_symbols")).otherwise(1000L)
          .as("compression_pm"))
      .orderBy($"doc_id")
  }

  // ===== Unigram-LM tokenizer (round 19, verdict item 3) =====

  /** Max piece length (code points) for the unigram seed vocabulary. */
  val UNI_MAX_PIECE = 6
  /** Seed vocabulary size: top substrings by weighted count (single
    * code points are ALWAYS kept on top of this — the coverage
    * guarantee that makes every word segmentable). */
  val UNI_SEED_K = 2048
  /** Post-prune vocabulary target per EM round. */
  val UNI_VOCAB_K = 512
  /** Fixed Viterbi-EM prune rounds — determinism over convergence
    * heuristics (the BPE/LPA precedent). */
  val UNI_EM_ROUNDS = 2

  /** `word` → array of code-point strings. Scala String ops index
    * UTF-16 code units; the tokenizer contract (charEntropy /
    * BatchR16Spec) is CODE POINTS on both engines, so segmentation
    * positions must be code-point positions — astral-plane safe. */
  private def codePointsOf(s: String): Array[String] =
    s.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Viterbi segmentation under integer piece costs: forward DP
    * (dp(i) = min over j of dp(j) + cost(piece(j, i)), pieces up to
    * [[UNI_MAX_PIECE]] code points), then a backtrack that picks the
    * SMALLEST j achieving dp(i) — i.e. the longest piece — at every
    * tie. Both rules are frozen into the DuckDB replay, so the
    * segmentation (not just its cost) is deterministic and
    * bit-replayable. Single code points are always in the vocab, so
    * dp is finite and the walk always terminates. */
  private def viterbiPieces(cps: Array[String],
      cost: collection.Map[String, Long]): List[String] = {
    val n = cps.length
    if (n == 0) return Nil
    val INF = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(INF)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - UNI_MAX_PIECE)
      while (j < i) {
        if (dp(j) < INF) {
          val c = cost.getOrElse(cps.slice(j, i).mkString, -1L)
          if (c >= 0L && dp(j) + c < dp(i)) dp(i) = dp(j) + c
        }
        j += 1
      }
      i += 1
    }
    var pos = n
    var out = List.empty[String]
    while (pos > 0) {
      var j = math.max(0, pos - UNI_MAX_PIECE)
      var chosen = -1
      while (chosen < 0 && j < pos) {
        val c = cost.getOrElse(cps.slice(j, pos).mkString, -1L)
        if (c >= 0L && dp(j) < INF && dp(j) + c == dp(pos)) chosen = j
        else j += 1
      }
      out = cps.slice(chosen, pos).mkString :: out
      pos = chosen
    }
    out
  }

  /** floor(log2(tot / cnt)) — the perplexity keys' integer surprisal
    * quantization (`length(bin(x)) - 1` in both engines). */
  private def bitlenCost(tot: Long, cnt: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(
      math.max(tot / math.max(cnt, 1L), 1L))

  private val uniMemo = scala.collection.concurrent.TrieMap
    .empty[String, Vector[(String, Long, Long)]]
  def clearUniMemo(): Unit = uniMemo.clear()

  /** UNIGRAM-LM tokenizer training (Kudo 2018, SentencePiece's
    * default model — the standard alternative every modern pipeline
    * evaluates BPE against), in the repo's deterministic-integer
    * discipline:
    *  1. SEED: all substrings (≤ [[UNI_MAX_PIECE]] code points) of
    *     the boundary-complete [[bpeWordForms]], counted weighted by
    *     word frequency — ONE distributed aggregate over the
    *     vocabulary-collapsed word relation; keep the top
    *     [[UNI_SEED_K]] by (count DESC, piece ASC in UTF-8 order)
    *     plus every single code point (coverage).
    *  2. [[UNI_EM_ROUNDS]] hard-EM (Viterbi-EM) rounds: segment every
    *     distinct word under the current integer costs
    *     (floor-log2 surprisal of the piece's share — the perplexity
    *     quantization), recount usage weighted by word frequency
    *     (one distributed flatMap+aggregate per round, collected
    *     bounded by vocab size), prune to the top [[UNI_VOCAB_K]]
    *     (usage DESC, piece ASC) plus singles, requantize. Hard-EM
    *     (counts from the Viterbi path, not the full lattice
    *     forward-backward) is the deterministic-integer
    *     simplification, disclosed here; Kudo's own pruning also
    *     scores candidates by their Viterbi path contribution.
    *
    * Scale shape: the corpus collapses to its vocabulary in one scan
    * (the BPE trainer's argument); every round is one job over the
    * bounded word relation; driver state is the piece table
    * (≤ UNI_SEED_K + alphabet), never corpus- or vocab-sized.
    * Tie-breaks compare UTF-8 bytes ([[utf8Cmp]]) so driver
    * selections match both engines' binary collation. */
  private[graft] def uniVocab(s: SparkSession, dir: String)
      : Vector[(String, Long, Long)] = {
    val key = new java.io.File(dir).getCanonicalPath
    uniMemo.getOrElseUpdate(key, {
      import s.implicits._
      val wf = bpeWordForms(s, dir).groupBy($"word")
        .agg(count(lit(1)).as("f")).as[(String, Long)]
        .localCheckpoint() // seed + R usage rounds reuse it
      val seedCnt = wf.flatMap { case (w, f) =>
        val cps = codePointsOf(w)
        for {
          i <- cps.indices
          l <- 1 to math.min(UNI_MAX_PIECE, cps.length - i)
        } yield (cps.slice(i, i + l).mkString, f)
      }.toDF("piece", "f").groupBy($"piece")
        .agg(sum($"f").as("cnt"))
        .localCheckpoint() // total + topK + singles share one pass
      val total0 = seedCnt.agg(coalesce(sum($"cnt"), lit(0L)))
        .as[Long].head()
      // Spark's string orderBy IS UTF8String binary order — the same
      // collation DuckDB's ORDER BY piece applies
      val top = seedCnt.orderBy($"cnt".desc, $"piece")
        .limit(UNI_SEED_K).as[(String, Long)].collect()
      val singles = seedCnt
        // length() counts code points on both engines (UTF8String
        // numChars / DuckDB length) — the direct form of "one code
        // point", with no dependency on empty-pattern split semantics
        .filter(length($"piece") === 1)
        .as[(String, Long)].collect() // bounded: corpus alphabet
      var vocab: Map[String, (Long, Long)] =
        (top ++ singles).map { case (p, c) =>
          p -> (c, bitlenCost(total0, c))
        }.toMap
      (1 to UNI_EM_ROUNDS).foreach { _ =>
        val costs = vocab.map { case (p, (_, c)) => p -> c }
        val usage = wf.flatMap { case (w, f) =>
          viterbiPieces(codePointsOf(w), costs).map(p => (p, f))
        }.toDF("piece", "f").groupBy($"piece")
          .agg(sum($"f").as("u")).as[(String, Long)]
          .collect().toMap // bounded: ≤ |vocab| pieces
        val totalU = usage.valuesIterator.sum
        val keep = usage.toSeq
          .sortWith { case ((pa, ua), (pb, ub)) =>
            if (ua != ub) ua > ub else utf8Cmp(pa, pb) < 0
          }.take(UNI_VOCAB_K)
        val singleSet = singles.map(_._1).toSet
        vocab = (keep ++ singleSet.map(p => p -> usage.getOrElse(p, 0L)))
          .toMap // singles override duplicates with the same usage
          .map { case (p, u) => p -> (u, bitlenCost(totalU, u)) }
      }
      vocab.toVector.map { case (p, (u, c)) => (p, u, c) }
        .sortWith((a, b) => utf8Cmp(a._1, b._1) < 0)
    })
  }

  /** The trained unigram vocabulary as a gate relation:
    * (piece, usage, cost_bits) after the fixed EM rounds. */
  def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    uniVocab(s, dir).toDF("piece", "usage", "cost_bits")
      .orderBy($"piece")
  }

  /** Per-word-occurrence forms WITH doc_id — the encode-side twin of
    * [[bpeWordForms]]. */
  private def docWordForms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", posexplode(split(
        translate($"text", BPE_WIRE_ESC_FROM, BPE_WIRE_ESC_TO), " "))
        .as(Seq("pos", "word")))
      .filter($"word" =!= "")
      .select($"doc_id", concat(
        when($"pos" > 0, lit(BPE_BOW)).otherwise(lit("")),
        $"word", lit(BPE_EOW)).as("word"))
  }

  /** Unigram-LM ENCODE — Viterbi-segment every document under the
    * trained vocabulary (memoized — the gate's train→encode pair
    * pays training once, the BPE memo pattern). Vocabulary-collapsed:
    * the per-word segmentation runs once per DISTINCT word form and
    * broadcast-joins back to the (doc_id, word) occurrences; per doc,
    * token/symbol counts and the total LM encoding cost in bits.
    * Same output shape as [[bpeEncode]] plus `sum_cost_bits` (BPE has
    * no per-token cost; the LM does — it is the quantity the
    * tokenizer minimizes). */
  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val costMap = uniVocab(s, dir).map(t => t._1 -> t._3).toMap
    // ONE tokenization pass feeds both the distinct-form Viterbi side
    // and the per-doc occurrence side (they cannot share a subtree
    // unchackpointed — different pruned subplans, the r17 duplicated-
    // subtree class), and the checkpoint's exact stats let AQE pick
    // the join side at runtime.
    val dwf = docWordForms(s, dir).localCheckpoint()
    val seg = dwf.select($"word").distinct()
      .as[String]
      .map { w =>
        val cps = codePointsOf(w)
        val ps = viterbiPieces(cps, costMap)
        (w, cps.length.toLong, ps.length.toLong,
          ps.map(costMap).sum)
      }.toDF("word", "n_cp", "n_tok", "cost")
    // NO broadcast hint: seg is one row per DISTINCT CORPUS WORD FORM
    // — corpus-vocabulary-sized, which grows with the corpus (tens of
    // millions of forms at the 100 TB design point, past the 8 GB
    // broadcast hard cap). AQE broadcasts it when it measures small
    // (every gate/decade run here) and shuffle-joins when it isn't —
    // the word-keyed shuffle is the correct large-SF shape.
    val perDoc = dwf
      .join(seg, "word")
      .groupBy($"doc_id")
      .agg(sum($"n_cp").as("n_symbols"),
        sum($"n_tok").as("n_tokens"),
        sum($"cost").as("sum_cost_bits"))
    Tables(s, dir, "documents").select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_symbols", lit(0L)).as("n_symbols"),
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"sum_cost_bits", lit(0L)).as("sum_cost_bits"))
      .select($"doc_id", $"n_symbols", $"n_tokens", $"sum_cost_bits",
        when($"n_symbols" > 0,
          expr("n_tokens * 1000 div n_symbols")).otherwise(1000L)
          .as("compression_pm"))
      .orderBy($"doc_id")
  }

  /** CROSS-TOKENIZER FERTILITY — the comparison relation a pipeline
    * publishes when choosing its tokenizer: corpus-level token and
    * symbol totals for BPE and unigram-LM over the IDENTICAL
    * boundary-complete word forms, with tokens-per-1000-words and
    * symbols-per-token in exact integer milli units. One row per
    * tokenizer; `n_words`/`n_symbols` are tokenizer-independent by
    * construction (same forms), which the relation exposes as a
    * self-check. Each total is a bounded 1-row aggregate of the
    * corresponding encode relation. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def totals(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        coalesce(sum($"n_symbols"), lit(0L)),
        coalesce(sum($"n_tokens"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // the three inputs (word census, BPE totals, unigram totals) are
    // independent jobs — overlap them from driver threads (r19, guide
    // §2.6); the two tokenizer memos are TrieMap.getOrElseUpdate —
    // under same-key contention a trainer can be evaluated more than
    // once (the loser's result is discarded), which duplicates a
    // training job but is deterministic: both evaluations produce the
    // identical table, so the relation is unchanged either way. The
    // BPE and unigram futures memoize under DIFFERENT keys, so in this
    // operator no same-key race exists at all.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fW = Future(docWordForms(s, dir).count())
    val fB = Future(totals(bpeEncode(s, dir)))
    val fU = Future(totals(unigramEncode(s, dir)))
    val nWords = Await.result(fW, Duration.Inf)
    val (bs, bt) = Await.result(fB, Duration.Inf)
    val (us, ut) = Await.result(fU, Duration.Inf)
    Seq(("bpe", nWords, bs, bt), ("unigram", nWords, us, ut))
      .toDF("tokenizer", "n_words", "n_symbols", "n_tokens")
      .select($"tokenizer", $"n_words", $"n_symbols", $"n_tokens",
        expr("n_tokens * 1000 div greatest(n_words, 1)")
          .as("tokens_per_kword"),
        expr("n_symbols * 1000 div greatest(n_tokens, 1)")
          .as("symbols_per_token_milli"))
      .orderBy($"tokenizer")
  }

  /** Keyword set for [[codeDetect]] — code-specific tokens chosen to
    * avoid common English collisions. */
  val CODE_KEYWORDS = Seq("def", "class", "return", "import", "function",
    "var", "const", "lambda", "void", "int")

  /** Code-vs-prose detection — the cheap classifier every pretraining
    * pipeline runs to route documents to the code or prose mix:
    * punctuation-symbol density (braces/brackets/operators per 1000
    * chars, exact integer permille) + code-keyword hits, with the
    * routing decision `is_code = symbols ≥ 50‰ OR keywords ≥ 3`.
    * Pure codegen'd string projections over one scan (the regex stays
    * in the q74 portable character-class subset); scan-bound at any
    * scale like the rest of the text family. */
  def codeDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kwHits = size(filter(split($"text", " "),
      w => w.isInCollection(CODE_KEYWORDS))).cast("long")
    Tables(s, dir, "documents")
      .select($"doc_id",
        length(regexp_replace($"text", "[^{}()=;\\[\\]<>]", ""))
          .cast("long").as("n_sym"),
        length($"text").cast("long").as("n_chars"),
        kwHits.as("kw_hits"))
      .select($"doc_id",
        expr("n_sym * 1000 div n_chars").as("symbol_permille"),
        $"kw_hits")
      .select($"doc_id", $"symbol_permille", $"kw_hits",
        ($"symbol_permille" >= 50L || $"kw_hits" >= 3L).as("is_code"))
      .orderBy($"doc_id")
  }

  /** Weight-table dimension for [[hashClassifier]] — a power of two so
    * the unsigned-mod feature bucketing is a BITMASK on the engine side
    * (`hash & (D-1)`) and plain `% D` on the DuckDB side (the hash is
    * replayed as an unsigned HUGEINT, and 2^64 ≡ 0 mod any power of
    * two, so signed-masked and unsigned-mod agree). Production
    * fastText tables run 1-10 M buckets; the dimension is a model
    * hyperparameter, not a plan shape — the plumbing is identical. */
  val HASH_CLS_DIM = 1024
  /** Routing threshold: docs with score below this are routed low. */
  val HASH_CLS_THRESHOLD = 0L
  /** Fixed epoch count for the parameter-mixing perceptron —
    * determinism over convergence heuristics, the graph_lpa
    * precedent. Chosen by measurement: the holdout-accuracy curve is
    * monotone in epochs and flat past 8 (BASELINE.md round-19). */
  val HASH_CLS_EPOCHS = 8
  /** Training shards for iterative parameter mixing. XOR-seeded so
    * shard assignment is independent of the train/holdout split
    * (both hash the same mix64(doc_id) stream — an unseeded `% 4`
    * would leave half the shards empty). */
  val HASH_CLS_SHARDS = 4
  val HASH_CLS_SHARD_SEED: Long =
    graft.functions.TextHashes.mix64(0xC1A55L)
  /** Fixed-point gain on perceptron updates: the epoch mix divides by
    * [[HASH_CLS_SHARDS]] with TRUNCATING integer division, which
    * zeroes any single-shard update of magnitude < SHARDS — weights
    * earned from one shard's rare feature would vanish. Scaling every
    * update by 16 (scores scale uniformly, threshold-0 routing is
    * scale-invariant) keeps 4 mixing bits of precision; measured
    * same-or-better holdout accuracy at all three SFs. */
  val HASH_CLS_GAIN = 16L
  /** Teacher label: a doc is CLEAN iff stopword-count·1000 ≥ this ·
    * word-count — the integer form of the classic stopword-ratio
    * quality heuristic (≈ the corpus median, so both classes are
    * populated at every SF). The concept is exactly linear in unigram
    * counts (ns·1000 − T·nw > 0), so the hashed linear student can
    * genuinely represent it — the training task is honest, not
    * window dressing. */
  val HASH_CLS_STOP_PERMILLE = 60L
  /** Train half: mix64 doc_id bucket 0 of 2 (the backoff-LM split
    * discipline); the other half is held out for the spec's
    * generalization check. */
  val HASH_CLS_TRAIN_BUCKETS = 2L

  /** Per-dir memo of the trained weight table — the BPE-merge-memo
    * pattern: the gate run trains once and both classifier keys read
    * it; [[benchPreRep]] clears it per timed rep so the train row
    * re-pays training. */
  private val clsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  def clearClsMemo(): Unit = clsMemo.clear()

  /** TRAINED weight table (round 19, replacing the r18 seeded
    * stand-in — the last arbitrary-parameters gap in the curation
    * stack): the distributed perceptron with ITERATIVE PARAMETER
    * MIXING (McDonald, Hall & Mann, NAACL 2010 — the published
    * training strategy for exactly this setting), distilling the
    * stopword-ratio teacher into the hashed uni+bigram feature
    * table. Per epoch: each of [[HASH_CLS_SHARDS]] shards runs a
    * SEQUENTIAL perceptron pass over its own docs (deterministic:
    * XOR-seeded shard hash, doc_id order within the shard), starting
    * from the mixed weights; the driver then mixes the shard tables
    * (element-wise truncating-div average — Java `/` and DuckDB `//`
    * both truncate toward zero, so the mix replays exactly). Driver
    * state is SHARDS×D longs, never corpus-sized; each epoch is one
    * mapGroups job over the checkpointed per-doc feature relation.
    * Chosen by measurement over the order-independent alternatives
    * (batch perceptron oscillates: train accuracy 48–80% depending
    * on epoch parity; NB/sign/dual-averaging all plateaued lower —
    * BASELINE.md round-19): holdout accuracy 83/85/90% at
    * sf0.001/0.01/0.1 vs the ~85% sequential single-machine ceiling
    * of this feature space. At 100 TB the shard count scales with
    * the corpus (shard = the unit of sequential work, the pack_*
    * stream argument) and mixing stays a SHARDS×D rollup.
    * All arithmetic integer; the DuckDB oracle replays every epoch:
    * within-shard passes as recursive CTEs carrying the D-long
    * weight list, mixing as a positional unnest + `//` rollup. */
  private[graft] def trainedClsWeights(
      s: SparkSession, dir: String): Array[Long] =
    // canonical key — trailing slash / symlink spellings must share
    // one training run (the uni/bpe memos' established key rule)
    clsMemo.computeIfAbsent(new java.io.File(dir).getCanonicalPath, _ => {
      import s.implicits._
      val toks = filter(split($"text", " "), t => t =!= "")
      val bis = when(size($"toks") >= 2, expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> concat(toks[i-1], ' ', toks[i]))"))
        .otherwise(array().cast("array<string>"))
      val nStop = size(filter($"toks", w => w.isInCollection(STOPWORDS)))
      val docs = Tables(s, dir, "documents")
        .filter(graft.functions.GraftFunctions.mix64_bucket(
          $"doc_id", HASH_CLS_TRAIN_BUCKETS) === 0L)
        .select($"doc_id", toks.as("toks"))
        .select($"doc_id",
          when(nStop.cast("long") * 1000L >=
            lit(HASH_CLS_STOP_PERMILLE) * size($"toks").cast("long"),
            1L).otherwise(-1L).as("y"),
          explode(concat($"toks", bis)).as("f"))
        .select($"doc_id", $"y",
          graft.functions.GraftFunctions.fnv1a64($"f")
            .bitwiseAND(lit((HASH_CLS_DIM - 1).toLong)).as("bucket"))
        .groupBy($"doc_id", $"y", $"bucket").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id", $"y")
        .agg(collect_list(struct($"bucket", $"c")).as("sp"))
        .select(
          graft.functions.GraftFunctions.mix64_bucket(
            $"doc_id".bitwiseXOR(lit(HASH_CLS_SHARD_SEED)),
            HASH_CLS_SHARDS.toLong).as("shard"),
          $"doc_id", $"y", $"sp")
        // r19 optimization (guide §2.4 — remove shuffles outright):
        // partition by shard and sort (shard, doc_id) ONCE, before the
        // checkpoint, so every epoch is a zero-shuffle mapPartitions
        // over the cached layout — the old groupByKey re-shuffled the
        // whole feature relation on the SAME key all E epochs. Each
        // partition holds whole shards with rows already in the
        // shard's deterministic doc_id pass order, so the per-shard
        // sequential pass (and therefore every weight) is unchanged.
        .repartition(HASH_CLS_SHARDS, $"shard")
        .sortWithinPartitions($"shard", $"doc_id")
        .as[(Long, Long, Long, Seq[(Long, Long)])]
        // E epochs re-read it; checkpoint so feature hashing runs once
        .localCheckpoint()
      var w = Array.fill(HASH_CLS_DIM)(0L)
      (1 to HASH_CLS_EPOCHS).foreach { _ =>
        val seed = w
        val finals = docs.mapPartitions { it =>
          // consecutive (shard, doc_id)-sorted runs: one sequential
          // perceptron pass per shard in the partition
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Long])]
          var curShard = Long.MinValue
          var wv: Array[Long] = null
          def flush(): Unit = if (wv != null) out += ((curShard, wv))
          it.foreach { case (shard, _, y, sp) =>
            if (wv == null || shard != curShard) {
              flush(); curShard = shard; wv = seed.clone()
            }
            var dot = 0L
            sp.foreach { case (b, c) => dot += c * wv(b.toInt) }
            if (y * dot <= 0L)
              sp.foreach { case (b, c) =>
                wv(b.toInt) += y * c * HASH_CLS_GAIN
              }
          }
          flush()
          out.iterator
        }.collect() // bounded: ≤ SHARDS rows × D longs
        if (finals.nonEmpty) {
          val sums = Array.fill(HASH_CLS_DIM)(0L)
          finals.foreach { case (_, wv) =>
            var j = 0
            while (j < HASH_CLS_DIM) { sums(j) += wv(j); j += 1 }
          }
          // truncating div — bit-compatible with the oracle's `//`
          w = sums.map(_ / finals.length)
        }
      }
      w
    })

  /** The learned weight table as a gate relation — nonzero buckets of
    * the epoch-summed perceptron, the model artifact a production
    * pipeline would persist and serve. Oracle-replayed end-to-end
    * (label rule, feature hashing, all epochs). */
  def hashClassifierTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedClsWeights(s, dir).zipWithIndex
      .collect { case (wt, b) if wt != 0L => (b.toLong, wt) }
      .toSeq.toDF("bucket", "weight").orderBy($"bucket")
  }

  /** Hashed linear classifier — the fastText-shape quality-filter
    * stage of the CCNet/LLaMA curation pipelines: per document,
    * score = Σ over features of `w[h(feature) mod D]` where features
    * are word UNIGRAMS and adjacent-word BIGRAMS, `h` is the
    * DuckDB-replayable FNV-1a-64 family
    * ([[graft.functions.TextHashes.hash64]] seed 0, replayed by
    * [[OracleSql.fnv1a64]]), and `w` is the [[HASH_CLS_DIM]]-bucket
    * integer weight table LEARNED in-engine by
    * [[trainedClsWeights]] (round 19 — no more seeded stand-in);
    * documents route on the integer threshold
    * `score < HASH_CLS_THRESHOLD`.
    *
    * Scale shape: ONE narrow scan (doc_id, text) and ZERO shuffles
    * before the output sort — features never explode into rows; the
    * per-doc score is an `aggregate` fold over the in-row feature
    * array, so a 100 TB corpus scores embarrassingly parallel at
    * scan speed, with the weight table a plan-time literal (a real
    * 10 M-bucket table would broadcast instead — same plan shape).
    * All arithmetic is integer (hash, mask, quantized weights), so
    * the oracle matches exactly, not approximately. */
  def hashClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = typedlit(trainedClsWeights(s, dir).toSeq)
    val mask = lit((HASH_CLS_DIM - 1).toLong)
    val toks = filter(split($"text", " "), t => t =!= "")
    // adjacent-word bigrams from the SAME in-row array (no explode);
    // when-guarded: sequence(1, 0) is DESCENDING in Spark (r14 lesson)
    val bis = when(size($"toks") >= 2, expr(
      "transform(sequence(1, size(toks) - 1)," +
        " i -> concat(toks[i-1], ' ', toks[i]))"))
      .otherwise(array().cast("array<string>"))
    Tables(s, dir, "documents")
      .select($"doc_id", toks.as("toks"))
      .select($"doc_id", concat($"toks", bis).as("feats"))
      .select($"doc_id",
        size($"feats").cast("long").as("n_features"),
        aggregate($"feats", lit(0L), (acc, f) =>
          acc + element_at(w, (graft.functions.GraftFunctions.fnv1a64(f)
            .bitwiseAND(mask) + lit(1L)).cast("int")))
          .as("score"))
      .select($"doc_id", $"n_features", $"score",
        ($"score" < lit(HASH_CLS_THRESHOLD)).as("is_low_quality"))
      .orderBy($"doc_id")
  }

  /** Threshold-grid resolution for [[classifierPrCurve]]: the sweep
    * evaluates PR_GRID+1 evenly spaced integer thresholds between the
    * observed holdout min and max score. A fixed grid (not the set of
    * distinct scores) keeps the relation BOUNDED at any corpus size —
    * the instrument's row count is a constant, like the scurve's
    * deciles and the opselect's banding configs. */
  val PR_GRID = 32

  /** Precision/recall threshold sweep for the trained classifier —
    * the operating-point instrument that closes the classifier story
    * the way [[graft.operators.Dedup.lshOpSelect]] closed LSH
    * banding: [[hashClassifierTrain]] learns the weights,
    * [[hashClassifier]] scores with them, and THIS relation shows
    * where to put the routing threshold. Evaluated on the HELD-OUT
    * half (mix64 bucket 1 — never seen by training, so the curve
    * measures generalization, not memorization) against the same
    * stopword-ratio teacher the trainer distilled: for each of
    * [[PR_GRID]]+1 evenly spaced integer thresholds between the
    * observed min/max holdout score, the confusion counts of
    * `predicted clean = score ≥ threshold`, with precision/recall/F1
    * in exact ppm and `is_selected` marking the smallest-threshold
    * F1 argmax — the operating point a pipeline would ship.
    *
    * Scale shape: scoring is the [[hashClassifier]] plan (one pruned
    * scan, in-row feature fold, zero pre-sort shuffles) restricted to
    * the holdout; the scored relation is checkpointed once and feeds
    * the bounded 1-row min/max probe plus a constant-side (≤33-row)
    * broadcast cross join whose aggregate is map-side combined into
    * ≤33 groups — the sweep costs one extra scan of the scored
    * holdout, never a corpus-sized shuffle. All arithmetic is
    * integer (truncating division on both engines), so the DuckDB
    * oracle replays training, scoring, grid, and selection exactly. */
  def classifierPrCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = typedlit(trainedClsWeights(s, dir).toSeq)
    val mask = lit((HASH_CLS_DIM - 1).toLong)
    val toks = filter(split($"text", " "), t => t =!= "")
    val bis = when(size($"toks") >= 2, expr(
      "transform(sequence(1, size(toks) - 1)," +
        " i -> concat(toks[i-1], ' ', toks[i]))"))
      .otherwise(array().cast("array<string>"))
    val nStop = size(filter($"toks", t => t.isInCollection(STOPWORDS)))
    val scored = Tables(s, dir, "documents")
      .filter(graft.functions.GraftFunctions.mix64_bucket(
        $"doc_id", HASH_CLS_TRAIN_BUCKETS) === 1L)
      .select($"doc_id", toks.as("toks"))
      .select($"doc_id",
        // the trainer's teacher rule verbatim (integer permille);
        // empty docs label clean (0 ≥ 0) on both engines
        (nStop.cast("long") * 1000L >=
          lit(HASH_CLS_STOP_PERMILLE) * size($"toks").cast("long"))
          .as("y"),
        concat($"toks", bis).as("feats"))
      .select($"doc_id", $"y",
        aggregate($"feats", lit(0L), (acc, f) =>
          acc + element_at(w, (GraftFunctions.fnv1a64(f)
            .bitwiseAND(mask) + lit(1L)).cast("int"))).as("score"))
      // two consumers (min/max probe + sweep join) — one scoring pass
      .localCheckpoint()
    val mm = scored.agg(min($"score"), max($"score")).head() // 1 row
    if (mm.isNullAt(0))
      // empty holdout: an empty curve with the full schema
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long,
        Long, Boolean)]
        .toDF("threshold", "tp", "fp", "fn", "tn", "precision_ppm",
          "recall_ppm", "f1_ppm", "is_selected")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // truncating Long division — (hi-lo), k both ≥ 0, so Java / and
    // DuckDB // agree; DISTINCT because a narrow score range
    // collapses grid points (both engines dedupe identically)
    val thr = (0 to PR_GRID)
      .map(k => lo + (hi - lo) * k / PR_GRID).distinct
      .toDF("threshold")
    val conf = thr.crossJoin(scored)
      .groupBy($"threshold")
      .agg(
        sum(when($"y" && $"score" >= $"threshold", 1L).otherwise(0L))
          .as("tp"),
        sum(when(!$"y" && $"score" >= $"threshold", 1L).otherwise(0L))
          .as("fp"),
        sum(when($"y" && $"score" < $"threshold", 1L).otherwise(0L))
          .as("fn"),
        sum(when(!$"y" && $"score" < $"threshold", 1L).otherwise(0L))
          .as("tn"))
      .select($"threshold", $"tp", $"fp", $"fn", $"tn",
        expr("tp * 1000000 div greatest(tp + fp, 1)")
          .as("precision_ppm"),
        expr("tp * 1000000 div greatest(tp + fn, 1)")
          .as("recall_ppm"),
        expr("2 * tp * 1000000 div greatest(2 * tp + fp + fn, 1)")
          .as("f1_ppm"))
    // selection over the BOUNDED (≤ PR_GRID+1 row) curve: global
    // window is safe here for the same reason as the scurve rollup
    val all = Window.partitionBy(lit(1))
    conf
      .withColumn("best_f1", max($"f1_ppm").over(all))
      .withColumn("best_thr",
        min(when($"f1_ppm" === $"best_f1", $"threshold")).over(all))
      .select($"threshold", $"tp", $"fp", $"fn", $"tn",
        $"precision_ppm", $"recall_ppm", $"f1_ppm",
        ($"threshold" === $"best_thr").as("is_selected"))
      .orderBy($"threshold")
  }

  /** Shingle width for [[ngramNovelty]]. */
  val NOVELTY_NGRAM = 3

  /** N-gram novelty — per-document share of word-3-gram shingles that
    * occur in NO other document, the memorization/boilerplate proxy
    * data-curation pipelines use to separate template-generated text
    * from genuinely novel content (the inverse view of the dedup
    * family: instead of finding the copies, score how much of each
    * doc ISN'T copied). Two passes: distinct shingles per doc, then a
    * global document-frequency aggregate joined back — the
    * [[tfidfTopTerms]] shape, with df==1 as the novelty predicate.
    * The permille is exact integer arithmetic. At 100 TB the df
    * shuffle ships 64-bit shingle HASHES, not strings
    * ([[graft.functions.TextHashes]]); this key shuffles the raw
    * shingles so the oracle joins the same strings the engine
    * grouped — the [[Decontaminate.decontaminate]] precedent. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the when-guard keeps the slice total: Catalyst pushes the
    // explode's inferred size(grams)>0 constraint into the scan as an
    // UNORDERED post-scan filter set, so a bare length pre-filter
    // does NOT protect the transform from sub-3-word docs
    // r19 optimization (guide §2.3/§2.4): the old shape computed the
    // gram relation TWICE (df census + join-back; pruned subplans
    // differ so ReuseExchange can't dedupe) and shuffled the full gram
    // strings THREE times (census groupBy, join-back on g, per-doc
    // rollup). A df = 1 gram has exactly ONE contributing row, so its
    // doc is recoverable as min(doc_id) inside the SAME census
    // aggregate — no join-back, no second gram shuffle: per-doc novel
    // counts come from the (tiny) df = 1 census slice regrouped by that
    // doc, and docs with zero novel grams rejoin via a left join on the
    // checkpointed doc-level relation (AQE broadcasts the novel side).
    // One gram materialization, ONE gram-sized exchange instead of 3.
    val base = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id",
        when(size($"w") >= NOVELTY_NGRAM, array_distinct(transform(
          sequence(lit(0), size($"w") - NOVELTY_NGRAM),
          i => concat_ws(" ", slice($"w", i + 1, lit(NOVELTY_NGRAM))))))
          .otherwise(array().cast("array<string>")).as("grams"))
      .filter(size($"grams") > 0)
      .select($"doc_id", size($"grams").cast("long").as("n_shingles"),
        $"grams")
      .localCheckpoint() // two consumers: census + doc-level join
    val census = base.select($"doc_id", explode($"grams").as("g"))
      .groupBy($"g").agg(count(lit(1)).as("df"), min($"doc_id").as("d"))
    val novel = census.filter($"df" === 1L)
      .groupBy($"d").agg(count(lit(1)).as("novel"))
    base.select($"doc_id", $"n_shingles")
      .join(novel, $"doc_id" === $"d", "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"novel", lit(0L)).as("novel"))
      .select($"doc_id", $"n_shingles", $"novel",
        expr("novel * 1000 div n_shingles").as("novelty_permille"))
      .orderBy($"doc_id")
  }

  /** Prefix width (words) for [[boilerplatePrefix]]. */
  val BOILER_PREFIX_WORDS = 2
  /** A source is flagged when its top prefix covers ≥ this share. */
  val BOILER_FLAG_PERMILLE = 100L

  /** Boilerplate-prefix audit — the per-source header detector
    * (scraped corpora repeat navigation/licence headers at the top of
    * every page from a site): for each source, the most common
    * leading [[BOILER_PREFIX_WORDS]]-word prefix and the share of the
    * source's docs that start with it, flagging sources past
    * [[BOILER_FLAG_PERMILLE]]. One narrow projection + one
    * (source, prefix) count (map-side combined); everything after
    * runs on the bounded distinct-prefix relation. Top prefix is a
    * deterministic argmin composite (count DESC, prefix ASC). */
  def boilerplatePrefix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = split($"text", " ")
    val counts = Tables(s, dir, "documents")
      .select($"source",
        when(size(w) >= BOILER_PREFIX_WORDS,
          concat_ws(" ", slice(w, 1, BOILER_PREFIX_WORDS)))
          .otherwise($"text").as("prefix"))
      .groupBy($"source", $"prefix")
      .agg(count(lit(1)).as("c"))
    counts.groupBy($"source")
      .agg(sum($"c").as("n_docs"),
        max($"c").as("top_count"),
        min_by($"prefix", struct((-$"c").as("nc"), $"prefix"))
          .as("top_prefix"))
      .select($"source", $"n_docs", $"top_prefix", $"top_count",
        expr("top_count * 1000 div n_docs").as("share_pm"))
      .select($"source", $"n_docs", $"top_prefix", $"top_count",
        $"share_pm",
        ($"share_pm" >= BOILER_FLAG_PERMILLE).as("flagged"))
      .orderBy($"source")
  }

  /** Benchmark pre-rep resets (consumed via [[SparkEntry.benchPreRep]]):
    * `text_bpe_train` must re-pay training on every timed rep — the
    * merge memo exists so `text_bpe_encode` consumes the table train
    * produces, not so train's own bench row measures a memo hit.
    * Declared HERE, next to the queries map, so a key rename updates
    * the reset with it instead of silently orphaning a name literal
    * inside the bench harness. */
  val benchPreRep: Map[String, () => Unit] = Map(
    "text_bpe_train" -> (() => clearBpeMemo()),
    "text_hash_classifier_train" -> (() => clearClsMemo()),
    "text_unigram_train" -> (() => clearUniMemo()))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_hash_classifier_train" -> (hashClassifierTrain _),
    "text_classifier_pr_curve" -> (classifierPrCurve _),
    "text_unigram_train" -> (unigramTrain _),
    "text_unigram_encode" -> (unigramEncode _),
    "text_tokenizer_fertility" -> (tokenizerFertility _),
    "text_boilerplate_prefix" -> (boilerplatePrefix _),
    "text_ngram_novelty" -> (ngramNovelty _),
    "text_code_detect" -> (codeDetect _),
    "text_hash_classifier" -> (hashClassifier _),
    "text_bpe_pair_stats" -> (bpePairStats _),
    "text_bpe_train" -> (bpeTrain _),
    "text_bpe_encode" -> (bpeEncode _),
    "text_winnowing" -> (winnowing _),
    "text_perplexity_bigram" -> (perplexityBigram _),
    "text_perplexity_backoff" -> (perplexityBackoff _),
    "text_perplexity_unigram" -> (perplexityUnigram _),
    "text_char_entropy" -> (charEntropy _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "text_tfidf_top_terms" -> (tfidfTopTerms _),
    "text_token_count" -> (tokenCount _),
    "text_quality_score" -> (qualityScore _),
    "text_langid" -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_rolling_fingerprint" -> (rollingFingerprint _),
    "text_pii_scrub" -> (piiScrub _),
    "text_repetition_stats" -> (repetitionStats _),
  )

  /** Shared WITH-body for the BPE oracles: vocabulary collapse +
    * [[BPE_TRAIN_ROUNDS]] unrolled merge rounds (pairs_r / best_r /
    * vocab_{r+1}), generated by the same loop the engine runs. */
  private lazy val bpeTrainCtes: String = {
    val rounds = (1 to BPE_TRAIN_ROUNDS).map { r =>
      s"""pairs_$r AS MATERIALIZED (SELECT p.pa AS pa, p.pb AS pb, freq FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(arr)),
         |    i -> struct_pack(pa := arr[i], pb := arr[i + 1]))) AS p
         |  FROM (SELECT list_filter(string_split(sym, '||'),
         |      t -> t <> '') AS arr, freq
         |    FROM vocab_$r))),
         |best_$r AS MATERIALIZED (SELECT pa, pb, n FROM (
         |  SELECT pa, pb, CAST(sum(freq) AS BIGINT) AS n
         |  FROM pairs_$r GROUP BY 1, 2)
         |  ORDER BY n DESC, pa, pb LIMIT 1),
         |vocab_${r + 1} AS MATERIALIZED (SELECT CASE WHEN b.pa IS NULL THEN sym
         |    ELSE replace(sym, '|' || b.pa || '||' || b.pb || '|',
         |      '|' || b.pa || b.pb || '|') END AS sym, freq
         |  FROM vocab_$r LEFT JOIN best_$r b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (SELECT unnest(arr) AS word,
       |    unnest(range(1, len(arr) + 1)) AS pos
       |  FROM (SELECT string_split(translate(text, '|#',
       |      chr(1) || chr(2)), ' ') AS arr FROM documents)),
       |v AS MATERIALIZED (SELECT CASE WHEN pos > 1 THEN chr(3) || word
       |      ELSE word END || chr(4) AS word,
       |    CAST(count(*) AS BIGINT) AS freq
       |  FROM w WHERE word <> '' GROUP BY 1),
       |vocab_1 AS MATERIALIZED (SELECT '||' || array_to_string(
       |    list_transform(range(1, length(word) + 1), i -> word[i]),
       |    '||') || '||' AS sym, freq
       |  FROM v),
       |$rounds""".stripMargin
  }

  /** Unrolled DuckDB replay of [[trainedClsWeights]] (validated
    * bit-exact against an independent Python reference of the IPM
    * algorithm at sf0.001 before porting here): tokenization (`t`,
    * ALL docs — the scoring oracle reuses it), the integer
    * stopword-ratio label + train-half filter (`lab`), hashed
    * uni+bigram feature counts (`trainf`), per-doc sparse vectors +
    * DENSE y·x lists (`dv` — dense via MAP lookup, NOT a per-index
    * list_filter scan: that form measured minutes, the map form
    * seconds), then [[HASH_CLS_EPOCHS]] epochs, each a RECURSIVE CTE
    * advancing every shard one doc per step (the within-shard
    * sequential pass, state = the D-long weight list) followed by
    * the truncating-div mix (`//` — DuckDB and Java both truncate
    * toward zero on integers; floor() would diverge on negative
    * sums). Every per-epoch CTE is MATERIALIZED — the un-materialized
    * seed subquery re-ran the whole previous epoch once per shard
    * row, a 4^E blowup (the r18 multi-consumer lesson, recursive
    * edition). Ends in `wavg(bucket, w)`: the nonzero mixed table. */
  private lazy val clsTrainCte: String = {
    val fnv = OracleSql.fnv1a64("g")
    val stopList = STOPWORDS.map(w => s"'$w'").mkString("(", ",", ")")
    val bucketFilter =
      s"(${OracleSql.mix64("CAST(doc_id AS HUGEINT)")}) " +
        s"% $HASH_CLS_TRAIN_BUCKETS = 0"
    val shardExpr = OracleSql.mix64(
      s"xor(CAST(doc_id AS HUGEINT), CAST(${java.lang.Long
        .toUnsignedString(HASH_CLS_SHARD_SEED)} AS HUGEINT))")
    val D = HASH_CLS_DIM
    val epochs = (1 to HASH_CLS_EPOCHS).map { e =>
      s"""it_$e(i, shard, w) AS (
         |  SELECT 0, shard, (SELECT w FROM mix_${e - 1}) FROM shards
         |  UNION ALL
         |  SELECT s.i + 1, s.shard,
         |    CASE WHEN d.doc_id IS NULL THEN s.w
         |         WHEN d.y * list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(d.sp, p -> CAST(p.c AS BIGINT)
         |               * s.w[CAST(p.b + 1 AS INTEGER)])),
         |           (a, b) -> a + b) <= 0
         |         THEN list_transform(list_zip(s.w, d.yx),
         |           p -> CAST(struct_extract(p, 1)
         |             + struct_extract(p, 2) AS BIGINT))
         |         ELSE s.w END
         |  FROM it_$e s LEFT JOIN dv d
         |    ON d.shard = s.shard AND d.rnk = s.i + 1
         |  WHERE s.i < (SELECT m FROM mx)),
         |mixed_$e AS MATERIALIZED (SELECT j,
         |    CAST(sum(w[CAST(j + 1 AS INTEGER)]) // count(*) AS BIGINT)
         |      AS v
         |  FROM it_$e, (SELECT unnest(range($D)) AS j) jj
         |  WHERE i = (SELECT m FROM mx) GROUP BY 1),
         |mix_$e AS MATERIALIZED (SELECT coalesce(
         |    (SELECT list(v ORDER BY j) FROM mixed_$e),
         |    (SELECT w FROM zeros)) AS w)""".stripMargin
    }.mkString(",\n")
    s"""t AS (SELECT doc_id, list_filter(string_split(text, ' '),
       |    w -> w <> '') AS toks FROM documents),
       |lab AS (SELECT doc_id, toks,
       |    CASE WHEN len(list_filter(toks, w -> w IN $stopList)) * 1000
       |      >= $HASH_CLS_STOP_PERMILLE * len(toks)
       |    THEN 1 ELSE -1 END AS y
       |  FROM t WHERE $bucketFilter),
       |trainf AS MATERIALIZED (SELECT doc_id, y, bucket,
       |    count(*) AS c
       |  FROM (SELECT doc_id, y,
       |      CAST(($fnv) % $D AS BIGINT) AS bucket
       |    FROM (SELECT doc_id, y, unnest(list_concat(toks,
       |        CASE WHEN len(toks) >= 2 THEN list_transform(
       |          range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |        ELSE [] END)) AS g
       |      FROM lab))
       |  GROUP BY 1, 2, 3),
       |dsp AS (SELECT doc_id, y,
       |    list(struct_pack(b := bucket, c := c) ORDER BY bucket) AS sp,
       |    map(list(bucket ORDER BY bucket), list(c ORDER BY bucket))
       |      AS m
       |  FROM trainf GROUP BY 1, 2),
       |dv0 AS (SELECT CAST(($shardExpr) % $HASH_CLS_SHARDS AS BIGINT)
       |      AS shard,
       |    doc_id, y, sp,
       |    list_transform(range($D), j -> CAST(y AS BIGINT)
       |      * $HASH_CLS_GAIN * coalesce(m[j][1], 0)) AS yx
       |  FROM dsp),
       |dv AS MATERIALIZED (SELECT shard, doc_id, y, sp, yx,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id)
       |      AS rnk
       |  FROM dv0),
       |mx AS MATERIALIZED (SELECT max(rnk) AS m FROM dv),
       |shards AS MATERIALIZED (SELECT DISTINCT shard FROM dv),
       |zeros AS MATERIALIZED (SELECT list_transform(range($D),
       |    j -> CAST(0 AS BIGINT)) AS w),
       |mix_0 AS MATERIALIZED (SELECT w FROM zeros),
       |$epochs,
       |wavg AS MATERIALIZED (SELECT j AS bucket, v AS w
       |  FROM mixed_$HASH_CLS_EPOCHS WHERE v <> 0)""".stripMargin
  }

  /** The bpe_encode oracle as a standalone value: the fertility
    * oracle embeds it as a subquery, so both tokenizers' totals come
    * from each one's OWN full first-principles replay. */
  private lazy val bpeEncodeOracle: String = {
    val encoded = (1 to BPE_TRAIN_ROUNDS).foldLeft("s0") { (acc, r) =>
      s"""replace($acc,
         |  '|' || (SELECT pa FROM best_$r) || '||' ||
         |    (SELECT pb FROM best_$r) || '|',
         |  '|' || (SELECT pa FROM best_$r) ||
         |    (SELECT pb FROM best_$r) || '|')""".stripMargin
    }
    val count = (c: String) =>
      s"CAST(len(list_filter(string_split($c, '|')," +
        s" t -> t <> '' AND t <> '#')) AS BIGINT)"
    s"""WITH $bpeTrainCtes,
       |docs AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(
       |    list_filter(list_transform(range(1, len(arr) + 1),
       |      i -> CASE WHEN arr[i] = '' THEN NULL
       |        WHEN i > 1 THEN chr(3) || arr[i] || chr(4)
       |        ELSE arr[i] || chr(4) END),
       |      f -> f IS NOT NULL),
       |    w -> '||' || array_to_string(list_transform(
       |      range(1, length(w) + 1), j -> w[j]), '||') || '||'),
       |  '#') AS s0
       |  FROM (SELECT doc_id, string_split(translate(text, '|#',
       |      chr(1) || chr(2)), ' ') AS arr FROM documents)),
       |enc AS (SELECT doc_id, ${count("s0")} AS n_symbols,
       |    ${count(encoded)} AS n_tokens
       |  FROM docs)
       |SELECT doc_id, n_symbols, n_tokens,
       |  CASE WHEN n_symbols > 0 THEN n_tokens * 1000 // n_symbols
       |    ELSE 1000 END AS compression_pm
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  /** Unigram-LM oracle machinery (validated bit-exact against an
    * independent Python twin of the engine algorithm at sf0.001/0.01/
    * 0.1 before porting here). [[uniDpWalk]] emits the Viterbi CTE
    * triple for one segmentation pass: the piece-cost MAP (scalar,
    * 1 row), the forward DP as a list_reduce whose accumulator is the
    * dp LIST (elements are singleton lists so acc and element types
    * unify — DuckDB's list_reduce has no initial-value form), and the
    * backtrack as a RECURSIVE walk over (word, pos) picking the
    * SMALLEST j achieving dp — `list_filter(range…)[1]`, the
    * pack_best_fit first-fit pattern. Map misses are NULL and
    * propagate out of both the min and the equality filter, so
    * out-of-vocab pieces never win. */
  private def uniDpWalk(tag: String, vocSrc: String): String = {
    val L = UNI_MAX_PIECE
    s"""umap_$tag AS MATERIALIZED (SELECT map(list(piece ORDER BY piece),
       |    list(cost ORDER BY piece)) AS m FROM $vocSrc),
       |udp_$tag AS MATERIALIZED (
       |  SELECT word, freq, list_reduce(
       |    list_prepend([CAST(0 AS BIGINT)],
       |      list_transform(range(1, length(word) + 1), i -> [i])),
       |    (acc, el) -> list_append(acc, list_min(list_filter(
       |      list_transform(range(greatest(el[1] - $L, 0), el[1]),
       |        j -> acc[CAST(j + 1 AS INTEGER)]
       |          + m[word[CAST(j + 1 AS INTEGER):CAST(el[1] AS INTEGER)]][1]),
       |      v -> v IS NOT NULL)))) AS dp
       |  FROM uv, umap_$tag),
       |uwalk_$tag(word, freq, pos, piece) AS (
       |  SELECT word, freq, CAST(length(word) AS BIGINT),
       |    CAST(NULL AS VARCHAR)
       |  FROM uv
       |  UNION ALL
       |  SELECT word, freq, js,
       |    word[CAST(js + 1 AS INTEGER):CAST(pos AS INTEGER)]
       |  FROM (
       |    SELECT k.word, k.freq, k.pos,
       |      CAST(list_filter(range(greatest(k.pos - $L, 0), k.pos),
       |        j -> d.dp[CAST(j + 1 AS INTEGER)]
       |            + mm.m[k.word[CAST(j + 1 AS INTEGER):CAST(k.pos AS INTEGER)]][1]
       |          = d.dp[CAST(k.pos + 1 AS INTEGER)])[1] AS BIGINT) AS js
       |    FROM uwalk_$tag k JOIN udp_$tag d ON k.word = d.word,
       |      umap_$tag mm
       |    WHERE k.pos > 0))""".stripMargin
  }

  /** Shared WITH-body replaying [[uniVocab]]: doc-keyed word forms
    * (`uw`), the vocabulary-collapsed frequency relation (`uv`), the
    * substring seed, then [[UNI_EM_ROUNDS]] segment→recount→prune
    * rounds, ending in `uvoc_<R>(piece, usage, cost)`. Everything
    * multi-consumed is MATERIALIZED. */
  private lazy val uniTrainCtes: String = {
    val L = UNI_MAX_PIECE
    val rounds = (1 to UNI_EM_ROUNDS).map { r =>
      s"""${uniDpWalk(r.toString, s"uvoc_${r - 1}")},
         |uusage_$r AS MATERIALIZED (SELECT piece,
         |    CAST(sum(freq) AS BIGINT) AS u
         |  FROM uwalk_$r WHERE piece IS NOT NULL GROUP BY 1),
         |utotu_$r AS MATERIALIZED (SELECT
         |    CAST(coalesce(sum(u), 0) AS BIGINT) AS t FROM uusage_$r),
         |uvoc_$r AS MATERIALIZED (SELECT piece, u AS usage,
         |    CAST(length(bin((SELECT t FROM utotu_$r)
         |      // greatest(u, 1))) - 1 AS BIGINT) AS cost
         |  FROM (
         |    SELECT piece, u FROM (SELECT piece, u FROM uusage_$r
         |      ORDER BY u DESC, piece LIMIT $UNI_VOCAB_K)
         |    UNION
         |    SELECT s.piece, coalesce(uu.u, 0) AS u FROM usingle s
         |      LEFT JOIN uusage_$r uu USING (piece)))""".stripMargin
    }.mkString(",\n")
    // NOTE: no generated line may START with (blanks +) '||' — this
    // body is interpolated into the oracle entries' OWN stripMargin
    // templates, and a second stripMargin pass would eat one pipe
    // (caught live: `... END\n|| chr(4)` became `\n| chr(4)`)
    s"""uw AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN pos > 1 THEN chr(3) || word ELSE word END ||
       |      chr(4) AS word
       |  FROM (SELECT doc_id, unnest(arr) AS word,
       |      unnest(range(1, len(arr) + 1)) AS pos
       |    FROM (SELECT doc_id, string_split(translate(text, '|#',
       |        chr(1) || chr(2)), ' ') AS arr FROM documents))
       |  WHERE word <> ''),
       |uv AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM uw GROUP BY 1),
       |useed AS MATERIALIZED (SELECT piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(flatten(list_transform(
       |      range(1, length(word) + 1),
       |      i -> list_transform(
       |        range(1, least($L, length(word) - i + 1) + 1),
       |        l -> word[CAST(i AS INTEGER):CAST(i + l - 1 AS INTEGER)]))))
       |      AS piece
       |    FROM uv)
       |  GROUP BY 1),
       |utot0 AS MATERIALIZED (SELECT
       |    CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t FROM useed),
       |usingle AS MATERIALIZED (SELECT piece, cnt FROM useed
       |  WHERE length(piece) = 1),
       |uvoc_0 AS MATERIALIZED (SELECT piece,
       |    CAST(length(bin((SELECT t FROM utot0)
       |      // greatest(cnt, 1))) - 1 AS BIGINT) AS cost
       |  FROM (
       |    SELECT piece, cnt FROM (SELECT piece, cnt FROM useed
       |      ORDER BY cnt DESC, piece LIMIT $UNI_SEED_K)
       |    UNION
       |    SELECT piece, cnt FROM usingle)),
       |$rounds""".stripMargin
  }

  /** Final-vocab segmentation + per-word rollup (`useg`) — shared by
    * the encode and fertility oracles. */
  private lazy val uniSegCtes: String =
    s"""${uniDpWalk("f", s"uvoc_$UNI_EM_ROUNDS")},
       |useg AS MATERIALIZED (
       |  SELECT k.word, CAST(count(*) AS BIGINT) AS n_tok,
       |    CAST(sum(v.cost) AS BIGINT) AS cost
       |  FROM uwalk_f k JOIN uvoc_$UNI_EM_ROUNDS v ON k.piece = v.piece
       |  GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_unigram_train" ->
      s"""WITH RECURSIVE $uniTrainCtes
         |SELECT piece, usage, cost AS cost_bits
         |FROM uvoc_$UNI_EM_ROUNDS ORDER BY piece""".stripMargin,
    "text_unigram_encode" ->
      s"""WITH RECURSIVE $uniTrainCtes,
         |$uniSegCtes,
         |udoc AS MATERIALIZED (SELECT uw.doc_id,
         |    CAST(sum(length(uw.word)) AS BIGINT) AS ns,
         |    CAST(sum(g.n_tok) AS BIGINT) AS nt,
         |    CAST(sum(g.cost) AS BIGINT) AS sc
         |  FROM uw JOIN useg g ON uw.word = g.word GROUP BY 1)
         |SELECT d.doc_id, coalesce(u.ns, 0) AS n_symbols,
         |  coalesce(u.nt, 0) AS n_tokens,
         |  coalesce(u.sc, 0) AS sum_cost_bits,
         |  CASE WHEN coalesce(u.ns, 0) > 0 THEN u.nt * 1000 // u.ns
         |    ELSE 1000 END AS compression_pm
         |FROM documents d LEFT JOIN udoc u USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // both tokenizers' totals from their OWN full replays (the bpe
    // encode oracle embedded as a subquery — disjoint CTE namespaces)
    "text_tokenizer_fertility" ->
      s"""WITH RECURSIVE $uniTrainCtes,
         |$uniSegCtes,
         |unit AS MATERIALIZED (SELECT
         |    CAST(coalesce(sum(length(uw.word)), 0) AS BIGINT) AS s,
         |    CAST(coalesce(sum(g.n_tok), 0) AS BIGINT) AS t
         |  FROM uw JOIN useg g ON uw.word = g.word),
         |bpet AS MATERIALIZED (SELECT
         |    CAST(coalesce(sum(n_symbols), 0) AS BIGINT) AS s,
         |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t
         |  FROM ($bpeEncodeOracle)),
         |nw AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uw)
         |SELECT * FROM (
         |  SELECT 'bpe' AS tokenizer, nw.n AS n_words,
         |    bpet.s AS n_symbols, bpet.t AS n_tokens,
         |    CAST(bpet.t * 1000 // greatest(nw.n, 1) AS BIGINT)
         |      AS tokens_per_kword,
         |    CAST(bpet.s * 1000 // greatest(bpet.t, 1) AS BIGINT)
         |      AS symbols_per_token_milli
         |  FROM nw, bpet
         |  UNION ALL
         |  SELECT 'unigram', nw.n, unit.s, unit.t,
         |    CAST(unit.t * 1000 // greatest(nw.n, 1) AS BIGINT),
         |    CAST(unit.s * 1000 // greatest(unit.t, 1) AS BIGINT)
         |  FROM nw, unit)
         |ORDER BY tokenizer""".stripMargin,
    // the (count DESC, prefix ASC) argmin is expressed as the
    // two-step min (max count, then min prefix at that count)
    "text_boilerplate_prefix" -> {
      val prefixExpr =
        s"""CASE WHEN len(string_split(text, ' '))
           |       >= $BOILER_PREFIX_WORDS
           |  THEN array_to_string(
           |    (string_split(text, ' '))[1:$BOILER_PREFIX_WORDS], ' ')
           |  ELSE text END""".stripMargin
      s"""WITH c AS (SELECT source, $prefixExpr AS prefix,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |    max(c) AS top_count
         |  FROM c GROUP BY 1),
         |tp AS (SELECT c.source, min(c.prefix) AS top_prefix
         |  FROM c JOIN t ON c.source = t.source AND c.c = t.top_count
         |  GROUP BY 1)
         |SELECT t.source, n_docs, top_prefix, top_count,
         |  CAST(top_count * 1000 // n_docs AS BIGINT) AS share_pm,
         |  (top_count * 1000 // n_docs >= $BOILER_FLAG_PERMILLE)
         |    AS flagged
         |FROM t JOIN tp ON t.source = tp.source
         |ORDER BY t.source""".stripMargin
    },
    // raw-string shingle replay (decontaminate precedent): joins the
    // identical 3-gram strings, so an engine-side tokenization or
    // dedup slip shows up as a count mismatch
    "text_ngram_novelty" ->
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |grams AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(
         |      range(1, len(w) - ${NOVELTY_NGRAM - 2}),
         |      i -> array_to_string(w[i:i+${NOVELTY_NGRAM - 1}], ' ')))
         |      AS g
         |  FROM words WHERE len(w) >= $NOVELTY_NGRAM),
         |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
         |scored AS (SELECT gr.doc_id,
         |    CASE WHEN df.df = 1 THEN 1 ELSE 0 END AS is_novel
         |  FROM grams gr JOIN df ON gr.g = df.g)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(is_novel) AS BIGINT) AS novel,
         |  CAST(sum(is_novel) * 1000 // count(*) AS BIGINT)
         |    AS novelty_permille
         |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // same portable character class, same integer permille + keyword
    // membership, same routing predicate
    "text_code_detect" -> {
      val kws = CODE_KEYWORDS.map(k => s"'$k'").mkString(",")
      s"""WITH f AS (SELECT doc_id,
         |    CAST(length(regexp_replace(text, '[^{}()=;\\[\\]<>]', '',
         |      'g')) AS BIGINT) AS n_sym,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> w IN ($kws))) AS BIGINT) AS kw_hits
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(n_sym * 1000 // n_chars AS BIGINT) AS symbol_permille,
         |  kw_hits,
         |  (n_sym * 1000 // n_chars >= 50 OR kw_hits >= 3) AS is_code
         |FROM f ORDER BY doc_id""".stripMargin
    },
    // full first-principles replay: the same FNV-1a-64 feature hash
    // (HUGEINT emulation), the weight table inlined as a literal list
    // (it is DATA — a trained model's parameters — not logic), the
    // same unsigned mod-D bucketing and integer threshold
    // the full training chain inlined (the oracle RE-TRAINS from
    // first principles — it never reads engine-computed weights),
    // then every doc scored against the replayed table
    "text_hash_classifier" -> {
      val fnv = OracleSql.fnv1a64("g")
      s"""WITH RECURSIVE $clsTrainCte,
         |af AS MATERIALIZED (SELECT doc_id,
         |    CAST(($fnv) % $HASH_CLS_DIM AS BIGINT) AS bucket
         |  FROM (SELECT doc_id, unnest(list_concat(toks,
         |      CASE WHEN len(toks) >= 2 THEN list_transform(
         |        range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |      ELSE [] END)) AS g
         |    FROM t)),
         |perdoc AS (SELECT af.doc_id, count(*) AS nf,
         |    sum(coalesce(v.w, 0)) AS score
         |  FROM af LEFT JOIN wavg v USING (bucket) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(p.nf, 0) AS BIGINT) AS n_features,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS score,
         |  (coalesce(p.score, 0) < $HASH_CLS_THRESHOLD)
         |    AS is_low_quality
         |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "text_hash_classifier_train" ->
      s"""WITH RECURSIVE $clsTrainCte
         |SELECT CAST(bucket AS BIGINT) AS bucket, w AS weight
         |FROM wavg ORDER BY bucket""".stripMargin,
    // full first-principles replay of the operating-point sweep: the
    // oracle RE-TRAINS the weights (shared clsTrainCte), re-scores
    // the HOLDOUT half (mix64 bucket 1), rebuilds the integer
    // threshold grid from its own min/max, and re-derives the
    // smallest-threshold F1 argmax — training, scoring, grid, and
    // selection all replayed, nothing read from the engine
    "text_classifier_pr_curve" -> {
      val fnv = OracleSql.fnv1a64("g")
      val stopList = STOPWORDS.map(w => s"'$w'").mkString("(", ",", ")")
      val holdFilter =
        s"(${OracleSql.mix64("CAST(doc_id AS HUGEINT)")}) " +
          s"% $HASH_CLS_TRAIN_BUCKETS = 1"
      s"""WITH RECURSIVE $clsTrainCte,
         |hl AS (SELECT doc_id, toks,
         |    (len(list_filter(toks, w -> w IN $stopList)) * 1000
         |      >= $HASH_CLS_STOP_PERMILLE * len(toks)) AS y
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
         |      w -> w <> '') AS toks FROM documents
         |    WHERE $holdFilter)),
         |haf AS MATERIALIZED (SELECT doc_id,
         |    CAST(($fnv) % $HASH_CLS_DIM AS BIGINT) AS bucket
         |  FROM (SELECT doc_id, unnest(list_concat(toks,
         |      CASE WHEN len(toks) >= 2 THEN list_transform(
         |        range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |      ELSE [] END)) AS g
         |    FROM hl)),
         |hsc0 AS (SELECT haf.doc_id, sum(coalesce(v.w, 0)) AS score
         |  FROM haf LEFT JOIN wavg v USING (bucket) GROUP BY 1),
         |hsc AS MATERIALIZED (SELECT l.doc_id, l.y,
         |    CAST(coalesce(s0.score, 0) AS BIGINT) AS score
         |  FROM hl l LEFT JOIN hsc0 s0 ON l.doc_id = s0.doc_id),
         |mm AS (SELECT min(score) AS lo, max(score) AS hi FROM hsc),
         |gr AS (SELECT DISTINCT lo + (hi - lo) * k // $PR_GRID
         |      AS threshold
         |  FROM mm, (SELECT unnest(range(${PR_GRID + 1})) AS k)
         |  WHERE lo IS NOT NULL),
         |cf AS (SELECT threshold,
         |    sum(CASE WHEN y AND score >= threshold
         |      THEN 1 ELSE 0 END) AS tp,
         |    sum(CASE WHEN NOT y AND score >= threshold
         |      THEN 1 ELSE 0 END) AS fp,
         |    sum(CASE WHEN y AND score < threshold
         |      THEN 1 ELSE 0 END) AS fn,
         |    sum(CASE WHEN NOT y AND score < threshold
         |      THEN 1 ELSE 0 END) AS tn
         |  FROM gr CROSS JOIN hsc GROUP BY 1),
         |f AS MATERIALIZED (SELECT threshold, tp, fp, fn, tn,
         |    tp * 1000000 // greatest(tp + fp, 1) AS precision_ppm,
         |    tp * 1000000 // greatest(tp + fn, 1) AS recall_ppm,
         |    2 * tp * 1000000 // greatest(2 * tp + fp + fn, 1)
         |      AS f1_ppm
         |  FROM cf),
         |b AS (SELECT min(threshold) AS bt FROM f
         |  WHERE f1_ppm = (SELECT max(f1_ppm) FROM f))
         |SELECT CAST(threshold AS BIGINT) AS threshold,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
         |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
         |  CAST(f1_ppm AS BIGINT) AS f1_ppm,
         |  (threshold = (SELECT bt FROM b)) AS is_selected
         |FROM f ORDER BY threshold""".stripMargin
    },
    // vocabulary-collapsed replay: same freq-weighted char-pair counts,
    // same (n DESC, pair ASC) rank
    "text_bpe_pair_stats" ->
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |f AS (SELECT word, count(*) AS freq FROM w
         |  WHERE length(word) >= 2 GROUP BY 1),
         |p AS (SELECT unnest(list_transform(range(1, length(word)),
         |    i -> substring(word, CAST(i AS INTEGER), 2))) AS pair,
         |    freq
         |  FROM f),
         |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p
         |  GROUP BY 1),
         |r AS (SELECT pair, n,
         |    row_number() OVER (ORDER BY n DESC, pair) AS rank FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, pair, n
         |FROM r WHERE rank <= $BPE_TOPK ORDER BY rank""".stripMargin,
    // all K merge rounds unrolled by the same Scala loop the engine
    // runs — per round: pair counts over the ||-delimited symbol
    // strings, a 1-row (n DESC, pa, pb) argmax CTE, and the greedy
    // left-to-right literal replace (LEFT JOIN ON TRUE so an exhausted
    // round degrades to identity instead of truncating the vocab)
    "text_bpe_train" -> {
      val union = (1 to BPE_TRAIN_ROUNDS).map { r =>
        s"SELECT CAST($r AS BIGINT) AS merge_round, pa, pb," +
          s" pa || pb AS merged, n FROM best_$r"
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeTrainCtes
         |$union
         |ORDER BY merge_round""".stripMargin
    },
    // training replay (shared CTE chain) + per-doc encode: every doc's
    // boundary-complete word forms (delimiter-escaped, BOW/EOW-marked)
    // in the same ||-wire-form joined by the '#' hard boundary, the 12
    // merges applied as nested replaces with scalar subqueries on the
    // best_r CTEs — byte-for-byte the engine's plan
    "text_bpe_encode" -> bpeEncodeOracle,
    // full first-principles replay: HUGEINT FNV per word 4-gram,
    // truncated-tail windows, argmin with the rightmost-tie rule as
    // row_number (h ASC, pos DESC), distinct selected positions
    "text_winnowing" -> {
      val fnv = OracleSql.toSigned(OracleSql.fnv1a64("g"))
      s"""WITH words AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |idx AS (SELECT doc_id, w,
         |    unnest(range(1, len(w) - ${WINNOW_K - 2})) AS i
         |  FROM words WHERE len(w) >= $WINNOW_K),
         |grams AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         |    array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER)
         |      + ${WINNOW_K - 1}], ' ') AS g
         |  FROM idx),
         |hashes AS (SELECT doc_id, pos, $fnv AS h FROM grams),
         |cnt AS (SELECT doc_id, count(*) AS n FROM hashes GROUP BY 1),
         |wins AS (SELECT doc_id, CAST(
         |    unnest(range(0, greatest(n - ${WINNOW_W - 1}, 1)))
         |    AS BIGINT) AS j FROM cnt),
         |pick AS (SELECT doc_id, j, pos, h,
         |    row_number() OVER (PARTITION BY doc_id, j
         |      ORDER BY h, pos DESC) AS rn
         |  FROM (SELECT wi.doc_id, wi.j, ha.pos, ha.h
         |    FROM wins wi JOIN hashes ha ON ha.doc_id = wi.doc_id
         |      AND ha.pos >= wi.j AND ha.pos <= wi.j + ${WINNOW_W - 1})),
         |sel AS (SELECT DISTINCT doc_id, pos, h
         |  FROM pick WHERE rn = 1)
         |SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_grams,
         |  CAST(count(*) AS BIGINT) AS n_selected,
         |  CAST(min(s.h) AS BIGINT) AS min_fp
         |FROM cnt c JOIN sel s ON c.doc_id = s.doc_id
         |GROUP BY c.doc_id, c.n ORDER BY c.doc_id""".stripMargin
    },
    // conditional-model replay: same integer floor-log2 quantization,
    // context counts normalized from the bigram table on both sides
    "text_perplexity_bigram" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w FROM d),
        |ucnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM ucnt),
        |bi AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> [ws[i], ws[i + 1]])) AS b
        |  FROM d WHERE len(ws) >= 2),
        |bi2 AS (SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM bi),
        |bcnt AS (SELECT w1, w2, count(*) AS c12 FROM bi2 GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM bcnt GROUP BY 1),
        |fs AS (SELECT f.doc_id, length(bin(tot.t // u.c)) - 1 AS s
        |  FROM (SELECT doc_id, ws[1] AS w FROM d) f
        |  JOIN ucnt u ON f.w = u.w CROSS JOIN tot),
        |bs AS (SELECT b.doc_id, length(bin(ctx.c1 // bc.c12)) - 1 AS s
        |  FROM bi2 b
        |  JOIN bcnt bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        |  JOIN ctx ON b.w1 = ctx.w1),
        |alls AS (SELECT * FROM fs UNION ALL SELECT * FROM bs)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(s) AS BIGINT) AS sum_surprisal,
        |  CAST(max(s) AS BIGINT) AS max_surprisal
        |FROM alls GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // reference-half model (the same splitmix64 bucket membership the
    // sampling oracles replay), LEFT joins so an out-of-model bigram
    // takes the α = 2/5 stupid-backoff branch, identical bit-length
    // log2 floors, and the backoff count aggregated per doc
    "text_perplexity_backoff" -> {
      val bucket =
        s"(${OracleSql.mix64("CAST(doc_id AS HUGEINT)")}) " +
          s"% $BACKOFF_REF_BUCKETS"
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |refd AS (SELECT * FROM d WHERE ($bucket) = 0),
         |ucnt AS (SELECT w, count(*) AS c FROM (
         |  SELECT unnest(ws) AS w FROM refd) GROUP BY 1),
         |tot AS (SELECT coalesce(sum(c), 0) AS t FROM ucnt),
         |rbi AS (SELECT b[1] AS w1, b[2] AS w2 FROM (
         |  SELECT unnest(list_transform(range(1, len(ws)),
         |    i -> [ws[i], ws[i + 1]])) AS b
         |  FROM refd WHERE len(ws) >= 2)),
         |bcnt AS (SELECT w1, w2, count(*) AS c12 FROM rbi GROUP BY 1, 2),
         |ctx AS (SELECT w1, sum(c12) AS c1 FROM bcnt GROUP BY 1),
         |fs AS (SELECT f.doc_id,
         |    length(bin(tot.t // greatest(coalesce(u.c, 0), 1))) - 1
         |      AS s, FALSE AS backed
         |  FROM (SELECT doc_id, ws[1] AS w FROM d) f
         |  LEFT JOIN ucnt u ON f.w = u.w CROSS JOIN tot),
         |bi2 AS (SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |    i -> [ws[i], ws[i + 1]])) AS b
         |  FROM d WHERE len(ws) >= 2)),
         |bs AS (SELECT b.doc_id,
         |    CASE WHEN bc.c12 IS NOT NULL
         |      THEN length(bin(ctx.c1 // bc.c12)) - 1
         |      ELSE length(bin(($BACKOFF_ALPHA_DEN * tot.t)
         |        // ($BACKOFF_ALPHA_NUM
         |          * greatest(coalesce(u2.c, 0), 1)))) - 1
         |    END AS s,
         |    (bc.c12 IS NULL) AS backed
         |  FROM bi2 b
         |  LEFT JOIN bcnt bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
         |  LEFT JOIN ctx ON b.w1 = ctx.w1
         |  LEFT JOIN ucnt u2 ON b.w2 = u2.w
         |  CROSS JOIN tot),
         |alls AS (SELECT * FROM fs UNION ALL SELECT * FROM bs)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(s) AS BIGINT) AS sum_surprisal,
         |  CAST(max(s) AS BIGINT) AS max_surprisal,
         |  CAST(sum(CASE WHEN backed THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_backoff
         |FROM alls GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    // floor(log2(total div c)) replayed as length(bin(..)) - 1 — the
    // identical integer formula, so the sums are exact on both sides
    "text_perplexity_unigram" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM cnt)
        |SELECT t.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(bin(tot.t // cnt.c)) - 1) AS BIGINT)
        |    AS sum_surprisal,
        |  CAST(max(length(bin(tot.t // cnt.c)) - 1) AS BIGINT)
        |    AS max_surprisal
        |FROM tok t JOIN cnt ON t.w = cnt.w CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    // the same bit-length log₂ at character granularity; the per-doc
    // model means no corpus-wide CTE at all
    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cnt AS (SELECT doc_id, ch, count(*) AS c
        |  FROM ch WHERE ch <> '' GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1)
        |SELECT cnt.doc_id,
        |  CAST(max(tot.n) AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS distinct_chars,
        |  CAST(sum(cnt.c * (length(bin(tot.n // cnt.c)) - 1))
        |    AS BIGINT) AS surprisal_bits
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // lexicon ranks replayed with the same (count DESC, token ASC)
    // total order; the quantized inverse-rank credit is identical IEEE
    // division + floor, summed in exact integer arithmetic
    "text_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
         |vocab AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rank
         |  FROM cnt ORDER BY c DESC, w LIMIT $VOCAB_V)
         |SELECT t.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(v.rank) AS BIGINT) AS n_in_vocab,
         |  CAST(coalesce(sum(
         |    CAST(floor(1000000000.0 / v.rank + 0.5) AS BIGINT)), 0)
         |    AS BIGINT) AS score_q
         |FROM tok t LEFT JOIN vocab v ON t.w = v.w
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    "text_tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT doc_id, term, tf, df,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf * 1.0 / df DESC, term) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        | cast(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
        |   AS BIGINT) AS bpeish_tokens,
        | cast(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_score" ->
      """SELECT doc_id,
        | round(length(regexp_replace(text, '[^a-z]', '', 'g'))
        |   * 1.0 / length(text), 4) AS alpha_ratio,
        | round(len(list_filter(string_split(text, ' '), w -> w IN
        |   ('the','a','an','and','or','of','to','in','is','it','that',
        |    'for','on','with','as')))
        |   * 1.0 / len(string_split(text, ' ')), 4) AS stop_ratio,
        | round((length(text) - len(string_split(text, ' ')) + 1)
        |   * 1.0 / len(string_split(text, ' ')), 4) AS mean_word_len,
        | round((length(regexp_replace(text, '[^a-z]', '', 'g'))
        |     * 1.0 / length(text)) * 0.5
        |   + (len(list_filter(string_split(text, ' '), w -> w IN
        |     ('the','a','an','and','or','of','to','in','is','it','that',
        |      'for','on','with','as')))
        |     * 1.0 / len(string_split(text, ' '))) * 0.3
        |   + (1.0 / ((length(text) - len(string_split(text, ' ')) + 1)
        |     * 1.0 / len(string_split(text, ' ')) + 1.0)) * 0.2, 4)
        |   AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |   ' +', ' ', 'g')) AS md5_fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // argmax via list_max over (hits, lang) structs — DuckDB struct
    // ordering is lexicographic by field, identical to Spark's
    // greatest() over struct(hits, lang).
    "text_langid" -> {
      def hits(ws: Seq[String]) =
        s"len(list_filter(w, x -> x IN (${ws.map("'" + _ + "'").mkString(",")})))"
      val structs = Seq(
        "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
        "en" -> Seq("the", "a", "and", "of", "to", "is"),
        "es" -> Seq("el", "la", "y", "de", "que", "es"),
        "fr" -> Seq("le", "la", "et", "de", "est", "un"))
        .map { case (l, ws) => s"{'hits': ${hits(ws)}, 'lang': '$l'}" }
        .mkString(", ")
      s"""WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |m AS (SELECT doc_id, lang, list_max([$structs]) AS best FROM s)
         |SELECT doc_id, lang AS labeled_lang, best.lang AS predicted_lang,
         |  CAST(best.hits AS BIGINT) AS hits
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "text_rolling_fingerprint" ->
      s"""SELECT doc_id, ${OracleSql.toSigned(OracleSql.rollingHash("text"))} AS rolling_fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    // Rebuilds the rendered log line and replays the same redaction
    // chain; regexes are the Java/RE2 common subset so both engines
    // match identically.
    "text_pii_scrub" -> {
      // single-line on purpose: this fragment is interpolated into a
      // stripMargin'd outer string, and a second margin-strip would eat
      // the first '|' of any line-leading '||'
      val rendered =
        "event_type || ' ' || " +
          "CASE WHEN user_id % 2 = 0 THEN 'user' || CAST(user_id AS VARCHAR)" +
          " || '@example.com' ELSE 'anon' END || ' ' || " +
          "CASE WHEN event_id % 3 = 0 THEN 'ip=10.0.' ||" +
          " CAST(user_id % 256 AS VARCHAR) || '.' ||" +
          " CAST(event_id % 256 AS VARCHAR) ELSE 'noip' END || ' ' || " +
          "'phone 555-01' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0')" +
          " || ' ' || props"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\b555-[0-9]{4}\\b"
      s"""WITH r AS (SELECT event_id, ($rendered) AS line FROM events),
         |red AS (SELECT event_id, line,
         |  regexp_replace(regexp_replace(regexp_replace(line,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS redacted FROM r)
         |SELECT event_id,
         | CAST(len(regexp_extract_all(line, '$email')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(line, '$ip')) AS BIGINT) AS n_ip,
         | CAST(len(regexp_extract_all(line, '$phone')) AS BIGINT) AS n_phone,
         | CAST(length(redacted) AS BIGINT) AS redacted_len,
         | md5(redacted) AS redacted_md5
         |FROM red ORDER BY event_id""".stripMargin
    },
    // Token/2-gram stats re-derived via unnest+group-by (vs the
    // operator's per-row hash counting) — independent computation of
    // the same definitions, including the (count desc, token asc)
    // argmax tie-break.
    "text_repetition_stats" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, t AS top_token, c AS top_count,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rn
        |  FROM tc),
        |base AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd,
        |  len(w) - 1 AS n2,
        |  len(list_distinct(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1]))) AS nd2
        |  FROM w)
        |SELECT b.doc_id, CAST(n AS BIGINT) AS n_tokens,
        | round(nd * 1.0 / n, 6) AS distinct_ratio,
        | top_token,
        | round(top_count * 1.0 / n, 6) AS top_token_frac,
        | CASE WHEN n2 <= 0 THEN 0.0
        |      ELSE round((n2 - nd2) * 1.0 / n2, 6) END AS dup_2gram_frac
        |FROM base b JOIN top USING (doc_id) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
  )
}
