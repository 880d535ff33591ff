package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-A operators:
  * [[Relational.q76RecursiveBom]] (frontier-iterated recursive walk),
  * [[TextAnalysis.bpePairStats]] (BPE merge-candidate counting) and
  * [[Curation.mixEpochs]] (epoch-aware source upsampling manifest).
  */
class BatchR14Spec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("q76: walk reaches the root with multiplied quantities") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_bom").toString
    // 157 -> 15 (qty 157%5+1=3) -> 1 (qty 15%5+1=1); 42 -> 4 (qty 3);
    // 1 and 3 are roots themselves
    Seq(1L, 3L, 15L, 42L, 157L)
      .map(k => (k, s"part-$k", "Brand#11"))
      .toDF("p_partkey", "p_name", "p_brand")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    val out = Relational.q76RecursiveBom(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == ((1L, 0L, 1L)))
    assert(out(3L) == ((3L, 0L, 1L)))
    assert(out(15L) == ((1L, 1L, 1L)))
    assert(out(42L) == ((4L, 1L, 3L)))
    assert(out(157L) == ((1L, 2L, 3L)))
  }

  test("bpe pair stats: corpus-frequency-weighted char pairs, ranked") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_bpe").toString
    // vocab: abab (freq 2) -> pairs ab,ba,ab each occurrence;
    //        ab (freq 1) -> pair ab. totals: ab=5, ba=2
    Seq((1L, "abab ab", "en"), (2L, "abab x", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.bpePairStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "ab", 5L), (2L, "ba", 2L)))
  }

  test("kcore: pendant node peels off, dense core survives with degree") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_kc").toString
    val t0 = new java.sql.Timestamp(1700000000000L)
    // full bipartite 3x3 (every degree 3 = KCORE_K) + pendant cust 4
    val pairs = (for (c <- 1L to 3L; su <- 1L to 3L) yield (c, su)) :+
      ((4L, 1L))
    val orders = pairs.zipWithIndex.map { case ((c, _), i) =>
      (i + 1L, c, "O", 1.0, t0, "x")
    }
    val lines = pairs.zipWithIndex.map { case ((_, su), i) =>
      (i + 1L, su)
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    // supplier dim for the kind-membership join (replica-safe labeling)
    Seq(1L, 2L, 3L).toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val out = Graph.kcorePeel(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = ((1L to 3L).map(c => ("customer", c) -> 3L) ++
      (1L to 3L).map(su => ("supplier", su) -> 3L)).toMap
    assert(out == expected) // customer 4 peeled in round 1
  }

  test("unpivot: wide row melts to one (measure, value) row per column") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_up").toString
    Seq((7L, 5L, "O", 12.34,
        java.sql.Timestamp.valueOf("1995-01-03 00:00:00"), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q77Unpivot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((7L, "cust_key", 5L), (7L, "day_offset", 2L),
      (7L, "price_cents", 1234L)))
  }

  test("code detect: symbol density and keywords route code vs prose") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_cd").toString
    val code = "def foo() { return x; }" // 5 symbols / 23 chars, 2 kws
    val prose = "the cat sat on the mat"
    Seq((1L, code, "en"), (2L, prose, "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.codeDetect(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((5000L / 23L, 2L, true)))
    assert(out(2L) == ((0L, 0L, false)))
  }

  test("mm embedding dedup: same-cell pairs only within a modality") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_mmd").toString
    def e(i: Int, sign: Double): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(i) = sign.toFloat; v
    }
    // centroids 0..7: +-one-hots (pairwise cosine <= 0); 9,12 hug
    // centroid 0 (image cell); 10,14 hug centroid 4 (audio cell) but
    // 14 is video -> the (10,14)/(4,14) pairs must be suppressed
    val rows = Seq(
      0L -> e(0, 1), 1L -> e(1, 1), 2L -> e(2, 1), 3L -> e(3, 1),
      4L -> e(0, -1), 5L -> e(1, -1), 6L -> e(2, -1), 7L -> e(3, -1),
      9L -> e(0, 0.9), 12L -> e(0, 0.9),
      10L -> e(0, -0.9), 14L -> e(0, -0.9))
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Multimodal.embeddingDedup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      ("image", 0L, 9L), ("image", 0L, 12L), ("image", 9L, 12L),
      ("audio", 4L, 10L)))
  }

  test("dq freshness: hierarchical max-gap equals the flat definition") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dqf").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val us = 1000000L
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "a", 1.0),
      (2L, ts("2024-03-01 10:00:05"), 1L, "a", 1.0),
      (3L, ts("2024-03-02 10:00:10"), 1L, "a", 1.0), // crosses a day
      (4L, ts("2024-03-01 09:00:00"), 2L, "b", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Quality.freshness(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // a: gaps 5 s and 86405 s (day-boundary) -> max 86405 s; fresh
    assert(out("a") == ((3L, 0L, 86405L * us)))
    // b: single event -> gap 0; staleness = a.last - b.last
    val staleB = (ts("2024-03-02 10:00:10").getTime -
      ts("2024-03-01 09:00:00").getTime) * 1000L
    assert(out("b") == ((1L, staleB, 0L)))
  }

  test("changelog compact: net-effect folding per key") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_clc").toString
    val t0 = new java.sql.Timestamp(1700000000000L)
    // 1: I only; 3: I,U; 4: I,D -> vanishes; 5: no ops; 15: U only;
    // 20: D only -> tombstone; 60: U,D -> tombstone
    Seq(1L, 3L, 4L, 5L, 15L, 20L, 60L)
      .map(k => (k, 1L, "O", 1.00, t0, "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Cdc.changelogCompact(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out == Map(
      1L -> (("I", 100L)), 3L -> (("I", 10100L)),
      15L -> (("U", 10100L)), 20L -> (("D", -1L)), 60L -> (("D", -1L))))
  }

  test("reciprocal topk: matches an in-spec brute-force reference") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_rk").toString
    // 10 deterministic 4-dim vectors; K=5 is binding (9 candidates)
    val vecs = (0 until 10).map { i =>
      i.toLong -> Array.tabulate(4)(j => (((i * 7 + j * 3) % 11) - 5).toFloat)
    }
    vecs.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    // reference: exact cosine top-5 with (cos DESC, id ASC), then
    // mutual pairs
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    val byId = vecs.toMap
    val topk: Map[Long, Seq[(Long, Long)]] = vecs.map { case (i, v) =>
      i -> byId.keys.filter(_ != i).toSeq
        .map(j => (j, cos(v, byId(j))))
        .sortBy { case (j, c) => (-c, j) }.take(5).zipWithIndex
        .map { case ((j, _), r) => (j, r + 1L) }
    }.toMap
    val expected = (for {
      (a, ns) <- topk.toSeq
      (b, ra) <- ns if a < b
      rb <- topk(b).collectFirst { case (`a`, r) => r }
    } yield (a, b, ra, rb)).toSet
    val out = Similarity.reciprocalTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(expected.nonEmpty && out == expected)
  }

  test("map agg: canonical k:v rendering and map read-back") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ma").toString
    val t0 = new java.sql.Timestamp(1700000000000L)
    Seq((1L, "O", "1-URGENT"), (2L, "O", "1-URGENT"), (3L, "O", "3-MEDIUM"),
      (4L, "F", "2-HIGH"))
      .map { case (k, st, p) => (k, 1L, st, 1.0, t0, p) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Relational.q78MapAgg(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    assert(out("O") == ((3L, "1-URGENT:2,3-MEDIUM:1", 2L)))
    assert(out("F") == ((1L, "2-HIGH:1", -1L)))
  }

  test("mix epochs: full-epoch and partial-permille integer arithmetic") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_mix").toString
    // wiki: 2 docs x 3 tokens = 6 toks -> 333 full epochs, rem 2,
    // permille 333; web: one 3000-token doc -> 0 epochs, permille 666
    val webText = Seq.fill(3000)("w").mkString(" ")
    Seq((1L, "a b c", "wiki"), (2L, "d e f", "wiki"), (3L, webText, "web"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Curation.mixEpochs(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val (wikiDocs, wikiToks, wikiEp, wikiPm, wikiNp, wikiEst) = out("wiki")
    assert((wikiDocs, wikiToks, wikiEp, wikiPm) == ((2L, 6L, 333L, 333L)))
    // partial membership is the splitmix64 bucket — structural bound
    // here; the DuckDB oracle pins the exact membership at sf0.01
    assert(wikiNp >= 0L && wikiNp <= 2L)
    assert(wikiEst == 333L * 6L + wikiNp * 3L)
    val (webDocs, webToks, webEp, webPm, webNp, webEst) = out("web")
    assert((webDocs, webToks, webEp, webPm) == ((1L, 3000L, 0L, 666L)))
    assert(webEst == webNp * 3000L)
  }
}
