package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Checks for the round-5 training-mix operators: PII scrub,
  * intra-document repetition stats, sequence packing, and seeded
  * k-means assignment. Each is recomputed independently in plain Scala
  * over the same parquet inputs (the DuckDB oracle is the second,
  * cross-engine check), plus plan-shape assertions for the scale
  * claims (no joins / no corpus broadcast in the narrow ops).
  */
class PipelineOpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSpark.session

  test("pii scrub: counts and redaction match a plain-Scala replay") {
    import spark.implicits._
    val out = TextAnalysis.piiScrub(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5)))
      .toMap
    val events = graft.sources.Tables(spark, dir, "events")
      .select($"event_id", $"event_type", $"user_id", $"props")
      .as[(Long, String, Long, String)].collect()
    assert(events.nonEmpty && out.size == events.length)
    events.foreach { case (eid, etype, uid, props) =>
      val line = Seq(
        etype,
        if (uid % 2 == 0) s"user$uid@example.com" else "anon",
        if (eid % 3 == 0) s"ip=10.0.${uid % 256}.${eid % 256}" else "noip",
        s"phone 555-01" + "%02d".format(eid % 100),
        props).mkString(" ")
      val redacted = line
        .replaceAll(TextAnalysis.EMAIL_RE, "<EMAIL>")
        .replaceAll(TextAnalysis.IP_RE, "<IP>")
        .replaceAll(TextAnalysis.PHONE_RE, "<PHONE>")
      val (nEmail, nIp, nPhone, gotMd5) = out(eid)
      assert(nEmail == (if (uid % 2 == 0) 1L else 0L), s"event $eid email")
      assert(nIp == (if (eid % 3 == 0) 1L else 0L), s"event $eid ip")
      assert(nPhone == 1L, s"event $eid phone")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(redacted.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(gotMd5 == md5, s"event $eid: redaction diverged")
      assert(!redacted.contains("@example.com") &&
        !redacted.contains("ip=10.0."), s"event $eid: PII survived")
    }
  }

  test("repetition stats match a plain-Scala recount") {
    import spark.implicits._
    val out = TextAnalysis.repetitionStats(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getString(3), r.getDouble(4),
          r.getDouble(5)))
      .toMap
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docs.nonEmpty && out.size == docs.length)
    docs.foreach { case (id, text) =>
      val w = text.split(' ')
      val counts = w.groupBy(identity).view.mapValues(_.length).toMap
      val (topTok, topCnt) = counts.toSeq.minBy { case (t, c) => (-c, t) }
      val n2 = math.max(w.length - 1, 0)
      val nd2 = w.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSet.size
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, dr, tt, tf, dg) = out(id)
      assert(n == w.length.toLong, s"doc $id n_tokens")
      assert(dr == r6(counts.size.toDouble / w.length), s"doc $id distinct")
      assert(tt == topTok && tf == r6(topCnt.toDouble / w.length),
        s"doc $id top token: got ($tt,$tf) want ($topTok,$topCnt/${w.length})")
      val wantDg = if (n2 == 0) 0.0 else r6((n2 - nd2).toDouble / n2)
      assert(dg == wantDg, s"doc $id dup 2-gram")
    }
  }

  test("pack_sequences: contiguous per-source streams cut at the budget") {
    val rows = Curation.packSequences(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (source, docs) =>
      var expectStart = 0L
      docs.sortBy(_._2).foreach {
        case (_, docId, nTok, start, packFirst, packLast) =>
          assert(start == expectStart,
            s"$source/$docId: start $start, want $expectStart (contiguous)")
          assert(packFirst == start / Curation.PACK_BUDGET, s"$source/$docId")
          assert(packLast == (start + nTok - 1) / Curation.PACK_BUDGET,
            s"$source/$docId")
          assert(packFirst <= packLast)
          expectStart += nTok
      }
    }
    // a source wraps into chunk 1+ exactly when its token total
    // exceeds the budget (vacuous at sf0.001's 50 tiny docs, real at
    // sf0.01+ — the invariant, not a fixed count, so the test holds at
    // any SF)
    rows.groupBy(_._1).foreach { case (source, docs) =>
      val total = docs.map(_._3).sum
      val wrapped = docs.exists(_._6 >= 1L)
      assert(wrapped == (total > Curation.PACK_BUDGET),
        s"$source: total=$total wrapped=$wrapped")
    }
  }

  test("kmeans assignment: argmin matches; seeds self-assign; no join") {
    import spark.implicits._
    val df = Similarity.kmeansAssign(spark, dir)
    // scale shape: broadcast-K + narrow map — the plan must contain no
    // join of any kind (a cross/shuffle join here would be the
    // corpus×centroids mistake this operator exists to avoid)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"unexpected join:\n$plan")

    val out = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val emb = graft.sources.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val cents = emb.filter(_._1 < Similarity.KMEANS_K)
    assert(cents.length == Similarity.KMEANS_K)
    emb.foreach { case (id, v) =>
      var bestC = -1L; var bestD = Double.MaxValue
      cents.foreach { case (cid, c) =>
        var s2 = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - c(i); s2 += d * d; i += 1 }
        if (s2 < bestD) { bestD = s2; bestC = cid }
      }
      val (cl, _) = out(id)
      assert(cl == bestC, s"vec $id: got $cl want $bestC")
    }
    cents.foreach { case (cid, _) =>
      val (cl, d2) = out(cid)
      assert(cl == cid && d2 == 0.0, s"seed $cid not self-assigned")
    }
  }

  test("token-budget sample matches a plain-Scala replay") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
      .map { case (id, src, text) => (id, src, text.split(' ').length.toLong) }
    val totals = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val want = docs.flatMap { case (id, src, n) =>
      val p = math.min(1000L, 1000L * Curation.TOKEN_BUDGET / totals(src))
      val bucket = java.lang.Long.remainderUnsigned(
        graft.functions.TextHashes.mix64(id), 1000L)
      if (bucket < p) Some((id, src, n, p)) else None
    }.sortBy(_._1).toSeq
    val got = Curation.tokenBudgetSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("temperature mix matches a plain-Scala replay and flattens sources") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"source")
      .as[(Long, String)].collect()
    val totals = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nMin = totals.values.min
    def permille(n: Long): Long = math.min(1000L,
      math.floor(1000.0 * math.sqrt(nMin.toDouble / n.toDouble)).toLong)
    val want = docs.flatMap { case (id, src) =>
      val p = permille(totals(src))
      val bucket = java.lang.Long.remainderUnsigned(
        graft.functions.TextHashes.mix64(id), 1000L)
      if (bucket < p) Some((id, src, totals(src), p)) else None
    }.sortBy(_._1).toSeq
    val got = Curation.temperatureMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    assert(got.nonEmpty)
    // α = 0.5 semantics: the smallest source is kept whole, and kept
    // EXPECTED counts are proportional to sqrt(n) — i.e. the kept
    // ratio between the largest and smallest source is the sqrt of
    // their raw ratio, not the raw ratio
    val smallest = totals.minBy(_._2)._1
    assert(permille(totals(smallest)) == 1000L)
    // the driver corpus ships perfectly balanced sources (verified:
    // every SF has equal counts per source), where the α-curve keeps
    // everything — so exercise the DOWNSAMPLING path on a synthetic
    // skewed frame: 4 sources sized 10/40/90/1000
    val skewed = (
      (0L until 10L).map(i => (i, "tiny")) ++
      (100L until 140L).map(i => (i, "small")) ++
      (1000L until 1090L).map(i => (i, "mid")) ++
      (10000L until 11000L).map(i => (i, "big"))).toDF("doc_id", "source")
    val mixed = Curation.temperatureMixOn(skewed).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pOf = mixed.map(t => t._2 -> t._4).toMap
    // permille = floor(1000*sqrt(n_min/n)): tiny kept whole, the rest
    // flattened on the sqrt curve
    assert(pOf("tiny") == 1000L)
    assert(pOf("small") == 500L) // sqrt(10/40) = 1/2
    assert(pOf("mid") == 333L)   // sqrt(10/90) = 1/3
    assert(pOf("big") == 100L)   // sqrt(10/1000) = 1/10
    // kept rows are exactly the bucket-test survivors at those rates
    for ((id, src, _, p) <- mixed) {
      val bucket = java.lang.Long.remainderUnsigned(
        graft.functions.TextHashes.mix64(id), 1000L)
      assert(bucket < p, s"row ($id,$src) kept with bucket $bucket >= $p")
    }
    // expected-count flattening: big is 100x tiny raw but only ~10x kept
    val kept = mixed.groupBy(_._2).view.mapValues(_.length).toMap
    assert(kept("big") < 10 * math.max(1, kept("tiny")) * 3,
      s"big source not flattened: $kept")
  }

  test("tfidf top terms match a plain-Scala recount") {
    import spark.implicits._
    val out = TextAnalysis.tfidfTopTerms(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4)))
      .toMap
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val tf = docs.map { case (id, text) =>
      id -> text.split(' ').groupBy(identity).view.mapValues(_.length).toMap
    }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size).toMap
    docs.foreach { case (id, _) =>
      val want = tf(id).toSeq
        .map { case (t, f) => (t, f.toLong, df(t).toLong) }
        .sortBy { case (t, f, d) => (-f.toDouble / d, t) }
        .take(3)
      want.zipWithIndex.foreach { case ((t, f, d), i) =>
        assert(out((id, i + 1L)) == ((t, f, d)),
          s"doc $id rank ${i + 1}: got ${out((id, i + 1L))} want ${(t, f, d)}")
      }
    }
  }

  test("TopK aggregator is partition- and order-invariant") {
    import graft.functions.TopK
    val agg = new TopK.TopKAgg(3)
    val rng = new scala.util.Random(7)
    // 40 entries incl. deliberate price ties; expected = sort + take 3
    val entries = (0 until 40).map { i =>
      TopK.Entry(price = (rng.nextInt(10) * 100).toDouble, key = i.toLong)
    }
    val want = entries
      .sortBy(e => (-e.price, e.key)).take(3)
    // sequential reduce in 5 shuffled orders
    (0 until 5).foreach { s =>
      val shuffled = new scala.util.Random(s).shuffle(entries)
      val got = shuffled.foldLeft(agg.zero)(agg.reduce)
      assert(got == want, s"reduce order $s")
    }
    // arbitrary partitionings merged pairwise
    (1 until 5).foreach { s =>
      val parts = new scala.util.Random(100 + s).shuffle(entries)
        .grouped(7)
        .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
      val got = parts.foldLeft(agg.zero)(agg.merge)
      assert(got == want, s"merge split $s")
    }
  }

  test("BottomKLongAgg is partition- and order-invariant, unsigned order") {
    import graft.functions.TopK
    val agg = new TopK.BottomKLongAgg(4)
    val rng = new scala.util.Random(11)
    // ranks spanning the full signed range (incl. negatives — hash
    // values — and deliberate ties), pre-flipped like the caller does
    val entries = (0 until 50).map { i =>
      val h = if (i % 7 == 0) 42L else rng.nextLong()
      TopK.LEntry(rank = h ^ Long.MinValue, key = i.toLong)
    }
    val want = entries.sortBy(e => (e.rank, e.key)).take(4)
    (0 until 5).foreach { s =>
      val shuffled = new scala.util.Random(s).shuffle(entries)
      assert(shuffled.foldLeft(agg.zero)(agg.reduce) == want, s"order $s")
    }
    (1 until 5).foreach { s =>
      val parts = new scala.util.Random(100 + s).shuffle(entries)
        .grouped(9)
        .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
      assert(parts.foldLeft(agg.zero)(agg.merge) == want, s"split $s")
    }
    // sign-bit flip really is unsigned order: MinValue-flipped ranks
    // sort 0 < 1 < ... < 2^63 < ... < -1 (as unsigned)
    val us = Seq(-1L, Long.MinValue, 1L, Long.MaxValue, 0L)
    assert(us.map(_ ^ Long.MinValue).sorted.map(_ ^ Long.MinValue) ==
      us.sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0))
  }

  test("semantic IVF dedup pairs are a subset of the exact baseline") {
    val exact = Dedup.embeddingCosinePairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val semantic = Similarity.semanticDedupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semantic.nonEmpty, "cell-restricted pass found no pairs")
    // same threshold, restricted candidate set: every semantic pair
    // must be an exact pair; the difference is exactly the pairs that
    // straddle a Voronoi cell boundary
    assert(semantic.subsetOf(exact),
      s"non-exact pairs emitted: ${semantic -- exact}")
    // unstructured random vectors: boundary-straddling dominates, so
    // corpus recall is modest — just sanity-bound it
    val recall = semantic.size.toDouble / exact.size
    assert(recall > 0.1, s"cell recall $recall implausibly low")
  }

  test("semantic IVF dedup finds every planted twin (same-cell recall)") {
    import spark.implicits._
    val corpus = graft.sources.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val qvecs = corpus.filter($"vec_id" < 20)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val rnd = new scala.util.Random(7)
    // cos(original, twin) > 0.999 — a true near-duplicate
    val twins = qvecs.map { case (id, v) =>
      (1000000L + id, v.map(_ + rnd.nextGaussian() * 0.005))
    }
    val emb = corpus.union(twins.toSeq.toDF("vec_id", "v"))
    val pairs = Similarity.semanticDedupPairsOn(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    qvecs.foreach { case (id, _) =>
      assert(pairs.contains((id, 1000000L + id)),
        s"planted twin of $id missed — fell across a cell boundary")
    }
  }

  test("kmeans training recovers planted clusters and is deterministic") {
    import spark.implicits._
    // 60 points in 8-dim around 3 well-separated centers (one axis at
    // 10.0) plus small deterministic mix64 noise; seeds vec_id 0,1,2
    // land one in each planted cluster (i % 3)
    def noise(i: Long, d: Int): Double =
      java.lang.Long.remainderUnsigned(
        graft.functions.TextHashes.mix64(i * 64 + d), 1000L) / 1000.0 - 0.5
    val pts = (0L until 60L).map { i =>
      val v = Array.tabulate(8)(d => noise(i, d))
      v((i % 3).toInt * 2) += 10.0
      (i, v)
    }
    val df = pts.toDF("vec_id", "v")
    val out1 = Similarity.kmeansTrainOn(df, 3, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // label permutation-free check: points with equal (i % 3) must get
    // equal cluster labels, and the 3 labels must be distinct
    val byPlanted = pts.groupBy(_._1 % 3)
      .map { case (g, ps) => g -> ps.map(p => out1(p._1)).toSet }
    byPlanted.foreach { case (g, labels) =>
      assert(labels.size == 1, s"planted cluster $g split: $labels")
    }
    assert(byPlanted.values.flatten.toSet.size == 3, "clusters merged")
    // determinism: a second run over a differently-partitioned copy of
    // the same data folds in the same pinned order -> identical labels
    val out2 = Similarity
      .kmeansTrainOn(df.repartition(7, $"vec_id"), 3, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out1 == out2, "training not partition-invariant")
  }

  test("dedup keeper: picks the max-quality member of every cluster") {
    val keepers = Curation.dedupKeeper(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val members = Dedup.nearDupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextAnalysis.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val byCluster = members.groupBy(_._2)
    assert(keepers.keySet == byCluster.keySet)
    byCluster.foreach { case (cid, ms) =>
      val (keeperId, n, kq) = keepers(cid)
      assert(n == ms.length)
      val docs = ms.map(_._1)
      assert(docs.contains(keeperId), "keeper must be a cluster member")
      // argmax by (quality desc, doc_id asc)
      val best = docs.map(d => (quality(d), d))
        .sortBy { case (q, d) => (-q, d) }.head
      assert((kq, keeperId) == best, s"cluster $cid keeper mismatch")
    }
    // keepers cover every document exactly once through their clusters
    assert(keepers.values.map(_._2).sum == members.length)
  }
}
