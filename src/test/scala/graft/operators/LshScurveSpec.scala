package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validates [[Dedup.lshScurve]]: a first-principles replay of the
  * whole measurement (bigram-hash shingles, exact probe-pair Jaccard
  * deciles, the XOR-seeded splitmix minhash families, 16×2 band
  * collision, ppm rollup) on the real corpus, plus a PLANTED corpus
  * with pairs at mid deciles — the S-transition region the synthetic
  * corpus's bimodal J distribution leaves empty. */
class LshScurveSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"
  private val K = 32
  private val BANDS = 16

  private def shingles(text: String): Set[Long] = {
    val ws = text.split(' ')
    ws.iterator.sliding(2).filter(_.size == 2)
      .map(a => graft.functions.TextHashes.hash64(a(0) + " " + a(1), 0L))
      .toSet
  }

  private def sig(ss: Set[Long]): Vector[Long] =
    (0 until K).map { i =>
      val seed = graft.functions.TextHashes.mix64(i.toLong)
      ss.iterator.map(g =>
        graft.functions.TextHashes.mix64(g ^ seed)).min
    }.toVector

  private def collide(a: Vector[Long], b: Vector[Long]): Boolean =
    (0 until BANDS).exists(band =>
      a(2 * band) == b(2 * band) && a(2 * band + 1) == b(2 * band + 1))

  /** Full replay: (decile → (n_pairs, n_collided, recall_ppm)). */
  private def replay(rows: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long)] = {
    val sh = rows.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty).toMap
    val probes = sh.keys.filter(_ < Dedup.LSH_SCURVE_PROBES)
    val sigs = scala.collection.mutable.Map.empty[Long, Vector[Long]]
    def sigOf(id: Long) = sigs.getOrElseUpdate(id, sig(sh(id)))
    val hits = for {
      p <- probes.toSeq
      // toSeq: an inner SET generator would dedupe the yielded
      // (decile, collide) tuples per probe and silently collapse
      // the tally
      d <- sh.keys.toSeq
      if d != p && (d >= Dedup.LSH_SCURVE_PROBES || p < d)
      inter = (sh(p) & sh(d)).size.toLong
      if inter > 0
    } yield {
      val union = sh(p).size + sh(d).size - inter
      ((inter * 10L) / union, collide(sigOf(p), sigOf(d)))
    }
    hits.groupBy(_._1).map { case (dec, v) =>
      val n = v.size.toLong
      val c = v.count(_._2).toLong
      dec -> (n, c, c * 1000000L / n)
    }
  }

  private def run(d: String): Map[Long, (Long, Long, Long)] =
    Dedup.lshScurve(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("corpus curve matches the first-principles replay") {
    import spark.implicits._
    val rows = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val got = run(dir)
    val exp = replay(rows)
    assert(got == exp, s"curve diverges:\n got=$got\n exp=$exp")
    // the corpus witnesses both ends: a noise floor decile (low
    // recall over many unrelated pairs) and the near-dup decile at
    // total recall
    assert(got.contains(0L) && got(0L)._1 > 1000 &&
      got(0L)._3 < 100000L, s"noise floor row off: ${got.get(0L)}")
    assert(got.exists { case (dec, (_, _, r)) => dec >= 9L && r == 1000000L },
      s"near-dup decile not at full recall: $got")
  }

  test("planted mid-decile pairs pin the S-transition") {
    import spark.implicits._
    // per pair k: docA = 21 chained unique words (20 bigrams); docB
    // shares the first s words then diverges — shared bigrams s-1,
    // sizes 20/20, J = (s-1)/(40-(s-1)). s=9 -> J=8/32=0.25 (decile
    // 2); s=19 -> J=18/22=0.818 (decile 8). Disjoint vocab per pair.
    def docA(k: Int) = (0 to 20).map(j => s"p${k}a$j").mkString(" ")
    def docB(k: Int, s: Int) =
      ((0 until s).map(j => s"p${k}a$j") ++
        (s to 20).map(j => s"p${k}b$j")).mkString(" ")
    val lowPairs = (0 until 20).map { k =>
      Seq((k.toLong, docA(k)), (1000L + k, docB(k, 9)))
    }
    val highPairs = (20 until 40).map { k =>
      Seq((k.toLong, docA(k)), (1000L + k, docB(k, 19)))
    }
    val rows = (lowPairs ++ highPairs).flatten
    val tmp = graft.util.Dirs.scratch("scurve_planted").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = run(tmp)
    val exp = replay(rows)
    assert(got == exp, s"planted curve diverges:\n got=$got\n exp=$exp")
    assert(got.contains(2L) && got.contains(8L), got.toString)
    // the S-shape: J≈0.25 collides sometimes but not always
    // (P ≈ 1-(1-0.25²)¹⁶ ≈ 0.64 per pair; 20 pairs make all-or-none
    // astronomically unlikely), J≈0.82 collides always
    // (miss probability (1-0.82²)¹⁶ ≈ 4e-8)
    val (n2, c2, r2) = got(2L)
    assert(n2 == 20L && c2 > 0L && c2 < 20L,
      s"decile-2 recall degenerate: $c2/20")
    assert(got(8L) == ((20L, 20L, 1000000L)), got(8L).toString)
    assert(r2 < got(8L)._3, "curve not increasing across deciles")
  }

  // ---- planted-pair gate keys (round 19) ----

  private val SUB = graft.functions.TextHashes.mix64(0x5eedL)
  private def u10(g: Long): Long = java.lang.Long.remainderUnsigned(
    graft.functions.TextHashes.mix64(g ^ SUB), 10L)

  /** Replay of Dedup.plantedPairSigs: one (decile, sigA, sigB) row
    * per (probe doc, k), B_k the nested hash-subsampled subset. */
  private def plantedReplay(rows: Seq[(Long, String)])
      : Seq[(Long, Vector[Long], Vector[Long])] =
    for {
      (id, t) <- rows
      if id < Dedup.LSH_SCURVE_PROBES
      a = shingles(t)
      if a.nonEmpty
      k <- 1 to 9
      b = a.filter(g => u10(g) < k)
      if b.nonEmpty
    } yield ((10L * b.size) / a.size, sig(a), sig(b))

  private def curveOf(pairs: Seq[(Long, Vector[Long], Vector[Long])],
      hit: (Vector[Long], Vector[Long]) => Boolean)
      : Map[Long, (Long, Long, Long)] =
    pairs.groupBy(_._1).map { case (dec, v) =>
      val n = v.size.toLong
      val c = v.count(p => hit(p._2, p._3)).toLong
      dec -> (n, c, c * 1000000L / n)
    }

  private def corpusRows: Seq[(Long, String)] = {
    import spark.implicits._
    graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
  }

  test("planted gate key fills the mid deciles and matches the replay") {
    val got = Dedup.lshScurvePlanted(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val exp = curveOf(plantedReplay(corpusRows), collide)
    assert(got == exp, s"planted curve diverges:\n got=$got\n exp=$exp")
    // THE point of the key (verdict r18 #3): the corpus scurve's
    // bimodal J leaves deciles 2–8 empty; the planted families
    // populate every one, driver-gated
    (2L to 8L).foreach(d =>
      assert(got.contains(d) && got(d)._1 > 0, s"decile $d empty: $got"))
    // and the S-shape is visible in the gated relation itself
    assert(got(0L)._3 < got(3L)._3, s"low end not rising: $got")
    assert(got(3L)._3 < got(5L)._3 || got(3L)._3 == 1000000L,
      s"mid transition not rising: $got")
    assert(got.filter(_._1 >= 8L).values.forall(_._3 == 1000000L),
      s"high end not saturated: $got")
  }

  private val CONFIGS = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16))
  private def collideBR(a: Vector[Long], b: Vector[Long],
      bands: Int, r: Int): Boolean =
    (0 until bands).exists(band =>
      (0 until r).forall(j => a(band * r + j) == b(band * r + j)))

  test("operating-point selector replays and picks (8,4) for the 0.8 target") {
    val pairs = plantedReplay(corpusRows)
    // per-config curves + pooled hi/lo rollups, integer ppm
    val perCfg = CONFIGS.map { case (b, r) =>
      val curve = curveOf(pairs, collideBR(_, _, b, r))
      def pool(sel: Long => Boolean) = {
        val rows = curve.filter { case (d, _) => sel(d) }.values
        val (p, c) = (rows.map(_._1).sum, rows.map(_._2).sum)
        c * 1000000L / math.max(p, 1L)
      }
      val hi = pool(_ >= Dedup.OPSEL_TARGET_DECILE)
      val lo = pool(_ <= Dedup.OPSEL_NOISE_DECILE)
      (b, r, curve, hi, lo, hi >= Dedup.OPSEL_RECALL_FLOOR_PPM)
    }
    val selected = perCfg.sortBy { case (b, _, _, hi, lo, meets) =>
      (!meets, if (meets) lo else -hi, b)
    }.head
    val expRows = perCfg.flatMap { case (b, r, curve, hi, lo, meets) =>
      curve.toSeq.map { case (d, (n, c, ppm)) =>
        (b.toLong, r.toLong, d, n, c, ppm, hi, lo, meets,
          (b, r) == (selected._1, selected._2))
      }
    }.sortBy(t => (t._1, t._3))
    val got = Dedup.lshOpSelect(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getBoolean(8), r.getBoolean(9))).toSeq
    assert(got == expRows,
      s"opselect diverges:\n got=${got.take(5)}…\n exp=${expRows.take(5)}…")
    // exactly one selected config, and on a corpus with real noise
    // pairs the 0.8-threshold answer is (8,4): the (16,2) gate
    // banding meets the floor but pays ~an order more low-J noise,
    // (4,8)'s 1−(1−J⁸)⁴ curve misses the floor at J≈0.8
    val sel = got.filter(_._10).map(t => (t._1, t._2)).distinct
    assert(sel == Seq((8L, 4L)), s"selector picked $sel")
    val meets = got.filter(_._9).map(_._1).toSet
    assert(Set(8L, 16L, 32L).subsetOf(meets), s"floor verdicts off: $meets")
  }

  test("single-shingle fixture: empty noise deciles fall to the fewest-bands tie-break") {
    import spark.implicits._
    // 2-word docs → exactly one shingle: every nonempty B_k equals A,
    // so ALL pairs land at decile 10 with identical signatures — every
    // config has recall_hi = 1.0 and an EMPTY noise pool (the
    // greatest(lo_p, 1) guard path on both engines); selection then
    // ties on noise 0 and falls to the fewest bands, (2,16)
    val rows = (0L until 30L).map(i => (i, s"w${i}a w${i}b"))
    val tmp = graft.util.Dirs.scratch("opsel_single").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.lshOpSelect(spark, tmp).collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getLong(5), r.getLong(7),
        r.getBoolean(8), r.getBoolean(9)))
    assert(got.forall(_._2 == 10L), s"non-10 decile: ${got.toSeq}")
    assert(got.forall(_._3 == 1000000L), s"recall not total: ${got.toSeq}")
    assert(got.forall(_._4 == 0L), s"noise not zero: ${got.toSeq}")
    assert(got.forall(_._5), s"floor not met everywhere: ${got.toSeq}")
    val sel = got.filter(_._6).map(_._1).distinct.toSeq
    assert(sel == Seq(2L), s"tie-break picked $sel, want fewest bands")
  }
}
