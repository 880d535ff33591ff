package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 batch: [[Graph.labelCommunities]] (LPA frequency vote),
  * [[Similarity.hardNegatives]] (contrastive negative mining),
  * [[TextAnalysis.charEntropy]] (integer-exact character entropy).
  */
class BatchR16Spec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  /** Shared plain-Scala synchronous LPA replay — see [[LpaReplay]]. */
  private def lpaReplay(
      und: Set[(Long, Long)], rounds: Int): Map[Long, Long] =
    LpaReplay(und, rounds)

  test("label communities: planted two-hub graph keeps its hubs apart") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_lpa").toString
    // two hub suppliers (10, 20) with disjoint customer blocks 1-3 /
    // 4-6 and ONE bridge customer 7 buying from both: a modular graph
    // where CC would merge everything into one component but the LPA
    // frequency vote must keep two communities (the bridge joins one
    // side by the tie-break, it cannot fuse them).
    val buys = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L),
      (7L, 10L), (7L, 20L))
    buys.zipWithIndex.map { case ((c, _), i) => (100L + i, c) }
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    buys.zipWithIndex.map { case ((_, p), i) => (100L + i, p) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    // supplier dim for the kind-membership join (replica-safe labeling)
    Seq(10L, 20L).toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")

    val off = Graph.SUPPLIER_OFFSET
    val half = buys.map { case (c, p) => (c, p + off) }.toSet
    val und = half ++ half.map { case (a, b) => (b, a) }
    val expected = lpaReplay(und, Graph.LPA_ROUNDS)

    val got = Graph.labelCommunities(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    // the semantic point: two communities survive — LPA is NOT the
    // min-label flood (CC on this graph has exactly one component)
    assert(got.values.toSet.size == 2, got.toString)
    assert(got(1L) != got(4L), "hub blocks fused")
  }

  test("label communities: sf corpus matches the replay; vote beats flood") {
    import spark.implicits._
    // independent replay over the REAL sf0.001 edge set — same update
    // rule, driver-side Scala, no Spark relational machinery shared
    val half = graft.sources.Tables(spark, sf, "orders")
      .join(graft.sources.Tables(spark, sf, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".cast("long"),
        ($"l_suppkey" + Graph.SUPPLIER_OFFSET).cast("long"))
      .distinct().as[(Long, Long)].collect().toSet
    val und = half ++ half.map { case (a, b) => (b, a) }
    val expected = lpaReplay(und, Graph.LPA_ROUNDS)
    val got = Graph.labelCommunities(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(got.values.toSet.size >= 1 && got.nonEmpty)
  }

  test("hard negatives: K per query, all across the language boundary") {
    import spark.implicits._
    val out = Similarity.hardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lang = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    assert(out.nonEmpty)
    // exactly K contiguous ranks per query
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 5L), s"query $q ranks")
    }
    // the defining property: no mined negative shares the query's label
    def langOf(id: Long): String = lang.getOrElse(id,
      fail(s"vec_id $id has no documents row — corpus fixture broken"))
    out.foreach { case (q, _, n) =>
      assert(langOf(q) != langOf(n),
        s"negative $n shares lang with query $q")
    }
    // and they are HARD: each rank-1 negative is at least as similar as
    // every cross-lang candidate (spot-check via the exact brute-force
    // ranking restricted to cross-lang rows)
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bruteBest = brute.filter { case (q, _, n) => langOf(q) != langOf(n) }
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.minBy(_._2)._3 // best-ranked cross-lang neighbor
      }
    // the spot-check must not pass vacuously: at least one query's
    // overall top-5 must already contain a cross-lang row
    assert(bruteBest.nonEmpty,
      "no query's brute-force top-5 crosses the language boundary — " +
        "the hardness spot-check would be vacuous")
    val hardBest = out.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    // wherever the overall top-5 already contains a cross-lang row,
    // the miner's rank-1 must agree with it
    bruteBest.foreach { case (q, n) =>
      assert(hardBest(q) == n,
        s"query $q: miner rank-1 ${hardBest(q)} != brute cross-lang $n")
    }
  }

  test("char entropy: plain-Scala replay over the sf corpus is exact") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def floorLog2(x: Long): Long =
      63L - java.lang.Long.numberOfLeadingZeros(x)
    val expected = docs.filter(_._2.nonEmpty).map { case (id, text) =>
      // per CODE POINT, matching the operator's split("") (Java regex
      // keeps surrogate pairs whole) — not per UTF-16 code unit
      val cps = text.codePoints.toArray
      val counts = cps.groupBy(identity).map { case (_, v) =>
        v.length.toLong
      }
      val n = cps.length.toLong
      val bits = counts.map(c => c * floorLog2(n / c)).sum
      (id, n, counts.size.toLong, bits)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.charEntropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // shape sanity: a uniform-ish doc has positive entropy; bound by
    // n·log2(alphabet) with the floor per TYPE (not per char)
    got.foreach { case (_, n, k, bits) =>
      assert(bits >= 0 && bits <= n * (floorLog2(n) + 1),
        s"entropy bits $bits out of range for n=$n k=$k")
    }
  }

  test("char entropy: degenerate docs score zero; mixed docs do not") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_ent").toString
    Seq((1L, "aaaaaaaa"), (2L, "abababab"), (3L, "abcdefgh"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.charEntropy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    // one repeated char: surprisal floor(log2(8/8)) = 0
    assert(got(1L) == 0L)
    // two chars, 4 each: 8 * floor(log2(2)) = 8
    assert(got(2L) == 8L)
    // eight distinct: 8 * floor(log2(8)) = 24
    assert(got(3L) == 24L)
  }

  test("char entropy: astral + combining-mark text counts CODE POINTS") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_uni").toString
    // 1: four astral chars (each one surrogate PAIR in UTF-16) — per
    //    code point n=4, per code unit it would be 8
    // 2: 'e' + COMBINING ACUTE twice — 4 code points, 2 distinct (no
    //    grapheme clustering: the mark is its own code point)
    // 3: mixed BMP/astral control doc
    val astral = new String(Character.toChars(0x1F600)) // 😀
    val rocket = new String(Character.toChars(0x1F680)) // 🚀
    val combining = "éé"
    val docs = Seq(
      (1L, astral + rocket + astral + rocket),
      (2L, combining),
      (3L, "a" + astral + "a" + astral))
    docs.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.charEntropy(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // independent code-point replay (same rule as the sf-corpus test)
    def floorLog2(x: Long): Long =
      63L - java.lang.Long.numberOfLeadingZeros(x)
    val expected = docs.map { case (id, text) =>
      val cps = text.codePoints.toArray
      val counts = cps.groupBy(identity).map(_._2.length.toLong)
      val n = cps.length.toLong
      id -> (n, counts.size.toLong, counts.map(c => c * floorLog2(n / c)).sum)
    }.toMap
    assert(got == expected, s"got=$got expected=$expected")
    // and the load-bearing facts spelled out: surrogate pairs are ONE
    // unit (n=4, not 8), combining marks are their OWN unit (2 distinct)
    assert(got(1L)._1 == 4L && got(1L)._2 == 2L)
    assert(got(2L)._1 == 4L && got(2L)._2 == 2L)
  }
}
