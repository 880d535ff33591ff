package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 batch: [[Graph.lpaModularity]] — the measured quality
  * witness for the LPA community partition (r16 verdict #6): planted
  * multi-community recovery plus the integer-quantized Newman
  * modularity, pinned analytically and against a plain-Scala replay.
  */
class BatchR17Spec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  /** Shared plain-Scala synchronous LPA replay — see [[LpaReplay]]. */
  private def lpaReplay(
      und: Set[(Long, Long)], rounds: Int): Map[Long, Long] =
    LpaReplay(und, rounds)

  /** Plain-Scala replay of the operator's quantized modularity rollup:
    * q_c = 1000·d_c / 2m (integer), Q_ppm = 10⁶·intra/m − Σ q_c². */
  private def modularityReplay(
      half: Set[(Long, Long)], lbl: Map[Long, Long])
      : (Long, Long, Long, Long, Long) = {
    val m = half.size.toLong
    val intra = half.count { case (a, b) => lbl(a) == lbl(b) }.toLong
    val deg = half.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, v) => n -> v.size.toLong }
    val dc = deg.groupBy { case (n, _) => lbl(n) }
      .map { case (c, m0) => c -> m0.values.sum }
    val sq = dc.values.map(d => {
      val qc = (1000L * d) / (2L * math.max(m, 1L)); qc * qc
    }).sum
    (dc.size.toLong, lbl.size.toLong, m, intra,
      intra * 1000000L / math.max(m, 1L) - sq)
  }

  private def writePlanted(): (String, Set[(Long, Long)]) = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_lpaq").toString
    // four hub suppliers with disjoint 5-customer blocks plus two
    // bridge customers (21 spans hubs 10/20, 22 spans hubs 30/40):
    // CC would merge each bridged pair; LPA must recover all FOUR
    // planted communities, each bridge absorbed by one side's
    // tie-break, never fusing the blocks.
    val buys =
      (1L to 5L).map(c => (c, 10L)) ++ (6L to 10L).map(c => (c, 20L)) ++
      (11L to 15L).map(c => (c, 30L)) ++ (16L to 20L).map(c => (c, 40L)) ++
      Seq((21L, 10L), (21L, 20L), (22L, 30L), (22L, 40L))
    buys.zipWithIndex.map { case ((c, _), i) => (100L + i, c) }
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    buys.zipWithIndex.map { case ((_, p), i) => (100L + i, p) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    Seq(10L, 20L, 30L, 40L).toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    (dir, buys.map { case (c, p) => (c, p + Graph.SUPPLIER_OFFSET) }.toSet)
  }

  test("LPA quality: planted 4-community graph is recovered at purity 1") {
    val (dir, half) = writePlanted()
    val got = Graph.labelCommunities(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // exactly the four planted communities survive
    assert(got.values.toSet.size == 4, got.toString)
    // purity of NON-BRIDGE nodes: every block member (customers and
    // its hub) carries its block's label — recovery rate 1.0
    val off = Graph.SUPPLIER_OFFSET
    val blocks = Seq(
      (1L to 5L) :+ (10L + off), (6L to 10L) :+ (20L + off),
      (11L to 15L) :+ (30L + off), (16L to 20L) :+ (40L + off))
    blocks.foreach { members =>
      val labels = members.map(got)
      assert(labels.toSet.size == 1,
        s"block $members split across ${labels.toSet}")
    }
    // the four block labels are pairwise distinct (no fusion through
    // the bridges)
    assert(blocks.map(b => got(b.head)).toSet.size == 4)
  }

  test("LPA modularity: planted graph matches the analytic value") {
    val (dir, half) = writePlanted()
    val und = half ++ half.map { case (a, b) => (b, a) }
    val lbl = lpaReplay(und, Graph.LPA_ROUNDS)
    val expected = modularityReplay(half, lbl)
    val got = Graph.lpaModularity(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(expected), s"got=${got.toSeq} exp=$expected")
    // the human-checkable analytic numbers for THIS graph: m=24 edges,
    // 22 intra (20 block edges + one bridge edge absorbed per bridge),
    // bridged communities d_c=13 → q=270, clean ones d_c=11 → q=229:
    // Q_ppm = 22e6/24 − 2(270²+229²) = 916666 − 250682 = 665984
    assert(got.head == ((4L, 26L, 24L, 22L, 665984L)), got.head.toString)
    // and the witness point: a strongly modular planted partition
    // scores far above the single-community baseline of exactly 0
    assert(got.head._5 > 500000L)
  }

  test("LPA modularity: sf corpus matches the plain-Scala replay") {
    import spark.implicits._
    val half = graft.sources.Tables(spark, sf, "orders")
      .join(graft.sources.Tables(spark, sf, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".cast("long"),
        ($"l_suppkey" + Graph.SUPPLIER_OFFSET).cast("long"))
      .distinct().as[(Long, Long)].collect().toSet
    val und = half ++ half.map { case (a, b) => (b, a) }
    val lbl = lpaReplay(und, Graph.LPA_ROUNDS)
    val expected = modularityReplay(half, lbl)
    val got = Graph.lpaModularity(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(expected), s"got=${got.toSeq} exp=$expected")
  }

  test("ivf recall: hits equal the exact/approx top-K intersection") {
    // compositional exactness: the recall rollup must equal the
    // intersection of the two (independently oracle-verified)
    // rankings it composes — and at the shipped NPROBE the number is
    // a real witness, not a tautological 1.0 for every query
    val exact = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val expected = exact.groupBy(_._1).map { case (q, rows) =>
      q -> rows.count(approx.contains).toLong
    }
    val got = Similarity.ivfRecall(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (q, hits) =>
      assert(got(q)._1 == hits, s"query $q hits")
      assert(got(q)._2 == hits * 1000000L / Similarity.K, s"query $q ppm")
    }
    // every query is covered and bounded (constants from the operator,
    // so a retune of K/N_QUERIES can't silently desync this spec)
    assert(got.size == Similarity.N_QUERIES &&
      got.values.forall(_._1 <= Similarity.K.toLong))
  }

  test("LPA modularity: single-community partition scores exactly zero") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_lpa1").toString
    // one hub, three customers — LPA collapses to one community, whose
    // modularity is identically 0 (1e6·m/m − (1000·2m/2m)² = 0): the
    // baseline the planted-partition score is measured against
    val buys = Seq((1L, 10L), (2L, 10L), (3L, 10L))
    buys.zipWithIndex.map { case ((c, _), i) => (100L + i, c) }
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    buys.zipWithIndex.map { case ((_, p), i) => (100L + i, p) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    Seq(10L).toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val got = Graph.lpaModularity(spark, dir).collect().head
    assert(got.getLong(0) == 1L, "expected one community")
    assert(got.getLong(4) == 0L, s"baseline modularity ${got.getLong(4)}")
  }
}
