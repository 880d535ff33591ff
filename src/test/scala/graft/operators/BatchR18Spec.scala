package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Round-18 batch: [[Graph.lpaAdaptive]] — modularity-gated LPA round
  * selection (r17 verdict #2). Pins the patience-[[Graph.LPA_PATIENCE]]
  * early-stopping trace against a plain-Scala replay on the corpus and
  * on TWO planted fixtures (sparse hubs, dense multi-supplier blocks)
  * where the selected round must recover the planted structure.
  */
class BatchR18Spec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  /** Plain-Scala replay of the quantized modularity rollup (the
    * BatchR17Spec formula, shared semantics). */
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

  /** The adaptive trace from first principles: per-round LPA replay +
    * modularity + the patience rule, returning (curve rows, selected
    * round, selected round's labels). */
  private def adaptiveReplay(half: Set[(Long, Long)])
      : (Seq[(Long, Long, Long, Long, Long, Long)], Long, Map[Long, Long]) = {
    val und = half ++ half.map { case (a, b) => (b, a) }
    val curve = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    var best = Long.MinValue
    var stale = 0
    var r = 1
    while (r <= Graph.LPA_ADAPTIVE_MAX && stale < Graph.LPA_PATIENCE) {
      val lbl = LpaReplay(und, r)
      val (nc, nn, m, intra, q) = modularityReplay(half, lbl)
      curve += ((r.toLong, nc, nn, m, intra, q))
      if (q > best) { best = q; stale = 0 } else stale += 1
      r += 1
    }
    val sel = curve.filter(_._6 == best).map(_._1).min
    (curve.toSeq, sel, LpaReplay(und, sel.toInt))
  }

  private def runAdaptive(dir: String)
      : (Seq[(Long, Long, Long, Long, Long, Long)], Long) = {
    val rows = Graph.lpaAdaptive(spark, dir).collect()
    val curve = rows.toSeq.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val sel = rows.filter(_.getBoolean(6)).map(_.getLong(0)).toSeq
    assert(sel.size == 1, s"expected exactly one selected round: $sel")
    (curve, sel.head)
  }

  private def writeGraph(name: String, buys: Seq[(Long, Long)])
      : (String, Set[(Long, Long)]) = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch(name).toString
    buys.zipWithIndex.map { case ((c, _), i) => (100L + i, c) }
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    buys.zipWithIndex.map { case ((_, p), i) => (100L + i, p) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    buys.map(_._2).distinct.toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    (dir,
      buys.map { case (c, p) => (c, p + Graph.SUPPLIER_OFFSET) }.toSet)
  }

  /** SPARSE planted graph: the BatchR17 4-hub shape — one supplier
    * per block, 5 customers each, two bridge customers. */
  private def sparsePlanted(): (String, Set[(Long, Long)], Seq[Seq[Long]]) = {
    val buys =
      (1L to 5L).map(c => (c, 10L)) ++ (6L to 10L).map(c => (c, 20L)) ++
      (11L to 15L).map(c => (c, 30L)) ++ (16L to 20L).map(c => (c, 40L)) ++
      Seq((21L, 10L), (21L, 20L), (22L, 30L), (22L, 40L))
    val (dir, half) = writeGraph("graft_lpa_ad_sparse", buys)
    val off = Graph.SUPPLIER_OFFSET
    val blocks = Seq(
      (1L to 5L) :+ (10L + off), (6L to 10L) :+ (20L + off),
      (11L to 15L) :+ (30L + off), (16L to 20L) :+ (40L + off))
    (dir, half, blocks)
  }

  /** DENSE planted graph: three blocks of THREE suppliers each, every
    * block customer buying from all three of its block's suppliers
    * (intra-block degree 3), one bridge customer spanning two blocks. */
  private def densePlanted(): (String, Set[(Long, Long)], Seq[Seq[Long]]) = {
    val supsOf = (b: Long) => Seq(10L + 10 * b, 11L + 10 * b, 12L + 10 * b)
    val custsOf = (b: Long) => (1L + 10 * b) to (6L + 10 * b)
    val buys = (0L to 2L).flatMap { b =>
      custsOf(b).flatMap(c => supsOf(b).map(s => (c, s)))
    } ++ Seq((90L, 10L), (90L, 20L)) // bridge spans blocks 0/1
    val (dir, half) = writeGraph("graft_lpa_ad_dense", buys)
    val off = Graph.SUPPLIER_OFFSET
    val blocks = (0L to 2L).map(b =>
      custsOf(b).toSeq ++ supsOf(b).map(_ + off))
    (dir, half, blocks)
  }

  private def assertRecovers(dir: String, half: Set[(Long, Long)],
      blocks: Seq[Seq[Long]]): Unit = {
    val (gotCurve, gotSel) = runAdaptive(dir)
    val (expCurve, expSel, selLbl) = adaptiveReplay(half)
    assert(gotCurve == expCurve,
      s"curve diverges:\n got=$gotCurve\n exp=$expCurve")
    assert(gotSel == expSel, s"selected $gotSel != replay $expSel")
    // the SELECTED round's partition recovers the planted blocks:
    // each block label-pure, distinct blocks distinct labels
    blocks.foreach { members =>
      val labels = members.map(selLbl).toSet
      assert(labels.size == 1, s"block $members split across $labels")
    }
    assert(blocks.map(b => selLbl(b.head)).toSet.size == blocks.size,
      "planted blocks fused in the selected partition")
    // the instrument is non-vacuous: the selected Q beats at least one
    // other evaluated round's Q
    val qs = gotCurve.map(c => (c._1, c._6)).toMap
    assert(gotCurve.size >= 2 && qs(gotSel) > gotCurve.map(_._6).min)
  }

  test("adaptive LPA selects the planted structure on a SPARSE graph") {
    val (dir, half, blocks) = sparsePlanted()
    assertRecovers(dir, half, blocks)
  }

  test("adaptive LPA selects the planted structure on a DENSE graph") {
    val (dir, half, blocks) = densePlanted()
    assertRecovers(dir, half, blocks)
  }

  test("adaptive trace on the sf corpus matches the replay and rides " +
      "out the non-monotonic dip") {
    import spark.implicits._
    // sf0.01, not the usual sf0.001: the dip-before-peak curve that
    // motivates LPA_PATIENCE=2 (BASELINE.md round-17 sweep) only
    // appears at the denser SF — sf0.001's curve is flat after R=2
    val dip = "/root/testdata/sf0.01"
    val half = graft.sources.Tables(spark, dip, "orders")
      .join(graft.sources.Tables(spark, dip, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".cast("long"),
        ($"l_suppkey" + Graph.SUPPLIER_OFFSET).cast("long"))
      .distinct().as[(Long, Long)].collect().toSet
    val (gotCurve, gotSel) = runAdaptive(dip)
    val (expCurve, expSel, _) = adaptiveReplay(half)
    assert(gotCurve == expCurve,
      s"curve diverges:\n got=$gotCurve\n exp=$expCurve")
    assert(gotSel == expSel)
    // the documented reason LPA_PATIENCE=2 exists: this corpus's Q
    // curve dips before its peak, so the selected round must lie
    // STRICTLY AFTER a round whose Q is lower than its predecessor's
    val qs = gotCurve.map(_._6)
    val dipBeforePeak = (1 until gotSel.toInt)
      .exists(i => qs(i) < qs(i - 1))
    assert(dipBeforePeak,
      s"corpus curve no longer dips before the peak: $qs — the " +
        "patience rationale needs re-evidencing")
  }
}
