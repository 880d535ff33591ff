package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Priority-sampling semantics of [[Curation.weightedSample]]: weight
  * bias, determinism, and agreement with a window-computed reference.
  */
class WeightedSampleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("heavy documents dominate the sample; ranking replays exactly") {
    import spark.implicits._
    // one source, 1000 light docs (w=10) + 1000 heavy docs (w=10000)
    val rows = (0L until 1000L).map(i => (i, "x" * 10, "en", "s", 10L)) ++
      (1000L until 2000L).map(i => (i, "y" * 20, "en", "s", 10000L))
    val dir = graft.util.Dirs.scratch("graft_ws").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.parquet(s"$dir/documents.parquet")

    val out = Curation.weightedSample(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap // doc_id -> rn
    assert(out.size == Curation.WEIGHTED_K)
    val heavy = out.keys.count(_ >= 1000L)
    // inclusion odds scale with weight (1000:1 here); expected heavy
    // count ≈ 25·(1 − 1/1001·…) ≈ 25 — 20 is a deterministic-fixture
    // floor, not a statistical bound
    assert(heavy >= 20, s"only $heavy of ${out.size} picks are heavy")

    // exact agreement with the window-computed reference ranking
    import graft.functions.TextHashes.mix64
    val ref = rows.map { case (id, _, _, _, w) =>
      (java.lang.Long.divideUnsigned(mix64(id), math.max(w, 1L)), id)
    }.sorted.take(Curation.WEIGHTED_K).map(_._2).toSet
    assert(out.keySet == ref)
  }

  test("dsir: target-like documents outweigh off-domain documents") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dsir").toString
    // target domain (src0) speaks {alpha beta}; the raw pool (src1)
    // mostly speaks {gamma delta} with a few target-like docs mixed in
    val target = (0L until 20L).map(i => (i, "alpha beta alpha beta", "src0"))
    val rawOff = (20L until 40L).map(i => (i, "gamma delta gamma delta", "src1"))
    val rawLike = (40L until 44L).map(i => (i, "alpha beta alpha beta", "src1"))
    (target ++ rawOff ++ rawLike)
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = Curation.dsirWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = got.map(x => x._1 -> x._3).toMap
    // every target-like raw doc must outweigh every off-domain raw doc
    for (like <- 40L until 44L; off <- 20L until 40L)
      assert(byId(like) > byId(off), s"doc $like vs $off")
    // gamma/delta never appear in the target → contribute nothing →
    // off-domain docs score 0 tokens
    val offRows = got.filter(x => x._1 >= 20 && x._1 < 40)
    assert(offRows.forall(x => x._2 == 0L && x._3 == 0L))
    // coverage column counts only both-vocab tokens
    assert(got.filter(_._1 < 20).forall(_._2 == 4L))
  }

  test("dsir on testdata: deterministic, full coverage column sane") {
    val a = Curation.dsirWeights(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = Curation.dsirWeights(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b)
    // shared synthetic vocabulary → most tokens score
    assert(a.count(_._2 > 0) > a.length / 2)
  }
}
