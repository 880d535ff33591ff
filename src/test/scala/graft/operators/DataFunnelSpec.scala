package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Curation.dataFunnel]] — each gate drops
  * exactly the planted offenders; counts are cumulative.
  */
class DataFunnelSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  // stopword-heavy lowercase text: quality comfortably above the gate
  private val good =
    "the cat and the dog sat on the mat with it as the sun is in for"

  test("funnel: quality, lang, exact-dup gates drop planted offenders") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // self-validating fixture: `good` really does pass the gate
    val q = Seq(Tuple1(good)).toDF("text")
      .select(Curation.qualityOf(col("text")).as("q"))
      .head().getDouble(0)
    assert(q >= 0.46, s"fixture text must pass the quality gate: $q")

    val dir = graft.util.Dirs.scratch("graft_fun").toString
    Seq(
      (1L, good, "en"),            // survives q + lang
      (2L, good, "en"),            // exact dup of 1 → dropped at stage 30
      (3L, good, "de"),            // dropped at stage 20
      (4L, "ZZZZ 123 !!!", "en"))  // dropped at stage 10
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Curation.dataFunnel(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val toks = good.split(' ').length.toLong
    assert(out("00_all")._1 == 4L)
    assert(out("10_quality") == ((3L, 3 * toks)))
    assert(out("20_lang") == ((2L, 2 * toks)))
    assert(out("30_exact_dedup") == ((1L, toks)))
    // stage 40 depends on the doc's split bucket; monotone regardless
    assert(out("40_decontam")._1 <= out("30_exact_dedup")._1)
  }

  test("funnel on testdata: five monotone stages") {
    val out = Curation.dataFunnel(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(
      "00_all", "10_quality", "20_lang", "30_exact_dedup", "40_decontam"))
    val ns = out.map(_._2)
    val ts = out.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    assert(ts.zip(ts.tail).forall { case (a, b) => a >= b })
    assert(ns.head > 0)
  }
}
