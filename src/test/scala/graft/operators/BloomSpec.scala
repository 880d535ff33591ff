package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bloom, GraftFunctions, TextHashes}

/** The bloom runtime filter: no false negatives ever, bounded false
  * positives, distributed build == local build, and the two operators
  * that use it ([[Relational.q55BloomJoinPrune]],
  * [[Incremental.incrementalDedup]]'s exact layer) produce results
  * bit-equal to their un-bloomed plans.
  */
class BloomSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("no false negatives; false positives bounded") {
    val words = new Array[Long](Bloom.M_BITS / 64)
    val keys = (0L until 1000L).map(TextHashes.mix64)
    keys.foreach(h => Bloom.add(words, h, Bloom.K))
    assert(keys.forall(h => Bloom.mightContain(words, h, Bloom.K)),
      "false negative — structurally impossible")
    // disjoint probe set: theoretical FP rate at n=1000, m=2^20, k=5
    // is ~2e-12; 5 is an astronomically safe ceiling
    val fps = (10000L until 20000L)
      .map(TextHashes.mix64)
      .count(h => Bloom.mightContain(words, h, Bloom.K))
    assert(fps < 5, s"implausible FP count $fps")
  }

  test("distributed OR-merge equals local build") {
    import spark.implicits._
    val local = new Array[Long](Bloom.M_BITS / 64)
    (0L until 5000L).map(TextHashes.mix64)
      .foreach(h => Bloom.add(local, h, Bloom.K))
    val dist = spark.range(0, 5000, 1, 8) // 8 partitions: real merges
      .select(GraftFunctions.mix64($"id").as("h")).as[Long]
      .select(new Bloom.BloomAgg(Bloom.M_BITS, Bloom.K).toColumn)
      .head()
    assert(java.util.Arrays.equals(local, dist))
  }

  test("q55 equals the plain un-bloomed join, and the probe is codegen'd") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val df = Relational.q55BloomJoinPrune(spark, dir)
    val plain = graft.sources.Tables(spark, dir, "lineitem")
      .join(graft.sources.Tables(spark, dir, "part")
          .filter($"p_brand".isin("Brand#13", "Brand#24", "Brand#5")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum(
            $"l_extendedprice" * (org.apache.spark.sql.functions.lit(1.0)
              - $"l_discount")), 2).as("revenue"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_lines"))
      .orderBy($"p_brand")
    assert(df.collect().toSeq == plain.collect().toSeq)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan.take(2000))
  }

  test("bloom prefilter leaves incremental-dedup verdicts unchanged") {
    import spark.implicits._
    // planted corpus: batch doc 3 exact-dups corpus doc 1000 (bucket
    // checked below); batch doc 94 is new
    val ids = (0L to 2000L)
    val batchIds = ids.filter(
      TextHashes.mix64Bucket(_, 1000L) < Incremental.BATCH_PERMILLE)
    val corpusIds = ids.filter(
      TextHashes.mix64Bucket(_, 1000L) >= Incremental.BATCH_PERMILLE)
    assert(batchIds.size >= 2 && corpusIds.nonEmpty)
    val (dupB, newB) = (batchIds.head, batchIds(1))
    val dupC = corpusIds.head
    val rows = Seq(
      (dupB, "the same exact text content here", "en", "web", 32L),
      (newB, "completely different text with nothing shared", "en", "web", 45L),
      (dupC, "the same exact text content here", "en", "web", 32L))
    val dir = graft.util.Dirs.scratch("graft_bloom").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Incremental.incrementalDedup(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(dupB) == (("exact_dup", dupC)))
    assert(out(newB) == (("new", -1L)))
  }
}
