package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Specs for the sketch family ([[Sketches]]) and the SQ8 ANN ranker
  * ([[Similarity.int8TopK]]).
  */
class SketchSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sfTiny = "/root/testdata/sf0.001"
  private val sfMid = "/root/testdata/sf0.01"

  test("kmv: sketch is EXACT when ndv < k (all sf0.001 columns)") {
    val out = Sketches.kmvNdv(spark, sfTiny).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    def ndv(t: String, c: String): Long =
      spark.read.parquet(s"$sfTiny/$t.parquet")
        .select(countDistinct(col(c))).head().getLong(0)
    assert(out("events.user_id") == ndv("events", "user_id"))
    assert(out("lineitem.l_partkey") == ndv("lineitem", "l_partkey"))
    assert(out("orders.o_custkey") == ndv("orders", "o_custkey"))
  }

  test("kmv: estimates land within the k=256 error band at sf0.01") {
    // σ ≈ 1/√(k−2) ≈ 6.3%; 25% is a ~4σ acceptance band
    val out = Sketches.kmvNdv(spark, sfMid).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = Map("events.user_id" -> 150L,
      "lineitem.l_partkey" -> 2000L, "orders.o_custkey" -> 1500L)
    exact.foreach { case (name, truth) =>
      val est = out(name)
      assert(math.abs(est - truth).toDouble / truth < 0.25,
        s"$name: est $est vs exact $truth")
    }
  }

  test("kmv aggregator: dedups, bounds at k, partition-independent") {
    import spark.implicits._
    val agg = new graft.functions.Sketch.KmvAgg(16)
    // values with heavy duplication and both hash signs
    val vals = (0L until 400L).map(_ % 50).map(graft.functions.TextHashes.mix64)
    def run(parts: Int): Seq[Long] =
      vals.toDF("h").repartition(parts).as[Long].select(agg.toColumn).head()
    val a = run(1)
    val b = run(7)
    val c = run(32)
    assert(a == b && b == c, "result must not depend on partitioning")
    // reference: distinct, unsigned-sorted, first 16
    val ref = vals.distinct
      .sortBy(_ ^ Long.MinValue).take(16)
    assert(a == ref)
    assert(a.size == 16)
  }

  test("cms: one-sided guarantee — never undercounts, bounded overcount") {
    val est = Sketches.cmsFreq(spark, sfMid).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = spark.read.parquet(s"$sfMid/events.parquet")
    val n = ev.count()
    val exact = ev.filter(col("user_id") < Sketches.CMS_QUERY_KEYS)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until Sketches.CMS_QUERY_KEYS).foreach { k =>
      val t = exact.getOrElse(k, 0L)
      val e = est(k)
      assert(e >= t, s"key $k: CMS undercounted ($e < $t)")
      // expected per-cell noise is N/w; min-of-d keeps us within a few
      // multiples of it
      assert(e - t <= 5L * n / Sketches.CMS_WIDTH,
        s"key $k: overcount ${e - t} exceeds band")
    }
  }

  test("ann_int8: SQ8 ranking recovers the exact top-5 almost everywhere") {
    val int8 = Similarity.int8TopK(spark, sfMid).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(spark, sfMid).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (int8 & brute).size.toDouble / brute.size
    // measured 0.98 on this corpus; 0.9 allows one extra boundary flip
    assert(overlap >= 0.9, s"SQ8 overlap@5 = $overlap")
  }

  test("heavy hitters: CMS prefilter is lossless — output IS the exact relation") {
    Seq(sfTiny, sfMid).foreach { sf =>
      val got = Sketches.cmsHeavyHitters(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = spark.read.parquet(s"$sf/events.parquet")
        .groupBy("user_id").count()
        .filter(col("count") >= Sketches.HH_THRESHOLD).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exact, s"$sf: sketch-filtered heavy set diverged")
      assert(exact.nonEmpty, s"$sf: trivial fixture (no heavy keys)")
    }
  }

  test("streaming kmv equals the batch sketch (merge commutativity)") {
    val stream = StreamBatch.streamingKmv(spark, sfTiny).collect().head
    val batch = Sketches.kmvNdv(spark, sfTiny).collect()
      .find(_.getString(0) == "events.user_id").get
    assert(stream.getLong(2) == batch.getLong(2), "kth hash diverged")
    assert(stream.getLong(3) == batch.getLong(3), "estimate diverged")
  }

  test("percentile_cont matches a plain-Scala interpolation replay") {
    val got = Relational.q45PercentileCont(spark, sfTiny).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val byFlag = spark.read.parquet(s"$sfTiny/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
      .groupBy(_._1).map { case (f, vs) => f -> vs.map(_._2).sorted }
    def interp(vs: Seq[Double], p: Double): Double = {
      val pos = p * (vs.size - 1).toDouble
      val k = math.floor(pos).toInt
      val lo = vs(k)
      val hi = vs(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    byFlag.foreach { case (f, vs) =>
      val (n, p50, p95) = got(f)
      assert(n == vs.size)
      assert(p50 == interp(vs, 0.5), s"$f p50")
      assert(p95 == interp(vs, 0.95), s"$f p95")
    }
    assert(got.keySet == byFlag.keySet)
  }

  test("kmv grouped: per-group sketch exact when group ndv < k") {
    val got = Sketches.kmvGrouped(spark, sfTiny).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = spark.read.parquet(s"$sfTiny/events.parquet")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("ndv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, "each sf0.001 group has < k distincts → exact")
  }

  test("cms matrix build partial-combines before the shuffle") {
    val plan = Sketches.cmsFreq(spark, sfTiny).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("hdr quantiles: selected bucket CONTAINS the exact percentile") {
    val got = Sketches.hdrQuantiles(spark, sfMid).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // exact per-type percentiles (lower-rank convention matches the
    // ceil-threshold rule: value at 1-based rank ⌈pct·n/100⌉)
    val vals = spark.read.parquet(s"$sfMid/events.parquet")
      .select(col("event_type"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (((et, pct), (bucket, lb)) <- got) {
      val v = vals(et)
      val exact = v(((v.length * pct + 99) / 100 - 1).toInt)
      // bucket upper bound: next sub-bucket's lower bound
      val l = bucket / 4
      val ub =
        if (l < 3) (1L << l.toInt) - 1
        else (1L << (l - 1).toInt) +
          (((bucket % 4) + 1) << (l - 3).toInt) - 1
      assert(lb <= exact && exact <= ub,
        s"$et p$pct: exact $exact outside bucket [$lb, $ub]")
    }
  }

  test("hdr quantiles: planted values bin with ≤ 12.5% relative error") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_hdr").toString
    // 100 values of 1.00 (100 cents: L=7, sub=(100>>4)&3=2 → bucket 30)
    // and 1 value of 80.00 (8000 cents) — p50 lands in the 100-cent
    // bucket, p99 still inside it (cum 100 ≥ ceil(99·101/100)=100)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    ((1 to 100).map(i => (i.toLong, "a", 1.00, t0)) :+
        (101L, "a", 80.00, t0))
      .toDF("event_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = Sketches.hdrQuantiles(spark, dir).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(50L) == (30L, 96L)) // lb 64+2·16 = 96 ≤ 100 < 112
    assert(got(99L) == (30L, 96L))
    // and the lower bound is within 12.5% below the true value 100
    assert(got(50L)._2 >= 100L - 100L / 8 - 1)
  }
}
