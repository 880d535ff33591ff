package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Specs for [[StreamBatch.streamingCms]], [[Similarity.abttProject]],
  * and [[Graph.degreeHistogram]]. */
class BatchCSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("streaming CMS == batch CMS, cell for cell and estimate for estimate") {
    val batch = Sketches.cmsFreq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val stream = StreamBatch.streamingCms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stream == batch)
  }

  test("streaming CMS keeps the one-sided guarantee on true counts") {
    import spark.implicits._
    val truth = Tables(spark, sf, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .filter($"user_id" < Sketches.CMS_QUERY_KEYS)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    StreamBatch.streamingCms(spark, sf).collect().foreach { r =>
      val (key, est) = (r.getLong(0), r.getLong(1))
      assert(est >= truth.getOrElse(key, 0L),
        s"CMS under-estimated key $key") // overestimate-only
    }
  }

  test("streaming HDR == batch HDR, row for row") {
    val batch = Sketches.hdrQuantiles(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val stream = StreamBatch.streamingHdr(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(stream == batch)
  }

  test("abtt projection: coefficient replays the integer dot product") {
    val (v, _) = Similarity.pcaVector(spark, sf)
    import spark.implicits._
    val embs = Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    val got = Similarity.abttProject(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == embs.size)
    got.take(20).foreach { case (id, coeff) =>
      val expect = embs(id).zip(v).map { case (x, vq) =>
        math.floor(x * Similarity.ABTT_SCALE + 0.5).toLong * vq
      }.sum
      assert(coeff == expect, s"vec $id")
    }
    // the dominant direction explains nonzero variance: coefficients
    // are not all equal
    assert(got.map(_._2).distinct.length > 1)
  }

  test("degree histogram: planted star graph bins exactly") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_deg").toString
    // star: hub supplier 1 co-supplies with 2..9 (one order per spoke)
    // → hub degree 8 (bin 4: 8-15), spokes degree 1 each (bin 1)
    (2L to 9L).zipWithIndex
      .flatMap { case (s2, o) => Seq((o.toLong, 1L), (o.toLong, s2)) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = Graph.degreeHistogram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // degrees ≪ k=256, so the KMV estimates are EXACT here
    assert(got.toSeq == Seq((1L, 1L, 1L, 8L), (4L, 8L, 15L, 1L)))
  }

  test("degree histogram on testdata: mass conserved, bins ordered") {
    import spark.implicits._
    val got = Graph.degreeHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nodes = Tables(spark, sf, "lineitem")
      .select($"l_suppkey").distinct().count()
    assert(got.map(_._4).sum == nodes) // every supplier lands in a bin
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    got.foreach { case (bin, lo, hi, _) =>
      assert(lo == (1L << (bin - 1).toInt) && hi == (1L << bin.toInt) - 1)
    }
  }
}
