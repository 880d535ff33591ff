package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Specs for [[Maintenance.snapshotRead]], [[Curation.splitAssign]],
  * and [[Similarity.pcaPowerIter]]. */
class SnapshotSplitPcaSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("snapshot read: sees v1, blind to v2, manifest-pruned") {
    import spark.implicits._
    val got = Maintenance.snapshotRead(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // expected as-of-v1 from orders directly
    val expect = Tables(spark, sf, "orders")
      .select(
        when(pmod($"o_orderkey", lit(Maintenance.SNAP_V1_MOD)) === 0, "U1")
          .otherwise($"o_orderstatus").as("status"),
        (expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)") +
          when(pmod($"o_orderkey", lit(Maintenance.SNAP_V1_MOD)) === 0, 100L)
            .otherwise(0L)).as("cents"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == expect)
    // v2 invisible: no U2 census row even though v2 files are on disk
    assert(got.contains("U1") && !got.contains("U2"))
    val root = Maintenance.ensureSnapshots(spark, sf)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v2")))
  }

  test("snapshot diff: transition census matches the two as-of states") {
    import spark.implicits._
    val diff = Maintenance.snapshotDiff(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // every change lands on U2 (the v2 commit), never anything else
    assert(diff.keySet.forall(_._2 == "U2"))
    // census from orders directly: keys ≡0 (mod 5) change; old state
    // U1 iff also ≡0 (mod 7); delta 150 from U1 (250−100) else 250
    val o = Tables(spark, sf, "orders")
      .select($"o_orderkey", $"o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % Maintenance.SNAP_V2_MOD == 0)
    val expect = o.groupBy { case (k, st) =>
        if (k % Maintenance.SNAP_V1_MOD == 0) "U1" else st
      }.map { case (old, rows) =>
        (old, "U2") -> (rows.length.toLong,
          rows.map(_ => if (old == "U1") 150L else 250L).sum)
      }
    assert(diff == expect)
    // mass check vs the two reads: total changed == count of mod-5 keys
    assert(diff.values.map(_._1).sum == o.length.toLong)
  }

  test("coreset fps: planted clusters — greedy picks one per cluster first") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_fps").toString
    // three tight clusters far apart on a 4-dim line + noise dims;
    // ids 0-9 at x≈0, 10-19 at x≈100, 20-29 at x≈200
    val rows = (0 until 30).map { i =>
      val base = (i / 10) * 100.0f
      (i.toLong, Array(base + (i % 10) * 0.001f, 0.0f, 0.0f, 0.0f))
    }
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = Curation.coresetFps(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // seed = vec 0 (cluster A); picks 1-2 must cover clusters C then B
    assert(got(0)._2 == 0L)
    assert(got(1)._2 / 10 == 2L, s"second pick should be the far cluster: $got")
    assert(got(2)._2 / 10 == 1L, s"third pick should be the mid cluster: $got")
    // coverage radius is non-increasing after the seed row
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
  }

  test("coreset fps on testdata: k rows, distinct ids, radius non-increasing") {
    val got = Curation.coresetFps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == Curation.CORESET_K)
    assert(got.map(_._2).distinct.length == Curation.CORESET_K)
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
  }

  test("split assignment: partition-layout invariant, percent-banded") {
    val a = Curation.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    // re-run after shuffling the input layout through a repartition of
    // the SESSION default — assignment must be identical (the whole
    // point of hash membership vs random())
    val b = Curation.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    assert(a.toSeq == b.toSeq)
    val frac = a.groupBy(_._2).view.mapValues(_.size.toDouble / a.length)
    // 80/10/10 within a loose band at this corpus size
    assert(frac("train") > 0.6 && frac("train") < 0.95)
    assert(frac.getOrElse("val", 0.0) < 0.25)
    assert(frac.getOrElse("test", 0.0) < 0.25)
    // bucket is the mix64 the splits derive from
    a.zip(Curation.splitAssign(spark, sf).collect()
        .map(r => r.getLong(2))).foreach { case ((id, split), bucket) =>
      val expected =
        if (bucket < Curation.SPLIT_TRAIN_PCT) "train"
        else if (bucket < Curation.SPLIT_VAL_PCT) "val" else "test"
      assert(split == expected, s"doc $id")
    }
  }

  test("pca power iteration: planted dominant axis is recovered") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_pca").toString
    // 4-dim corpus: variance concentrated on dim 2 (index 2), noise on
    // dim 0 — the dominant eigenvector must peak at dim 2
    val rows = (0 until 40).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(0.3f * sign, 0.05f, 3.0f * sign, 0.1f * sign))
    }
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.pcaPowerIter(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val comps = (0 until 4).map(d => got(d.toLong))
    assert(comps.map(math.abs).zipWithIndex.max._2 == 2)
    // normalized: the peak component lands near ±10^6 (renormalize
    // divides by m div 1e6 + 1)
    assert(comps.map(math.abs).max >= 500000L &&
      comps.map(math.abs).max <= 1000000L)
    // eigenvalue row present and positive
    assert(got(-1L) > 0L)
  }

  test("pca on testdata: output shape and determinism across reruns") {
    val a = Similarity.pcaPowerIter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Similarity.pcaPowerIter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    assert(a.map(_._1).toSet == ((-1L) +: (0L until 64L)).toSet)
    // dim components bounded by the normalization quantum; the m row
    // (the eigenvalue-scale estimate) is positive
    assert(a.filter(_._1 >= 0).forall { case (_, v) =>
      math.abs(v) <= 1000000L })
    assert(a.toMap.apply(-1L) > 0L)
  }
}
