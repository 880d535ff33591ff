package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Planted fixtures for the round-14 batch-F operators: incremental
  * stats merge, temporal dimension join and deterministic shuffle.
  */
class BatchR14fSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("incremental stats: merged base+delta equals full recompute") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_is").toString
    val t0 = ts("2024-01-01 00:00:00")
    // keys 10 and 20 are the delta slice (mod 10); their extremes
    // only survive if the MERGE actually folds both sides
    Seq((1L, 5L, 2.00), (3L, 7L, 9.00), (10L, 1L, 0.50), (20L, 9L, 99.00))
      .map { case (k, c, p) => (k, c, "O", p, t0, "x") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Maintenance.incrementalStats(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("k") == ((4L, 4L, 1L, 20L, 34L)))
    assert(out("c") == ((4L, 4L, 1L, 9L, 22L)))
    assert(out("p") == ((4L, 4L, 50L, 9900L, 11050L)))
  }

  test("temporal join: facts see the version valid AT their timestamp") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_tj").toString
    // dim key 1: v1 from Jan 3 (attr A), v2 from Jan 10 (attr B)
    Seq((100L, 1L, ts("2024-01-03 00:00:00"), "A"),
      (101L, 1L, ts("2024-01-10 00:00:00"), "B"))
      .map { case (k, c, d, pr) => (k, c, "O", 1.0, d, pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Seq((1L, ts("2024-01-05 10:00:00"), 1L, "e", 1.0),   // inside v1
      (2L, ts("2024-01-15 10:00:00"), 1L, "e", 1.0),     // inside v2
      (3L, ts("2024-01-01 10:00:00"), 1L, "e", 1.0))     // before v1
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Cdc.temporalJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) "<null>" else r.getString(3))).toMap
    assert(out(1L) == ((1L, "A")))
    assert(out(2L) == ((2L, "B")))
    assert(out(3L) == ((-1L, "<null>")))
  }

  test("dataset card: volume, dup share, median quality, code share") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_dc").toString
    // source A: 4 docs — two identical (dup share 500 permille), one
    // code-ish; quality scores 0, 0, 250, 500 -> p50 at rn=2 -> 0
    Seq(
      (1L, "the a b b", "en", "A"),   // score 500
      (2L, "x y z w", "en", "A"),     // score 0, dup
      (3L, "x y z w", "de", "A"),     // score 0, dup
      (4L, "the { } ; =", "en", "A")) // score 200? -> compute: 1 stop/5 tok = 200
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Curation.datasetCard(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // scores: doc1=500, doc2=0, doc3=0, doc4=200; order (score, id):
    // (0,2),(0,3),(200,4),(500,1) -> rn 2 = ceil(4*0.5) -> score 0
    // code: doc4 has 4 symbols / 11 chars = 363 permille >= 50 -> code
    assert(out("A") == ((4L, 17L, 2L, 500L, 0L, 250L)))
  }

  test("global shuffle: positions are a permutation, stable across runs") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_gs").toString
    (0L until 50L).map(i => (i, s"doc $i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val a = Curation.globalShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = Curation.globalShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq) // pure function of the key
    // within every shard the positions are exactly 1..|shard|
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // shard matches the splitmix64 bucket contract
    a.foreach { case (id, shard, _) =>
      assert(shard == graft.functions.TextHashes.mix64Bucket(
        id, Curation.SHUFFLE_SHARDS))
    }
  }
}
