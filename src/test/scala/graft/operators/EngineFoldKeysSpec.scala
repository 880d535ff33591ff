package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for the two round-14 engine driver keys:
  * [[EngineQueries.sleepFold]] (N5 — timer-completion fold with a
  * deterministic schedule) and [[EngineQueries.errorContainment]]
  * (R2 — poison event HALTs one run, not the fold).
  */
class EngineFoldKeysSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def write(keys: Seq[Long]): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_efk").toString
    val t0 = new Timestamp(1700000000000L)
    keys.map(k => (k, 1L, "O", 1.0, t0, "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("n5: sleep duration follows the virtual-clock schedule exactly") {
    val dir = write(1L to 6L)
    val out = EngineQueries.sleepFold(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    (1L to 6L).foreach { k =>
      // 60 ms per echo task (10 start + 50 work) + 1000·(k%5) timer
      assert(out(k) == (("COMPLETED", 3L, 120L + 1000L * (k % 5))),
        s"key $k")
    }
  }

  test("r2: poison event halts one run with INTERNAL error, fold survives") {
    val dir = write(1L to 6L)
    val out = EngineQueries.errorContainment(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getBoolean(3))).toMap
    assert(out(3L) == (("HALTED", "INTERNAL_LITTLEHORSE_ERROR", true)))
    assert(out(6L) == (("HALTED", "INTERNAL_LITTLEHORSE_ERROR", true)))
    Seq(1L, 2L, 4L, 5L).foreach { k =>
      assert(out(k) == (("COMPLETED", null, false)), s"key $k")
    }
  }
}
