package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Sketches.kmvSetOps]]: exact when the sets fit
  * in k, within estimator tolerance when they don't.
  */
class KmvSetOpsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def write(views: Range, buys: Range): String = {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_kmvso").toString
    val t0 = new Timestamp(1700000000000L)
    val rows =
      views.map(u => (u.toLong * 2, t0, u.toLong, "view", 0.0)) ++
        buys.map(u => (u.toLong * 2 + 1, t0, u.toLong, "purchase", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("below k everything is exact, including the intersection") {
    val dir = write(1 to 50, 30 to 80)
    val r = Sketches.kmvSetOps(spark, dir).head()
    assert(r.getLong(1) == 50L)   // ndv_a
    assert(r.getLong(2) == 51L)   // ndv_b
    assert(r.getLong(3) == 80L)   // ndv_union
    assert(r.getLong(4) == 21L)   // matched = |{30..50}|
    assert(r.getLong(5) == 21L)   // exact: matched * 80 div 80
  }

  test("above k the estimates land within KMV tolerance") {
    val dir = write(1 to 3000, 2000 to 5000) // overlap 1001, union 5000
    val r = Sketches.kmvSetOps(spark, dir).head()
    def within(est: Long, truth: Long, tol: Double) =
      math.abs(est - truth) <= truth * tol
    assert(within(r.getLong(1), 3000L, 0.25), s"ndv_a=${r.getLong(1)}")
    assert(within(r.getLong(2), 3001L, 0.25), s"ndv_b=${r.getLong(2)}")
    assert(within(r.getLong(3), 5000L, 0.25), s"ndv_union=${r.getLong(3)}")
    assert(within(r.getLong(5), 1001L, 0.6), s"ndv_inter=${r.getLong(5)}")
  }
}
