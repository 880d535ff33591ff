package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Specs for the round-12 batch-A operators: SCD2 history build
  * ([[Cdc.scd2History]]), minimum-cost supplier decorrelation
  * ([[Relational.q43MinCostSupplier]]), and z-order clustering
  * ([[Maintenance.zorderCluster]]).
  */
class LakehouseOpsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def ts(day: Int) =
    new Timestamp(1700000000000L + day * 86400000L)

  test("scd2: planted feed builds chained intervals with one current row") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_scd2").toString
    // key 1: three versions incl. a same-day tie broken by change_id;
    // key 2: single version (immediately current)
    Seq(
      (1L, 30L, "URGENT", 10.0, ts(5)),
      (1L, 10L, "LOW", 20.0, ts(0)),
      (1L, 20L, "HIGH", 30.0, ts(0)), // same valid_from as change 10
      (2L, 40L, "LOW", 40.0, ts(3)))
      .toDF("o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice",
        "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val out = Cdc.scd2History(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        Option(r.getTimestamp(6)), r.getLong(7)))
    assert(out.toSeq == Seq(
      (1L, 1L, 10L, "LOW", Some(ts(0)), 0L), // zero-length (tie) interval
      (1L, 2L, 20L, "HIGH", Some(ts(5)), 0L),
      (1L, 3L, 30L, "URGENT", None, 1L),
      (2L, 1L, 40L, "LOW", None, 1L)))
  }

  test("scd2: sf0.001 history satisfies the SCD2 invariants") {
    val out = Cdc.scd2History(spark, sf).collect()
    assert(out.nonEmpty)
    val byKey = out.groupBy(_.getLong(0))
    byKey.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // versions contiguous from 1
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rows.length).toSeq)
      // exactly one current row, and it is the last version
      assert(rows.count(_.getLong(7) == 1L) == 1)
      assert(sorted.last.getLong(7) == 1L && sorted.last.isNullAt(6))
      // intervals chain: valid_to(n) == valid_from(n+1) — compared
      // untyped because the adaptive loader may surface the NTZ
      // physical type (LocalDateTime rows) on driver-regenerated data
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.get(6) == b.get(5))
        case _ =>
      }
    }
  }

  test("q43: every row is a true min-cost EUROPE supplier for its part") {
    import spark.implicits._
    val out = Relational.q43MinCostSupplier(spark, sf)
    // independent recomputation via a window (different operator path)
    val eurKeys = spark.read.parquet(s"$sf/supplier.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .join(spark.read.parquet(s"$sf/region.parquet")
        .filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey").as[Long].collect().toSet
    val minByPart = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_suppkey").isin(eurKeys.toSeq: _*))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("c"))
      .groupBy("l_partkey").agg(min("c").as("mc"))
      .as[(Long, Double)].collect().toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (part, cost) = (r.getLong(0), r.getDouble(5))
      assert(minByPart(part) == cost,
        s"part $part: cost $cost != true min ${minByPart(part)}")
    }
    // the supplier column only ever names EUROPE suppliers
    val eurNames = spark.read.parquet(s"$sf/supplier.parquet")
      .filter(col("s_suppkey").isin(eurKeys.toSeq: _*))
      .select("s_name").as[String].collect().toSet
    rows.foreach(r => assert(eurNames.contains(r.getString(3))))
  }

  test("zorder: interleave matches a bit-by-bit reference") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long =
      (0 until Maintenance.ZORDER_BITS).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (4095L, 4095L),
      (1499L, 2404L), (2730L, 1365L), (7L, 8L))
    val got = cases.toDF("x", "y")
      .select(Maintenance.zInterleave(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    assert(got == cases.map { case (x, y) => ref(x, y) })
  }

  test("zorder: every bucket bounds BOTH dimensions") {
    // 6-bit bucket prefix = 3 high bits per dim fixed → each dim's
    // in-bucket spread < 2^(ZORDER_BITS - 3)
    val bound = 1L << (Maintenance.ZORDER_BITS - 3)
    val rows = Maintenance.zorderCluster(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minX, maxX) = (r.getLong(2), r.getLong(3))
      val (minY, maxY) = (r.getLong(4), r.getLong(5))
      assert(maxX - minX < bound, s"bucket ${r.getLong(0)} x spread")
      assert(maxY - minY < bound, s"bucket ${r.getLong(0)} y spread")
    }
    // buckets partition the table: counts sum to the source row count
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_.getLong(1)).sum == n)
  }
}
