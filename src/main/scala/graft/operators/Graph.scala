package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph computation as a first-class operator: PageRank
  * over the customer↔supplier purchase graph (who-bought-from-whom,
  * derived from orders⋈lineitem), 3 fixed power iterations.
  *
  * Determinism: float PageRank sums per-node contributions in
  * partition order — no order-independent oracle can replay it
  * bit-exactly. Ranks here live in integer MICRO-units (start
  * 1,000,000 per node; damping 0.85 as the exact integer expression
  * `(r·85) div (100·deg)` per edge), so every per-edge contribution
  * and per-node sum is exact integer arithmetic — commutative,
  * partition-independent, and replayed verbatim by the oracle's three
  * unrolled CTE iterations. The integer truncation per edge loses <1
  * micro-unit per edge versus real division — the standard quantized
  * fixed-point treatment (same as the engine's cents-quantized money
  * sums).
  *
  * Scale shape: each iteration is one join (edges ⋈ ranks, both
  * pre-partitioned on the node key — AQE reuses the layout) + one
  * map-side-combined sum; the edge list is `localCheckpoint`ed once so
  * iterations re-read a materialized table instead of re-deriving the
  * distinct join ([[Dedup]] uses the same lineage-truncation pattern
  * for its label-propagation loop). 3 iterations = 3 shuffles, not a
  * 3-deep recompute tree.
  */
object Graph {

  val DAMPING_PCT = 85L
  val ITERATIONS = 3
  val SUPPLIER_OFFSET = 1000000L

  /** Encoded supplier node ids derived from DIM MEMBERSHIP — the
    * trustworthy way to recover a node's kind at output assembly.
    * `node >= SUPPLIER_OFFSET` is only a valid kind test when every
    * customer key sits below the offset; the node-shifted scale
    * replicas (BenchScale, SPARK_GRAFT_KEY_SHIFT=nodes) place replica
    * customers at k·10M ≥ the offset, so a fixed-boundary test
    * misclassifies them as suppliers (and inflated the r16 pagerank
    * decade's output accounting, VERDICT r16 "what's wrong" #2). A
    * membership join against the supplier dim applies the same rule
    * at any key universe: TPC-H referential integrity guarantees
    * every l_suppkey exists in supplier, and the replicas shift
    * facts and dims together. The DuckDB oracles label kind by the
    * IDENTICAL membership subquery (`node IN (SELECT s_suppkey +
    * offset FROM supplier)`), so the engines agree wherever the
    * encoding itself is sound. The residual limit is the NODE-ID
    * ENCODING, not the labeling: `suppkey + SUPPLIER_OFFSET` assumes
    * the customer (or part) key space stays disjoint from the
    * shifted supplier space — at TPC-H SF ≳ 7 a custkey can equal
    * suppkey + 1e6 and the two entities would share one node id on
    * BOTH engines. A deployment at that scale raises the offset (one
    * constant; oracles interpolate it). The dim is broadcastable at
    * every SF ([[Tables.broadcastable]]), so each use is one
    * broadcast-hash join — no extra shuffle. */
  private def supplierNodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    broadcast(Tables(s, dir, "supplier")
      .select(($"s_suppkey" + SUPPLIER_OFFSET).cast("long").as("snode"))
      .distinct())
  }

  def pagerankQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + SUPPLIER_OFFSET).as("dst"))
      .distinct()
    // undirected flow: rank moves both ways along a purchase relation.
    // Shipped shape: checkpoint ONE edge direction and derive the
    // reverse by a narrow projection over the materialized table —
    // half the checkpoint write of the full undirected list — and
    // leave the per-iteration degree join to AQE (deg and ranks are
    // node-sized, so AQE broadcasts them and the join is effectively
    // free). (r14 triage A/B: the rejected alternative — fusing deg
    // into the checkpointed edge table, by join or by window —
    // measured SLOWER at sf0.1, 3.2–3.5 s vs 2.4 s floor, because the
    // fused checkpoint is wider and pays its cost on all 3
    // iterations while saving a join that was already free.)
    // serialized: edge-sized cache (round-19 1000× anatomy — see
    // labelPropagate's eb checkpoint)
    val half = e0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val edges = half
      .union(half.select($"dst".as("src"), $"src".as("dst")))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nodes = deg.select($"src".as("node")) // every node has deg ≥ 1
    var ranks = nodes.select($"node", lit(1000000L).as("r"))
    (1 to ITERATIONS).foreach { _ =>
      val contrib = edges
        .join(ranks, $"src" === $"node")
        .join(deg, "src")
        .select($"dst",
          expr(s"(r * $DAMPING_PCT) div (100 * deg)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("in_r"))
      ranks = nodes.join(contrib, $"node" === $"dst", "left")
        .select($"node",
          (lit(150000L) + coalesce($"in_r", lit(0L))).as("r"))
    }
    // supplier rows selected by DIM MEMBERSHIP (broadcast semi-join),
    // not the fixed offset boundary — see [[supplierNodes]]
    ranks.join(supplierNodes(s, dir), $"node" === $"snode", "left_semi")
      .select(($"node" - SUPPLIER_OFFSET).as("s_suppkey"),
        $"r".as("rank_ppm"))
      .orderBy($"s_suppkey")
  }

  val BFS_HOPS = 4
  val BFS_SEED_SUPPKEY = 1L

  /** Multi-hop reachability — frontier BFS over the undirected
    * part↔supplier supply graph (who co-supplies through which parts),
    * seeded at supplier [[BFS_SEED_SUPPKEY]], [[BFS_HOPS]] hops.
    * Output: every reached node with its hop distance (BFS layer =
    * minimal distance by construction, so the result is deterministic
    * with no min-aggregation needed).
    *
    * Scale shape (the iterative-join discipline shared with
    * [[pagerankQ]] and [[Dedup]]'s label propagation): per hop, ONE
    * join of the edge table against the CURRENT FRONTIER only (delta
    * iteration — visited nodes never re-expand), then an anti-join
    * against the visited set to keep the frontier shrinking; both
    * sides are id-keyed shuffles, the frontier is typically tiny so
    * AQE broadcasts it against the (pre-materialized,
    * `localCheckpoint`ed) edge list; the visited set is
    * re-checkpointed per hop so the plan tree stays O(1) deep instead
    * of O(hops). The oracle unrolls the same four layers in SQL. */
  def reachabilityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables(s, dir, "lineitem")
      .select($"l_partkey".as("src"),
        ($"l_suppkey" + SUPPLIER_OFFSET).as("dst"))
      .distinct()
    val edges = e0
      .union(e0.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
    val seed = Seq((SUPPLIER_OFFSET + BFS_SEED_SUPPKEY, 0))
      .toDF("node", "dist").localCheckpoint()
    // each frontier checkpoints ONCE; the visited set is the union of
    // those materialized layers — re-checkpointing the accumulated set
    // per hop re-materializes every previous layer every hop
    var layers = Vector(seed)
    var frontier = seed
    (1 to BFS_HOPS).foreach { h =>
      val visited = layers.reduce(_ union _)
      val next = edges
        .join(frontier.select($"node"), $"src" === $"node")
        .select($"dst".as("node")).distinct()
        .join(visited.select($"node".as("seen")),
          $"node" === $"seen", "left_anti")
        .select($"node", lit(h).as("dist"))
      // LAZY checkpoint (r20 — cut per-hop job count): eager paid a
      // dedicated materialization job per hop; lazy folds it into the
      // next hop's first consumer job (the visited-side broadcast
      // build), after which the second consumer reads the cache
      frontier = next.localCheckpoint(false) // cached: read 2× next hop
      layers :+= frontier
    }
    layers.reduce(_ union _)
      .join(supplierNodes(s, dir), $"node" === $"snode", "left")
      .select(
        when($"snode".isNotNull, "supplier").otherwise("part")
          .as("kind"),
        when($"snode".isNotNull, $"node" - SUPPLIER_OFFSET)
          .otherwise($"node").as("id"),
        $"dist")
      .orderBy($"kind", $"id")
  }

  /** Edge budget for [[trianglesQ]] — the graph analyzed is the top-M
    * strongest co-supply relations, a BOUNDED subgraph by
    * construction. */
  val TRI_EDGES = 2000

  /** Triangle / wedge census over the supplier co-supply graph (two
    * suppliers are related when they supply the same order) — the
    * global-clustering building block.
    *
    * Scale design, in order of the three bounds that make this safe at
    * 100 TB where naive triangle listing is not:
    *  1. Pair generation is per-order: an order has a bounded handful
    *     of lineitems (TPC-H ≤ 7), so the pair stream is LINEAR in
    *     orders — never a supplier×supplier blowup.
    *  2. The analyzed graph is the top-[[TRI_EDGES]] pairs by
    *     (co-supply count DESC, pair ASC) via sort+limit — plans as
    *     TakeOrderedAndProject (bounded per-partition heap, the q8
    *     property), so the triangle phase's input is O(M) regardless
    *     of corpus size.
    *  3. Enumeration is COMPACT-FORWARD (Latapy 2008): edges oriented
    *     by the total order (degree, node) ascending, a triangle is
    *     counted exactly once at its lowest vertex, and the wedge set
    *     is bounded by Σ C(outdeg⁺,2) — the orientation that makes
    *     high-degree hubs cheap (their edges all point INTO them).
    * All arithmetic integer; the oracle replays orientation and
    * enumeration verbatim. Output: one census row
    * (nodes, edges, oriented wedges, triangles).
    */
  /** The bounded edge selection of [[trianglesQ]], pre-
    * materialization — exposed so PlanSpec can pin the
    * TakeOrderedAndProject shape (the operator itself runs eagerly
    * and returns a local census row, which has no plan left to
    * inspect). */
  private[operators] def triEdgesPlan(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val os = Tables(s, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_suppkey".as("sup"))
      .distinct()
      // r19: pin the pair-census self-join's exchange width (the
      // repartitionForCpu rule; shared by both sides via ReuseExchange)
      .repartition(Tables.cpuTarget(s), $"o")
    os.as("a").join(os.as("b"),
        $"a.o" === $"b.o" && $"a.sup" < $"b.sup")
      .groupBy($"a.sup".as("x"), $"b.sup".as("y"))
      .agg(count(lit(1)).as("w"))
      .orderBy($"w".desc, $"x", $"y").limit(TRI_EDGES)
      .select($"x", $"y")
  }

  def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = triEdgesPlan(s, dir)
      .localCheckpoint() // read 4× (deg, orient, wedge-close probe)
    val deg = edges.select($"x".as("node"))
      .union(edges.select($"y".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    // total order: ord = deg·10^9 + node (node ids ≪ 10^9)
    val ord = deg.select($"node", ($"deg" * 1000000000L + $"node").as("ord"))
    val oriented = edges
      .join(ord.select($"node".as("x"), $"ord".as("ox")), "x")
      .join(ord.select($"node".as("y"), $"ord".as("oy")), "y")
      .select(when($"ox" < $"oy", $"x").otherwise($"y").as("u"),
        when($"ox" < $"oy", $"oy").otherwise($"ox").as("ov"),
        when($"ox" < $"oy", $"y").otherwise($"x").as("v"))
      .localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        $"e1.u" === $"e2.u" && $"e1.ov" < $"e2.ov")
      .select($"e1.v".as("a"), $"e2.v".as("b"))
    val tris = wedges.join(oriented.as("e3"),
        $"a" === $"e3.u" && $"b" === $"e3.v")
    // the four census counts are INDEPENDENT actions over the (tiny,
    // checkpointed) bounded subgraph — overlap them from driver
    // threads (r19, guide §2.6) instead of paying four sequential
    // job round-trips; each count is exact, so overlap cannot change
    // the census row
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fNodes = Future(deg.count())
    val fEdges = Future(edges.count())
    val fWedges = Future(wedges.count())
    val fTris = Future(tris.count())
    val nNodes = Await.result(fNodes, Duration.Inf)
    val nEdges = Await.result(fEdges, Duration.Inf)
    val nWedges = Await.result(fWedges, Duration.Inf)
    val nTris = Await.result(fTris, Duration.Inf)
    Seq((nNodes, nEdges, nWedges, nTris))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles")
  }

  /** Log₂-binned co-supply degree distribution with KMV-approximated
    * degrees — the graph-profile pass (hub detection, power-law
    * inspection) composed from the sketch family.
    *
    * Why approximate: a node's exact distinct-neighbor count needs the
    * distinct PAIR relation materialized — O(nodes²) rows on a
    * saturating co-occurrence graph (this one reaches completeness
    * already at sf0.01; see [[trianglesQ]]'s cap for the other
    * treatment). The KMV sketch instead bounds state at k longs PER
    * NODE ([[graft.functions.Sketch.KmvAgg]] partial-aggregates, so
    * each map task ships ≤ k mins per node it saw), the pair stream
    * itself stays per-order-bounded, and nothing size-proportional is
    * ever collected. Estimates are splitmix64-deterministic — the
    * oracle replays sketch contents, the repo-wide sketch contract.
    * Binning is integer-exact: bin = binary-digit count of the
    * estimate (`conv(est,10,2)` length here, `length(bin(est))` in
    * DuckDB — no float log2 on either side). */
  def degreeHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val os = Tables(s, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_suppkey".as("sup"))
      .distinct()
      // r19: explicit count on the self-join's exchange (shared by
      // both sides via ReuseExchange) — the per-order pair expansion
      // and the KMV partial aggregation run in this stage, which AQE
      // coalesced to ~8 tasks at gate bytes (repartitionForCpu rule)
      .repartition(Tables.cpuTarget(s), $"o")
    val nbr = os.as("a").join(os.as("b"),
        $"a.o" === $"b.o" && $"a.sup" =!= $"b.sup")
      .select($"a.sup".as("node"),
        graft.functions.GraftFunctions.mix64($"b.sup").as("h"))
    nbr.as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.Sketch.KmvAgg(Sketches.KMV_K)
        .toColumn.name("mins"))
      .map { case (node, mins) =>
        val (_, est) = Sketches.kmvEstimate(mins)
        (node, est)
      }
      .toDF("node", "deg_est")
      .select(length(conv($"deg_est", 10, 2)).cast("long").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_nodes"))
      .select($"bin",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT) - 1)")
          .as("deg_lo"),
        (expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT))") - 1L)
          .as("deg_hi"),
        $"n_nodes")
      .orderBy($"bin")
  }

  /** Co-purchase top-k for the recommendation surface ("parts ordered
    * together"): for each part, the [[COPURCHASE_K]] parts most often
    * sharing an order with it, ranked (count DESC, partkey ASC).
    *
    * Scale shape: the pair expansion is per-ORDER (distinct parts per
    * order first, then a self-join keyed on the order), so pair volume
    * is Σ_orders d² with d = parts per order — bounded by basket size,
    * linear in orders, never corpus². The per-part ranking rides the
    * bounded [[graft.functions.TopK.BottomKLongAgg]] (≤ k rows per
    * part per map task), not a window over the co-occurrence
    * relation. */
  val COPURCHASE_K = 5

  def copurchaseTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TopK
    // basket form: ONE order-keyed shuffle builds the per-order part
    // set (bounded by basket size), then the d² pair expansion is a
    // narrow double-explode — no self-join, no second lineitem pass
    val co = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
      // r19: explicit count replacing the groupBy's own exchange
      // (collect_set's partial combine saves no bytes — set union —
      // so shuffling raw rows costs nothing extra at any scale); the
      // d² basket explode runs in the post-exchange stage, which AQE
      // otherwise coalesced to ~4 tasks
      .repartition(Tables.cpuTarget(s), $"l_orderkey")
      .groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
      .select(explode($"ps").as("l_partkey"), $"ps")
      .select($"l_partkey", explode($"ps").as("pb"))
      .filter($"l_partkey" =!= $"pb")
      .groupBy($"l_partkey", $"pb")
      .agg(count(lit(1)).as("n_co"))
    val agg = new TopK.BottomKLongAgg(COPURCHASE_K).toColumn.name("topk")
    co
      .select($"l_partkey",
        struct((-$"n_co").as("rank"), $"pb".as("key")).as("e"))
      .as[(Long, TopK.LEntry)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg)
      .flatMap { case (p, es) =>
        es.zipWithIndex.map { case (e, i) =>
          (p, (i + 1).toLong, e.key, -e.rank)
        }
      }
      .toDF("part", "rank", "rec_part", "n_co")
      .orderBy($"part", $"rank")
  }

  /** Minimum degree for [[kcorePeel]]. */
  val KCORE_K = 3
  /** Peel rounds — a BOUNDED prefix of the k-core fixpoint (the full
    * fixpoint has data-dependent round count; three rounds is already
    * a strictly stronger filter than the degree threshold alone and
    * keeps the oracle expressible as an unrolled CTE chain). */
  val KCORE_ROUNDS = 3

  /** k-core peeling over the purchase graph (same undirected
    * customer↔supplier edge list as [[pagerankQ]]): repeatedly delete
    * nodes with degree < [[KCORE_K]], [[KCORE_ROUNDS]] rounds, then
    * report the surviving nodes with their residual degree — the
    * dense-subgraph extraction used for community seeds and spam-ring
    * mining.
    *
    * Scale shape (the family's iterative-join discipline): per round,
    * ONE degree aggregate (map-side combined) and TWO semi-joins
    * filtering the edge list against the surviving-node set, then a
    * `localCheckpoint` lineage cut; the edge list only shrinks, so
    * round cost is monotonically decreasing. All integer arithmetic —
    * the oracle unrolls the same three rounds verbatim. */
  def kcorePeel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + SUPPLIER_OFFSET).as("dst"))
      .distinct()
    // (r20 note: a repartition(src) pin before this checkpoint was
    // tried and REVERTED — under AQE the checkpoint's LogicalRDD
    // reports UnknownPartitioning, so the per-round degree aggregates
    // cannot reuse the layout and the pin is a pure added exchange;
    // see the jaccardCocustomer negative-result comment.)
    var edges = e0
      .union(e0.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
    (1 to KCORE_ROUNDS).foreach { _ =>
      val keep = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= KCORE_K)
        .select($"src".as("node"))
      edges = edges
        .join(keep.select($"node".as("ks")), $"src" === $"ks", "left_semi")
        .join(keep.select($"node".as("kd")), $"dst" === $"kd", "left_semi")
        // lazy (r20): materialized by the next round's first consumer
        // job (keep's broadcast build) instead of a dedicated job
        .localCheckpoint(false)
    }
    edges.groupBy($"src").agg(count(lit(1)).as("residual_deg"))
      .join(supplierNodes(s, dir), $"src" === $"snode", "left")
      .select(
        when($"snode".isNotNull, "supplier").otherwise("customer")
          .as("kind"),
        when($"snode".isNotNull, $"src" - SUPPLIER_OFFSET)
          .otherwise($"src").as("id"),
        $"residual_deg")
      .orderBy($"kind", $"id")
  }

  /** Pairs reported by [[jaccardCocustomer]] — a global top-K, not an
    * absolute threshold: the permille distribution collapses as the
    * supplier dimension grows (sf0.01 median 208‰ → sf0.1 median 21‰),
    * so any fixed cut is either non-binding or empty across scales,
    * while top-K stays bounded and meaningful at every SF. */
  val JACCARD_TOP_K = 200

  /** Neighborhood-Jaccard node similarity (link prediction /
    * "related sellers"): supplier pairs scored by the Jaccard of
    * their customer sets, `|A∩B| * 1000 div (|A|+|B|-|A∩B|)` in exact
    * integer permille. The intersection comes from ONE wedge
    * self-join of the deduped (supplier, customer) edge list keyed on
    * the customer — join volume is Σ_c deg(c)², linear in edges for
    * bounded per-customer fan-out — and the two degree joins
    * broadcast (supplier-dim-sized). The report is a global
    * [[JACCARD_TOP_K]] under a total order. At 100 TB the production
    * path feeds
    * the same scoring from minhashed neighbor sets (the
    * [[Dedup.minhashLsh]] shape); this key is the family's exact
    * validator on the bounded dimension, same role split as
    * `dedup_ngram_jaccard`. */
  def jaccardCocustomer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"l_suppkey".as("supp"), $"o_custkey".as("cust"))
      .distinct()
      // r20 negative result (measured, REVERTED): repartition(cust)
      // before this checkpoint was meant to let the wedge self-join
      // reuse the layout — but under AQE a localCheckpoint's
      // LogicalRDD reports UnknownPartitioning (plans/r20 dumps show
      // `Scan ExistingRDD ... UnknownPartitioning(0)`; the self-join
      // still planned both Exchanges), so the pin was a pure added
      // exchange: A/B/A/B 2.30 → 2.81 s. Do not re-add without a
      // partitioning-preserving cache (persist +
      // canChangeCachedPlanOutputPartitioning=false semantics).
      .localCheckpoint() // read twice (wedge join + degrees)
    val deg = e.groupBy($"supp").agg(count(lit(1)).as("deg"))
    val common = e.as("a")
      .join(e.as("b"),
        $"a.cust" === $"b.cust" && $"a.supp" < $"b.supp")
      .groupBy($"a.supp".as("sa"), $"b.supp".as("sb"))
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(deg.select($"supp".as("sa"), $"deg".as("dega"))),
        "sa")
      .join(broadcast(deg.select($"supp".as("sb"), $"deg".as("degb"))),
        "sb")
      .select($"sa".cast("long").as("sa"), $"sb".cast("long").as("sb"),
        $"common", ($"dega" + $"degb" - $"common").as("unions"))
      .select($"sa", $"sb", $"common", $"unions",
        expr("common * 1000 div unions").as("jaccard_permille"))
      // global top-K under a total order -> TakeOrderedAndProject
      // (per-partition K + driver K-merge; never a full sort)
      .orderBy($"jaccard_permille".desc, $"sa", $"sb")
      .limit(JACCARD_TOP_K)
  }

  /** HITS iterations. */
  val HITS_ITERS = 2

  /** Bipartite HITS (hubs & authorities) over the purchase graph —
    * the marketplace-quality ranking PageRank doesn't give you: good
    * CUSTOMERS (hubs) are ones who buy from good SUPPLIERS
    * (authorities), and vice versa, mutually reinforcing. Scores live
    * in integer micro-units with the [[pagerankQ]] fixed-point
    * discipline; after every half-step the vector renormalizes by
    * `x div (max(x) div 10⁶ + 1)` (the PCA-chain overflow guard), so
    * every sum is exact, partition-independent Long arithmetic and
    * the oracle unrolls the same [[HITS_ITERS]] rounds verbatim. Per
    * half-step: ONE edge⋈score join + ONE map-side-combined sum; the
    * renorm max is a 1-row aggregate on a node-bounded relation. */
  def hitsBipartite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("p"))
      .distinct()
      .localCheckpoint() // read 2×HITS_ITERS times
    def renorm(df: DataFrame, k: String, v: String): DataFrame = {
      // materialize the node-sized score vector ONCE per half-step:
      // the 1-row max and the next half-step's join both read the
      // checkpoint instead of re-running the whole preceding chain
      // (without this, every renorm head() replays all prior rounds).
      // LAZY checkpoint (r20, VERDICT r19 item 4 — cut per-round job
      // count): the eager form paid TWO driver jobs per half-step
      // (materialize, then the max probe over the cache); lazy defers
      // materialization into the probe's own job, so each half-step
      // costs ONE job and the next half-step's join still reads the
      // now-populated cache.
      val mat = df.localCheckpoint(false)
      val m = mat.agg(max(col(v))).head().getLong(0) // 1 row, bounded
      mat.select(col(k), expr(s"$v div (${m}L div 1000000L + 1L)").as(v))
    }
    var auth = edges.select($"p").distinct()
      .select($"p", lit(1000000L).as("a"))
    var hub: DataFrame = null
    (1 to HITS_ITERS).foreach { _ =>
      hub = renorm(
        edges.join(auth, "p").groupBy($"c").agg(sum($"a").as("h")),
        "c", "h")
      auth = renorm(
        edges.join(hub, "c").groupBy($"p").agg(sum($"h").as("a")),
        "p", "a")
    }
    auth.select($"p".cast("long").as("s_suppkey"), $"a".as("auth_ppm"))
      .orderBy($"s_suppkey")
  }

  /** Fixed round count for [[connectedComponents]]: the purchase graph
    * is dense bipartite-ish (short paths through popular suppliers),
    * so min-label flooding converges in a handful of rounds;
    * GraphSpec WITNESSES the fixpoint at this R (one more round
    * changes nothing) so the fixed-R oracle parity is also true CC. */
  val CC_ROUNDS = 6

  /** Connected components over the undirected customer—supplier
    * purchase graph, component id = min node id — first-class CC (the
    * near-dup clustering in [[Dedup.nearDupClusters]] is the same
    * min-label propagation over LSH pairs; here the edge set is
    * relational and the oracle replays [[CC_ROUNDS]] unrolled rounds).
    * Fixed R on BOTH engines keeps parity independent of the true
    * diameter; the to-fixpoint production variant is
    * [[Dedup.labelPropagate]]'s default mode with its exact
    * changed-label probe. Per round: one join + one map-side-combined
    * min — no corpus-sized state, O(R) shuffles at any scale. */
  def connectedComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + SUPPLIER_OFFSET).as("dst"))
      .distinct()
    // serialized: edge-sized cache, same rationale as labelPropagate's
    // eb checkpoint (round-19 1000× anatomy — deserialized unroll is
    // the heap cliff, uncompressed spill the disk cliff)
    val half = e0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val edges = half.select($"src".as("a"), $"dst".as("b"))
      .union(half.select($"dst".as("a"), $"src".as("b")))
    val labels0 = half.select($"src".as("n"))
      .union(half.select($"dst".as("n")))
      .distinct()
      .select($"n".as("doc_id"), $"n".as("cluster_id"))
    // non-convergence detection: at test SF GraphSpec witnesses the
    // fixpoint inside CC_ROUNDS, but a wider-diameter corpus could
    // still be changing labels at round R — both engines would
    // truncate identically and the oracle gate would pass on WRONG
    // component ids, so surface it loudly instead of silently
    // emitting a cut-short flood (labelPropagate's changed-label
    // probe already measures this for free)
    Dedup.labelPropagate(s, edges, labels0, maxRounds = CC_ROUNDS,
      onTruncated = r => org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: label flood still changing after $r " +
          s"rounds (CC_ROUNDS=$CC_ROUNDS) — component ids are " +
          "UNCONVERGED; raise CC_ROUNDS for this corpus diameter"))
      .join(supplierNodes(s, dir), $"doc_id" === $"snode", "left")
      .select($"doc_id".as("node_id"), $"cluster_id".as("component_id"),
        when($"snode".isNotNull, "supplier")
          .otherwise("customer").as("kind"))
      .orderBy($"node_id")
  }

  /** Synchronous vote rounds for [[labelCommunities]]. Deliberately
    * SMALL: LPA communities are the label of the strongest nearby hub,
    * and each extra synchronous round floods labels one hop further
    * toward the giant-component collapse every LPA paper warns about —
    * fixed R is both the parity contract with the unrolled oracle and
    * the semantic dial. MEASURED (BASELINE.md round-17 sweep): both
    * test corpora collapse to ONE community by R=4, and the modularity
    * peak moves with graph density (R=3 on sf0.01, R=2 on sf0.1) — R
    * is corpus-dependent, and [[lpaModularity]] is the instrument for
    * picking it. */
  val LPA_ROUNDS = 3

  /** Label-propagation communities over the undirected customer—
    * supplier purchase graph — the cheap community detector (Raghavan
    * et al. 2007) that needs no modularity objective: each round every
    * node adopts the most frequent label among its neighbors AND
    * itself (the self-vote damps the bipartite two-coloring
    * oscillation synchronous LPA is known for), ties broken toward the
    * smallest label so the update is a total order both engines
    * replay. Distinct from [[connectedComponents]]'s min-label flood:
    * the vote is a FREQUENCY argmax, so dense local neighborhoods keep
    * their hub's label instead of collapsing to the component minimum.
    * Per round: one edge⋈label join + one map-side-combined count +
    * one map-side-combined struct-max (the argmax rides a
    * `max(struct(count, -label))` — partial aggregation ships one
    * candidate per (node, label) per map task, never a window over the
    * vote relation); labels materialize once per round via
    * localCheckpoint. O(R) shuffles, no corpus-sized state — the
    * [[connectedComponents]] scale shape with a heavier but still
    * combinable per-round aggregate. */
  def labelCommunities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, labels) = lpaCore(s, dir)
    labels
      .join(supplierNodes(s, dir), $"node" === $"snode", "left")
      .select($"node".cast("long").as("node_id"),
        $"lbl".cast("long").as("community_id"),
        when($"snode".isNotNull, "supplier")
          .otherwise("customer").as("kind"))
      .orderBy($"node_id")
  }

  /** Shared LPA core — the half-edge relation and the converged (well,
    * round-[[LPA_ROUNDS]]) label relation that both
    * [[labelCommunities]] (per-node output) and [[lpaModularity]]
    * (partition-quality rollup) consume. Same plan shape as before the
    * round-17 extraction: per round one edge⋈label join + two
    * map-side-combined aggregates, labels checkpointed per round. */
  private def lpaCore(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (half, edges, labels0) = lpaGraph(s, dir)
    var labels = labels0
    (1 to LPA_ROUNDS).foreach { _ =>
      labels = lpaVote(edges, labels)
        .localCheckpoint() // read twice next round (join + self-vote)
    }
    (half, labels)
  }

  /** The purchase graph both LPA entry points vote over: checkpointed
    * half-edge relation, undirected edge view, identity labels. */
  private def lpaGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val half = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + SUPPLIER_OFFSET).as("dst"))
      .distinct()
      // serialized: edge-sized cache read 2·R+2 times (edges + nodes)
      // — round-19 1000× anatomy, see labelPropagate's eb checkpoint
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val edges = half.select($"src".as("a"), $"dst".as("b"))
      .union(half.select($"dst".as("a"), $"src".as("b")))
    val labels0 = half.select($"src".as("node"))
      .union(half.select($"dst".as("node")))
      .distinct()
      .select($"node", $"node".as("lbl"))
    (half, edges, labels0)
  }

  /** One synchronous LPA vote round: one edge⋈label join + the
    * frequency-count / struct-argmax aggregate pair (the (count DESC,
    * label ASC) total order), self-vote via union. Callers checkpoint
    * the result.
    *
    * r20 (guide §2.4 — share one exchange; VERDICT r19 item 4, the
    * family is orchestration-bound at gate SF): the two aggregates
    * used to plan TWO exchanges per round — hashpartitioning(node,
    * lbl) for the count, then hashpartitioning(node) for the argmax.
    * One explicit repartition on `node` satisfies BOTH clustering
    * requirements (hash(node) ⊆ {node, lbl}), so both aggregates run
    * in a single post-shuffle stage: one exchange + one stage fewer
    * per round, every round. Trade-off (measured): the single
    * exchange ships raw vote rows instead of the count's map-side
    * partials — but vote rows are produced partitioned by the
    * NEIGHBOR key, so same-(node, lbl) rows rarely co-locate and the
    * partial combine compressed little; bytes are comparable at any
    * scale while the stage/exchange count strictly drops. The count
    * is an explicit cpuTarget (the repartitionForCpu rule): exempt
    * from AQE coalescing, scales with the session knob. */
  private def lpaVote(edges: DataFrame, labels: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val votes = edges
      .join(labels.select($"node".as("b"), $"lbl"), "b")
      .select($"a".as("node"), $"lbl")
      .union(labels) // self-vote
      .repartition(Tables.cpuTarget(edges.sparkSession), $"node")
      .groupBy($"node", $"lbl").agg(count(lit(1)).as("c"))
    votes
      .groupBy($"node")
      .agg(max(struct($"c", (-$"lbl").as("nl"))).as("m"))
      .select($"node", (-$"m.nl").as("lbl"))
  }

  /** Integer-quantized Newman modularity of the [[labelCommunities]]
    * partition — the measured quality number that makes
    * [[LPA_ROUNDS]] an evidenced operating point instead of a
    * convention (r16 verdict #6): Q = Σ_c [ m_c/m − (d_c/2m)² ] over
    * communities c, with the degree fractions d_c/2m quantized to
    * PERMILLE before squaring (`q_c = 1000·d_c div 2m`, so every
    * intermediate fits a BIGINT at ANY corpus scale — the unquantized
    * Σd_c²·10⁶ would overflow 64 bits near ~50 M edges) and the edge
    * fraction to PPM. Output is one row: community count, node count,
    * edge count, intra-community edge count, and Q in ppm (exact
    * integer arithmetic, identical in DuckDB — the oracle replays the
    * LPA rounds unrolled and then this same quantized rollup).
    *
    * Scale shape: rides [[lpaCore]]'s O(R) shuffles, then ONE extra
    * pass over the checkpointed half-edge relation (a two-sided label
    * join aggregated to a single row — map-side combined, the 1-row
    * result checkpointed so its two consumers share one pass) plus a
    * label⋈degree aggregate whose output is bounded by the community
    * count. No corpus-sized state, no window, no driver collect beyond
    * 1-row scalars. A single-community partition scores exactly 0
    * (1e6 − 1000²); the planted multi-hub fixture in BatchR17Spec pins
    * the analytic value. */
  def lpaModularity(s: SparkSession, dir: String): DataFrame = {
    val (half, labels) = lpaCore(s, dir)
    modularityRollup(s, half, labels.localCheckpoint() /* read 3× */)
  }

  /** The quantized-modularity rollup [[lpaModularity]] documents,
    * parameterized over (half-edge relation, label relation) so
    * [[lpaAdaptive]] can evaluate it per round. `lab` must already be
    * materialized (it is read 3×).
    *
    * `degPre` (r20): the per-node degree relation is LABEL-INDEPENDENT
    * — it depends only on `half`, which is fixed across rounds — yet
    * the per-round rollup used to rebuild it every round (two scans of
    * the half checkpoint + a node-keyed exchange per round).
    * [[lpaAdaptive]] computes it ONCE, checkpointed, and passes it in;
    * the single-shot [[lpaModularity]] keeps the inline form (a
    * one-use checkpoint would just add a job). Values are identical
    * either way — same aggregation over the same relation. */
  private def modularityRollup(
      s: SparkSession, half: DataFrame, lab: DataFrame,
      degPre: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val stats = half
      .join(lab.select($"node".as("src"), $"lbl".as("sl")), "src")
      .join(lab.select($"node".as("dst"), $"lbl".as("dl")), "dst")
      .agg(count(lit(1)).as("m_edges"),
        sum(when($"sl" === $"dl", 1L).otherwise(0L)).as("intra_edges"))
    val deg = degPre.getOrElse(
      half.select($"src".as("node"))
        .union(half.select($"dst".as("node"))) // UNION ALL: per-edge rows
        .groupBy($"node").agg(count(lit(1)).as("deg")))
    val dc = lab.join(deg, "node")
      .groupBy($"lbl").agg(sum($"deg").as("dc"))
    // the 2m denominator does NOT need the label-joined relation:
    // labels cover every node (lpaCore's self-vote union keeps the
    // full node set each round), so the two inner joins in `stats`
    // are 1:1 on edges and m_edges = count(half). Taking m2 from the
    // checkpointed half directly keeps `stats` (the expensive
    // edge⋈label⋈label pass) a SINGLE subtree in the final plan —
    // referencing stats here would duplicate that pass (pruned
    // subplans differ, ReuseExchange can't dedupe), and a 1-row
    // localCheckpoint would serialize a job boundary that measured
    // ~+1 s against the overlap it removes (BASELINE.md round-17)
    val m2 = half.agg(count(lit(1)).as("m2"))
    val comm = dc.crossJoin(m2)
      .select(expr("(1000 * dc) div (2 * greatest(m2, 1))").as("qc"))
      .agg(count(lit(1)).as("n_communities"),
        sum($"qc" * $"qc").as("sq"))
    val nodes = lab.agg(count(lit(1)).as("n_nodes"))
    stats.crossJoin(comm).crossJoin(nodes)
      .select($"n_communities".cast("long").as("n_communities"),
        $"n_nodes".cast("long").as("n_nodes"),
        $"m_edges".cast("long").as("m_edges"),
        $"intra_edges".cast("long").as("intra_edges"),
        (expr("(intra_edges * 1000000) div greatest(m_edges, 1)") -
          $"sq").cast("long").as("modularity_ppm"))
  }

  /** Round cap for [[lpaAdaptive]] — a safety bound, not an anchor:
    * the stopping rule normally fires well before it (both test
    * corpora stop by round 5, BASELINE.md round-17 sweep + the
    * adaptive traces in BatchR18Spec). */
  val LPA_ADAPTIVE_MAX = 6
  /** Early-stopping patience for [[lpaAdaptive]]: stop after this many
    * CONSECUTIVE rounds that fail to improve the best Q so far. 1
    * (greedy stop-on-first-decline, the literal r17 suggestion) is
    * provably wrong on this repo's own data — the sf0.01 Q curve is
    * NON-MONOTONIC (−62,384 → −87,932 → **+1,920** → 0, BASELINE.md
    * round-17 sweep), so a greedy rule stops at round 2 and selects
    * the round-1 shattered partition, missing the true peak at R=3.
    * Patience 2 rides out the single-round dip on both corpora while
    * still stopping 1–2 rounds past the peak. */
  val LPA_PATIENCE = 2

  /** Adaptive-R label propagation — [[lpaModularity]] wired IN-LOOP
    * as the stopping rule (r17 verdict #2): the r17 R-sweep proved the
    * right round count is a corpus-dependent dial (sf0.01 peaks at
    * R=3, sf0.1 at R=2, both collapse to one community by R=4), so
    * instead of a fixed [[LPA_ROUNDS]] this operator runs vote rounds
    * under [[LPA_PATIENCE]]-round early stopping on the
    * integer-quantized Newman Q and emits the whole evaluated curve —
    * one row per round with the full quality rollup and `is_selected`
    * marking the EARLIEST argmax. All arithmetic is the ppm/permille-
    * quantized integer rollup, so the stopping decision and the
    * argmax replay bit-exactly in the oracle's unrolled SQL (the
    * emit/selected predicates are constant-size boolean expressions
    * over the per-round scalar Q values).
    *
    * Scale shape: per evaluated round, [[lpaVote]]'s O(1) shuffles
    * plus the [[modularityRollup]] pass over the checkpointed
    * half-edge relation, collected as ONE driver row per round
    * (bounded by [[LPA_ADAPTIVE_MAX]]); the curve relation itself is
    * ≤ MAX rows. The extra per-round rollup is the price of the
    * instrument — at 100 TB it is one additional edge-scan aggregate
    * per round, same shape as the gate key's single rollup. */
  def lpaAdaptive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val (half, edges, labels0) = lpaGraph(s, dir)
    var labels = labels0
    val curve = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    var r = 1
    var best = Long.MinValue
    var stale = 0
    // SPECULATIVE next-round vote (r19 optimization, guide §2.6 —
    // overlap independent jobs): round r+1's vote depends only on
    // round r's checkpointed labels, not on round r's rollup, so it
    // runs on a driver thread WHILE the rollup computes. The stopping
    // rule, the curve, and every label relation are unchanged — the
    // only cost is one discarded vote when the rule says stop, and the
    // win is ~min(vote, rollup) of wall per continued round. The
    // pending vote is always awaited before returning so no work
    // bleeds past this operator.
    var pending: Option[Future[DataFrame]] = None
    // round-invariant degree relation hoisted out of the per-round
    // rollup (r20, guide §2.4 — don't recompute what can't change):
    // node-sized, checkpointed once, read by every round's rollup
    val degPre = half.select($"src".as("node"))
      .union(half.select($"dst".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    while (r <= LPA_ADAPTIVE_MAX && stale < LPA_PATIENCE) {
      labels = pending.map(Await.result(_, Duration.Inf))
        .getOrElse(lpaVote(edges, labels)
          .localCheckpoint()) // read 2× next round + 3× by the rollup
      pending =
        if (r < LPA_ADAPTIVE_MAX) {
          val cur = labels
          Some(Future(lpaVote(edges, cur).localCheckpoint()))
        } else None
      val row = modularityRollup(s, half, labels, Some(degPre))
        .collect()(0)
      val q = row.getLong(4)
      curve += ((r.toLong, row.getLong(0), row.getLong(1),
        row.getLong(2), row.getLong(3), q))
      if (q > best) { best = q; stale = 0 } else stale += 1
      r += 1
    }
    // drain a discarded speculative vote (stop fired with one in
    // flight): its job must not overlap whatever runs next. Its result
    // was never needed, so (advice r19) a failure in that job must not
    // fail the operator, and its checkpoint cache is unpersisted so
    // each invocation doesn't leak one cached label relation.
    pending.foreach { f =>
      try {
        // a localCheckpoint's cache is RDD-level (not CacheManager),
        // so free it via the LogicalRDD the checkpoint plan wraps
        Await.result(f, Duration.Inf).queryExecution.analyzed.foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(false)
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"lpaAdaptive: discarded speculative vote failed: ${e.getMessage}")
      }
    }
    val rSel = curve.filter(_._6 == best).map(_._1).min // earliest argmax
    curve.toSeq.toDF("round", "n_communities", "n_nodes", "m_edges",
      "intra_edges", "modularity_ppm")
      .withColumn("is_selected", $"round" === lit(rSel))
      .orderBy($"round")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_connected_components" -> (connectedComponents _),
    "graph_label_communities" -> (labelCommunities _),
    "graph_lpa_modularity" -> (lpaModularity _),
    "graph_lpa_adaptive" -> (lpaAdaptive _),
    "graph_hits_bipartite" -> (hitsBipartite _),
    "graph_jaccard_cocustomer" -> (jaccardCocustomer _),
    "graph_kcore_peel" -> (kcorePeel _),
    "graph_copurchase_topk" -> (copurchaseTopK _),
    "graph_pagerank_q" -> (pagerankQ _),
    "graph_reachability" -> (reachabilityQ _),
    "graph_triangles" -> (trianglesQ _),
    "graph_degree_histogram" -> (degreeHistogram _),
  )

  /** One unrolled iteration: ranks `rPrev` → contribution sum → new
    * ranks `rNext`, in the exact integer arithmetic of the operator. */
  private def iterSql(rPrev: String, cN: String, rNext: String): String =
    s"""$cN AS (
       |  SELECT e.dst AS node,
       |    sum(($rPrev.r * $DAMPING_PCT) // (100 * deg.deg)) AS s
       |  FROM e JOIN $rPrev ON e.src = $rPrev.node
       |  JOIN deg ON e.src = deg.src
       |  GROUP BY 1),
       |$rNext AS (
       |  SELECT n.node,
       |    CAST(150000 + coalesce($cN.s, 0) AS BIGINT) AS r
       |  FROM n LEFT JOIN $cN ON n.node = $cN.node)""".stripMargin

  /** One unrolled BFS layer: frontier `fPrev` + visited `aPrev` →
    * frontier `fN` (unseen neighbors) and visited `aN`. */
  private def bfsLayerSql(
      fPrev: String, aPrev: String, fN: String, aN: String,
      h: Int): String =
    s"""$fN AS (
       |  SELECT DISTINCT e.dst AS node
       |  FROM e JOIN $fPrev ON e.src = $fPrev.node
       |  WHERE e.dst NOT IN (SELECT node FROM $aPrev)),
       |$aN AS (SELECT node, dist FROM $aPrev
       |        UNION ALL SELECT node, $h AS dist FROM $fN)""".stripMargin

  /** Shared WITH-prefix for the LPA oracles: the undirected edge
    * set, identity labels, and `nRounds` unrolled frequency-vote
    * rounds (argmax as row_number under the (count DESC, label ASC)
    * total order, self-vote via UNION ALL) — ends at `l$nRounds`.
    * `materialized` pins every CTE `AS MATERIALIZED`: each l_i is
    * consumed 2+ times per round, so DuckDB's default inlining grows
    * EXPONENTIALLY in the round count — fine at the gate keys'
    * 3 rounds, file-handle exhaustion at [[LPA_ADAPTIVE_MAX]] with
    * per-round rollups (the same fix the r15 BPE oracle ships). */
  private def lpaRoundsWith(
      nRounds: Int = LPA_ROUNDS, materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    def round(i: Int): String =
      s"""v$i AS $m(SELECT node, lbl, count(*) AS c FROM (
         |    SELECT e.a AS node, l.lbl FROM e
         |    JOIN l${i - 1} l ON e.b = l.node
         |    UNION ALL SELECT node, lbl FROM l${i - 1})
         |  GROUP BY 1, 2),
         |l$i AS $m(SELECT node, lbl FROM (
         |  SELECT node, lbl,
         |    row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl) AS rn
         |  FROM v$i) WHERE rn = 1)""".stripMargin
    val rounds = (1 to nRounds).map(round).mkString(",\n")
    s"""WITH h AS $m(SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |    CAST(l_suppkey + $SUPPLIER_OFFSET AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS $m(SELECT src AS a, dst AS b FROM h
       |  UNION ALL SELECT dst, src FROM h),
       |l0 AS $m(SELECT node, node AS lbl FROM (
       |  SELECT DISTINCT src AS node FROM h
       |  UNION SELECT DISTINCT dst FROM h)),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // CC_ROUNDS unrolled min-label rounds over the same undirected
    // edge set (GraphSpec witnesses the fixpoint at this R)
    "graph_connected_components" -> {
      def round(i: Int): String =
        s"""l$i AS (SELECT n.node,
           |  least(n.lab, coalesce(m.nl, n.lab)) AS lab
           |  FROM l${i - 1} n LEFT JOIN (
           |    SELECT e.a AS a, min(l.lab) AS nl
           |    FROM e JOIN l${i - 1} l ON e.b = l.node GROUP BY 1) m
           |  ON n.node = m.a)""".stripMargin
      val rounds = (1 to CC_ROUNDS).map(round).mkString(",\n")
      s"""WITH h AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         |    CAST(l_suppkey + $SUPPLIER_OFFSET AS BIGINT) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src AS a, dst AS b FROM h
         |  UNION ALL SELECT dst, src FROM h),
         |l0 AS (SELECT node, node AS lab FROM (
         |  SELECT DISTINCT src AS node FROM h
         |  UNION SELECT DISTINCT dst FROM h)),
         |$rounds
         |SELECT node AS node_id, lab AS component_id,
         |  CASE WHEN node IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |      FROM supplier) THEN 'supplier'
         |    ELSE 'customer' END AS kind
         |FROM l$CC_ROUNDS ORDER BY node_id""".stripMargin
    },
    // LPA_ROUNDS unrolled frequency-vote rounds: the argmax replayed
    // as row_number() under the identical (count DESC, label ASC)
    // total order, self-vote included via UNION ALL
    "graph_label_communities" ->
      s"""${lpaRoundsWith()}
         |SELECT node AS node_id, lbl AS community_id,
         |  CASE WHEN node IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |      FROM supplier) THEN 'supplier'
         |    ELSE 'customer' END AS kind
         |FROM l$LPA_ROUNDS ORDER BY node_id""".stripMargin,
    // same unrolled LPA rounds, then the identical permille-quantized
    // modularity rollup in exact integer arithmetic (degree fractions
    // q_c = 1000*d_c // 2m squared and summed; edge fraction in ppm)
    "graph_lpa_modularity" ->
      s"""${lpaRoundsWith()},
         |lab AS (SELECT node, lbl FROM l$LPA_ROUNDS),
         |st AS (SELECT count(*) AS m_edges,
         |    sum(CASE WHEN ls.lbl = ld.lbl THEN 1 ELSE 0 END)
         |      AS intra_edges
         |  FROM h JOIN lab ls ON h.src = ls.node
         |         JOIN lab ld ON h.dst = ld.node),
         |deg AS (SELECT node, count(*) AS deg FROM (
         |    SELECT src AS node FROM h
         |    UNION ALL SELECT dst FROM h) GROUP BY 1),
         |dc AS (SELECT l.lbl, sum(d.deg) AS dc
         |  FROM lab l JOIN deg d USING (node) GROUP BY 1),
         |q AS (SELECT (1000 * dc)
         |    // (2 * greatest((SELECT m_edges FROM st), 1)) AS qc
         |  FROM dc),
         |cm AS (SELECT count(*) AS n_communities,
         |  sum(qc * qc) AS sq FROM q),
         |nn AS (SELECT count(*) AS n_nodes FROM lab)
         |SELECT CAST(n_communities AS BIGINT) AS n_communities,
         |  CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(m_edges AS BIGINT) AS m_edges,
         |  CAST(intra_edges AS BIGINT) AS intra_edges,
         |  CAST((intra_edges * 1000000) // greatest(m_edges, 1) - sq
         |    AS BIGINT) AS modularity_ppm
         |FROM st, cm, nn""".stripMargin,
    // the adaptive stopping rule replayed bit-exactly: LPA_ADAPTIVE_MAX
    // rounds unrolled, a quantized-Q rollup CTE per round, and each
    // output row guarded by the integer history predicate generated by
    // stopBefore()/staleAt() below — row r is emitted iff NO
    // LPA_PATIENCE-long streak of best-so-far-failing rounds ends
    // strictly before r (the engine evaluates rounds until patience
    // runs out, NOT greedy stop-on-first-decline — see the patience
    // rationale at the engine site), and is_selected marks the
    // earliest argmax of Q over the emitted prefix
    "graph_lpa_adaptive" -> {
      val R = LPA_ADAPTIVE_MAX
      def q(i: Int) = s"(SELECT modularity_ppm FROM qq_$i)"
      val rollups = (1 to R).map { i =>
        s"""st_$i AS MATERIALIZED (SELECT count(*) AS m_edges,
           |    sum(CASE WHEN ls.lbl = ld.lbl THEN 1 ELSE 0 END)
           |      AS intra_edges
           |  FROM h JOIN l$i ls ON h.src = ls.node
           |         JOIN l$i ld ON h.dst = ld.node),
           |dc_$i AS MATERIALIZED (SELECT l.lbl, sum(d.deg) AS dc
           |  FROM l$i l JOIN deg d USING (node) GROUP BY 1),
           |qv_$i AS MATERIALIZED (SELECT (1000 * dc)
           |    // (2 * greatest((SELECT m_edges FROM st_$i), 1)) AS qc
           |  FROM dc_$i),
           |qq_$i AS MATERIALIZED (SELECT CAST($i AS BIGINT) AS round,
           |    CAST((SELECT count(*) FROM qv_$i) AS BIGINT)
           |      AS n_communities,
           |    CAST((SELECT count(*) FROM l$i) AS BIGINT) AS n_nodes,
           |    CAST((SELECT m_edges FROM st_$i) AS BIGINT) AS m_edges,
           |    CAST((SELECT intra_edges FROM st_$i) AS BIGINT)
           |      AS intra_edges,
           |    CAST((SELECT intra_edges FROM st_$i) * 1000000
           |        // greatest((SELECT m_edges FROM st_$i), 1)
           |      - (SELECT sum(qc * qc) FROM qv_$i) AS BIGINT)
           |      AS modularity_ppm)""".stripMargin
      }.mkString(",\n")
      // patience-P early stopping replayed as constant boolean
      // expressions over the per-round scalar Q values: round j is
      // "stale" when it fails to improve the best-so-far; the loop
      // stops before round r iff some P-long stale streak ends
      // strictly before r; is_selected is the earliest argmax over
      // the emitted prefix
      val P = LPA_PATIENCE
      def bestUpTo(j: Int): String =
        if (j == 1) q(1)
        else (1 to j).map(q).mkString("greatest(", ", ", ")")
      def staleAt(j: Int): String = s"(${q(j)} <= ${bestUpTo(j - 1)})"
      def stopBefore(r: Int): String = {
        val streaks = (P + 1 until r).map { j =>
          (j - P + 1 to j).map(staleAt).mkString("(", " AND ", ")")
        }
        if (streaks.isEmpty) "FALSE" else streaks.mkString("(", " OR ", ")")
      }
      val rows = (1 to R).map { i =>
        val emit = s"NOT ${stopBefore(i)}"
        val beatsPast =
          if (i == 1) "TRUE"
          else (1 until i).map(j => s"${q(j)} < ${q(i)}")
            .mkString("(", " AND ", ")")
        val unbeatenLater =
          if (i == R) "TRUE"
          else (i + 1 to R).map(j =>
            s"(${stopBefore(j)} OR ${q(j)} <= ${q(i)})")
            .mkString("(", " AND ", ")")
        s"""SELECT round, n_communities, n_nodes, m_edges, intra_edges,
           |  modularity_ppm,
           |  ($beatsPast AND $unbeatenLater) AS is_selected
           |FROM qq_$i WHERE $emit""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""${lpaRoundsWith(R, materialized = true)},
         |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |    SELECT src AS node FROM h
         |    UNION ALL SELECT dst FROM h) GROUP BY 1),
         |$rollups
         |SELECT * FROM (
         |$rows
         |) ORDER BY round""".stripMargin
    },
    // both half-steps of every round unrolled, with the same
    // max-div renormalization in exact integer arithmetic
    "graph_hits_bipartite" -> {
      def round(i: Int): String = {
        val aPrev = s"a${i - 1}"
        s"""h${i}r AS (SELECT c, sum(a) AS h FROM e
           |  JOIN $aPrev USING (p) GROUP BY 1),
           |h${i}m AS (SELECT max(h) AS m FROM h${i}r),
           |h$i AS (SELECT c,
           |  h // ((SELECT m FROM h${i}m) // 1000000 + 1) AS h
           |  FROM h${i}r),
           |a${i}r AS (SELECT p, sum(h) AS a FROM e
           |  JOIN h$i USING (c) GROUP BY 1),
           |a${i}m AS (SELECT max(a) AS m FROM a${i}r),
           |a$i AS (SELECT p,
           |  a // ((SELECT m FROM a${i}m) // 1000000 + 1) AS a
           |  FROM a${i}r)""".stripMargin
      }
      s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |a0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS a
         |  FROM e),
         |${(1 to HITS_ITERS).map(round).mkString(",\n")}
         |SELECT CAST(p AS BIGINT) AS s_suppkey,
         |  CAST(a AS BIGINT) AS auth_ppm
         |FROM a$HITS_ITERS ORDER BY s_suppkey""".stripMargin
    },
    // same wedge self-join + integer-permille Jaccard
    "graph_jaccard_cocustomer" ->
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS supp,
         |    o_custkey AS cust
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |deg AS (SELECT supp, CAST(count(*) AS BIGINT) AS deg
         |  FROM e GROUP BY 1),
         |pairs AS (SELECT a.supp AS sa, b.supp AS sb,
         |    CAST(count(*) AS BIGINT) AS common
         |  FROM e a JOIN e b
         |    ON a.cust = b.cust AND a.supp < b.supp
         |  GROUP BY 1, 2)
         |SELECT CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
         |  common,
         |  CAST(da.deg + db.deg - common AS BIGINT) AS unions,
         |  CAST(common * 1000 // (da.deg + db.deg - common) AS BIGINT)
         |    AS jaccard_permille
         |FROM pairs
         |JOIN deg da ON da.supp = sa
         |JOIN deg db ON db.supp = sb
         |ORDER BY jaccard_permille DESC, sa, sb
         |LIMIT $JACCARD_TOP_K""".stripMargin,
    // three peel rounds unrolled verbatim; the undirected edge list is
    // rebuilt per round from the surviving node set
    "graph_kcore_peel" -> {
      def round(i: Int): String =
        s"""k$i AS (SELECT src AS node FROM e${i - 1}
           |  GROUP BY 1 HAVING count(*) >= $KCORE_K),
           |e$i AS (SELECT src, dst FROM e${i - 1}
           |  WHERE src IN (SELECT node FROM k$i)
           |    AND dst IN (SELECT node FROM k$i))""".stripMargin
      s"""WITH half AS (
         |  SELECT DISTINCT o_custkey AS src,
         |    l_suppkey + $SUPPLIER_OFFSET AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e0 AS (SELECT src, dst FROM half
         |       UNION ALL SELECT dst, src FROM half),
         |${(1 to KCORE_ROUNDS).map(round).mkString(",\n")}
         |SELECT CASE WHEN src IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |      FROM supplier) THEN 'supplier'
         |    ELSE 'customer' END AS kind,
         |  CAST(CASE WHEN src IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |      FROM supplier)
         |    THEN src - $SUPPLIER_OFFSET ELSE src END AS BIGINT) AS id,
         |  CAST(count(*) AS BIGINT) AS residual_deg
         |FROM e$KCORE_ROUNDS GROUP BY 1, 2 ORDER BY kind, id""".stripMargin
    },
    // identical pair expansion (distinct parts per order, self-join),
    // identical (n DESC, partkey ASC) ranking via row_number
    "graph_copurchase_topk" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
         |  FROM lineitem),
         |co AS (SELECT a.l_partkey AS part, b.l_partkey AS rec_part,
         |    count(*) AS n_co
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |r AS (SELECT part, rec_part, n_co,
         |    row_number() OVER (PARTITION BY part
         |      ORDER BY n_co DESC, rec_part) AS rank
         |  FROM co)
         |SELECT part, CAST(rank AS BIGINT) AS rank, rec_part,
         |  CAST(n_co AS BIGINT) AS n_co
         |FROM r WHERE rank <= $COPURCHASE_K
         |ORDER BY part, rank""".stripMargin,
    // per-node KMV replay (distinct neighbor hashes ranked unsigned,
    // first k, integer estimator) then binary-digit binning — sketch
    // CONTENTS, not a tolerance band
    "graph_degree_histogram" -> {
      val h = OracleSql.mix64("CAST(b.sup AS HUGEINT)")
      val k = Sketches.KMV_K
      s"""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sup
         |            FROM lineitem),
         |nb AS (SELECT DISTINCT a.sup AS node, $h AS u
         |  FROM os a JOIN os b ON a.o = b.o AND a.sup <> b.sup),
         |rk AS (SELECT node, u,
         |    row_number() OVER (PARTITION BY node ORDER BY u) AS rn
         |  FROM nb),
         |st AS (SELECT node, count(*) AS n, max(u) AS kth
         |  FROM rk WHERE rn <= $k GROUP BY 1),
         |est AS (SELECT node,
         |  CAST(CASE WHEN n < $k THEN n
         |       WHEN kth = 0 THEN n
         |       ELSE ${k - 1} * (18446744073709551615 // kth) END
         |    AS BIGINT) AS deg_est FROM st),
         |bb AS (SELECT CAST(length(bin(deg_est)) AS BIGINT) AS bin
         |       FROM est)
         |SELECT bin,
         |  CAST(CAST(1 AS BIGINT) << (bin - 1) AS BIGINT) AS deg_lo,
         |  CAST((CAST(1 AS BIGINT) << bin) - 1 AS BIGINT) AS deg_hi,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM bb GROUP BY bin ORDER BY bin""".stripMargin
    },
    // same bounded top-M edge selection, (deg, node) orientation, and
    // compact-forward closure; counts are plain aggregates
    "graph_triangles" ->
      s"""WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sup
         |            FROM lineitem),
         |pairs AS (SELECT a.sup AS x, b.sup AS y, count(*) AS w
         |  FROM os a JOIN os b ON a.o = b.o AND a.sup < b.sup
         |  GROUP BY 1, 2),
         |edges AS (SELECT x, y FROM pairs
         |  ORDER BY w DESC, x, y LIMIT $TRI_EDGES),
         |deg AS (SELECT node, count(*) AS deg FROM (
         |    SELECT x AS node FROM edges
         |    UNION ALL SELECT y FROM edges) GROUP BY 1),
         |ord AS (SELECT node, deg * 1000000000 + node AS ord FROM deg),
         |oriented AS (
         |  SELECT CASE WHEN ox.ord < oy.ord THEN e.x ELSE e.y END AS u,
         |    CASE WHEN ox.ord < oy.ord THEN oy.ord ELSE ox.ord END AS ov,
         |    CASE WHEN ox.ord < oy.ord THEN e.y ELSE e.x END AS v
         |  FROM edges e JOIN ord ox ON e.x = ox.node
         |    JOIN ord oy ON e.y = oy.node),
         |wedges AS (SELECT e1.v AS a, e2.v AS b
         |  FROM oriented e1 JOIN oriented e2
         |    ON e1.u = e2.u AND e1.ov < e2.ov),
         |tris AS (SELECT count(*) AS n FROM wedges
         |  JOIN oriented e3 ON wedges.a = e3.u AND wedges.b = e3.v)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM edges) AS n_edges,
         |  (SELECT count(*) FROM wedges) AS n_wedges,
         |  (SELECT n FROM tris) AS n_triangles""".stripMargin,
    "graph_reachability" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_partkey AS src,
         |    l_suppkey + $SUPPLIER_OFFSET AS dst
         |  FROM lineitem),
         |e AS (SELECT src, dst FROM e0
         |      UNION ALL SELECT dst, src FROM e0),
         |f0 AS (SELECT CAST(${SUPPLIER_OFFSET + BFS_SEED_SUPPKEY} AS BIGINT)
         |  AS node),
         |a0 AS (SELECT node, 0 AS dist FROM f0),
         |${(1 to BFS_HOPS).map(h =>
            bfsLayerSql(s"f${h - 1}", s"a${h - 1}", s"f$h", s"a$h", h))
          .mkString(",\n")}
         |SELECT CASE WHEN node IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |      FROM supplier)
         |    THEN 'supplier' ELSE 'part' END AS kind,
         |  CAST(CASE WHEN node IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |      FROM supplier)
         |    THEN node - $SUPPLIER_OFFSET ELSE node END AS BIGINT) AS id,
         |  CAST(dist AS INT) AS dist
         |FROM a$BFS_HOPS ORDER BY kind, id""".stripMargin,
    "graph_pagerank_q" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS src,
         |    l_suppkey + $SUPPLIER_OFFSET AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0
         |      UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM deg),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
         |${iterSql("r0", "c1", "r1")},
         |${iterSql("r1", "c2", "r2")},
         |${iterSql("r2", "c3", "r3")}
         |SELECT CAST(node - $SUPPLIER_OFFSET AS BIGINT) AS s_suppkey,
         |  r AS rank_ppm
         |FROM r3 WHERE node IN (SELECT s_suppkey + $SUPPLIER_OFFSET
         |  FROM supplier)
         |ORDER BY s_suppkey""".stripMargin,
  )
}
