package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` column).
  *
  * Scale design (100 TB):
  *  - brute force: broadcast the (small) query set against the full
  *    corpus — one scan, no shuffle on the corpus side; per-partition
  *    top-k via window. The exactness baseline.
  *  - LSH (random hyperplanes): corpus is bucketed by sign-bit sketch;
  *    queries probe only their bucket (and could multi-probe neighbors)
  *    so the join touches corpus/2^bits instead of everything. The
  *    recall/latency dial is the sketch width.
  *  - IVF shape falls out the same way with k-means centroids as the
  *    bucketing function; hyperplane LSH is used here because it is
  *    deterministic without a training pass.
  *
  * Dot products use the native codegen'd [[graft.functions.VectorOps.dot]]
  * expression (NOT zip_with/aggregate — Spark higher-order-function
  * lambdas are interpreted, measured 15× slower) in double precision
  * with sequential fold order so the DuckDB oracle's double cosine is
  * bit-identical.
  */
object Similarity {

  private[operators] val K = 5
  private[operators] val N_QUERIES = 10
  // 16-bit sketch (65536 buckets) + Hamming ≤ 2 multi-probe: queries
  // probe 1 + 16 + 120 = 137 buckets. vs the old single-probe 8-bit
  // sketch this is ~2× less join volume at scale (137/65536 of the
  // corpus vs 1/256) AND higher recall — multi-probe is how you shrink
  // buckets without giving up neighbors that straddle a plane.
  private val LSH_BITS = 16

  import graft.functions.VectorOps.dot

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(dot(col("v"), col("v"))))

  private def cosine =
    dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm"))

  /** Rank a scored candidate frame (query_id, neighbor_id, cos) into
    * per-query top-K through the bounded [[graft.functions.TopK.TopKAgg]]
    * typed Aggregator — NOT `row_number().over(Window)`. With 10 queries
    * a window sorts corpus-sized partitions on 10 tasks (the exact
    * pathology q25 exists to demonstrate); the aggregator participates
    * in partial aggregation, so each map task ships at most K entries
    * per query it saw — shuffle volume O(K·queries·mapTasks), not
    * O(candidates). Order is total and identical to the window variant
    * (cos DESC, neighbor_id ASC; cosines are per-row sequential folds,
    * bit-stable under any partitioning), so the result — and the
    * window-SQL DuckDB oracle — is unchanged. Double rank is safe here
    * (unlike the samplers' 64-bit hash ranks): cos IS a Double. */
  private def rankTopK(scored: DataFrame): DataFrame = rankTopN(scored, K)

  private def rankTopN(scored: DataFrame, n: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    import graft.functions.TopK
    val topk = new TopK.TopKAgg(n).toColumn.name("topk")
    scored.select(col("query_id"), col("cos"), col("neighbor_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => TopK.Entry(r._2, r._3))
      .agg(topk)
      .flatMap { case (q, entries) =>
        entries.iterator.zipWithIndex.map { case (e, i) =>
          (q, (i + 1).toLong, e.key)
        }
      }
      .toDF("query_id", "rank", "neighbor_id")
      .orderBy($"query_id", $"rank")
  }

  /** Truncation width for [[matryoshkaOverlap]]. */
  val MRL_DIM = 16

  /** Matryoshka-truncation retrieval audit (Kusupati et al. 2022,
    * "Matryoshka Representation Learning") — the dial every
    * embedding-serving pipeline tunes: how much top-K quality survives
    * keeping only the first [[MRL_DIM]] of 64 dimensions (4× smaller
    * index, 4× cheaper dot products)? Per query: overlap@K between the
    * full-dimension exact top-K and the truncated-prefix top-K, plus
    * both top-1 ids. Two bounded top-K passes (broadcast 10-query set
    * against the streaming corpus, [[rankTopK]]'s map-side-combined
    * aggregator — no corpus-wide window), then joins on ≤ K·queries
    * rows; scan-bound at any corpus size, like the rest of the ANN
    * exactness family. Truncated cosines are sequential folds over the
    * SAME prefix both engines slice, so the oracle replays bit-exactly
    * (list_cosine_similarity over `v[1:16]`). */
  def matryoshkaOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    def topOf(prep: DataFrame): DataFrame = {
      val e = withNorm(prep)
      val queries = e.filter($"vec_id" < N_QUERIES)
      rankTopK(broadcast(queries).as("a")
        .join(e.as("b"), $"a.vec_id" =!= $"b.vec_id")
        .select($"a.vec_id".as("query_id"),
          $"b.vec_id".as("neighbor_id"), cosine.as("cos")))
    }
    val full = topOf(emb)
    val trunc = topOf(emb.select($"vec_id",
      slice($"v", 1, MRL_DIM).as("v")))
    val overlap = full.as("f").join(trunc.as("t"),
        $"f.query_id" === $"t.query_id" &&
          $"f.neighbor_id" === $"t.neighbor_id")
      .groupBy($"f.query_id".as("query_id"))
      .agg(count(lit(1)).as("n"))
    full.filter($"rank" === 1)
      .select($"query_id", $"neighbor_id".as("top1_full"))
      .join(trunc.filter($"rank" === 1)
        .select($"query_id", $"neighbor_id".as("top1_trunc")),
        Seq("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select($"query_id",
        coalesce($"n", lit(0L)).as("overlap_at_5"),
        $"top1_full", $"top1_trunc")
      .orderBy($"query_id")
  }

  /** Seed-set size for [[reciprocalTopK]]. */
  val RECIP_N = 100

  /** Mutual-kNN (reciprocal top-k) pairs — the edge set a near-dup /
    * clustering graph is built from: (a,b) is an edge iff b is in a's
    * top-K cosine neighbors AND a is in b's. Mutuality prunes the
    * asymmetric "hub attracts everyone" edges plain kNN graphs suffer
    * from. Computed exactly over the bounded [[RECIP_N]] seed set
    * (neighbors restricted to the set, so the oracle is
    * self-contained); the 100 TB production path feeds the same
    * reciprocal join from IVF/LSH candidates ([[ivfTopK]]) instead of
    * the exact ranking — this key is the exactness validator, the
    * family's usual role split. The reciprocal test itself is ONE
    * self-join of the top-k relation on the swapped key pair. */
  def reciprocalTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .filter($"vec_id" < RECIP_N))
    val scored = broadcast(emb).as("a")
      .join(emb.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), cosine.as("cos"),
        $"b.vec_id".as("neighbor_id"))
    val top = rankTopK(scored)
    top.as("x")
      .join(top.as("y"),
        $"x.query_id" === $"y.neighbor_id" &&
          $"x.neighbor_id" === $"y.query_id" &&
          $"x.query_id" < $"x.neighbor_id")
      .select($"x.query_id".as("va"), $"x.neighbor_id".as("vb"),
        $"x.rank".as("rank_a"), $"y.rank".as("rank_b"))
      .orderBy($"va", $"vb")
  }

  /** Exact top-k cosine neighbors for the first 10 vectors. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v")))
    // broadcast the SMALL query set; the corpus side streams through
    // (broadcasting the corpus would cap out at real sizes)
    val queries = emb.filter($"vec_id" < N_QUERIES)
    val scored = broadcast(queries).as("a")
      .join(emb.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
        cosine.as("cos"))
    rankTopK(scored)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * splitmix64 of (plane*4096 + dim) mapped to [-0.5, 0.5). Computed
    * ONCE on the driver and shipped as literal arrays — constants never
    * belong in per-row expressions (the previous per-row HOF rebuild of
    * the planes was interpreted, not codegen'd), and the mix64 family
    * lets the DuckDB oracle recompute the buckets bit-exactly. */
  private[operators] def planeVec(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      // UNSIGNED remainder: the oracle mods the hash as a uint64, and
      // 2^64 is not a multiple of 10^6, so floorMod would diverge
      java.lang.Long.remainderUnsigned(
        graft.functions.TextHashes.mix64(p * 4096L + d),
        1000000L) / 1000000.0d - 0.5d
    }

  /** LSH-bucketed ANN: 16 deterministic random hyperplanes, sign bits
    * form the bucket; queries rerank within every bucket at Hamming ≤ 2
    * of their own (multi-probe). Approximate by design, but fully
    * deterministic — the DuckDB oracle recomputes planes, buckets, and
    * the probe relation from first principles. */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dim = Tables(s, dir, "embeddings")
      .select(size($"embedding")).as[Int].first()
    lshTopKOn(emb, dim)
  }

  /** Core of [[lshTopK]] over any (vec_id, v: array&lt;double&gt;) frame —
    * exposed so specs can run it on corpora with PLANTED neighbors
    * (recall is only meaningful when true near-duplicates exist). */
  private[graft] def lshTopKOn(embIn: DataFrame, dim: Int): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    val emb = withNorm(embIn)
    val sketchBits = (0 until LSH_BITS).map { p =>
      val proj = dot($"v", typedlit(planeVec(p, dim)))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    val sketched = emb.withColumn("bucket", sketchBits.reduce(_ + _))

    // multi-probe: the query fans out to every bucket within
    // 2 bit-flips of its own; the corpus side joins on its
    // single bucket key, so corpus shuffle volume stays O(N)
    val probeExprs =
      Seq($"bucket") ++
        (0 until LSH_BITS).map(j => $"bucket".bitwiseXOR(lit(1L << j))) ++
        (for { j <- 0 until LSH_BITS; kk <- j + 1 until LSH_BITS }
          yield $"bucket"
            .bitwiseXOR(lit(1L << j)).bitwiseXOR(lit(1L << kk)))
    val queries = sketched.filter($"vec_id" < N_QUERIES)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"norm".as("qnorm"),
        explode(array(probeExprs: _*)).as("probe"))
    val scored = queries
      .join(sketched.as("b"),
        $"probe" === $"b.bucket" && $"qid" =!= $"b.vec_id")
      .select($"qid".as("query_id"), $"b.vec_id".as("neighbor_id"),
        (dot($"qv", $"b.v") / ($"qnorm" * $"b.norm")).as("cos"))
    rankTopK(scored)
  }

  /** Clusters probed per query in [[ivfTopK]]. */
  val NPROBE = 2

  /** IVF-bucketed ANN — the trained-quantizer scale path next to the
    * hyperplane-LSH one: the corpus is sharded by nearest centroid
    * (the [[kmeansAssign]] coarse quantizer — here the seeded
    * centroids, so the whole operator stays first-principles
    * oracle-replayable without a training pass in the oracle), and
    * each query probes only its NPROBE nearest cells. Join volume is
    * corpus × NPROBE/K instead of corpus × queries; the corpus side
    * computes its cell + norm in ONE narrow map — no shuffle until the
    * equi-join on cell ([[Tables.repartitionForCpu]] is conditional:
    * it only fires when the scan under-partitions, e.g. the one-file
    * test inputs) — which is exactly the IVF inverted-list build
    * at 100 TB. Recall comes from probing multiple cells: a neighbor
    * straddling a Voronoi boundary is caught by the second probe. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    ivfTopKAt(s, dir, NPROBE)

  /** [[ivfTopK]] with an explicit probe count — the recall-vs-join-
    * volume dial. Bench measures NPROBE ∈ {1, 2, 4} per round so the
    * tradeoff is a recorded curve, not a constant. */
  private[graft] def ivfTopKAt(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents: Array[(Long, Array[Double])] = emb
      .filter($"vec_id" < KMEANS_K)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(cents)

    // inverted lists: (cell, vector) in one narrow map
    val corpus = emb.transform(Tables.repartitionForCpu(_, col("vec_id")))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        (id, v, l2norm(v), nearestCentroid(v, bc.value)._1)
      }
      .toDF("vec_id", "v", "norm", "cell")
    // queries fan out to their NPROBE nearest cells (same squared-L2 +
    // lower-id tiebreak as the assignment rule)
    val queries = emb.filter($"vec_id" < N_QUERIES)
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        bc.value.map { case (cid, c) =>
          var s2 = 0.0; var i = 0
          while (i < v.length) { val d = v(i) - c(i); s2 += d * d; i += 1 }
          (s2, cid)
        }.sortBy(identity).take(nprobe)
          .map { case (_, cid) => (id, v, l2norm(v), cid) }
      }
      .toDF("qid", "qv", "qnorm", "probe")

    val scored = queries
      .join(corpus.as("b"), $"probe" === $"b.cell" && $"qid" =!= $"b.vec_id")
      .select($"qid".as("query_id"), $"b.vec_id".as("neighbor_id"),
        (dot($"qv", $"b.v") / ($"qnorm" * $"b.norm")).as("cos"))
    rankTopK(scored)
  }

  /** Measured recall@K of the IVF approximate path against the exact
    * brute-force ranking — the ANN twin of the LPA modularity witness
    * (r16 verdict theme: quality numbers as first-class gated keys,
    * not spec-only curves). Per query: how many of the true top-[[K]]
    * cosine neighbors the [[NPROBE]]-probe IVF search returns, as an
    * exact integer ppm. Both paths are deterministic, so the DuckDB
    * oracle replays them from first principles and the recall is a
    * HASH-CHECKED number — at the shipped operating point it is
    * meaningfully below 1.0 (Voronoi-boundary neighbors outside the
    * probed cells are the honest misses), which is what makes this a
    * witness and not a tautology (the verified-LSH dedup equals its
    * exact oracle BY CONSTRUCTION, so a recall key there would pin a
    * constant 1.0 — deliberately not added).
    *
    * Scale shape: composes two already-scale-shaped rankings (the
    * broadcast-query corpus scans of [[bruteForceTopK]] and
    * [[ivfTopK]]); the recall join itself is K·queries rows a side —
    * driver-bounded output, no new shuffle class. At 100 TB you run
    * the brute side on a SAMPLE of queries for exactly this rollup —
    * the operator is the recall-audit stage of an ANN deployment. */
  def ivfRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = bruteForceTopK(s, dir)
      .select($"query_id", $"neighbor_id")
    val approx = ivfTopK(s, dir)
      .select($"query_id".as("aq"), $"neighbor_id".as("an"))
    exact.join(approx,
        $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
      .groupBy($"query_id")
      .agg(count($"an").as("hits"))
      .select($"query_id", $"hits".cast("long").as("hits"),
        expr(s"(hits * 1000000) div $K").cast("long").as("recall_ppm"))
      .orderBy($"query_id")
  }

  /** int8 scalar quantization of the embedding column — the storage
    * compression pass a training pipeline runs before shipping
    * embeddings (4× smaller on disk): symmetric per-vector scale
    * (maxabs/127), q_i = floor(v_i·127/maxabs + 0.5). floor(x+0.5)
    * instead of round() because Spark and DuckDB disagree on half-even
    * vs half-up for exact-.5 doubles, while floor is IEEE-identical on
    * both — so scale, checksum, and max reconstruction error are all
    * bit-exactly recomputable by the oracle. Narrow per-row map, no
    * shuffle except the final sort. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding")
      .transform(Tables.repartitionForCpu(_, col("vec_id")))
      .as[(Long, Array[Float])]
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        var maxabs = 0.0
        v.foreach(x => if (math.abs(x) > maxabs) maxabs = math.abs(x))
        if (maxabs == 0.0) {
          // all-zero vector: quantizes to all-zero losslessly. Explicit
          // case because x/0 would make q NaN (folded to 0 by toLong on
          // the JVM but a hard CAST error in the DuckDB oracle).
          (id, 0.0, 0L, 0.0)
        } else {
          var qsum = 0L
          var maxErr = 0.0
          v.foreach { x =>
            val q = math.floor(x * 127.0 / maxabs + 0.5)
            qsum += q.toLong
            val err = math.abs(q * maxabs / 127.0 - x)
            if (err > maxErr) maxErr = err
          }
          (id, maxabs, qsum, maxErr)
        }
      }
      .toDF("vec_id", "maxabs", "q_sum", "max_err")
      .orderBy($"vec_id")
  }

  /** SQ8 (scalar-quantized int8) ANN: normalize each vector to unit
    * length, quantize to int8 with the [[quantizeInt8]] scheme
    * (per-vector maxabs scale, floor(x+0.5)), then rank by the
    * asymmetric-distance score `(q_a·q_b)·s_a·s_b` — an INTEGER dot
    * product (exact in doubles: |q|≤127, so Σq_a·q_b < 2^53 at any
    * realistic dim) times two scales with pinned association, so the
    * DuckDB oracle replays the full rank order bit-exactly.
    *
    * Why this operator exists at 100 TB: the quantized corpus is 8× (4
    * bytes→~0.5) smaller than float32 in memory and the hot loop is
    * integer multiply-add — SQ8 is the standard first compression step
    * before IVF sharding (compose with [[ivfTopK]]'s cell restriction
    * for the full IVF+SQ pipeline). Same broadcast-queries /
    * stream-the-corpus join and bounded top-k rank as
    * [[bruteForceTopK]] — no corpus-side shuffle. */
  def int8TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = int8Frame(s, dir)
    val qs = emb.filter($"vec_id" < N_QUERIES)
    val scored = broadcast(qs).as("a")
      .join(emb.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
        ((dot($"a.q", $"b.q") * $"a.scale") * $"b.scale").as("cos"))
    rankTopK(scored)
  }

  /** SQ8-quantized corpus frame shared by [[int8TopK]] and
    * [[rerankTopK]]'s stage 1. */
  private def int8Frame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        var s2 = 0.0
        v.foreach(x => s2 += x * x) // sequential fold — oracle replays
        val nrm = math.sqrt(s2)
        val vn = if (nrm == 0.0) v else v.map(_ / nrm)
        var maxabs = 0.0
        vn.foreach(x => if (math.abs(x) > maxabs) maxabs = math.abs(x))
        val q = if (maxabs == 0.0) vn.map(_ => 0.0)
          else vn.map(x => math.floor(x * 127.0 / maxabs + 0.5))
        (id, maxabs, q)
      }
      .toDF("vec_id", "scale", "q")
  }

  /** Shortlist size for [[rerankTopK]]'s cheap first stage. */
  val RERANK_SHORTLIST = 20

  /** Two-stage retrieve-then-rerank — THE production ANN serving
    * shape: a cheap quantized scan builds a per-query shortlist
    * ([[RERANK_SHORTLIST]] candidates via SQ8 integer dot products,
    * stage 1 = [[int8TopK]]'s scoring), then ONLY the shortlist is
    * re-scored with exact double cosines and re-ranked to the final
    * top-[[K]]. At 100 TB stage 1 is the thing that touches the
    * corpus (integer ADC, broadcast queries, bounded top-k
    * aggregator) and stage 2 touches queries×shortlist rows — the
    * expensive exact math never sees corpus scale. Both stages ride
    * the bounded aggregator; the oracle replays quantization,
    * shortlist and re-scoring from first principles. */
  def rerankTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb8 = int8Frame(s, dir)
    val scored8 = broadcast(emb8.filter($"vec_id" < N_QUERIES)).as("a")
      .join(emb8.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
        ((dot($"a.q", $"b.q") * $"a.scale") * $"b.scale").as("cos"))
    val shortlist = rankTopN(scored8, RERANK_SHORTLIST)
      .select($"query_id", $"neighbor_id")
    val exact = withNorm(Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v")))
    val rescored = broadcast(shortlist)
      .join(exact.as("a"), $"query_id" === $"a.vec_id")
      .join(exact.as("b"), $"neighbor_id" === $"b.vec_id")
      .select($"query_id", $"neighbor_id", cosine.as("cos"))
    rankTopK(rescored)
      .select($"query_id", $"rank", $"neighbor_id")
      .orderBy($"query_id", $"rank")
  }

  /** Number of seeded centroids for [[kmeansAssign]]. */
  val KMEANS_K = 8

  /** k-means ASSIGNMENT with deterministically seeded centroids
    * (vec_id < K) — the IVF coarse quantizer / semantic-dedup
    * partitioner: at 100 TB this is how a corpus gets bucketed into
    * semantically-coherent shards for per-cluster dedup or
    * diversity-balanced sampling. Centroids are a bounded driver
    * collect (K rows — the ANN-query-side pattern, never the corpus)
    * broadcast into one narrow map: argmin squared-L2 with sequential
    * per-dimension fold, ties to the lower centroid id, zero shuffle
    * at scale ([[Tables.repartitionForCpu]] fires only when the scan
    * under-partitions — one-file test inputs — never on a properly
    * split table; PlanSpec pins the no-Exchange plan).
    * Full Lloyd UPDATES are deliberately out of the oracle surface:
    * re-averaging sums doubles in partition order, which no
    * order-independent SQL oracle can reproduce bit-exactly — the
    * assignment step is the part with a first-principles oracle, and
    * at scale it dominates the cost anyway (updates are a K×dim
    * treeAggregate over the assigned corpus). */
  def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents: Array[(Long, Array[Double])] = emb
      .filter($"vec_id" < KMEANS_K)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(cents)
    emb.transform(Tables.repartitionForCpu(_, col("vec_id")))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val (cl, d2) = nearestCentroid(v, bc.value)
        (id, cl, d2)
      }
      .toDF("vec_id", "cluster", "dist2")
      .select($"vec_id", $"cluster", round($"dist2", 6).as("dist2"))
      .orderBy($"vec_id")
  }

  /** IVF cell-balance audit — the shard-skew report every IVF/semantic
    * -dedup deployment watches: per coarse cell (the [[kmeansAssign]]
    * rule: argmin squared-L2 to the seeded centroids, ties to the
    * lower id), its vector count, share in exact integer permille,
    * and the skew versus a perfectly balanced layout
    * (`share·K div 1000`, 1000 = balanced). Cell probe cost and
    * same-cell pair volume are both quadratic in the fat cells —
    * this report is what tells you to re-train the quantizer. One
    * narrow map + one map-side-combined count; everything after runs
    * on the K-row relation. */
  def cellBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents: Array[(Long, Array[Double])] = emb
      .filter($"vec_id" < KMEANS_K)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(cents)
    val counts = emb.as[(Long, Array[Double])]
      .map { case (_, v) => nearestCentroid(v, bc.value)._1 }
      .toDF("cell")
      .groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
    counts
      .withColumn("total", sum($"n_vectors").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select($"cell", $"n_vectors",
        expr("n_vectors * 1000 div total").as("share_pm"))
      .select($"cell", $"n_vectors", $"share_pm",
        // per-mille semantics: 1000 = perfectly balanced cell
        // (share_pm * K), named _pm accordingly (r14 advice: the old
        // balance_ppm name implied parts-per-million, a 1000× misread)
        expr(s"share_pm * $KMEANS_K").as("balance_pm"))
      .orderBy($"cell")
  }

  private def l2norm(v: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }

  /** Semantic dedup, IVF-cell-restricted — the scale path for
    * embedding near-dup detection: pairs are compared ONLY within a
    * coarse-quantizer cell, so pairwise work drops from corpus²/2 to
    * Σ|cell|²/2 (≈ corpus²/2K balanced) and the join shuffles on the
    * cell key instead of building the tiled all-pairs grid that
    * `dedup_embedding_cosine` uses as the exactness baseline. Same
    * cosine ≥ 0.4 predicate and seeded centroids as the rest of the
    * IVF family, so every emitted pair is also an exact-baseline pair
    * (the recall miss is pairs straddling a Voronoi boundary —
    * measured against the exact operator in PipelineOpsSpec). At
    * 100 TB the cells are also the dedup SHARDING unit: each cell's
    * pairs fit one executor's working set. */
  def semanticDedupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    semanticDedupPairsOn(Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v")))
  }

  /** Core of [[semanticDedupPairs]] over any (vec_id, v) frame —
    * exposed so specs can run it on corpora with planted twins (on
    * unstructured random vectors, boundary-straddling dominates; true
    * near-duplicates land in the same cell almost surely). */
  private[graft] def semanticDedupPairsOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val assigned = cellAssignedOn(emb)
    assigned.as("a")
      .join(assigned.as("b"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
      .withColumn("cosine", dot($"a.v", $"b.v") / ($"a.norm" * $"b.norm"))
      .filter($"cosine" >= 0.4)
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"))
      .orderBy($"va", $"vb")
  }

  /** Coarse-quantizer assignment shared by [[semanticDedupPairsOn]]
    * and [[Multimodal.embeddingDedup]]: (vec_id, v, norm, cell) with
    * the seeded-centroid argmin rule of the whole IVF family. */
  private[operators] def cellAssignedOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents: Array[(Long, Array[Double])] = emb
      .filter($"vec_id" < KMEANS_K)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(cents)
    emb.transform(Tables.repartitionForCpu(_, col("vec_id")))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        (id, v, l2norm(v), nearestCentroid(v, bc.value)._1)
      }
      .toDF("vec_id", "v", "norm", "cell")
  }

  /** Argmin over broadcast centroids — shared by [[kmeansAssign]],
    * [[kmeansUpdate]] and [[kmeansTrainOn]] so the assignment rule
    * (squared-L2, sequential per-dim fold, ties to the lower centroid
    * id) cannot diverge between the oracle-checked ops and the
    * trainer. */
  private def nearestCentroid(
      v: Array[Double], cents: Array[(Long, Array[Double])]): (Long, Double) = {
    var bestC = -1L
    var bestD = Double.MaxValue
    cents.foreach { case (cid, c) =>
      var s2 = 0.0
      var i = 0
      while (i < v.length) { val d = v(i) - c(i); s2 += d * d; i += 1 }
      if (s2 < bestD) { bestD = s2; bestC = cid }
    }
    (bestC, bestD)
  }

  /** Per-cluster (size, Σv) with a PINNED reduction order: assign →
    * one shuffle on cluster → sort (cluster, vec_id) within partitions
    * → sequential fold starting FROM the first member's vector (not a
    * zero vector — IEEE -0.0 + x ≠ first-element fold on signed
    * zeros). Each cluster lands wholly in one partition, so the fold
    * is complete and the float sum is a deterministic function of the
    * data alone — reproducible across partitionings and re-runs, and
    * replayable by the DuckDB oracle via `list(v ORDER BY vec_id)` +
    * `list_reduce`. K×dim result rows; the corpus never leaves the
    * executors. */
  private[graft] def orderedClusterSums(
      embIn: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    embIn.as[(Long, Array[Double])]
      .map { case (id, v) => (nearestCentroid(v, bc.value)._1, id, v) }
      .toDF("cluster", "vec_id", "v")
      .transform(Tables.repartitionForCpu(_, col("cluster")))
      .sortWithinPartitions($"cluster", $"vec_id")
      .as[(Long, Long, Array[Double])]
      .mapPartitions { iter =>
        val out =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Double])]
        var cur = -1L
        var n = 0L
        var sum: Array[Double] = null
        iter.foreach { case (cl, _, v) =>
          if (cl != cur) {
            if (cur >= 0) out += ((cur, n, sum))
            cur = cl; n = 1L; sum = v.clone()
          } else {
            var i = 0
            while (i < v.length) { sum(i) += v(i); i += 1 }
            n += 1
          }
        }
        if (cur >= 0) out += ((cur, n, sum))
        out.iterator
      }
      .toDF("cluster", "size", "sum")
  }

  /** One Lloyd UPDATE step over the seeded centroids of
    * [[kmeansAssign]] — the distributed-training step IVF/semantic-
    * dedup centroids come from. Emits per-cluster size and a
    * sequential checksum of the updated mean, both bit-exactly
    * re-derivable by the oracle because the reduction order is pinned
    * (see [[orderedClusterSums]]). Wrapping this step in a driver loop
    * is [[kmeansTrainOn]]; one step is the oracle surface because
    * every later iteration is the same computation on new literals. */
  def kmeansUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents: Array[(Long, Array[Double])] = emb
      .filter($"vec_id" < KMEANS_K)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    orderedClusterSums(emb, cents)
      .as[(Long, Long, Array[Double])]
      .map { case (cl, n, sum) =>
        var cs = 0.0
        var i = 0
        while (i < sum.length) { cs += sum(i) / n; i += 1 }
        (cl, n, cs)
      }
      .toDF("cluster", "size", "mean_checksum")
      .select($"cluster", $"size", round($"mean_checksum", 6).as("mean_checksum"))
      .orderBy($"cluster")
  }

  /** Full Lloyd training loop: assign + ordered update per iteration,
    * empty clusters keep their previous centroid. Driver state is
    * K×dim doubles per iteration (the collected cluster sums — never
    * the corpus); per-iteration cost is one scan + one K-key shuffle.
    * Deterministic end to end because every float reduction runs in
    * the pinned (cluster, vec_id) order. Returns the final
    * (vec_id, cluster) assignment. */
  private[graft] def kmeansTrainOn(
      embIn: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    val ds = embIn.as[(Long, Array[Double])]
    var cents: Array[(Long, Array[Double])] =
      ds.filter(_._1 < k).collect().sortBy(_._1)
    require(cents.length == k, s"need seed vectors with vec_id < $k")
    (1 to iters).foreach { _ =>
      val sums = orderedClusterSums(embIn, cents)
        .as[(Long, Long, Array[Double])].collect()
        .map { case (cl, n, sum) => cl -> sum.map(_ / n) }.toMap
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    val bc = s.sparkContext.broadcast(cents)
    ds.map { case (id, v) => (id, nearestCentroid(v, bc.value)._1) }
      .toDF("vec_id", "cluster")
  }

  /** Filtered vector search — exact top-k cosine neighbors restricted
    * to documents passing a metadata predicate (lang = 'en'): the
    * composite a retrieval/RAG stack actually runs, and the genuinely
    * hard ANN-at-scale problem (a selective filter invalidates most of
    * any prebuilt index's candidates). Scale shape: the metadata
    * predicate PUSHES DOWN to the documents parquet scan (doc_id+lang
    * columns only — PlanSpec), the filtered id set equi-joins the
    * embedding corpus on the id (no hint — at this selectivity AQE
    * broadcasts the id list; at low selectivity it shuffles, both
    * correct), and only the 10-row query set carries an explicit
    * broadcast. Exact-over-the-filtered-set is the production baseline
    * the IVF path would be validated against (per-cell filtering —
    * same rank semantics). */
  def filteredTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v")))
    val allowed = Tables(s, dir, "documents")
      .filter($"lang" === "en").select($"doc_id")
    val queries = emb.filter($"vec_id" < N_QUERIES)
    val candidates = emb.join(allowed, emb("vec_id") === allowed("doc_id"))
      .select($"vec_id", $"v", $"norm")
    val scored = broadcast(queries).as("a")
      .join(candidates.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
        cosine.as("cos"))
    rankTopK(scored)
  }

  /** Hard-negative mining for contrastive embedding training: for
    * each query vector, the top-K most-similar corpus vectors whose
    * document carries a DIFFERENT language label — the
    * "looks-like-a-positive, is-not" set that contrastive losses
    * (InfoNCE and friends) need to sharpen a retrieval model. The
    * inverse of [[filteredTopK]]'s allow-list: the filter is a
    * per-query EXCLUSION keyed on the query's own attribute, so it
    * cannot be pre-applied to the corpus — it rides the broadcast
    * join condition instead. Same scale shape as [[bruteForceTopK]]:
    * tiny query set broadcast, corpus streams through once (the label
    * join on the corpus side is doc_id-keyed and pruned to two
    * columns), ranking via the bounded TopK aggregator — shuffle
    * volume O(K·queries·mapTasks), never O(corpus). The production
    * variant at real K·queries composes the same exclusion predicate
    * into [[ivfTopK]]'s per-cell candidates. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lang = Tables(s, dir, "documents").select($"doc_id", $"lang")
    val emb = withNorm(Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v")))
      .join(lang, $"vec_id" === $"doc_id")
      .select($"vec_id", $"v", $"norm", $"lang")
    val queries = emb.filter($"vec_id" < N_QUERIES)
    val scored = broadcast(queries).as("a")
      .join(emb.as("b"),
        $"a.vec_id" =!= $"b.vec_id" && $"a.lang" =!= $"b.lang")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
        cosine.as("cos"))
    rankTopK(scored)
  }

  /** Fixed-point scale for [[covarianceQ]]: 1e6 ⇒ per-entry
    * quantization error ≤ n·5e-7 — documented, deterministic. */
  val MOMENT_SCALE = 1000000.0

  /** Gram/second-moment matrix over the embedding corpus — what PCA /
    * whitening / Mahalanobis scoring consumes — via the bounded
    * [[graft.functions.MomentAgg]] typed Aggregator: each map task
    * ships ONE d(d+1)/2+1-long buffer (exact fixed-point sums plus an
    * embedded row count, so the result is bit-stable under any
    * partitioning and hash-matchable by the oracle), and only the
    * single bounded moment array reaches the driver — never a per-row
    * pair materialization. ONE data-proportional scan: the row count
    * rides in the aggregation buffer's trailing slot (no separate
    * count() pass); the only other action is a single-row `first()`
    * that reads the dim, which the operator handles GENERALLY (any
    * embedding width). The DuckDB oracle alone pins the fixture dim
    * via `range(1, 65)` (DuckDB range() cannot take lateral column
    * arguments); a corpus with any other dim fails the gate LOUDLY —
    * d(d+1)/2+1 output rows vs the oracle's 2081 is a row-count
    * mismatch, never a silent hash pass. Output: upper-triangle
    * (i, j, q_sum) rows plus the row count n under (-1, -1) so
    * callers can normalize. */
  def covarianceQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"embedding".cast("array<double>")).as[Array[Double]]
    val dim = Tables(s, dir, "embeddings")
      .select(size($"embedding")).as[Int].first()
    val agg = new graft.functions.MomentAgg(dim, MOMENT_SCALE).toColumn
    val sums: Array[Long] = emb.select(agg).head()
    val nRows = sums.last
    val tri = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    val rows = ((-1, -1), nRows) +: tri.zipWithIndex.map {
      case ((i, j), k) => ((i, j), sums(k))
    }
    rows.map { case ((i, j), q) => (i.toLong, j.toLong, q) }
      .toDF("i", "j", "q_sum")
      .orderBy($"i", $"j")
  }

  /** Product-quantization parameters: 64-dim vectors split into
    * [[PQ_M]] subspaces of [[PQ_DSUB]] dims, [[PQ_C]] codewords each
    * (4-bit codes → an 8×4-bit = 4-byte code per vector). */
  val PQ_M = 8
  val PQ_DSUB = 8
  val PQ_C = 16

  /** PQ-quantized ANN — the memory-scaling counterpart to SQ8
    * ([[int8TopK]]): each corpus vector compresses to PQ_M 4-bit
    * codewords (64× smaller than the float vector), queries rank by
    * ASYMMETRIC DISTANCE (ADC): per query, an M×C lookup table of
    * exact subspace distances to every codeword is precomputed, and a
    * corpus vector's approximate distance is the sum of M table
    * lookups (Jégou et al. 2011).
    *
    * Codebooks here are DETERMINISTIC MEDOIDS — the PQ_C corpus
    * vectors with smallest unsigned mix64(vec_id), subsliced per
    * subspace — instead of per-subspace k-means, so the entire
    * pipeline (codebook → encode → LUT → ADC → rank) is replayed
    * verbatim by the DuckDB oracle ([[kmeansTrainOn]] is where
    * trained centroids are exercised). Every float fold is sequential
    * in a pinned order on both sides.
    *
    * Scale shape: codebook (C·D doubles) and per-query LUTs (M·C
    * doubles each) are driver-built from BOUNDED collects (C +
    * N_QUERIES rows) and broadcast; the corpus pass is one narrow
    * scan doing M·C distance evals + M lookups per row (in
    * production the codes are precomputed at ingest and the scan
    * touches 4 bytes/vector); ranking rides the bounded top-k
    * aggregator. PqAnnSpec checks top-5 overlap vs exact brute
    * force. */
  def pqTopK(s: SparkSession, dir: String): DataFrame =
    pqTopKOn(Tables(s, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")))

  /** Core of [[pqTopK]] over any (vec_id, embedding: array&lt;float&gt;)
    * frame — exposed so PqAnnSpec can run it on corpora with PLANTED
    * twins (retrieval quality on i.i.d. random embeddings is the
    * method's noise floor, same caveat as [[lshTopKOn]]). */
  private[graft] def pqTopKOn(embIn: DataFrame): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    import graft.functions.GraftFunctions
    // unit-normalize first (sequential-fold norm, same as [[int8TopK]]
    // and replayed by the oracle): on the unit sphere L2² = 2 − 2·cos,
    // so ADC's L2 ranking targets the same objective as the cosine
    // brute force it approximates
    val emb = embIn
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .map { case (id, vf) =>
        var s2 = 0.0
        vf.foreach(x => s2 += x.toDouble * x.toDouble)
        val nrm = math.sqrt(s2)
        (id,
          if (nrm == 0.0) vf.map(_.toDouble)
          else vf.map(_.toDouble / nrm))
      }
    val carriers = emb.toDF("vec_id", "v")
      .select($"vec_id", GraftFunctions.mix64($"vec_id")
        .bitwiseXOR(lit(Long.MinValue)).as("h"))
      .orderBy($"h").limit(PQ_C)
      .select($"vec_id").as[Long].collect() // bounded: PQ_C ids
    val carrierSet = carriers.toSet
    val carrierVecs = emb
      .filter(r => carrierSet.contains(r._1))
      .collect().toMap // bounded: PQ_C vectors
    // codebook[m][c][i]: carrier c's m-th subvector (doubles)
    val codebook = Array.tabulate(PQ_M) { m =>
      carriers.map(id =>
        carrierVecs(id).slice(m * PQ_DSUB, (m + 1) * PQ_DSUB))
    }
    def subDist(v: Array[Double], m: Int, c: Int): Double = {
      var d = 0.0
      var i = 0
      while (i < PQ_DSUB) {
        val diff = v(m * PQ_DSUB + i) - codebook(m)(c)(i)
        d += diff * diff
        i += 1
      }
      d
    }
    // per-query ADC lookup tables (bounded: N_QUERIES vectors)
    val lut = emb.filter(_._1 < N_QUERIES).collect().sortBy(_._1)
      .map { case (qid, qv) =>
        qid -> Array.tabulate(PQ_M, PQ_C)((m, c) => subDist(qv, m, c))
      }
    val bcCb = s.sparkContext.broadcast(codebook)
    val bcLut = s.sparkContext.broadcast(lut)
    val scored = emb.flatMap { case (id, v) =>
      val cb = bcCb.value
      val codes = Array.tabulate(PQ_M) { m =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < PQ_C) {
          var d = 0.0
          var i = 0
          while (i < PQ_DSUB) {
            val diff = v(m * PQ_DSUB + i) - cb(m)(c)(i)
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = c } // tie → smaller c
          c += 1
        }
        best
      }
      bcLut.value.iterator.filter(_._1 != id).map { case (qid, l) =>
        var adc = 0.0
        var m = 0
        while (m < PQ_M) { adc += l(m)(codes(m)); m += 1 }
        (qid, -adc, id) // negated: rankTopK ranks DESC
      }
    }.toDF("query_id", "cos", "neighbor_id")
    rankTopK(scored)
  }

  /** IVF-PQ — the FAISS-style composed index and the real 100 TB ANN
    * shape: a coarse quantizer shards the corpus into cells
    * ([[ivfTopK]]'s seeded centroids on the unit sphere), each vector
    * stores only its cell id + [[PQ_M]] one-byte RESIDUAL codes
    * (v − centroid quantized against a deterministic carrier
    * codebook — residuals are what make PQ codes sharp enough to rank
    * inside a cell), and a query probes its [[NPROBE]] nearest cells
    * with a per-(query, cell) ADC lookup table. Corpus cost at scale:
    * one narrow map per vector (cell + codes, no shuffle), candidates
    * = corpus × NPROBE/K, exact math only on bounded driver-side
    * structures (K centroids, [[PQ_C]] carriers, queries×NPROBE
    * LUTs). Every float op is a sequential fold in pinned order, so
    * the DuckDB oracle replays assignment, residual encoding, probing
    * and ADC bit-exactly — same discipline as [[pqTopKOn]]. */
  def ivfpqTopK(s: SparkSession, dir: String): DataFrame =
    ivfpqTopKOn(Tables(s, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")))

  /** Core of [[ivfpqTopK]] over any (vec_id, embedding) frame —
    * exposed so the bench can measure planted-twin recall (corpus
    * recall on i.i.d. random embeddings is the method's noise floor,
    * same caveat as [[pqTopKOn]]/[[lshTopKOn]]). */
  private[graft] def ivfpqTopKOn(embIn: DataFrame): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    import graft.functions.GraftFunctions
    val emb = embIn
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .map { case (id, vf) =>
        var s2 = 0.0
        vf.foreach(x => s2 += x.toDouble * x.toDouble)
        val nrm = math.sqrt(s2)
        (id,
          if (nrm == 0.0) vf.map(_.toDouble)
          else vf.map(_.toDouble / nrm))
      }
    // coarse quantizer: the normalized seed vectors (bounded collect)
    val cents: Array[(Long, Array[Double])] =
      emb.filter(_._1 < KMEANS_K).collect().sortBy(_._1)
    // PQ carriers (same unsigned-mix64 rule as pqTopKOn), with their
    // RESIDUALS as the codebook entries
    val carriers = emb.toDF("vec_id", "v")
      .select($"vec_id", GraftFunctions.mix64($"vec_id")
        .bitwiseXOR(lit(Long.MinValue)).as("h"))
      .orderBy($"h").limit(PQ_C)
      .select($"vec_id").as[Long].collect() // bounded: PQ_C ids
    val carrierSet = carriers.toSet
    val carrierVecs = emb
      .filter(r => carrierSet.contains(r._1)).collect().toMap
    def residual(v: Array[Double]): Array[Double] = {
      val c = cents(nearestCentroid(v, cents)._1.toInt)._2
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    val codebook = Array.tabulate(PQ_M) { m =>
      carriers.map { id =>
        residual(carrierVecs(id)).slice(m * PQ_DSUB, (m + 1) * PQ_DSUB)
      }
    }
    def subDistR(r: Array[Double], m: Int, c: Int): Double = {
      var d = 0.0; var i = 0
      while (i < PQ_DSUB) {
        val diff = r(m * PQ_DSUB + i) - codebook(m)(c)(i)
        d += diff * diff; i += 1
      }
      d
    }
    // per-(query, probed cell) ADC tables (bounded: queries × NPROBE)
    val luts = emb.filter(_._1 < N_QUERIES).collect().sortBy(_._1)
      .flatMap { case (qid, qv) =>
        cents.map { case (cid, c) =>
          var s2 = 0.0; var i = 0
          while (i < qv.length) {
            val d = qv(i) - c(i); s2 += d * d; i += 1
          }
          (s2, cid)
        }.sortBy(identity).take(NPROBE).map { case (_, cid) =>
          val qr = Array.tabulate(qv.length)(i =>
            qv(i) - cents(cid.toInt)._2(i))
          (qid, cid,
            Array.tabulate(PQ_M, PQ_C)((m, c) => subDistR(qr, m, c)))
        }
      }
    val bcCents = s.sparkContext.broadcast(cents)
    val bcCb = s.sparkContext.broadcast(codebook)
    val bcLuts = s.sparkContext.broadcast(luts)
    val scored = emb.flatMap { case (id, v) =>
      val cs = bcCents.value
      val cb = bcCb.value
      var bestC = -1L; var bestD = Double.MaxValue
      cs.foreach { case (cid, c) =>
        var s2 = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - c(i); s2 += d * d; i += 1 }
        if (s2 < bestD) { bestD = s2; bestC = cid }
      }
      val cell = bestC
      val r = Array.tabulate(v.length)(i => v(i) - cs(cell.toInt)._2(i))
      val codes = Array.tabulate(PQ_M) { m =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < PQ_C) {
          var d = 0.0; var i = 0
          while (i < PQ_DSUB) {
            val diff = r(m * PQ_DSUB + i) - cb(m)(c)(i)
            d += diff * diff; i += 1
          }
          if (d < bd) { bd = d; best = c } // tie → smaller c
          c += 1
        }
        best
      }
      bcLuts.value.iterator
        .filter { case (qid, probe, _) => probe == cell && qid != id }
        .map { case (qid, _, l) =>
          var adc = 0.0; var m = 0
          while (m < PQ_M) { adc += l(m)(codes(m)); m += 1 }
          (qid, -adc, id) // negated: rankTopK ranks DESC
        }
    }.toDF("query_id", "cos", "neighbor_id")
    rankTopK(scored)
  }

  /** Power-iteration steps for [[pcaPowerIter]]. */
  val PCA_ITERS = 4

  /** Dominant principal direction of the embedding corpus via power
    * iteration on the quantized second-moment matrix — the
    * whitening / mean-direction-removal primitive (Mu et al. 2017's
    * "all-but-the-top") ahead of semantic dedup and ANN.
    *
    * Distributed part: ONE scan through the same bounded
    * [[graft.functions.MomentAgg]] as [[covarianceQ]] (per-task d²/2
    * buffer, map-side combined — the corpus never shuffles). The
    * iteration itself is d×d×T integer flops on the collected moment
    * matrix — driver-side by design, same bounded-collect contract as
    * the kmeans centroids (64×64 longs, corpus-size-independent).
    *
    * Integer exactness end to end: the moment sums are row-count
    * normalized by truncating division (keeps every later product in
    * Long range at ANY corpus size: |G/n| ≲ scale·max|x|², so
    * |w| ≤ d·|G/n|·10⁶ ≈ 6e14); renormalization divides by
    * `m div 10⁶ + 1` instead of multiplying by 10⁶ first (the naive
    * `w·10⁶ div m` overflows Long at |w| > 9e12). Scala `/`, Spark
    * `div` and DuckDB `//` all truncate toward zero, so the oracle
    * replays every iteration bit-exactly. Sign and convergence are
    * deterministic: all-ones start, fixed [[PCA_ITERS]] steps. */
  /** The power iteration itself (see [[pcaPowerIter]] for the
    * contract): returns the final quantized direction and the last
    * max-|w| (the eigenvalue-scale estimate). Shared with
    * [[abttProject]] so operator and projection can never diverge. */
  private[operators] def pcaVector(
      s: SparkSession, dir: String): (Array[Long], Long) = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
      .select($"embedding".cast("array<double>")).as[Array[Double]]
    val dim = Tables(s, dir, "embeddings")
      .select(size($"embedding")).as[Int].first()
    val agg = new graft.functions.MomentAgg(dim, MOMENT_SCALE).toColumn
    val sums: Array[Long] = emb.select(agg).head()
    val nRows = sums.last
    val g = Array.ofDim[Long](dim, dim) // bounded: d² longs
    var k = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val q = sums(k) / nRows // row-normalized, truncating
        g(i)(j) = q
        g(j)(i) = q
        k += 1
        j += 1
      }
      i += 1
    }
    var v = Array.fill(dim)(1000000L)
    var m = 1L
    (1 to PCA_ITERS).foreach { _ =>
      val w = Array.tabulate(dim) { a =>
        var acc = 0L
        var b = 0
        while (b < dim) { acc += g(a)(b) * v(b); b += 1 }
        acc
      }
      m = w.map(math.abs).max max 1L
      v = w.map(x => x / (m / 1000000L + 1L))
    }
    (v, m)
  }

  def pcaPowerIter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (v, m) = pcaVector(s, dir)
    (v.zipWithIndex.map { case (vq, d) => (d.toLong, vq) } :+ (-1L, m))
      .toSeq.toDF("dim_i", "v_q").orderBy($"dim_i")
  }

  /** Milli-unit quantization for the per-vector side of
    * [[abttProject]]. */
  val ABTT_SCALE = 1000.0

  /** "All-but-the-top" projection coefficients (Mu et al. 2017): each
    * embedding's integer projection onto the [[pcaVector]] dominant
    * direction — the per-vector half of common-direction removal
    * (the caller subtracts `coeff·v/‖v‖²`; emitting the coefficient
    * keeps every number a Long).
    *
    * Scale shape: the direction is d Longs COMPUTED ONCE and shipped
    * as a literal array — the corpus-side pass is then one narrow
    * columnar projection (`zip_with` milli-quantize × v, `aggregate`
    * Long sum — array order is pinned, so the integer fold is exact
    * on both engines), no shuffle, no per-row driver work. Output is
    * row-proportional (one coefficient per vector). */
  def abttProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (v, _) = pcaVector(s, dir)
    val vlit = array(v.toIndexedSeq.map(lit): _*)
    Tables(s, dir, "embeddings")
      .select($"vec_id",
        $"embedding".cast("array<double>").as("x"))
      .withColumn("vlit", vlit)
      .select($"vec_id",
        expr(s"aggregate(zip_with(x, vlit, (a, b) -> " +
          s"CAST(floor(a * $ABTT_SCALE + 0.5) AS BIGINT) * b), " +
          "CAST(0 AS BIGINT), (acc, t) -> acc + t)").as("coeff_q"))
      .orderBy($"vec_id")
  }

  /** Per-dimension energy profile of the embedding corpus — the
    * moment scan behind Matryoshka-style truncation and PCA sanity
    * checks: for each of the 64 dimensions, exact integer first/second
    * moments in milli-units (per-element `floor(x·1000 + 0.5)`, then
    * Long sums — partition-independent) plus the integer variance
    * surrogate `ss div n − (s div n)²` and a rank of dimensions by
    * that energy. High-rank dims carry the signal; a truncation drops
    * from the tail.
    *
    * Scale shape: posexplode to (dim, q) then ONE map-side-combined
    * aggregate into exactly 64 groups — 64× scan rows through the
    * partial aggregate, nothing else; the ranking window runs over the
    * 64-row aggregated relation (bounded by construction). Long
    * headroom: |q| ≤ ~10⁵ ⇒ Σq² stays under 2⁶³ to ~10¹² rows per
    * dim. */
  def dimEnergy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val mom = Tables(s, dir, "embeddings")
      .select(posexplode($"embedding".cast("array<double>")))
      .select($"pos".cast("long").as("dim"),
        expr("CAST(floor(col * 1000.0 + 0.5) AS BIGINT)").as("q"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("sum_q"),
        sum($"q" * $"q").as("sumsq_q"))
    mom.select($"dim", $"n", $"sum_q", $"sumsq_q",
        expr("sum_q div n").as("mean_milli"),
        expr("sumsq_q div n - (sum_q div n) * (sum_q div n)")
          .as("var_milli2"))
      .withColumn("energy_rank", row_number()
        .over(Window.orderBy($"var_milli2".desc, $"dim")).cast("long"))
      .orderBy($"dim")
  }

  /** Johnson–Lindenstrauss output dimensionality. */
  val RP_DIMS = 16

  /** JL ±1 random projection 64 → [[RP_DIMS]] dims — the cheap
    * dimensionality reduction in front of an ANN index (Achlioptas
    * 2003: a Rademacher ±1 matrix satisfies the JL lemma; no Gaussian
    * needed). The "random" matrix is DERANDOMIZED to
    * `sign(j,d) = 1 − 2·parity(mix64(j·2³² + d))` — reproducible
    * machine to machine, replayable by the oracle — and inputs are
    * milli-quantized per element, so every projected coordinate is an
    * exact Long (Σ|q| ≤ 64·~10⁵ per coordinate — no overflow at any
    * corpus size; the sum is per VECTOR, not per corpus).
    *
    * Scale shape: posexplode + ONE map-side-combined aggregate with
    * [[RP_DIMS]] conditional sums, grouped on vec_id — narrow,
    * shuffle ∝ output (N × 16 longs), embarrassingly parallel. */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions
    val q = Tables(s, dir, "embeddings")
      .select($"vec_id", posexplode($"embedding".cast("array<double>")))
      .select($"vec_id", $"pos".cast("long").as("pos"),
        expr("CAST(floor(col * 1000.0 + 0.5) AS BIGINT)").as("q"))
    val aggs = (0 until RP_DIMS).map { j =>
      val sign = lit(1L) - lit(2L) *
        pmod(GraftFunctions.mix64(lit(j.toLong * 4294967296L) + $"pos"),
          lit(2L))
      sum($"q" * sign).as(s"p$j")
    }
    q.groupBy($"vec_id")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"vec_id")
  }

  /** Per-vector statistics via HIGHER-ORDER FUNCTIONS — the no-explode
    * path for array math: `aggregate` folds the squared-norm and the
    * positive-element count, `array_min`/`array_max` take the
    * extremes, all over the milli-quantized copy built by ONE
    * `transform`. Everything is a codegen'd columnar projection — no
    * Generate, no shuffle before the final sort — the shape to prefer
    * when per-row array work doesn't need a per-element relation
    * (contrast [[dimEnergy]], which aggregates ACROSS rows and
    * genuinely needs the explode). */
  def vectorStatsHof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")
          .as("q"))
      .select($"vec_id",
        size($"q").cast("long").as("dim"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
          .as("normsq_q"),
        expr("aggregate(q, CAST(0 AS BIGINT), " +
          "(a, x) -> a + CASE WHEN x > 0 THEN 1 ELSE 0 END)")
          .as("n_positive"),
        expr("array_min(q)").as("min_q"),
        expr("array_max(q)").as("max_q"))
      .orderBy($"vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_vector_stats_hof" -> (vectorStatsHof _),
    "emb_random_projection" -> (randomProjection _),
    "emb_dim_energy" -> (dimEnergy _),
    "emb_pca_power_iter" -> (pcaPowerIter _),
    "emb_abtt_project" -> (abttProject _),
    "ann_pq_topk" -> (pqTopK _),
    "emb_covariance_q" -> (covarianceQ _),
    "ann_filtered_topk" -> (filteredTopK _),
    "ann_hard_negatives" -> (hardNegatives _),
    "ann_brute_force_topk" -> (bruteForceTopK _),
    "ann_matryoshka_overlap" -> (matryoshkaOverlap _),
    "ann_reciprocal_topk" -> (reciprocalTopK _),
    "ann_lsh_topk" -> (lshTopK _),
    "ann_ivf_topk" -> (ivfTopK _),
    "ann_ivf_recall" -> (ivfRecall _),
    "dedup_semantic_ivf" -> (semanticDedupPairs _),
    "emb_quantize_int8" -> (quantizeInt8 _),
    "ann_int8_topk" -> (int8TopK _),
    "ann_rerank_topk" -> (rerankTopK _),
    "ann_ivfpq_topk" -> (ivfpqTopK _),
    "emb_cell_balance" -> (cellBalance _),
    "emb_kmeans_assign" -> (kmeansAssign _),
    "emb_kmeans_update" -> (kmeansUpdate _),
  )

  /** One unrolled power-iteration step for the PCA oracle: matvec,
    * max-abs, overflow-safe renormalize — mirrors the Scala loop. */
  private def pcaIterSql(
      vPrev: String, wN: String, mN: String, vN: String): String =
    s"""$wN AS (
       |  SELECT gn.i, sum(gn.q * $vPrev.v) AS w
       |  FROM gn JOIN $vPrev ON gn.j = $vPrev.i GROUP BY 1),
       |$mN AS (SELECT greatest(max(abs(w)), 1) AS m FROM $wN),
       |$vN AS (SELECT i, w // ((SELECT m FROM $mN) // 1000000 + 1) AS v
       |        FROM $wN)""".stripMargin

  /** The shared CTE chain (moment matrix → normalized Gram →
    * [[PCA_ITERS]] unrolled steps), ending at `v$PCA_ITERS` /
    * `m$PCA_ITERS` — used by both the PCA oracle and the
    * abtt-projection oracle. */
  private def pcaChainSql: String =
    s"""e AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cnt AS (SELECT count(*) AS c FROM e),
       |idx AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i),
       |g AS (
       |  SELECT i.i AS i, j.i AS j,
       |    sum(CAST(floor(e.v[i.i] * e.v[j.i] * 1000000.0 + 0.5)
       |      AS BIGINT)) AS q
       |  FROM e, idx i, idx j GROUP BY 1, 2),
       |gn AS (SELECT i, j, q // (SELECT c FROM cnt) AS q FROM g),
       |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM idx),
       |${(1 to PCA_ITERS).map(t => pcaIterSql(s"v${t - 1}",
            s"w$t", s"m$t", s"v$t")).mkString(",\n")}""".stripMargin

  val oracles: Map[String, String] = Map(
    // same milli quantization; list_transform/list_reduce/
    // list_aggregate replay the HOF fold exactly (integer ops only)
    "emb_vector_stats_hof" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT vec_id, CAST(len(q) AS BIGINT) AS dim,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q),
        |    (a, x) -> a + x * x) AS BIGINT) AS normsq_q,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q),
        |    (a, x) -> a + CASE WHEN x > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_positive,
        |  CAST(list_min(q) AS BIGINT) AS min_q,
        |  CAST(list_max(q) AS BIGINT) AS max_q
        |FROM e ORDER BY vec_id""".stripMargin,
    // same milli quantization, same derandomized ±1 matrix
    // (parity of the replayed HUGEINT splitmix64)
    "emb_random_projection" -> {
      val cols = (0 until RP_DIMS).map { j =>
        val h = OracleSql.mix64(
          s"CAST(${j.toLong * 4294967296L} + pos AS HUGEINT)")
        s"CAST(sum(q * (1 - 2 * (($h) % 2))) AS BIGINT) AS p$j"
      }.mkString(",\n  ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |p AS (SELECT vec_id, CAST(i.i - 1 AS BIGINT) AS pos,
         |    CAST(floor(e.v[CAST(i.i AS INTEGER)] * 1000.0 + 0.5)
         |      AS BIGINT) AS q
         |  FROM e, range(1, 65) i(i))
         |SELECT vec_id,
         |  $cols
         |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    // same per-element milli quantization as the engine, same
    // truncating-division variance surrogate, same (var DESC, dim)
    // rank tiebreak
    "emb_dim_energy" ->
      """WITH e AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT CAST(i.i - 1 AS BIGINT) AS dim,
        |    CAST(floor(e.v[CAST(i.i AS INTEGER)] * 1000.0 + 0.5)
        |      AS BIGINT) AS q
        |  FROM e, range(1, 65) i(i)),
        |m AS (SELECT dim, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS sum_q,
        |    CAST(sum(q * q) AS BIGINT) AS sumsq_q
        |  FROM p GROUP BY 1),
        |x AS (SELECT dim, n, sum_q, sumsq_q,
        |    sum_q // n AS mean_milli,
        |    sumsq_q // n - (sum_q // n) * (sum_q // n) AS var_milli2
        |  FROM m)
        |SELECT dim, CAST(n AS BIGINT) AS n, sum_q, sumsq_q,
        |  CAST(mean_milli AS BIGINT) AS mean_milli,
        |  CAST(var_milli2 AS BIGINT) AS var_milli2,
        |  CAST(row_number() OVER (ORDER BY var_milli2 DESC, dim)
        |    AS BIGINT) AS energy_rank
        |FROM x ORDER BY dim""".stripMargin,
    // full PQ replay: medoid codebook by unsigned-mix64 order, argmin
    // encode (tie → smaller codeword), per-query LUT, m-ordered ADC
    // fold, rank by (adc ASC, neighbor ASC) — float folds sequential
    // in the same order as the Scala loops
    "ann_pq_topk" -> {
      val h = OracleSql.mix64("CAST(vec_id AS HUGEINT)")
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |nn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM e0),
         |e AS (
         |  SELECT vec_id,
         |    CASE WHEN nrm = 0 THEN v
         |         ELSE list_transform(v, x -> x / nrm) END AS v
         |  FROM nn),
         |car AS (SELECT vec_id, cidx FROM (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY ($h)) - 1 AS cidx
         |  FROM e) WHERE cidx < $PQ_C),
         |ms AS (SELECT unnest(range($PQ_M)) AS m),
         |cb AS (SELECT car.cidx, ms.m,
         |    e.v[ms.m * $PQ_DSUB + 1 : ms.m * $PQ_DSUB + $PQ_DSUB] AS cv
         |  FROM car JOIN e USING (vec_id) CROSS JOIN ms),
         |enc0 AS (SELECT e.vec_id, cb.m, cb.cidx,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, $PQ_DSUB + 1), i ->
         |        (e.v[cb.m * $PQ_DSUB + i] - cb.cv[i]) *
         |        (e.v[cb.m * $PQ_DSUB + i] - cb.cv[i]))),
         |      (a, b) -> a + b) AS d2
         |  FROM e CROSS JOIN cb),
         |enc AS (SELECT vec_id, m, cidx FROM (
         |  SELECT vec_id, m, cidx,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d2, cidx) AS rn
         |  FROM enc0) WHERE rn = 1),
         |lut AS (SELECT q.vec_id AS qid, cb.m, cb.cidx,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, $PQ_DSUB + 1), i ->
         |        (q.v[cb.m * $PQ_DSUB + i] - cb.cv[i]) *
         |        (q.v[cb.m * $PQ_DSUB + i] - cb.cv[i]))),
         |      (a, b) -> a + b) AS d2
         |  FROM (SELECT vec_id, v FROM e WHERE vec_id < $N_QUERIES) q
         |  CROSS JOIN cb),
         |adc AS (SELECT l.qid AS query_id, x.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(l.d2 ORDER BY l.m)), (a, b) -> a + b) AS d
         |  FROM enc x JOIN lut l ON l.m = x.m AND l.cidx = x.cidx
         |  WHERE l.qid <> x.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id
         |FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY d, neighbor_id) AS rn FROM adc)
         |WHERE rn <= $K ORDER BY query_id, rn""".stripMargin
    },
    // the pq chain extended with cells: coarse assignment (argmin
    // squared-L2, tie to lower cid), residuals, carrier-RESIDUAL
    // codebook, NPROBE probes, per-(query, cell) LUTs — every float
    // op in the Scala fold order; range(1,65) pins dim 64 like the
    // pca chain
    "ann_ivfpq_topk" -> {
      val h = OracleSql.mix64("CAST(vec_id AS HUGEINT)")
      def sq(a: String, b: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(range(1, 65), i ->
           |        ($a[i] - $b[i]) * ($a[i] - $b[i]))),
           |      (x, y) -> x + y)""".stripMargin
      def sqSub(r: String, cv: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(range(1, $PQ_DSUB + 1), i ->
           |        ($r[m * $PQ_DSUB + i] - $cv[i]) *
           |        ($r[m * $PQ_DSUB + i] - $cv[i]))),
           |      (x, y) -> x + y)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |nn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM e0),
         |e AS (
         |  SELECT vec_id,
         |    CASE WHEN nrm = 0 THEN v
         |         ELSE list_transform(v, x -> x / nrm) END AS v
         |  FROM nn),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e
         |  WHERE vec_id < $KMEANS_K),
         |asg0 AS (SELECT e.vec_id, c.cid,
         |    ${sq("e.v", "c.cv")} AS d2
         |  FROM e CROSS JOIN cents c),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rn FROM asg0) WHERE rn = 1),
         |res AS (SELECT a.vec_id, a.cid AS cell,
         |    list_transform(range(1, 65),
         |      i -> e.v[i] - c.cv[i]) AS r
         |  FROM asg a JOIN e USING (vec_id)
         |  JOIN cents c ON c.cid = a.cid),
         |car AS (SELECT vec_id, cidx FROM (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY ($h)) - 1 AS cidx
         |  FROM e) WHERE cidx < $PQ_C),
         |ms AS (SELECT unnest(range($PQ_M)) AS m),
         |cb AS (SELECT car.cidx, ms.m,
         |    res.r[ms.m * $PQ_DSUB + 1 : ms.m * $PQ_DSUB + $PQ_DSUB]
         |      AS cv
         |  FROM car JOIN res USING (vec_id) CROSS JOIN ms),
         |enc0 AS (SELECT res.vec_id, res.cell, cb.m, cb.cidx,
         |    ${sqSub("res.r", "cb.cv")} AS d2
         |  FROM res CROSS JOIN cb),
         |enc AS (SELECT vec_id, cell, m, cidx FROM (
         |  SELECT vec_id, cell, m, cidx,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d2, cidx) AS rn
         |  FROM enc0) WHERE rn = 1),
         |probes AS (SELECT qid, cid FROM (
         |  SELECT q.vec_id AS qid, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sq("q.v", "c.cv")}, c.cid) AS rn
         |  FROM (SELECT vec_id, v FROM e WHERE vec_id < $N_QUERIES) q
         |  CROSS JOIN cents c) WHERE rn <= $NPROBE),
         |qres AS (SELECT p.qid, p.cid,
         |    list_transform(range(1, 65),
         |      i -> q.v[i] - c.cv[i]) AS qr
         |  FROM probes p JOIN e q ON q.vec_id = p.qid
         |  JOIN cents c ON c.cid = p.cid),
         |lut AS (SELECT qres.qid, qres.cid, cb.m, cb.cidx,
         |    ${sqSub("qres.qr", "cb.cv")} AS d2
         |  FROM qres CROSS JOIN cb),
         |adc AS (SELECT l.qid AS query_id, x.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(l.d2 ORDER BY l.m)), (a, b) -> a + b) AS d
         |  FROM enc x JOIN lut l ON l.m = x.m AND l.cidx = x.cidx
         |    AND l.cid = x.cell
         |  WHERE l.qid <> x.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id
         |FROM (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY d, neighbor_id) AS rn FROM adc)
         |WHERE rn <= $K ORDER BY query_id, rn""".stripMargin
    },
    // full SQ8 replay: unit-normalize (sequential-fold norm), maxabs
    // scale, floor(x+0.5) quantize, integer dot, (dot·s_a)·s_b score —
    // every float op in the same IEEE order as the Scala map
    "ann_int8_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
        |  FROM e),
        |vn AS (
        |  SELECT vec_id,
        |    CASE WHEN nrm = 0 THEN v
        |         ELSE list_transform(v, x -> x / nrm) END AS v
        |  FROM n),
        |mx AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS ma
        |  FROM vn),
        |qq AS (
        |  SELECT vec_id, ma,
        |    CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |         ELSE list_transform(v, x -> floor(x * 127.0 / ma + 0.5))
        |    END AS q
        |  FROM mx),
        |sc AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1, len(a.q) + 1),
        |          i -> a.q[CAST(i AS INTEGER)] * b.q[CAST(i AS INTEGER)])),
        |        (x, y) -> x + y) * a.ma) * b.ma) AS s
        |  FROM qq a JOIN qq b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY s DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM sc) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // stage 1 = the int8 chain ranked to the shortlist, stage 2 =
    // exact cosine re-scoring of shortlist pairs only
    "ann_rerank_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM e),
         |vn AS (
         |  SELECT vec_id,
         |    CASE WHEN nrm = 0 THEN v
         |         ELSE list_transform(v, x -> x / nrm) END AS v
         |  FROM n),
         |mx AS (
         |  SELECT vec_id, v,
         |    list_max(list_transform(v, x -> abs(x))) AS ma
         |  FROM vn),
         |qq AS (
         |  SELECT vec_id, ma,
         |    CASE WHEN ma = 0
         |         THEN list_transform(v, x -> CAST(0 AS DOUBLE))
         |         ELSE list_transform(v, x -> floor(x * 127.0 / ma + 0.5))
         |    END AS q
         |  FROM mx),
         |sc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    ((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, len(a.q) + 1),
         |          i -> a.q[CAST(i AS INTEGER)] * b.q[CAST(i AS INTEGER)])),
         |        (x, y) -> x + y) * a.ma) * b.ma) AS s
         |  FROM qq a JOIN qq b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < $N_QUERIES),
         |shortlist AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY s DESC, neighbor_id) AS r
         |    FROM sc) t
         |  WHERE r <= $RERANK_SHORTLIST),
         |rescored AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    list_cosine_similarity(ea.v, eb.v) AS cos
         |  FROM shortlist sl
         |  JOIN e ea ON ea.vec_id = sl.query_id
         |  JOIN e eb ON eb.vec_id = sl.neighbor_id)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM rescored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // identical IEEE product + floor quantization per (row, i, j),
    // summed in exact integer arithmetic — replayed by unnesting the
    // upper-triangle index pairs per row; the (-1,-1) row carries n.
    // range(1,65) pins the testdata embedding dim (64, all SFs) —
    // DuckDB's range() cannot take lateral column arguments; the Spark
    // side reads the dim from the data
    // full power-iteration replay: quantized moment matrix (both
    // triangles via symmetry of the product), truncating row-count
    // normalization, 4 matvec+renormalize steps in HUGEINT — every
    // division is the same toward-zero truncation as the Scala loop
    "emb_pca_power_iter" ->
      s"""WITH $pcaChainSql
         |SELECT CAST(i - 1 AS BIGINT) AS dim_i, CAST(v AS BIGINT) AS v_q
         |FROM v$PCA_ITERS
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST((SELECT m FROM m$PCA_ITERS)
         |  AS BIGINT)
         |ORDER BY dim_i""".stripMargin,
    // same chain, then each vector's milli-quantized integer dot with
    // the final direction, folded in array (= dim) order
    "emb_abtt_project" ->
      s"""WITH $pcaChainSql,
         |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
         |       FROM embeddings),
         |terms AS (
         |  SELECT ev.vec_id,
         |    CAST(floor(ev.x[v$PCA_ITERS.i] * $ABTT_SCALE + 0.5)
         |      AS BIGINT) * v$PCA_ITERS.v AS t
         |  FROM ev, v$PCA_ITERS)
         |SELECT vec_id, CAST(sum(t) AS BIGINT) AS coeff_q
         |FROM terms GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "emb_covariance_q" ->
      """WITH e AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT i.i AS i, j.j AS j,
        |    CAST(floor(e.v[CAST(i.i AS INTEGER)]
        |      * e.v[CAST(j.j AS INTEGER)] * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM e,
        |    range(1, 65) i(i),
        |    range(1, 65) j(j)
        |  WHERE j.j >= i.i),
        |tri AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
        |    CAST(sum(q) AS BIGINT) AS q_sum
        |  FROM p GROUP BY 1, 2),
        |n AS (SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
        |  CAST(count(*) AS BIGINT) AS q_sum FROM e)
        |SELECT * FROM n UNION ALL SELECT * FROM tri
        |ORDER BY i, j""".stripMargin,
    // squared-L2 re-derived with the same sequential fold order
    // ((0+d0²)+d1²+…) so the doubles — and therefore the argmin
    // ordering and the rounded output — are bit-identical.
    // same argmin assignment as emb_kmeans_assign, reduced to the
    // K-row balance report with window totals
    "emb_cell_balance" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |  WHERE vec_id < $KMEANS_K),
         |d AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
         |         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]))),
         |    (a, x) -> a + x) AS dist2
         |  FROM e CROSS JOIN c),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist2, cid) AS rn
         |  FROM d) WHERE rn = 1),
         |g AS (SELECT cid AS cell, CAST(count(*) AS BIGINT)
         |    AS n_vectors
         |  FROM asg GROUP BY 1),
         |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM g)
         |SELECT cell, n_vectors,
         |  CAST(n_vectors * 1000 // t.total AS BIGINT) AS share_pm,
         |  CAST(n_vectors * 1000 // t.total * $KMEANS_K AS BIGINT)
         |    AS balance_pm
         |FROM g CROSS JOIN t ORDER BY cell""".stripMargin,
    "emb_kmeans_assign" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KMEANS_K),
         |d AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
         |         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]))),
         |    (a, x) -> a + x) AS dist2
         |  FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, cid, dist2,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM d)
         |SELECT vec_id, cid AS cluster, round(dist2, 6) AS dist2
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // one Lloyd update replayed exactly: same argmin as above, then
    // per-cluster members collected IN vec_id ORDER (list(v ORDER BY
    // vec_id)) and folded left — the same pinned reduction order the
    // operator enforces via its cluster-shuffle + within-partition
    // sort, so the float sums (and the rounded checksum) are
    // bit-identical.
    "emb_kmeans_update" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KMEANS_K),
         |d AS (SELECT e.vec_id, c.cid, e.v,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
         |         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]))),
         |    (a, x) -> a + x) AS dist2
         |  FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, cid, v FROM (
         |  SELECT vec_id, cid, v,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM d) WHERE rn = 1),
         |g AS (SELECT cid AS cluster, count(*) AS n,
         |  list(v ORDER BY vec_id) AS vs FROM a GROUP BY cid),
         |s AS (SELECT cluster, n,
         |  list_reduce(vs, (acc, x) -> list_transform(range(1, len(acc) + 1),
         |    i -> acc[CAST(i AS INTEGER)] + x[CAST(i AS INTEGER)])) AS sumv
         |  FROM g)
         |SELECT cluster, CAST(n AS BIGINT) AS size,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(sumv, x -> x / n)), (a, b) -> a + b), 6)
         |    AS mean_checksum
         |FROM s ORDER BY cluster""".stripMargin,
    // ann_ivf_topk: the oracle re-derives the coarse quantizer (same
    // sequential-fold squared-L2 + lower-id tiebreak as the
    // emb_kmeans_assign oracle), the per-query NPROBE probe set, and
    // the within-cell cosine rerank — independently of the Spark
    // inverted-list join. A corpus vector lives in exactly one cell,
    // so the probe join produces no duplicate candidates.
    "ann_ivf_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KMEANS_K),
         |d AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
         |         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]))),
         |    (a, x) -> a + x) AS dist2
         |  FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, cid, dist2,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM d),
         |asg AS (SELECT vec_id, cid AS cell FROM r WHERE rn = 1),
         |probe AS (SELECT vec_id AS qid, cid AS cell FROM r
         |  WHERE rn <= $NPROBE AND vec_id < $N_QUERIES)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY p.qid ORDER BY
         |      list_cosine_similarity(eq.v, en.v) DESC, a.vec_id) AS BIGINT)
         |      AS rank
         |  FROM probe p
         |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
         |  JOIN e eq ON eq.vec_id = p.qid
         |  JOIN e en ON en.vec_id = a.vec_id) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // ann_ivf_recall: both rankings replayed from first principles
    // (the exact broadcast-query top-K and the IVF probe-set rerank),
    // then the per-query hit count — the recall number itself is
    // hash-checked, constants interpolated (never hardcoded; the
    // r16-advice lesson)
    "ann_ivf_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS rank
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < $N_QUERIES) t WHERE rank <= $K),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KMEANS_K),
         |d AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
         |         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]))),
         |    (a, x) -> a + x) AS dist2
         |  FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, cid, dist2,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM d),
         |asg AS (SELECT vec_id, cid AS cell FROM r WHERE rn = 1),
         |probe AS (SELECT vec_id AS qid, cid AS cell FROM r
         |  WHERE rn <= $NPROBE AND vec_id < $N_QUERIES),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      list_cosine_similarity(eq.v, en.v) DESC, a.vec_id) AS rank
         |  FROM probe p
         |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
         |  JOIN e eq ON eq.vec_id = p.qid
         |  JOIN e en ON en.vec_id = a.vec_id) t
         |  WHERE rank <= $K)
         |SELECT CAST(ex.query_id AS BIGINT) AS query_id,
         |  CAST(count(ap.neighbor_id) AS BIGINT) AS hits,
         |  CAST((count(ap.neighbor_id) * 1000000) // $K AS BIGINT)
         |    AS recall_ppm
         |FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id
         |  AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY 1 ORDER BY query_id""".stripMargin,
    // dedup_semantic_ivf: same assignment re-derivation as the
    // kmeans/IVF oracles, then cell-restricted pairwise cosine —
    // independently recomputing exactly the pairs the Spark cell-join
    // produces.
    "dedup_semantic_ivf" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KMEANS_K),
         |d AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, len(e.v) + 1),
         |      i -> (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
         |         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]))),
         |    (a, x) -> a + x) AS dist2
         |  FROM e CROSS JOIN c),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM d) WHERE rn = 1)
         |SELECT a.vec_id AS va, b.vec_id AS vb
         |FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |JOIN e ea ON ea.vec_id = a.vec_id
         |JOIN e eb ON eb.vec_id = b.vec_id
         |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4
         |ORDER BY va, vb""".stripMargin,
    // exact top-K over the seed set, then the swapped-pair self-join
    "ann_reciprocal_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < $RECIP_N),
         |t AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(a.v, b.v) DESC, b.vec_id)
         |      AS BIGINT) AS rank
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id) r
         |  WHERE rank <= $K)
         |SELECT x.query_id AS va, x.neighbor_id AS vb,
         |  x.rank AS rank_a, y.rank AS rank_b
         |FROM t x JOIN t y ON x.query_id = y.neighbor_id
         |  AND x.neighbor_id = y.query_id
         |WHERE x.query_id < x.neighbor_id
         |ORDER BY va, vb""".stripMargin,
    "ann_brute_force_topk" ->
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    cast(row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) DESC,
        |      b.vec_id) AS BIGINT) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // full and [1:16]-truncated exact rankings, overlap + top-1 per
    // query; COALESCE guards the (theoretical) zero-overlap query
    "ann_matryoshka_overlap" ->
      s"""WITH f AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    cast(row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                             CAST(b.embedding AS DOUBLE[])) DESC,
         |      b.vec_id) AS BIGINT) AS rank
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 10) t WHERE rank <= 5),
         |tr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    cast(row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(
         |        CAST(a.embedding AS DOUBLE[])[1:$MRL_DIM],
         |        CAST(b.embedding AS DOUBLE[])[1:$MRL_DIM]) DESC,
         |      b.vec_id) AS BIGINT) AS rank
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 10) t WHERE rank <= 5),
         |o AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n
         |  FROM f JOIN tr ON f.query_id = tr.query_id
         |    AND f.neighbor_id = tr.neighbor_id GROUP BY 1)
         |SELECT f1.query_id,
         |  CAST(COALESCE(o.n, 0) AS BIGINT) AS overlap_at_5,
         |  f1.neighbor_id AS top1_full, t1.neighbor_id AS top1_trunc
         |FROM (SELECT * FROM f WHERE rank = 1) f1
         |JOIN (SELECT * FROM tr WHERE rank = 1) t1 USING (query_id)
         |LEFT JOIN o USING (query_id)
         |ORDER BY query_id""".stripMargin,
    // same exact ranking, with the allow-list inverted into the
    // per-query different-language exclusion
    "ann_hard_negatives" ->
      s"""SELECT query_id, rank, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    cast(row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                             CAST(b.embedding AS DOUBLE[])) DESC,
         |      b.vec_id) AS BIGINT) AS rank
         |  FROM embeddings a
         |  JOIN documents da ON da.doc_id = a.vec_id
         |  JOIN embeddings b ON a.vec_id <> b.vec_id
         |  JOIN documents db ON db.doc_id = b.vec_id
         |  WHERE a.vec_id < $N_QUERIES AND db.lang <> da.lang) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "ann_filtered_topk" ->
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    cast(row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) DESC,
        |      b.vec_id) AS BIGINT) AS rank
        |  FROM embeddings a
        |  JOIN embeddings b ON a.vec_id <> b.vec_id
        |  JOIN documents d ON d.doc_id = b.vec_id AND d.lang = 'en'
        |  WHERE a.vec_id < 10) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // maxabs = 0 (all-zero vector) is special-cased identically to the
    // Scala operator: q = 0, q_sum = 0, max_err = 0 — without the guard
    // x/0 is NaN and DuckDB's CAST(floor(NaN) AS BIGINT) aborts the run.
    "emb_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
        |qz AS (SELECT vec_id, v, maxabs,
        |  list_transform(v, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT) END) AS q
        |  FROM m)
        |SELECT vec_id, maxabs,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        |  CASE WHEN maxabs = 0 THEN 0.0 ELSE
        |    list_max(list_transform(range(1, len(v) + 1),
        |      i -> abs(CAST(q[CAST(i AS INTEGER)] AS DOUBLE) * maxabs / 127.0
        |               - v[CAST(i AS INTEGER)]))) END AS max_err
        |FROM qz ORDER BY vec_id""".stripMargin,
    // ann_lsh_topk: DuckDB re-derives the mix64 hyperplanes, the
    // sequential-fold projections, and the bucket sketch bit-exactly
    // (OracleSql machinery), then applies the multi-probe relation as
    // its semantic equivalent — Hamming(query bucket, corpus bucket)
    // ≤ 2 — and reranks. Same answer as the Spark plan's
    // probe-fan-out join, independently computed.
    "ann_lsh_topk" -> {
      val comp = OracleSql.mix64("CAST(p * 4096 + d AS HUGEINT)")
      val proj =
        s"""list_reduce(
           |  list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(range(0, len(v)), d ->
           |      v[CAST(d AS INTEGER) + 1] *
           |      (CAST(($comp) % 1000000 AS DOUBLE) / 1000000.0 - 0.5))),
           |  (a, x) -> a + x)""".stripMargin
      val bucket =
        s"""list_reduce(
           |  list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(0, 16), p ->
           |      CASE WHEN ($proj) >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INTEGER)
           |           ELSE CAST(0 AS BIGINT) END)),
           |  (a, x) -> a + x)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bucket FROM e)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, bb.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(a.v, bb.v) DESC, bb.vec_id) AS BIGINT) AS rank
         |  FROM b a JOIN b bb
         |    ON bit_count(xor(a.bucket, bb.bucket)) <= 2
         |    AND a.vec_id <> bb.vec_id
         |  WHERE a.vec_id < 10) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
  )
}
