package graft

import scala.util.chaining._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Scale-replica generator for benchmark scaling curves: writes a K×
  * copy of an input SF directory by replicating tables with shifted
  * keys. The driver only ships sf ≤ 0.1, so 100×-claims need at least
  * one measured 10× point — this makes that data.
  *
  * Replication preserves WORKLOAD SHAPE, not just row count:
  *  - orders: o_orderkey shifted by multiples of 600,000,000 (divisible
  *    by every modulus the engine-fold specs use, so per-run behavior
  *    distributions are identical across replicas).
  *  - documents: every word gets a per-replica suffix — replicas share
  *    NO shingles, so near-dup structure is copied per replica instead
  *    of collapsing into cross-replica 10-cliques of exact duplicates
  *    (which would measure a different, degenerate workload).
  *  - embeddings: each replica multiplies every vector elementwise by
  *    a deterministic ±1 sign mask (mix64 parity of (replica, dim)).
  *    Sign masks preserve every WITHIN-replica cosine exactly
  *    (cos(s∘a, s∘b) = cos(a, b) since s_d² = 1) — so planted near-dup
  *    structure is copied per replica — while CROSS-replica cosines
  *    are decorrelated even for rotation-invariant vectors (a
  *    coordinate rotation, the previous scheme, leaves near-constant
  *    vectors identical across replicas, manufacturing cross-replica
  *    near-dup cliques that measured as a fake 103× output blowup).
  *
  * Usage: runMain graft.BenchScale <srcSfDir> <outDir> <K>
  * `SPARK_GRAFT_SCALE_TABLES` (comma list) restricts which tables are
  * replicated — e.g. `events` for the streaming-family decade, where
  * generating 100× of documents/embeddings would dominate wall-clock
  * without being read by any measured query.
  */
object BenchScale {

  /** Balanced union: a linear `reduce(_ unionAll _)` builds a
    * left-deep tree whose depth equals K — fine at the 10/100 decades,
    * but K=1000 (the third decade) risks analyzer stack overflow on a
    * depth-1000 plan. A balanced tree is depth log2(K). */
  private def bunion(
      xs: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame =
    if (xs.length == 1) xs.head
    else {
      val (a, b) = xs.splitAt(xs.length / 2)
      bunion(a) unionAll bunion(b)
    }

  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args
    val k = kStr.toInt
    val only: String => Boolean =
      sys.env.get("SPARK_GRAFT_SCALE_TABLES") match {
        case None => _ => true
        case Some(list) =>
          val s = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
          s.contains
      }
    // SPARK_GRAFT_KEY_SHIFT=nodes: ALSO shift the entity-key spaces
    // (custkey/suppkey/partkey, facts AND dims) by a disjoint 10 M
    // block per replica. The default replication shifts ORDER keys
    // only, so any graph built on cust/supp/part nodes saturates at
    // the 1× node universe and a "decade" measures edge DENSITY, not
    // graph scale (the r15 giveaway: connected_components ran 100×
    // FASTER than 10×). With node blocks the replicas are disjoint
    // subgraphs — node and edge counts both grow K×, the honest graph
    // decade. (The r16 caveat about boundary-based KIND mislabeling
    // is closed: graph outputs now derive kind from supplier-dim
    // membership, audited at 10× in SCALING.md round-17.)
    val nodeShift = sys.env.get("SPARK_GRAFT_KEY_SHIFT").contains("nodes")
    def ns(i: Int): Long = if (nodeShift) i * 10000000L else 0L
    val spark = Sessions.create()
    import spark.implicits._

    if (only("orders")) {
      val orders = spark.read.parquet(s"$src/orders.parquet")
      (0 until k).map(i => orders
          .withColumn("o_orderkey", $"o_orderkey" + lit(i * 600000000L))
          .withColumn("o_custkey", $"o_custkey" + lit(ns(i))))
        .pipe(bunion)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    }

    // lineitem rides with orders: same o_orderkey shift keeps every
    // order's lines attached to exactly one replica of the order
    if (only("lineitem")) {
      val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
      (0 until k).map(i => lineitem
          .withColumn("l_orderkey", $"l_orderkey" + lit(i * 600000000L))
          .withColumn("l_suppkey", $"l_suppkey" + lit(ns(i)))
          .withColumn("l_partkey", $"l_partkey" + lit(ns(i))))
        .pipe(bunion)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    }

    // events: event_id and user_id shifted per replica — per-USER event
    // density (what sessionization/windowing cost depends on) stays
    // identical, the user population grows K×; timestamps are kept, so
    // the same 30-day window carries K× the rows, like a busier month.
    // ts is written back as-is in whatever physical type it arrives
    // (raw nanos long or timestamp[us]); Tables.eventsTsFromNanos adapts.
    if (only("events")) {
      val events = spark.read.parquet(s"$src/events.parquet")
      (0 until k).map(i => events
          .withColumn("event_id", $"event_id" + lit(i * 10000000L))
          .withColumn("user_id", $"user_id" + lit(i * 1000000L)))
        .pipe(bunion)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    }

    // dimensions unchanged by default: fact fan-in grows K×, like a
    // real bigger day. Under KEY_SHIFT=nodes the keyed dims replicate
    // with the SAME per-replica block as the facts, so dim joins still
    // resolve and the entity universes genuinely grow K×.
    val dimKey = Map("customer" -> "c_custkey", "part" -> "p_partkey",
      "supplier" -> "s_suppkey")
    for (dim <- Seq("customer", "part", "supplier", "nation", "region")
         if only(dim)) {
      val d = spark.read.parquet(s"$src/$dim.parquet")
      val outDf =
        if (nodeShift && dimKey.contains(dim))
          (0 until k).map(i => d.withColumn(dimKey(dim),
            col(dimKey(dim)) + lit(ns(i)))).pipe(bunion)
        else d
      outDf.write.mode(SaveMode.Overwrite).parquet(s"$out/$dim.parquet")
    }

    // SPARK_GRAFT_DOC_SUFFIX=none: replicate documents VERBATIM (ids
    // still shifted) — the vocabulary-shaped decade (vocab constant,
    // freq ×K). The default per-replica "_i" word suffix exists so
    // dedup decades don't degenerate into cross-replica exact-dup
    // cliques, but it breaks vocabulary-shaped workloads: under the
    // r18 boundary-complete pre-tokenizer the suffixed words all
    // TRAIN (no more ^[a-z]+$ drop), so a suffixed decade measures a
    // corpus whose VOCABULARY grows K× instead of its frequency
    // mass — a different (and for tokenizer decades, wrong) scaling
    // axis. DOC_SUFFIX=none remains the honest tokenizer decade.
    //
    // SPARK_GRAFT_DOC_SUFFIX=vocab:<S>: vocabulary ENRICHMENT for
    // high-K tokenizer decades (r16 verdict #5). Historical note: the
    // OLD ^[a-z]+$ pre-tokenizer exhausted the 31-word base corpus at
    // 89 merges, so K=128 needed enrichment; the r18 boundary-complete
    // pre-tokenizer (BOW/EOW markers) lifts the real corpus's capacity
    // to 144 merges and K=128 decades now run UNENRICHED
    // (DOC_SUFFIX=none). The mode is kept for larger-vocab sweeps.
    // Each word occurrence gets one of S two-LETTER suffixes chosen
    // by a deterministic hash of (original doc_id, word position),
    // multiplying the vocabulary up to 31·S words. The suffix depends
    // on the ORIGINAL row, never the replica index, so every replica
    // carries the identical text: vocab stays CONSTANT across decades
    // (freq ×K), exactly the vocabulary-shaped decade DOC_SUFFIX=none
    // measures.
    if (only("documents")) {
    val sufMode = sys.env.get("SPARK_GRAFT_DOC_SUFFIX")
    // fail fast on typos (vocab=128, Vocab:128, ...): an unrecognized
    // mode silently falling through to the default _i suffixes would
    // hand a tokenizer decade a corpus whose VOCABULARY grows with K
    // (replica-index suffixes) instead of its frequency mass — the
    // silent mismeasurement class the vocab mode exists to prevent
    require(sufMode.forall(m => m == "none" || m.startsWith("vocab:")),
      s"SPARK_GRAFT_DOC_SUFFIX must be 'none' or 'vocab:S', got " +
        s"'${sufMode.get}'")
    val plain = sufMode.contains("none")
    val vocabX: Option[Int] = sufMode
      .filter(_.startsWith("vocab:")).map { m =>
        val s = m.stripPrefix("vocab:").toInt
        // two lowercase letters encode the suffix, so S must fit 26²
        // (and be positive) for the suffix alphabet to stay injective —
        // an out-of-range S would alias suffixes and silently shrink
        // the enriched vocabulary below the advertised 31·S
        require(s >= 1 && s <= 676,
          s"SPARK_GRAFT_DOC_SUFFIX=vocab:S needs 1 <= S <= 676, got $s")
        s
      }
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    (0 until k).map { i =>
      docs.as[(Long, String, String, String, Long)].map {
        case (id, text, lang, source, _) =>
          val tagged = vocabX match {
            case Some(sN) =>
              text.split(' ').zipWithIndex.map { case (w, p) =>
                val j = math.floorMod(graft.functions.TextHashes
                  .mix64(id * 1000003L + p), sN.toLong).toInt
                w + ('a' + j / 26).toChar + ('a' + j % 26).toChar
              }.mkString(" ")
            case None =>
              if (i == 0 || plain) text
              else text.split(' ').map(w => w + "_" + i).mkString(" ")
          }
          (id + i * 10000000L, tagged, lang, source, tagged.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }.pipe(bunion)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }

    if (only("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.select(size($"embedding")).as[Int].first()
    (0 until k).map { i =>
      val mask = Array.tabulate(dim) { d =>
        if (i == 0) 1.0f
        else if ((graft.functions.TextHashes.mix64(i * 100000L + d) & 1L) == 0L)
          1.0f else -1.0f
      }
      emb.select(
        ($"vec_id" + lit(i * 10000000L)).as("vec_id"),
        zip_with($"embedding", typedlit(mask.toSeq),
          (x, s) => x * s).as("embedding"))
    }.pipe(bunion)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    }

    println(s"""{"generated":"$out","k":$k}""")
    spark.stop()
  }
}
