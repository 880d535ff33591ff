package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Plan-property regressions: the things `.explain` review verified
  * once must stay true — filters and pruned schemas reach the parquet
  * scan, dimension joins broadcast, the top-N sort uses
  * TakeOrderedAndProject instead of a global sort.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  // formatted mode: untruncated node details + codegen-id annotations
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q2: filter and projection are pushed to the parquet scan") {
    val plan = planOf(Relational.q2FilterPushdown(spark, dir))
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("EqualTo(o_orderstatus,F)"), plan.take(2000))
    assert(plan.contains("GreaterThan(o_totalprice,200000.0)"))
    // pruned read schema: only the 4 needed columns, not the whole table
    assert(plan.contains(
      "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
        "o_orderstatus:string,o_totalprice:double>"))
    assert(!plan.contains("o_orderdate"), "unpruned column read")
  }

  test("q3: dimension side broadcasts; fact filters pushed") {
    val plan = planOf(Relational.q3ShippingPriority(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(plan.contains("GreaterThan(l_shipdate,"))
  }

  test("q8: sort+limit plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Relational.q8TopOrders(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q5: every true dimension in the chain broadcasts") {
    // region/nation/supplier are hinted; customer deliberately is NOT
    // (fact-scale) — at this tiny SF the size-based planner may still
    // broadcast it, which is exactly the AQE-decides behavior we want
    val plan = planOf(Relational.q5LocalSupplier(spark, dir))
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
  }

  test("broadcast hints never cover an unfiltered fact-scale table") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, ResolvedHint}
    // q23 executes a streaming query inside its builder — exclude it
    // (its plan has no joins, let alone hints)
    val skip = Set("q23_streaming_daily_agg")
    val facts =
      (graft.sources.Tables.all.toSet -- graft.sources.Tables.broadcastable)
        .map(_ + ".parquet")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if !skip(name)) {
      val analyzed = fn(spark, dir).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.isDefined =>
          val sub = h.child.toString
          val hitFacts = facts.filter(sub.contains)
          // escape hatch: a Filter inside the hinted subtree, for
          // constant-bound selections like ann_brute's vec_id < 10
          // query set (bounded regardless of SF). A merely "selective"
          // filter does NOT qualify — review any new use by hand.
          val bounded =
            h.child.collectFirst { case f: Filter => f }.isDefined
          assert(hitFacts.isEmpty || bounded,
            s"$name places a join-strategy hint over unfiltered " +
              s"fact-scale table(s) $hitFacts — a 100x scale-up driver " +
              "OOM; drop the hint and let AQE decide")
        case _ => ()
      }
    }
  }

  test("Q2 variable search is columnar: no JSON decode, pruned scan") {
    import spark.implicits._
    // snapshot-shaped parquet table as the streaming sink writes it
    val tmp = graft.util.Dirs.scratch("graft-plan-snap").toString
    Seq(
      ("wf1", "COMPLETED", "{\"big\":\"json\"}", 1L,
        Map("who" -> Seq("Obi-Wan"))),
      ("wf2", "RUNNING", "{\"big\":\"json\"}", 1L,
        Map("who" -> Seq("Grievous"))))
      .toDF("wfRunId", "status", "json", "seq", "aliases")
      .write.mode("overwrite").parquet(tmp)
    val snaps = spark.read.parquet(tmp)
    val search = graft.streaming.StateTable
      .searchByVariable(snaps, "who", "Obi-Wan")
    val plan = planOf(search)
    // columnar path: no object deserialization anywhere in the plan
    assert(!plan.contains("DeserializeToObject"), plan.take(2000))
    assert(!plan.contains("MapElements"), plan.take(2000))
    // and the scan must NOT read the (fat) snapshot json column
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("wfRunId") && readSchema.contains("aliases"),
      readSchema)
    assert(!readSchema.contains("json"), s"fat column read: $readSchema")
    assert(search.collect().map(_.getString(0)).toSeq == Seq("wf1"))
  }

  test("binned range join plans as equi-join, not nested-loop/cartesian") {
    val plan = planOf(RangeJoin.eventsInWindows(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the range predicates must ride an EQUI join on the bin key
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("native expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions
    // a bare projection (no sort/AQE boundary) must produce exactly one
    // WholeStageCodegen subtree containing the generated static calls —
    // i.e. neither expression falls back to interpreted eval
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        GraftFunctions.rolling_hash64(col("text")).as("r"),
        GraftFunctions.simhash64(col("text")).as("s"))
    val codegen = docs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.startsWith("Found 1 WholeStageCodegen subtrees"),
      codegen.linesIterator.take(1).mkString)
    assert(codegen.contains("graft.functions.TextHashes.rollingHashUtf8"))
    assert(codegen.contains("graft.functions.TextHashes.simhash64Utf8"))
  }

  test("pii scrub is scan-bound: CPU repartition + sort, nothing else") {
    // allowed exchanges: the CONDITIONAL repartitionForCpu in front of
    // the six regex passes (r19 — the one-split events scan otherwise
    // runs the whole scrub on one core; a no-op on well-split inputs)
    // and the final sort's range partitioning. Anything further would
    // mean the scrub stopped being a projection over the scan.
    val plan = planOf(TextAnalysis.piiScrub(spark, dir))
    val hashEx = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).toSeq
    // on the one-split test fixture the conditional repartitionForCpu
    // ALWAYS fires, so assert exactly one exchange keyed on event_id —
    // a formatted-explain layout drift then fails loudly instead of
    // passing vacuously at count 0 (advice r19)
    assert(hashEx.size == 1, s"expected exactly the repartitionForCpu " +
      s"exchange:\n${hashEx.mkString("\n")}\n${plan.take(2000)}")
    assert(hashEx.head.contains("event_id"), hashEx.head)
    assert(plan.contains("rangepartitioning"), plan.take(2000))
  }

  test("minhash signature stage is zero-exchange in-row folds") {
    // r19 rewrite pin (r20, VERDICT r19 item 5): the 32 per-doc
    // min-hashes are in-row array_min(transform(...)) folds over the
    // shingle array — producing band buckets must involve NO aggregate
    // and no shuffle beyond the conditional repartitionForCpu that
    // always fires on the one-split test scan (so: exactly one hash
    // exchange, keyed on doc_id). The old explode+groupBy(doc_id)
    // shape would reappear here as a HashAggregate + second exchange.
    val docs = Dedup.shingleSets(spark, dir).toDF("doc_id", "shingle_set")
    val plan = planOf(Dedup.minhashBandBuckets(docs))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    val hashEx = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"expected only the repartitionForCpu " +
      s"exchange:\n${hashEx.mkString("\n")}\n${plan.take(2000)}")
    assert(hashEx.head.contains("doc_id"), hashEx.head)
  }

  test("jaccard join condition carries the PPJoin position filter") {
    // r19 rewrite pin: the position bound
    // (min(i,j)+min(na-i,nb-j))*9 >= (na+nb)*4 must sit INSIDE the
    // prefix self-join's condition (kills candidates before the
    // exchange+distinct), not in a post-join filter
    val plan = planOf(Dedup.ngramJaccardPairs(spark, dir))
    val conds = plan.linesIterator
      .filter(_.startsWith("Join condition:")).toSeq
    assert(conds.exists(c => c.contains("least(") && c.contains("* 9")),
      conds.mkString("\n"))
  }

  test("containment candidates: match bound in join, group bound after") {
    // r19 per-match position filter in the join condition + the r20
    // first-common-element group bound (min(i)/min(j) aggregate and
    // the least(na - i0, nb - j0) filter above it)
    val plan = planOf(Dedup.containmentPairs(spark, dir))
    val conds = plan.linesIterator
      .filter(_.startsWith("Join condition:")).toSeq
    assert(conds.exists(c => c.contains("least(") && c.contains("* 5")),
      conds.mkString("\n"))
    assert(plan.contains("partial_min(i"), plan.take(3000))
    assert(plan.contains(" - i0"), plan.take(3000))
  }

  test("ngram novelty shuffles the gram relation exactly once") {
    // r19 rewrite pin: the df=1 census carries its only doc as
    // min(doc_id), so novel counts regroup the census slice — ONE
    // exchange keyed on the gram column, where the old shape
    // materialized grams twice and shuffled them three times
    val plan = planOf(TextAnalysis.ngramNovelty(spark, dir))
    val gramEx = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning(g#")).toSeq
    assert(gramEx.size == 1, s"expected exactly 1 gram exchange:\n" +
      gramEx.mkString("\n"))
  }

  test("pack_sequences shuffles once, on source") {
    val plan = planOf(Curation.packSequences(spark, dir))
    val hashEx = plan.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"expected 1 hash exchange:\n${hashEx.mkString("\n")}")
    assert(hashEx.head.contains("source"), hashEx.head)
  }

  test("q25 top-k aggregator partial-combines; no window sort of all rows") {
    val plan = planOf(Relational.q25TopkAggregator(spark, dir))
    // the whole point vs q7: a partial (map-side) aggregate ships ≤ k
    // entries per group instead of sorting every row under a Window
    assert(plan.contains("partial_topkagg"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q27 bucketed join is exchange-free on both join inputs") {
    // force the sort-merge path (at test SF the planner would broadcast;
    // at 100 TB neither side broadcasts — SMJ over buckets is the shape
    // being asserted)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val plan = planOf(Bucketed.joinedFrame(spark, dir))
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      // co-partitioned bucketed scans: no exchange anywhere in the join.
      // (A per-bucket Sort remains: since 3.0 Spark doesn't propagate
      // bucket sort order — spark.sql.legacy.bucketedTableScan.
      // outputOrdering — but that sort is within-partition and cheap;
      // the scale property is that no data crosses the network.)
      assert(!plan.contains("Exchange"), plan.take(3000))
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan.take(3000))
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("q30 day filter prunes partitions at the directory level") {
    val plan = planOf(Partitioned.prunedFrame(spark, dir))
    // the day predicate must be a PartitionFilter (directory pruning,
    // zero I/O for other days) — NOT a row-level PushedFilter
    assert(plan.contains("PartitionFilters:"), plan.take(3000))
    val pf = plan.linesIterator
      .find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains(s"(day#") && pf.contains(Partitioned.DAY), pf)
  }

  // formatted explain prints each node twice (tree + detail section);
  // count scans via the numbered detail headers
  test("emb_covariance_q partial-combines one bounded buffer per task") {
    // the moment matrix is a typed-Aggregator fold: map tasks ship ONE
    // d(d+1)/2-long buffer each, never per-row (i,j) pair rows
    import spark.implicits._
    val emb = graft.sources.Tables(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("embedding")
        .cast("array<double>")).as[Array[Double]]
    val agg = new graft.functions.MomentAgg(64, 1e6).toColumn
    val plan = planOf(emb.select(agg).toDF())
    assert(plan.contains("partial_momentagg"), plan.take(3000))
    assert(!plan.contains("Generate"), plan.take(3000)) // no explode
  }

  test("q39 lateral subquery decorrelates: ranked join, no cartesian") {
    val plan = planOf(Relational.q39LateralTopn(spark, dir))
    // Catalyst must rewrite the per-row dependent subquery into a
    // set-based plan — a correlated LIMIT becomes a per-key rank —
    // never a nested-loop/cartesian re-execution per outer row
    assert(!plan.contains("Cartesian"), plan.take(3000))
    assert(plan.contains("Window") || plan.contains("rank"), plan.take(3000))
    assert(plan.contains("Join"), plan.take(3000))
  }

  test("AQE splits a skewed join partition at runtime (no manual salt)") {
    // q17 demonstrates MANUAL salting; this pins the other leg of the
    // skew story — AQE's runtime re-plan — by executing a sort-merge
    // join where one key owns ~90% of the rows and asserting the
    // executed plan recorded a skew split. Thresholds are lowered to
    // make the tiny fixture trigger the same detection rule production
    // data hits at real sizes (size > factor × median AND > threshold).
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, when}
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // force sort-merge: a broadcast join has no skewed shuffle to fix
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val left = spark.range(200000)
        .select(when($"id" % 10 =!= 0, lit(0L)).otherwise($"id").as("k"),
          $"id".as("v"))
      val right = spark.range(0, 200, 1)
        .select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = left.join(right, "k")
      // drive THIS df's own QueryExecution (a .count() would execute a
      // different plan and leave joined's AQE plan un-finalized)
      graft.BenchExec.materialize(joined)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not record a skew split:\n" + plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def scanCount(plan: String): Int =
    plan.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))

  test("q28 pivot reads events once: no category-discovery scan, no join") {
    val plan = planOf(Relational.q28Pivot(spark, dir))
    // explicit pivot values: one scan feeding a two-phase aggregate
    // ((user,type) count, then pivot_first per user — both map-side
    // combined); without the values list Spark adds a distinct scan
    // of event_type first
    assert(scanCount(plan) == 1, plan.take(2500))
    assert(plan.contains("partial_count"), plan.take(2500))
    assert(!plan.contains("Join"), plan.take(2500))
  }

  test("q36 grouping sets compile to one expand+aggregate, not N scans") {
    val plan = planOf(Relational.q36GroupingSets(spark, dir))
    assert(plan.contains("Expand"), plan.take(2500))
    assert(scanCount(plan) == 1, plan.take(2500))
  }

  test("temperature mix: broadcast rate tables, no corpus-side shuffle join") {
    val plan = planOf(Curation.temperatureMix(spark, dir))
    // the per-source rate table (B rows) and the one-row n_min both
    // broadcast onto the corpus scan — a sort-merge or shuffled-hash
    // join here would move the corpus for a metadata-sized side
    assert(plan.contains("BroadcastHashJoin"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
    assert(!plan.contains("ShuffledHashJoin"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // membership is the native columnar expression, not a typed closure
    assert(plan.contains("mix64_bucket"), plan.take(2500))
    assert(!plan.contains("DeserializeToObject"), plan.take(2500))
  }

  test("sampling membership filters are columnar native expressions") {
    // the mix64 bucket predicate must run as a codegen'd expression
    // over the scan — no typed closure (DeserializeToObject/
    // MapElements) anywhere in the sampling/mixing plans
    for (df <- Seq(Curation.stratifiedSample(spark, dir),
                   Curation.tokenBudgetSample(spark, dir))) {
      val plan = planOf(df)
      assert(!plan.contains("DeserializeToObject"), plan.take(2500))
      assert(!plan.contains("MapElements"), plan.take(2500))
      assert(plan.contains("mix64_bucket"), plan.take(2500))
    }
    // and the generated code calls the static helper (stays inside
    // whole-stage codegen, like simhash64/rolling_hash64) — asserted
    // on a bare projection: the full query's AQE/sort boundary hides
    // codegen subtrees until execution
    import org.apache.spark.sql.functions.col
    val bare = graft.sources.Tables(spark, dir, "documents")
      .select(graft.functions.GraftFunctions
        .mix64_bucket(col("doc_id"), 1000L).as("b"))
    val codegen = bare.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.startsWith("Found 1 WholeStageCodegen subtrees"),
      codegen.linesIterator.take(1).mkString)
    assert(codegen.contains("graft.functions.TextHashes.mix64Bucket"),
      codegen.linesIterator.take(3).mkString("\n"))
  }

  test("sample_fixed_k partial-combines; no window sort of the corpus") {
    val plan = planOf(Curation.fixedKSample(spark, dir))
    // bounded per-source buffer with map-side combine, same scale
    // property as q25 — a row_number window here would sort every
    // document of every source through one exchange
    assert(plan.contains("partial_bottomklongagg"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("ann_filtered_topk pushes the metadata predicate to the documents scan") {
    val plan = planOf(Similarity.filteredTopK(spark, dir))
    assert(plan.contains("EqualTo(lang,en)"), plan.take(3000))
    // the documents side reads only the id + filter columns, not text
    val docSchema = plan.linesIterator
      .filter(_.contains("ReadSchema:")).find(_.contains("lang"))
      .getOrElse("")
    assert(docSchema.contains("doc_id") && !docSchema.contains("text"),
      docSchema)
    // final rank via the bounded partial-combining aggregator, not a
    // window sort of corpus-sized per-query partitions on 10 tasks
    assert(plan.contains("partial_topkagg"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("ann_hard_negatives: pruned label scan; exclusion in the broadcast join; no window") {
    val plan = planOf(Similarity.hardNegatives(spark, dir))
    // the documents side reads only (doc_id, lang) — never text
    val docSchema = plan.linesIterator
      .filter(_.contains("ReadSchema:")).find(_.contains("lang"))
      .getOrElse("")
    assert(docSchema.contains("doc_id") && !docSchema.contains("text"),
      docSchema)
    // per-query exclusion is a non-equi predicate on the broadcast
    // tiny-query side (it cannot pre-filter the corpus); ranking stays
    // in the bounded partial-combining aggregator
    assert(plan.contains("partial_topkagg"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("text_char_entropy: pruned scan, partial-combined counts, no window") {
    val plan = planOf(TextAnalysis.charEntropy(spark, dir))
    // only (doc_id, text) leave the parquet scan
    val docSchema = plan.linesIterator
      .filter(_.contains("ReadSchema:")).find(_.contains("text"))
      .getOrElse("")
    assert(docSchema.contains("doc_id") && !docSchema.contains("lang"),
      docSchema)
    // the char explode collapses to ≤|alphabet| rows per doc BEFORE
    // the shuffle; no window, no corpus-wide state
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("graph_lpa_modularity rollup: map-side combined, no window, no cartesian blowup") {
    val plan = planOf(Graph.lpaModularity(spark, dir))
    // the quality rollup after the LPA rounds is two label joins
    // aggregated to single rows plus a community-bounded degree
    // aggregate — map-side combined, never a window; the only cross
    // joins are 1-row scalar assemblies (BroadcastNestedLoop on a
    // single-row side), never a corpus-sized cartesian
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("every ANN ranker partial-combines; no window sort of candidates") {
    for (q <- Seq(Similarity.bruteForceTopK _, Similarity.lshTopK _,
                  Similarity.ivfTopK _)) {
      val plan = planOf(q(spark, dir))
      assert(plan.contains("partial_topkagg"), plan.take(3000))
      assert(!plan.contains("Window"), plan.take(3000))
    }
  }

  test("text_vocab_coverage scoring pass: broadcast lexicon, no window") {
    val plan = planOf(TextAnalysis.vocabCoverage(spark, dir))
    // only the bounded V-row lexicon broadcasts; the corpus side
    // partial-aggregates per doc — never a corpus-wide sort
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("cdc_upsert_apply merges without window, sort, or cartesian") {
    val plan = planOf(Cdc.upsertApply(spark, dir))
    // per-key reconciliation is a plain equi-join (AQE picks broadcast
    // when the change batch is small); deletes filter, updates
    // coalesce — a window/latest-per-key shape here would sort the
    // base table for nothing
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Cartesian"), plan.take(3000))
    assert(plan.contains("Join"), plan.take(3000))
  }

  test("maint_table_stats reads orders once, not once per column") {
    val plan = planOf(Maintenance.tableStats(spark, dir))
    assert(scanCount(plan) == 1, plan.take(3000))
    // multiple exact distincts ride one Expand over the single scan
    assert(plan.contains("Expand"), plan.take(3000))
  }

  test("maint_histogram is one scan with map-side combined counts") {
    val plan = planOf(Maintenance.histogram(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2500))
    assert(plan.contains("partial_count"), plan.take(2500))
  }

  test("maint_histogram_analyzed bucketing pass adds ONE scan, no third") {
    // pass 1 (tableStats) runs eagerly inside the builder and is
    // already pinned to one scan above; the returned plan is pass 2 —
    // it must be a single further scan with map-side combined counts
    val plan = planOf(Maintenance.histogramFromStats(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2500))
    assert(plan.contains("partial_count"), plan.take(2500))
  }

  test("compaction is shuffle-free: coalesce, never an exchange") {
    val root = Maintenance.ensure(spark, dir)
    val plan = planOf(spark.read.parquet(s"$root/fragmented").coalesce(2))
    // compaction concatenates co-located splits into fewer files — a
    // repartition() here would move every row over the network for
    // nothing
    assert(plan.contains("Coalesce"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("emb_kmeans_assign on a well-partitioned input: no extra exchange") {
    // repartitionForCpu must be a NO-OP when the scan already supplies
    // parallelism — at 100 TB the input splits do, and an unconditional
    // corpus repartition there is a pure extra full shuffle. Build an
    // 8-file embeddings copy, force one file per split, and assert the
    // only exchange left is the output sort's range partitioning.
    val tmp = graft.util.Dirs.scratch("graft-kmeans-parts").toString
    val shuffleKey = "spark.sql.shuffle.partitions"
    val maxPartKey = "spark.sql.files.maxPartitionBytes"
    val savedShuffle = spark.conf.get(shuffleKey)
    val savedMaxPart = spark.conf.get(maxPartKey)
    try {
      spark.read.parquet(s"$dir/embeddings.parquet")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      // model "scan bytes >> split size" (the 100 TB condition) by
      // shrinking maxPartitionBytes below the fixture size — both the
      // conditional's estimate and the actual scan splits derive from
      // bytes / maxPartitionBytes
      spark.conf.set(maxPartKey, (16L << 10).toString)
      spark.conf.set(shuffleKey, "4")
      val plan = planOf(Similarity.kmeansAssign(spark, tmp))
      assert(!plan.contains("hashpartitioning"), plan.take(3000))
      assert(plan.contains("rangepartitioning"), plan.take(3000))
    } finally {
      spark.conf.set(shuffleKey, savedShuffle)
      spark.conf.set(maxPartKey, savedMaxPart)
    }
  }

  test("tfidf aggregations partial-combine before the shuffle") {
    val plan = planOf(TextAnalysis.tfidfTopTerms(spark, dir))
    // both the tf and df counts must run map-side partials — shipping
    // raw exploded tokens to the reducers is the shape that dies at
    // corpus scale
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("q43 decorrelation scans lineitem once; no sort-merge join") {
    val plan = planOf(Relational.q43MinCostSupplier(spark, dir))
    // the naive aggregate-min-then-rejoin decorrelation plans the fact
    // scan TWICE and sort-merge-joins the two legs — at 100 TB the
    // fact scan is the whole cost; the window formulation must keep
    // exactly one
    val lineitemScans = plan.linesIterator
      .count(_.contains("lineitem.parquet"))
    assert(lineitemScans == 1, s"expected 1 lineitem scan: $lineitemScans")
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    // the part prune reaches the fact side before any exchange
    assert(plan.contains("BroadcastHashJoin LeftSemi".toLowerCase.capitalize)
      || plan.contains("LeftSemi"), plan.take(3000))
  }

  test("scd2 windows ride ONE key exchange; feed filter is pushed") {
    val plan = planOf(Cdc.scd2History(spark, dir))
    // row_number + lead share the same (key, ordering) spec → Catalyst
    // plans a single Window over a single hashpartitioning exchange
    // formatted mode puts Exchange args on their own detail line
    val exchanges = plan.linesIterator
      .count(l => l.contains("hashpartitioning(key"))
    assert(exchanges == 1, s"expected 1 key exchange, got $exchanges\n" +
      plan.take(3000))
    val windows = plan.linesIterator.count(_.matches(""".*\bWindow\b.*"""))
    assert(windows >= 1 && plan.split("Window \\(").length == 2,
      "row_number and lead must share one Window node")
    assert(plan.contains("LessThan(o_custkey,200)"), "feed filter unpushed")
  }

  test("zorder stats are one scan + map-side combined aggregation") {
    val plan = planOf(Maintenance.zorderCluster(spark, dir))
    val scans = plan.linesIterator.count(_.contains("orders.parquet"))
    assert(scans == 1, s"expected 1 orders scan, got $scans")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      plan.take(3000))
    // the interleave is a pure expression: whole plan stays codegen'd
    assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"))
  }

  test("heavy hitters: matrix probes broadcast; no pre-filter shuffle of events") {
    val plan = planOf(Sketches.cmsHeavyHitters(spark, dir))
    // all four cell lookups must be broadcast hash joins — a sort-merge
    // join would shuffle the whole event stream to look up a ≤ d·w cell
    // table, defeating the prefilter's purpose
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= Sketches.CMS_DEPTH, s"expected ≥4 broadcast joins: $bhj")
  }

  test("pagerank: no cartesian product; per-iteration sums partial-combine") {
    val plan = planOf(Graph.pagerankQ(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_sum"), plan.take(3000))
  }

  test("kmv grouped aggregation partial-combines (≤ k longs per task)") {
    val plan = planOf(Sketches.kmvGrouped(spark, dir))
    // typed Aggregator under groupByKey plans an ObjectHashAggregate /
    // SortAggregate pair with a partial phase — the map side must
    // combine, otherwise every raw hash crosses the shuffle
    assert(plan.contains("partial_kmvagg") ||
      plan.toLowerCase.contains("partial"), plan.take(3000))
  }

  test("incremental view maintenance never rescans base into the delta agg") {
    val plan = planOf(Cdc.incrementalAgg(spark, dir))
    // base is read twice by design (stale view + old-value lookup, the
    // latter standing in for CDC before-images) but NOT three times —
    // the delta aggregation itself runs over the joined change rows
    val scans = plan.linesIterator.count(_.contains("orders.parquet"))
    assert(scans <= 3, s"orders scanned $scans times")
    assert(plan.contains("partial_sum"), plan.take(3000))
  }

  test("q51 global scalar threshold broadcasts; recency filter pushed") {
    val plan = planOf(Relational.q51IdleRichCustomers(spark, dir))
    // the 1-row aggregate joins as a broadcast nested loop (constant
    // onto the scan) — never a CartesianProduct
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
    // the anti-join's recency predicate reaches the orders scan
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      plan.take(3000))
  }

  test("q41 enrichment joins by broadcast: no stream-side shuffle/sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the batch analog of q41's per-micro-batch plan (same expression
    // tree, batch source): the dimension must broadcast — a sort-merge
    // join would shuffle AND sort every stream batch, which is the
    // shape that dies on a 24/7 stream
    val dim = graft.sources.Tables(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
    val plan = planOf(
      graft.sources.Tables(spark, dir, "events")
        .select($"user_id", $"event_type",
          floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
        .join(broadcast(dim), $"user_id" === $"c_custkey")
        .groupBy($"c_nationkey", $"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"cents").as("cents")))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("chunking is shuffle-free generate+project with a pruned scan") {
    val plan = planOf(Retrieval.chunkOverlap(spark, dir))
    assert(plan.contains("Generate"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "unpruned documents read")
    val exchangeCount =
      plan.linesIterator.count(_.contains("Exchange"))
    assert(exchangeCount <= 2, // one Exchange node + its detail block
      s"chunking should only exchange for the final sort:\n${plan.take(2000)}")
  }

  test("split assignment is one codegen'd scan: native bucket, pruned read") {
    val plan = planOf(Curation.splitAssign(spark, dir))
    assert(plan.contains("mix64_bucket"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "unpruned documents read")
    assert(!plan.contains("DeserializeToObject"), "typed closure leaked in")
  }

  test("bm25: query-side joins broadcast; corpus side never broadcasts") {
    val plan = planOf(Retrieval.bm25TopK(spark, dir))
    val broadcasts =
      plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2, s"query/df joins should broadcast:\n" +
      plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("triangles: edge budget selects via TakeOrderedAndProject") {
    val plan = planOf(Graph.triEdgesPlan(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("skyline: every window is pid-partitioned — no single-task scan") {
    val plan = planOf(Relational.q59Skyline(spark, dir))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l =>
      assert(l.contains("pid"), s"unpartitioned window: $l"))
    // frontier returns to the fact side by broadcast
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("MAD rank selection never plans a window") {
    val plan = planOf(Relational.q60MadRobust(spark, dir))
    assert(!plan.contains("windowspecdefinition"),
      "order statistics must use distributed rank selection")
  }

  test("q62: every window partitioned (user lag / prev-type share)") {
    val plan = planOf(Relational.q62EventTransitions(spark, dir))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(
      l.contains("user_id") || l.contains("prev_type"),
      s"unpartitioned window: $l"))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q63: rank selections run over the materialized daily relation") {
    val plan = planOf(Relational.q63RobustOutliers(spark, dir))
    // the (type × day) pre-aggregate is checkpointed once — the final
    // plan must never re-scan raw events into a window
    assert(!plan.contains("events.parquet"),
      "daily pre-agg must materialize, not re-scan events per branch")
    assert(plan.contains("windowspecdefinition"), plan.take(2000))
  }

  test("span census: no pair expansion — neither cartesian nor window") {
    val plan = planOf(Dedup.spanCrossdoc(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"),
      "df>=2 flag rollup must not rank or expand pairs")
  }

  test("doc similarity: bounded aggregator top-k, no window, no cartesian") {
    val plan = planOf(Retrieval.docSimilarity(spark, dir))
    assert(!plan.contains("windowspecdefinition"),
      "per-doc top-k must ride the bounded aggregator")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("dq profile: one scan of orders through an Expand multi-distinct") {
    val plan = planOf(Quality.profile(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    assert(plan.contains("Expand"), plan.take(2000))
  }

  test("dq referential: dimension parents broadcast, no cartesian") {
    val plan = planOf(Quality.referential(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q69: runtime hot-day set dynamically prunes the partitioned scan") {
    val plan = planOf(Partitioned.q69DppHotDays(spark, dir))
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression in PartitionFilters\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("dim energy: one embeddings scan, explode feeds partial aggregation") {
    val plan = planOf(Similarity.dimEnergy(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    assert(plan.contains("posexplode"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("q77 unpivot plans as Expand, not a join or repeated scans") {
    val plan = planOf(Relational.q77Unpivot(spark, dir))
    assert(plan.contains("Expand"), plan.take(2000))
    assert(scanCount(plan) == 1, plan.take(2000))
  }

  test("bpe pair stats: rank window runs AFTER the pair aggregate") {
    val plan = planOf(TextAnalysis.bpePairStats(spark, dir))
    // the corpus collapses through two aggregates before the bounded
    // alphabet² relation is ranked — in the top-down formatted plan
    // the Window must sit ABOVE (textually before) the aggregates; a
    // window fed directly by the corpus scan would invert that
    val wIdx = plan.indexOf("Window")
    val aIdx = plan.indexOf("HashAggregate")
    assert(wIdx > 0 && aIdx > 0 && wIdx < aIdx,
      s"aggregate above window: $wIdx vs $aIdx\n${plan.take(2000)}")
  }

  test("dq freshness: gap windows are (type, day)-partitioned") {
    val plan = planOf(Quality.freshness(spark, dir))
    // the corpus-side window must carry the day column in its
    // partition spec; only the bounded types×days relation may use a
    // coarser (or empty) partitioning
    val corpusWindows = plan.linesIterator
      .filter(_.contains("windowspecdefinition(event_type"))
      .filter(_.contains(" us#"))
      .toSeq
    assert(corpusWindows.nonEmpty, plan.take(3000))
    corpusWindows.foreach(l =>
      assert(l.contains("day#"), s"type-only corpus window: $l"))
  }

  test("mm embedding dedup joins on (modality, cell): no cartesian") {
    val plan = planOf(Multimodal.embeddingDedup(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("changelog compact: one keyed aggregate, no window, no cartesian") {
    val plan = planOf(Cdc.changelogCompact(spark, dir))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("reciprocal topk ranks through the bounded aggregator, no window") {
    val plan = planOf(Similarity.reciprocalTopK(spark, dir))
    assert(!plan.contains("windowspecdefinition"),
      "reciprocal ranking must ride the bounded TopK aggregator")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ohlc: one events scan into one aggregate, no window") {
    val plan = planOf(Relational.q79OhlcResample(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"),
      "open/close must ride min_by/max_by, not first_value windows")
  }

  test("gap islands: user-partitioned window ABOVE the distinct day grid") {
    val plan = planOf(Relational.q80GapIslands(spark, dir))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("user_id"),
      s"unpartitioned window: $l"))
    // the (user, day) dedup aggregate must feed the window, not the
    // raw event stream: in the top-down formatted plan the Window
    // sits textually before at least one HashAggregate
    val wIdx = plan.indexOf("Window")
    assert(wIdx > 0 && plan.indexOf("HashAggregate", wIdx) > 0,
      plan.take(2000))
  }

  test("jaccard: bounded top-k report, broadcast degrees, no cartesian") {
    val plan = planOf(Graph.jaccardCocustomer(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-K must not plan a full sort")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("bucket checksum: two digest aggregates, no window, no cartesian") {
    val plan = planOf(Cdc.bucketChecksum(spark, dir))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("bit_xor"), plan.take(2000))
  }

  test("ngram novelty: df join back, no window, no cartesian") {
    val plan = planOf(TextAnalysis.ngramNovelty(spark, dir))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("interval coverage: both sweep windows user-partitioned") {
    val plan = planOf(Relational.q81IntervalCoverage(spark, dir))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("user_id"),
      s"unpartitioned window: $l"))
  }

  test("fuzzy link: distinct-name link broadcasts, no cartesian") {
    val plan = planOf(Relational.q82FuzzyLink(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "every join in the canonicalize-then-link plan is dim-sized")
  }

  test("benford: one orders scan, digit table broadcast") {
    val plan = planOf(Quality.benfordAudit(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "the 9-row expected table must broadcast")
  }

  test("cell balance: narrow assignment map, window on the K-row relation") {
    val plan = planOf(Similarity.cellBalance(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the unpartitioned total window is legal ONLY because it runs
    // over the bounded K-cell relation
    assert(plan.contains("windowspecdefinition"), plan.take(2000))
  }

  test("pivot multi-agg: one expanded aggregate, one scan, no extra join") {
    val plan = planOf(Relational.q86PivotMultiAgg(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("Join"), "pivot must not plan a join")
  }

  test("dataset card: source-partitioned windows, no cartesian") {
    val plan = planOf(Curation.datasetCard(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("source"),
      s"unpartitioned window: $l"))
  }

  test("incremental stats: two slice aggregates, no window, no cartesian") {
    val plan = planOf(Maintenance.incrementalStats(spark, dir))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("temporal join: keyed asof sweep, no range join, no cartesian") {
    val plan = planOf(Cdc.temporalJoin(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
  }

  test("global shuffle: one shard-keyed window over one scan") {
    val plan = planOf(Curation.globalShuffle(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("shard"),
      s"window not shard-partitioned: $l"))
  }

  test("asof forward: one keyed exchange drives the reversed sweep") {
    val plan = planOf(AsofJoin.eventsAsofNextOrder(spark, dir))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("__k"),
      s"window not keyed on __k: $l"))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ivfpq: candidates ride the bounded aggregator, no window") {
    val plan = planOf(Similarity.ivfpqTopK(spark, dir))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("rerank: both stages ride the bounded aggregator, no window") {
    val plan = planOf(Similarity.rerankTopK(spark, dir))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("boilerplate prefix: one documents scan, no window") {
    val plan = planOf(TextAnalysis.boilerplatePrefix(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
  }

  test("quality quota: rank windows are source-partitioned") {
    val plan = planOf(Curation.qualityQuota(spark, dir))
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("source"),
      s"unpartitioned window: $l"))
  }

  test("explode outer: generator plans map-local, one orders scan") {
    val plan = planOf(Relational.q83ExplodeOuter(spark, dir))
    assert(plan.contains("Generate"), plan.take(2000))
    assert(scanCount(plan) == 1, plan.take(2000))
  }

  test("histogram drift: one events scan builds both period histograms") {
    val plan = planOf(Quality.histogramDrift(spark, dir))
    assert(scanCount(plan) == 1, plan.take(2000))
    // the totals window runs over the bounded post-aggregate relation
    // and must be type-partitioned
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    windowLines.foreach(l => assert(l.contains("event_type"),
      s"unpartitioned window: $l"))
  }
}
