package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import scala.collection.immutable.ListMap
import scala.reflect.runtime.universe.TypeTag

import graft.engine.LHJson
import graft.operators.Similarity
import graft.util.Sessions

object Bench {

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    // Measurement-knob guard: this decade-scale lever changes how
    // GATED queries run (GC between rounds); a full Bench with it still
    // exported would time the altered plans against frozen floors
    // measured without it and report a bogus regression with nothing in
    // the artifact saying why.
    val knobs = Seq("SPARK_GRAFT_ROUND_GC").filter(sys.env.contains)
    require(knobs.isEmpty,
      s"refusing full Bench with measurement knob(s) set: " +
        s"${knobs.mkString(", ")} — unset them (decade runs time " +
        "single keys with SPARK_GRAFT_BENCH_ONLY)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.create()
    // Untimed warmup: run EVERY query once on the smallest SF. The
    // first execution of each plan family pays JIT/classloading/codegen
    // compilation (measured: m6 cold 10.3 s vs 4.0 s warm), and warming
    // only one hand-picked query left that query uniquely plan-warm —
    // biasing exactly the per-query comparisons the warmup exists to
    // stabilize. Warming all plans on sf0.001 costs seconds of untimed
    // wall-clock and makes every timed number a steady-state measure.
    // Timed queries then run in sorted name order so per-query times
    // are comparable across rounds.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // Optional subset (comma-separated names, or name! to EXCLUDE):
    // applies to warmup AND timing — the bisect knob for isolating
    // cross-query JVM interference inside the full-bench context.
    val only: Map[String, (SparkSession, String) => DataFrame] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        case None => SparkEntry.queries
        case Some(spec) =>
          // Includes narrow the set (empty include list = all), then
          // excludes remove from it — so a mixed spec like "q1,q2!"
          // means {q1} minus {q2}, instead of silently dropping the
          // includes (the old behavior when any exclude was present).
          val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSet
          val excludes = names.filter(_.endsWith("!")).map(_.dropRight(1))
          val includes = names.filterNot(_.endsWith("!"))
          val base =
            if (includes.nonEmpty)
              SparkEntry.queries.filter(kv => includes.contains(kv._1))
            else SparkEntry.queries
          base.filter(kv => !excludes.contains(kv._1))
      }
    // Deliberate-failure injection (tools/check_bench_error_honesty.sh):
    // replaces the named query with one that throws, so the error-honest
    // artifact shape below is itself verifiable — the broken query must
    // land in "errored"/"errors" and contribute to NO timing aggregate.
    val harness = sys.env.get("SPARK_GRAFT_BENCH_BREAK") match {
      case Some(name) if only.contains(name) =>
        only.updated(name, (_: SparkSession, _: String) =>
          throw new RuntimeException(
            s"SPARK_GRAFT_BENCH_BREAK: injected failure for $name"))
      case _ => only
    }
    harness.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try BenchExec.materialize(fn(spark, warmDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup $name skipped: ${e.getMessage}")
      }
    }
    // Timing: best of REPS runs at the bench SF. A single-shot number
    // conflates plan cost with whatever else the host is doing at that
    // instant; round 3's driver run measured the identical binary at
    // 2.9× its steady-state wall (GC/CPU contention on a shared host),
    // which reads as a plan regression when it isn't. Min-of-N is the
    // standard steady-state estimator: transient stalls only ever
    // inflate a sample, so the min is the closest observation to the
    // plan's true cost. gc_sec is reported so a contended run is
    // diagnosable from the artifact itself.
    // Default 3: min-of-2 is a weak minimum estimator on a shared host;
    // a third sample costs ~35 s of untimed wall and stabilizes the min.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // REP ORDER (round-12 triage of the r10/r11 driver `over_2x` rows):
    // reps are INTERLEAVED — pass 1 runs every query once in sorted
    // order, then pass 2, then pass 3 — instead of running one query's
    // reps back-to-back. Rationale: both driver runs that flagged
    // q6/q7/q8/q9 were NOT globally contended (r11 driver gc_sec 2.48,
    // total 71.1 s ≈ the idle-box 71.4 s) — the inflation was confined
    // to rows CONSECUTIVE in execution order (r10: q3→q9 one contiguous
    // block; r11: q2_var→q30→q31 and q5→q6→q7→q8→q9 two contiguous
    // blocks, clean on both sides). That is the signature of an
    // external ~20-35 s CPU burst on the shared host, and consecutive
    // reps hand it exactly the failure mode min-of-N exists to reject:
    // one burst covers ALL N reps of several adjacent sub-second
    // queries, so every sample is poisoned and the min reads 5-10×.
    // With interleaving, a query's samples are separated by a full pass
    // (~70 s wall at sf0.1), so a burst of that length can poison at
    // most ONE sample per query and the min stays a steady-state
    // measurement. Steady-state cost per rep is unchanged (plans are
    // warmed; sf0.1 inputs stay page-cache-resident across a pass —
    // verified: interleaved idle-run mins match consecutive-run mins
    // within noise).
    // ERROR-HONEST timing (round-10 post-mortem): a rep that throws
    // must NEVER contribute a time — r10 recorded time-to-exception for
    // 20+ broken queries, producing physically impossible 0.02×-0.05×
    // "speedups" and a meaningless aggregate. A query with ANY failed
    // rep is reported under "errors" (message truncated), excluded from
    // "queries", total_sec, and every vs_frozen ratio.
    val ordered = harness.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val repErrs = scala.collection.mutable.Map[String, String]()
    def runRep(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      // Gate-run measurement honesty (round-17): a key with a
      // registered pre-rep reset must re-pay its memoized work every
      // timed rep (e.g. text_bpe_train's merge memo exists so encode
      // consumes the trained table — but alphabetical order runs
      // encode FIRST, so without the reset the train row measures a
      // ~0.06 s memo HIT against a ~1.8 s frozen floor). Resets live
      // in SparkEntry.benchPreRep next to the query registrations, so
      // a renamed key can't silently orphan a name literal here.
      SparkEntry.benchPreRep.get(name).foreach(_.apply())
      val t0 = System.nanoTime()
      try {
        BenchExec.materialize(fn(spark, sfDir))
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          repErrs(name) = Option(e.getMessage)
            .getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(200)
      }
    }
    (0 until reps).foreach(_ => ordered.foreach { case (n, f) => runRep(n, f) })
    val timed: Seq[(String, Double, Option[String])] =
      ordered.map { case (name, _) =>
        val ok = samples(name)
        val err = repErrs.get(name)
        (name, if (ok.nonEmpty && err.isEmpty) ok.min else -1.0, err)
      }
    val results = timed.collect { case (k, v, None) => k -> v }
    val errors = timed.collect { case (k, _, Some(e)) => k -> e }
    val errorsJson = LHJson.render(ListMap.from(errors))
    val erroredJson = LHJson.render(errors.map(_._1).sorted)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Self-gating artifact: per-query ratio against the ONE frozen
    // reference table (FrozenBaseline, measured under this exact
    // harness), plus the list of rows over the 2x gate — so a round's
    // BENCH JSON carries its own gate verdict instead of requiring a
    // cross-document join against an accreted BASELINE.md.
    val ratios = results.flatMap { case (k, v) =>
      FrozenBaseline.sec.get(k).map(f => k -> v / f)
    }
    val vsFrozen = ratios
      .map { case (k, r) => s"\"" + k + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val over2x = LHJson.render(ratios.filter(_._2 > 2.0).map(_._1).sorted)
    // Aggregate ratio over the INTERSECTION with the frozen table on
    // BOTH sides — queries added since the freeze are excluded from the
    // numerator too (they'd otherwise inflate the aggregate), and
    // reported by name so the artifact shows what the ratio omits.
    val frozenMatched = results
      .filter { case (k, _) => FrozenBaseline.sec.contains(k) }
    val frozenTotal = frozenMatched
      .flatMap { case (k, _) => FrozenBaseline.sec.get(k) }.sum
    val totalRatio =
      if (frozenTotal > 0) f"${frozenMatched.map(_._2).sum / frozenTotal}%.3f"
      else "null"
    val unfrozen = LHJson.render(results.map(_._1)
      .filterNot(FrozenBaseline.sec.contains).sorted)
    // Approximate-path quality, tracked per round alongside speed.
    // Two recalls, because they answer different questions:
    //  - corpus: fraction of brute-force (exact) top-k pairs the LSH
    //    path also returns on THIS corpus. The test embeddings are
    //    unstructured random vectors (all cosines ~0.3), so this is the
    //    NOISE FLOOR of bucketed ANN — expected near zero, reported so
    //    a corpus with real neighbor structure shows its true value.
    //  - planted: top-1 twin retrieval on the corpus augmented with 10
    //    true near-duplicates (cos > 0.999), the same construction as
    //    the recall spec — the number that matters for near-dup search.
    // All collects are <= queries x k rows, bounded at any corpus size.
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: => DataFrame): Option[Set[(Long, Long)]] =
      try Some(pairSet(df)) catch { case _: Throwable => None }
    val exactPairs = pairs(only("ann_brute_force_topk")(spark, sfDir))
    def recallVsExact(approx: Option[Set[(Long, Long)]]): Double =
      (for { exact <- exactPairs; a <- approx }
        yield if (exact.isEmpty) 1.0
          else (exact & a).size.toDouble / exact.size).getOrElse(-1.0)
    def corpusRecall(name: String): Double =
      recallVsExact(pairs(only(name)(spark, sfDir)))
    val recallCorpus = corpusRecall("ann_lsh_topk")
    val recallIvfCorpus = corpusRecall("ann_ivf_topk")
    // IVF recall/cost CURVE: corpus recall vs brute force and wall time
    // at NPROBE ∈ {1, 2, 4}, so the recall-vs-join-volume tradeoff is a
    // measured dial per round, not the single operating point. Skipped
    // when a BENCH_ONLY bisect excludes the ANN family — a bisect run
    // must not pay (or perturb) work outside its subset.
    val ivfCurve = if (!only.contains("ann_ivf_topk")) "{}"
    else Seq(1, 2, 4).map { np =>
      val t0 = System.nanoTime()
      val found = pairs(Similarity.ivfTopKAt(spark, sfDir, np))
      val sec = (System.nanoTime() - t0) / 1e9
      s""""nprobe_$np":{"recall":${recallVsExact(found)},"sec":$sec}"""
    }.mkString("{", ",", "}")
    // Planted-twin retrieval: each of the 10 query vectors (vec_id < 10)
    // gets a twin 1,000,000 + id, perturbed by N(0, 0.01) noise drawn
    // from `seed`, appended to the corpus (cos > 0.999); recall is the
    // share of queries whose `search` pairs hold their twin. `vec` is
    // the vector column as the method reads it, `perturb` adds the
    // noise in that element type. -1 when a BENCH_ONLY bisect excludes
    // `key` (same no-out-of-subset-work rule as the IVF curve) or on
    // failure. Only the 10 query vectors are collected, so it is
    // bounded at any corpus size.
    def plantedTwinRecall[V: TypeTag](key: String, seed: Int, vec: Column)(
        perturb: (V, scala.util.Random) => V)(
        search: DataFrame => DataFrame): Double =
      if (!only.contains(key)) -1.0 else try {
        import spark.implicits._
        val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), vec)
        val qvecs = corpus.filter(col("vec_id") < 10)
          .as[(Long, V)].collect().sortBy(_._1)
        val rnd = new scala.util.Random(seed)
        val twins = qvecs.map { case (id, v) => (1000000L + id, perturb(v, rnd)) }
        val found = pairSet(search(corpus.union(
          twins.toSeq.toDF(corpus.columns.toSeq: _*))))
        qvecs.count { case (id, _) => found.contains((id, 1000000L + id)) }
          .toDouble / qvecs.length
      } catch { case _: Throwable => -1.0 }
    def floatNoise(v: Array[Float], rnd: scala.util.Random): Array[Float] =
      v.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
    // LSH: top-1 only (rank 1 is unique per query)
    val recallPlanted = plantedTwinRecall[Array[Double]]("ann_lsh_topk", 42,
      col("embedding").cast("array<double>").as("v"))(
      (v, rnd) => v.map(_ + rnd.nextGaussian() * 0.01)) { emb =>
      val dim = emb.select(size(col("v"))).first().getInt(0)
      Similarity.lshTopKOn(emb, dim).filter(col("rank") === 1)
    }
    // PQ quality, reported with the same two-row structure as LSH:
    // planted-twin retrieval (the headline) + random-corpus overlap
    // (above the bucketed noise floor because ADC ranks globally, but
    // still reconstruction-limited on i.i.d. vectors)
    val recallPqCorpus = corpusRecall("ann_pq_topk")
    // IVF-PQ composes BOTH lossy steps (cell pruning + residual
    // quantization), so its random-corpus overlap is a noise-floor
    // row; the headline is the planted-twin retrieval below
    val recallIvfPqCorpus = corpusRecall("ann_ivfpq_topk")
    val recallIvfPqPlanted = plantedTwinRecall[Array[Float]](
      "ann_ivfpq_topk", 44, col("embedding"))(floatNoise)(
      Similarity.ivfpqTopKOn)
    val recallPqPlanted = plantedTwinRecall[Array[Float]](
      "ann_pq_topk", 43, col("embedding"))(floatNoise)(Similarity.pqTopKOn)
    // Streaming startup/steady split (from the last timed rep of each
    // streaming query): firstBatchSec is checkpoint + state-store init
    // + streaming-plan compile — paid once per query LIFETIME, so ~0 on
    // a 24/7 stream; drainSec - firstBatchSec is the per-batch operator
    // cost that actually scales. Reported so gate triage can tell
    // startup noise from state-operator regressions.
    val streamTiming = {
      import scala.jdk.CollectionConverters._
      graft.operators.StreamBatch.lastDrainTimings.asScala.toSeq.sortBy(_._1)
        .map { case (k, (fb, dr, nb)) =>
          s""""$k":{"firstBatchSec":$fb,"drainSec":$dr,"numBatches":$nb}"""
        }.mkString("{", ",", "}")
    }
    // Per-rep samples, reported so the artifact distinguishes a plan
    // regression (all reps uniformly slow) from a transient host burst
    // (one outlier rep): with interleaved reps a burst shows up as a
    // single inflated sample and an untouched min.
    val repSec = timed.collect { case (k, _, None) =>
      "\"" + k + "\":" +
        samples(k).map(v => f"$v%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","timing":"min-of-$reps interleaved, plans warmed on sf0.001, full materialization","gc_sec":${gcMillis() / 1e3},"rep_sec":$repSec,"vs_frozen":$vsFrozen,"vs_frozen_total":$totalRatio,"over_2x":$over2x,"errored":$erroredJson,"errors":$errorsJson,"unfrozen_queries":$unfrozen,"frozen_ref":"${FrozenBaseline.methodology}","stream_timing":$streamTiming,"recall":{"ann_lsh_planted_twin_top1":$recallPlanted,"ann_pq_planted_twin_top5":$recallPqPlanted,"ann_ivf_vs_brute_corpus":$recallIvfCorpus,"ann_ivfpq_planted_twin_top5":$recallIvfPqPlanted,"unstructured_noise_floor":{"ann_lsh_vs_brute_corpus":$recallCorpus,"ann_pq_vs_brute_corpus":$recallPqCorpus,"ann_ivfpq_vs_brute_corpus":$recallIvfPqCorpus,"why":"test embeddings are i.i.d. random (no true neighbors, all cosines ~0.3), so bucketed-LSH/PQ/IVF-PQ corpus recall on them is the noise floor of the method, not an operating point — headline recall is the planted-twin and IVF rows above; BASELINE.md 'ANN recall reporting'"}},"ivf_curve":$ivfCurve}"""
    // The artifact must not depend on a bounded stdout tail surviving
    // (round 5's driver capture lost 25 queries mid-JSON): write the
    // full JSON to a stable file, then print it, with the path as the
    // final line so any tail however small still locates the data.
    val outFile = new java.io.File("target/bench.json")
    outFile.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(json) finally w.close()
    // Second copy at a COMMITTED path (r17 verdict #5): target/ is
    // git-ignored and overwritten, and the driver's stdout tail-capture
    // has self-parsed to null five rounds running — so the gate run's
    // own JSON must land somewhere the end-of-round auto-commit picks
    // up. GATE-SHAPED runs only (review r18): a post-gate bisect
    // (BENCH_ONLY), an injected-failure honesty check (BENCH_BREAK),
    // or an off-SF decade run would otherwise silently replace the
    // committed gate artifact with a 1-query / broken / off-scale one.
    // Canonicalize before comparing (advice r18): a trailing slash,
    // symlink, or relative SPARK_GRAFT_SF_DIR pointing at the gate SF
    // must still refresh the committed artifact, and a skip must be
    // LOUD — a silently-stale gate copy defeats its whole purpose.
    val gateShaped = sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty &&
      sys.env.get("SPARK_GRAFT_BENCH_BREAK").isEmpty &&
      (try new java.io.File(sfDir).getCanonicalPath ==
             new java.io.File(GateArtifacts.BenchGateSfDir).getCanonicalPath
       catch { case _: java.io.IOException => false })
    if (gateShaped) {
      val gateCopy = new java.io.File(GateArtifacts.BenchGateFile)
      val w2 = new java.io.PrintWriter(gateCopy, "UTF-8")
      try w2.println(json) finally w2.close()
    } else {
      println(s"[bench] NOT gate-shaped (sfDir=$sfDir, " +
        s"only=${sys.env.contains("SPARK_GRAFT_BENCH_ONLY")}, " +
        s"break=${sys.env.contains("SPARK_GRAFT_BENCH_BREAK")}): " +
        s"skipping ${GateArtifacts.BenchGateFile} refresh")
    }
    println(json)
    println(s"BENCH_JSON_FILE=${outFile.getAbsolutePath}")
    spark.stop()
  }
}
