package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the incremental (batch-vs-corpus) dedup and the
  * unigram-surprisal scorer against independently derived ground truth
  * on the sf0.001 corpus (which carries planted exact and near dups).
  */
class IncrementalSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSpark.session

  private def bucketOf(id: Long): Long =
    graft.functions.TextHashes.mix64Bucket(id, 1000L)

  test("incremental dedup matches ground truth from the self-join operators") {
    import spark.implicits._
    val out = Incremental.incrementalDedup(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap

    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val inBatch = docs.map(_._1).filter(bucketOf(_) < Incremental.BATCH_PERMILLE).toSet
    assert(out.keySet == inBatch, "one verdict per batch doc, no others")

    // exact ground truth: identical text across the split boundary
    val byText = docs.groupBy(_._2)
    val exactExpected = inBatch.flatMap { id =>
      val text = docs.find(_._1 == id).get._2
      val corpusTwins = byText(text).map(_._1)
        .filter(c => bucketOf(c) >= Incremental.BATCH_PERMILLE)
      if (corpusTwins.isEmpty) None else Some(id -> corpusTwins.min)
    }.toMap
    // (cross-split exact dups happen not to exist at sf0.001 — the
    // sf0.01 driver check exercises that layer; near dups must exist)
    exactExpected.foreach { case (id, m) =>
      assert(out(id) == ("exact_dup", m), s"doc $id: ${out(id)} != exact $m")
    }

    // near ground truth: the corpus-wide exact-Jaccard pair relation,
    // restricted to cross-split pairs, minus the exact layer
    val jacc = Dedup.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val crossPairs = jacc.flatMap { case (a, b) =>
      val (aB, bB) = (bucketOf(a) < Incremental.BATCH_PERMILLE,
        bucketOf(b) < Incremental.BATCH_PERMILLE)
      if (aB && !bB) Some(a -> b)
      else if (!aB && bB) Some(b -> a)
      else None
    }
    val nearExpected = crossPairs.groupBy(_._1).map { case (id, ps) =>
      id -> ps.map(_._2).min
    } -- exactExpected.keySet
    assert(nearExpected.nonEmpty, "sf0.001 should contain cross-split near dups")
    nearExpected.foreach { case (id, m) =>
      assert(out(id) == ("near_dup", m), s"doc $id: ${out(id)} != near $m")
    }

    // everything else is new with a NULL match
    (inBatch -- exactExpected.keySet -- nearExpected.keySet).foreach { id =>
      assert(out(id) == ("new", -1L), s"doc $id: ${out(id)} != new")
    }
  }

  test("planted cross-split exact and near dups get the right verdicts") {
    import spark.implicits._
    // pick doc_ids with known split membership
    val ids = (0L until 400L).toArray
    val batchIds = ids.filter(bucketOf(_) < Incremental.BATCH_PERMILLE)
    val corpusIds = ids.filter(bucketOf(_) >= Incremental.BATCH_PERMILLE)
    assert(batchIds.length >= 3 && corpusIds.length >= 3)

    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the experiment finally converges tonight"
    val nearVariant = base.replace("tonight", "tomorrow") // 1 word of 17
    val unrelated = "completely different content about spark physical " +
      "plans and shuffle partitioning strategies at scale"
    val rows = Seq(
      // batch doc 0: exact copy of TWO corpus docs -> exact_dup, min id
      (batchIds(0), base),
      (corpusIds(0), base),
      (corpusIds(1), base),
      // batch doc 1: near-variant of corpus base docs -> near_dup
      (batchIds(1), nearVariant),
      // batch doc 2: nothing similar -> new
      (batchIds(2), unrelated))
    val dir = graft.util.Dirs.scratch("graft_incr").toString
    rows.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val out = Incremental.incrementalDedup(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(batchIds(0)) ==
      ("exact_dup", math.min(corpusIds(0), corpusIds(1))))
    assert(out(batchIds(1)) ==
      ("near_dup", math.min(corpusIds(0), corpusIds(1))))
    assert(out(batchIds(2)) == ("new", -1L))
  }

  test("incremental dedup plans without a cartesian product") {
    val plan = Incremental.incrementalDedup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("unigram surprisal replays by hand for one document") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val counts = docs.flatMap(_._2.split(' ')).groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }
    val total = counts.values.sum
    def surprisal(w: String): Long =
      63 - java.lang.Long.numberOfLeadingZeros(total / counts(w))

    val out = TextAnalysis.perplexityUnigram(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.size == docs.length)
    docs.take(5).foreach { case (id, text) =>
      val toks = text.split(' ')
      val expected = (toks.length.toLong,
        toks.map(surprisal).sum, toks.map(surprisal).max)
      assert(out(id) == expected, s"doc $id: ${out(id)} != $expected")
    }
    // a once-in-corpus token is maximally surprising: its surprisal is
    // floor(log2(total)), and no doc can exceed that
    val maxPossible = 63 - java.lang.Long.numberOfLeadingZeros(total)
    assert(out.values.forall(_._3 <= maxPossible))
  }
}
