package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Batching-independence of the streaming family: every StreamBatch
  * query must produce IDENTICAL results whether the AvailableNow drain
  * admits the whole source in one micro-batch or trickles it in
  * file-by-file (8 batches here). This is the semantic claim each
  * query's design leans on — q23/q38 complete-mode aggregations are
  * state-merged across batches, q26's append-mode inner join emits the
  * same match set regardless of arrival interleaving, and q31 uses
  * GLOBAL dropDuplicates precisely because the watermarked variant's
  * output would depend on batching (its docstring's stated reason).
  * A failure here means a result was a single-drain artifact, which no
  * batch oracle could catch on the flat single-file test layout.
  */
class MultiBatchSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  // events as a DIRECTORY of 8 part files so maxFilesPerTrigger=1
  // yields a genuinely multi-batch drain. Two layouts:
  //  - ordered: repartitionByRange on ts — each file is a time slice,
  //    admitted earliest-first (FileStreamSource orders by mod-time
  //    then path; range partition i = i-th slice = part-0000i). This
  //    is how a real file/Kafka feed arrives, and what a WATERMARKED
  //    query is entitled to assume.
  //  - shuffled: hash-scattered rows — every batch spans the whole
  //    month, so after batch 1 the watermark makes most rows "late".
  private def writeLayout(ordered: Boolean): String = {
    val root = graft.util.Dirs.scratch("graft-multibatch").toString
    graft.sources.Tables.ensureNanosFlag(spark)
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val laid =
      if (ordered) raw.repartitionByRange(8, org.apache.spark.sql.functions.col("ts"))
      else raw.repartition(8)
    laid.write.parquet(s"$root/events.parquet")
    // static dim for the stream-static join (q41)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$root/customer.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/customer.parquet"))
    // orders as an 8-part directory too, for the q47 upsert stream —
    // time-sliced or hash-scattered with the same semantics as events
    val rawOrders = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
    val laidOrders =
      if (ordered) rawOrders.repartitionByRange(8,
        org.apache.spark.sql.functions.col("o_orderdate"))
      else rawOrders.repartition(8)
    laidOrders.write.parquet(s"$root/orders.parquet")
    // FileStreamSource admits files in MODIFICATION-TIME order, and
    // write-task completion order is arbitrary — pin mtimes to the
    // part-file index so the ordered layout is admitted earliest-slice
    // -first deterministically (range partition i = i-th time slice)
    val parts = new java.io.File(s"$root/events.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - 1000L * parts.length
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + 1000L * i)
    }
    root
  }
  private lazy val orderedDir = writeLayout(ordered = true)
  private lazy val shuffledDir = writeLayout(ordered = false)

  private def collectSorted(
      fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame,
      dir: String): Seq[String] =
    fn(spark, dir).collect().map(_.toString).toSeq.sorted

  private def agree(
      name: String,
      dir: String,
      fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Unit = {
    val single = collectSorted(fn, dir)
    assert(single.nonEmpty, s"$name: empty single-batch result")
    val key = "graft.stream.maxFilesPerTrigger"
    spark.conf.set(key, "1")
    try {
      val multi = collectSorted(fn, dir)
      assert(multi == single,
        s"$name multi-batch drain diverged: " +
          s"${multi.size} vs ${single.size} rows")
    } finally spark.conf.unset(key)
  }

  // All five families on the time-ordered feed — incl. the watermarked
  // join, whose state expiry is exercised FOR REAL across batches here
  // (each batch's watermark evicts the previous hour's join state)
  test("ordered feed: all five streaming queries are batching-independent") {
    agree("q23", orderedDir, StreamBatch.streamingDailyAgg)
    agree("q26", orderedDir, StreamBatch.streamingIntervalJoin)
    agree("q31", orderedDir, StreamBatch.streamingDedupKeys)
    agree("q38", orderedDir, StreamBatch.streamingSessions)
    agree("q41", orderedDir, StreamBatch.streamingStaticJoin)
    agree("q44", orderedDir, StreamBatch.streamingKmv)
    agree("q47", orderedDir, StreamBatch.streamingScd1Latest)
    agree("q56", orderedDir, StreamBatch.streamingHll)
    // watermarked dedup: the time-ordered feed is exactly its contract
    agree("q57", orderedDir, StreamBatch.streamingDedupBounded)
  }

  // The watermark-free queries (complete-mode aggs, global dedup) must
  // agree even under ARBITRARY arrival order — their exactness claims
  // do not depend on the feed being time-ordered
  test("shuffled feed: watermark-free queries are arrival-order-independent") {
    agree("q23", shuffledDir, StreamBatch.streamingDailyAgg)
    agree("q31", shuffledDir, StreamBatch.streamingDedupKeys)
    agree("q38", shuffledDir, StreamBatch.streamingSessions)
    agree("q41", shuffledDir, StreamBatch.streamingStaticJoin)
    // the KMV sketch's merge is commutative — bit-identical under any
    // arrival order, which is what lets the batch oracle apply
    agree("q44", shuffledDir, StreamBatch.streamingKmv)
    // max_by over a total order is commutative: the upsert view must
    // not care what order versions arrive in
    agree("q47", shuffledDir, StreamBatch.streamingScd1Latest)
  }

  // And the watermarked join's late-data policy is pinned, not hidden:
  // on a feed where batch 1 spans the whole time range, subsequent
  // batches fall behind the watermark and their matches are DROPPED —
  // the documented cost of bounded join state. (The single-batch drain
  // sees everything; the difference IS the late-drop.)
  test("shuffled feed: the watermarked join drops late data by design") {
    val single = collectSorted(StreamBatch.streamingIntervalJoin, shuffledDir)
    val key = "graft.stream.maxFilesPerTrigger"
    spark.conf.set(key, "1")
    try {
      val multi = collectSorted(StreamBatch.streamingIntervalJoin, shuffledDir)
      assert(multi.size < single.size,
        s"expected late-drop under out-of-order arrival: " +
          s"${multi.size} vs ${single.size}")
    } finally spark.conf.unset(key)
  }
}
