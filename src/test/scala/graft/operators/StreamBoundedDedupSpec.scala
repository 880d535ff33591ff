package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** q57's two claims, asserted together on the same drain: the
  * watermarked dedup's key set equals the batch DISTINCT (exactness on
  * a time-ordered feed) AND its state actually shrinks (watermark
  * eviction happened) — the pair that q31's global dedup can't offer.
  */
class StreamBoundedDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("ordered multi-batch drain: exact key set with evicted state") {
    import org.apache.spark.sql.functions.col
    val root = graft.util.Dirs.scratch("graft-bounded-dedup").toString
    graft.sources.Tables.ensureNanosFlag(spark)
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // 8 time slices admitted earliest-first (mtime-pinned), the
    // MultiBatchSpec ordered layout
    raw.repartitionByRange(8, col("ts")).write
      .parquet(s"$root/events.parquet")
    val parts = new java.io.File(s"$root/events.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - 1000L * parts.length
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + 1000L * i)
    }

    val key = "graft.stream.maxFilesPerTrigger"
    spark.conf.set(key, "1")
    val got =
      try StreamBatch.streamingDedupBounded(spark, root).collect()
        .map(_.toString).sorted.toSeq
      finally spark.conf.unset(key)

    val want = graft.sources.Tables(spark, root, "events")
      .selectExpr("user_id", "event_type", "CAST(ts AS DATE) AS day")
      .distinct().collect().map(_.toString).sorted.toSeq
    assert(got == want, s"${got.size} keys vs batch distinct ${want.size}")

    // eviction: the final batch's state must hold far fewer keys than
    // the month of distinct keys — only ~2 days of horizon survive
    val progress = StreamBatch.lastDrainProgress
      .get("q57_stream_dedup_bounded")
    assert(progress != null && progress.nonEmpty)
    val lastState = progress.last
    val m = """"numRowsTotal"\s*:\s*(\d+)""".r
      .findFirstMatchIn(lastState).map(_.group(1).toLong)
    assert(m.isDefined, s"no state metrics in: ${lastState.take(500)}")
    assert(m.get < want.size / 2,
      s"state ${m.get} rows — watermark eviction did not happen " +
        s"(total distinct keys ${want.size})")
  }
}
