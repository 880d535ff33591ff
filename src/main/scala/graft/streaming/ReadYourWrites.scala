package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.bus.BusDataSource

/** Read-your-writes barrier for the streaming run-state surface —
  * parity with the reference API's offset bookkeeping
  * (APIStreamsContext.waitForProcessing:168-222, OffsetInfo.java:13-39):
  * a POST there blocks until the scheduler's state store has consumed
  * the event log through the POSTed record's offset, so an immediate
  * GET sees the write.
  *
  * Spark surface: the producer keeps the source coordinates it wrote
  * at (MemoryStream.addData returns a bare-long offset; a Kafka — or
  * [[graft.streaming.bus.GraftBus]] — producer gets (partition,
  * offset) from RecordMetadata), then the matching `awaitProcessed`
  * overload polls the query's progress until a COMMITTED batch's end
  * offset covers it. Progress entries are published only after a batch
  * commits, so once covered, every sink write derived from the event —
  * snapshot rows, TSRs — is visible.
  *
  * Polls progress rather than calling `processAllAvailable()` — that
  * call can block forever under a ProcessingTime trigger on this Spark
  * build even when the stream is quiescent.
  */
object ReadYourWrites {

  /** Block until `query` has committed a batch whose end offset for
    * source `sourceIdx` is ≥ `offset` — the bare-long offset family
    * (MemoryStream, file sources). */
  def awaitProcessed(
      query: StreamingQuery,
      offset: Long,
      sourceIdx: Int = 0,
      timeoutMs: Long = 30000L): Unit =
    poll(query, timeoutMs, s"source offset $offset") { p =>
      endOffset(p, sourceIdx).flatMap(parseLong).exists(_ >= offset)
    }

  /** Block until `query` has committed a batch covering `(topic,
    * partition, offset)` — the Kafka offset-map family: end offsets
    * serialize as `{"topic":{"0":123}}` where each value is the NEXT
    * offset to read, so the record at `offset` is covered once
    * `end > offset`. Works for any connector using Kafka's JSON offset
    * shape (the graft-bus connector does, deliberately). */
  def awaitProcessed(
      query: StreamingQuery,
      topic: String,
      partition: Int,
      offset: Long,
      sourceIdx: Int,
      timeoutMs: Long): Unit =
    poll(query, timeoutMs, s"$topic-$partition@$offset") { p =>
      endOffset(p, sourceIdx)
        .flatMap(j => scala.util.Try(BusDataSource.parseOffsets(j)).toOption)
        .flatMap(_.get(topic)).flatMap(_.get(partition))
        .exists(_ > offset)
    }

  /** Scan ALL retained progress entries (newest first): the covering
    * batch need not be the latest one. */
  private def poll(
      query: StreamingQuery, timeoutMs: Long, what: String)(
      covered: StreamingQueryProgress => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (query.recentProgress.reverseIterator.exists(covered)) return
      Thread.sleep(25L)
    }
    throw new java.util.concurrent.TimeoutException(
      s"stream did not process $what within ${timeoutMs}ms " +
        s"(lastProgress=${Option(query.lastProgress).fold("none")(_.json)})")
  }

  private def endOffset(
      p: StreamingQueryProgress, sourceIdx: Int): Option[String] =
    p.sources.lift(sourceIdx).flatMap(s => Option(s.endOffset))

  /** MemoryStream / LongOffset-style offsets serialize as a bare JSON
    * number. */
  private def parseLong(json: String): Option[Long] =
    try Some(json.trim.toLong)
    catch { case _: NumberFormatException => None }
}
