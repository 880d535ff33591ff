package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

/** The traced run's recorder. Spans come from the benchmark's own files
  * only, around its calls into each layer: per micro-batch from the
  * query's progress events (the `durationMs` parts as children), per
  * request in serve_mixed, per query key in analytics, and the engine
  * [[Replay]]. Spans stay in
  * memory and are reduced to self times and the per-layer metrics when
  * the run ends. */
final class Trace {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val ids = new AtomicLong()
  @volatile private var fromBatch = 0L
  @volatile private var untilBatch = Long.MaxValue
  @volatile var replay: Option[Replay.Timings] = None
  @volatile var runsInFlight = 0

  def install(spark: SparkSession): Unit =
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        batches.add(BatchRec(p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      }
    })

  /** Micro-batches with ids in [from, until) are the timed region's. */
  def begin(batch: Long): Unit = fromBatch = batch
  def end(batch: Long): Unit = untilBatch = batch

  /** Time `body` as a top-level span. */
  def span[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally record(name, 0L, System.nanoTime() - t)
  }

  private def record(name: String, parent: Long, durNs: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(SpanRec(id, parent, name, durNs))
    id
  }

  private def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toVector.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  /** Reduce spans and progress to the per-layer metrics. */
  def report(result: Result): Unit = {
    val timed = batches.asScala.toVector
      .filter(b => b.batchId >= fromBatch && b.batchId < untilBatch)
    timed.foreach { b =>
      val id = record("batch", 0L, b.durations.getOrElse("triggerExecution", 0L) * 1000000L)
      b.durations.foreach { case (k, v) =>
        if (k != "triggerExecution") record(s"batch.$k", id, v * 1000000L)
      }
    }
    val all = spans.asScala.toVector
    val children = all.groupBy(_.parent)
    def durMs(name: String) = all.filter(_.name == name).map(_.durNs / 1e6)
    def selfMs(name: String) = all.filter(_.name == name).map { s =>
      (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum) / 1e6
    }
    val l = result.layers
    val s = result.samples
    val rtt = median(s.getOrElse("task_rtt_ms", Nil))
    val keys = median(s.getOrElse("keys_per_batch", Nil))
    val batchMs = median(durMs("batch"))
    l("scheduler.batch_ms") = batchMs
    l("scheduler.add_batch_ms") = median(durMs("batch.addBatch"))
    l("scheduler.wal_commit_ms") = median(durMs("batch.walCommit"))
    l("scheduler.commit_offsets_ms") = median(durMs("batch.commitOffsets"))
    l("scheduler.query_planning_ms") = median(durMs("batch.queryPlanning"))
    l("scheduler.other_ms") = median(selfMs("batch"))
    l("scheduler.state_commit_ms") = median(timed.map(_.stateCommitMs.toDouble))
    l("scheduler.state_update_ms") = median(timed.map(_.stateUpdateMs.toDouble))
    l("scheduler.state_rows_total") = timed.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
    l("scheduler.state_memory_bytes") = timed.lastOption.map(_.stateMemory.toDouble).getOrElse(0.0)
    l("scheduler.keys_per_batch") = keys
    l("scheduler.timed_batches") = timed.length
    if (rtt > 0) {
      l("scheduler.queue_wait_ms") = rtt - batchMs
      l("scheduler.batch_share_of_rtt") = batchMs / rtt
    }
    val tasks = result.values.getOrElse("tasks_timed", 0.0)
    if (tasks > 0 && runsInFlight > 0)
      l("scheduler.batches_per_task") = timed.length * runsInFlight / tasks
    replay.foreach { r =>
      val engineUs = r.perInvocationUs(r.engineAndCodecNs)
      l("engine.step_us") = r.stepNs / 1e3 / r.events
      l("engine.state_decode_us") = r.perInvocationUs(r.decodeNs)
      l("engine.state_encode_us") = r.perInvocationUs(r.stateEncodeNs)
      l("engine.snapshot_encode_us") = r.snapshotNs / 1e3 / r.events
      l("engine.event_codec_us") = r.perInvocationUs(r.eventCodecNs)
      l("engine.snapshot_bytes_per_event") = r.snapshotBytes.toDouble / r.events
      l("engine.state_bytes_per_invocation") = r.stateBytes.toDouble / r.invocations
      l("engine.replay_events_per_s") = r.events / (r.stateFnNs / 1e9)
      l("scheduler.statefn_self_us") = r.perInvocationUs(r.stateFnNs) - engineUs
      // one invocation per key per batch, spread over the 4 executor
      // threads: the share of the batch's CPU the fold and codecs take
      if (batchMs > 0) l("engine.batch_share") = keys * engineUs / 1e3 / (4 * batchMs)
    }
    l("serving.lookup_us") = median(durMs("get.lookup")) * 1e3
    l("serving.refresh_ms") = median(durMs("get.refresh"))
    l("serving.refreshes") = durMs("get.refresh").length
    val lookups = durMs("get.lookup").length + durMs("get.refresh").length
    // lookups answered from memory without a refresh job
    if (lookups > 0) l("serving.hit_share") = durMs("get.lookup").length.toDouble / lookups
    l("serving.export_us") = median(durMs("get.export")) * 1e3
    l("serving.search_ms") = median(durMs("alias"))
    l("store.append_ms") = median(s.getOrElse("store_append_ms", Nil))
    l("store.compact_ms") = median(s.getOrElse("store_compact_ms", Nil))
    l("store.footprint_files") = median(s.getOrElse("store_footprint_files", Nil))
    l("jvm.gc_s") = result.values.getOrElse("gc_s", 0.0)
    l("trace.spans") = all.length
  }
}

object Trace {
  private final case class SpanRec(
      id: Long, parent: Long, name: String, durNs: Long)
  private final case class BatchRec(
      batchId: Long, durations: Map[String, Long], stateCommitMs: Long,
      stateUpdateMs: Long, stateRows: Long, stateMemory: Long)
}
