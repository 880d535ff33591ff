package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.engine._
import graft.streaming.{Scheduler, SchedulerOut}

/** The workflow path under test: WFEvents in through a `MemoryStream`,
  * the streaming [[Scheduler]], and a loopback worker in `foreachBatch`
  * that answers every TaskScheduleRequest with a started/ended pair.
  *
  * Worker event timestamps are a function of (run, task position) only,
  * so every run's snapshots are reproducible byte for byte
  * ([[Replay]] relies on this).
  *
  * Runs are started from the list the input file gives. While
  * `launching` is on, each completed run starts the next run of the
  * first spec (a closed loop).
  */
final class ChainLoop(
    spark: SparkSession,
    specs: Seq[WFSpec],
    checkpoint: String,
    runIds: IndexedSeq[String],
    // sees every micro-batch's snapshot rows (serve_mixed's store writes)
    onSnapshots: (Array[SchedulerOut], Long) => Unit = (_, _) => ()) {

  import ChainLoop._

  private val specByName = specs.map(s => s.name -> s).toMap
  private val input = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[WFEvent]
  }

  // ---- read by the driving thread ----
  /** run id -> final COMPLETED snapshot json */
  val finals = new ConcurrentHashMap[String, String]()
  val batches = new AtomicLong()
  val started = new AtomicInteger()
  @volatile var launching = false
  @volatile var recording = false
  @volatile private var failure: Option[String] = None
  @volatile private var stopping = false

  // ---- touched only by the foreachBatch thread ----
  private val nextPosition = mutable.HashMap.empty[String, Int]
  private val lastTsrAt = mutable.HashMap.empty[String, Long]
  private val specOf = mutable.HashMap.empty[String, WFSpec]
  /** one sample per micro-batch: mean task round-trip of its TSRs, ms */
  val batchRttMs = mutable.ArrayBuffer.empty[Double]
  val batchKeys = mutable.ArrayBuffer.empty[Int]
  var tasksRecorded = 0L
  /** nanoTime of the batch that saw the latest completion */
  @volatile var lastCompletionAt = 0L

  private var query: StreamingQuery = _
  private var nextRun = 0

  def error: Option[String] = failure

  private def fail(msg: String): Unit =
    if (failure.isEmpty) failure = Some(msg)

  def start(): Unit = {
    val outputs = Scheduler(input.toDS(), specByName)
    query = outputs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[SchedulerOut], batchId: Long) =>
        onBatch(batch.collect(), batchId)
      }
      .start()
  }

  /** Offer WF_RUN_STARTED for the next `n` run ids of `spec`. */
  def launch(spec: WFSpec, n: Int): Unit = {
    val evs = synchronized { (0 until n).map(_ => startEvent(spec)) }
    input.addData(evs)
  }

  private def startEvent(spec: WFSpec): WFEvent = {
    require(nextRun < runIds.length, "the input file ran out of run ids")
    val id = runIds(nextRun)
    nextRun += 1
    started.incrementAndGet()
    WFEvent(spec.objectId, spec.name, id, EpochMs, 0,
      WFEventType.WF_RUN_STARTED,
      EventCodec.encodeRunRequest(WFRunRequest(ListMap.empty, spec.objectId,
        Some(id))))
  }

  private def onBatch(rows: Array[SchedulerOut], batchId: Long): Unit =
    try {
      val t = System.nanoTime()
      val events = Vector.newBuilder[WFEvent]
      var rttSum = 0L
      var rttN = 0
      val keys = mutable.HashSet.empty[String]
      var completedNow = 0
      rows.foreach { r =>
        keys += r.wfRunId
        if (r.kind == SchedulerOut.TSR) {
          val expected = nextPosition.getOrElse(r.wfRunId, 0)
          if (r.taskRunPosition != expected)
            fail(s"run ${r.wfRunId}: TSR position ${r.taskRunPosition} " +
              s"delivered, expected $expected (duplicate or gap)")
          nextPosition(r.wfRunId) = r.taskRunPosition + 1
          lastTsrAt.get(r.wfRunId).foreach { t0 => rttSum += t - t0; rttN += 1 }
          lastTsrAt(r.wfRunId) = t
          val spec = specOf.getOrElseUpdate(r.wfRunId, specByName(r.wfSpecName))
          events ++= workerEvents(spec, EventCodec.decodeTsr(r.json))
        } else if (r.status == Status.COMPLETED) {
          if (finals.put(r.wfRunId, r.json) == null) {
            completedNow += 1
            lastCompletionAt = t
          }
          lastTsrAt.remove(r.wfRunId)
        }
      }
      onSnapshots(rows.filter(_.kind == SchedulerOut.SNAPSHOT), batchId)
      if (recording && rttN > 0) {
        batchRttMs += rttSum / 1e6 / rttN
        tasksRecorded += rttN
        batchKeys += keys.size
      }
      val evs = events.result()
      val more =
        if (launching && completedNow > 0)
          synchronized {
            (0 until completedNow).map(_ => startEvent(specs.head))
          }
        else Nil
      if (evs.nonEmpty || more.nonEmpty) input.addData(evs ++ more)
      batches.incrementAndGet()
    } catch {
      // stop() interrupts a batch in flight; that is not a failure
      case e: Throwable => if (!stopping) fail(s"loopback worker: $e"); throw e
    }

  /** Block until `cond` holds; fail on timeout or on a recorded error. */
  def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      failure.foreach(m => throw new IllegalStateException(m))
      if (query.exception.isDefined)
        throw new IllegalStateException(s"query failed: ${query.exception.get}")
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  def stop(): Unit = if (query != null) { stopping = true; query.stop() }

  /** Check every finished run: COMPLETED with `nTasks` echoed outputs
    * in order, and exactly one TSR per position. Returns the failures. */
  def checkFinals(ids: Iterable[String]): Seq[String] =
    ids.toSeq.flatMap { id =>
      Option(finals.get(id)) match {
        case None => Seq(s"run $id never completed")
        case Some(json) =>
          val spec = specOf(id)
          val nTasks = spec.threadSpecs.values.head.nodes.size
          val st = StateCodec.decode(json)
          val trs = st.threadRuns.headOption.map(_.taskRuns).getOrElse(Nil)
          val outputsOk = trs.length == nTasks && trs.zipWithIndex.forall {
            case (tr, p) => tr.status == Status.COMPLETED &&
              tr.stdout == s"task-$p"
          }
          if (st.status != Status.COMPLETED || !outputsOk)
            Seq(s"run $id: status ${st.status}, ${trs.length} task runs, " +
              "outputs differ from the echoed inputs")
          else if (nextPosition.getOrElse(id, 0) != nTasks)
            Seq(s"run $id: ${nextPosition.getOrElse(id, 0)} TSRs for $nTasks tasks")
          else Nil
      }
    }
}

object ChainLoop {
  /** Event time of every run start; worker events follow at fixed
    * offsets, so snapshots do not depend on wall-clock time. */
  val EpochMs = 1600000000000L

  def startedAt(p: Int): Long = EpochMs + 10L * (2 * p + 1)
  def endedAt(p: Int): Long = EpochMs + 10L * (2 * p + 2)

  /** The started/ended pair the echo worker sends for one TSR: its
    * output is the task's `thing` input. */
  def workerEvents(spec: WFSpec, tsr: TaskScheduleRequest): Seq[WFEvent] = {
    val p = tsr.taskRunPosition
    val stdout = LHJson.render(tsr.variableSubstitutions.getOrElse("thing", null))
    Seq(
      WFEvent(spec.objectId, spec.name, tsr.wfRunId, startedAt(p),
        tsr.threadId, WFEventType.TASK_EVENT,
        EventCodec.encodeTaskRunEvent(TaskRunEvent(
          tsr.threadId, p, startedAt(p), 0,
          Some(TaskRunStartedPayload("bench-worker", None)), None))),
      WFEvent(spec.objectId, spec.name, tsr.wfRunId, endedAt(p),
        tsr.threadId, WFEventType.TASK_EVENT,
        EventCodec.encodeTaskRunEvent(TaskRunEvent(
          tsr.threadId, p, endedAt(p), 0, None,
          Some(TaskRunEndedPayload(TaskRunResult(
            Some(stdout), None, success = true, 0)))))))
  }
}
