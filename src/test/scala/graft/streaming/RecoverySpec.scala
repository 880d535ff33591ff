package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

import graft.engine._
import graft.engine.Harness._

/** Fault tolerance: the scheduler's per-run state must survive a query
  * restart from the checkpoint (the reference gets this from Kafka
  * Streams EOS + RocksDB changelogs; Spark gets it from the state store
  * + checkpointLocation). A 3-task run is split across two query
  * incarnations: tasks 1-2 under the first, task 3 under the second.
  */
class RecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.TestSpark.session

  // Tasks carry a 6 s timeout + retries: a TSR emitted in a committed
  // batch is NOT replayed after restart (at-least-once sink), so a
  // worker-missed task must be recovered by the timeout timer
  // rescheduling it — the same story as the reference's worker-crash
  // path (M1/M2). The timeout must exceed worst-case micro-batch
  // latency under FULL-SUITE load (observed > 2 s with 18 suites on a
  // contended host), or a promptly-answered task still times out
  // because its result event folds a batch too late.
  private def retriableTask(name: String, thing: String) =
    task(name, "echo_task", "thing" -> lit(thing))
      .copy(timeoutSeconds = Some(lit(6)), numRetries = 3)

  private val spec = wfSpec("recovery_wf", "main",
    thread("main", Map.empty,
      nodes = Seq(
        retriableTask("n0", "one"),
        retriableTask("n1", "two"),
        retriableTask("n2", "three")),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))

  test("run completes across a checkpointed query restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val checkpoint =
      graft.util.Dirs.scratch("graft-ckpt").toString
    val input = MemoryStream[WFEvent]
    val snapshots = TrieMap.empty[Long, (String, String)]
    val seq = new java.util.concurrent.atomic.AtomicLong()
    val tsrSeen = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var respondToTasks = true

    def now() = System.currentTimeMillis()

    def startQuery() = {
      val outputs = Scheduler(input.toDS(), Map(spec.name -> spec))
      outputs.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[SchedulerOut], _: Long) =>
          batch.collect().foreach {
            case r if r.kind == SchedulerOut.TSR =>
              tsrSeen.incrementAndGet()
              if (respondToTasks) {
                val tsr = EventCodec.decodeTsr(r.json)
                val t = now()
                val stdout = LHJson.render(
                  tsr.variableSubstitutions.getOrElse("thing", null))
                input.addData(
                  WFEvent(spec.objectId, spec.name, tsr.wfRunId, t,
                    tsr.threadId, WFEventType.TASK_EVENT,
                    EventCodec.encodeTaskRunEvent(TaskRunEvent(
                      tsr.threadId, tsr.taskRunPosition, t, 0, None,
                      Some(TaskRunEndedPayload(TaskRunResult(
                        Some(stdout), None, success = true, 0)))))))
              }
            case r => snapshots.put(seq.incrementAndGet(), (r.status, r.json))
          }
        }
        .start()
    }

    val q1 = startQuery()
    input.addData(WFEvent(spec.objectId, spec.name, "rec-run-1", now(), 0,
      WFEventType.WF_RUN_STARTED,
      EventCodec.encodeRunRequest(WFRunRequest(
        ListMap.empty, spec.objectId, Some("rec-run-1")))))

    // let tasks 1-2 complete, then stop mid-flight before task 3's
    // result is produced
    val deadline1 = now() + 30000
    while (tsrSeen.get() < 2 && now() < deadline1) Thread.sleep(100)
    assert(tsrSeen.get() >= 2, "first incarnation never scheduled 2 tasks")
    respondToTasks = false // third TSR (if any) goes unanswered
    Thread.sleep(500)
    q1.stop()

    val snapshotsBeforeRestart = snapshots.size
    assert(!snapshots.values.exists(_._1 == Status.COMPLETED),
      "run should not be complete yet")

    // second incarnation: recover state from the checkpoint and finish.
    // The lost third task comes back through the timeout-retry path; we
    // nudge the key with harmless RESUME events because any event for a
    // key fires its matured timers synchronously in the state function —
    // under full-suite load, waiting on Spark's own processing-time
    // timeout invocation alone is timing-flaky.
    respondToTasks = true
    val q2 = startQuery()
    val deadline2 = now() + 60000
    var done = false
    var lastNudge = 0L
    while (!done && now() < deadline2) {
      Thread.sleep(150)
      if (now() - lastNudge > 2000) {
        lastNudge = now()
        input.addData(WFEvent(spec.objectId, spec.name, "rec-run-1", now(), 0,
          WFEventType.WF_RUN_RESUME_REQUEST, ""))
      }
      done = snapshots.values.exists(_._1 == Status.COMPLETED)
    }
    q2.stop()
    assert(done, s"run did not complete after restart; " +
      s"snapshots=${snapshots.values.map(_._1)}, tsrs=${tsrSeen.get()}, " +
      s"lastState=${snapshots.toVector.sortBy(_._1).lastOption.map(_._2._2)}")

    val finalState = StateCodec.decode(
      snapshots.toVector.maxBy(_._1)._2._2)
    val completedOutputs = finalState.threadRuns(0).taskRuns
      .filter(_.status == Status.COMPLETED).map(_.stdout).toSeq
    assert(completedOutputs == Seq("one", "two", "three"),
      s"got $completedOutputs (timed-out attempts may precede retries)")
    assert(snapshots.size > snapshotsBeforeRestart,
      "second incarnation produced no snapshots")
  }
}
