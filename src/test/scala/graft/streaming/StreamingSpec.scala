package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

import graft.engine._
import graft.engine.Harness._

/** End-to-end Structured Streaming tests: WFEvent MemoryStream →
  * flatMapGroupsWithState scheduler → foreachBatch loopback worker that
  * answers TSRs by pushing TASK_EVENTs back into the source — the
  * streaming equivalent of the reference's scheduler + TaskWorker loop
  * (SURVEY.md §3.2), including the README demo's search query.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.TestSpark.session

    private def now(): Long = System.currentTimeMillis()

  /** Drive one run through the streaming scheduler with a loopback
    * worker; returns the snapshot log (status history) and final state. */
  private def driveStreaming(
      spec: WFSpec,
      inputVars: Map[String, Any] = Map.empty,
      externalAfterTsrs: Option[(Int, String, Any)] = None,
      timeoutMs: Long = 30000L,
      duplicateDeliveries: Boolean = false): (Vector[String], WFRunState) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[WFEvent]
    val outputs = Scheduler(input.toDS(), Map(spec.name -> spec))

    val snapshots = TrieMap.empty[Long, (String, String)] // seq -> (status, json)
    val seq = new java.util.concurrent.atomic.AtomicLong()
    val tsrCount = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var externalSent = false

    val query = outputs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SchedulerOut], _: Long) =>
        val rows = batch.collect()
        rows.foreach {
          case r if r.kind == SchedulerOut.TSR =>
            val tsr = EventCodec.decodeTsr(r.json)
            val n = tsrCount.incrementAndGet()
            Simulator.sharedTasks(tsr.taskDefName, tsr.variableSubstitutions) match {
              case Simulator.Ok(v, _) =>
                val t = now()
                val pair = Seq(
                  WFEvent(spec.objectId, spec.name, tsr.wfRunId, t,
                    tsr.threadId, WFEventType.TASK_EVENT,
                    EventCodec.encodeTaskRunEvent(TaskRunEvent(
                      tsr.threadId, tsr.taskRunPosition, t, 0,
                      Some(TaskRunStartedPayload("stream-worker", None)), None))),
                  WFEvent(spec.objectId, spec.name, tsr.wfRunId, t + 1,
                    tsr.threadId, WFEventType.TASK_EVENT,
                    EventCodec.encodeTaskRunEvent(TaskRunEvent(
                      tsr.threadId, tsr.taskRunPosition, t + 1, 0, None,
                      Some(TaskRunEndedPayload(TaskRunResult(
                        Some(LHJson.render(v)), None, success = true, 0)))))))
                // at-least-once simulation: the whole started+ended pair
                // is redelivered, as if the worker re-consumed the TSR
                val events = if (duplicateDeliveries) pair ++ pair else pair
                input.addData(events)
              case other => fail(s"unexpected behavior $other")
            }
            externalAfterTsrs.foreach { case (afterN, defName, content) =>
              if (n >= afterN && !externalSent) {
                externalSent = true
                val t = now()
                input.addData(WFEvent(spec.objectId, spec.name, "stream-run-1",
                  t, -1, WFEventType.EXTERNAL_EVENT,
                  EventCodec.encodeExternalEvent(
                    ExternalEventPayload(defName, defName, content, t))))
              }
            }
          case r => snapshots.put(seq.incrementAndGet(), (r.status, r.json))
        }
      }
      .start()

    try {
      input.addData(WFEvent(spec.objectId, spec.name, "stream-run-1", now(), 0,
        WFEventType.WF_RUN_STARTED,
        EventCodec.encodeRunRequest(WFRunRequest(
          ListMap.from(inputVars), spec.objectId, Some("stream-run-1")))))

      // NOTE: never call query.processAllAvailable() here — with a
      // ProcessingTime trigger on this Spark build it blocks forever
      // even after the stream is quiescent. The 200 ms trigger drives
      // batches on its own; we just poll the snapshot log.
      val deadline = now() + timeoutMs
      var done = false
      while (!done && now() < deadline) {
        Thread.sleep(150)
        done = snapshots.values.exists(s =>
          s._1 == Status.COMPLETED || s._1 == Status.HALTED)
      }
      assert(done, s"run did not terminate within ${timeoutMs}ms; " +
        s"snapshots=${snapshots.values.map(_._1).toVector}")
      val statuses = snapshots.toVector.sortBy(_._1).map(_._2._1)
      val lastJson = snapshots.toVector.maxBy(_._1)._2._2
      (statuses, StateCodec.decode(lastJson))
    } finally query.stop()
  }

  // README demo workflow: TASK → EXTERNAL_EVENT(my-name) → TASK(greet).
  private val basicWf = wfSpec("basic_wf", "main",
    thread("main",
      Map("my_name_var" -> WFRunVariableDef(VarType.STRING)),
      nodes = Seq(
        task("n0", "echo_task", "thing" -> lit("Hello, there!")),
        mutate(Node(name = "n1", nodeType = NodeType.EXTERNAL_EVENT,
          externalEventDefName = Some("my-name")),
          "my_name_var" -> mut(Mutations.Op.ASSIGN)),
        task("n2", "hello_there", "name" -> varRef("my_name_var"))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))

  test("streaming: basic_wf completes end-to-end; search finds the run") {
    val (statuses, finalState) = driveStreaming(
      basicWf,
      externalAfterTsrs = Some((1, "my-name", "Obi-Wan")))

    assert(statuses.last == Status.COMPLETED)
    val thr = finalState.threadRuns(0)
    assert(thr.variables("my_name_var") == "Obi-Wan")
    assert(thr.taskRuns.length == 3)
    assert(thr.taskRuns(2).stdout == "Hello there, Obi-Wan!")

    // README search demo over the materialized snapshot log (Q2/Q9)
    import spark.implicits._
    val snapDf = Seq(("stream-run-1", 1L, StateCodec.encode(finalState),
      finalState.aliasMap)).toDF("wfRunId", "seq", "json", "aliases")
    val latest = StateTable.latest(snapDf)
    val hit = StateTable.searchByVariable(latest, "my_name_var", "Obi-Wan")
    assert(hit.collect().map(_.getString(0)).toSeq == Seq("stream-run-1"))
    val miss = StateTable.searchByVariable(latest, "my_name_var", "Grievous")
    assert(miss.collect().isEmpty)
    // search is columnar only: a frame without `aliases` is rejected
    val noAliases = intercept[IllegalArgumentException](
      StateTable.searchByVariable(latest.drop("aliases"), "my_name_var", "x"))
    assert(noAliases.getMessage.contains("`aliases`"), noAliases.getMessage)
  }

  test("streaming: sleep timer fires via processing-time timeout") {
    val sleepy = wfSpec("sleepy_stream", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("before")),
          Node(name = "n1", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(2))),
          task("n2", "echo_task", "thing" -> lit("after"))),
        edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))

    val t0 = now()
    val (statuses, finalState) = driveStreaming(sleepy)
    val elapsed = now() - t0

    assert(statuses.last == Status.COMPLETED)
    assert(finalState.threadRuns(0).taskRuns.length == 3)
    // the 2 s sleep must actually gate completion (BASELINE.md
    // sleep_skew: observed >= requested)
    assert(elapsed >= 2000L, s"completed too fast: ${elapsed}ms")
  }

  test("streaming: one multiplexed query serves multiple specs and runs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val specA = wfSpec("mux_a", "main",
      thread("main", Map("who" -> WFRunVariableDef(VarType.STRING)),
        nodes = Seq(
          mutate(task("a0", "hello_there", "name" -> varRef("who")),
            "who" -> mut(Mutations.Op.ADD, literal = "!"))),
        edges = Nil))
    val specB = wfSpec("mux_b", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("b0", "echo_task", "thing" -> lit("one")),
          task("b1", "echo_task", "thing" -> lit("two"))),
        edges = Seq(edge("b0", "b1"))))

    val input = MemoryStream[WFEvent]
    val outputs = Scheduler(input.toDS(),
      Map(specA.name -> specA, specB.name -> specB))
    val finals = TrieMap.empty[String, String] // runId -> final snapshot json

    val query = outputs.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SchedulerOut], _: Long) =>
        batch.collect().foreach {
          case r if r.kind == SchedulerOut.TSR =>
            val tsr = EventCodec.decodeTsr(r.json)
            Simulator.sharedTasks(tsr.taskDefName, tsr.variableSubstitutions) match {
              case Simulator.Ok(v, _) =>
                val t = now()
                input.addData(WFEvent(tsr.wfSpecId, tsr.wfSpecName,
                  tsr.wfRunId, t, tsr.threadId, WFEventType.TASK_EVENT,
                  EventCodec.encodeTaskRunEvent(TaskRunEvent(
                    tsr.threadId, tsr.taskRunPosition, t, 0, None,
                    Some(TaskRunEndedPayload(TaskRunResult(
                      Some(LHJson.render(v)), None, success = true, 0)))))))
              case other => fail(s"unexpected behavior $other")
            }
          case r if r.status == Status.COMPLETED =>
            finals.put(r.wfRunId, r.json)
          case _ => ()
        }
      }
      .start()

    try {
      val runs = Seq(
        ("a-1", specA, Map[String, Any]("who" -> "Obi-Wan")),
        ("a-2", specA, Map[String, Any]("who" -> "Grievous")),
        ("b-1", specB, Map.empty[String, Any]),
        ("b-2", specB, Map.empty[String, Any]))
      runs.foreach { case (id, sp, vars) =>
        input.addData(WFEvent(sp.objectId, sp.name, id, now(), 0,
          WFEventType.WF_RUN_STARTED,
          EventCodec.encodeRunRequest(WFRunRequest(
            ListMap.from(vars), sp.objectId, Some(id)))))
      }
      val deadline = now() + 30000
      while (finals.size < 4 && now() < deadline) Thread.sleep(150)
      assert(finals.keySet == Set("a-1", "a-2", "b-1", "b-2"),
        s"completed: ${finals.keySet}")

      // per-key isolation: each run folded against its own spec + vars
      val a1 = StateCodec.decode(finals("a-1"))
      assert(a1.threadRuns(0).variables("who") == "Obi-Wan!")
      assert(a1.threadRuns(0).taskRuns(0).stdout == "Hello there, Obi-Wan!")
      val a2 = StateCodec.decode(finals("a-2"))
      assert(a2.threadRuns(0).variables("who") == "Grievous!")
      val b1 = StateCodec.decode(finals("b-1"))
      assert(b1.threadRuns(0).taskRuns.map(_.stdout).toSeq == Seq("one", "two"))
    } finally query.stop()
  }

  test("at-least-once: duplicated task-event deliveries fold idempotently") {
    // every started+ended pair delivered twice — the consumer-side
    // dedupe keyed (wfRunId, threadId, taskRunPosition) must make the
    // outcome identical to exactly-once delivery (reference gets this
    // from worker Kafka txns, TaskWorker.java:102-145; SURVEY §7.4-4)
    val (statuses, finalState) = driveStreaming(
      basicWf,
      externalAfterTsrs = Some((1, "my-name", "Obi-Wan")),
      duplicateDeliveries = true)
    assert(statuses.last == Status.COMPLETED)
    val thr = finalState.threadRuns(0)
    assert(thr.variables("my_name_var") == "Obi-Wan")
    assert(thr.taskRuns.length == 3, s"duplicated folds: ${thr.taskRuns.length}")
    assert(thr.taskRuns(2).stdout == "Hello there, Obi-Wan!")
  }

  test("read-your-writes: writes are visible after the offset barrier, no polling") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val spec = wfSpec("ryw_wf", "main",
      thread("main", Map.empty,
        nodes = Seq(task("n0", "echo_task", "thing" -> lit("hi"))),
        edges = Nil))

    val input = MemoryStream[WFEvent]
    val outputs = Scheduler(input.toDS(), Map(spec.name -> spec))
    val snapshots = TrieMap.empty[Long, String] // seq -> status
    val query = outputs.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SchedulerOut], _: Long) =>
        batch.collect().foreach { r =>
          if (r.kind == SchedulerOut.SNAPSHOT) snapshots.put(r.seq, r.status)
        }
      }
      .start()

    try {
      // write 1: start the run; the barrier alone must make the RUNNING
      // snapshot visible — the reference blocks POSTs exactly this way
      // (APIStreamsContext.waitForProcessing)
      val off1 = input.addData(
        WFEvent(spec.objectId, spec.name, "ryw-1", now(), 0,
          WFEventType.WF_RUN_STARTED,
          EventCodec.encodeRunRequest(WFRunRequest(
            ListMap.empty, spec.objectId, Some("ryw-1")))))
      ReadYourWrites.awaitProcessed(query, off1.json().toLong)
      assert(snapshots.nonEmpty, "snapshot not visible after barrier")
      assert(snapshots(snapshots.keys.min) == Status.RUNNING)

      // write 2: complete the task; after the barrier the COMPLETED
      // snapshot must already be there — no sleep, no retry loop
      val t = now()
      val off2 = input.addData(
        WFEvent(spec.objectId, spec.name, "ryw-1", t, 0,
          WFEventType.TASK_EVENT,
          EventCodec.encodeTaskRunEvent(TaskRunEvent(
            0, 0, t, 0, None,
            Some(TaskRunEndedPayload(TaskRunResult(
              Some("hi"), None, success = true, 0)))))))
      ReadYourWrites.awaitProcessed(query, off2.json().toLong)
      assert(snapshots(snapshots.keys.max) == Status.COMPLETED,
        s"statuses=${snapshots.toVector.sortBy(_._1)}")
    } finally query.stop()
  }

  test("streaming: external-event timeout halts the run") {
    val spec = wfSpec("ee_timeout_stream", "main",
      thread("main",
        Map("got" -> WFRunVariableDef(VarType.STRING)),
        nodes = Seq(
          mutate(Node(name = "n0", nodeType = NodeType.EXTERNAL_EVENT,
            externalEventDefName = Some("never-comes"),
            timeoutSeconds = Some(lit(2))),
            "got" -> mut(Mutations.Op.ASSIGN))),
        edges = Nil))
    val (statuses, finalState) = driveStreaming(spec)
    assert(statuses.last == Status.HALTED)
    val tr = finalState.threadRuns(0).taskRuns(0)
    assert(tr.failureReason.contains(FailureReason.TIMEOUT))
  }
}
