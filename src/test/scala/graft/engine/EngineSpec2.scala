package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import Harness._
import Mutations.{Op => M}

/** Batch 2 of harness ports: external events + timeouts, SLEEP,
  * SPAWN_THREAD / WAIT_FOR_THREAD with variable locks, interrupts,
  * retries, manual stop/resume, THROW_EXCEPTION + handlers.
  */
class EngineSpec2 extends AnyFunSuite {

  private val PAYLOAD = "GENERAL KENOBI"

  // ===== external_event_basic.py =====

  private val externalEventSpec = wfSpec("external_event_basic", "main",
    thread("main",
      Map("my_name" -> WFRunVariableDef(VarType.STRING)),
      nodes = Seq(
        mutate(
          Node(name = "n0", nodeType = NodeType.EXTERNAL_EVENT,
            externalEventDefName = Some("my-name"),
            timeoutSeconds = Some(lit(3))),
          "my_name" -> mut(M.ASSIGN)),
        task("n1", "hello_there", "name" -> varRef("my_name"))),
      edges = Seq(edge("n0", "n1"))))

  test("external_event_basic case 0: no event -> TIMEOUT halt") {
    val (s, _) = Harness.run(externalEventSpec)
    assert(s.status == Status.HALTED)
    assert(s.threadRuns.length == 1)
    val task0 = mainThread(s).taskRuns(0)
    assert(task0.status == Status.HALTED)
    assert(task0.failureReason.contains(FailureReason.TIMEOUT))
  }

  test("external_event_basic case 1: event arrives -> completes") {
    val (s, _) = Harness.run(externalEventSpec,
      externals = Seq(ExternalInput(2000L, "my-name", PAYLOAD)))
    assert(s.status == Status.COMPLETED)
    val thr = mainThread(s)
    assert(thr.taskRuns(0).status == Status.COMPLETED)
    assert(thr.taskRuns(0).stdout == PAYLOAD)
    assert(thr.variables("my_name") == PAYLOAD)
    assert(thr.taskRuns(1).stdout == s"Hello there, $PAYLOAD!")
  }

  test("external event arriving before node activation is buffered") {
    // event posted at t=1001, before the entrypoint EXTERNAL_EVENT edge
    // fires; the correl buffer (WFRun.handleExternalEvent) must hold it.
    val spec = wfSpec("ee_buffered", "main",
      thread("main", Map("my_name" -> WFRunVariableDef(VarType.STRING)),
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("first")),
          mutate(
            Node(name = "n1", nodeType = NodeType.EXTERNAL_EVENT,
              externalEventDefName = Some("my-name")),
            "my_name" -> mut(M.ASSIGN))),
        edges = Seq(edge("n0", "n1"))))
    val (s, _) = Harness.run(spec,
      externals = Seq(ExternalInput(1001L, "my-name", PAYLOAD)))
    assert(s.status == Status.COMPLETED)
    assert(mainThread(s).variables("my_name") == PAYLOAD)
  }

  test("two buffered events: the LAST unassigned one is consumed") {
    // reference's candidate loop has no break (ThreadRun.java:950-957)
    val spec = wfSpec("ee_last_wins", "main",
      thread("main", Map("got" -> WFRunVariableDef(VarType.STRING)),
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("first")),
          mutate(Node(name = "n1", nodeType = NodeType.EXTERNAL_EVENT,
            externalEventDefName = Some("my-name")),
            "got" -> mut(M.ASSIGN))),
        edges = Seq(edge("n0", "n1"))))
    // both events arrive while n0 is still running (worker takes 60ms)
    val (s, _) = Harness.run(spec,
      externals = Seq(
        ExternalInput(1020L, "my-name", "EARLY"),
        ExternalInput(1030L, "my-name", "LATE")))
    assert(s.status == Status.COMPLETED)
    assert(mainThread(s).variables("got") == "LATE")
    // the early event stays buffered and unassigned
    val correls = s.correlatedEvents("my-name")
    assert(correls.count(_.assignedNodeName.isEmpty) == 1)
    assert(correls.find(_.assignedNodeName.isEmpty).get
      .event.content == "EARLY")
  }

  test("STOP/RESUME wire events without threadId default to thread 0") {
    val e = EventCodec.decodeWFEvent(
      """{"wfRunId": "r", "type": "WF_RUN_STOP_REQUEST",
        | "timestamp": 5000}""".stripMargin)
    assert(e.threadId == 0) // Jackson's missing-int default in the reference
    val spec = wfSpec("stop_wire", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("a")),
          Node(name = "n1", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(5)))),
        edges = Seq(edge("n0", "n1"))))
    // drive a run then apply the wire-decoded stop: run-level status
    // must move to HALTING/HALTED (was wedged RUNNING with default -1)
    val (st1, _) = Harness.run(spec,
      stopResumes = Seq(StopResume(1500L, stop = true)))
    assert(st1.status == Status.HALTED)
  }

  // ===== SLEEP node =====

  test("sleep node completes after timer fires") {
    val spec = wfSpec("sleepy", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("before")),
          Node(name = "n1", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(2))),
          task("n2", "echo_task", "thing" -> lit("after"))),
        edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))
    val (s, _) = Harness.run(spec)
    assert(s.status == Status.COMPLETED)
    val thr = mainThread(s)
    assert(thr.taskRuns.length == 3)
    val sleepTask = thr.taskRuns(1)
    assert(sleepTask.status == Status.COMPLETED)
    // sleep completed exactly at its maturation: activation time + 2s
    val sleepActivated = thr.taskRuns(0).endTime.get
    assert(sleepTask.endTime.contains(sleepActivated + 2000L))
  }

  test("sleep with non-int duration fails the node with INVALID_WF_SPEC_ERROR") {
    val spec = wfSpec("sleepy_bad", "main",
      thread("main", Map.empty,
        nodes = Seq(
          Node(name = "n0", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit("soon")))),
        edges = Nil))
    val (s, _) = Harness.run(spec)
    assert(s.status == Status.HALTED)
    val tr = mainThread(s).taskRuns(0)
    assert(tr.failureReason.contains(FailureReason.INVALID_WF_SPEC_ERROR))
  }

  // ===== threads_basic.py =====

  private val threadsBasicSpec = wfSpec("threads_basic", "main",
    thread("main",
      Map(
        "input_var" -> WFRunVariableDef(VarType.INT),
        "parent_var" -> WFRunVariableDef(VarType.INT),
        "temp1" -> WFRunVariableDef(VarType.INT),
        "temp2" -> WFRunVariableDef(VarType.INT),
        "temp3" -> WFRunVariableDef(VarType.INT)),
      nodes = Seq(
        mutate(task("n0", "increment", "foo" -> varRef("input_var")),
          "parent_var" -> mut(M.ASSIGN)),
        mutate(Node(name = "n1", nodeType = NodeType.SPAWN_THREAD,
          threadSpawnThreadSpecName = Some("subthread")),
          "temp1" -> mut(M.ASSIGN, jsonPath = "$.threadId")),
        mutate(Node(name = "n2", nodeType = NodeType.SPAWN_THREAD,
          threadSpawnThreadSpecName = Some("subthread")),
          "temp2" -> mut(M.ASSIGN, jsonPath = "$.threadId")),
        mutate(Node(name = "n3", nodeType = NodeType.SPAWN_THREAD,
          threadSpawnThreadSpecName = Some("bigger_subthread")),
          "temp3" -> mut(M.ASSIGN, jsonPath = "$.threadId")),
        Node(name = "n4", nodeType = NodeType.WAIT_FOR_THREAD,
          threadWaitThreadId = Some(varRef("temp1"))),
        Node(name = "n5", nodeType = NodeType.WAIT_FOR_THREAD,
          threadWaitThreadId = Some(varRef("temp2"))),
        Node(name = "n6", nodeType = NodeType.WAIT_FOR_THREAD,
          threadWaitThreadId = Some(varRef("temp3"))),
        mutate(task("n7", "increment", "foo" -> lit(2)),
          "parent_var" -> mut(M.DIVIDE))),
      edges = Seq(
        edge("n0", "n1"), edge("n1", "n2"), edge("n2", "n3"),
        edge("n3", "n4"), edge("n4", "n5"), edge("n5", "n6"),
        edge("n6", "n7"))),
    thread("subthread", Map.empty,
      nodes = Seq(
        mutate(task("s0", "increment", "foo" -> lit(12)),
          "parent_var" -> mut(M.ADD))),
      edges = Nil),
    thread("bigger_subthread", Map.empty,
      nodes = Seq(
        task("b0", "increment", "foo" -> lit(123456)),
        mutate(task("b1", "increment", "foo" -> lit(4)),
          "parent_var" -> mut(M.SUBTRACT))),
      edges = Seq(edge("b0", "b1"))))

  test("threads_basic: children mutate the shared parent var under locks") {
    for (i <- -20 until 20) {
      val (s, _) = Harness.run(threadsBasicSpec, Map("input_var" -> i))
      assert(s.threadRuns.length == 4, s"input $i -> 4 threads")
      s.threadRuns.foreach(t =>
        assert(t.status == Status.COMPLETED, s"input $i thread ${t.id}"))
      val answer = (1 + i + 26 - 5) / 3.0
      assert(mainThread(s).variables("parent_var") == answer.toInt, s"input $i")
      assert(mainThread(s).variables("input_var") == i)
    }
  }

  test("wait_for_thread on a failed child without handler fails the parent") {
    val spec = wfSpec("wait_failed_child", "main",
      thread("main",
        Map("tempv" -> WFRunVariableDef(VarType.INT)),
        nodes = Seq(
          mutate(Node(name = "n0", nodeType = NodeType.SPAWN_THREAD,
            threadSpawnThreadSpecName = Some("failing")),
            "tempv" -> mut(M.ASSIGN, jsonPath = "$.threadId")),
          Node(name = "n1", nodeType = NodeType.WAIT_FOR_THREAD,
            threadWaitThreadId = Some(varRef("tempv")))),
        edges = Seq(edge("n0", "n1"))),
      thread("failing", Map.empty,
        nodes = Seq(task("f0", "boom")), edges = Nil))
    val (s, _) = Harness.run(spec,
      tasks = (n, in, _) =>
        if (n == "boom") Fail("kablam") else sharedTasks(n, in))
    assert(s.status == Status.HALTED)
    // Parity quirk: the reference mutates the wait TaskRun but never
    // adds it to taskRuns on the subthread-failure branch
    // (ThreadRun.java:1044-1056 — completeTask doesn't add), so the
    // snapshot's last recorded task is the SPAWN node and the failed
    // wait leaves no TaskRun behind.
    val main = mainThread(s)
    assert(!main.taskRuns.exists(_.nodeName == "n1"))
    assert(main.taskRuns.last.nodeName == "n0")
    assert(main.haltReasons.contains(HaltReason.FAILED))
  }

  // ===== interrupts.py =====

  private val interruptsSpec = wfSpec("interrupts", "main",
    thread("main", Map.empty,
      nodes = Seq(
        task("n0", "echo_task", "thing" -> lit("first")),
        Node(name = "n1", nodeType = NodeType.SLEEP,
          timeoutSeconds = Some(lit(5))),
        task("n2", "echo_task", "thing" -> lit("third"))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2")),
      interrupts = Map("some-event" -> "interrupt_handler")),
    thread("interrupt_handler", Map.empty,
      nodes = Seq(
        task("h0", "hello_there", "name" -> lit("from the interrupt thread"))),
      edges = Nil))

  test("interrupts case 0: no interrupt -> 3 tasks complete") {
    val (s, _) = Harness.run(interruptsSpec)
    assert(s.status == Status.COMPLETED)
    assert(s.threadRuns.length == 1)
    assert(mainThread(s).taskRuns.length == 3)
    assert(mainThread(s).taskRuns.forall(_.status == Status.COMPLETED))
  }

  test("interrupts case 1: interrupt during sleep runs handler, parent resumes") {
    val (s, _) = Harness.run(interruptsSpec,
      externals = Seq(ExternalInput(3000L, "some-event", "YOU ARE A BOLD ONE!")))
    assert(s.status == Status.COMPLETED)
    assert(s.threadRuns.length == 2)
    val handler = s.threadRuns(1)
    assert(handler.isInterruptThread)
    assert(handler.status == Status.COMPLETED)
    assert(handler.taskRuns(0).stdout == "Hello there, from the interrupt thread!")
    val main = mainThread(s)
    assert(main.status == Status.COMPLETED)
    assert(main.taskRuns.length == 3)
    assert(main.handledInterruptThreadIds.toSeq == Seq(1))
  }

  test("interrupts_with_payload: payload unsplats into handler variables") {
    val spec = wfSpec("interrupts_payload", "main",
      thread("main", Map.empty,
        nodes = Seq(
          Node(name = "n0", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(5)))),
        edges = Nil,
        interrupts = Map("some-event" -> "handler")),
      thread("handler",
        Map("some_field" -> WFRunVariableDef(VarType.STRING)),
        nodes = Seq(
          task("h0", "hello_there", "name" -> varRef("some_field"))),
        edges = Nil))
    val (s, _) = Harness.run(spec,
      externals = Seq(ExternalInput(3000L, "some-event",
        ListMap[String, Any]("some_field" -> "obi-wan"))))
    assert(s.status == Status.COMPLETED)
    val handler = s.threadRuns(1)
    assert(handler.variables("some_field") == "obi-wan")
    assert(handler.taskRuns(0).stdout == "Hello there, obi-wan!")
  }

  // ===== interrupts_multiple.py =====

  private val interruptsMultipleSpec = wfSpec("interrupts_multiple", "main",
    thread("main", Map.empty,
      nodes = Seq(
        task("n0", "hello_there", "name" -> lit("R2-D2")),
        Node(name = "n1", nodeType = NodeType.SLEEP,
          timeoutSeconds = Some(lit(5)))),
      edges = Seq(edge("n0", "n1")),
      interrupts = Map(
        "some-event" -> "some_event_handler",
        "another-event" -> "another_event_handler")),
    thread("some_event_handler", Map.empty,
      nodes = Seq(task("h0", "hello_there", "name" -> lit("General Kenobi"))),
      edges = Nil),
    thread("another_event_handler", Map.empty,
      nodes = Seq(task("a0", "hello_there", "name" -> lit("Padawan"))),
      edges = Nil))

  test("interrupts_multiple: each registered event routes to its handler") {
    for ((event, expect) <- Seq(
      ("some-event", "Hello there, General Kenobi!"),
      ("another-event", "Hello there, Padawan!"))) {
      val (s, _) = Harness.run(interruptsMultipleSpec,
        externals = Seq(ExternalInput(3000L, event, "hola")))
      assert(s.status == Status.COMPLETED, event)
      assert(s.threadRuns.length == 2, event)
      val main = mainThread(s)
      assert(main.taskRuns.length == 2) // hello + sleep
      assert(main.taskRuns(0).stdout == "Hello there, R2-D2!")
      assert(main.taskRuns.forall(_.status == Status.COMPLETED))
      val handler = s.threadRuns(1)
      assert(handler.status == Status.COMPLETED, event)
      assert(handler.taskRuns.length == 1)
      assert(handler.taskRuns(0).stdout == expect, event)
    }
    // note: the reference cannot stack two interrupts on one run — its
    // own interrupts_multiple_2 case is commented out as unsupported.
  }

  // ===== E1 metadata variable sources =====

  test("wfRunMetadata assignments: WF_RUN_GUID/WF_SPEC_NAME/THREAD_ID/defaults") {
    def meta(name: String) = VariableAssignment(wfRunMetadata = Some(name))
    val spec = wfSpec("meta_vars", "main",
      thread("main",
        Map(
          "run_guid" -> WFRunVariableDef(VarType.STRING),
          "spec_name" -> WFRunVariableDef(VarType.STRING),
          "thread_id" -> WFRunVariableDef(VarType.INT),
          "fallback" -> WFRunVariableDef(VarType.STRING)),
        nodes = Seq(
          mutate(task("n0", "echo_task", "thing" -> lit("x")),
            "run_guid" -> mut(Mutations.Op.ASSIGN).copy(
              sourceVariable = Some(meta("WF_RUN_GUID"))),
            "spec_name" -> mut(Mutations.Op.ASSIGN).copy(
              sourceVariable = Some(meta("WF_SPEC_NAME"))),
            "thread_id" -> mut(Mutations.Op.ASSIGN).copy(
              sourceVariable = Some(meta("THREAD_ID"))),
            "fallback" -> mut(Mutations.Op.ASSIGN).copy(
              sourceVariable = Some(VariableAssignment(
                defaultValue = "the-default"))))),
        edges = Nil))
    val (s, _) = Harness.run(spec)
    assert(s.status == Status.COMPLETED)
    val vars = mainThread(s).variables
    assert(vars("run_guid") == "run-1")
    assert(vars("spec_name") == "meta_vars")
    assert(vars("thread_id") == 0)
    assert(vars("fallback") == "the-default")
  }

  // ===== retries_task.py =====

  private def retriesSpec(numRetries: Int) = wfSpec("retries_task", "main",
    thread("main", Map.empty,
      nodes = Seq(
        Node(name = "n0", nodeType = NodeType.TASK,
          taskDefName = Some("unreliable_task"), numRetries = numRetries)),
      edges = Nil))

  test("retries: fail twice then succeed within numRetries=2") {
    val (s, tsrs) = Harness.run(retriesSpec(2),
      tasks = (n, in, idx) =>
        if (n == "unreliable_task") {
          if (idx < 2) Fail("assertion failed") else Ok("WE WOULD BE HONORED")
        } else sharedTasks(n, in))
    assert(s.status == Status.COMPLETED)
    val thr = mainThread(s)
    assert(thr.taskRuns.length == 3)
    // all attempts share `number` 0, attemptNumber increments
    assert(thr.taskRuns.map(_.number).toSeq == Seq(0, 0, 0))
    assert(thr.taskRuns.map(_.attemptNumber).toSeq == Seq(0, 1, 2))
    assert(thr.taskRuns.last.status == Status.COMPLETED)
    assert(tsrs.count(_.taskDefName == "unreliable_task") == 3)
  }

  test("retries: three failures exhaust numRetries=2 and halt the run") {
    val (s, _) = Harness.run(retriesSpec(2),
      tasks = (n, in, _) =>
        if (n == "unreliable_task") Fail("assertion failed")
        else sharedTasks(n, in))
    assert(s.status == Status.HALTED)
    val thr = mainThread(s)
    assert(thr.taskRuns.length == 3)
    assert(thr.taskRuns.forall(_.status == Status.HALTED))
    assert(thr.taskRuns.last.failureReason.contains(FailureReason.TASK_FAILURE))
  }

  test("retries_task_timeout: TIMEOUT is retryable; second attempt succeeds") {
    val spec = wfSpec("retries_timeout", "main",
      thread("main", Map.empty,
        nodes = Seq(
          Node(name = "n0", nodeType = NodeType.TASK,
            taskDefName = Some("slow_task"), numRetries = 2,
            timeoutSeconds = Some(lit(1)))),
        edges = Nil))
    val (s, _) = Harness.run(spec,
      tasks = (n, in, idx) =>
        if (n == "slow_task") {
          if (idx == 0) NoResponse else Ok("Hello, there!", duration = 50)
        } else sharedTasks(n, in))
    assert(s.status == Status.COMPLETED)
    val thr = mainThread(s)
    assert(thr.taskRuns.length == 2)
    assert(thr.taskRuns(0).failureReason.contains(FailureReason.TIMEOUT))
    assert(thr.taskRuns(1).status == Status.COMPLETED)
  }

  test("late task result after timeout is ignored") {
    val spec = wfSpec("late_result", "main",
      thread("main", Map.empty,
        nodes = Seq(
          Node(name = "n0", nodeType = NodeType.TASK,
            taskDefName = Some("slow_task"),
            timeoutSeconds = Some(lit(1)))),
        edges = Nil))
    // Worker responds after 3s — well past the 1s timeout.
    val (s, _) = Harness.run(spec,
      tasks = (_, _, _) => Ok("too late", duration = 3000))
    assert(s.status == Status.HALTED)
    val tr = mainThread(s).taskRuns(0)
    assert(tr.status == Status.HALTED)
    assert(tr.failureReason.contains(FailureReason.TIMEOUT))
    assert(tr.stdout == null) // the late stdout was NOT applied
  }

  // ===== stop / resume (M6) =====

  test("manual stop halts the run; resume completes it") {
    val spec = wfSpec("stop_resume", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("a")),
          Node(name = "n1", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(2))),
          task("n2", "echo_task", "thing" -> lit("b"))),
        edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))
    val (s, _) = Harness.run(spec,
      stopResumes = Seq(
        StopResume(1500L, stop = true),
        StopResume(10000L, stop = false)))
    assert(s.status == Status.COMPLETED)
    assert(mainThread(s).taskRuns.length == 3)
  }

  test("manual stop without resume leaves the run HALTED") {
    val spec = wfSpec("stop_only", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("a")),
          Node(name = "n1", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(2))),
          task("n2", "echo_task", "thing" -> lit("b"))),
        edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))
    val (s, _) = Harness.run(spec,
      stopResumes = Seq(StopResume(1500L, stop = true)))
    assert(s.status == Status.HALTED)
    assert(mainThread(s).haltReasons.contains(HaltReason.MANUAL_STOP))
  }

  // ===== THROW_EXCEPTION + handlers (M3) =====

  test("failed task with baseExceptionhandler runs handler then parent resumes") {
    val spec = wfSpec("exc_handler", "main",
      thread("main", Map.empty,
        nodes = Seq(
          Node(name = "n0", nodeType = NodeType.TASK,
            taskDefName = Some("boom"),
            baseExceptionhandler = Some(ExceptionHandlerSpec("handler")))),
        edges = Nil),
      thread("handler", Map.empty,
        nodes = Seq(task("h0", "echo_task", "thing" -> lit("handled"))),
        edges = Nil))
    val (s, _) = Harness.run(spec,
      tasks = (n, in, _) =>
        if (n == "boom") Fail("kablam") else sharedTasks(n, in))
    assert(s.status == Status.COMPLETED)
    assert(s.threadRuns.length == 2)
    assert(s.threadRuns(1).isInterruptThread)
    assert(s.threadRuns(1).taskRuns(0).stdout == "handled")
    assert(mainThread(s).status == Status.COMPLETED)
  }

  test("THROW_EXCEPTION node fails the thread and sets exceptionName") {
    val spec = wfSpec("thrower", "main",
      thread("main", Map.empty,
        nodes = Seq(
          task("n0", "echo_task", "thing" -> lit("x")),
          Node(name = "n1", nodeType = NodeType.THROW_EXCEPTION,
            exceptionToThrow = Some("my-exc"))),
        edges = Seq(edge("n0", "n1"))))
    val (s, _) = Harness.run(spec)
    assert(s.status == Status.HALTED)
    assert(mainThread(s).exceptionName.contains("my-exc"))
    assert(mainThread(s).haltReasons.contains(HaltReason.FAILED))
  }

  /** Faithful-port note: in the reference, the WAIT_FOR_THREAD
    * custom-handler branch (ThreadRun.java:1057-1070) calls
    * completeTask(HALTED) — whose failTask() HALTs the parent with
    * FAILED — *before* handleException spawns the handler thread. The
    * handler therefore inherits the parent's HALTING status plus a
    * PARENT_STOPPED halt reason (WFRun.createThreadClientAdds:
    * WFRun.java:128-137) and never executes; the parent keeps the FAILED
    * reason forever. The reference harness has no test covering this
    * path — this test pins the reference's actual (stuck) semantics so a
    * future "fix" is a conscious divergence. */
  test("WAIT_FOR_THREAD custom handler: reference semantics leave handler unrun") {
    val spec = wfSpec("exc_custom", "main",
      thread("main",
        Map("tempv" -> WFRunVariableDef(VarType.INT)),
        nodes = Seq(
          mutate(Node(name = "n0", nodeType = NodeType.SPAWN_THREAD,
            threadSpawnThreadSpecName = Some("child")),
            "tempv" -> mut(M.ASSIGN, jsonPath = "$.threadId")),
          Node(name = "n1", nodeType = NodeType.WAIT_FOR_THREAD,
            threadWaitThreadId = Some(varRef("tempv")),
            customExceptionHandlers =
              Map("my-exc" -> ExceptionHandlerSpec("catcher")))),
        edges = Seq(edge("n0", "n1"))),
      thread("child", Map.empty,
        nodes = Seq(
          Node(name = "c0", nodeType = NodeType.THROW_EXCEPTION,
            exceptionToThrow = Some("my-exc"))),
        edges = Nil),
      thread("catcher", Map.empty,
        nodes = Seq(task("k0", "echo_task", "thing" -> lit("caught"))),
        edges = Nil))
    val (s, _) = Harness.run(spec)
    assert(s.status == Status.RUNNING) // stuck: not all threads terminate
    val catcher = s.threadRuns.find(_.threadSpecName == "catcher").get
    assert(catcher.status == Status.HALTED)
    assert(catcher.taskRuns.isEmpty) // handler never executed
    assert(catcher.haltReasons.contains(HaltReason.PARENT_STOPPED))
    val main = mainThread(s)
    assert(main.haltReasons.contains(HaltReason.FAILED))
    assert(main.haltReasons.contains(HaltReason.INTERRUPT))
  }

  // ===== speed_test shape (BASELINE.md workload) =====

  test("speed_test: 50 sequential tasks complete") {
    val nodes = (0 until 50).map(i =>
      task(s"n$i", "echo_task", "thing" -> lit(s"task-$i")))
    val edges = (0 until 49).map(i => edge(s"n$i", s"n${i + 1}"))
    val spec = wfSpec("speed_test", "main",
      thread("main", Map.empty, nodes = nodes, edges = edges))
    val (s, tsrs) = Harness.run(spec)
    assert(s.status == Status.COMPLETED)
    assert(mainThread(s).taskRuns.length == 50)
    assert(tsrs.length == 50)
  }
}
