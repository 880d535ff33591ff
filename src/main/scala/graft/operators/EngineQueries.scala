package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

import graft.engine._
import graft.engine.Simulator.{ExternalInput, Fail, Ok, StopResume}
import graft.sources.Tables

/** Engine-parity queries: each drives the REAL workflow engine
  * ([[graft.engine.Engine]]) over deterministic per-row workloads
  * derived from the testdata tables, so the driver's DuckDB oracle can
  * hash-check the engine's arithmetic, branching, timers, retries,
  * interrupts, locks and status rollup (SURVEY.md §2.2-§2.5 inventory).
  *
  * Scale shape: one workflow run per input row is embarrassingly
  * parallel — a `Dataset.map` with ZERO shuffles (the engine fold is
  * per-key state; no cross-key coordination exists in the reference, see
  * SURVEY §7.1). At 100 TB this plan is a single scan + narrow map +
  * (optional) final sort; the streaming deployment of the same engine
  * uses flatMapGroupsWithState instead (graft.streaming).
  */
object EngineQueries {

  import graft.engine.SpecBuilders._

  // ===== specs (built once; serialized into task closures) =====

  /** Mutation-chain workflow: INT + FLOAT arithmetic through 4 task
    * nodes (E3-E8, E12 coercions, R1 fold, N1 scheduling). */
  private val mutationSpec = wfSpec("mutation_chain", "main",
    thread("main",
      Map("x" -> WFRunVariableDef(VarType.INT),
        "f" -> WFRunVariableDef(VarType.FLOAT)),
      nodes = Seq(
        mutate(task("n0", "echo_task", "thing" -> lit("a")),
          "x" -> mut(Mutations.Op.ADD, literal = 7),
          "f" -> mut(Mutations.Op.ADD, literal = 1.5)),
        mutate(task("n1", "echo_task", "thing" -> lit("b")),
          "x" -> mut(Mutations.Op.MULTIPLY, literal = 3),
          "f" -> mut(Mutations.Op.SUBTRACT, literal = 100.0)),
        mutate(task("n2", "echo_task", "thing" -> lit("c")),
          "x" -> mut(Mutations.Op.DIVIDE, literal = 7),
          "f" -> mut(Mutations.Op.MULTIPLY, literal = 2.0)),
        mutate(task("n3", "echo_task", "thing" -> lit("d")),
          "x" -> mut(Mutations.Op.SUBTRACT, literal = 2),
          "f" -> mut(Mutations.Op.DIVIDE, literal = 4.0))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2"), edge("n2", "n3"))))

  /** Conditional cascade building a path string (E15 comparators incl.
    * IN/NOT_IN/EQUALS/NOT_EQUALS, E4 string concat). */
  private val conditionalSpec = {
    val c = varRef("c")
    wfSpec("conditional_path", "main",
      thread("main",
        Map("c" -> WFRunVariableDef(VarType.INT),
          "path" -> WFRunVariableDef(VarType.STRING, defaultValue = "")),
        nodes = Seq(
          mutate(task("n0", "echo_task", "thing" -> lit("s")),
            "path" -> mut(Mutations.Op.ADD, literal = "S")),
          mutate(task("n1", "echo_task", "thing" -> lit("h")),
            "path" -> mut(Mutations.Op.ADD, literal = "H")),
          mutate(task("n2", "echo_task", "thing" -> lit("l")),
            "path" -> mut(Mutations.Op.ADD, literal = "L")),
          nop("n3"),
          mutate(task("n4", "echo_task", "thing" -> lit("p")),
            "path" -> mut(Mutations.Op.ADD, literal = "P")),
          mutate(task("n5", "echo_task", "thing" -> lit("n")),
            "path" -> mut(Mutations.Op.ADD, literal = "N")),
          nop("n6"),
          mutate(task("n7", "echo_task", "thing" -> lit("e")),
            "path" -> mut(Mutations.Op.ADD, literal = "E")),
          mutate(task("n8", "echo_task", "thing" -> lit("x")),
            "path" -> mut(Mutations.Op.ADD, literal = "X")),
          nop("n9")),
        edges = Seq(
          edge("n0", "n1", cond(c, "GREATER_THAN", lit(12))),
          edge("n0", "n2", cond(c, "LESS_THAN_EQ", lit(12))),
          edge("n1", "n3"), edge("n2", "n3"),
          edge("n3", "n4", cond(c, "IN", lit(Vector(3, 5, 7, 11, 13, 17)))),
          edge("n3", "n5", cond(c, "NOT_IN", lit(Vector(3, 5, 7, 11, 13, 17)))),
          edge("n4", "n6"), edge("n5", "n6"),
          edge("n6", "n7", cond(c, "EQUALS", lit(24))),
          edge("n6", "n8", cond(c, "NOT_EQUALS", lit(24))),
          edge("n7", "n9"), edge("n8", "n9"))))
  }

  /** EXTERNAL_EVENT with a 3 s timeout (N2, M2, R3 timers, R4 rollup). */
  private val externalEventSpec = wfSpec("external_timeout", "main",
    thread("main",
      Map("got" -> WFRunVariableDef(VarType.STRING)),
      nodes = Seq(
        mutate(Node(name = "n0", nodeType = NodeType.EXTERNAL_EVENT,
          externalEventDefName = Some("the-event"),
          timeoutSeconds = Some(lit(3))),
          "got" -> mut(Mutations.Op.ASSIGN)),
        task("n1", "echo_task", "thing" -> varRef("got"))),
      edges = Seq(edge("n0", "n1"))))

  /** threads_basic shape: 3 children mutate the parent var under locks
    * (N3, N4, M5), final divide with int truncation. */
  private val threadsSpec = wfSpec("threads_locks", "main",
    thread("main",
      Map(
        "input_var" -> WFRunVariableDef(VarType.INT),
        "parent_var" -> WFRunVariableDef(VarType.INT),
        "temp1" -> WFRunVariableDef(VarType.INT),
        "temp2" -> WFRunVariableDef(VarType.INT),
        "temp3" -> WFRunVariableDef(VarType.INT)),
      nodes = Seq(
        mutate(task("n0", "increment", "foo" -> varRef("input_var")),
          "parent_var" -> mut(Mutations.Op.ASSIGN)),
        mutate(Node(name = "n1", nodeType = NodeType.SPAWN_THREAD,
          threadSpawnThreadSpecName = Some("subthread")),
          "temp1" -> mut(Mutations.Op.ASSIGN, jsonPath = "$.threadId")),
        mutate(Node(name = "n2", nodeType = NodeType.SPAWN_THREAD,
          threadSpawnThreadSpecName = Some("subthread")),
          "temp2" -> mut(Mutations.Op.ASSIGN, jsonPath = "$.threadId")),
        mutate(Node(name = "n3", nodeType = NodeType.SPAWN_THREAD,
          threadSpawnThreadSpecName = Some("bigger_subthread")),
          "temp3" -> mut(Mutations.Op.ASSIGN, jsonPath = "$.threadId")),
        Node(name = "n4", nodeType = NodeType.WAIT_FOR_THREAD,
          threadWaitThreadId = Some(varRef("temp1"))),
        Node(name = "n5", nodeType = NodeType.WAIT_FOR_THREAD,
          threadWaitThreadId = Some(varRef("temp2"))),
        Node(name = "n6", nodeType = NodeType.WAIT_FOR_THREAD,
          threadWaitThreadId = Some(varRef("temp3"))),
        mutate(task("n7", "increment", "foo" -> lit(2)),
          "parent_var" -> mut(Mutations.Op.DIVIDE))),
      edges = Seq(
        edge("n0", "n1"), edge("n1", "n2"), edge("n2", "n3"),
        edge("n3", "n4"), edge("n4", "n5"), edge("n5", "n6"),
        edge("n6", "n7"))),
    thread("subthread", Map.empty,
      nodes = Seq(
        mutate(task("s0", "increment", "foo" -> lit(12)),
          "parent_var" -> mut(Mutations.Op.ADD))),
      edges = Nil),
    thread("bigger_subthread", Map.empty,
      nodes = Seq(
        task("b0", "increment", "foo" -> lit(123456)),
        mutate(task("b1", "increment", "foo" -> lit(4)),
          "parent_var" -> mut(Mutations.Op.SUBTRACT))),
      edges = Seq(edge("b0", "b1"))))

  /** Flaky task with numRetries=2 (M1 retry bookkeeping). */
  private val retrySpec = wfSpec("retry_flaky", "main",
    thread("main", Map.empty,
      nodes = Seq(
        Node(name = "n0", nodeType = NodeType.TASK,
          taskDefName = Some("flaky_task"), numRetries = 2)),
      edges = Nil))

  /** Flaky task with numRetries=1 AND a baseExceptionhandler (M3 +
    * M1 interplay: handler fires only after retries are exhausted —
    * reference ThreadRun.failTask:455-484 tries retry first, then
    * handleException:441-452 spawns the handler thread, parent resumes
    * once the handler completes). */
  private val handlerSpec = wfSpec("exc_handler", "main",
    thread("main", Map.empty,
      nodes = Seq(
        Node(name = "n0", nodeType = NodeType.TASK,
          taskDefName = Some("boom"), numRetries = 1,
          baseExceptionhandler = Some(ExceptionHandlerSpec("handler")))),
      edges = Nil),
    thread("handler", Map.empty,
      nodes = Seq(task("h0", "echo_task", "thing" -> lit("handled"))),
      edges = Nil))

  /** Sleep workflow with an interrupt handler (M4, N5). */
  private val interruptSpec = wfSpec("interruptible", "main",
    thread("main", Map.empty,
      nodes = Seq(
        task("n0", "echo_task", "thing" -> lit("first")),
        Node(name = "n1", nodeType = NodeType.SLEEP,
          timeoutSeconds = Some(lit(5))),
        task("n2", "echo_task", "thing" -> lit("third"))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2")),
      interrupts = Map("the-interrupt" -> "handler")),
    thread("handler", Map.empty,
      nodes = Seq(task("h0", "hello_there", "name" -> lit("interrupted"))),
      edges = Nil))

  /** Short-sleep workflow for stop/resume (M6): normal runs finish in
    * ~2.2 s of virtual time; a stopped run only finishes after the
    * resume at t=10 s, which the duration flag makes visible. */
  private val stopResumeSpec = wfSpec("stoppable", "main",
    thread("main", Map.empty,
      nodes = Seq(
        task("n0", "echo_task", "thing" -> lit("a")),
        Node(name = "n1", nodeType = NodeType.SLEEP,
          timeoutSeconds = Some(lit(2))),
        task("n2", "echo_task", "thing" -> lit("b"))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))

  /** SLEEP with per-run variable seconds (N5; reference
    * ThreadRun.activateSleepNode:735-768): the timer is the only thing
    * between two echo tasks, and the virtual clock is fully
    * deterministic, so the oracle recomputes the exact run duration —
    * 60 ms per surrounding task (10 ms worker-start latency + 50 ms
    * work, the [[Simulator]] constants) + 1000·secs for the timer. */
  private val sleepSpec = wfSpec("sleep_fold", "main",
    thread("main",
      Map("secs" -> WFRunVariableDef(VarType.INT)),
      nodes = Seq(
        task("n0", "echo_task", "thing" -> lit("pre")),
        Node(name = "n1", nodeType = NodeType.SLEEP,
          timeoutSeconds = Some(varRef("secs"))),
        task("n2", "echo_task", "thing" -> lit("post"))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))

  /** Error containment (R2; reference SchedulerProcessor.process
    * :63-86): waits on an external event; poison runs get a malformed
    * TASK_EVENT aimed at a thread that does not exist instead. */
  private val containSpec = wfSpec("containable", "main",
    thread("main",
      Map("got" -> WFRunVariableDef(VarType.STRING)),
      nodes = Seq(
        mutate(Node(name = "n0", nodeType = NodeType.EXTERNAL_EVENT,
          externalEventDefName = Some("the-event")),
          "got" -> mut(Mutations.Op.ASSIGN)),
        nop("n1")),
      edges = Seq(edge("n0", "n1"))))

  /** Carries a STRING variable for index/search parity (Q2/Q3/Q9). */
  private val searchSpec = wfSpec("search_var", "main",
    thread("main",
      Map("segment" -> WFRunVariableDef(VarType.STRING),
        "spent" -> WFRunVariableDef(VarType.FLOAT)),
      nodes = Seq(task("n0", "echo_task", "thing" -> varRef("segment"))),
      edges = Nil))

  // ===== queries =====

  /** R1 + E3-E8 + E12: mutation arithmetic, int truncation + IEEE float
    * ops — hash-checked against plain SQL arithmetic. */
  def mutationChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = mutationSpec
    Tables(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[(Long, Double)]
      .map { case (ok, price) =>
        val (st, _) = Simulator.run(spec,
          Map("x" -> (ok % 1000).toInt, "f" -> price))
        val vars = st.threadRuns(0).variables
        (ok, Mutations.toInt(vars("x")).toLong,
          Mutations.toDouble(vars("f")), st.status)
      }
      .toDF("wf_run_id", "x_final", "f_final", "status")
      .orderBy($"wf_run_id")
  }

  /** E15 comparators through real edge conditions. */
  def conditionalPath(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = conditionalSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .filter((ok: Long) => ok % 10 == 0) // 1-in-10 sample: fold cost, not scan cost
      .map { ok =>
        val (st, _) = Simulator.run(spec, Map("c" -> (ok % 25).toInt))
        (ok, st.threadRuns(0).variables("path").asInstanceOf[String], st.status)
      }
      .toDF("wf_run_id", "path", "status")
      .orderBy($"wf_run_id")
  }

  /** N2/M2/R3/R4: even keys get the event after 2 s, odd keys time out
    * after 3 s. */
  def externalEventTimeout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = externalEventSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .map { ok =>
        val externals =
          if (ok % 2 == 0) Seq(ExternalInput(3000L, "the-event", s"payload-$ok"))
          else Nil
        val (st, _) = Simulator.run(spec, externals = externals)
        val task0 = st.threadRuns(0).taskRuns(0)
        (ok, st.status, task0.failureReason.orNull)
      }
      .toDF("wf_run_id", "status", "failure_reason")
      .orderBy($"wf_run_id")
  }

  /** N3/N4/M5: lock-serialized parent-variable arithmetic. */
  def threadsLocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = threadsSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .filter((ok: Long) => ok % 10 == 0) // 1-in-10 sample
      .map { ok =>
        val input = (ok % 40 - 20).toInt
        val (st, _) = Simulator.run(spec, Map("input_var" -> input))
        (ok, Mutations.toInt(st.threadRuns(0).variables("parent_var")).toLong,
          st.threadRuns.length.toLong, st.status)
      }
      .toDF("wf_run_id", "parent_var", "n_threads", "status")
      .orderBy($"wf_run_id")
  }

  /** M1: attempts = key%4 failures then success; 3 failures exhaust
    * numRetries=2 and halt. */
  def retryFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = retrySpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .map { ok =>
        val failures = (ok % 4).toInt
        val (st, _) = Simulator.run(spec,
          tasks = (n, in, idx) =>
            if (n == "flaky_task") {
              if (idx < failures) Fail("flake") else Ok("finally")
            } else Simulator.sharedTasks(n, in))
        (ok, st.status, st.threadRuns(0).taskRuns.length.toLong)
      }
      .toDF("wf_run_id", "status", "n_attempts")
      .orderBy($"wf_run_id")
  }

  /** M3: failures = key%3. 0 → clean success; 1 → one retry absorbs the
    * flake (no handler); 2 → retries exhausted, the base exception
    * handler thread runs and the parent resumes to COMPLETED. The
    * halted task keeps its TASK_FAILURE reason; the handler thread's
    * stdout proves the handler actually executed. */
  def handlerFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = handlerSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .filter((ok: Long) => ok % 10 == 0) // 1-in-10 sample
      .map { ok =>
        val failures = (ok % 3).toInt
        val (st, _) = Simulator.run(spec,
          tasks = (n, in, idx) =>
            if (n == "boom") {
              if (idx < failures) Fail("flake") else Ok("ka-boom-avoided")
            } else Simulator.sharedTasks(n, in))
        val main = st.threadRuns(0)
        val handlerOut: String =
          if (st.threadRuns.length > 1 && st.threadRuns(1).isInterruptThread)
            st.threadRuns(1).taskRuns.headOption
              .map(tr => String.valueOf(tr.stdout)).orNull
          else null
        (ok, st.status, st.threadRuns.length.toLong,
          main.taskRuns.length.toLong,
          main.taskRuns.last.failureReason.orNull, handlerOut)
      }
      .toDF("wf_run_id", "status", "n_threads", "n_attempts",
        "last_failure_reason", "handler_stdout")
      .orderBy($"wf_run_id")
  }

  /** M4: every third run is interrupted during its sleep; handler thread
    * runs and the parent resumes. */
  def interruptFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = interruptSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .filter((ok: Long) => ok % 10 == 0) // 1-in-10 sample
      .map { ok =>
        val externals =
          if (ok % 3 == 0)
            Seq(ExternalInput(3000L, "the-interrupt", s"payload-$ok"))
          else Nil
        val (st, _) = Simulator.run(spec, externals = externals)
        (ok, st.status, st.threadRuns.length.toLong,
          st.threadRuns(0).taskRuns.length.toLong)
      }
      .toDF("wf_run_id", "status", "n_threads", "n_tasks")
      .orderBy($"wf_run_id")
  }

  /** M6: odd keys are stopped mid-sleep and resumed at t=10s; the run
    * still completes but visibly later. */
  def stopResumeFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = stopResumeSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .map { ok =>
        val sr =
          if (ok % 2 == 1)
            Seq(StopResume(1500L, stop = true), StopResume(10000L, stop = false))
          else Nil
        val (st, _) = Simulator.run(spec, stopResumes = sr)
        val duration = st.endTime.getOrElse(0L) - st.startTime.getOrElse(0L)
        (ok, st.status, duration > 5000L,
          st.threadRuns(0).taskRuns.length.toLong)
      }
      .toDF("wf_run_id", "status", "resumed_late", "n_tasks")
      .orderBy($"wf_run_id")
  }

  /** N5: timer-driven sleep between two tasks; the deterministic
    * virtual-clock schedule makes run duration an exact oracle
    * formula (120 + 1000·(key mod 5) ms). */
  def sleepFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = sleepSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .map { ok =>
        val (st, _) = Simulator.run(spec, Map("secs" -> (ok % 5).toInt))
        val dur = st.endTime.getOrElse(0L) - st.startTime.getOrElse(0L)
        (ok, st.status, st.threadRuns(0).taskRuns.length.toLong, dur)
      }
      .toDF("wf_run_id", "status", "n_tasks", "duration_ms")
      .orderBy($"wf_run_id")
  }

  /** R2: poison runs (key mod 3 = 0) receive a malformed TASK_EVENT
    * addressed to a thread that does not exist; the containment
    * boundary must HALT just that run with INTERNAL_LITTLEHORSE_ERROR
    * instead of crashing the fold, while clean runs complete via the
    * external event. Drives [[Engine.foldRun]] directly — the batch
    * entry point the reference's SchedulerProcessor.process shapes. */
  def errorContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spec = containSpec
    Tables(s, dir, "orders").select($"o_orderkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[Long]
      .map { ok =>
        val runId = s"run-$ok"
        def ev(tpe: String, time: Long, threadId: Int, content: String) =
          WFEvent(spec.objectId, spec.name, runId, time, threadId, tpe,
            content)
        val start = ev(WFEventType.WF_RUN_STARTED, 1000L, 0,
          EventCodec.encodeRunRequest(WFRunRequest(
            ListMap.empty, spec.objectId, Some(runId))))
        val second =
          if (ok % 3 == 0) // poison: unparseable content, bogus thread
            ev(WFEventType.TASK_EVENT, 2000L, 7, "{not json")
          else
            ev(WFEventType.EXTERNAL_EVENT, 2000L, -1,
              EventCodec.encodeExternalEvent(ExternalEventPayload(
                "the-event", "the-event", s"p-$ok", 2000L)))
        val (stOpt, _) = Engine.foldRun(spec, Seq(start, second))
        val st = stOpt.get
        (ok, st.status, st.errorCode.orNull, st.errorMessage.isDefined)
      }
      .toDF("wf_run_id", "status", "error_code", "has_error_message")
      .orderBy($"wf_run_id")
  }

  /** Q2/Q3/Q9 search surface: fold runs carrying a STRING variable into
    * snapshot-shaped rows (status + the `aliases` map column the
    * streaming sink materializes), then answer the search through the
    * REAL query path — [[graft.streaming.StateTable.latest]] +
    * [[graft.streaming.StateTable.searchByVariable]] — the engine-side
    * equivalent of `lhctl search WFRun segment BUILDING`. The alias
    * predicate is a columnar map lookup, never a snapshot-JSON decode. */
  def varIndexSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.StateTable
    val spec = searchSpec
    val cust = Tables(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    // customer is fact-scale: no broadcast hint (Tables.broadcastable
    // excludes it) — AQE picks the strategy from runtime sizes
    val snapshots = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .join(cust, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment", $"o_totalprice")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[(Long, String, Double)]
      .map { case (ok, seg, price) =>
        val (st, _) = Simulator.run(spec,
          Map("segment" -> seg, "spent" -> price))
        (ok, st.status, 1L, st.aliasMap)
      }
      .toDF("wfRunId", "status", "seq", "aliases")
    val completed = StateTable.latest(snapshots)
      .filter($"status" === "COMPLETED")
    StateTable.searchByVariable(completed, "segment", "BUILDING")
      .select($"wfRunId".as("wf_run_id"))
      .orderBy($"wf_run_id")
  }

  /** E2: the engine's jsonpath evaluator exposed over events.props. */
  def jsonPathProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events").select($"event_id", $"props")
      .transform(Tables.repartitionForCpu(_, col("event_id"))).as[(Long, String)]
      .map { case (id, props) =>
        (id, Mutations.toInt(JsonPath.read(props, "$.k")).toLong)
      }
      .toDF("event_id", "k_value")
      .orderBy($"event_id")
  }

  /** E2 (indefinite paths): jayway deep-scan (`$..k`) and wildcard
    * (`[*]`) list semantics over JSON synthesized from order rows; the
    * oracle recomputes the expected aggregates relationally, so this
    * pins the evaluator's fan-out/skip behavior end to end. */
  def jsonPathIndefinite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
      .transform(Tables.repartitionForCpu(_, col("o_orderkey"))).as[(Long, Long)]
      .map { case (ok, ck) =>
        val json = s"""{"a":{"k":$ok,"noise":[1,2]},""" +
          s""""rest":[{"k":$ck},{"other":true}],"empty":{}}"""
        val kSum = JsonPath.read(json, "$..k")
          .asInstanceOf[Vector[Any]]
          .map {
            case i: Int => i.toLong
            case l: Long => l
            case other => throw new IllegalStateException(other.toString)
          }.sum
        val restLen = JsonPath.read(json, "$.rest[*]")
          .asInstanceOf[Vector[Any]].length.toLong
        val misses = JsonPath.read(json, "$..zzz")
          .asInstanceOf[Vector[Any]].length.toLong
        (ok, kSum, restLen, misses)
      }
      .toDF("wf_run_id", "k_sum", "rest_len", "zzz_hits")
      .orderBy($"wf_run_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r1_mutation_chain" -> (mutationChain _),
    "e2b_jsonpath_indefinite" -> (jsonPathIndefinite _),
    "e15_conditional_path" -> (conditionalPath _),
    "n2_external_event_timeout" -> (externalEventTimeout _),
    "n3_threads_locks" -> (threadsLocks _),
    "m1_retry_fold" -> (retryFold _),
    "m3_handler_fold" -> (handlerFold _),
    "m4_interrupt_fold" -> (interruptFold _),
    "m6_stop_resume" -> (stopResumeFold _),
    "n5_sleep_fold" -> (sleepFold _),
    "r2_error_containment" -> (errorContainment _),
    "q2_var_index_search" -> (varIndexSearch _),
    "e2_jsonpath_props" -> (jsonPathProps _),
  )

  val oracles: Map[String, String] = Map(
    "r1_mutation_chain" ->
      """SELECT o_orderkey AS wf_run_id,
        | cast(trunc(cast(((o_orderkey % 1000) + 7) * 3 AS DOUBLE) / 7.0)
        |   AS BIGINT) - 2 AS x_final,
        | (((o_totalprice + 1.5) - 100.0) * 2.0) / 4.0 AS f_final,
        | 'COMPLETED' AS status
        |FROM orders ORDER BY wf_run_id""".stripMargin,
    "e15_conditional_path" ->
      """SELECT o_orderkey AS wf_run_id,
        | 'S' ||
        | CASE WHEN (o_orderkey % 25) > 12 THEN 'H' ELSE 'L' END ||
        | CASE WHEN (o_orderkey % 25) IN (3,5,7,11,13,17) THEN 'P' ELSE 'N' END ||
        | CASE WHEN (o_orderkey % 25) = 24 THEN 'E' ELSE 'X' END AS path,
        | 'COMPLETED' AS status
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY wf_run_id""".stripMargin,
    "n2_external_event_timeout" ->
      """SELECT o_orderkey AS wf_run_id,
        | CASE WHEN o_orderkey % 2 = 0 THEN 'COMPLETED' ELSE 'HALTED' END
        |   AS status,
        | CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE 'TIMEOUT' END
        |   AS failure_reason
        |FROM orders ORDER BY wf_run_id""".stripMargin,
    "n3_threads_locks" ->
      """SELECT o_orderkey AS wf_run_id,
        | cast(trunc(cast((o_orderkey % 40 - 20) + 22 AS DOUBLE) / 3.0)
        |   AS BIGINT) AS parent_var,
        | cast(4 AS BIGINT) AS n_threads,
        | 'COMPLETED' AS status
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY wf_run_id""".stripMargin,
    "m1_retry_fold" ->
      """SELECT o_orderkey AS wf_run_id,
        | CASE WHEN o_orderkey % 4 = 3 THEN 'HALTED' ELSE 'COMPLETED' END
        |   AS status,
        | cast(CASE WHEN o_orderkey % 4 = 3 THEN 3
        |      ELSE o_orderkey % 4 + 1 END AS BIGINT) AS n_attempts
        |FROM orders ORDER BY wf_run_id""".stripMargin,
    "m3_handler_fold" ->
      """SELECT o_orderkey AS wf_run_id,
        | 'COMPLETED' AS status,
        | cast(CASE WHEN o_orderkey % 3 = 2 THEN 2 ELSE 1 END AS BIGINT)
        |   AS n_threads,
        | cast(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 2 END AS BIGINT)
        |   AS n_attempts,
        | CASE WHEN o_orderkey % 3 = 2 THEN 'TASK_FAILURE' ELSE NULL END
        |   AS last_failure_reason,
        | CASE WHEN o_orderkey % 3 = 2 THEN 'handled' ELSE NULL END
        |   AS handler_stdout
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY wf_run_id""".stripMargin,
    "m4_interrupt_fold" ->
      """SELECT o_orderkey AS wf_run_id,
        | 'COMPLETED' AS status,
        | cast(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |   AS n_threads,
        | cast(3 AS BIGINT) AS n_tasks
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY wf_run_id""".stripMargin,
    "m6_stop_resume" ->
      """SELECT o_orderkey AS wf_run_id,
        | 'COMPLETED' AS status,
        | o_orderkey % 2 = 1 AS resumed_late,
        | cast(3 AS BIGINT) AS n_tasks
        |FROM orders ORDER BY wf_run_id""".stripMargin,
    "n5_sleep_fold" ->
      """SELECT o_orderkey AS wf_run_id,
        | 'COMPLETED' AS status,
        | cast(3 AS BIGINT) AS n_tasks,
        | cast(120 + 1000 * (o_orderkey % 5) AS BIGINT) AS duration_ms
        |FROM orders ORDER BY wf_run_id""".stripMargin,
    "r2_error_containment" ->
      """SELECT o_orderkey AS wf_run_id,
        | CASE WHEN o_orderkey % 3 = 0 THEN 'HALTED'
        |      ELSE 'COMPLETED' END AS status,
        | CASE WHEN o_orderkey % 3 = 0 THEN 'INTERNAL_LITTLEHORSE_ERROR'
        |      ELSE NULL END AS error_code,
        | o_orderkey % 3 = 0 AS has_error_message
        |FROM orders ORDER BY wf_run_id""".stripMargin,
    "q2_var_index_search" ->
      """SELECT o_orderkey AS wf_run_id
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY wf_run_id""".stripMargin,
    "e2_jsonpath_props" ->
      """SELECT event_id,
        | cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    "e2b_jsonpath_indefinite" ->
      """SELECT o_orderkey AS wf_run_id,
        | o_orderkey + o_custkey AS k_sum,
        | cast(2 AS BIGINT) AS rest_len,
        | cast(0 AS BIGINT) AS zzz_hits
        |FROM orders ORDER BY wf_run_id""".stripMargin,
  )
}

