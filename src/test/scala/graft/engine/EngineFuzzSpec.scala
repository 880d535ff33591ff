package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import Harness._
import Mutations.{Op => M}

/** Property-style fuzz: random (bounded) workflow DAGs, inputs, and
  * worker behaviors must never escape the engine's error containment —
  * every fold terminates (virtual time), ends in a consistent terminal
  * or waiting state, and state snapshots always round-trip through the
  * codec. 200 seeds, deterministic.
  */
class EngineFuzzSpec extends AnyFunSuite {

  // deterministic default seed counts; SPARK_GRAFT_FUZZ_SCALE=N deepens
  // every loop N× for one-off soak runs (CI stays at 1×). A typo'd or
  // non-positive value must never silently run ZERO seeds (vacuously
  // green fuzz is the one failure a soak knob cannot allow).
  private val fuzzScale = {
    val raw = sys.env.get("SPARK_GRAFT_FUZZ_SCALE")
    val parsed = raw.map(v => v.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_FUZZ_SCALE must be a positive int, got: $v")))
    parsed.foreach(n => require(n >= 1,
      s"SPARK_GRAFT_FUZZ_SCALE must be >= 1, got: $n"))
    parsed.getOrElse(1)
  }

  test("random multi-thread workflows (spawn/wait/locks) stay consistent (100 seeds)") {
    for (seed <- 0 until 100 * fuzzScale) {
      val rnd = new Random(1000 + seed)
      val nSpawns = 1 + rnd.nextInt(3)
      val childMutates = rnd.nextBoolean()

      val childNodes = Seq(
        if (childMutates)
          mutate(task("c0", "increment", "foo" -> lit(rnd.nextInt(10))),
            "shared" -> mut(M.ADD))
        else task("c0", "echo_task", "thing" -> lit("kid")))
      val spawnNodes = (0 until nSpawns).flatMap { i =>
        Seq(
          mutate(Node(name = s"sp$i", nodeType = NodeType.SPAWN_THREAD,
            threadSpawnThreadSpecName = Some("kid")),
            s"temp$i" -> mut(M.ASSIGN, jsonPath = "$.threadId")),
          Node(name = s"w$i", nodeType = NodeType.WAIT_FOR_THREAD,
            threadWaitThreadId = Some(varRef(s"temp$i"))))
      }
      val allNodes =
        task("n0", "echo_task", "thing" -> lit("start")) +: spawnNodes
      val chain = allNodes.sliding(2).map(p =>
        edge(p(0).name, p(1).name)).toSeq
      val vars = Map("shared" -> WFRunVariableDef(VarType.INT, defaultValue = 0)) ++
        (0 until nSpawns).map(i => s"temp$i" -> WFRunVariableDef(VarType.INT))
      val spec = wfSpec("fuzz_threads", "main",
        thread("main", vars, nodes = allNodes, edges = chain),
        thread("kid", Map.empty, nodes = childNodes, edges = Nil))

      val failEvery = rnd.nextInt(5) // 0 = never
      val (st, _) = Harness.run(spec,
        tasks = (n, in, idx) =>
          if (failEvery > 0 && (idx + 1) % failEvery == 0) Fail("flake")
          else sharedTasks(n, in))

      assert(Set(Status.COMPLETED, Status.HALTED, Status.HALTING,
        Status.RUNNING).contains(st.status), s"seed=$seed ${st.status}")
      assert(st.threadRuns.length <= 1 + nSpawns, s"seed=$seed thread count")
      // lock invariant: no variable remains locked once every thread
      // has terminated
      if (st.threadRuns.forall(_.isTerminated))
        st.threadRuns.foreach(tr =>
          assert(tr.variableLocks.isEmpty, s"seed=$seed leaked lock"))
      // happy path: everything completed and the shared counter moved
      // once per successful mutating child
      if (failEvery == 0) {
        assert(st.status == Status.COMPLETED, s"seed=$seed")
        if (childMutates) {
          val shared = Mutations.toInt(st.threadRuns(0).variables("shared"))
          assert(shared > 0 && shared == nSpawns * (Mutations.toInt(
            st.threadRuns(1).taskRuns(0).stdout)), s"seed=$seed shared=$shared")
        }
      }
      val json = StateCodec.encode(st)
      assert(StateCodec.encode(StateCodec.decode(json)) == json, s"seed=$seed")
    }
  }

  test("random interrupt + stop/resume schedules stay consistent (150 seeds)") {
    // the halt-lattice dimension the other fuzz tests don't move:
    // interrupts landing before/during/after the interruptible window,
    // stacked with manual stop/resume pairs at random virtual times
    for (seed <- 0 until 150 * fuzzScale) {
      val rnd = new Random(5000 + seed)
      val sleepSecs = 1 + rnd.nextInt(4)
      val handlerThrows = rnd.nextInt(4) == 0
      val handlerNodes =
        if (handlerThrows)
          Seq(Node(name = "h0", nodeType = NodeType.THROW_EXCEPTION,
            exceptionToThrow = Some("handler-exc")))
        else Seq(task("h0", "echo_task", "thing" -> lit("intr")))
      val spec = wfSpec("fuzz_intr", "main",
        thread("main",
          Map("counter" -> WFRunVariableDef(VarType.INT, defaultValue = 0)),
          nodes = Seq(
            task("n0", "echo_task", "thing" -> lit("a")),
            Node(name = "n1", nodeType = NodeType.SLEEP,
              timeoutSeconds = Some(lit(sleepSecs))),
            mutate(task("n2", "echo_task", "thing" -> lit("b")),
              "counter" -> mut(M.ADD, literal = 1))),
          edges = Seq(edge("n0", "n1"), edge("n1", "n2")),
          interrupts = Map("intr" -> "handler")),
        thread("handler", Map.empty, nodes = handlerNodes, edges = Nil))

      val horizon = sleepSecs * 1000L + 3000L
      val externals = (0 until rnd.nextInt(3)).map { i =>
        ExternalInput(1000L + rnd.nextInt(horizon.toInt), "intr", s"p$i")
      }
      val stopResumes = (0 until rnd.nextInt(2)).flatMap { _ =>
        val t = 1000L + rnd.nextInt(horizon.toInt)
        Seq(StopResume(t, stop = true),
          StopResume(t + 500L + rnd.nextInt(3000), stop = false))
      }

      val (st, _) = Harness.run(spec,
        externals = externals, stopResumes = stopResumes)

      assert(Set(Status.COMPLETED, Status.HALTED, Status.HALTING,
        Status.RUNNING).contains(st.status), s"seed=$seed ${st.status}")
      // halt-lattice consistency: a HALTED thread always carries a
      // recorded reason; no thread is left HALTING at quiescence unless
      // it is blocked on an un-halted child
      st.threadRuns.filter(_.status == Status.HALTED).foreach { tr =>
        assert(tr.haltReasons.nonEmpty, s"seed=$seed halted w/o reason")
      }
      if (st.threadRuns.forall(_.isTerminated))
        st.threadRuns.foreach(tr =>
          assert(tr.variableLocks.isEmpty, s"seed=$seed leaked lock"))
      // no interrupts, no stops, benign handler => must complete with
      // exactly one counted n2 execution
      if (externals.isEmpty && stopResumes.isEmpty) {
        assert(st.status == Status.COMPLETED, s"seed=$seed")
        assert(Mutations.toInt(st.threadRuns(0).variables("counter")) == 1,
          s"seed=$seed counter")
      }
      // interrupt handlers ran at most once per delivered interrupt
      assert(st.threadRuns.count(_.threadSpecName == "handler")
        <= externals.length, s"seed=$seed handler count")
      val json = StateCodec.encode(st)
      assert(StateCodec.encode(StateCodec.decode(json)) == json, s"seed=$seed")
    }
  }

  test("random workflows terminate in consistent states (200 seeds)") {
    val terminal = Set(Status.COMPLETED, Status.HALTED, Status.HALTING,
      Status.RUNNING) // RUNNING = legitimately waiting (e.g. no event sent)
    for (seed <- 0 until 200 * fuzzScale) {
      val rnd = new Random(seed)
      val spec =
        try FuzzWorkflows.randomSpec(rnd)
        catch { case _: SpecValidationError => null } // invalid shape: fine
      if (spec != null) {
        val sendEvent = rnd.nextBoolean()
        val failTasks = rnd.nextInt(4) // 0 = never, else fail 1-in-n
        val (st, tsrs) = Harness.run(spec,
          externals =
            if (sendEvent) Seq(ExternalInput(2500L, "fuzz-event", "payload"))
            else Nil,
          tasks = (n, in, idx) =>
            if (failTasks > 0 && idx % failTasks == 0) Fail("fuzz flake")
            else sharedTasks(n, in))

        assert(terminal.contains(st.status), s"seed=$seed status=${st.status}")
        // every task belongs to a known node and has a sane status
        st.threadRuns.foreach { tr =>
          tr.taskRuns.foreach { t =>
            assert(spec.threadSpecs(tr.threadSpecName).nodes.contains(t.nodeName),
              s"seed=$seed unknown node ${t.nodeName}")
            assert(Set(Status.RUNNING, Status.SCHEDULED, Status.COMPLETED,
              Status.HALTED).contains(t.status), s"seed=$seed ${t.status}")
          }
          // a COMPLETED thread has no pending work
          if (tr.status == Status.COMPLETED)
            assert(tr.upNext.isEmpty, s"seed=$seed completed with upNext")
        }
        // no run ends HALTED without a reason somewhere
        if (st.status == Status.HALTED)
          assert(st.threadRuns.exists(_.haltReasons.nonEmpty) ||
            st.errorCode.isDefined, s"seed=$seed HALTED without reason")
        // snapshot codec round-trips whatever state the fuzz produced
        val json = StateCodec.encode(st)
        assert(StateCodec.encode(StateCodec.decode(json)) == json,
          s"seed=$seed codec round-trip")
        // the SDK-shape export never throws and always yields a
        // well-formed WFRunSchema document, whatever the fuzz produced
        val sdk = LHJson.parse(StateCodec.encodeSdk(st, spec))
          .asInstanceOf[scala.collection.immutable.ListMap[String, Any]]
        assert(sdk.keys.toSeq.take(2) == Seq("created", "objectId"),
          s"seed=$seed sdk export shape")
        assert(sdk("status") == st.status, s"seed=$seed sdk status")
        // TSR output is well-formed
        tsrs.foreach(t => assert(t.taskDefName.nonEmpty && t.wfRunId == "run-1"))
      }
    }
  }
}
