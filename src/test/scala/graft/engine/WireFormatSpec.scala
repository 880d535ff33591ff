package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import Harness._

/** The wire-format parity seam: every other engine test builds specs
  * with the repo's own [[SpecBuilders]]; these fixtures are JSON
  * documents in the reference SDK's EXACT serialized shape —
  * `spec.json(by_alias=True)` of the pydantic models
  * (lhctl/lh_lib/schema/wf_spec_schema.py:160-190, emitted by
  * lhctl/lh_sdk/thread_spec_builder.py:42-325 for
  * examples/workflows/basic_wf.py, conditionals.py, interrupts.py) —
  * committed under src/test/resources/wirespecs (generated by
  * tools/gen_wire_fixtures.py, which documents the field-order /
  * explicit-null / node-naming conventions). Each document is driven
  * decode → validate → fold and the final WFRun snapshot asserted;
  * one malformed document pins the rejection path
  * (WFSpec.java:307-362 edge validation).
  */
class WireFormatSpec extends AnyFunSuite {

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/wirespecs/$name.json")
    require(in != null, s"missing fixture $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  // the three example workflows' task functions
  // (examples/workflows/*.py), played by the simulated worker
  private def exampleTasks(
      name: String, stdin: ListMap[String, Any],
      @annotation.unused idx: Int): TaskBehavior =
    name match {
      case "basic_wf-ask_for_name" => Ok("Hey what's your name?")
      case "basic_wf-greet" | "interrupts-hello_there" =>
        Ok(s"Hello there, ${stdin.getOrElse("name", null)}!")
      case "conditionals-dummy" | "conditionals_else-dummy" =>
        Ok("Hello, there!")
      case "conditionals-multiply" | "conditionals_else-multiply" =>
        Ok(Mutations.toInt(stdin("some_number")) * 3)
      case "conditionals_else-happy" => Ok("Yay!")
      case "conditionals_else-false_dummy" => Ok("false dummy")
      case "basic_threads-parent_task" =>
        Ok(s"""Called parent_task() with input "${stdin("input_str")}"!""")
      case "basic_threads-child_task" =>
        Ok(s"""Called child_task() with input "${stdin("input_str")}"""")
      case "basic_exceptions-unreliable_task" => Fail("assertion failed")
      case "basic_exceptions-dummy_task" => Ok(42)
      case "thrower-step_one" => Ok("one")
      case other => Fail(s"unknown task $other")
    }

  test("basic_wf.json: decode, validate, fold to completion") {
    val spec = SpecCodec.decode(fixture("basic_wf"))
    assert(spec.name == "my_workflow")
    assert(spec.entrypointThreadName == "my_workflow")
    // validate computed the entrypoint the SDK leaves null
    val t = spec.threadSpecs("my_workflow")
    assert(t.entrypointNodeName == "0-basic_wf-ask_for_name-b76f3")
    assert(t.nodes("1-WAIT-EVENT-my-name-b76f3").nodeType ==
      NodeType.EXTERNAL_EVENT)

    val (s, tsrs) = Harness.run(spec,
      externals = Seq(ExternalInput(2000L, "my-name", "GENERAL KENOBI")),
      tasks = exampleTasks)
    assert(s.status == Status.COMPLETED)
    assert(s.threadRuns.length == 1)
    val thr = mainThread(s)
    // ask_for_name, WAIT-EVENT, greet all ran
    assert(thr.taskRuns.length == 3)
    assert(thr.taskRuns.forall(_.status == Status.COMPLETED))
    // the event payload was assigned to the variable and fed to greet
    assert(thr.variables("my_name_var") == "GENERAL KENOBI")
    assert(thr.taskRuns.last.stdout == "Hello there, GENERAL KENOBI!")
    val greet = tsrs.filter(_.taskDefName == "basic_wf-greet")
    assert(greet.length == 1)
    assert(greet.head.variableSubstitutions("name") == "GENERAL KENOBI")
  }

  test("conditionals.json: both branch shapes and the assigned output") {
    val spec = SpecCodec.decode(fixture("conditionals"))
    val t = spec.threadSpecs("conditionals")
    assert(t.entrypointNodeName == "0-conditionals-dummy-2ebbc")
    assert(t.edges.length == 5)

    // my_int = 6: under 10 -> multiply assigns 18; 18 > 15 -> inner
    // dummy runs; then the merge dummy
    val (s6, _) = Harness.run(spec, Map("my_int" -> 6),
      tasks = exampleTasks)
    assert(s6.status == Status.COMPLETED)
    assert(mainThread(s6).variables("my_int") == 18)
    assert(mainThread(s6).taskRuns.map(_.nodeName) == Vector(
      "0-conditionals-dummy-2ebbc", "1-conditionals-multiply-2ebbc",
      "2-conditionals-dummy-2ebbc", "3-conditionals-dummy-2ebbc"))

    // my_int = 4: multiply assigns 12; 12 <= 15 skips the inner dummy
    val (s4, _) = Harness.run(spec, Map("my_int" -> 4),
      tasks = exampleTasks)
    assert(s4.status == Status.COMPLETED)
    assert(mainThread(s4).variables("my_int") == 12)
    assert(mainThread(s4).taskRuns.map(_.nodeName) == Vector(
      "0-conditionals-dummy-2ebbc", "1-conditionals-multiply-2ebbc",
      "3-conditionals-dummy-2ebbc"))

    // my_int = 10: the reverse-condition edge (>= 10) jumps straight
    // to the merge dummy; the variable is untouched
    val (s10, _) = Harness.run(spec, Map("my_int" -> 10),
      tasks = exampleTasks)
    assert(s10.status == Status.COMPLETED)
    assert(mainThread(s10).variables("my_int") == 10)
    assert(mainThread(s10).taskRuns.map(_.nodeName) == Vector(
      "0-conditionals-dummy-2ebbc", "3-conditionals-dummy-2ebbc"))
  }

  test("interrupts.json: handler thread interrupts the sleep, parent resumes") {
    val spec = SpecCodec.decode(fixture("interrupts"))
    assert(spec.interruptEvents == Set("some-event"))
    assert(spec.threadSpecs("interrupt_handler_thread")
      .entrypointNodeName == "0-interrupts-hello_there-c7a3a")

    // no interrupt: hello, 10 s sleep, hello
    val (s0, _) = Harness.run(spec, tasks = exampleTasks)
    assert(s0.status == Status.COMPLETED)
    assert(s0.threadRuns.length == 1)
    assert(mainThread(s0).taskRuns.length == 3)
    assert(mainThread(s0).taskRuns.forall(_.status == Status.COMPLETED))

    // interrupt mid-sleep: handler thread runs its task, parent resumes
    val (s1, _) = Harness.run(spec,
      externals = Seq(ExternalInput(3000L, "some-event", "YOU ARE A BOLD ONE!")),
      tasks = exampleTasks)
    assert(s1.status == Status.COMPLETED)
    assert(s1.threadRuns.length == 2)
    val handler = s1.threadRuns(1)
    assert(handler.isInterruptThread)
    assert(handler.status == Status.COMPLETED)
    assert(handler.taskRuns(0).stdout == "Hello there, from the interrupt thread!")
    val main = mainThread(s1)
    assert(main.status == Status.COMPLETED)
    assert(main.taskRuns.length == 3)
    assert(main.handledInterruptThreadIds.toSeq == Seq(1))
  }

  test("basic_threads.json: spawn, temp-var threadId plumbing, wait, write-through") {
    val spec = SpecCodec.decode(fixture("basic_threads"))
    val main = spec.threadSpecs("my_workflow")
    val tempVar = "temp-1-SPAWN-subthread-b76f3"
    // the SDK's retroactive temp variable + $.threadId mutation survive
    // the wire format
    assert(main.variableDefs.contains(tempVar))
    assert(main.nodes("1-SPAWN-subthread-b76f3")
      .variableMutations(tempVar).jsonPath.contains("$.threadId"))
    assert(main.nodes("2-WAIT-THREAD-b76f3")
      .threadWaitThreadId.flatMap(_.wfRunVariableName).contains(tempVar))

    val (s, _) = Harness.run(spec, Map("parent_var" -> "boo"),
      tasks = exampleTasks)
    assert(s.status == Status.COMPLETED)
    assert(s.threadRuns.length == 2)
    val child = s.threadRuns(1)
    assert(child.threadSpecName == "subthread")
    assert(child.taskRuns(0).stdout == """Called child_task() with input "boo"""")
    // the child assigned the PARENT's variable (scope write-through)
    assert(mainThread(s).variables("parent_var") == "child value")
    assert(mainThread(s).variables(tempVar) == 1)
  }

  test("basic_exceptions.json: base handler catches, reassigns the parent var") {
    val spec = SpecCodec.decode(fixture("basic_exceptions"))
    assert(spec.threadSpecs("my_workflow")
      .nodes("0-basic_exceptions-unreliable_task-b76f3")
      .baseExceptionhandler.map(_.handlerThreadSpecName)
      .contains("exception_handler"))

    val (s, _) = Harness.run(spec, tasks = exampleTasks)
    assert(s.status == Status.COMPLETED)
    assert(s.threadRuns.length == 2)
    val handler = s.threadRuns(1)
    assert(handler.threadSpecName == "exception_handler")
    assert(handler.status == Status.COMPLETED)
    // the failed task's own ASSIGN never ran; the handler's dummy_task
    // output (42) replaced the 137 default through the parent scope
    assert(mainThread(s).variables("my_var") == 42)
    val main = mainThread(s)
    assert(main.taskRuns.head.failureReason
      .contains(FailureReason.TASK_FAILURE))
    assert(main.taskRuns.last.status == Status.COMPLETED)
  }

  test("conditionals_else.json: if, nested-if, else, and NOP merge shapes") {
    val spec = SpecCodec.decode(fixture("conditionals_else"))
    val t = spec.threadSpecs("conditionals_else")
    assert(t.edges.length == 7)

    def taskNodes(s: WFRunState) =
      mainThread(s).taskRuns.map(_.nodeName.split('-')(0).toInt)

    // 2: <10 so multiply -> 6; 6 > 5 so happy; merge via NOP
    val (s2, _) = Harness.run(spec, Map("my_int" -> 2), tasks = exampleTasks)
    assert(s2.status == Status.COMPLETED)
    assert(mainThread(s2).variables("my_int") == 6)
    assert(taskNodes(s2) == Vector(0, 1, 2, 4, 5))

    // 1: multiply -> 3; 3 <= 5 routes to the ELSE branch (the builder's
    // reverse-condition edge from the multiply node)
    val (s1, _) = Harness.run(spec, Map("my_int" -> 1), tasks = exampleTasks)
    assert(s1.status == Status.COMPLETED)
    assert(mainThread(s1).variables("my_int") == 3)
    assert(taskNodes(s1) == Vector(0, 1, 3, 4, 5))

    // 20: >= 10 skips the if entirely -> else branch, var untouched
    val (s20, _) = Harness.run(spec, Map("my_int" -> 20), tasks = exampleTasks)
    assert(s20.status == Status.COMPLETED)
    assert(mainThread(s20).variables("my_int") == 20)
    assert(taskNodes(s20) == Vector(0, 3, 4, 5))
  }

  test("throw_exception.json: THROW halts; custom handler map survives the wire") {
    val spec = SpecCodec.decode(fixture("throw_exception"))
    val main = spec.threadSpecs("my_workflow")
    assert(main.nodes("0-thrower-step_one-b76f3")
      .customExceptionHandlers("some-exc").handlerThreadSpecName ==
      "order_fixer")
    val thrower = main.nodes("1-THROW-order-failed-b76f3")
    assert(thrower.nodeType == NodeType.THROW_EXCEPTION)
    assert(thrower.exceptionToThrow.contains("order-failed"))

    val (s, _) = Harness.run(spec, tasks = exampleTasks)
    // step_one succeeds (its handler is never consulted); the unhandled
    // THROW fails the thread and halts the run with the exception name
    assert(s.status == Status.HALTED)
    assert(mainThread(s).taskRuns.head.status == Status.COMPLETED)
    assert(mainThread(s).exceptionName.contains("order-failed"))
    assert(mainThread(s).haltReasons.contains(HaltReason.FAILED))
  }

  test("malformed document: edge to a missing node is rejected") {
    val e = intercept[SpecValidationError] {
      SpecCodec.decode(fixture("malformed_missing_node"))
    }
    assert(e.getMessage.contains("missing node"))
    assert(e.getMessage.contains("99-conditionals-dummy-zzzzz"))
  }
}
