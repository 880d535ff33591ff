package graft.streaming

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.LoneElement
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.engine._
import graft.engine.Harness._

/** [[Scheduler.stateFn]] driven without Spark through `TestGroupState`
  * ([[StateFnDriver]]): random micro-batch splits and redeliveries must
  * fold to exactly what [[Engine.foldRun]] folds from the same
  * de-duplicated events, the persisted state must be the last snapshot
  * row itself, and timers must cross invocations as typed state.
  */
class StateFnSpec extends AnyFunSuite with LoneElement {

  /** What stateFn folds: each invocation's events in timestamp order,
    * first delivery only (the driver's events are unique up to
    * redelivered copies). */
  private def folded(invs: Seq[StateFnDriver.Invocation]): Seq[WFEvent] =
    invs.flatMap(_.events.sortBy(_.timestamp)).distinct

  private def checkInvocations(
      invs: Seq[StateFnDriver.Invocation], what: String): Unit =
    invs.zipWithIndex.foreach { case (inv, i) =>
      val expected = inv.snapshots.lastOption.map(_.json)
        .getOrElse(inv.before.fold("")(_.wfRunJson))
      assert(inv.after.wfRunJson == expected,
        s"$what invocation $i: persisted state is not the last snapshot")
    }

  private def checkAgainstFold(spec: WFSpec, invs: Seq[StateFnDriver.Invocation],
      what: String): Unit = {
    assert(invs.forall(_.after.timers.isEmpty), s"$what armed a timer")
    val (st, tsrs) = Engine.foldRun(spec, folded(invs))
    val snapshots = invs.flatMap(_.snapshots)
    assert(snapshots.last.json == StateCodec.encode(st.get), s"$what final state")
    assert(invs.flatMap(_.out).filter(_.kind == SchedulerOut.TSR).map(_.json) ==
      tsrs.map(EventCodec.encodeTsr), s"$what TSRs")
    assert(snapshots.map(_.seq) == snapshots.map(_.seq).sorted, s"$what seq order")
  }

  test("timer-free fuzz DAGs: random splits and redeliveries fold like foldRun") {
    var checked = 0
    for (seed <- 0 until 200) {
      val rnd = new Random(seed)
      val spec =
        try FuzzWorkflows.randomSpec(rnd)
        catch { case _: SpecValidationError => null }
      if (spec != null && FuzzWorkflows.timerFree(spec)) {
        val failEvery = rnd.nextInt(4)
        val invs = StateFnDriver.run(spec, new Random(7000 + seed),
          redeliver = true,
          tasks = (n, in, idx) =>
            if (failEvery > 0 && idx % failEvery == 0) Fail("fuzz flake")
            else sharedTasks(n, in))
        checkInvocations(invs, s"seed=$seed")
        checkAgainstFold(spec, invs, s"seed=$seed")
        checked += 1
      }
    }
    assert(checked >= 20, s"only $checked timer-free DAGs")
  }

  test("speed_test chain: random splits and redeliveries fold like foldRun") {
    val spec = wfSpec("speed_test", "main",
      thread("main", Map.empty,
        nodes = (0 until 50).map(i =>
          task(s"n$i", "echo_task", "thing" -> lit(s"task-$i"))),
        edges = (0 until 49).map(i => edge(s"n$i", s"n${i + 1}"))))
    for (seed <- 0 until 5) {
      val invs = StateFnDriver.run(spec, new Random(seed), redeliver = true)
      assert(invs.exists(inv => inv.events.nonEmpty && inv.snapshots.isEmpty),
        s"seed=$seed: no invocation of redeliveries only")
      checkInvocations(invs, s"seed=$seed")
      checkAgainstFold(spec, invs, s"seed=$seed")
      assert(StateCodec.decode(invs.last.after.wfRunJson).status ==
        Status.COMPLETED, s"seed=$seed")
    }
  }

  test("a SLEEP timer crosses invocations as typed state and fires on timeout") {
    val spec = wfSpec("sleepy", "main",
      thread("main", Map.empty,
        nodes = Seq(task("a", "echo_task", "thing" -> lit("x")),
          Node(name = "nap", nodeType = NodeType.SLEEP,
            timeoutSeconds = Some(lit(5))),
          task("b", "echo_task", "thing" -> lit("y"))),
        edges = Seq(edge("a", "nap"), edge("nap", "b"))))
    val invs = StateFnDriver.run(spec, new Random(1), redeliver = false)
    val armed = invs.indexWhere(_.after.timers.nonEmpty)
    assert(armed >= 0, "the sleep never armed a timer")
    val timer = invs(armed).after.timers.loneElement
    assert(timer.wfRunId == StateFnDriver.RunId && timer.nodeName.isEmpty &&
      timer.threadRunId == 0 && timer.taskRunId == 1)
    // the timer survives an invocation that folds nothing
    val idle = TestGroupState.create[SchedulerState](
      Optional.of(invs(armed).after), GroupStateTimeout.ProcessingTimeTimeout,
      0L, Optional.empty[Long](), false)
    assert(Scheduler.stateFn(Map(spec.name -> spec))(
      StateFnDriver.RunId, Iterator.empty, idle).isEmpty)
    assert(idle.get == invs(armed).after)
    // the driver's next invocation is the timed-out one that fires it
    val fired = invs(armed + 1)
    assert(fired.timedOut && fired.events.isEmpty)
    assert(fired.after.timers.isEmpty)
    assert(fired.out.exists(r => r.kind == SchedulerOut.TSR &&
      r.taskRunPosition == 2))
    checkInvocations(invs, "sleep")
    assert(StateCodec.decode(invs.last.after.wfRunJson).status ==
      Status.COMPLETED)
  }
}
