package graft.streaming

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random

import graft.engine._

/** Drives [[Scheduler.stateFn]] for one run without Spark, one
  * `TestGroupState` per invocation as the stream would (the shape
  * wfbench's Replay uses). Each invocation gets a random, shuffled
  * prefix of the pending events; with `redeliver` some invocations also
  * carry byte-identical copies of recently delivered events, and some
  * carry only such copies. A worker answers every TaskScheduleRequest
  * with a started/ended pair. When no event is pending but timers are,
  * the next invocation is a timed-out one.
  */
object StateFnDriver {

  final case class Invocation(
      before: Option[SchedulerState],
      events: Vector[WFEvent],
      timedOut: Boolean,
      out: Vector[SchedulerOut],
      after: SchedulerState) {
    def snapshots: Vector[SchedulerOut] =
      out.filter(_.kind == SchedulerOut.SNAPSHOT)
  }

  val RunId = "run-1"
  /** Bounds a run whose timers never stop re-arming. */
  private val MaxInvocations = 2000

  def run(
      spec: WFSpec,
      rnd: Random,
      redeliver: Boolean,
      tasks: (String, ListMap[String, Any], Int) => Simulator.TaskBehavior =
        (n, in, _) => Simulator.sharedTasks(n, in)): Vector[Invocation] = {
    val specs = Map(spec.name -> spec)
    var clock = 1000L
    def event(tpe: String, threadId: Int, content: Long => String): WFEvent = {
      clock += 10
      WFEvent(spec.objectId, spec.name, RunId, clock, threadId, tpe,
        content(clock))
    }
    val pending = mutable.Queue(event(WFEventType.WF_RUN_STARTED, 0, _ =>
      EventCodec.encodeRunRequest(WFRunRequest(ListMap.empty, spec.objectId,
        Some(RunId)))))
    val delivered = mutable.ArrayBuffer.empty[WFEvent]
    val calls = mutable.HashMap.empty[String, Int]
    val invocations = Vector.newBuilder[Invocation]
    var state: Option[SchedulerState] = None
    var n = 0

    def answer(tsr: TaskScheduleRequest): Unit = {
      val idx = calls.getOrElse(tsr.taskDefName, 0)
      calls(tsr.taskDefName) = idx + 1
      def taskEvent(started: Option[TaskRunStartedPayload],
          ended: Option[TaskRunEndedPayload]): WFEvent =
        event(WFEventType.TASK_EVENT, tsr.threadId, ts =>
          EventCodec.encodeTaskRunEvent(TaskRunEvent(tsr.threadId,
            tsr.taskRunPosition, ts, 0, started, ended)))
      val result = tasks(tsr.taskDefName, tsr.variableSubstitutions, idx) match {
        case Simulator.Ok(v, _) =>
          Some(TaskRunResult(Some(LHJson.render(v)), None, success = true, 0))
        case Simulator.Fail(err, _) =>
          Some(TaskRunResult(None, Some(err), success = false, 1))
        case Simulator.NoResponse => None
      }
      result.foreach { r =>
        pending += taskEvent(
          Some(TaskRunStartedPayload("driver-worker", None)), None)
        pending += taskEvent(None, Some(TaskRunEndedPayload(r)))
      }
    }

    while ((pending.nonEmpty || state.exists(_.timers.nonEmpty)) &&
        n < MaxInvocations) {
      n += 1
      val timedOut = pending.isEmpty
      val batch =
        if (timedOut) Vector.empty[WFEvent]
        else {
          val copiesOnly = redeliver && delivered.nonEmpty && rnd.nextInt(6) == 0
          val fresh =
            if (copiesOnly) Vector.empty
            else Vector.fill(1 + rnd.nextInt(pending.size))(pending.dequeue())
          // copies of the last 16 delivered events stay well inside the
          // dedupe window
          val copies =
            if (!redeliver || delivered.isEmpty) Vector.empty
            else Vector.fill((if (copiesOnly) 1 else 0) + rnd.nextInt(3))(
              delivered(delivered.length - 1 - rnd.nextInt(delivered.length min 16)))
          delivered ++= fresh
          rnd.shuffle(fresh ++ copies)
        }
      if (timedOut) // later events follow every timer that fires now
        clock = math.max(clock, state.get.timers.map(_.maturationTimestamp).max)
      val gs = TestGroupState.create[SchedulerState](
        state.fold(Optional.empty[SchedulerState]())(Optional.of(_)),
        GroupStateTimeout.ProcessingTimeTimeout, 0L,
        Optional.empty[Long](), timedOut)
      val out = Scheduler.stateFn(specs)(RunId, batch.iterator, gs).toVector
      invocations += Invocation(state, batch, timedOut, out, gs.get)
      state = Some(gs.get)
      out.filter(_.kind == SchedulerOut.TSR)
        .foreach(r => answer(EventCodec.decodeTsr(r.json)))
    }
    invocations.result()
  }
}
