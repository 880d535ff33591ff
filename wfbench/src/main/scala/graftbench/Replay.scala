package graftbench

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import scala.collection.mutable

import graft.engine._
import graft.streaming.{Scheduler, SchedulerOut, SchedulerState}

/** The engine layer without Spark: the chain workloads' event
  * sequences, regenerated from their run ids, driven single-threaded
  * through [[Scheduler.stateFn]] with a `TestGroupState`, one invocation
  * per micro-batch as in the stream (the start event, then each task's
  * started/ended pair).
  *
  * A second pass times the pieces stateFn is made of on the same
  * inputs: state decode, [[Engine.processEvent]], per-step snapshot
  * encode, state encode and the [[EventCodec]] calls of the scheduler
  * and the worker. What stateFn costs beyond those is its own self
  * time. */
object Replay {

  final case class Invocation(before: Option[SchedulerState], events: Seq[WFEvent])

  final case class Timings(
      invocations: Int, events: Int, stateFnNs: Long, decodeNs: Long,
      stepNs: Long, snapshotNs: Long, stateEncodeNs: Long, eventCodecNs: Long,
      snapshotBytes: Long, stateBytes: Long,
      finals: Map[String, String]) {
    def perInvocationUs(ns: Long): Double = ns / 1e3 / invocations
    def engineAndCodecNs: Long =
      decodeNs + stepNs + snapshotNs + stateEncodeNs + eventCodecNs
  }

  /** Replay `ids` through stateFn `passes` times (the first ones warm
    * the JIT) and time the last pass and its components. */
  def run(spec: WFSpec, ids: Seq[String], passes: Int): Timings = {
    val specs = Map(spec.name -> spec)
    var invocations: Seq[Invocation] = Nil
    var finals = Map.empty[String, String]
    var stateFnNs = 0L
    (1 to passes).foreach { _ =>
      val (inv, fin, ns) = stateFnPass(specs, spec, ids)
      invocations = inv; finals = fin; stateFnNs = ns
    }
    var decodeNs, stepNs, snapshotNs, stateEncodeNs, codecNs = 0L
    var snapshotBytes, stateBytes = 0L
    var events = 0
    invocations.foreach { inv =>
      var t = System.nanoTime()
      var state = inv.before.filter(_.wfRunJson.nonEmpty)
        .map(s => StateCodec.decode(s.wfRunJson))
      decodeNs += System.nanoTime() - t
      inv.events.sortBy(_.timestamp).foreach { ev =>
        events += 1
        t = System.nanoTime()
        val r = Engine.processEvent(spec, state, ev)
        stepNs += System.nanoTime() - t
        r.state.foreach { st =>
          t = System.nanoTime()
          val json = StateCodec.encode(st)
          snapshotNs += System.nanoTime() - t
          snapshotBytes += json.length
          state = Some(st)
        }
        r.toSchedule.foreach { tsr =>
          t = System.nanoTime()
          val decoded = EventCodec.decodeTsr(EventCodec.encodeTsr(tsr))
          ChainLoop.workerEvents(spec, decoded)
          codecNs += System.nanoTime() - t
        }
      }
      t = System.nanoTime()
      val json = state.map(StateCodec.encode).getOrElse("")
      stateEncodeNs += System.nanoTime() - t
      stateBytes += json.length
    }
    Timings(invocations.length, events, stateFnNs, decodeNs, stepNs,
      snapshotNs, stateEncodeNs, codecNs, snapshotBytes, stateBytes, finals)
  }

  /** One pass through stateFn; returns each invocation's input, the
    * final snapshot per run and the summed stateFn time. */
  private def stateFnPass(specs: Map[String, WFSpec], spec: WFSpec,
      ids: Seq[String]): (Seq[Invocation], Map[String, String], Long) = {
    val inv = mutable.ArrayBuffer.empty[Invocation]
    val finals = Map.newBuilder[String, String]
    var ns = 0L
    ids.foreach { id =>
      var state: Option[SchedulerState] = None
      var events: Seq[WFEvent] = Seq(WFEvent(spec.objectId, spec.name, id,
        ChainLoop.EpochMs, 0, WFEventType.WF_RUN_STARTED,
        EventCodec.encodeRunRequest(WFRunRequest(
          scala.collection.immutable.ListMap.empty, spec.objectId, Some(id)))))
      var last = ""
      while (events.nonEmpty) {
        inv += Invocation(state, events)
        val gs = TestGroupState.create[SchedulerState](
          state.fold(Optional.empty[SchedulerState]())(Optional.of(_)),
          GroupStateTimeout.ProcessingTimeTimeout, 0L,
          Optional.empty[Long](), false)
        val t = System.nanoTime()
        val out = Scheduler.stateFn(specs)(id, events.iterator, gs).toVector
        ns += System.nanoTime() - t
        state = Some(gs.get)
        out.filter(_.kind == SchedulerOut.SNAPSHOT).lastOption.foreach(r => last = r.json)
        events = out.filter(_.kind == SchedulerOut.TSR).flatMap(r =>
          ChainLoop.workerEvents(spec, EventCodec.decodeTsr(r.json)))
      }
      finals += id -> last
    }
    (inv.toSeq, finals.result(), ns)
  }
}
