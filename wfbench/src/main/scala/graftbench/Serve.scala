package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.engine._
import graft.streaming.{CompactedStateStore, GraftApi, MetadataStore,
  SchedulerOut, ServingCache}

/** Reads beside writes: `GET /WFRun` and `GET /WFRunAlias` served from
  * a [[CompactedStateStore]] through a [[ServingCache]], while the
  * chain_sparse write load appends every batch's snapshots to the same
  * store and compacts it every `compact_every` batches. The write load
  * is not drained at the end: a run can need 50 more batches.
  *
  * Setup folds the preloaded runs with [[Simulator.run]], writes them
  * through `append` + `compact`, starts the write load and warms the
  * read path. Reads are a closed loop: each reader thread sends its
  * next request when the previous one is answered. Under the write load
  * nearly every `GET /WFRun` pays a cache refresh (each micro-batch
  * appends new files), which holds the read path to a few requests per
  * second, so an open loop at any rate that yields enough samples only
  * measures its own growing backlog. */
object Serve {

  private final case class TraceCtx(comp: CompactedStateStore,
      spec: WFSpec, snapshots: Map[String, String],
      seen: AtomicReference[Set[String]])

  private final case class Done(
      kind: String, arg: String, response: String, latencyMs: Double)

  def run(spark: SparkSession, inputs: ListMap[String, Any],
      seconds: Double, workDir: String, trace: Option[Trace],
      result: Result): Unit = {
    import spark.implicits._
    val meta = new MetadataStore(spark, s"$workDir/meta")
    // fold with the specs as deployed, so served bodies can be compared
    val customer = meta.postWfSpec(SpecCodec.encode(Common.customerSpec))
    val speed = meta.postWfSpec(SpecCodec.encode(Common.speedTestSpec(Workflows.Tasks)))
    val preload = inputs("preload").asInstanceOf[Vector[Any]].map { p =>
      val Vector(id, email) = Common.strings(p); (id, email)
    }
    val readerLists = inputs("readers").asInstanceOf[Vector[Any]].map(requests)
    val minGets = Common.int(inputs("min_gets"))
    val compactEvery = Common.int(inputs("compact_every"))

    // ---- setup: fold, write, compact, serve ----
    val folded = preload.map { case (id, email) =>
      val (st, _) = Simulator.run(customer, Map("customerEmail" -> email),
        runId = id)
      id -> st
    }
    Common.log(s"folded ${folded.length} runs")
    val comp = new CompactedStateStore(s"$workDir/state")
    comp.append(folded.map { case (_, st) => snapshotRow(st) }.toDS().toDF())
    comp.compact(spark)
    val cache = new ServingCache(comp)
    val api = new GraftApi(spark, meta, s"$workDir/bus", Some(comp), Some(cache))

    Common.log("store written and compacted")
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val footprint = mutable.ArrayBuffer.empty[Double]
    val timing = new AtomicBoolean(false)
    val slots = Common.int(inputs("slots"))
    val runIds = Common.spreadOverPartitions(spark,
      Common.strings(inputs("run_ids")), slots, Workflows.Partitions)
    val loop = new ChainLoop(spark, Seq(speed), s"$workDir/ckpt-chain", runIds,
      onSnapshots = (rows, batchId) => {
        val t0 = System.nanoTime()
        if (rows.nonEmpty) comp.append(spark.createDataset(rows.toSeq).toDF())
        val t1 = System.nanoTime()
        val compacted = batchId > 0 && batchId % compactEvery == 0
        if (compacted) comp.compact(spark)
        if (timing.get) {
          appendMs += Common.ms(t1 - t0)
          if (compacted) compactMs += Common.ms(System.nanoTime() - t1)
          footprint += comp.readFootprint.length
        }
      })
    requests(inputs("warm")).foreach { case (kind, arg) => call(api, kind, arg) }
    Common.log("read path warm")
    trace.foreach(_.runsInFlight = slots)
    loop.launching = true
    loop.start()
    loop.launch(speed, slots)
    loop.await("warm-up batches", Workflows.StallMs)(
      loop.batches.get >= Common.int(inputs("warm_batches")))
    result.setupDone()
    Common.log("setup done")

    // ---- timed: closed-loop readers beside the write load ----
    trace.foreach(_.begin(loop.batches.get))
    loop.recording = true
    timing.set(true)
    val ctx = TraceCtx(comp, customer,
      folded.map { case (id, st) => id -> StateCodec.encode(st) }.toMap,
      new AtomicReference(Set.empty[String]))
    val done = new ConcurrentLinkedQueue[Done]()
    val gets = new AtomicInteger()
    val t0 = System.nanoTime()
    def timeLeft = (System.nanoTime() - t0) / 1e9 < seconds || gets.get < minGets
    val readers = readerLists.map { list =>
      new Thread(() => {
        val it = list.iterator
        while (it.hasNext && timeLeft) {
          val (kind, arg) = it.next()
          val start = System.nanoTime()
          val response =
            try trace.fold(call(api, kind, arg))(tracedCall(_, ctx, api, kind, arg))
            catch { case e: Exception => s"exception: $e" }
          val end = System.nanoTime()
          if (kind == "get") gets.incrementAndGet()
          done.add(Done(kind, arg, response, Common.ms(end - start)))
        }
      })
    }
    readers.foreach(_.start())
    readers.foreach(_.join(Workflows.StallMs))
    val timedS = (System.nanoTime() - t0) / 1e9
    Common.log(s"timed region done: ${done.size} requests")
    loop.recording = false
    timing.set(false)
    loop.launching = false
    trace.foreach(_.end(loop.batches.get))
    loop.stop()
    result.values("heap_after_gc_mb") = Common.heapAfterGcMb()

    // ---- checks and numbers ----
    val results = done.asScala.toVector
    val expected = folded.map { case (id, st) =>
      id -> LHJson.render(LHJson.parse(StateCodec.encodeSdk(st, customer)))
    }.toMap
    val byEmail = preload.groupBy(_._2).map { case (e, xs) => e -> xs.map(_._1).sorted }
    val unfinished = readers.count(_.isAlive)
    result.check(results.length.toLong + unfinished,
      results.flatMap(d => checkResponse(api, d, expected, byEmail)) ++
        Seq.fill(unfinished)("a reader did not finish its request"))
    // runs still in flight were checked batch by batch (one TSR per
    // position, in order); completed ones are checked in full
    val completed = runIds.take(loop.started.get).filter(loop.finals.containsKey)
    result.check(loop.started.get.toLong,
      loop.error.toSeq ++ loop.checkFinals(completed))

    result.samples("get_wfrun_ms") = results.filter(_.kind == "get").map(_.latencyMs)
    result.samples("search_alias_ms") = results.filter(_.kind == "alias").map(_.latencyMs)
    result.samples("task_rtt_ms") = loop.batchRttMs.toSeq
    result.samples("keys_per_batch") = loop.batchKeys.map(_.toDouble).toSeq
    result.values("tasks_timed") = loop.tasksRecorded.toDouble
    result.samples("store_append_ms") = appendMs.toSeq
    result.samples("store_compact_ms") = compactMs.toSeq
    result.samples("store_footprint_files") = footprint.toSeq
    result.values("tasks_per_s") = loop.tasksRecorded / timedS
  }

  /** `call` in a span. A get whose store files changed since the last
    * traced get is a refresh, else a lookup served from memory; the SDK
    * export of the preloaded snapshot is timed after the request. */
  private def tracedCall(trace: Trace, ctx: TraceCtx, api: GraftApi,
      kind: String, arg: String): String =
    if (kind == "alias") trace.span("alias")(call(api, kind, arg))
    else {
      val files = ctx.comp.readFootprint.toSet
      val stale = !files.subsetOf(ctx.seen.get)
      val response = trace.span(if (stale) "get.refresh" else "get.lookup")(
        call(api, kind, arg))
      if (stale) ctx.seen.set(files)
      val json = ctx.snapshots(arg)
      trace.span("get.export")(
        StateCodec.encodeSdk(StateCodec.decode(json), ctx.spec))
      response
    }

  /** ("get" | "alias", run id | email) per request */
  private def requests(v: Any): Vector[(String, String)] =
    v.asInstanceOf[Vector[Any]].map { r =>
      val Vector(kind, arg) = Common.strings(r); (kind, arg)
    }

  private def call(api: GraftApi, kind: String, arg: String): String =
    kind match {
      case "get" => api.getWfRun(arg)
      case "alias" => api.getWfRunAlias("customerEmail", arg)
    }

  private def checkResponse(api: GraftApi, d: Done,
      expected: Map[String, String],
      byEmail: Map[String, Vector[String]]): Option[String] = {
    val doc = try Some(LHJson.parse(d.response).asInstanceOf[ListMap[String, Any]])
      catch { case _: Exception => None }
    doc match {
      case None => Some(s"${d.kind} ${d.arg}: ${d.response.take(200)}")
      case Some(m) if m("status") != api.RpcStatus.OK =>
        Some(s"${d.kind} ${d.arg}: status ${m("status")}")
      case Some(m) if d.kind == "get" =>
        if (LHJson.render(m("result")) == expected(d.arg)) None
        else Some(s"get ${d.arg}: body differs from the Simulator's final state")
      case Some(m) =>
        val ids = m("result").asInstanceOf[Vector[Any]].map(_.toString)
        if (ids == byEmail(d.arg)) None
        else Some(s"alias ${d.arg}: ${ids.length} ids, expected ${byEmail(d.arg).length}")
    }
  }

  /** The row the scheduler's snapshot sink would write for `st`. */
  private def snapshotRow(st: WFRunState): SchedulerOut =
    SchedulerOut(SchedulerOut.SNAPSHOT, st.objectId, st.wfSpecName, "", -1, -1,
      st.status, StateCodec.encode(st), 1L, st.aliasMap)
}
