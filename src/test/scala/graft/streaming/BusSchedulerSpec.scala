package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

import graft.engine._
import graft.engine.SpecBuilders._
import graft.streaming.bus.GraftBus

/** End-to-end S1/S2/S3 over a REAL by-name-resolved transport: events
  * are produced to bus topics, the scheduler consumes them through
  * `format("graft-bus")` (resolved via DataSourceRegister — the same
  * service-loader path that resolves `format("kafka")`), the store sink
  * ([[Scheduler.busStoreSink]]) writes TSRs to per-TaskDef topics
  * through the same connector, a loopback worker polls the task topic
  * like the reference TaskWorker polls Kafka (TaskWorker.java:102-145)
  * and produces TASK_EVENTs back, and run-state snapshots land in the
  * [[CompactedStateStore]] that GraftApi and Ctl read. Offsets flow
  * through checkpoint + progress in Kafka's exact JSON shape, which the
  * ReadYourWrites barrier parses per-partition.
  *
  * No broker exists in this build environment (zero egress, no Kafka
  * artifacts — see GraftBus scaladoc); swapping the format string +
  * connection option is the ONLY delta to the Kafka deployment.
  *
  * Also proves at-least-once handling through the real transport: the
  * worker delivers every TASK_EVENT pair TWICE (same producer guid);
  * the scheduler's guid dedupe folds each logical event once.
  */
class BusSchedulerSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val spec = wfSpec("busrun", "main",
    thread("main", Map.empty,
      nodes = Seq(
        task("n0", "echo_task", "thing" -> lit("one")),
        task("n1", "echo_task", "thing" -> lit("two")),
        task("n2", "echo_task", "thing" -> lit("three"))),
      edges = Seq(edge("n0", "n1"), edge("n1", "n2"))))

  private def eventsTopic = s"wfEvents__${spec.name}"

  private def now() = System.currentTimeMillis()

  /** The latest snapshot of `id` in the store, if one has landed. */
  private def storedState(
      store: CompactedStateStore, id: String): Option[WFRunState] = {
    import spark.implicits._
    if (store.readFootprint.isEmpty) None
    else StateTable.byId(store.read(spark), id).select("json").as[String]
      .collect().headOption.map(StateCodec.decode)
  }

  test("basic run end-to-end over bus topics, duplicates deduped by guid") {
    val root = graft.util.Dirs.scratch("graft-bus").toString
    val ckpt = graft.util.Dirs.scratch("graft-bus-ckpt").toString
    val store = new CompactedStateStore(
      graft.util.Dirs.scratch("graft-bus-state").toString)

    // S1 → fold → S2+S3: the production topology, by-name connector
    val events = Scheduler.busEventSource(spark, root, "wfEvents__.*")
    val outputs = Scheduler(events, Map(spec.name -> spec))
    val query = Scheduler.busStoreSink(outputs, root, store, ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

    // loopback worker: polls the per-TaskDef topic (reference
    // TaskWorker poll loop), answers each TSR with a started+ended
    // TASK_EVENT pair — delivered TWICE with the same guid to simulate
    // an at-least-once producer whose ack was lost
    @volatile var workerStop = false
    val worker = new Thread(() => {
      var cursor = Map.empty[Int, Long]
      while (!workerStop) {
        for (p <- GraftBus.partitions(root, "echo_task")) {
          val from = cursor.getOrElse(p, 0L)
          val until = GraftBus.nextOffset(root, "echo_task", p)
          GraftBus.read(root, "echo_task", p, from, until).foreach { rec =>
            val tsr = EventCodec.decodeTsr(rec.value)
            val stdout = LHJson.render(
              tsr.variableSubstitutions.getOrElse("thing", null))
            val t = now()
            val guid = s"w-${tsr.wfRunId}-${tsr.taskRunPosition}"
            val pair = Seq(
              WFEvent(spec.objectId, spec.name, tsr.wfRunId, t,
                tsr.threadId, WFEventType.TASK_EVENT,
                EventCodec.encodeTaskRunEvent(TaskRunEvent(
                  tsr.threadId, tsr.taskRunPosition, t, 0,
                  Some(TaskRunStartedPayload("bus-worker", None)), None)),
                guid = s"$guid-started"),
              WFEvent(spec.objectId, spec.name, tsr.wfRunId, t + 1,
                tsr.threadId, WFEventType.TASK_EVENT,
                EventCodec.encodeTaskRunEvent(TaskRunEvent(
                  tsr.threadId, tsr.taskRunPosition, t + 1, 0, None,
                  Some(TaskRunEndedPayload(TaskRunResult(
                    Some(stdout), None, success = true, 0))))),
                guid = s"$guid-ended"))
            // duplicate delivery: same logical events, same guids
            (pair ++ pair).foreach(ev =>
              GraftBus.send(root, eventsTopic, ev.wfRunId,
                EventCodec.encodeWFEvent(ev)))
          }
          cursor += p -> until
        }
        Thread.sleep(50)
      }
    })
    worker.setDaemon(true)

    try {
      // produce WF_RUN_STARTED; keep the RecordMetadata for the barrier
      val startEvent = WFEvent(spec.objectId, spec.name, "bus-run-1", now(),
        0, WFEventType.WF_RUN_STARTED,
        EventCodec.encodeRunRequest(WFRunRequest(
          ListMap.empty, spec.objectId, Some("bus-run-1"))))
      val (part, off) = GraftBus.send(root, eventsTopic, "bus-run-1",
        EventCodec.encodeWFEvent(startEvent))

      // read-your-writes over Kafka-shaped per-partition offsets: once
      // the barrier returns, both writes of the batch that folded the
      // start are visible — the first snapshot in the store and the
      // first TSR on its task topic (the connector job inside
      // foreachBatch finishes before the batch commits)
      ReadYourWrites.awaitProcessed(query, eventsTopic, part, off, 0, 30000L)
      assert(storedState(store, "bus-run-1").nonEmpty,
        "barrier returned but no snapshot visible in the store")
      val firstTsrs = GraftBus.partitions(root, "echo_task").flatMap(p =>
        GraftBus.read(root, "echo_task", p, 0,
          GraftBus.nextOffset(root, "echo_task", p)))
      assert(firstTsrs.map(_.key) == Seq("bus-run-1"),
        s"barrier returned but the first TSR is not on echo_task: $firstTsrs")
      assert(EventCodec.decodeTsr(firstTsrs.head.value)
        .variableSubstitutions.get("thing").contains("one"))

      worker.start()

      // poll the store for the COMPLETED snapshot
      def latestState(): Option[WFRunState] = storedState(store, "bus-run-1")
      val deadline = now() + 30000
      var done = false
      while (!done && now() < deadline) {
        Thread.sleep(150)
        done = latestState().exists(_.status == Status.COMPLETED)
      }
      assert(done, s"run never completed; lastState=${latestState()}")

      // despite every TASK_EVENT arriving twice, each task folded once
      val st = latestState().get
      val thr = st.threadRuns(0)
      assert(thr.taskRuns.length == 3, s"got ${thr.taskRuns.length} taskRuns")
      assert(thr.taskRuns.map(_.stdout).toSeq == Seq("one", "two", "three"))
      assert(thr.taskRuns.forall(_.status == Status.COMPLETED))

      // events and TSRs are the only bus topics: the TSR topic is the
      // per-TaskDef fan-out topic, and run state never reaches the bus
      assert(GraftBus.topics(root) == Seq("echo_task", eventsTopic))
      // and the source's committed offsets are Kafka-shaped JSON
      val lastEnd = query.recentProgress.reverseIterator
        .flatMap(p => p.sources.headOption.flatMap(s => Option(s.endOffset)))
        .nextOption()
      assert(lastEnd.exists(_.contains(s""""$eventsTopic"""")),
        s"endOffset not Kafka-shaped: $lastEnd")
    } finally {
      workerStop = true
      query.stop()
    }
  }

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/wirespecs/$name.json")
    require(in != null, s"missing fixture $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Wire + deploy + transport + fold + query in ONE path: the
    * committed SDK-serialized documents (basic_wf.json + its TaskDef /
    * ExternalEventDef) are POSTed to the MetadataStore exactly as
    * lhctl would, the scheduler deploys from `deployedSpecs()`, the
    * run executes over real bus topics, the external event arrives as
    * the LITERAL fixture bytes (SDK envelope: ISO timestamps, payload
    * as a JSON string, threadId -1 broadcast), and the final state is
    * read back from the store through the Q1/Q2 snapshot query
    * surface. */
  test("wire fixtures end-to-end: deploy basic_wf.json, fold over bus, query") {
    val root = graft.util.Dirs.scratch("graft-bus-wire").toString
    val ckpt = graft.util.Dirs.scratch("graft-bus-wire-ckpt").toString
    val metaRoot = graft.util.Dirs.scratch("graft-bus-wire-meta").toString
    val state = new CompactedStateStore(
      graft.util.Dirs.scratch("graft-bus-wire-state").toString)

    // deploy the SDK-compiled documents through the CRUD surface
    val store = new MetadataStore(spark, metaRoot)
    val wfSpec = store.postWfSpec(fixture("basic_wf"))
    store.postTaskDef(fixture("taskdef_greet"))
    store.postExternalEventDef(fixture("externaleventdef_my_name"))
    val specs = store.deployedSpecs()
    assert(specs.keySet == Set("my_workflow"))

    val wireEventsTopic = s"wfEvents__${wfSpec.name}"

    val events = Scheduler.busEventSource(spark, root, "wfEvents__.*")
    val outputs = Scheduler(events, specs)
    val query = Scheduler.busStoreSink(outputs, root, state, ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

    // loopback worker for the two basic_wf task queues (reference
    // examples/workflows/basic_wf.py task functions)
    @volatile var workerStop = false
    val worker = new Thread(() => {
      var cursor = Map.empty[(String, Int), Long]
      val taskTopics = Seq("basic_wf-ask_for_name", "basic_wf-greet")
      while (!workerStop) {
        for (topic <- taskTopics; p <- GraftBus.partitions(root, topic)) {
          val from = cursor.getOrElse((topic, p), 0L)
          val until = GraftBus.nextOffset(root, topic, p)
          GraftBus.read(root, topic, p, from, until).foreach { rec =>
            val tsr = EventCodec.decodeTsr(rec.value)
            val out = topic match {
              case "basic_wf-ask_for_name" => "Hey what's your name?"
              case _ =>
                s"Hello there, ${tsr.variableSubstitutions
                  .getOrElse("name", null)}!"
            }
            val t = now()
            Seq(
              TaskRunEvent(tsr.threadId, tsr.taskRunPosition, t, 0,
                Some(TaskRunStartedPayload("wire-worker", None)), None),
              TaskRunEvent(tsr.threadId, tsr.taskRunPosition, t + 1, 0, None,
                Some(TaskRunEndedPayload(TaskRunResult(
                  Some(LHJson.render(out)), None, success = true, 0))))
            ).zipWithIndex.foreach { case (tre, i) =>
              GraftBus.send(root, wireEventsTopic, tsr.wfRunId,
                EventCodec.encodeWFEvent(WFEvent(
                  wfSpec.objectId, wfSpec.name, tsr.wfRunId, t + i,
                  tsr.threadId, WFEventType.TASK_EVENT,
                  EventCodec.encodeTaskRunEvent(tre))))
            }
          }
          cursor += (topic, p) -> until
        }
        Thread.sleep(50)
      }
    })
    worker.setDaemon(true)

    def latestState(): Option[WFRunState] = storedState(state, "wire-run-1")
    def awaitState(what: String)(pred: WFRunState => Boolean): Unit = {
      val deadline = now() + 30000
      while (!latestState().exists(pred) && now() < deadline)
        Thread.sleep(150)
      assert(latestState().exists(pred),
        s"timed out waiting for $what; lastState=${latestState()}")
    }

    try {
      worker.start()
      // start the run under the id the WFEvent fixtures carry
      GraftBus.send(root, wireEventsTopic, "wire-run-1",
        EventCodec.encodeWFEvent(WFEvent(
          wfSpec.objectId, wfSpec.name, "wire-run-1", now(), 0,
          WFEventType.WF_RUN_STARTED,
          EventCodec.encodeRunRequest(WFRunRequest(
            ListMap.empty, wfSpec.objectId, Some("wire-run-1"))))))

      // the run must reach the WAIT-EVENT node (first task folded)
      awaitState("ask_for_name completion")(s =>
        s.threadRuns.headOption.exists(_.taskRuns.exists(tr =>
          tr.status == Status.COMPLETED)))

      // deliver the external event as the LITERAL committed fixture
      // bytes — the scheduler source decodes the SDK envelope itself
      GraftBus.send(root, wireEventsTopic, "wire-run-1",
        fixture("wfevent_external_event"))

      awaitState("run completion")(_.status == Status.COMPLETED)
      val st = latestState().get
      val thr = st.threadRuns(0)
      assert(thr.taskRuns.length == 3, s"got ${thr.taskRuns.length} taskRuns")
      // the fixture payload content flowed: assigned to the variable,
      // substituted into greet, echoed by the worker
      assert(thr.variables("my_name_var") == "Obi-Wan")
      assert(thr.taskRuns.last.stdout == "Hello there, Obi-Wan!")

      // snapshot query surface over the store (Q1 + Q2/Q9)
      import spark.implicits._
      val latest = state.read(spark)
      assert(StateTable.byId(latest, "wire-run-1").count() == 1)
      assert(StateTable.searchByVariable(latest, "my_name_var", "Obi-Wan")
        .as[String].collect().toSeq == Seq("wire-run-1"))
    } finally {
      workerStop = true
      query.stop()
    }
  }

  test("bus source resumes from checkpointed Kafka-shaped offsets") {
    import spark.implicits._
    val root = graft.util.Dirs.scratch("graft-bus-resume").toString
    val ckpt = graft.util.Dirs.scratch("graft-bus-resume-ckpt").toString
    val topic = "wfEvents__resume"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def startQuery() =
      spark.readStream.format("graft-bus")
        .option("path", root).option("subscribe", topic)
        .load()
        .selectExpr("CAST(value AS STRING) AS v").as[String]
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
          batch.collect().foreach(seen.add)
        }
        .start()

    def awaitCount(n: Int): Unit = {
      val deadline = now() + 20000
      while (seen.size < n && now() < deadline) Thread.sleep(100)
      assert(seen.size == n, s"expected $n records, saw ${seen.size}")
    }

    GraftBus.send(root, topic, "k", "e1")
    GraftBus.send(root, topic, "k", "e2")
    val q1 = startQuery()
    awaitCount(2)
    // wait until the batch that delivered e1/e2 is durably committed:
    // stop() can land between foreachBatch and the commit-log write, in
    // which case replaying the batch on restart is CORRECT at-least-once
    // behavior — this test is about resume-from-committed-offsets, so
    // make the commit happen before stopping
    def maxBatch(sub: String): Long = {
      val d = new java.io.File(ckpt, sub)
      Option(d.list()).map(_.toSeq.filter(_.forall(_.isDigit)).map(_.toLong))
        .filter(_.nonEmpty).map(_.max).getOrElse(-1L)
    }
    val target = maxBatch("offsets")
    val commitDeadline = now() + 20000
    while (maxBatch("commits") < target && now() < commitDeadline)
      Thread.sleep(50)
    assert(maxBatch("commits") >= target, "delivery batch never committed")
    q1.stop()

    // produced while the consumer is down
    GraftBus.send(root, topic, "k", "e3")

    val q2 = startQuery()
    awaitCount(3) // e3 only — e1/e2 NOT reprocessed (committed offsets)
    // the restored start offset must be the committed Kafka-shaped map;
    // progress entries publish asynchronously after batch commit, so poll
    def startOffsets() = q2.recentProgress.toSeq
      .flatMap(p => p.sources.headOption.flatMap(s => Option(s.startOffset)))
    val deadlineP = now() + 5000
    while (startOffsets().isEmpty && now() < deadlineP) Thread.sleep(100)
    val resumed = startOffsets().headOption
    q2.stop()
    assert(seen.toArray.toSeq == Seq("e1", "e2", "e3"),
      s"loss or reprocessing across restart: ${seen.toArray.toSeq}")
    assert(resumed.exists(o => o.contains(s""""$topic"""") && o.contains("2")),
      s"restart did not resume from Kafka-shaped committed offsets: $resumed")
  }
}
