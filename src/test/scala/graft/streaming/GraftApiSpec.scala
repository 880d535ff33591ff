package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

import graft.engine._
import graft.streaming.bus.GraftBus

/** The reference's API surface, exercised route-by-route through
  * [[GraftApi]] over the REAL bus topology (event and task topics on
  * the bus, run state in the [[CompactedStateStore]] the scheduler's
  * [[Scheduler.busStoreSink]] writes): POST resources (incl. the
  * validation-rejection and not-found paths), POST /WFRun, the
  * external-event route, stop/resume, point GET in the SDK WFRunSchema
  * shape, and alias search — every response in the LHRPCResponse
  * envelope. This is the "a reference user could switch" test: the
  * exact call sequence `lhctl deploy && lhctl run && lhctl send-event
  * && lhctl get WFRun` performs, against Spark. */
class GraftApiSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/wirespecs/$name.json")
    require(in != null, s"missing fixture $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parse(json: String): ListMap[String, Any] =
    LHJson.parse(json).asInstanceOf[ListMap[String, Any]]

  private def now() = System.currentTimeMillis()

  test("full reference API lifecycle over bus topics") {
    val busRoot = graft.util.Dirs.scratch("graft-api-bus").toString
    val ckpt = graft.util.Dirs.scratch("graft-api-ckpt").toString
    val metaRoot = graft.util.Dirs.scratch("graft-api-meta").toString
    val comp = new CompactedStateStore(
      graft.util.Dirs.scratch("graft-api-state").toString)

    val store = new MetadataStore(spark, metaRoot)
    val api = new GraftApi(spark, store, busRoot, Some(comp))

    // -- an empty store (API up before the first snapshot lands) --
    assert(api.statusOf(api.getWfRun("api-run-1"))
      == api.RpcStatus.OBJECT_NOT_FOUND)
    assert(parse(api.getWfRunAlias("my_name_var", "Obi-Wan"))("result")
      == Vector())

    // -- POST /{Type}: envelope field order + OK / VALIDATION_ERROR --
    val posted = api.postResource(store.Kind.WFSpec, fixture("basic_wf"))
    assert(parse(posted).keys.toSeq ==
      Seq("message", "status", "objectId", "result"))
    assert(api.statusOf(posted) == api.RpcStatus.OK)
    assert(parse(posted)("objectId") == "my_workflow")
    assert(api.statusOf(api.postResource(store.Kind.WFSpec,
      fixture("malformed_missing_node"))) == api.RpcStatus.VALIDATION_ERROR)
    assert(api.statusOf(api.postResource(store.Kind.TaskDef,
      fixture("taskdef_greet"))) == api.RpcStatus.OK)
    assert(api.statusOf(api.postResource(store.Kind.ExternalEventDef,
      fixture("externaleventdef_my_name"))) == api.RpcStatus.OK)

    // -- GET /{Type}/{id} + /{Type}All + not-found --
    assert(api.statusOf(api.get(store.Kind.TaskDef, "basic_wf-greet"))
      == api.RpcStatus.OK)
    assert(api.statusOf(api.get(store.Kind.TaskDef, "ghost"))
      == api.RpcStatus.OBJECT_NOT_FOUND)
    assert(parse(api.getAll(store.Kind.WFSpec))("result")
      == Vector("my_workflow"))

    // deploy = the streaming query picks up deployedSpecs (Q6)
    val events = Scheduler.busEventSource(spark, busRoot, "wfEvents__.*")
    val outputs = Scheduler(events, store.deployedSpecs())
    val query = Scheduler.busStoreSink(outputs, busRoot, comp, ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

    // loopback worker for the two basic_wf tasks
    @volatile var workerStop = false
    val worker = new Thread(() => {
      var cursor = Map.empty[(String, Int), Long]
      val topics = Seq("basic_wf-ask_for_name", "basic_wf-greet")
      while (!workerStop) {
        for (topic <- topics; p <- GraftBus.partitions(busRoot, topic)) {
          val from = cursor.getOrElse((topic, p), 0L)
          val until = GraftBus.nextOffset(busRoot, topic, p)
          GraftBus.read(busRoot, topic, p, from, until).foreach { rec =>
            val tsr = EventCodec.decodeTsr(rec.value)
            val out = topic match {
              case "basic_wf-ask_for_name" => "Hey what's your name?"
              case _ => s"Hello there, ${tsr.variableSubstitutions
                .getOrElse("name", null)}!"
            }
            val t = now()
            Seq(
              TaskRunEvent(tsr.threadId, tsr.taskRunPosition, t, 0,
                Some(TaskRunStartedPayload("api-worker", None)), None),
              TaskRunEvent(tsr.threadId, tsr.taskRunPosition, t + 1, 0, None,
                Some(TaskRunEndedPayload(TaskRunResult(
                  Some(LHJson.render(out)), None, success = true, 0))))
            ).zipWithIndex.foreach { case (tre, i) =>
              GraftBus.send(busRoot, s"wfEvents__my_workflow", tsr.wfRunId,
                EventCodec.encodeWFEvent(WFEvent(
                  "my_workflow", "my_workflow", tsr.wfRunId, t + i,
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

    def await(what: String)(pred: () => Boolean): Unit = {
      val deadline = now() + 30000
      while (!pred() && now() < deadline) Thread.sleep(150)
      assert(pred(), s"timed out waiting for $what")
    }
    def runDoc(id: String): Option[ListMap[String, Any]] = {
      val r = parse(api.getWfRun(id))
      if (r("status") == api.RpcStatus.OK)
        Some(r("result").asInstanceOf[ListMap[String, Any]])
      else None
    }
    def runStatus(id: String): Option[String] =
      runDoc(id).map(_("status").asInstanceOf[String])

    try {
      worker.start()

      // -- POST /WFRun (name-or-id resolution; not-found path) --
      assert(api.statusOf(api.postRun("ghost_spec"))
        == api.RpcStatus.OBJECT_NOT_FOUND)
      val started = parse(api.postRun("my_workflow",
        wfRunId = Some("api-run-1")))
      assert(started("status") == api.RpcStatus.OK)
      assert(started("objectId") == "api-run-1")

      // run reaches the WAIT-EVENT node
      await("first task completion")(() => runDoc("api-run-1").exists { d =>
        d("threadRuns").asInstanceOf[Vector[Any]].head
          .asInstanceOf[ListMap[String, Any]]("taskRuns")
          .asInstanceOf[Vector[Any]].exists(t =>
            t.asInstanceOf[ListMap[String, Any]]("status") == "COMPLETED")
      })

      // -- POST /externalEvent/{defId}/{wfRunId} --
      assert(api.statusOf(api.postEvent("my-name", "ghost-run", "x"))
        == api.RpcStatus.OBJECT_NOT_FOUND)
      assert(api.statusOf(api.postEvent("my-name", "api-run-1", "Obi-Wan"))
        == api.RpcStatus.OK)
      await("run completion")(() => runStatus("api-run-1")
        .contains(Status.COMPLETED))

      // -- GET /WFRun/{id}: the document is the SDK WFRunSchema shape --
      val doc = runDoc("api-run-1").get
      assert(doc.keys.toSeq.take(5) == Seq("created", "objectId",
        "wfSpecName", "wfSpecDigest", "threadRuns"))
      val thr = doc("threadRuns").asInstanceOf[Vector[Any]].head
        .asInstanceOf[ListMap[String, Any]]
      assert(thr("variables").asInstanceOf[ListMap[String, Any]]
        ("my_name_var") == "Obi-Wan")

      // -- GET /WFRunAlias/{key}/{value} --
      val found = parse(api.getWfRunAlias("my_name_var", "Obi-Wan"))
      assert(found("result") == Vector("api-run-1"))
      assert(parse(api.getWfRunAlias("my_name_var", "nobody"))("result")
        == Vector())

      // -- stop / resume round-trip on a second run --
      assert(parse(api.postRun("my_workflow",
        wfRunId = Some("api-run-2")))("status") == api.RpcStatus.OK)
      await("run-2 waiting for event")(() => runDoc("api-run-2").exists { d =>
        d("threadRuns").asInstanceOf[Vector[Any]].head
          .asInstanceOf[ListMap[String, Any]]("taskRuns")
          .asInstanceOf[Vector[Any]].nonEmpty
      })
      assert(api.statusOf(api.postStop("api-run-2", 0)) == api.RpcStatus.OK)
      await("run-2 halted")(() => runStatus("api-run-2")
        .exists(s => s == Status.HALTED || s == Status.HALTING))
      assert(api.statusOf(api.postResume("api-run-2", 0)) == api.RpcStatus.OK)
      await("run-2 running again")(() => runStatus("api-run-2")
        .contains(Status.RUNNING))
      assert(api.statusOf(api.postEvent("my-name", "api-run-2", "R2-D2"))
        == api.RpcStatus.OK)
      await("run-2 completion")(() => runStatus("api-run-2")
        .contains(Status.COMPLETED))

      // -- GET /WFRun read path is KEY-PRUNED: the point lookup's
      // wfRunId predicate passes through the latest window and reaches
      // the parquet scan as a pushed filter --
      val lookupScans = api.latestFrame(Some("api-run-1")).get
        .queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      assert(lookupScans.nonEmpty && lookupScans.forall(
        _.metadata.get("PushedFilters")
          .exists(_.contains("EqualTo(wfRunId,api-run-1)"))),
        s"getWfRun scan does not push its key: $lookupScans")

      // -- POST with the read-your-writes barrier (reference: POSTApi
      // blocks inside the request): POST then IMMEDIATE GET observes
      // the run, no manual barrier call --
      assert(parse(api.postRun("my_workflow", wfRunId = Some("api-run-3"),
        await = Some(query)))("status") == api.RpcStatus.OK)
      assert(runDoc("api-run-3").isDefined,
        "POST /WFRun with barrier: immediate GET must observe the run")

      // -- GET /{Type}Offset/... : the read-your-writes barrier route --
      val (part, off) = GraftBus.send(busRoot, "wfEvents__my_workflow",
        "api-run-2", EventCodec.encodeWFEvent(WFEvent(
          "my_workflow", "my_workflow", "api-run-2", now(), 0,
          WFEventType.WF_RUN_RESUME_REQUEST, "")))
      assert(api.statusOf(api.waitForProcessing(query,
        "wfEvents__my_workflow", part, off)) == api.RpcStatus.OK)

      // -- GET /{Type}AliasSet/{key}/{value}: metadata name alias --
      assert(parse(api.getAliasSet(store.Kind.WFSpec, "name",
        "my_workflow"))("result") == Vector("my_workflow"))
      assert(parse(api.getAliasSet(store.Kind.WFSpec, "name", "ghost"))
        ("result") == Vector())

      // -- serving cache: warm GET /WFRun answers from driver memory,
      // BYTE-IDENTICAL to the uncached distributed path over the same
      // store (the cache's core contract, ServingCache scaladoc) --
      val cache = new ServingCache(comp)
      val apiCached = new GraftApi(spark, store, busRoot, Some(comp),
        servingCache = Some(cache))
      assert(apiCached.getWfRun("api-run-1") == api.getWfRun("api-run-1"),
        "cached GET /WFRun must be byte-identical to the uncached path")
      assert(apiCached.getWfRun("api-run-2") == api.getWfRun("api-run-2"),
        "cached GET /WFRun must be byte-identical to the uncached path")
      assert(apiCached.getWfRunAlias("my_name_var", "Obi-Wan")
        == api.getWfRunAlias("my_name_var", "Obi-Wan"))
      assert(cache.size > 0, "cache populated after first lookup")
      assert(apiCached.statusOf(apiCached.getWfRun("ghost-run"))
        == api.RpcStatus.OBJECT_NOT_FOUND)

      // read-your-writes after an APPEND from outside the scheduler: the
      // appended run must be visible to the very next lookup. The row
      // is a real snapshot re-keyed under a fresh run id, as the
      // scheduler's SchedulerOut snapshot row.
      import spark.implicits._
      val (rywJson, rywSpec, rywStatus, rywAliases) = comp.read(spark)
        .filter($"wfRunId" === "api-run-1")
        .select("json", "wfSpecName", "status", "aliases")
        .as[(String, String, String, Map[String, Seq[String]])].head()
      comp.append(Seq(SchedulerOut(SchedulerOut.SNAPSHOT, "cache-ryw-run",
        rywSpec, "", -1, -1, rywStatus, rywJson, 1L, rywAliases)).toDS().toDF())
      assert(apiCached.statusOf(apiCached.getWfRun("cache-ryw-run"))
        == api.RpcStatus.OK,
        "append must be visible to the next cached lookup")
      assert(apiCached.getWfRun("cache-ryw-run")
        == api.getWfRun("cache-ryw-run"),
        "post-append cached answer must match the uncached path")

      // staleness across a COMPACTION: compact() publishes a new base
      // and (a generation later) deletes superseded files — the cache's
      // merged-file bookkeeping must survive the wholesale file-set
      // swap and keep answering byte-identically
      assert(comp.compact(spark) > 0L, "ryw append left a log file to fold")
      assert(apiCached.getWfRun("cache-ryw-run")
        == api.getWfRun("cache-ryw-run"),
        "cached answer must survive compaction")
      assert(apiCached.getWfRun("api-run-1") == api.getWfRun("api-run-1"),
        "pre-compaction entries must stay correct after the file-set swap")

      // bypass at maxEntries: a cache bounded below the live-run count
      // flips to permanent Bypass and the route serves distributed —
      // same bytes, no cache residency
      val tiny = new ServingCache(comp, maxEntries = 1)
      val apiTiny = new GraftApi(spark, store, busRoot, Some(comp),
        servingCache = Some(tiny))
      assert(apiTiny.getWfRun("api-run-1") == api.getWfRun("api-run-1"))
      assert(tiny.isBypassed && tiny.size == 0,
        s"bounded cache must bypass (bypassed=${tiny.isBypassed})")

      // -- DELETE /{Type}/{id} --
      assert(api.statusOf(api.deleteResource(store.Kind.TaskDef,
        "basic_wf-greet")) == api.RpcStatus.OK)
      assert(api.statusOf(api.deleteResource(store.Kind.TaskDef,
        "basic_wf-greet")) == api.RpcStatus.OBJECT_NOT_FOUND)
    } finally {
      workerStop = true
      query.stop()
    }
  }

  // Round-12 (VERDICT item 8): the cache's two guarantees —
  // byte-identity with the store and read-your-writes — must hold not
  // just sequentially (covered above, incl. compaction-during-read)
  // but under a live WRITER racing a cached READER, which is the 24/7
  // deployment's steady state (scheduler appending snapshots while the
  // API serves). The writer's own payloads carry their seq, so every
  // observation is checkable against exactly what was written.
  test("serving cache: appender racing cached reader keeps byte-identity " +
      "and read-your-writes") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft-cache-race").toString
    val comp = new CompactedStateStore(dir)
    val cache = new ServingCache(comp)
    val K = 10
    val payload = (i: Long) => s"""{"race":$i}"""
    val seqOf = (json: String) => {
      assert(json.startsWith("""{"race":""") && json.endsWith("}"),
        s"cached json is not a written payload: $json")
      json.stripPrefix("""{"race":""").stripSuffix("}").toLong
    }
    @volatile var failure: Option[Throwable] = None
    @volatile var appending = true
    val appender = new Thread(() => {
      try {
        for (i <- 1L to K) {
          comp.append(Seq(("race-run", "race_spec", "RUNNING", payload(i), i,
            Map.empty[String, Seq[String]]))
            .toDF("wfRunId", "wfSpecName", "status", "json", "seq", "aliases"))
          // read-your-writes from the writer's side: the append
          // returned, so the very next lookup must observe seq >= i
          cache.lookup(spark, "race-run") match {
            case ServingCache.Hit(json, spec) =>
              assert(spec == "race_spec")
              assert(seqOf(json) >= i,
                s"read-your-writes violated: wrote seq $i, read $json")
            case other => fail(s"post-append lookup returned $other")
          }
          // a mid-race compaction must not perturb either guarantee
          if (i == K / 2) comp.compact(spark)
        }
      } catch { case t: Throwable => failure = Some(t) }
      finally appending = false
    }, "race-appender")
    val reader = new Thread(() => {
      try {
        var lastSeen = 0L
        while (appending && failure.isEmpty) {
          cache.lookup(spark, "race-run") match {
            case ServingCache.Hit(json, spec) =>
              assert(spec == "race_spec")
              val s = seqOf(json) // byte-identity: parses ⇒ a written payload
              assert(s >= lastSeen,
                s"cached read went backward: $lastSeen then $s")
              lastSeen = s
            case ServingCache.Miss => // before the first append lands
            case ServingCache.Bypass => fail("unexpected bypass")
          }
        }
      } catch { case t: Throwable => failure = Some(t) }
    }, "race-reader")
    appender.start(); reader.start()
    appender.join(120000); reader.join(120000)
    assert(!appender.isAlive && !reader.isAlive, "race threads hung")
    failure.foreach(throw _)
    // quiescent byte-identity: cache and the distributed fold agree on
    // the final snapshot
    val distributed = comp.read(spark)
      .filter($"wfRunId" === "race-run").select("json").as[String].head()
    assert(distributed == payload(K))
    cache.lookup(spark, "race-run") match {
      case ServingCache.Hit(json, _) => assert(json == distributed,
        "cached answer diverged from the distributed path at quiescence")
      case other => fail(s"final lookup returned $other")
    }
  }
}
