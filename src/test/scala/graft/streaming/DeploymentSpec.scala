package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

import graft.engine._

/** The full deployment lifecycle (Q6+Q7, §3.1/§3.2 traces): POST a
  * WFSpec document through the metadata store, deploy the resulting
  * spec map into the streaming scheduler, run a workflow end-to-end,
  * and serve the README search query over materialized snapshots —
  * metadata CRUD, scheduler, worker loop, and query surface wired
  * together the way a user would.
  */
class DeploymentSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("post -> deploy -> run -> search lifecycle") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = graft.util.Dirs.scratch("graft-deploy").toString
    val store = new MetadataStore(spark, root)

    // POST the spec document (validated like the reference's POST API)
    store.postResource(store.Kind.TaskDef, "td-greet", "hello_there",
      """{"name": "hello_there"}""")
    val spec = store.postWfSpec(
      """{"name": "deployed_wf", "entrypointThreadName": "main",
        | "threadSpecs": {"main": {
        |  "variableDefs": {"who": {"type": "STRING"}},
        |  "nodes": {
        |   "n0": {"nodeType": "TASK", "taskDefName": "hello_there",
        |     "variables": {"name": {"wfRunVariableName": "who"}}}},
        |  "edges": []}}}""".stripMargin)

    // deploy = hand the compacted spec map to the multiplexed scheduler
    val deployed = store.deployedSpecs()
    assert(deployed.keySet == Set("deployed_wf"))

    val input = MemoryStream[WFEvent]
    val outputs = Scheduler(input.toDS(), deployed)
    val finals = TrieMap.empty[String, String]
    def now() = System.currentTimeMillis()

    val query = outputs.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SchedulerOut], _: Long) =>
        batch.collect().foreach {
          case r if r.kind == SchedulerOut.TSR =>
            val tsr = EventCodec.decodeTsr(r.json)
            Simulator.sharedTasks(tsr.taskDefName, tsr.variableSubstitutions) match {
              case Simulator.Ok(v, _) =>
                val t = now()
                input.addData(WFEvent(tsr.wfSpecId, tsr.wfSpecName,
                  tsr.wfRunId, t, tsr.threadId, WFEventType.TASK_EVENT,
                  EventCodec.encodeTaskRunEvent(TaskRunEvent(
                    tsr.threadId, tsr.taskRunPosition, t, 0, None,
                    Some(TaskRunEndedPayload(TaskRunResult(
                      Some(LHJson.render(v)), None, success = true, 0)))))))
              case other => fail(s"unexpected $other")
            }
          case r if r.status == Status.COMPLETED => finals.put(r.wfRunId, r.json)
          case _ => ()
        }
      }
      .start()

    try {
      // Q7: run ingestion — POST /WFRun equivalent
      input.addData(WFEvent(spec.objectId, spec.name, "deploy-run-1", now(), 0,
        WFEventType.WF_RUN_STARTED,
        EventCodec.encodeRunRequest(WFRunRequest(
          ListMap("who" -> "Obi-Wan"), spec.objectId, Some("deploy-run-1")))))

      val deadline = now() + 30000
      while (finals.isEmpty && now() < deadline) Thread.sleep(150)
      assert(finals.contains("deploy-run-1"), "run never completed")

      val st = StateCodec.decode(finals("deploy-run-1"))
      assert(st.threadRuns(0).taskRuns(0).stdout == "Hello there, Obi-Wan!")

      // the README search demo over materialized snapshots (Q2/Q9)
      val snapDf = finals.toSeq
        .map { case (id, j) => (id, 1L, j, StateCodec.decode(j).aliasMap) }
        .toDF("wfRunId", "seq", "json", "aliases")
      val hit = StateTable.searchByVariable(
        StateTable.latest(snapDf), "who", "Obi-Wan")
      assert(hit.collect().map(_.getString(0)).toSeq == Seq("deploy-run-1"))
    } finally query.stop()
  }
}
