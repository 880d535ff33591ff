package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.SpecValidationError

/** CRUD + validation surface (Q1/Q4/Q6/Q8, S4 compaction semantics). */
class MetadataStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.TestSpark.session

  private lazy val root =
    graft.util.Dirs.scratch("graft-meta").toString
  private lazy val store = new MetadataStore(spark, root)

    private val goodSpec =
    """{"name": "meta_basic", "entrypointThreadName": "main",
      | "threadSpecs": {"main": {"nodes": {
      |   "n0": {"nodeType": "TASK", "taskDefName": "echo_task",
      |     "variables": {"thing": {"literalValue": "hi"}}}},
      |  "edges": []}}}""".stripMargin

  test("post/get/getAll/delete round trip with compaction") {
    val spec = store.postWfSpec(goodSpec)
    assert(spec.name == "meta_basic")
    // read-your-writes: visible immediately after post returns (Q5)
    assert(store.getById(store.Kind.WFSpec, spec.objectId).isDefined)
    assert(store.getByNameOrId(store.Kind.WFSpec, "meta_basic").isDefined)
    assert(store.getAllIds(store.Kind.WFSpec) == Seq(spec.objectId))
    assert(store.deployedSpecs().keySet == Set("meta_basic"))

    // update wins over the old record (compaction)
    store.postResource(store.Kind.TaskDef, "td-1", "echo_task", """{"v":1}""")
    store.postResource(store.Kind.TaskDef, "td-1", "echo_task", """{"v":2}""")
    assert(store.getById(store.Kind.TaskDef, "td-1").contains("""{"v":2}"""))

    // tombstone removes from every read path
    store.delete(store.Kind.TaskDef, "td-1")
    assert(store.getById(store.Kind.TaskDef, "td-1").isEmpty)
    assert(store.getAllIds(store.Kind.TaskDef).isEmpty)
  }

  test("a WFSpec is decoded once per log file set; deployedSpecs shares it") {
    val s = new MetadataStore(spark,
      graft.util.Dirs.scratch("graft-meta-memo").toString)
    s.postWfSpec(goodSpec)
    val first = s.wfSpec("meta_basic").get
    assert(s.wfSpec("meta_basic").get eq first)
    assert(s.deployedSpecs()("meta_basic") eq first)
    assert(s.wfSpec("ghost").isEmpty)
    // any new log file drops the memo with the rows it was decoded from
    s.postResource(s.Kind.TaskDef, "td-memo", "echo_task", "{}")
    val after = s.wfSpec("meta_basic").get
    assert(!(after eq first) && after == first)
  }

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/wirespecs/$name.json")
    require(in != null, s"missing fixture $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("wire TaskDef / ExternalEventDef documents through CRUD") {
    // the SDK's compiled TaskDef document (TaskDefSchema shape), POSTed
    // like lhctl does: decoded, validated, keyed by name
    val td = store.postTaskDef(fixture("taskdef_greet"))
    assert(td.name == "basic_wf-greet" && td.partitions == 3)
    val stored = store.getByNameOrId(store.Kind.TaskDef, "basic_wf-greet")
    assert(stored.isDefined)
    // the stored document is the original wire bytes — re-decoding it
    // yields the same resource (no lossy normalization in the store)
    assert(graft.engine.ResourceCodec.decodeTaskDef(stored.get) == td)

    val ed = store.postExternalEventDef(fixture("externaleventdef_my_name"))
    assert(ed.name == "my-name")
    assert(store.getAllIds(store.Kind.ExternalEventDef) == Seq("my-name"))

    // bad documents are rejected before anything is persisted
    intercept[SpecValidationError](store.postTaskDef(
      """{"versionNumber": 0}"""))
    assert(!store.getAllIds(store.Kind.TaskDef).contains(""))

    // tombstone removes the TaskDef like any resource
    store.delete(store.Kind.TaskDef, td.objectId)
    assert(store.getById(store.Kind.TaskDef, td.objectId).isEmpty)
  }

  test("validation rejects bad specs like the reference's POST API") {
    // entrypoint thread missing
    intercept[SpecValidationError](store.postWfSpec(
      """{"name": "x", "entrypointThreadName": "nope",
        | "threadSpecs": {"main": {"nodes": {
        |  "n0": {"nodeType": "NOP"}}, "edges": []}}}""".stripMargin))
    // edge to missing node
    intercept[SpecValidationError](store.postWfSpec(
      """{"name": "x", "entrypointThreadName": "main",
        | "threadSpecs": {"main": {"nodes": {
        |  "n0": {"nodeType": "NOP"}},
        |  "edges": [{"sourceNodeName": "n0", "sinkNodeName": "ghost"}]}}}"""
        .stripMargin))
    // variable not in scope (recursive validator)
    intercept[SpecValidationError](store.postWfSpec(
      """{"name": "x", "entrypointThreadName": "main",
        | "threadSpecs": {"main": {"nodes": {
        |  "n0": {"nodeType": "TASK", "taskDefName": "t",
        |    "variables": {"v": {"wfRunVariableName": "ghost_var"}}}},
        |  "edges": []}}}""".stripMargin))
    // two no-incoming-edge nodes => ambiguous entrypoint
    intercept[SpecValidationError](store.postWfSpec(
      """{"name": "x", "entrypointThreadName": "main",
        | "threadSpecs": {"main": {"nodes": {
        |  "n0": {"nodeType": "NOP"}, "n1": {"nodeType": "NOP"}},
        |  "edges": []}}}""".stripMargin))
    // TASK without taskDef
    intercept[SpecValidationError](store.postWfSpec(
      """{"name": "x", "entrypointThreadName": "main",
        | "threadSpecs": {"main": {"nodes": {
        |  "n0": {"nodeType": "TASK"}}, "edges": []}}}""".stripMargin))
    // duplicate variable names across threads
    intercept[SpecValidationError](store.postWfSpec(
      """{"name": "x", "entrypointThreadName": "main",
        | "threadSpecs": {
        |  "main": {"variableDefs": {"v": {"type": "INT"}},
        |   "nodes": {"n0": {"nodeType": "SPAWN_THREAD",
        |     "threadSpawnThreadSpecName": "kid"}}, "edges": []},
        |  "kid": {"variableDefs": {"v": {"type": "INT"}},
        |   "nodes": {"k0": {"nodeType": "NOP"}}, "edges": []}}}""".stripMargin))
  }
}
