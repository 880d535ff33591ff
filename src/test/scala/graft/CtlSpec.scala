package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

import graft.engine.LHJson

/** The reference's CLI demo sequence (README "Run a Workflow":
  * `lhctl deploy && lhctl run && lhctl get WFRun && lhctl search`)
  * driven through [[Ctl]] verb-by-verb against a live served engine —
  * the CLI analogue of GraftApiSpec's route-by-route lifecycle. */
class CtlSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/wirespecs/$name.json")
    require(in != null, s"missing fixture $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parse(json: String): ListMap[String, Any] =
    LHJson.parse(json).asInstanceOf[ListMap[String, Any]]

  private def status(json: String): Any = parse(json)("status")

  test("lhctl verb surface: deploy/run/get/search/stop/resume/delete") {
    val root = graft.util.Dirs.scratch("graft-ctl").toString
    def file(name: String): String = {
      val p = Paths.get(root, s"$name.json")
      Files.write(p, fixture(name).getBytes(StandardCharsets.UTF_8))
      p.toString
    }
    def ctl(args: String*): String = Ctl.exec(spark, root, args)

    // -- deploy (file-sourced, like handle_deploy.py) --
    assert(status(ctl("deploy", "WFSpec", file("basic_wf"))) == "OK")
    assert(status(ctl("deploy", "TaskDef", file("taskdef_greet"))) == "OK")
    assert(status(ctl("deploy", "ExternalEventDef",
      file("externaleventdef_my_name"))) == "OK")
    // validation-rejection path surfaces through the CLI envelope too
    assert(status(ctl("deploy", "WFSpec", file("malformed_missing_node")))
      == "VALIDATION_ERROR")

    // -- get / get-all --
    assert(status(ctl("get", "WFSpec", "my_workflow")) == "OK")
    assert(status(ctl("get", "TaskDef", "ghost")) == "OBJECT_NOT_FOUND")
    assert(parse(ctl("get-all", "WFSpec"))("result") == Vector("my_workflow"))

    // -- serve: the deployed engine as a background streaming query --
    @volatile var serveErr: Option[Throwable] = None
    val server = new Thread(() => {
      try ctl("serve", "30000")
      catch { case t: Throwable => serveErr = Some(t) }
    }, "ctl-serve")
    server.start()
    def await(what: String)(pred: () => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 25000
      while (!pred() && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(pred(), s"timed out waiting for $what")
    }
    def runStatus(id: String): Option[String] = {
      val r = parse(ctl("get", "WFRun", id))
      if (r("status") == "OK")
        Some(r("result").asInstanceOf[ListMap[String, Any]]("status")
          .asInstanceOf[String])
      else None
    }

    try {
      // -- run (name-or-id resolution; var=value pairs) --
      assert(status(ctl("run", "ghost_spec")) == "OBJECT_NOT_FOUND")
      val started = parse(ctl("run", "my_workflow", "ignored_var=42"))
      assert(started("status") == "OK")
      val runId = started("objectId").asInstanceOf[String]
      await("scheduler to process the run")(
        () => runStatus(runId).contains("RUNNING"))

      // -- stop / resume lifecycle through the CLI -- (no task worker
      // runs here, so the first task stays in flight and a stop parks
      // the run HALTING until it lands — HALTED only for idle threads,
      // the M4 halt-lattice semantics)
      assert(status(ctl("stop", runId)) == "OK")
      await("stop to land")(() => runStatus(runId)
        .exists(s => s == "HALTED" || s == "HALTING"))
      assert(status(ctl("resume", runId)) == "OK")
      await("resume to land")(() => runStatus(runId).contains("RUNNING"))

      // run state lives in the compacted store `serve` writes (and
      // compacts), not in bus run-state topics
      val state = new graft.streaming.CompactedStateStore(s"$root/state")
      await("a published compaction")(() => state.version >= 1L)
      assert(Files.exists(Paths.get(root, "state", "_format")))
      assert(!graft.streaming.bus.GraftBus.topics(s"$root/bus")
        .exists(_.startsWith("wfRunState__")))

      // -- search (variable index; no runs carry this alias yet) and
      // search-alias (metadata name lookup) --
      assert(status(ctl("search", "my_name_var", "Obi-Wan")) == "OK")
      assert(parse(ctl("search-alias", "WFSpec", "name", "my_workflow"))
        ("result") == Vector("my_workflow"))

      // -- send-event envelope validation (unknown def rejected) --
      assert(status(ctl("send-event", "ghost_def", runId, "\"x\""))
        == "OBJECT_NOT_FOUND")
      assert(status(ctl("send-event", "my-name", runId, "\"Obi-Wan\""))
        == "OK")

      // -- delete --
      assert(status(ctl("delete", "TaskDef", "basic_wf-greet")) == "OK")
      assert(status(ctl("delete", "TaskDef", "basic_wf-greet"))
        == "OBJECT_NOT_FOUND")
    } finally server.join(35000)
    assert(!server.isAlive, "serve thread did not exit on its timeout")
    serveErr.foreach(throw _)

    // parseVars typing: JSON literals parse, non-JSON stays a string
    val vars = Ctl.parseVars(Seq("a=1", "b=true", "c=Obi-Wan", "d=\"q\""))
    assert(vars.keys.toSeq == Seq("a", "b", "c", "d"))
    assert(vars("a") == 1L || vars("a") == 1)
    assert(vars("b") == true)
    assert(vars("c") == "Obi-Wan")
    assert(vars("d") == "q")
  }
}
