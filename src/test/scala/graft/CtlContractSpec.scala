package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Cross-language wire-parity check: tools/ctl_contract.py (a Python
  * client that only sees the process boundary — argv in, JSON out)
  * drives a fresh `graft.Ctl` JVM through the reference README demo
  * (deploy → serve → run → get WFRun → send-event → search) and
  * asserts the lhctl-shaped envelope at each step. This is the
  * executable form of the claim that a Python-side lhctl user can
  * complete the reference lifecycle against this engine. */
class CtlContractSpec extends AnyFunSuite {

  private def copyFixture(dir: String, name: String): Unit = {
    val in = getClass.getResourceAsStream(s"/wirespecs/$name.json")
    require(in != null, s"missing fixture $name")
    val bytes =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Files.write(Paths.get(dir, s"$name.json"),
      bytes.getBytes(StandardCharsets.UTF_8))
  }

  test("python-driven lhctl contract holds across the process boundary") {
    val root = graft.util.Dirs.scratch("graft-ctlpy").toString
    val fixdir = graft.util.Dirs.scratch("graft-ctlfx").toString
    Seq("basic_wf", "taskdef_greet", "externaleventdef_my_name")
      .foreach(copyFixture(fixdir, _))
    // Test/fork is on, so java.class.path is the real test classpath
    // (main classes + Spark jars) — hand it to the subprocess verbatim.
    val cp = System.getProperty("java.class.path")
    val script = Paths.get("tools", "ctl_contract.py").toAbsolutePath
    require(Files.exists(script), s"missing $script")
    val pb = new ProcessBuilder(
      "python3", script.toString, cp, root, fixdir)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out =
      try scala.io.Source.fromInputStream(
        proc.getInputStream, "UTF-8").mkString
      finally proc.getInputStream.close()
    val exited = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    assert(exited, "ctl_contract.py did not finish in 180 s")
    assert(proc.exitValue() == 0,
      s"ctl_contract.py failed (exit ${proc.exitValue()}):\n$out")
    assert(out.contains("ctl contract OK"), out)
  }
}
