package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Python-SDK end-to-end parity: tools/sdk_contract.py COMPILES
  * decorated Python workflow functions with sdk/graft_sdk.py (the
  * thread_spec_builder-shaped compile slice), deploys the documents
  * across the process boundary, runs them against the live engine
  * (`Ctl serve worker`), and asserts the folded WFRuns — the
  * reference's lh_test_harness pattern executed verbatim-shaped
  * against this engine for ALL 14 reference test modules (as of
  * round 17: basic through var_adds, interrupts_multiple,
  * interrupts_with_payload). This closes the last user-visible
  * residual: a Python user can author, compile, deploy, and run
  * every reference-harness workflow shape without touching Scala. */
class SdkContractSpec extends AnyFunSuite {

  test("python SDK compiles and runs the reference harness shapes") {
    val root = graft.util.Dirs.scratch("graft-sdkpy").toString
    val fixdir = graft.util.Dirs.scratch("graft-sdkfx").toString
    val cp = System.getProperty("java.class.path")
    val script = Paths.get("tools", "sdk_contract.py").toAbsolutePath
    require(Files.exists(script), s"missing $script")
    val pb = new ProcessBuilder(
      "python3", script.toString, cp, root, fixdir)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out =
      try scala.io.Source.fromInputStream(
        proc.getInputStream, "UTF-8").mkString
      finally proc.getInputStream.close()
    val exited = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    assert(exited, "sdk_contract.py did not finish in 300 s")
    assert(proc.exitValue() == 0,
      s"sdk_contract.py failed (exit ${proc.exitValue()}):\n$out")
    assert(out.contains("sdk contract OK"), out)
  }
}
