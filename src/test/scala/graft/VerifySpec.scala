package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

import graft.engine.LHJson

/** Verify's manifest and its one-line verdict must stay parseable JSON
  * whatever an error message carries. */
class VerifySpec extends AnyFunSuite {

  private val nasty = "bad \"quote\" \\ back\ttab\nnew\rcr\u0001ctl\u001fend é"
  private val manifest = Seq("a_ok" -> None, "b_err" -> Some(nasty))

  test("manifest JSON round-trips an error with quotes and control chars") {
    val json = Verify.manifestJson(manifest)
    assert(!json.exists(_ < ' '), "raw control char in manifest JSON")
    assert(LHJson.parse(json) == ListMap(
      "a_ok" -> ListMap("ok" -> true),
      "b_err" -> ListMap("ok" -> false, "err" -> nasty)))
  }

  test("summary line is one JSON line naming the errored keys") {
    val line = Verify.summaryLine(manifest, "/out/dir \"x\"/manifest.json")
    assert(line.linesIterator.size == 1 && line.startsWith("{"))
    assert(LHJson.parse(line) == ListMap(
      "metric" -> "verify", "queries" -> 2, "errored" -> Vector("b_err"),
      "manifest" -> "/out/dir \"x\"/manifest.json"))
  }
}
