package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

/** The field rules the engine's four codecs (StateCodec, EventCodec,
  * SpecCodec, ResourceCodec) apply when they decode a document: how a
  * numeric field reads an Int, a Long past 32 bits, a Double, null, a
  * missing key and a string; how timestamps in either wire form read;
  * what a non-object root does; and which error type each codec
  * raises. */
class CodecFieldRuleSpec extends AnyFunSuite {

  /** 2^31 + 5: parses to a Long, and wraps when read as an Int. */
  private val big = 2147483653L

  /** JSON text of a numeric field → what an int read gives, None being
    * the field's default. */
  private val intCases: Seq[(String, Option[Int])] = Seq(
    "7" -> Some(7), s"$big" -> Some(big.toInt), "7.9" -> Some(7),
    "null" -> None)

  /** JSON text of a numeric field → what a long read gives. */
  private val longCases: Seq[(String, Option[Long])] = Seq(
    "7" -> Some(7L), s"$big" -> Some(big), "7.9" -> Some(7L),
    "null" -> None)

  /** `,"k":v` when `v` is given, nothing for a missing key. */
  private def field(k: String, v: Option[String]): String =
    v.fold("")(x => s""","$k":$x""")

  // ---- StateCodec ----

  private def stateDoc(run: String = "", thread: String = "",
      task: String = ""): String =
    """{"objectId":"r","wfSpecDigest":"d","wfSpecName":"n",""" +
      s""""status":"RUNNING"$run,"threadRuns":[{"id":0,""" +
      s""""threadSpecName":"t","status":"RUNNING"$thread,"taskRuns":[""" +
      """{"position":0,"number":0,"threadId":0,"nodeName":"a",""" +
      s""""attemptNumber":0,"status":"RUNNING"$task}]}]}"""

  private def stateTask(v: Option[String]): TaskRunState =
    StateCodec.decode(stateDoc(task = field("taskDefVersionNumber", v)))
      .threadRuns(0).taskRuns(0)

  private def stateThread(f: String): ThreadRunState =
    StateCodec.decode(stateDoc(thread = f)).threadRuns(0)

  private def correl(f: String): EventCorrel =
    StateCodec.decode(stateDoc(run = s""","correlatedEvents":{"e":[""" +
      s"""{"event":{"externalEventDefName":"e"$f},"arrivalTime":1}]}"""))
      .correlatedEvents("e")(0)

  test("state: numeric int fields read through toInt, null or missing as the default") {
    (intCases :+ ("missing" -> None)).foreach { case (raw, want) =>
      val v = if (raw == "missing") None else Some(raw)
      assert(stateTask(v).taskDefVersionNumber == want.getOrElse(-1), raw)
      assert(stateThread(field("parentThreadId", v)).parentThreadId == want,
        raw)
    }
  }

  test("state: a non-numeric scalar int field reads as its default") {
    Seq("\"7\"", "true").foreach { raw =>
      assert(stateTask(Some(raw)).taskDefVersionNumber == -1, raw)
      assert(stateThread(field("parentThreadId", Some(raw)))
        .parentThreadId.isEmpty, raw)
    }
  }

  test("state: long fields read Int, Long and Double, anything else as 0") {
    (longCases ++ Seq("\"7\"" -> None, "missing" -> None)).foreach {
      case (raw, want) =>
        val v = if (raw == "missing") None else Some(raw)
        val c = correl(field("timestamp", v))
        assert(c.event.timestamp == want.getOrElse(0L), raw)
    }
  }

  test("state: optional longs read Int and Long, null, missing or a string as None") {
    Seq("7" -> Some(7L), s"$big" -> Some(big), "null" -> None,
        "\"7\"" -> None).foreach { case (raw, want) =>
      val s = StateCodec.decode(stateDoc(run = field("startTime", Some(raw))))
      assert(s.startTime == want, raw)
    }
    assert(StateCodec.decode(stateDoc()).startTime.isEmpty)
  }

  test("state: an optional long holding a Double reads through toLong") {
    val s = StateCodec.decode(stateDoc(run = ""","startTime":1.6E12"""))
    assert(s.startTime.contains(1600000000000L))
  }

  test("state: strings read as null or None when missing or not a string") {
    val s = StateCodec.decode(
      """{"wfSpecDigest":5,"status":"RUNNING","errorCode":7}""")
    assert(s.objectId == null && s.wfSpecDigest == null)
    assert(s.errorCode.isEmpty && s.errorMessage.isEmpty)
    assert(s.threadRuns.isEmpty && s.correlatedEvents.isEmpty)
  }

  test("state: list elements read strictly through toInt, a non-list as empty") {
    val t = stateThread(s""","childThreadIds":[1,$big,3.0],""" +
      """"activeInterruptThreadIds":5,"variables":[1],"variableLocks":""" +
      """{"x":2.0},"haltReasons":"FAILED"""")
    assert(t.childThreadIds == Seq(1, big.toInt, 3))
    assert(t.activeInterruptThreadIds.isEmpty && t.variables.isEmpty)
    assert(t.variableLocks == Map("x" -> 2) && t.haltReasons.isEmpty)
    intercept[VarSubError](stateThread(""","childThreadIds":["1"]"""))
    intercept[VarSubError](stateThread(""","variableLocks":{"x":null}"""))
  }

  test("state: a non-object root throws") {
    Seq("[1]", "\"x\"", "5").foreach { raw =>
      intercept[Exception](StateCodec.decode(raw))
    }
  }

  private def upNext(edge: String): String =
    s""","upNext":[{"attemptNumber":0,"edge":$edge}]"""

  test("state: an upNext edge decodes with the spec codec's edge rules") {
    val full = """{"sourceNodeName":"a","sinkNodeName":"b","condition":""" +
      """{"leftSide":{"wfRunVariableName":"x","literalValue":null},""" +
      """"rightSide":{"literalValue":2},"comparator":"EQUALS"}}"""
    val p = stateThread(upNext(full)).upNext(0)
    assert(p.edge == Edge("a", "b", Some(EdgeCondition(
      VariableAssignment(wfRunVariableName = Some("x")),
      VariableAssignment(literalValue = 2), "EQUALS"))))
    assert(!p.alreadyActivated)
    Seq(
      """{"sinkNodeName":"b"}""",
      """{"sourceNodeName":"a"}""",
      """{"sourceNodeName":"a","sinkNodeName":"b","condition":""" +
        """{"rightSide":{},"comparator":"EQUALS"}}""",
      """{"sourceNodeName":"a","sinkNodeName":"b","condition":""" +
        """{"leftSide":{},"rightSide":{}}}""",
      "5").foreach { e =>
      intercept[SpecValidationError](stateThread(upNext(e)))
    }
  }

  // ---- EventCodec ----

  private def wfEvent(f: String): WFEvent =
    EventCodec.decodeWFEvent(s"""{"wfRunId":"r","type":"T"$f}""")

  test("event: int fields read Int, Long and Double, anything else as the default") {
    (intCases ++ Seq("\"7\"" -> None, "true" -> None, "missing" -> None))
      .foreach { case (raw, want) =>
        val v = if (raw == "missing") None else Some(raw)
        assert(wfEvent(field("threadId", v)).threadId == want.getOrElse(0),
          raw)
        val tre = EventCodec.decodeTaskRunEvent(
          s"""{"threadId":0${field("taskDefVersionNumber", v)}}""")
        assert(tre.taskDefVersionNumber == want.getOrElse(-1), raw)
      }
  }

  test("event: long fields read Int, Long and Double, anything else as 0") {
    (longCases ++ Seq("\"7\"" -> None, "missing" -> None)).foreach {
      case (raw, want) =>
        val v = if (raw == "missing") None else Some(raw)
        val t = EventCodec.decodeTimer(
          s"""{"wfRunId":"r"${field("maturationTimestamp", v)}}""")
        assert(t.maturationTimestamp == want.getOrElse(0L), raw)
    }
  }

  test("event: timestamps read epoch numbers and naive or offset ISO strings") {
    (longCases :+ ("missing" -> None)).foreach { case (raw, want) =>
      val v = if (raw == "missing") None else Some(raw)
      assert(wfEvent(field("timestamp", v)).timestamp == want.getOrElse(0L),
        raw)
    }
    assert(wfEvent(""","timestamp":"2022-02-22T12:00:00.123456"""")
      .timestamp == 1645531200123L)
    assert(wfEvent(""","timestamp":"2022-02-22T12:00:00.123+02:00"""")
      .timestamp == 1645524000123L)
    val ext = EventCodec.decodeExternalEvent("""{"externalEventDefName":""" +
      """"e","timestamp":"2022-02-22T12:00:00Z","content":[1]}""")
    assert(ext.timestamp == 1645531200000L && ext.content == Vector(1))
    intercept[java.time.format.DateTimeParseException](
      wfEvent(""","timestamp":"yesterday""""))
  }

  test("event: nested objects read a non-object as absent or empty") {
    val tsr = EventCodec.decodeTsr("""{"variableSubstitutions":[1],""" +
      """"threadId":"2","wfRunId":7}""")
    assert(tsr.variableSubstitutions.isEmpty && tsr.threadId == 0)
    assert(tsr.wfRunId == "")
    val rr = EventCodec.decodeRunRequest("""{"variables":5,"wfRunId":1}""")
    assert(rr == WFRunRequest(ListMap.empty, "", None))
    assert(EventCodec.decodeRunRequest("not json") ==
      WFRunRequest(ListMap.empty, "", None))
    val tre = EventCodec.decodeTaskRunEvent(
      """{"startedEvent":5,"endedEvent":{"result":{"success":1}}}""")
    assert(tre.startedEvent.isEmpty)
    assert(tre.endedEvent.contains(TaskRunEndedPayload(
      TaskRunResult(None, None, success = false, 0))))
  }

  test("event: a non-object root or a missing required field is a VarSubError") {
    Seq("[1]", "\"x\"", "5", "null").foreach { raw =>
      intercept[VarSubError](EventCodec.decodeWFEvent(raw))
      intercept[VarSubError](EventCodec.decodeTaskRunEvent(raw))
      intercept[VarSubError](EventCodec.decodeExternalEvent(raw))
      intercept[VarSubError](EventCodec.decodeTimer(raw))
      intercept[VarSubError](EventCodec.decodeTsr(raw))
    }
    intercept[VarSubError](EventCodec.decodeRunRequest("[1]"))
    intercept[VarSubError](EventCodec.decodeWFEvent("""{"type":"T"}"""))
    intercept[VarSubError](EventCodec.decodeWFEvent("""{"wfRunId":"r"}"""))
    intercept[VarSubError](EventCodec.decodeExternalEvent("{}"))
    intercept[VarSubError](EventCodec.decodeTaskRunEvent(
      """{"endedEvent":{"result":5}}"""))
  }

  // ---- SpecCodec ----

  private def specDoc(thread: String): String =
    """{"name":"w","entrypointThreadName":"t","threadSpecs":{"t":""" +
      s"""$thread}}"""

  private def taskNode(f: String): String =
    s"""{"nodes":{"a":{"nodeType":"TASK","taskDefName":"td"$f}}}"""

  test("spec: numRetries reads Int and Long only, anything else as 0") {
    Seq("2" -> 2, "4294967298" -> 2, "2.0" -> 0, "null" -> 0,
        "\"2\"" -> 0, "missing" -> 0).foreach { case (raw, want) =>
      val v = if (raw == "missing") None else Some(raw)
      val spec = SpecCodec.decode(specDoc(taskNode(field("numRetries", v))))
      assert(spec.threadSpecs("t").nodes("a").numRetries == want, raw)
    }
  }

  test("spec: object fields read null or missing as empty, a non-object as a SpecValidationError") {
    val n = SpecCodec.decode(specDoc(taskNode(
      ""","variables":null,"customExceptionHandlers":null""")))
      .threadSpecs("t").nodes("a")
    assert(n.variables.isEmpty && n.customExceptionHandlers.isEmpty)
    Seq("[1]", "\"x\"", "5", "null").foreach { raw =>
      intercept[SpecValidationError](SpecCodec.decode(raw))
    }
    Seq(specDoc("5"), specDoc("""{"nodes":5}"""),
        specDoc(taskNode(""","variables":{"x":5}""")),
        specDoc(taskNode(""","variableMutations":[]""")),
        specDoc("""{"nodes":{"a":5}}"""),
        """{"name":"w","entrypointThreadName":"t","threadSpecs":null}""",
        """{"name":"w","entrypointThreadName":"t"}""",
        """{"entrypointThreadName":"t","threadSpecs":{}}""")
      .foreach { doc =>
        intercept[SpecValidationError](SpecCodec.decode(doc))
      }
  }

  // ---- ResourceCodec ----

  test("resource: int fields read Int, Long and Double, anything else as the default") {
    (intCases ++ Seq("\"7\"" -> None, "missing" -> None)).foreach {
      case (raw, want) =>
        val v = if (raw == "missing") None else Some(raw)
        val td = ResourceCodec.decodeTaskDef(
          s"""{"name":"t"${field("partitions", v)}}""")
        assert(td.partitions == want.getOrElse(3), raw)
    }
  }

  test("resource: a non-object root or requiredVar is a SpecValidationError") {
    Seq("[1]", "\"x\"", "5", "null").foreach { raw =>
      intercept[SpecValidationError](ResourceCodec.decodeTaskDef(raw))
      intercept[SpecValidationError](ResourceCodec.decodeExternalEventDef(raw))
    }
    intercept[SpecValidationError](ResourceCodec.decodeTaskDef(
      """{"name":"t","requiredVars":{"x":5}}"""))
    assert(ResourceCodec.decodeTaskDef("""{"name":"t","requiredVars":5}""")
      .requiredVars.isEmpty)
  }
}
