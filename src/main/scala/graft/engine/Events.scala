package graft.engine

import scala.collection.immutable.ListMap

/** Event + output wire types (reference: the common/events package,
  * FIXTURES.md §1.2/§1.3). Timestamps are epoch millis for determinism.
  */
object WFEventType {
  val WF_RUN_STARTED = "WF_RUN_STARTED"
  val TASK_EVENT = "TASK_EVENT"
  val EXTERNAL_EVENT = "EXTERNAL_EVENT"
  val TIMER_EVENT = "TIMER_EVENT"
  val WF_RUN_STOP_REQUEST = "WF_RUN_STOP_REQUEST"
  val WF_RUN_RESUME_REQUEST = "WF_RUN_RESUME_REQUEST"
}

/** Reference: WFEvent.java:16-27. `content` is a JSON-encoded payload
  * whose schema depends on `eventType`. threadId = -1 means "unspecified"
  * (reference default 0; external events use -1 to broadcast).
  *
  * `guid` is a producer-assigned unique id for at-least-once dedupe: a
  * producer that re-sends after a lost ack reuses the guid, so the
  * scheduler can distinguish redelivery from two legitimately identical
  * events. Empty = producer assigned none; the dedupe window then falls
  * back to a content digest, which conflates byte-identical events
  * inside the window with redelivery (acceptable only because every
  * producer in this repo stamps distinct timestamps per logical event). */
case class WFEvent(
    wfSpecId: String,
    wfSpecName: String,
    wfRunId: String,
    timestamp: Long,
    threadId: Int,
    eventType: String,
    content: String,
    guid: String = "")

/** Reference: WFRunRequest.java:7-11. */
case class WFRunRequest(
    variables: ListMap[String, Any],
    wfSpecId: String,
    wfRunId: Option[String])

/** Reference: TaskRunEvent.java:7-16 + started/ended variants. */
case class TaskRunStartedPayload(workerId: String, stdin: Option[String])
case class TaskRunResult(
    stdout: Option[String], stderr: Option[String],
    success: Boolean, returncode: Int)
case class TaskRunEndedPayload(result: TaskRunResult)
case class TaskRunEvent(
    threadId: Int,
    taskRunPosition: Int,
    timestamp: Long,
    taskDefVersionNumber: Int,
    startedEvent: Option[TaskRunStartedPayload],
    endedEvent: Option[TaskRunEndedPayload])

/** Reference: ExternalEventPayload.java:7-12. */
case class ExternalEventPayload(
    externalEventDefId: String,
    externalEventDefName: String,
    content: Any,
    timestamp: Long)

/** Reference: WFRunTimer.java:5-11. */
case class WFRunTimer(
    wfRunId: String,
    threadRunId: Int,
    taskRunId: Int,
    nodeName: Option[String],
    maturationTimestamp: Long)

/** Reference: TaskScheduleRequest.java:7-23 — the record sent to the
  * per-TaskDef task queue topic. */
case class TaskScheduleRequest(
    taskDefId: String,
    taskDefName: String,
    wfRunId: String,
    wfSpecId: String,
    wfSpecName: String,
    threadId: Int,
    taskRunPosition: Int,
    variableSubstitutions: ListMap[String, Any],
    kafkaTopic: String)

/** JSON codecs for the event payloads. */
object EventCodec {
  import LHJson._

  private def objOf(v: Any): ListMap[String, Any] =
    obj(v).getOrElse(throw new VarSubError(s"Expected JSON object, got $v"))

  /** Epoch millis of an ISO-8601 datetime string. Both producer
    * families must decode: the reference Java engine's Jackson writes
    * java.util.Date as epoch millis, but the Python SDK's pydantic v1
    * `.json()` renders datetime as ISO-8601 — tz-aware
    * (`…+00:00`, a producer using datetime.now(timezone.utc)) or naive
    * (`2022-02-22T12:00:00.123456`, the reference worker's plain
    * datetime.now(), executor/worker.py:133,190) — naive is read as
    * UTC, the only consistent choice for a distributed fold. */
  private[engine] def isoToMillis(s: String): Long =
    try java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime.parse(s)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Timestamp field in either wire form: epoch millis (Java engine)
    * or ISO-8601 string (Python SDK). */
  private def timestamp(mm: ListMap[String, Any], k: String): Long =
    mm.get(k) match {
      case Some(s: String) => isoToMillis(s)
      case _ => long(mm, k)
    }

  def decodeWFEvent(json: String): WFEvent = {
    val o = objOf(parse(json))
    WFEvent(
      wfSpecId = str(o, "wfSpecId").getOrElse(""),
      wfSpecName = str(o, "wfSpecName").getOrElse(""),
      wfRunId = str(o, "wfRunId").getOrElse(
        throw new VarSubError("WFEvent missing wfRunId")),
      timestamp = timestamp(o, "timestamp"),
      // Jackson deserializes a missing Java int field to 0 (reference
      // WFEvent.threadId); -1 ("broadcast") must be explicit on the wire
      threadId = int(o, "threadId", 0),
      eventType = str(o, "type").getOrElse(
        throw new VarSubError("WFEvent missing type")),
      content = o.get("content") match {
        case Some(s: String) => s
        case Some(other) if other != null => render(other)
        case _ => ""
      },
      guid = str(o, "guid").getOrElse(""))
  }

  def encodeWFEvent(e: WFEvent): String =
    render(ListMap(
      "wfSpecId" -> e.wfSpecId, "wfSpecName" -> e.wfSpecName,
      "wfRunId" -> e.wfRunId, "timestamp" -> e.timestamp,
      "threadId" -> e.threadId, "type" -> e.eventType,
      "content" -> e.content) ++
      (if (e.guid.nonEmpty) ListMap("guid" -> e.guid) else ListMap.empty))

  def decodeRunRequest(json: String): WFRunRequest = {
    val o = objOf(stringToObj(json) match {
      case _: String => ListMap.empty[String, Any]
      case other => other
    })
    WFRunRequest(
      variables = o.get("variables").flatMap(obj).getOrElse(ListMap.empty),
      wfSpecId = str(o, "wfSpecId").getOrElse(""),
      wfRunId = str(o, "wfRunId"))
  }

  def encodeRunRequest(r: WFRunRequest): String =
    render(ListMap(
      "variables" -> r.variables,
      "wfSpecId" -> r.wfSpecId,
      "wfRunId" -> r.wfRunId.orNull))

  def decodeTaskRunEvent(json: String): TaskRunEvent = {
    val o = objOf(parse(json))
    TaskRunEvent(
      threadId = int(o, "threadId"),
      taskRunPosition = int(o, "taskRunPosition"),
      timestamp = timestamp(o, "timestamp"),
      taskDefVersionNumber = int(o, "taskDefVersionNumber", -1),
      startedEvent = o.get("startedEvent").flatMap(obj).map(s =>
        TaskRunStartedPayload(str(s, "workerId").getOrElse(""), str(s, "stdin"))),
      endedEvent = o.get("endedEvent").flatMap(obj).map { e =>
        val r = e.get("result").flatMap(obj).getOrElse(
          throw new VarSubError("endedEvent missing result"))
        TaskRunEndedPayload(TaskRunResult(str(r, "stdout"), str(r, "stderr"),
          r.get("success").contains(true), int(r, "returncode")))
      })
  }

  def encodeTaskRunEvent(e: TaskRunEvent): String =
    render(ListMap(
      "threadId" -> e.threadId, "taskRunPosition" -> e.taskRunPosition,
      "timestamp" -> e.timestamp,
      "taskDefVersionNumber" -> e.taskDefVersionNumber,
      "startedEvent" -> e.startedEvent.map(s => ListMap(
        "workerId" -> s.workerId, "stdin" -> s.stdin.orNull)).orNull,
      "endedEvent" -> e.endedEvent.map(en => ListMap("result" -> ListMap(
        "stdout" -> en.result.stdout.orNull,
        "stderr" -> en.result.stderr.orNull,
        "success" -> en.result.success,
        "returncode" -> en.result.returncode))).orNull))

  def decodeExternalEvent(json: String): ExternalEventPayload = {
    val o = objOf(parse(json))
    ExternalEventPayload(
      externalEventDefId = str(o, "externalEventDefId").getOrElse(""),
      externalEventDefName = str(o, "externalEventDefName").getOrElse(
        throw new VarSubError("external event missing externalEventDefName")),
      content = o.getOrElse("content", null),
      timestamp = timestamp(o, "timestamp"))
  }

  def encodeExternalEvent(p: ExternalEventPayload): String =
    render(ListMap(
      "externalEventDefId" -> p.externalEventDefId,
      "externalEventDefName" -> p.externalEventDefName,
      "content" -> p.content,
      "timestamp" -> p.timestamp))

  def decodeTimer(json: String): WFRunTimer = {
    val o = objOf(parse(json))
    WFRunTimer(
      wfRunId = str(o, "wfRunId").getOrElse(""),
      threadRunId = int(o, "threadRunId"),
      taskRunId = int(o, "taskRunId"),
      nodeName = str(o, "nodeName"),
      maturationTimestamp = long(o, "maturationTimestamp"))
  }

  def encodeTimer(t: WFRunTimer): String =
    render(ListMap(
      "wfRunId" -> t.wfRunId,
      "threadRunId" -> t.threadRunId,
      "taskRunId" -> t.taskRunId,
      "nodeName" -> t.nodeName.orNull,
      "maturationTimestamp" -> t.maturationTimestamp))

  def encodeTsr(t: TaskScheduleRequest): String =
    render(ListMap(
      "taskDefId" -> t.taskDefId, "taskDefName" -> t.taskDefName,
      "wfRunId" -> t.wfRunId, "wfSpecId" -> t.wfSpecId,
      "wfSpecName" -> t.wfSpecName, "threadId" -> t.threadId,
      "taskRunPosition" -> t.taskRunPosition,
      "variableSubstitutions" -> t.variableSubstitutions,
      "kafkaTopic" -> t.kafkaTopic))

  def decodeTsr(json: String): TaskScheduleRequest = {
    val o = objOf(parse(json))
    TaskScheduleRequest(
      taskDefId = str(o, "taskDefId").getOrElse(""),
      taskDefName = str(o, "taskDefName").getOrElse(""),
      wfRunId = str(o, "wfRunId").getOrElse(""),
      wfSpecId = str(o, "wfSpecId").getOrElse(""),
      wfSpecName = str(o, "wfSpecName").getOrElse(""),
      threadId = int(o, "threadId"),
      taskRunPosition = int(o, "taskRunPosition"),
      variableSubstitutions =
        o.get("variableSubstitutions").flatMap(obj).getOrElse(ListMap.empty),
      kafkaTopic = str(o, "kafkaTopic").getOrElse(""))
  }
}
