package graft.engine

import scala.collection.mutable
import scala.collection.immutable.ListMap

/** Execution statuses (reference: LHExecutionStatus.java). */
object Status {
  val SCHEDULED = "SCHEDULED"; val RUNNING = "RUNNING"
  val HALTING = "HALTING"; val HALTED = "HALTED"; val COMPLETED = "COMPLETED"
}

/** Reference: WFHaltReasonEnum.java:10-16. */
object HaltReason {
  val PARENT_STOPPED = "PARENT_STOPPED"
  val PARENT_INTERRUPTED = "PARENT_INTERRUPTED"
  val FAILED = "FAILED"
  val INTERRUPT = "INTERRUPT"
  val MANUAL_STOP = "MANUAL_STOP"
}

/** Reference: LHFailureReason.java. */
object FailureReason {
  val TASK_FAILURE = "TASK_FAILURE"
  val VARIABLE_LOOKUP_ERROR = "VARIABLE_LOOKUP_ERROR"
  val INVALID_WF_SPEC_ERROR = "INVALID_WF_SPEC_ERROR"
  val TIMEOUT = "TIMEOUT"
  val SUBTHREAD_FAILURE = "SUBTHREAD_FAILURE"
  val INTERNAL_LITTLEHORSE_ERROR = "INTERNAL_LITTLEHORSE_ERROR"

  /** Reference: LHUtil.isRetryable (LHUtil.java:300-316). */
  def isRetryable(reason: String): Boolean = reason match {
    case TASK_FAILURE | TIMEOUT | INTERNAL_LITTLEHORSE_ERROR => true
    case _ => false
  }
}

/** Reference: TaskRun.java:15-45. Mutable run state of one node
  * execution attempt. `stdin`/`stdout`/`stderr` hold parsed JSON values
  * (LHUtil.stringToObj semantics). */
final class TaskRunState(
    var position: Int,
    var number: Int,
    var threadId: Int,
    var nodeName: String,
    var attemptNumber: Int) {
  var status: String = Status.RUNNING
  var stdin: Any = null
  var stdout: Any = null
  var stderr: Any = null
  var returnCode: Int = 0
  var workerId: String = null
  var taskDefVersionNumber: Int = -1
  var scheduleTime: Option[Long] = None
  var startTime: Option[Long] = None
  var endTime: Option[Long] = None
  var failureReason: Option[String] = None
  var failureMessage: Option[String] = None

  def isTerminated: Boolean =
    status == Status.COMPLETED || status == Status.HALTED
  def isCompleted: Boolean = isTerminated // mirrors TaskRun.java:52-66
}

/** One pending edge (reference: UpNextPair.java:6-16 plus the runtime
  * `alreadyActivated` flag that the reference keeps on the Edge). */
final class UpNextPair(
    var attemptNumber: Int,
    val edge: Edge,
    var alreadyActivated: Boolean = false)

/** Reference: ExternalEventCorrel.java:7-13. */
final class EventCorrel(
    val event: ExternalEventPayload,
    val arrivalTime: Long,
    var assignedThreadId: Int = -1,
    var assignedNodeName: Option[String] = None,
    var assignedTaskRunExecutionNumber: Int = -1)

/** Reference: ThreadRun.java:50-87. */
final class ThreadRunState(
    val id: Int,
    var threadSpecName: String) {
  var status: String = Status.RUNNING
  val taskRuns: mutable.ArrayBuffer[TaskRunState] = mutable.ArrayBuffer.empty
  var upNext: mutable.ArrayBuffer[UpNextPair] = mutable.ArrayBuffer.empty
  val variables: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var parentThreadId: Option[Int] = None
  val childThreadIds: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  val activeInterruptThreadIds: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  val handledInterruptThreadIds: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  var errorMessage: String = ""
  var isInterruptThread: Boolean = false
  var exceptionName: Option[String] = None
  val variableLocks: mutable.HashMap[String, Int] = mutable.HashMap.empty
  val haltReasons: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty

  def isCompleted: Boolean = status == Status.COMPLETED
  /** Reference: ThreadRun.isTerminated (ThreadRun.java:1263-1271). */
  def isTerminated: Boolean =
    status != Status.RUNNING && status != Status.SCHEDULED &&
      (isCompleted || haltReasons.contains(HaltReason.FAILED))
}

/** Reference: WFRun.java:44-62. One aggregate per workflow run; the
  * value held in the per-key state store. */
final class WFRunState(
    val objectId: String,
    var wfSpecDigest: String,
    var wfSpecName: String) {
  var status: String = Status.RUNNING
  val threadRuns: mutable.ArrayBuffer[ThreadRunState] = mutable.ArrayBuffer.empty
  var startTime: Option[Long] = None
  var endTime: Option[Long] = None
  var errorCode: Option[String] = None
  var errorMessage: Option[String] = None
  val correlatedEvents:
      mutable.LinkedHashMap[String, mutable.ArrayBuffer[EventCorrel]] =
    mutable.LinkedHashMap.empty

  /** Reference: WFRun.getAliases (WFRun.java:320-338) — the secondary
    * index keys: every String-valued variable of every thread. */
  def aliases: Seq[(String, String)] =
    threadRuns.flatMap { tr =>
      tr.variables.collect { case (k, v: String) => (k, v) }
    }.toSeq

  /** [[aliases]] grouped per name (threads may bind the same variable),
    * the shape materialized as the snapshot sink's `aliases` map column
    * for columnar Q2/Q9 search. */
  def aliasMap: Map[String, Seq[String]] = {
    val m = mutable.LinkedHashMap.empty[String, Vector[String]]
    aliases.foreach { case (k, v) =>
      m.update(k, m.getOrElse(k, Vector.empty) :+ v)
    }
    m.toMap
  }
}

/** JSON snapshot codec for [[WFRunState]] — used both as the Spark
  * state-store representation and as the queryable `wfrun_state` sink
  * row. Field names follow the reference's Jackson output so snapshots
  * look like the reference's WFRun documents. */
object StateCodec {
  import LHJson._

  def encode(s: WFRunState): String = render(toJson(s))

  def toJson(s: WFRunState): ListMap[String, Any] = ListMap(
    "objectId" -> s.objectId,
    "wfSpecDigest" -> s.wfSpecDigest,
    "wfSpecName" -> s.wfSpecName,
    "status" -> s.status,
    "startTime" -> s.startTime.map(x => x: Any).orNull,
    "endTime" -> s.endTime.map(x => x: Any).orNull,
    "errorCode" -> s.errorCode.orNull,
    "errorMessage" -> s.errorMessage.orNull,
    "threadRuns" -> s.threadRuns.map(threadToJson).toVector,
    "correlatedEvents" -> ListMap.from(s.correlatedEvents.map {
      case (k, correls) => k -> correls.map(correlToJson).toVector
    }))

  private def threadToJson(t: ThreadRunState): ListMap[String, Any] = ListMap(
    "id" -> t.id,
    "threadSpecName" -> t.threadSpecName,
    "status" -> t.status,
    "variables" -> ListMap.from(t.variables),
    "upNext" -> t.upNext.map(upNextToJson).toVector,
    "taskRuns" -> t.taskRuns.map(taskToJson).toVector,
    "parentThreadId" -> t.parentThreadId.map(x => x: Any).orNull,
    "childThreadIds" -> t.childThreadIds.toVector,
    "activeInterruptThreadIds" -> t.activeInterruptThreadIds.toVector,
    "handledInterruptThreadIds" -> t.handledInterruptThreadIds.toVector,
    "errorMessage" -> t.errorMessage,
    "isInterruptThread" -> t.isInterruptThread,
    "exceptionName" -> t.exceptionName.orNull,
    "variableLocks" -> ListMap.from(
      t.variableLocks.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }),
    "haltReasons" -> t.haltReasons.toVector)

  private def upNextToJson(p: UpNextPair): ListMap[String, Any] = ListMap(
    "attemptNumber" -> p.attemptNumber,
    "alreadyActivated" -> p.alreadyActivated,
    "edge" -> SpecCodec.edgeTree(p.edge))

  private def taskToJson(t: TaskRunState): ListMap[String, Any] = ListMap(
    "position" -> t.position,
    "number" -> t.number,
    "threadId" -> t.threadId,
    "nodeName" -> t.nodeName,
    "attemptNumber" -> t.attemptNumber,
    "status" -> t.status,
    "stdin" -> t.stdin,
    "stdout" -> t.stdout,
    "stderr" -> t.stderr,
    "returnCode" -> t.returnCode,
    "workerId" -> t.workerId,
    "taskDefVersionNumber" -> t.taskDefVersionNumber,
    "scheduleTime" -> t.scheduleTime.map(x => x: Any).orNull,
    "startTime" -> t.startTime.map(x => x: Any).orNull,
    "endTime" -> t.endTime.map(x => x: Any).orNull,
    "failureReason" -> t.failureReason.orNull,
    "failureMessage" -> t.failureMessage.orNull)

  // ---- SDK-shape export (lhctl-compatible WFRunSchema documents) ----

  /** Render a run snapshot in the reference SDK's serialized
    * `WFRunSchema` shape (lhctl/lh_lib/schema/wf_run_schema.py:130-146
    * and nested models) — camelCase aliases, explicit nulls,
    * model-declaration field order, enum strings, ISO-8601 UTC
    * datetimes — so tooling that consumes `lhctl get WFRun` documents
    * reads this engine's state without modification. The internal
    * [[encode]] stays the state-store format (it round-trips through
    * [[decode]]); this is the EXPORT surface.
    *
    * Needs the [[WFSpec]] for two wire fields the internal snapshot
    * does not carry: per-taskRun `nodeType` (TaskRunSchema, :43-70 —
    * looked up from the node the taskRun names) and `wfSpecId`
    * (TaskRunSchema carries it per task; = spec.objectId). */
  def encodeSdk(s: WFRunState, spec: WFSpec): String =
    render(sdkRunTree(s, spec))

  private def isoUtc(millis: Long): String =
    java.time.OffsetDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(millis),
        java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"))

  private def isoOrNull(t: Option[Long]): Any =
    t.map(isoUtc).orNull

  /** The [[encodeSdk]] document as a value, for callers that embed it
    * in a larger document. Field order: WFRunSchema
    * (wf_run_schema.py:130-146). */
  def sdkRunTree(s: WFRunState, spec: WFSpec): ListMap[String, Any] =
    ListMap(
      "created" -> isoOrNull(s.startTime),
      "objectId" -> s.objectId,
      "wfSpecName" -> s.wfSpecName,
      "wfSpecDigest" -> s.wfSpecDigest,
      "threadRuns" -> s.threadRuns.map(sdkThreadTree(_, s, spec)).toVector,
      "status" -> s.status,
      "startTime" -> isoOrNull(s.startTime),
      "endTime" -> isoOrNull(s.endTime),
      "errorCode" -> s.errorCode.orNull,
      "errorMessage" -> s.errorMessage.orNull,
      "correlatedEvents" -> (if (s.correlatedEvents.isEmpty) null
        else ListMap.from(s.correlatedEvents.map { case (k, cs) =>
          k -> cs.map(sdkCorrelTree).toVector
        })),
      "pendingInterrupts" -> null)

  /** Field order: ThreadRunSchema (wf_run_schema.py:80-98). */
  private def sdkThreadTree(
      t: ThreadRunState, s: WFRunState, spec: WFSpec): ListMap[String, Any] =
    ListMap(
      "threadSpecName" -> t.threadSpecName,
      "upNext" -> t.upNext.map(p => ListMap[String, Any](
        // UpNextPair order (wf_run_schema.py:30-32)
        "edge" -> SpecCodec.edgeTree(p.edge),
        "attemptNumber" -> p.attemptNumber)).toVector,
      "status" -> t.status,
      "variables" -> ListMap.from(t.variables),
      "id" -> t.id,
      "parentThreadId" -> t.parentThreadId.map(x => x: Any).orNull,
      "childThreadIds" -> t.childThreadIds.toVector,
      "activeInterruptThreadIds" -> t.activeInterruptThreadIds.toVector,
      "handledInterruptThreadIds" -> t.handledInterruptThreadIds.toVector,
      "taskRuns" -> t.taskRuns.map(sdkTaskTree(_, s, spec)).toVector,
      "errorMessage" -> (if (t.errorMessage.isEmpty) null
        else t.errorMessage),
      "isInterruptThread" -> t.isInterruptThread,
      "variableLocks" -> ListMap.from(
        t.variableLocks.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (v: Any) }),
      "haltReasons" -> (if (t.haltReasons.isEmpty) null
        else t.haltReasons.toVector))

  /** Field order: TaskRunSchema (wf_run_schema.py:43-70). `returncode`
    * is one word on the wire (not returnCode); `nodeType` is looked up
    * from the spec node this taskRun names. */
  private def sdkTaskTree(
      t: TaskRunState, s: WFRunState, spec: WFSpec): ListMap[String, Any] = {
    // resolve the node in the taskRun's OWN threadSpec (via its
    // threadId → threadSpecName), not the first threadSpec defining a
    // same-named node — two threadSpecs (e.g. entrypoint + interrupt
    // handler) may define same-named nodes of different types
    val nodeType = s.threadRuns.find(_.id == t.threadId)
      .flatMap(tr => spec.threadSpecs.get(tr.threadSpecName))
      .flatMap(_.nodes.get(t.nodeName)).map(_.nodeType)
      .orElse(spec.threadSpecs.valuesIterator
        .flatMap(_.nodes.get(t.nodeName)).map(_.nodeType).nextOption())
      .getOrElse(NodeType.TASK)
    ListMap(
      "position" -> t.position,
      "number" -> t.number,
      "wfSpecId" -> spec.objectId,
      "wfSpecName" -> s.wfSpecName,
      "threadId" -> t.threadId,
      "attemptNumber" -> t.attemptNumber,
      "taskDefVersionNumber" ->
        (if (t.taskDefVersionNumber < 0) null else t.taskDefVersionNumber),
      "nodeName" -> t.nodeName,
      "workerId" -> t.workerId,
      "stdin" -> t.stdin,
      "stdout" -> t.stdout,
      "stderr" -> t.stderr,
      "returncode" -> t.returnCode,
      "scheduleTime" -> isoOrNull(t.scheduleTime),
      "startTime" -> isoOrNull(t.startTime),
      "endTime" -> isoOrNull(t.endTime),
      "failureReason" -> t.failureReason.orNull,
      "failureMessage" -> t.failureMessage.orNull,
      "nodeType" -> nodeType,
      "status" -> t.status)
  }

  /** Field order: ExternalEventCorrelSchema (wf_run_schema.py:114-119);
    * `assignedThreadId` is a STRING on the wire (the SDK model's
    * declared type — a reference quirk preserved as-is). */
  private def sdkCorrelTree(c: EventCorrel): ListMap[String, Any] = ListMap(
    "event" -> ListMap[String, Any](
      "externalEventDefId" -> c.event.externalEventDefId,
      "externalEventDefName" -> c.event.externalEventDefName,
      "content" -> c.event.content,
      "timestamp" ->
        (if (c.event.timestamp == 0L) null else isoUtc(c.event.timestamp))),
    "assignedTaskRunExecutionNumber" ->
      (if (c.assignedTaskRunExecutionNumber < 0) null
       else c.assignedTaskRunExecutionNumber),
    "assignedNodeName" -> c.assignedNodeName.orNull,
    "assignedThreadId" ->
      (if (c.assignedThreadId < 0) null else c.assignedThreadId.toString),
    "arrivalTime" -> isoUtc(c.arrivalTime))

  // ---- decode (state-store round trip) ----

  def decode(json: String): WFRunState = {
    val o = objOf(parse(json))
    val s = new WFRunState(str(o, "objectId").orNull,
      str(o, "wfSpecDigest").orNull, str(o, "wfSpecName").orNull)
    s.status = str(o, "status").orNull
    s.startTime = optLong(o, "startTime")
    s.endTime = optLong(o, "endTime")
    s.errorCode = str(o, "errorCode")
    s.errorMessage = str(o, "errorMessage")
    list(o, "threadRuns").foreach(t => s.threadRuns += threadFromJson(objOf(t)))
    objOrEmpty(o, "correlatedEvents").foreach(_.foreach { case (k, v) =>
      val buf = mutable.ArrayBuffer.empty[EventCorrel]
      v match {
        case xs: Vector[_] => xs.foreach(c => buf += correlFromJson(objOf(c)))
        case _ => ()
      }
      s.correlatedEvents(k) = buf
    })
    s
  }

  private def threadFromJson(o: ListMap[String, Any]): ThreadRunState = {
    val t = new ThreadRunState(int(o, "id"), str(o, "threadSpecName").orNull)
    t.status = str(o, "status").orNull
    objOrEmpty(o, "variables").foreach(_.foreach { case (k, v) =>
      t.variables(k) = v
    })
    list(o, "upNext").foreach { p =>
      val po = objOf(p)
      t.upNext += new UpNextPair(
        int(po, "attemptNumber"),
        SpecCodec.decodeEdge(SpecCodec.objOf(po.getOrElse("edge", null), "edge")),
        po.get("alreadyActivated").contains(true))
    }
    list(o, "taskRuns").foreach(x => t.taskRuns += taskFromJson(objOf(x)))
    t.parentThreadId = optInt(o, "parentThreadId")
    list(o, "childThreadIds").foreach(x => t.childThreadIds += toInt(x))
    list(o, "activeInterruptThreadIds")
      .foreach(x => t.activeInterruptThreadIds += toInt(x))
    list(o, "handledInterruptThreadIds")
      .foreach(x => t.handledInterruptThreadIds += toInt(x))
    t.errorMessage = str(o, "errorMessage").getOrElse("")
    t.isInterruptThread = o.get("isInterruptThread").contains(true)
    t.exceptionName = str(o, "exceptionName")
    objOrEmpty(o, "variableLocks").foreach(_.foreach { case (k, v) =>
      t.variableLocks(k) = toInt(v)
    })
    list(o, "haltReasons").foreach(x => t.haltReasons += x.asInstanceOf[String])
    t
  }

  private def taskFromJson(o: ListMap[String, Any]): TaskRunState = {
    val t = new TaskRunState(
      int(o, "position"), int(o, "number"), int(o, "threadId"),
      str(o, "nodeName").orNull, int(o, "attemptNumber"))
    t.status = str(o, "status").orNull
    t.stdin = o.getOrElse("stdin", null)
    t.stdout = o.getOrElse("stdout", null)
    t.stderr = o.getOrElse("stderr", null)
    t.returnCode = int(o, "returnCode")
    t.workerId = str(o, "workerId").orNull
    t.taskDefVersionNumber = int(o, "taskDefVersionNumber", -1)
    t.scheduleTime = optLong(o, "scheduleTime")
    t.startTime = optLong(o, "startTime")
    t.endTime = optLong(o, "endTime")
    t.failureReason = str(o, "failureReason")
    t.failureMessage = str(o, "failureMessage")
    t
  }

  private def correlToJson(c: EventCorrel): ListMap[String, Any] = ListMap(
    "event" -> ListMap(
      "externalEventDefId" -> c.event.externalEventDefId,
      "externalEventDefName" -> c.event.externalEventDefName,
      "content" -> c.event.content,
      "timestamp" -> c.event.timestamp),
    "arrivalTime" -> c.arrivalTime,
    "assignedThreadId" -> c.assignedThreadId,
    "assignedNodeName" -> c.assignedNodeName.orNull,
    "assignedTaskRunExecutionNumber" -> c.assignedTaskRunExecutionNumber)

  private def correlFromJson(o: ListMap[String, Any]): EventCorrel = {
    val e = objOf(o.getOrElse("event", null))
    val c = new EventCorrel(
      ExternalEventPayload(
        str(e, "externalEventDefId").getOrElse(""),
        str(e, "externalEventDefName").getOrElse(""),
        e.getOrElse("content", null),
        long(e, "timestamp")),
      long(o, "arrivalTime"))
    c.assignedThreadId = int(o, "assignedThreadId", -1)
    c.assignedNodeName = str(o, "assignedNodeName")
    c.assignedTaskRunExecutionNumber =
      int(o, "assignedTaskRunExecutionNumber", -1)
    c
  }

  private def objOf(v: Any): ListMap[String, Any] =
    obj(v).getOrElse(throw new VarSubError(s"Expected JSON object, got $v"))
  /** List elements read strictly: a non-number is an error. */
  private def toInt(v: Any): Int = v match {
    case i: Int => i; case l: Long => l.toInt; case d: Double => d.toInt
    case _ => throw new VarSubError(s"Expected int, got $v")
  }
}
