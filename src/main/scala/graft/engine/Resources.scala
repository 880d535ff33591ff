package graft.engine

import scala.collection.immutable.ListMap

/** Non-WFSpec metadata resources: TaskDef and ExternalEventDef
  * (reference: common/objects/metadata/TaskDef.java:18-42 and
  * ExternalEventDef.java:8-27; wire twins TaskDefSchema /
  * ExternalEventDefSchema, lhctl/lh_lib/schema/wf_spec_schema.py:
  * 186-213). Both are name-keyed documents — `getObjectId()` returns
  * `name` for each (TaskDef.java:36, ExternalEventDef.java:14) — so
  * the document id IS the name, and the per-TaskDef task-queue topic
  * is also the name (TaskDef.getKafkaTopic, TaskDef.java:40-42).
  */
case class TaskDef(
    name: String,
    versionNumber: Int = 0,
    partitions: Int = 3,
    requiredVars: ListMap[String, WFRunVariableDef] = ListMap.empty,
    status: String = "RUNNING",
    statusMessage: Option[String] = None,
    taskDeployerClassName: Option[String] = None,
    deployMetadata: Option[String] = None,
    created: Option[String] = None) {
  /** Reference TaskDef.getObjectId (TaskDef.java:36). */
  def objectId: String = name
  /** Reference TaskDef.getKafkaTopic (TaskDef.java:40-42). */
  def kafkaTopic: String = name
}

/** Reference ExternalEventDef.java:8-27 — "literally just a CRUD api";
  * the document carries identity + deploy status only. */
case class ExternalEventDef(
    name: String,
    status: String = "RUNNING",
    created: Option[String] = None) {
  def objectId: String = name
}

/** Wire codec for the resource documents, in the SDK's serialized
  * shape (camelCase aliases, explicit nulls for unset optionals,
  * model-declaration field order, enums as strings) — the same rules
  * [[SpecCodec]] pins for WFSpec. Decode accepts any field order and
  * treats absent and null alike (Jackson/pydantic parity); encode
  * emits the SDK's exact order so exported documents are
  * indistinguishable from lhctl's. */
object ResourceCodec {
  import LHJson.{int, obj, str}
  import SpecCodec.objOf

  private val statuses =
    Set("STARTING", "RUNNING", "COMPLETED", "STOPPING", "STOPPED",
      "DESIRED_REDEPLOY", "ERROR")

  def decodeTaskDef(json: String): TaskDef = {
    val o = objOf(LHJson.parse(json), "taskDef root")
    val name = str(o, "name").getOrElse(
      throw new SpecValidationError("TaskDef missing name"))
    val vars = o.get("requiredVars").flatMap(obj).getOrElse(ListMap.empty)
      .map { case (vn, vv) =>
        val vm = objOf(vv, s"requiredVar $vn")
        val tpe = str(vm, "type").getOrElse(
          throw new SpecValidationError(s"requiredVar $vn missing type"))
        if (!VarType.all.contains(tpe))
          throw new SpecValidationError(s"requiredVar $vn has bad type $tpe")
        vn -> WFRunVariableDef(tpe, vm.getOrElse("defaultValue", null))
      }
    val status = str(o, "status").getOrElse("RUNNING")
    if (!statuses.contains(status))
      throw new SpecValidationError(s"TaskDef $name has bad status $status")
    TaskDef(
      name = name,
      versionNumber = int(o, "versionNumber", 0),
      partitions = int(o, "partitions", 3),
      requiredVars = vars,
      status = status,
      statusMessage = str(o, "statusMessage"),
      taskDeployerClassName = str(o, "taskDeployerClassName"),
      deployMetadata = str(o, "deployMetadata"),
      created = str(o, "created"))
  }

  /** Field order: TaskDefSchema (wf_spec_schema.py:186-204). */
  def encodeTaskDef(t: TaskDef): String = LHJson.render(ListMap[String, Any](
    "created" -> t.created.orNull,
    "versionNumber" -> t.versionNumber,
    "requiredVars" -> (if (t.requiredVars.isEmpty) null
      else t.requiredVars.map { case (n, d) =>
        n -> ListMap[String, Any](
          "type" -> d.varType, "defaultValue" -> d.defaultValue)
      }),
    "partitions" -> t.partitions,
    "name" -> t.name,
    "status" -> t.status,
    "statusMessage" -> t.statusMessage.orNull,
    "taskDeployerClassName" -> t.taskDeployerClassName.orNull,
    "deployMetadata" -> t.deployMetadata.orNull))

  def decodeExternalEventDef(json: String): ExternalEventDef = {
    val o = objOf(LHJson.parse(json), "externalEventDef root")
    val name = str(o, "name").getOrElse(
      throw new SpecValidationError("ExternalEventDef missing name"))
    val status = str(o, "status").getOrElse("RUNNING")
    if (!statuses.contains(status))
      throw new SpecValidationError(
        s"ExternalEventDef $name has bad status $status")
    ExternalEventDef(name, status, str(o, "created"))
  }

  /** Field order: ExternalEventDefSchema (wf_spec_schema.py:207-213). */
  def encodeExternalEventDef(e: ExternalEventDef): String =
    LHJson.render(ListMap[String, Any](
      "created" -> e.created.orNull,
      "name" -> e.name,
      "status" -> e.status))
}
