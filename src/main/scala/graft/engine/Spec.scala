package graft.engine

import scala.collection.immutable.ListMap

/** Workflow-spec metadata model (reference: the common/objects/metadata
  * package). Immutable; decoded from the same JSON document shape the reference's
  * Python SDK emits (lhctl/lh_lib/schema/wf_spec_schema.py:160-190,
  * FIXTURES.md §1.1) and broadcast to executors.
  */
object NodeType {
  val TASK = "TASK"
  val EXTERNAL_EVENT = "EXTERNAL_EVENT"
  val SPAWN_THREAD = "SPAWN_THREAD"
  val WAIT_FOR_THREAD = "WAIT_FOR_THREAD"
  val SLEEP = "SLEEP"
  val NOP = "NOP"
  val THROW_EXCEPTION = "THROW_EXCEPTION"
  val all: Set[String] = Set(TASK, EXTERNAL_EVENT, SPAWN_THREAD,
    WAIT_FOR_THREAD, SLEEP, NOP, THROW_EXCEPTION)
}

/** Variable types (reference: WFRunVariableTypeEnum.java:3-10). */
object VarType {
  val INT = "INT"; val FLOAT = "FLOAT"; val BOOLEAN = "BOOLEAN"
  val STRING = "STRING"; val ARRAY = "ARRAY"; val OBJECT = "OBJECT"
  val all: Set[String] = Set(INT, FLOAT, BOOLEAN, STRING, ARRAY, OBJECT)
}

/** Reference: VariableAssignment.java:8-25. Exactly one source: a
  * wfRun variable (scope walk), a literal, or wfRun metadata; optional
  * jsonPath over the source; optional default. */
case class VariableAssignment(
    wfRunVariableName: Option[String] = None,
    literalValue: Any = null,
    wfRunMetadata: Option[String] = None,
    jsonPath: Option[String] = None,
    defaultValue: Any = null)

/** Reference: VariableMutation.java:7-28. RHS precedence: jsonPath over
  * node output → sourceVariable → literal → whole node output. */
case class VariableMutation(
    operation: String,
    jsonPath: Option[String] = None,
    literalValue: Any = null,
    sourceVariable: Option[VariableAssignment] = None)

/** Reference: EdgeCondition.java + LHComparisonEnum.java:3-12. */
case class EdgeCondition(
    leftSide: VariableAssignment,
    rightSide: VariableAssignment,
    comparator: String)

/** Reference: Edge.java:8-16 (alreadyActivated is run state, kept in
  * [[UpNextPair]], not here — the spec stays immutable). */
case class Edge(
    sourceNodeName: String,
    sinkNodeName: String,
    condition: Option[EdgeCondition] = None)

case class ExceptionHandlerSpec(handlerThreadSpecName: String)

case class InterruptDef(handlerThreadName: String)

/** Reference: WFRunVariableDef.java:9-21. */
case class WFRunVariableDef(varType: String, defaultValue: Any = null)

/** Reference: Node.java:28-66. */
case class Node(
    name: String,
    nodeType: String,
    taskDefName: Option[String] = None,
    externalEventDefName: Option[String] = None,
    threadSpawnThreadSpecName: Option[String] = None,
    threadWaitThreadId: Option[VariableAssignment] = None,
    variables: ListMap[String, VariableAssignment] = ListMap.empty,
    variableMutations: ListMap[String, VariableMutation] = ListMap.empty,
    timeoutSeconds: Option[VariableAssignment] = None,
    numRetries: Int = 0,
    exceptionToThrow: Option[String] = None,
    baseExceptionhandler: Option[ExceptionHandlerSpec] = None,
    customExceptionHandlers: Map[String, ExceptionHandlerSpec] = Map.empty) {

  /** Reference: Node.getNeededVars (Node.java:96-120): vars read as
    * inputs plus vars mutated plus vars read by mutation RHS. */
  def neededVars: Set[String] = {
    val inputs = variables.values.flatMap(_.wfRunVariableName)
    val mutated = variableMutations.keys
    val rhsVars =
      variableMutations.values.flatMap(_.sourceVariable).flatMap(_.wfRunVariableName)
    (inputs ++ mutated ++ rhsVars).toSet
  }

  /** Reference: Node.getHandlerSpec (Node.java:143-150). */
  def handlerSpec(exceptionName: Option[String]): Option[ExceptionHandlerSpec] =
    exceptionName match {
      case None => baseExceptionhandler
      case Some(n) => customExceptionHandlers.get(n)
    }
}

/** Reference: ThreadSpec.java:25-43. */
case class ThreadSpec(
    name: String,
    entrypointNodeName: String,
    variableDefs: ListMap[String, WFRunVariableDef] = ListMap.empty,
    interruptDefs: ListMap[String, InterruptDef] = ListMap.empty,
    nodes: ListMap[String, Node] = ListMap.empty,
    edges: Vector[Edge] = Vector.empty) {

  def outgoingEdges(nodeName: String): Vector[Edge] =
    edges.filter(_.sourceNodeName == nodeName)

  def incomingEdges(nodeName: String): Vector[Edge] =
    edges.filter(_.sinkNodeName == nodeName)
}

/** Reference: WFSpec.java:37-55. `interruptEvents` = every external
  * event name any thread registers an interrupt handler for. */
case class WFSpec(
    name: String,
    objectId: String,
    entrypointThreadName: String,
    threadSpecs: ListMap[String, ThreadSpec]) {

  lazy val interruptEvents: Set[String] =
    threadSpecs.values.flatMap(_.interruptDefs.keys).toSet
}

class SpecValidationError(msg: String) extends Exception(msg)

/** JSON decoding + validation of WFSpec documents.
  * Decode is hand-rolled over the LHJson tree for full control of
  * null/absent handling; validation ports WFSpec.validate
  * (WFSpec.java:81-207,307-362) and ThreadSpec.calculateEntrypointNode
  * (ThreadSpec.java:90-118).
  */
object SpecCodec {
  import LHJson.{list, obj, objOrEmpty, str}

  def decode(json: String): WFSpec = {
    val root = objOf(LHJson.parse(json), "wfSpec root")
    val name = str(root, "name").getOrElse(
      throw new SpecValidationError("WFSpec missing name"))
    val threads = objOf(root.getOrElse("threadSpecs",
        throw new SpecValidationError("WFSpec missing threadSpecs")),
      "threadSpecs")
    val threadSpecs = threads.map { case (tname, tval) =>
      tname -> decodeThread(tname, objOf(tval, s"threadSpec $tname"))
    }
    val spec = WFSpec(
      name = name,
      objectId = str(root, "objectId").getOrElse(name),
      entrypointThreadName = str(root, "entrypointThreadName").getOrElse(
        throw new SpecValidationError("WFSpec missing entrypointThreadName")),
      threadSpecs = threadSpecs)
    validate(spec)
  }

  private def decodeThread(name: String, t: ListMap[String, Any]): ThreadSpec = {
    val nodes = fieldObj(t, "nodes").map { case (n, v) =>
      n -> decodeNode(n, objOf(v, s"node $n"))
    }
    val edges = list(t, "edges").map(e => decodeEdge(objOf(e, "edge")))
    val varDefs = fieldObj(t, "variableDefs").map { case (vn, vv) =>
      val m = objOf(vv, s"variableDef $vn")
      val tpe = str(m, "type").getOrElse(
        throw new SpecValidationError(s"variableDef $vn missing type"))
      if (!VarType.all.contains(tpe))
        throw new SpecValidationError(s"variableDef $vn has bad type $tpe")
      vn -> WFRunVariableDef(tpe, m.getOrElse("defaultValue", null))
    }
    val interrupts = fieldObj(t, "interruptDefs").map { case (en, ev) =>
      val m = objOf(ev, s"interruptDef $en")
      en -> InterruptDef(str(m, "handlerThreadName").getOrElse(
        throw new SpecValidationError(s"interruptDef $en missing handler")))
    }
    ThreadSpec(
      name = name,
      entrypointNodeName = str(t, "entrypointNodeName").orNull,
      variableDefs = varDefs,
      interruptDefs = interrupts,
      nodes = nodes,
      edges = edges)
  }

  private def decodeNode(name: String, n: ListMap[String, Any]): Node = {
    val nodeType = str(n, "nodeType").getOrElse(
      throw new SpecValidationError(s"node $name missing nodeType"))
    if (!NodeType.all.contains(nodeType))
      throw new SpecValidationError(s"node $name has bad nodeType $nodeType")
    Node(
      name = name,
      nodeType = nodeType,
      taskDefName = str(n, "taskDefName").orElse(str(n, "taskDefId")),
      externalEventDefName =
        str(n, "externalEventDefName").orElse(str(n, "externalEventDefId")),
      threadSpawnThreadSpecName = str(n, "threadSpawnThreadSpecName"),
      threadWaitThreadId =
        n.get("threadWaitThreadId").filter(_ != null).map(v =>
          decodeAssignment(objOf(v, "threadWaitThreadId"))),
      variables = fieldObj(n, "variables").map { case (vn, vv) =>
        vn -> decodeAssignment(objOf(vv, s"assignment $vn"))
      },
      variableMutations = fieldObj(n, "variableMutations").map { case (vn, vv) =>
        vn -> decodeMutation(objOf(vv, s"mutation $vn"))
      },
      timeoutSeconds = n.get("timeoutSeconds").filter(_ != null).map(v =>
        decodeAssignment(objOf(v, "timeoutSeconds"))),
      numRetries = n.get("numRetries") match {
        case Some(i: Int) => i
        case Some(l: Long) => l.toInt
        case _ => 0
      },
      exceptionToThrow = str(n, "exceptionToThrow"),
      baseExceptionhandler =
        n.get("baseExceptionhandler").filter(_ != null).map { v =>
          val m = objOf(v, "baseExceptionhandler")
          ExceptionHandlerSpec(str(m, "handlerThreadSpecName").getOrElse(
            throw new SpecValidationError(
              s"node $name handler missing handlerThreadSpecName")))
        },
      customExceptionHandlers =
        fieldObj(n, "customExceptionHandlers").map { case (en, ev) =>
          val m = objOf(ev, s"customExceptionHandler $en")
          en -> ExceptionHandlerSpec(str(m, "handlerThreadSpecName").getOrElse(
            throw new SpecValidationError(
              s"handler $en missing handlerThreadSpecName")))
        }.toMap)
  }

  private def decodeAssignment(m: ListMap[String, Any]): VariableAssignment =
    VariableAssignment(
      wfRunVariableName = str(m, "wfRunVariableName"),
      literalValue = m.getOrElse("literalValue", null),
      wfRunMetadata = str(m, "wfRunMetadata"),
      jsonPath = str(m, "jsonPath"),
      defaultValue = m.getOrElse("defaultValue", null))

  private def decodeMutation(m: ListMap[String, Any]): VariableMutation =
    VariableMutation(
      operation = str(m, "operation").getOrElse(
        throw new SpecValidationError("mutation missing operation")),
      jsonPath = str(m, "jsonPath"),
      literalValue = m.getOrElse("literalValue", null),
      sourceVariable = m.get("sourceVariable").filter(_ != null).map(v =>
        decodeAssignment(objOf(v, "sourceVariable"))))

  private[engine] def decodeEdge(m: ListMap[String, Any]): Edge =
    Edge(
      sourceNodeName = str(m, "sourceNodeName").getOrElse(
        throw new SpecValidationError("edge missing sourceNodeName")),
      sinkNodeName = str(m, "sinkNodeName").getOrElse(
        throw new SpecValidationError("edge missing sinkNodeName")),
      condition = m.get("condition").filter(_ != null).map { v =>
        val c = objOf(v, "condition")
        EdgeCondition(
          leftSide = decodeAssignment(objOf(c.getOrElse("leftSide",
            throw new SpecValidationError("condition missing leftSide")),
            "leftSide")),
          rightSide = decodeAssignment(objOf(c.getOrElse("rightSide",
            throw new SpecValidationError("condition missing rightSide")),
            "rightSide")),
          comparator = str(c, "comparator").getOrElse(
            throw new SpecValidationError("condition missing comparator")))
      })

  // ---- encoding (the SDK's serialized document shape) ----

  /** Render a spec to the reference SDK's wire shape —
    * `spec.json(by_alias=True)` of the pydantic models
    * (lhctl/lh_lib/schema/wf_spec_schema.py: camelCase aliases,
    * explicit nulls for unset optionals, model field order) — so specs
    * built programmatically here can be exported to, and re-imported
    * by, anything speaking the reference's format.
    * `decode(encode(spec)) == spec` for any validated spec
    * (CodecRoundTripSpec fuzzes this). */
  def encode(spec: WFSpec): String = LHJson.render(ListMap[String, Any](
    "created" -> null,
    "name" -> spec.name,
    "status" -> "STOPPED",
    "statusMessage" -> null,
    "desiredStatus" -> "RUNNING",
    "threadSpecs" -> spec.threadSpecs.map { case (n, t) => n -> threadTree(t) },
    "interruptEvents" -> null,
    "entrypointThreadName" -> spec.entrypointThreadName,
    "wfDeployerClassName" -> null,
    "deployMetadata" -> null))

  private def threadTree(t: ThreadSpec): ListMap[String, Any] = ListMap(
    "name" -> t.name,
    "entrypointNodeName" -> t.entrypointNodeName,
    "variableDefs" -> t.variableDefs.map { case (n, d) =>
      n -> ListMap[String, Any](
        "type" -> d.varType, "defaultValue" -> d.defaultValue)
    },
    "interruptDefs" -> (if (t.interruptDefs.isEmpty) null
      else t.interruptDefs.map { case (e, i) =>
        e -> ListMap[String, Any]("handlerThreadName" -> i.handlerThreadName)
      }),
    "nodes" -> t.nodes.map { case (n, nd) => n -> nodeTree(nd) },
    "edges" -> t.edges.map(edgeTree))

  private def nodeTree(n: Node): ListMap[String, Any] = ListMap(
    "timeoutSeconds" -> n.timeoutSeconds.map(assignTree).orNull,
    "numRetries" -> n.numRetries,
    "nodeType" -> n.nodeType,
    "outgoingEdges" -> Vector.empty,
    "variables" -> (if (n.variables.isEmpty) null
      else n.variables.map { case (v, a) => v -> assignTree(a) }),
    "externalEventDefName" -> n.externalEventDefName.orNull,
    "threadWaitThreadId" -> n.threadWaitThreadId.map(assignTree).orNull,
    "threadSpawnThreadSpecName" -> n.threadSpawnThreadSpecName.orNull,
    "variableMutations" ->
      n.variableMutations.map { case (v, m) => v -> mutationTree(m) },
    "taskDefName" -> n.taskDefName.orNull,
    "exceptionToThrow" -> n.exceptionToThrow.orNull,
    "baseExceptionhandler" -> n.baseExceptionhandler
      .map(h => ListMap[String, Any](
        "handlerThreadSpecName" -> h.handlerThreadSpecName)).orNull,
    "customExceptionHandlers" -> (if (n.customExceptionHandlers.isEmpty) null
      else ListMap.from(n.customExceptionHandlers.toSeq.sortBy(_._1)
        .map { case (e, h) =>
          e -> ListMap[String, Any](
            "handlerThreadSpecName" -> h.handlerThreadSpecName)
        })))

  private def assignTree(a: VariableAssignment): ListMap[String, Any] = ListMap(
    "wfRunVariableName" -> a.wfRunVariableName.orNull,
    "literalValue" -> a.literalValue,
    "wfRunMetadata" -> a.wfRunMetadata.orNull,
    "jsonPath" -> a.jsonPath.orNull,
    "defaultValue" -> a.defaultValue)

  private def mutationTree(m: VariableMutation): ListMap[String, Any] = ListMap(
    "operation" -> m.operation,
    "jsonPath" -> m.jsonPath.orNull,
    "literalValue" -> m.literalValue,
    "sourceVariable" -> m.sourceVariable.map(assignTree).orNull)

  private[engine] def edgeTree(e: Edge): ListMap[String, Any] = ListMap(
    "sourceNodeName" -> e.sourceNodeName,
    "sinkNodeName" -> e.sinkNodeName,
    "condition" -> e.condition.map(c => ListMap[String, Any](
      "leftSide" -> assignTree(c.leftSide),
      "rightSide" -> assignTree(c.rightSide),
      "comparator" -> c.comparator)).orNull)

  // ---- validation (reference: WFSpec.validate + ThreadSpec.validate) ----

  def validate(spec: WFSpec): WFSpec = {
    if (!spec.threadSpecs.contains(spec.entrypointThreadName))
      throw new SpecValidationError(
        s"entrypoint thread ${spec.entrypointThreadName} not found")

    val resolved = spec.threadSpecs.map { case (tname, t) =>
      // edges must refer to existing nodes (ThreadSpec.validateEdge)
      t.edges.foreach { e =>
        if (!t.nodes.contains(e.sourceNodeName))
          throw new SpecValidationError(
            s"Edge on thread $tname refers to missing node ${e.sourceNodeName}")
        if (!t.nodes.contains(e.sinkNodeName))
          throw new SpecValidationError(
            s"Edge on thread $tname refers to missing node ${e.sinkNodeName}")
      }
      // per-node type checks (Node.validate, Node.java:152-262)
      t.nodes.values.foreach { n =>
        if (n.numRetries < 0)
          throw new SpecValidationError("Can't have negative retries.")
        n.nodeType match {
          case NodeType.TASK if n.taskDefName.isEmpty =>
            throw new SpecValidationError(s"TASK node ${n.name} has no taskDef")
          case NodeType.EXTERNAL_EVENT if n.externalEventDefName.isEmpty =>
            throw new SpecValidationError(
              s"EXTERNAL_EVENT node ${n.name} has no externalEventDef")
          case NodeType.SPAWN_THREAD =>
            val tn = n.threadSpawnThreadSpecName.getOrElse(
              throw new SpecValidationError(
                s"SPAWN_THREAD node ${n.name} specifies no thread"))
            if (!spec.threadSpecs.contains(tn))
              throw new SpecValidationError(
                s"SPAWN_THREAD node ${n.name} spawns unknown thread $tn")
            if (n.numRetries > 0)
              throw new SpecValidationError("Can't retry SPAWN_THREAD node")
          case NodeType.WAIT_FOR_THREAD if n.threadWaitThreadId.isEmpty =>
            throw new SpecValidationError(
              s"WAIT_FOR_THREAD node ${n.name} needs threadWaitThreadId")
          case NodeType.SLEEP =>
            if (n.timeoutSeconds.isEmpty)
              throw new SpecValidationError(
                s"SLEEP node ${n.name} needs timeoutSeconds")
            if (n.numRetries > 0)
              throw new SpecValidationError("Can't retry SLEEP node")
          case _ => ()
        }
        n.baseExceptionhandler.foreach { h =>
          if (!spec.threadSpecs.contains(h.handlerThreadSpecName))
            throw new SpecValidationError(
              s"Exception handler on node ${n.name} refers to missing thread " +
                h.handlerThreadSpecName)
        }
      }
      tname -> t.copy(entrypointNodeName = entrypointOf(t))
    }

    val out = spec.copy(threadSpecs = resolved)
    validateVariables(out)
    out
  }

  /** Reference: ThreadSpec.calculateEntrypointNode (ThreadSpec.java:90-118). */
  private def entrypointOf(t: ThreadSpec): String = {
    Option(t.entrypointNodeName) match {
      case Some(e) =>
        if (!t.nodes.contains(e))
          throw new SpecValidationError(
            s"Thread ${t.name} has nonexistent entrypoint node $e")
        e
      case None =>
        val noIncoming = t.nodes.values.filter(n => t.incomingEdges(n.name).isEmpty)
        noIncoming.toList match {
          case one :: Nil => one.name
          case Nil => throw new SpecValidationError(
            "No entrypoint specified and no node without incoming edges.")
          case _ => throw new SpecValidationError(
            "More than one node without incoming edges.")
        }
    }
  }

  /** Reference: WFSpec.validateVariables/-Helper (WFSpec.java:81-190) —
    * recursive DFS through SPAWN_THREAD and exception-handler refs with
    * backtracking; duplicate names across threads rejected. */
  private def validateVariables(spec: WFSpec): Unit = {
    val allNames = spec.threadSpecs.values.flatMap(_.variableDefs.keys).toList
    allNames.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      .foreach { n =>
        throw new SpecValidationError(s"Variable $n defined twice! No bueno.")
      }

    val seenThreads = scala.collection.mutable.Set.empty[String]
    val seenVars = scala.collection.mutable.Map.empty[String, String]

    def helper(threadName: String): Unit = {
      if (seenThreads.contains(threadName)) return
      seenThreads += threadName
      val thread = spec.threadSpecs(threadName)
      thread.variableDefs.keys.foreach(v => seenVars(v) = threadName)

      thread.nodes.values.foreach { node =>
        node.variables.foreach { case (varName, assign) =>
          assign.wfRunVariableName.foreach { ref =>
            if (!seenVars.contains(ref))
              throw new SpecValidationError(
                s"Variable $varName refers to wfRunVariable $ref not in scope " +
                  s"for thread $threadName on node ${node.name}")
          }
        }
        node.variableMutations.keys.foreach { varName =>
          if (!seenVars.contains(varName))
            throw new SpecValidationError(
              s"Variable $varName not in scope for thread $threadName on node " +
                node.name)
        }
        node.timeoutSeconds.flatMap(_.wfRunVariableName).foreach { ref =>
          if (!seenVars.contains(ref))
            throw new SpecValidationError(
              s"timeoutSeconds refers to $ref not in scope on node ${node.name}")
        }
      }

      thread.nodes.values.foreach { node =>
        if (node.nodeType == NodeType.SPAWN_THREAD)
          node.threadSpawnThreadSpecName.foreach(helper)
        node.baseExceptionhandler.foreach(h => helper(h.handlerThreadSpecName))
      }

      thread.variableDefs.keys.foreach(seenVars.remove)
      seenThreads -= threadName
    }

    helper(spec.entrypointThreadName)
  }

  /** `v` as an object, or a SpecValidationError naming `what`: the
    * metadata codecs' error for a malformed document. */
  private[engine] def objOf(v: Any, what: String): ListMap[String, Any] =
    obj(v).getOrElse(throw new SpecValidationError(
      s"Expected JSON object for $what, got: $v"))

  /** Field `k` as an object, absent or null reading as empty; any
    * other non-object fails in [[objOf]]. */
  private def fieldObj(m: ListMap[String, Any], k: String): ListMap[String, Any] =
    objOrEmpty(m, k).getOrElse(objOf(m(k), k))
}
