package graft.engine

import scala.collection.immutable.ListMap
import scala.util.Random
import Harness._
import Mutations.{Op => M}

/** Random bounded workflow DAGs shared by the fuzz specs: one thread of
  * 1–6 nodes (TASK, NOP, SLEEP, THROW_EXCEPTION, EXTERNAL_EVENT) chained
  * in order, plus up to two random forward edges, some guarded by a
  * condition on the `counter` variable. Validation may reject a shape
  * ([[SpecValidationError]]); callers skip those seeds.
  */
object FuzzWorkflows {

  def randomSpec(rnd: Random): WFSpec = {
    val nNodes = 1 + rnd.nextInt(6)
    val types = Vector(NodeType.TASK, NodeType.TASK, NodeType.NOP,
      NodeType.SLEEP, NodeType.THROW_EXCEPTION, NodeType.EXTERNAL_EVENT)
    val nodes = (0 until nNodes).map { i =>
      val t = types(rnd.nextInt(types.length))
      val base = Node(name = s"n$i", nodeType = t)
      val node = t match {
        case NodeType.TASK => base.copy(
          taskDefName = Some("echo_task"),
          numRetries = rnd.nextInt(3),
          timeoutSeconds =
            if (rnd.nextBoolean()) Some(lit(1 + rnd.nextInt(3))) else None,
          variables = ListMap("thing" -> lit(s"v$i")),
          variableMutations =
            if (rnd.nextBoolean())
              ListMap("counter" -> mut(M.ADD, literal = 1))
            else ListMap.empty)
        case NodeType.SLEEP => base.copy(timeoutSeconds = Some(lit(1)))
        case NodeType.THROW_EXCEPTION => base.copy(
          exceptionToThrow = Some("fuzz-exc"))
        case NodeType.EXTERNAL_EVENT => base.copy(
          externalEventDefName = Some("fuzz-event"),
          timeoutSeconds = Some(lit(2)))
        case _ => base
      }
      node
    }
    // random forward-only edges keep the graph acyclic; node 0 stays the
    // unique entrypoint by always chaining i-1 -> i
    val chain = (1 until nNodes).map(i => edge(s"n${i - 1}", s"n$i"))
    val extra = (0 until rnd.nextInt(3)).flatMap { _ =>
      val a = rnd.nextInt(nNodes); val b = rnd.nextInt(nNodes)
      if (a < b) {
        val c = if (rnd.nextBoolean())
          cond(varRef("counter"), "LESS_THAN", lit(rnd.nextInt(5))) else null
        Some(edge(s"n$a", s"n$b", c))
      } else None
    }
    wfSpec(s"fuzz", "main",
      thread("main",
        Map("counter" -> WFRunVariableDef(VarType.INT, defaultValue = 0)),
        nodes = nodes, edges = chain ++ extra))
  }

  /** True when no node can arm a timer (no SLEEP node, no timeout). */
  def timerFree(spec: WFSpec): Boolean =
    spec.threadSpecs.values.flatMap(_.nodes.values).forall(n =>
      n.nodeType != NodeType.SLEEP && n.timeoutSeconds.isEmpty)
}
