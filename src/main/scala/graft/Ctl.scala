package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.engine.LHJson
import graft.streaming.{CompactedStateStore, GraftApi, MetadataStore, Scheduler}
import graft.util.Sessions

/** `lhctl`-shaped command-line client over [[graft.streaming.GraftApi]]
  * — the reference's CLI verb surface
  * (lhctl/lh_cli/verbs/: handle_deploy.py, handle_get.py,
  * handle_delete.py, handle_run.py, handle_search.py,
  * handle_send_event.py) re-expressed against this engine, so the
  * reference's README demo sequence
  * (`lhctl deploy && lhctl run && lhctl send-event && lhctl get WFRun
  * && lhctl search WFRun <var> <value>`) runs verbatim-shaped here.
  * Every verb prints the LHRPCResponse envelope JSON the HTTP routes
  * return (the reference pretty-prints the same fields;
  * lh_cli/verbs/handle_get.py print_resource) — machine-parseable and
  * byte-identical to the API layer.
  *
  * Usage: runMain graft.Ctl <rootDir> <verb> [args...]
  *   rootDir layout: <root>/bus (event and task topics), <root>/meta
  *   (metadata log), <root>/state (compacted run-state store: `serve`
  *   writes it, every run-state verb reads it), <root>/ckpt (scheduler
  *   checkpoint) — the single-directory
  *   analogue of the reference's cluster address env
  *   (lh_lib/client.py).
  *
  * Verbs:
  *   deploy <WFSpec|TaskDef|ExternalEventDef> <file.json>
  *   get <WFSpec|TaskDef|ExternalEventDef|WFRun> <id-or-name>
  *   get-all <WFSpec|TaskDef|ExternalEventDef>
  *   delete <WFSpec|TaskDef|ExternalEventDef> <id>
  *   run <wfSpec-name-or-id> [var=value ...]
  *   search <varName> <value>              (WFRun variable-index search)
  *   search-alias <Type> <key> <value>     (metadata alias set)
  *   send-event <eventDefId> <wfRunId> <json-payload>
  *   stop <wfRunId> [threadId]
  *   resume <wfRunId> [threadId]
  *   serve [timeoutMs] [worker]  (run the scheduler streaming query —
  *                         the "deployed" engine; blocks. `worker`
  *                         also starts the loopback task worker over
  *                         every deployed TaskDef topic, answering
  *                         TSRs with shared-task behavior — a complete
  *                         single-process deployment)
  */
object Ctl {

  /** CLI resource-type token → MetadataStore kind. The CLI speaks the
    * reference's PascalCase resource names (handle_get.py choices). */
  private def kindOf(store: MetadataStore, t: String): String = t match {
    case "WFSpec" => store.Kind.WFSpec
    case "TaskDef" => store.Kind.TaskDef
    case "ExternalEventDef" => store.Kind.ExternalEventDef
    case other => throw new IllegalArgumentException(
      s"unknown resource type '$other' (WFSpec|TaskDef|ExternalEventDef)")
  }

  /** `k=v` CLI pairs → typed run variables: values parse as JSON when
    * they can (ints, bools, objects), else pass as raw strings — the
    * engine's type coercion (E12) does the rest, as it does for the
    * reference's client-supplied variables. */
  private[graft] def parseVars(pairs: Seq[String]): ListMap[String, Any] =
    ListMap.from(pairs.map { p =>
      val i = p.indexOf('=')
      require(i > 0, s"run variables are var=value pairs, got '$p'")
      val (k, raw) = (p.take(i), p.drop(i + 1))
      k -> (try LHJson.parse(raw) catch { case _: Exception => raw })
    })

  /** Execute one verb and return the response text (main prints it).
    * Session injected so specs drive the CLI in-process. */
  def exec(spark: SparkSession, root: String, args: Seq[String]): String = {
    val store = new MetadataStore(spark, s"$root/meta")
    val api = new GraftApi(spark, store, s"$root/bus",
      Some(new CompactedStateStore(s"$root/state")))
    args.toList match {
      case "deploy" :: t :: file :: Nil =>
        val json = {
          val src = scala.io.Source.fromFile(file, "UTF-8")
          try src.mkString finally src.close()
        }
        api.postResource(kindOf(store, t), json)
      case "get" :: "WFRun" :: id :: Nil => api.getWfRun(id)
      case "get" :: t :: id :: Nil => api.get(kindOf(store, t), id)
      case "get-all" :: t :: Nil => api.getAll(kindOf(store, t))
      case "delete" :: t :: id :: Nil => api.deleteResource(kindOf(store, t), id)
      case "run" :: specKey :: vars => api.postRun(specKey, parseVars(vars))
      case "search" :: varName :: value :: Nil =>
        api.getWfRunAlias(varName, value)
      case "search-alias" :: t :: k :: v :: Nil =>
        api.getAliasSet(kindOf(store, t), k, v)
      case "send-event" :: defId :: runId :: payload :: Nil =>
        api.postEvent(defId, runId,
          try LHJson.parse(payload) catch { case _: Exception => payload })
      case "stop" :: runId :: rest if rest.length <= 1 =>
        api.postStop(runId, rest.headOption.map(_.toInt).getOrElse(0))
      case "resume" :: runId :: rest if rest.length <= 1 =>
        api.postResume(runId, rest.headOption.map(_.toInt).getOrElse(0))
      case "serve" :: rest
          if rest.filterNot(_ == "worker").length <= 1 &&
            rest.count(_ == "worker") <= 1 =>
        serve(spark, root, store,
          rest.filterNot(_ == "worker").headOption.map(_.toLong),
          withWorker = rest.contains("worker"))
      case other => throw new IllegalArgumentException(
        s"unknown verb or arity: ${other.mkString(" ")}")
    }
  }

  /** `serve` folds the run-state log into the store's base every this
    * many micro-batches (about 2 s at the 200 ms trigger: the
    * scheduler's processing-time timeouts run a batch every trigger),
    * so a read touches O(live runs) rows plus the recent log. */
  private val CompactEveryBatches = 10L

  /** The "deployed engine": one scheduler streaming query over every
    * deployed spec's event topic (deploy-as-streaming-query is this
    * engine's analogue of the reference's DockerWorkflowDeployer —
    * SURVEY §3.1). Blocks until `timeoutMs` (tests) or forever. */
  private def serve(spark: SparkSession, root: String,
      store: MetadataStore, timeoutMs: Option[Long],
      withWorker: Boolean): String = {
    // stopServe is reset by the CALLER (repl, before spawning this
    // thread) — resetting here raced with repl `exit`: an exit issued
    // before serve() entered would have its stop flag clobbered back
    // to false, blocking the join for the full timeout window
    val specs = store.deployedSpecs()
    val events = Scheduler.busEventSource(spark, s"$root/bus", "wfEvents__.*")
    val outputs = Scheduler(events, specs)
    val q = Scheduler.busStoreSink(outputs, s"$root/bus",
        new CompactedStateStore(s"$root/state"), s"$root/ckpt",
        CompactEveryBatches)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    // `serve ... worker`: also run the loopback task worker over every
    // deployed TaskDef topic, making serve a COMPLETE single-process
    // deployment (scheduler + workers), like the reference's docker
    // deployer starting one worker container per TaskDef
    @volatile var done = false
    val worker = if (withWorker) {
      val topics = specs.values
        .flatMap(_.threadSpecs.values)
        .flatMap(_.nodes.values)
        .flatMap(_.taskDefName).toSeq.distinct
      Some(graft.streaming.BusTaskWorker.start(
        s"$root/bus", topics, () => done))
    } else None
    try timeoutMs match {
      case Some(ms) =>
        // slice the wait so a repl `exit` (stopServe) ends the serve
        // immediately instead of running out the whole window
        val deadline = System.currentTimeMillis() + ms
        while (!stopServe.get() && q.isActive &&
            System.currentTimeMillis() < deadline)
          q.awaitTermination(200)
        "{\"status\":\"SERVED\"}"
      case None => q.awaitTermination(); "{\"status\":\"SERVED\"}"
    } finally {
      done = true
      worker.foreach(_.join(2000))
      q.stop()
    }
  }

  /** Set by repl `exit` so a timed serve returns early. */
  private val stopServe = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Split a repl line into verb tokens. Whitespace separates;
    * single-quoted segments group (JSON payloads carry spaces and
    * double quotes) — the same convention a POSIX shell would apply
    * to the equivalent one-shot invocation. */
  private[graft] def tokenize(line: String): List[String] = {
    val out = List.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var started = false
    line.foreach {
      case '\'' => inQuote = !inQuote; started = true
      case c if c.isWhitespace && !inQuote =>
        if (started) { out += cur.result(); cur.clear(); started = false }
      case c => cur.append(c); started = true
    }
    require(!inQuote, s"unterminated quote in: $line")
    if (started) out += cur.result()
    out.result()
  }

  /** Stdin-driven mode for cross-language contract tests (one JVM, one
    * session, many verbs — tools/ctl_contract.py is the driver): each
    * line is a verb invocation, each response is the same envelope the
    * one-shot CLI prints, terminated by a sentinel line. `serve <ms>`
    * runs the scheduler on a background thread (the repl stays
    * responsive, exactly like a second lhctl process against a live
    * server); `exit` waits for it and quits. */
  private def repl(spark: SparkSession, root: String): Unit = {
    val sentinel = "###END###"
    var serveThread: Option[Thread] = None
    var done = false
    val in = scala.io.Source.stdin.getLines()
    while (!done && in.hasNext) {
      // tokenize throws on malformed input (unterminated quote); guard
      // it like exec so one bad line answers ERROR instead of killing
      // the session (and any background serve thread) — r14 advice
      val toks = try tokenize(in.next()) catch {
        case e: Exception =>
          println("{\"status\": \"ERROR\", \"message\": " +
            LHJson.render(e.toString) + "}")
          println(sentinel); Console.flush()
          Nil
      }
      val resp: Option[String] = toks match {
        case Nil => None
        case List("exit") =>
          done = true
          stopServe.set(true)
          serveThread.foreach(_.join())
          Some("{\"status\": \"BYE\"}")
        case "serve" :: rest =>
          stopServe.set(false) // reset BEFORE spawning — see serve()
          val t = new Thread(
            () => exec(spark, root, "serve" :: rest), "ctl-repl-serve")
          t.start()
          serveThread = Some(t)
          Some("{\"status\": \"SERVING\"}")
        case other =>
          Some(try exec(spark, root, other) catch {
            case e: Exception =>
              "{\"status\": \"ERROR\", \"message\": " +
                LHJson.render(e.toString) + "}"
          })
      }
      resp.foreach { r => println(r); println(sentinel); Console.flush() }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Ctl <rootDir> <verb> [args...]")
    val spark = Sessions.create()
    try {
      if (args(1) == "repl") repl(spark, args(0))
      else println(exec(spark, args(0), args.toSeq.drop(1)))
    } finally spark.stop()
  }
}
