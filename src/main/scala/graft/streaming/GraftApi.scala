package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

import graft.engine._
import graft.streaming.bus.GraftBus

/** The reference's HTTP API surface as a facade over the Spark-native
  * pieces — every route a reference deployment serves, with the same
  * semantics and the same `LHRPCResponse` wire envelope
  * (lhctl/lh_lib/schema/lh_rpc_response_schema.py:15-19; route
  * registration at GETApi.java:26-49, POSTApi.java:33-36,
  * WFRun.overridePostAPIEndpoints, WFRun.java:308-318):
  *
  *  - `POST /{Type}`            → [[postResource]] (validate + persist)
  *  - `DELETE /{Type}/{id}`     → [[deleteResource]]
  *  - `GET /{Type}/{id}`        → [[get]] (name-or-id fallback = Q8)
  *  - `GET /{Type}All`          → [[getAll]]
  *  - `GET /WFRun/{id}`         → [[getWfRun]] (SDK WFRunSchema shape)
  *  - `GET /WFRunAlias/{k}/{v}` → [[getWfRunAlias]] (Q2/Q9 search)
  *  - `POST /WFRun`             → [[postRun]]
  *  - `POST /externalEvent/{defId}/{wfRunId}` → [[postEvent]]
  *  - `POST /WFRun/stop/{wfRunId}/{tid}`      → [[postStop]]
  *  - `POST /WFRun/resume/{wfRunId}/{tid}`    → [[postResume]]
  *
  * HTTP itself is out of scope (the reference's Javalin server is
  * deployment plumbing Spark doesn't need); the METHODS are the API.
  * Run-state reads have one source: the [[CompactedStateStore]] the
  * scheduler's one sink ([[Scheduler.busStoreSink]] /
  * [[Scheduler.kafkaStoreSink]]) appends its snapshots to, read
  * as base∪delta parquet (the RocksDB-compacted analogue, reference
  * SchedulerTopology.java:130-146; APIStreamsContext.getTFromId:62-83
  * answers every run-state route from that one store), so reads stay
  * O(live runs) instead of O(snapshot history). `compacted` is
  * required; it is an Option only to keep the constructor's shape.
  */
class GraftApi(
    spark: SparkSession, store: MetadataStore, busRoot: String,
    compacted: Option[CompactedStateStore],
    // Optional driver-side cache over `compacted` (must wrap the SAME
    // store, whose own writes it receives write-through): GET /WFRun
    // answers from memory (microseconds) instead of launching a Spark
    // job (~150-300 ms), the reference's local-RocksDB locality bet
    // made explicit. Miss and Bypass both fall through to the
    // distributed path, so wiring the cache can only ever change
    // LATENCY, never an answer.
    servingCache: Option[ServingCache] = None) {

  require(compacted.isDefined,
    "GraftApi reads run state from a CompactedStateStore: pass Some(store)")
  private val state = compacted.get

  require(servingCache.forall(_.store eq state),
    "servingCache must wrap the SAME CompactedStateStore passed as " +
      "`compacted` — a cache over a different store would serve answers " +
      "the distributed fallback path cannot reproduce")

  // ---- LHRPCResponse envelope (model field order) ----

  object RpcStatus {
    val OK = "OK"
    val VALIDATION_ERROR = "VALIDATION_ERROR"
    val OBJECT_NOT_FOUND = "OBJECT_NOT_FOUND"
    val INTERNAL_ERROR = "INTERNAL_ERROR"
  }

  private def response(
      status: String,
      objectId: Option[String] = None,
      result: Any = null,
      message: Option[String] = None): String =
    LHJson.render(ListMap[String, Any](
      "message" -> message.orNull,
      "status" -> status,
      "objectId" -> objectId.orNull,
      "result" -> result))

  /** Status of a rendered response (spec/test convenience). */
  def statusOf(responseJson: String): String =
    LHJson.obj(LHJson.parse(responseJson)).flatMap(LHJson.str(_, "status"))
      .getOrElse(throw new IllegalArgumentException(
        s"not an RPC response: $responseJson"))

  // ---- metadata routes ----

  /** POST /{Type}: decode + validate + persist; VALIDATION_ERROR with
    * the validator's message on a bad document, like POSTApi.post
    * (POSTApi.java:40-87). */
  def postResource(kind: String, json: String): String =
    try {
      val id = kind match {
        case store.Kind.WFSpec => store.postWfSpec(json).objectId
        case store.Kind.TaskDef => store.postTaskDef(json).objectId
        case store.Kind.ExternalEventDef =>
          store.postExternalEventDef(json).objectId
        case other =>
          return response(RpcStatus.VALIDATION_ERROR,
            message = Some(s"unknown resource type $other"))
      }
      response(RpcStatus.OK, Some(id), LHJson.parse(json))
    } catch {
      case e: SpecValidationError =>
        response(RpcStatus.VALIDATION_ERROR, message = Some(e.getMessage))
    }

  /** DELETE /{Type}/{id} (tombstone). */
  def deleteResource(kind: String, id: String): String = {
    if (store.getById(kind, id).isEmpty)
      response(RpcStatus.OBJECT_NOT_FOUND, Some(id))
    else { store.delete(kind, id); response(RpcStatus.OK, Some(id)) }
  }

  /** GET /{Type}/{id} with the reference's name-or-id fallback
    * (LHDatabaseClient.getByNameOrId). */
  def get(kind: String, key: String): String =
    store.getByNameOrId(kind, key) match {
      case Some(doc) => response(RpcStatus.OK, Some(key), LHJson.parse(doc))
      case None => response(RpcStatus.OBJECT_NOT_FOUND, Some(key))
    }

  /** GET /{Type}All. */
  def getAll(kind: String): String =
    response(RpcStatus.OK, None, store.getAllIds(kind).sorted.toVector)

  // ---- run-state routes (read the compacted state store) ----

  /** Latest snapshot per run: the store's base∪delta, already
    * latest-folded, files touched O(live runs); None while the store
    * is empty (API up before the first snapshot lands). A point-lookup
    * `key` filters BEFORE the fold: the wfRunId predicate passes
    * through the latest window because it IS the window's partition
    * key, and reaches the parquet scan as a pushed filter. */
  private[graft] def latestFrame(key: Option[String]): Option[DataFrame] =
    if (state.readFootprint.isEmpty) None
    else {
      import org.apache.spark.sql.functions.col
      val all = state.read(spark)
      Some(key.fold(all)(k => all.filter(col("wfRunId") === k)))
    }

  /** Collects at most one row: (snapshot json, spec name). The spec
    * name comes from the `wfSpecName` column every stored file
    * carries, never from a JSON decode. */
  private def latestSnapshot(wfRunId: String): Option[(String, String)] = {
    // cache fast path: a Hit IS the store's latest snapshot (the cache
    // re-validates against the store's published file set on every
    // lookup, so read-your-writes holds); Miss/Bypass → distributed
    servingCache.foreach { c =>
      c.lookup(spark, wfRunId) match {
        case ServingCache.Hit(json, spec) => return Some((json, spec))
        case _ => // fall through
      }
    }
    latestFrame(Some(wfRunId)).flatMap(
      _.select("json", "wfSpecName").collect().headOption.map(r =>
        (r.getString(0), r.getString(1))))
  }

  /** GET /WFRun/{id}: the latest snapshot, exported in the SDK's
    * serialized WFRunSchema shape so lhctl-family tooling reads it
    * unchanged. Read path: key-pruned scan (at most one row
    * collected) + one metadata point lookup for the spec. */
  def getWfRun(id: String): String =
    latestSnapshot(id) match {
      case Some((json, specName)) =>
        val st = StateCodec.decode(json)
        store.wfSpec(specName) match {
          case Some(spec) => response(RpcStatus.OK, Some(id),
            StateCodec.sdkRunTree(st, spec))
          case None => response(RpcStatus.INTERNAL_ERROR, Some(id),
            message = Some(s"spec $specName not deployed"))
        }
      case None => response(RpcStatus.OBJECT_NOT_FOUND, Some(id))
    }

  /** GET /WFRunAlias/{key}/{value}: Q2/Q9 variable search — every
    * String-valued variable is an index alias (WFRun.getAliases).
    *
    * Concurrent searches share one scan. A search joins a queue; a scan
    * starts only after the search was queued and answers every search
    * waiting at that moment, and at most one scan runs at a time, so N
    * concurrent searches cost one Spark job, not N competing ones (the
    * amortised per-job coordination of Drizzle, SOSP 2017). The scan
    * evaluates DISTRIBUTED: the latest frame filtered by the OR of the
    * waiting searches' predicates, columnar over the `aliases` map
    * column, collecting `(wfRunId, aliases)` of the matching runs
    * (bounded by matches); each search then picks its own runs from
    * those rows. An empty store answers every search `[]` with no
    * scan. A scan's error reaches every search it was answering. */
  def getWfRunAlias(key: String, value: String): String = {
    val search = new AliasSearch(key, value)
    pendingSearches.add(search)
    val answer = aliasScan.synchronized {
      if (search.answer == null) {
        val batch = Iterator.continually(pendingSearches.poll())
          .takeWhile(_ != null).toVector
        val answers =
          try scanAliases(batch).map(Right(_))
          catch { case t: Throwable => batch.map(_ => Left(t)) }
        batch.zip(answers).foreach { case (s, a) => s.answer = a }
      }
      search.answer
    }
    answer.fold(e => throw e, ids => response(RpcStatus.OK, None, ids))
  }

  private final class AliasSearch(val key: String, val value: String) {
    // written and read under `aliasScan`
    var answer: Either[Throwable, Vector[String]] = _
  }
  private val pendingSearches =
    new java.util.concurrent.ConcurrentLinkedQueue[AliasSearch]()
  private val aliasScan = new Object

  /** One scan answering `batch`, in order: sorted matching run ids. */
  private def scanAliases(batch: Vector[AliasSearch]): Vector[Vector[String]] = {
    import org.apache.spark.sql.functions.{array_contains, col}
    import spark.implicits._
    latestFrame(None) match {
      case None => batch.map(_ => Vector.empty)
      case Some(frame) =>
        val rows = frame
          .filter(batch.map(s => array_contains(col("aliases")(s.key), s.value))
            .reduce(_ || _))
          .select("wfRunId", "aliases").as[(String, Map[String, Seq[String]])]
          .collect()
        batch.map(s => rows.collect {
          case (id, aliases) if aliases.get(s.key).exists(_.contains(s.value)) => id
        }.sorted.toVector)
    }
  }

  // ---- run-lifecycle routes (produce to the spec's event topic) ----

  private def eventTopic(spec: WFSpec) = s"wfEvents__${spec.name}"

  private def now() = System.currentTimeMillis()

  /** Read-your-writes barrier wired into the POST routes (reference:
    * POSTApi blocks inside the request, POSTApi.java:53-58): when a
    * scheduler [[org.apache.spark.sql.streaming.StreamingQuery]] is
    * supplied, a produce-route response is withheld until the scheduler
    * has committed past the produced record — so POST-then-GET observes
    * the write with no manual barrier call. */
  private def awaitIfRequested(
      await: Option[org.apache.spark.sql.streaming.StreamingQuery],
      topic: String, partition: Int, offset: Long, timeoutMs: Long): Unit =
    await.foreach(q =>
      ReadYourWrites.awaitProcessed(q, topic, partition, offset, 0, timeoutMs))

  /** POST /WFRun: resolve the spec (name-or-id), produce
    * WF_RUN_STARTED. Returns the new run id as objectId. With `await`,
    * blocks until the scheduler has processed the event (the
    * reference's synchronous-write contract). */
  def postRun(
      wfSpecKey: String,
      variables: ListMap[String, Any] = ListMap.empty,
      wfRunId: Option[String] = None,
      await: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      timeoutMs: Long = 30000L): String =
    store.wfSpec(wfSpecKey) match {
      case None => response(RpcStatus.OBJECT_NOT_FOUND, Some(wfSpecKey))
      case Some(spec) =>
        val runId = wfRunId.getOrElse(
          java.util.UUID.randomUUID().toString.replace("-", ""))
        val (part, off) = GraftBus.send(busRoot, eventTopic(spec), runId,
          EventCodec.encodeWFEvent(WFEvent(
            spec.objectId, spec.name, runId, now(), 0,
            WFEventType.WF_RUN_STARTED,
            EventCodec.encodeRunRequest(
              WFRunRequest(variables, spec.objectId, Some(runId))))))
        awaitIfRequested(await, eventTopic(spec), part, off, timeoutMs)
        response(RpcStatus.OK, Some(runId))
    }

  /** POST /externalEvent/{externalEventDefId}/{wfRunId}: wrap the
    * payload in the ExternalEventPayload envelope, broadcast threadId
    * -1 (WFRunApiStuff.postEvent). The def is validated against the
    * registered ExternalEventDefs (unknown def → OBJECT_NOT_FOUND,
    * like the reference resolving the def before posting) and the
    * resolved name is used for `externalEventDefName`; the run's spec
    * comes from its stored snapshot + a metadata point lookup. */
  def postEvent(externalEventDefId: String, wfRunId: String,
      content: Any,
      await: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      timeoutMs: Long = 30000L): String =
    store.getByNameOrId(
        store.Kind.ExternalEventDef, externalEventDefId) match {
      case None =>
        response(RpcStatus.OBJECT_NOT_FOUND, Some(externalEventDefId),
          message = Some(s"no ExternalEventDef $externalEventDefId"))
      case Some(defDoc) =>
        val eed = ResourceCodec.decodeExternalEventDef(defDoc)
        latestSnapshot(wfRunId) match {
          case None => response(RpcStatus.OBJECT_NOT_FOUND, Some(wfRunId))
          case Some((_, specName)) =>
            store.wfSpec(specName) match {
              case None => response(RpcStatus.INTERNAL_ERROR, Some(wfRunId),
                message = Some(s"spec $specName not deployed"))
              case Some(spec) =>
                val t = now()
                val (part, off) = GraftBus.send(
                  busRoot, eventTopic(spec), wfRunId,
                  EventCodec.encodeWFEvent(WFEvent(
                    spec.objectId, spec.name, wfRunId, t, -1,
                    WFEventType.EXTERNAL_EVENT,
                    EventCodec.encodeExternalEvent(ExternalEventPayload(
                      externalEventDefId, eed.name, content, t)))))
                awaitIfRequested(await, eventTopic(spec), part, off, timeoutMs)
                response(RpcStatus.OK, Some(wfRunId))
            }
        }
    }

  private def lifecycle(
      wfRunId: String, tid: Int, evType: String,
      await: Option[org.apache.spark.sql.streaming.StreamingQuery],
      timeoutMs: Long): String =
    latestSnapshot(wfRunId) match {
      case None => response(RpcStatus.OBJECT_NOT_FOUND, Some(wfRunId))
      case Some((_, specName)) =>
        store.wfSpec(specName) match {
          case None => response(RpcStatus.INTERNAL_ERROR, Some(wfRunId),
            message = Some(s"spec $specName not deployed"))
          case Some(spec) =>
            val (part, off) = GraftBus.send(busRoot, eventTopic(spec), wfRunId,
              EventCodec.encodeWFEvent(WFEvent(
                spec.objectId, spec.name, wfRunId, now(), tid, evType, "")))
            awaitIfRequested(await, eventTopic(spec), part, off, timeoutMs)
            response(RpcStatus.OK, Some(wfRunId))
        }
    }

  /** POST /WFRun/stop/{wfRunId}/{tid}. */
  def postStop(wfRunId: String, tid: Int,
      await: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      timeoutMs: Long = 30000L): String =
    lifecycle(wfRunId, tid, WFEventType.WF_RUN_STOP_REQUEST, await, timeoutMs)

  /** POST /WFRun/resume/{wfRunId}/{tid}. */
  def postResume(wfRunId: String, tid: Int,
      await: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
      timeoutMs: Long = 30000L): String =
    lifecycle(wfRunId, tid, WFEventType.WF_RUN_RESUME_REQUEST, await,
      timeoutMs)

  /** GET /{Type}Offset/{id}/{offset}/{partition} — the read-your-writes
    * barrier route (GETApi.waitForProcessing,
    * APIStreamsContext.waitForProcessing:168-222): block until the
    * scheduler has committed past (partition, offset) on `topic`, so a
    * subsequent GET observes the write that produced that record. OK
    * once processed; INTERNAL_ERROR with a message on timeout. */
  def waitForProcessing(
      query: org.apache.spark.sql.streaming.StreamingQuery,
      topic: String, partition: Int, offset: Long,
      timeoutMs: Long = 30000L): String =
    try {
      ReadYourWrites.awaitProcessed(query, topic, partition, offset, 0,
        timeoutMs)
      response(RpcStatus.OK)
    } catch {
      case e: Exception =>
        response(RpcStatus.INTERNAL_ERROR, message = Some(e.getMessage))
    }

  /** GET /{Type}AliasSet/{aliasKey}/{aliasValue} for metadata
    * resources — whose only alias is `{name: name}`
    * (GETable.getAliases:142-149), so the route is a name lookup
    * returning every matching id. */
  def getAliasSet(kind: String, aliasKey: String, aliasValue: String): String = {
    if (aliasKey != "name")
      response(RpcStatus.OK, None, Vector.empty[String])
    else
      response(RpcStatus.OK, None,
        store.idsByName(kind, aliasValue).toVector)
  }
}
