package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import scala.annotation.unused

import graft.engine._

/** One output row of the scheduler fold — the Scala mirror of the
  * reference's `SchedulerOutput` sum type (scheduler/SchedulerOutput
  * .java:9-12): either a TaskScheduleRequest destined for the per-
  * TaskDef task queue, or an updated WFRun snapshot destined for the
  * state sink. Flattened for a stable streaming schema; `kind`
  * discriminates. */
case class SchedulerOut(
    kind: String, // "tsr" | "snapshot"
    wfRunId: String,
    wfSpecName: String,
    taskDefName: String, // == kafka topic for tsr rows (S2 fan-out)
    threadId: Int,
    taskRunPosition: Int,
    status: String, // snapshot rows: run status
    json: String, // tsr json | full WFRun snapshot json
    seq: Long, // per-key monotonic emit sequence (latest-snapshot order)
    // Q2/Q3 secondary-index aliases (WFRun.getAliases) materialized as
    // a queryable map column AT SINK TIME, so variable search is a
    // columnar predicate instead of a per-row snapshot-JSON decode.
    // Multi-valued: several threads may bind the same variable name.
    aliases: Map[String, Seq[String]])

object SchedulerOut {
  val TSR = "tsr"
  val SNAPSHOT = "snapshot"
}

/** Streaming state value: the WFRun aggregate plus its pending timers
  * (the reference keeps these in two RocksDB stores —
  * SchedulerTopology.java:130-146; per-key state subsumes the timer
  * store because timers only ever target their own wfRunId,
  * WFRunTimer.java:5-11). `wfRunJson` is the `json` of the last
  * snapshot row the key emitted ("" before the run exists), so each
  * state is encoded once; timers stay typed. */
case class SchedulerState(
    wfRunJson: String, timers: Seq[WFRunTimer], emitSeq: Long,
    // bounded window of recently-processed event digests — the
    // consumer-side dedupe that stands in for the reference worker's
    // exactly-once Kafka txns (SURVEY §7.4-4): a redelivered event is
    // byte-identical and dropped HERE, before the engine, so even the
    // timeout-resurrection path (which must stay open for genuinely
    // late worker results) can't double-apply a duplicated pair.
    recentEventHashes: Seq[Long])

/** The streaming deployment of the engine (SURVEY.md §7.1): one
  * multiplexed `flatMapGroupsWithState` over the union WFEvent stream
  * covering every deployed WFSpec — the Spark-native equivalent of the
  * reference's one-Kafka-Streams-app-per-WFSpec scheduler
  * (scheduler/SchedulerProcessor.java).
  *
  * Scale notes: state is partitioned by `wfRunId` (the only key the
  * reference ever shards on); use the RocksDB state store provider +
  * checkpointing for large cardinalities; `spark.sql.shuffle.partitions`
  * sizes the state RDD. Size it to STATE VOLUME at first start, not to
  * the batch default: every state partition is a store instance paying
  * fixed update/commit overhead per micro-batch, so near-empty
  * partitions are pure per-batch cost (measured round 6: a 32→4
  * partition right-size on an 11 MB-state join was 2.8× — see
  * StreamBatch.withStatePartitions for the sizing rule), while
  * under-partitioned state spills; the count is frozen into the
  * checkpoint, so pick it for peak state (reference parity: Kafka
  * Streams fixes it at topic-partition count the same way). Timer parity (R3) comes from
  * ProcessingTimeTimeout re-armed to the earliest pending timer each
  * invocation, with a ~1 s trigger interval mirroring the reference's
  * punctuator (Constants.java:36).
  */
object Scheduler {

  /** Size of the per-run duplicate-detection window. Redeliveries are
    * near-in-time, so a small window suffices; a duplicate older than
    * the window falls back to the engine's own terminal-status guards. */
  val DEDUPE_WINDOW = 64

  /** Core stateful transform: WFEvent stream → scheduler outputs.
    * `specs` maps wfSpecName → spec (broadcast with the closure). */
  def apply(events: Dataset[WFEvent], specs: Map[String, WFSpec])
      : Dataset[SchedulerOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.wfRunId)
      .flatMapGroupsWithState[SchedulerState, SchedulerOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        stateFn(specs))
  }

  /** Per-key fold. Events within the group iterator are sorted by
    * timestamp — Spark does not guarantee intra-group order across
    * source partitions (SURVEY.md §7.4-6). */
  def stateFn(specs: Map[String, WFSpec])(
      @unused wfRunId: String, // the group key; each event carries it too
      eventsIter: Iterator[WFEvent],
      groupState: GroupState[SchedulerState]): Iterator[SchedulerOut] = {

    val out = Vector.newBuilder[SchedulerOut]

    val prev = groupState.getOption
    // the incoming json is persisted unchanged when nothing is folded
    var stateJson = prev.fold("")(_.wfRunJson)
    var state = Option.when(stateJson.nonEmpty)(StateCodec.decode(stateJson))
    var timers = prev.fold(Vector.empty[WFRunTimer])(_.timers.toVector)
    var emitSeq = prev.fold(0L)(_.emitSeq)
    var recent = prev.fold(Vector.empty[Long])(_.recentEventHashes.toVector)
    var specName = state.fold("")(_.wfSpecName)

    def emit(r: StepResult): Unit = {
      r.toSchedule.foreach { tsr =>
        emitSeq += 1
        out += SchedulerOut(SchedulerOut.TSR, tsr.wfRunId, tsr.wfSpecName,
          tsr.taskDefName, tsr.threadId, tsr.taskRunPosition, "",
          EventCodec.encodeTsr(tsr), emitSeq, Map.empty)
      }
      timers ++= r.timers
      r.state.foreach { st =>
        state = Some(st)
        specName = st.wfSpecName
        emitSeq += 1
        stateJson = StateCodec.encode(st)
        out += SchedulerOut(SchedulerOut.SNAPSHOT, st.objectId, st.wfSpecName,
          "", -1, -1, st.status, stateJson, emitSeq, st.aliasMap)
      }
    }

    def fireMatured(now: Long): Unit = specs.get(specName) match {
      case None => () // spec not deployed right now: KEEP the timers so
                      // a redeploy can still fire them later
      case Some(spec) =>
        var matured = timers.filter(_.maturationTimestamp <= now)
          .sortBy(_.maturationTimestamp)
        while (matured.nonEmpty) {
          timers = timers.filterNot(_.maturationTimestamp <= now)
          matured.foreach { t =>
            val ev = WFEvent(spec.objectId, spec.name, t.wfRunId,
              t.maturationTimestamp, t.threadRunId, WFEventType.TIMER_EVENT,
              EventCodec.encodeTimer(t))
            emit(Engine.processEvent(spec, state, ev))
          }
          matured = timers.filter(_.maturationTimestamp <= now)
        }
    }

    if (groupState.hasTimedOut) {
      fireMatured(System.currentTimeMillis())
    } else {
      val sorted = eventsIter.toArray.sortBy(_.timestamp)
      sorted.foreach { ev =>
        // Dedupe key: the producer-assigned guid when present (a resend
        // after a lost ack reuses it — see WFEvent.guid), else a content
        // digest, which assumes byte-identical (type, thread, ts,
        // content) inside the window implies redelivery.
        val digest =
          if (ev.guid.nonEmpty)
            graft.functions.TextHashes.hash64("g|" + ev.guid, 0L)
          else graft.functions.TextHashes.hash64(
            s"${ev.eventType}|${ev.threadId}|${ev.timestamp}|${ev.content}", 0L)
        if (recent.contains(digest)) {
          // at-least-once redelivery: byte-identical event already
          // folded — drop before it reaches the engine
        } else {
          recent = (recent :+ digest).takeRight(DEDUPE_WINDOW)
          fireMatured(ev.timestamp)
          specs.get(if (ev.wfSpecName.nonEmpty) ev.wfSpecName else specName) match {
            case Some(spec) => emit(Engine.processEvent(spec, state, ev))
            case None => () // unknown spec: drop, mirroring unknown-run drops
          }
        }
      }
    }

    // persist + re-arm the timeout to the earliest pending timer (R3).
    // The engine mutates the state only inside a step, and every step
    // on an existing run emits a snapshot, so `stateJson` already holds
    // the final state's encoding.
    groupState.update(SchedulerState(stateJson, timers, emitSeq, recent))
    if (timers.nonEmpty) {
      val next = timers.map(_.maturationTimestamp).min
      val delay = math.max(1L, next - System.currentTimeMillis())
      groupState.setTimeoutDuration(delay)
    }
    out.result().iterator
  }

  // ===== Transport wiring (S1, S2, S3) =====
  // The connector is resolved BY NAME at runtime through Spark's
  // DataSourceRegister service loader — `format("kafka")` on a real
  // cluster (`--packages org.apache.spark:spark-sql-kafka-0-10_2.13`;
  // nothing here links against Kafka classes), `format("graft-bus")`
  // ([[graft.streaming.bus.BusDataSource]]) in this Kafka-less build
  // environment. Both run the SAME shared builders below: the e2e
  // suite (BusSchedulerSpec) therefore executes the production
  // topology end to end, differing from the Kafka deployment only in
  // the format string + connection option.

  /** S1 core: a by-name connector whose `value` column carries WFEvent
    * JSON, consumed as one union stream across per-WFSpec topics. */
  private def eventSource(
      spark: SparkSession, format: String, opts: Map[String, String])
      : Dataset[WFEvent] = {
    import spark.implicits._
    spark.readStream.format(format).options(opts)
      .load()
      .selectExpr("CAST(value AS STRING) AS v")
      .as[String]
      .map(EventCodec.decodeWFEvent)
  }

  /** S1: per-WFSpec event topics `wfEvents__{name}` consumed as one
    * union stream, key = wfRunId (WFSpec.java:375-381). */
  def kafkaEventSource(
      spark: SparkSession, bootstrap: String, topicPattern: String)
      : Dataset[WFEvent] =
    eventSource(spark, "kafka", Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribePattern" -> topicPattern,
      "startingOffsets" -> "earliest"))

  /** S1 on the file-backed bus (same topology, executable without a
    * broker — see [[graft.streaming.bus.GraftBus]]). */
  def busEventSource(
      spark: SparkSession, root: String, topicPattern: String)
      : Dataset[WFEvent] =
    eventSource(spark, "graft-bus", Map(
      "path" -> root, "subscribePattern" -> topicPattern))

  /** S2+S3, the scheduler's one sink: TSRs to their per-TaskDef topics
    * through the by-name connector, snapshots to a
    * [[CompactedStateStore]] the API serves from (the reference keeps
    * run state in a co-located store, SchedulerTopology.java:130-146).
    * Each micro-batch is collected once; its TSRs are written as one
    * batch job of `(topic = taskDefName, key = wfRunId, value = json)`
    * rows (dynamic topic routing, like the Kafka sink), and its
    * snapshot rows go to [[CompactedStateStore.append]]. Both writes
    * finish inside `foreachBatch`, so once a batch commits its TSRs and
    * snapshots are visible (the [[ReadYourWrites]] contract).
    * `compactEvery` > 0 runs [[CompactedStateStore.compact]] inline
    * after every N-th batch (the reference compacts continuously inside
    * RocksDB; a cluster deployment would schedule it out-of-band).
    * At-least-once: a replayed batch re-sends its TSRs and re-appends
    * its snapshots (`latest` keeps one copy). */
  private def storeSink(
      outputs: Dataset[SchedulerOut], format: String,
      opts: Map[String, String], state: CompactedStateStore,
      checkpoint: String, compactEvery: Long): DataStreamWriter[SchedulerOut] =
    outputs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[SchedulerOut], batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val (tsrs, snaps) = batch.collect().partition(_.kind == SchedulerOut.TSR)
        if (tsrs.nonEmpty)
          tsrs.toSeq.map(t => (t.taskDefName, t.wfRunId, t.json))
            .toDF("topic", "key", "value")
            .write.format(format).options(opts).mode("append").save()
        if (snaps.nonEmpty) state.append(snaps.toSeq.toDS().toDF())
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          state.compact(spark)
        ()
      }

  /** [[storeSink]] over Kafka: TSRs to per-TaskDef Kafka topics. */
  def kafkaStoreSink(
      outputs: Dataset[SchedulerOut], bootstrap: String,
      state: CompactedStateStore, checkpoint: String,
      compactEvery: Long = 0L): DataStreamWriter[SchedulerOut] =
    storeSink(outputs, "kafka", Map("kafka.bootstrap.servers" -> bootstrap),
      state, checkpoint, compactEvery)

  /** [[storeSink]] over the file-backed bus. */
  def busStoreSink(
      outputs: Dataset[SchedulerOut], busRoot: String,
      state: CompactedStateStore, checkpoint: String,
      compactEvery: Long = 0L): DataStreamWriter[SchedulerOut] =
    storeSink(outputs, "graft-bus", Map("path" -> busRoot),
      state, checkpoint, compactEvery)
}

/** The query surface over materialized snapshots (SURVEY.md §2.5):
  * point lookup (Q1), variable search (Q2/Q9), scan (Q4), name-or-id
  * (Q8). */
object StateTable {

  /** Latest snapshot per run (append-log compaction at read time; see
    * [[CompactedStateStore]] for the bounded-read variant). Orders by
    * the scheduler's per-key emit sequence — parquet file read order is
    * NOT write order, so a frame without a `seq` column has no
    * recoverable snapshot order and is REJECTED loudly rather than
    * silently returning whichever snapshot the scan happened to read
    * last. */
  def latest(snapshots: DataFrame): DataFrame =
    latest(snapshots, keepSeq = false)

  /** As [[latest]]; `keepSeq = true` preserves the emit-sequence column
    * so the result can be re-unioned with later deltas and compacted
    * again ([[CompactedStateStore.compact]] needs this). */
  def latest(snapshots: DataFrame, keepSeq: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(snapshots.columns.contains("seq"),
      "StateTable.latest needs the scheduler's `seq` emit-sequence " +
        "column: snapshot order cannot be inferred from file read order")
    val w = Window.partitionBy(col("wfRunId"))
      .orderBy(col("seq").desc)
    val top = snapshots
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    if (keepSeq) top.drop("rn") else top.drop("rn", "seq")
  }

  /** Q2/Q9: `search WFRun <varName> <value>` — every String-valued
    * variable of every thread is an index alias (WFRun.getAliases,
    * WFRun.java:320-338). Served by the `aliases` map column written at
    * sink time: the predicate is columnar (map lookup + array_contains,
    * both codegen'd), so the scan prunes to (wfRunId, aliases) and no
    * snapshot JSON is ever decoded — a full-corpus JSON parse per query
    * would not survive 100× state cardinality. */
  def searchByVariable(
      latestSnapshots: DataFrame, varName: String, value: String): DataFrame = {
    require(latestSnapshots.columns.contains("aliases"),
      "StateTable.searchByVariable needs the `aliases` map column " +
        "(SchedulerOut.aliases, WFRunState.aliasMap)")
    latestSnapshots
      .filter(array_contains(col("aliases")(varName), value))
      .select(col("wfRunId"))
  }

  /** Q1: point lookup by run id. */
  def byId(latestSnapshots: DataFrame, id: String): DataFrame =
    latestSnapshots.filter(col("wfRunId") === id)

  /** lhctl-compatible export: each latest snapshot re-rendered in the
    * reference SDK's serialized `WFRunSchema` shape
    * ([[graft.engine.StateCodec.encodeSdk]]) so downstream tooling that
    * reads `lhctl get WFRun` documents consumes this engine's state
    * unchanged. Distributed per-row map over the snapshot frame; only
    * the deployed-spec map (small metadata) broadcasts. */
  def sdkExport(
      latestSnapshots: DataFrame,
      specs: Map[String, graft.engine.WFSpec]): DataFrame = {
    val spark = latestSnapshots.sparkSession
    import spark.implicits._
    val specsB = spark.sparkContext.broadcast(specs)
    latestSnapshots.select(col("wfRunId"), col("json")).as[(String, String)]
      .map { case (id, json) =>
        val st = StateCodec.decode(json)
        val spec = specsB.value.getOrElse(st.wfSpecName,
          throw new graft.engine.VarSubError(
            s"no deployed spec named ${st.wfSpecName}"))
        (id, StateCodec.encodeSdk(st, spec))
      }.toDF("wfRunId", "sdk_json")
  }
}
