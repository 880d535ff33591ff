package graft.operators

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.util.Dirs

/** Stream/batch equivalence through the driver's correctness gate: this
  * query computes its answer by actually EXECUTING a Structured
  * Streaming job — file source → event-time windowed aggregation →
  * memory sink, drained with Trigger.AvailableNow — and the DuckDB
  * oracle checks it against the equivalent batch SQL. Same windowed
  * plan a 24/7 deployment would run with a watermark; AvailableNow is
  * the batch-drain mode (used for backfills in production), which is
  * what makes a synchronous, hash-checkable driver query possible.
  */
object StreamBatch {

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** Startup/steady telemetry from the most recent drain of each named
    * streaming query: (firstBatchSec, drainSec, numBatches). Bench
    * reports these per round so gate triage can tell query-startup cost
    * (checkpoint + state-store init + streaming-plan compile, paid once
    * per query lifetime — amortized to nothing on a 24/7 stream) from
    * steady-state operator cost (paid per batch forever). */
  val lastDrainTimings =
    new java.util.concurrent.ConcurrentHashMap[String, (Double, Double, Int)]()

  /** Raw per-batch StreamingQueryProgress JSON from the most recent
    * drain — triage detail behind the headline split above (which
    * duration bucket a regression lives in: addBatch, stateCommit,
    * getBatch, …). Populated always; printed only by diagnostics. */
  val lastDrainProgress =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Run `body` with `spark.sql.shuffle.partitions` sized for a
    * STATEFUL streaming query over the events table, restoring the
    * session value afterwards.
    *
    * Why: a stateful operator creates one state-store instance per
    * shuffle partition per store (a stream-stream join has FOUR stores
    * per partition), and every micro-batch pays a fixed update+commit
    * overhead per instance. State partitions must therefore be sized
    * to STATE VOLUME — the batch shuffle setting is the wrong default
    * when state is small. Measured at sf0.1 (≈11 MB of join state):
    * q26 runs 5.3 s at 32 partitions (128 near-empty store instances)
    * vs 2.1 s at 4 — the round-5 "streaming family inflation" was
    * exactly this mis-sizing, not a code regression. Sizing rule:
    * one partition per 16 MB of source input, floor 4 (multicore
    * headroom), capped by the session's own shuffle setting so a
    * production session with thousands of partitions still scales out
    * (at 100 TB the cap is what applies; state partitioning is fixed
    * at first start by the checkpoint, so a 24/7 deployment sizes it
    * once for peak state, which this heuristic approximates from
    * input bytes).
    *
    * The session conf is mutated for the duration of the streaming
    * query (restored in finally); queries in this repo run
    * sequentially per session (Verify/Bench/tests), so no concurrent
    * batch query observes the temporary value. */
  private def withStatePartitions[T](
      s: SparkSession, dir: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = s.conf.get(key)
    val inputBytes = graft.sources.Tables.eventsInputBytes(dir)
    val sized = math.max(4L, inputBytes / (16L << 20) + 1)
    val target = math.min(before.toLong, sized)
    s.conf.set(key, target.toString)
    try body finally s.conf.set(key, before)
  }

  /** Run `body` with no-data micro-batches disabled, restoring the
    * session value afterwards (the conf is captured at query start).
    *
    * r20 (guide §5; the q40 finding generalized): an AvailableNow
    * drain of a watermarked stateful query appends one numInputRows=0
    * batch after the data batches purely to flush WATERMARK-GATED
    * output — and each such batch pays the full per-batch cycle
    * (state-store commit across every instance + offset/commit log,
    * measured ~0.4-0.6 s here). For operators whose OUTPUT is never
    * watermark-gated — inner stream-stream joins (emit on match) and
    * streaming dedup (emit on first arrival); the watermark only
    * bounds their STATE — the no-data batch emits nothing, so
    * skipping it leaves the drained relation bit-identical. Do NOT
    * use this on watermark-gated-output operators (append-mode
    * windowed aggregates, outer joins without q40's sentinel-data
    * harness): their final emissions NEED that flush batch. */
  private def withoutNoDataBatches[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, before)
  }

  /** Drain an AvailableNow query to completion, recording time-to-first
    * -completed-batch vs total drain under `name`. A timed-out drain
    * must ERROR, not silently return a partial sink. */
  private def drain(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      name: String): Unit = {
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    var firstBatch = -1.0
    try {
      var done = false
      while (!done) {
        done = q.awaitTermination(50L)
        if (firstBatch < 0 && q.recentProgress.nonEmpty) firstBatch = secs
        if (!done && secs > 120.0)
          throw new java.util.concurrent.TimeoutException(
            "streaming drain did not finish within 120s")
      }
      if (firstBatch < 0 && q.recentProgress.nonEmpty) firstBatch = secs
      lastDrainTimings.put(name, (firstBatch, secs, q.recentProgress.length))
      lastDrainProgress.put(name, q.recentProgress.toSeq.map(_.json))
    } finally q.stop()
  }

  // most recent drain output dir per query name: deleted (bounded
  // cleanup) when the same query drains again in this JVM — by then its
  // readback frame has been consumed (queries run sequentially)
  private val lastDrainDir =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** A fresh scratch dir that becomes `name`'s one live drain dir,
    * deleting the one the previous invocation left (its readback was
    * consumed by then). */
  private def drainDir(name: String, prefix: String): Path = {
    val dir = Dirs.scratch(prefix)
    Option(lastDrainDir.put(name, dir)).foreach(Dirs.deleteRecursively)
    dir
  }

  /** Drain a streaming frame to parquet DISTRIBUTED and read the result
    * back as an ordinary distributed frame — the shape for any streaming
    * result whose row count scales with the data, where a memory sink +
    * driver `collect()` would be a driver OOM at scale. Each micro-batch
    * OVERWRITES its own `batch_<id>` subdir, so a replayed/retried batch
    * id is idempotent (at-least-once foreachBatch never duplicates
    * rows). Complete mode reads only the highest batch id (each emission
    * is the full result — the AvailableNow drain's last batch wins);
    * append mode reads the union of all batch subdirs (each emission is
    * a delta). Readback pins the streaming frame's own schema so a drain
    * whose every batch was empty (no part-files on disk) still yields a
    * valid empty frame instead of a schema-inference error. */
  private def drainToParquet(
      s: SparkSession, df: DataFrame, mode: String, name: String): DataFrame = {
    val out = drainDir(name, s"graft-stream-$name").toString
    val q = df.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch_$id")
      }
      .start()
    drain(q, name)
    val batchDirs = {
      val root = new java.io.File(out)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
        .sortBy(f => f.getName.stripPrefix("batch_").toLong)
        .map(_.toString)
    }
    val read =
      if (batchDirs.isEmpty) Seq(out) // empty drain: schema-pinned empty
      else if (mode == "complete") Seq(batchDirs.last)
      else batchDirs.toSeq
    s.read.schema(df.schema).parquet(read: _*)
  }

  /** Daily event counts per type, computed by a streaming query. */
  def streamingDailyAgg(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    // events ts physical type varies by driver data generation (raw
    // nanos long / timestamp[us]); normalization owned by graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    val windowed = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"w.start".as("day"), $"event_type", $"n_events")

    val table = s"graft_stream_daily_${nameCounter.incrementAndGet()}"
    val q = windowed.writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q23_streaming_daily_agg")

    // materialize the (tiny: days × types) result locally, then drop
    // the memory-sink table so repeated invocations don't accumulate
    // cached sinks in the driver catalog
    val rows = s.table(table)
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    s.catalog.dropTempView(table)
    rows.toDF("day", "event_type", "n_events")
      .orderBy($"day", $"event_type")
  }

  /** Streaming OHLC — the q79 batch resample run as a streaming
    * aggregation: per (day window, type), open/close via
    * `min_by`/`max_by` on the unique monotone `event_id` plus
    * min/max/count/sum. min_by/max_by merge associatively and the
    * order key is totally ordered, so the result is independent of
    * batching and arrival order — the stream and the batch oracle are
    * equal by algebra, not by luck (the q23 guarantee class extended
    * to argmin/argmax state). Complete-mode memory sink; the result
    * is days×types — bounded. */
  def streamingOhlc(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val windowed = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .select($"ts", $"event_type", $"event_id",
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(min_by($"cents", $"event_id").as("open_cents"),
        max($"cents").as("high_cents"),
        min($"cents").as("low_cents"),
        max_by($"cents", $"event_id").as("close_cents"),
        count(lit(1)).as("volume"),
        sum($"cents").as("total_cents"))
      .select($"w.start".as("day"), $"event_type", $"open_cents",
        $"high_cents", $"low_cents", $"close_cents", $"volume",
        $"total_cents")
    val table = s"graft_stream_ohlc_${nameCounter.incrementAndGet()}"
    val q = windowed.writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q85_stream_ohlc")
    val rows = s.table(table)
      .as[(java.sql.Timestamp, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    s.catalog.dropTempView(table)
    rows.toDF("day", "event_type", "open_cents", "high_cents",
      "low_cents", "close_cents", "volume", "total_cents")
      .orderBy($"event_type", $"day")
  }

  /** SLIDING-window event rollup (1 h windows every 30 min), computed
    * by a streaming query: every event lands in exactly two
    * overlapping epoch-aligned windows, counted and cents-summed per
    * (window, type). Counts and integer sums are commutative, so the
    * result is independent of batching and arrival order by algebra —
    * the same guarantee class as the q23 tumbling twin, now for the
    * overlapping-window assignment (each input row fans out to
    * width/slide = 2 state rows). Cents are quantized PER ROW before
    * the sum (the repo-wide float rule). Drained distributed to
    * parquet — output rows scale with (windows × types), never
    * collected; a 24/7 deployment runs the identical plan in append
    * mode with a watermark so state expires per closed window. */
  def streamingSlidingAgg(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val windowed = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .select($"ts", $"event_type",
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"vc").as("sum_cents"))
      .select($"w.start".as("win_start"), $"event_type",
        $"n_events", $"sum_cents")
    drainToParquet(s, windowed, "complete", "q64_streaming_sliding")
      .orderBy($"win_start", $"event_type")
  }

  /** Stream-stream interval join, executed by a real Structured
    * Streaming job: each `view` event joins the same user's `purchase`
    * events within the following hour. Both sides carry a watermark
    * and the join condition bounds `buy_ts` to a closed interval after
    * `view_ts`, which is exactly what lets Spark expire join state —
    * on an unbounded 24/7 stream each side retains only ~1 hour + late
    * allowance of events per user, so state is O(rate × window), not
    * O(history). Append mode: inner-join matches emit as soon as both
    * rows arrive. The DuckDB oracle replays the identical interval
    * join as batch SQL (stream/batch equivalence, like q23).
    */
  def streamingIntervalJoin(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    // ONE streaming source, filter-split into both join sides (a
    // streaming self-join). With two independent eventsReadStream
    // calls the micro-batch planner tracked two sources, each listing
    // and admitting the same files separately per batch; one shared
    // source halves that source-side work and is the shape a real
    // deployment reading one topic/table would use.
    val events = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))

    def side(tpe: String, prefix: String) =
      events
        .filter($"event_type" === tpe)
        .select($"event_id".as(s"${prefix}_id"),
          $"user_id".as(s"${prefix}_user"), $"ts".as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")

    val joined = side("view", "view").join(side("purchase", "buy"),
      expr("""view_user = buy_user AND
             |buy_ts >= view_ts AND
             |buy_ts <= view_ts + INTERVAL 1 HOUR""".stripMargin))

    // match count grows linearly with the corpus (every view×purchase
    // pair within the hour), so the result must stay distributed:
    // append-mode emissions land in parquet per batch and the answer is
    // their union — no driver materialization at any size
    // inner-join matches emit as soon as both rows arrive (never
    // watermark-gated), so the trailing no-data flush batch emits
    // nothing — skip it (r20, see withoutNoDataBatches)
    withoutNoDataBatches(s) {
      drainToParquet(s, joined, "append", "q26_stream_stream_join")
    }
      .select($"view_user".as("user_id"), $"view_id", $"buy_id",
        $"view_ts", $"buy_ts")
      .orderBy($"view_id", $"buy_id")
  }

  /** Streaming deduplication — the third stateful-operator family
    * next to the windowed aggregate (q23) and the stream-stream join
    * (q26): GLOBAL `dropDuplicates` over the (user_id, event_type)
    * key. Global (no watermark) is the variant with exact,
    * batching-independent semantics — `dropDuplicatesWithinWatermark`
    * re-emits a key whose duplicates span beyond the horizon as soon
    * as the source splits into multiple micro-batches, so its output
    * depends on file batching, which no batch oracle can replay. The
    * cost is state that never expires: O(distinct keys), the
    * documented tradeoff for an exact effectively-once guarantee (the
    * scheduler's bounded-window guid dedupe is the other point on
    * that dial). Output is the KEY SET only — which duplicate arrives
    * first is execution-order-dependent, keys alone are deterministic
    * — so the oracle is a plain DISTINCT. */
  def streamingDedupKeys(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    val deduped = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")

    // the distinct user×event_type key set grows with the corpus, so
    // the result stays distributed (parquet readback, not a memory-sink
    // collect)
    drainToParquet(s, deduped, "append", "q31_streaming_dedup_keys")
      .orderBy($"user_id", $"event_type")
  }

  /** BOUNDED-STATE streaming dedup — the watermarked counterpart to
    * [[streamingDedupKeys]] (q31). q31's global `dropDuplicates` is
    * exact under ANY arrival order at the cost of state that never
    * expires; this variant uses `dropDuplicatesWithinWatermark` with a
    * 48-hour delay, so state is O(keys per 48 h of event time) —
    * watermark-evicted forever-bounded, the only shape that survives
    * an unbounded 24/7 stream.
    *
    * Exactness argument (why a batch oracle CAN replay this one): the
    * dedup key is (user_id, event_type, day-of-ts), so two rows with
    * the same key are < 24 h apart in event time — strictly inside
    * the 48 h dedup horizon, where `dropDuplicatesWithinWatermark`
    * GUARANTEES single emission. On a time-ordered feed (what a log
    * stream is, and what any watermarked operator is entitled to —
    * same contract as q40) a key's state cannot be evicted before its
    * last duplicate arrives, so the emitted key set equals the batch
    * DISTINCT exactly. Output is the key set only (the surviving
    * row's other columns depend on partition race, the key set does
    * not). MultiBatchSpec drains it file-by-file on the ordered
    * layout; StreamBoundedDedupSpec asserts the state actually
    * shrinks (eviction happened) while the answer stays exact. */
  def streamingDedupBounded(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    val deduped = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .select($"user_id", $"event_type", $"ts")
      .withColumn("day", to_date($"ts"))
      .withWatermark("ts", "48 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select($"user_id", $"event_type", $"day")

    // dedup emits a key's FIRST row immediately; the watermark only
    // bounds state, so the trailing no-data flush batch emits nothing
    // — skip it (r20, see withoutNoDataBatches)
    withoutNoDataBatches(s) {
      drainToParquet(s, deduped, "append", "q57_stream_dedup_bounded")
    }
      .orderBy($"user_id", $"event_type", $"day")
  }

  /** Streaming SESSION WINDOWS — the fourth stateful-operator family
    * next to the windowed aggregate (q23), the stream-stream join
    * (q26), and stateful dedup (q31), and the only one whose state
    * MERGES: a late-ish event can fuse two open sessions into one, so
    * the state operator maintains mergeable per-key interval state
    * (Spark's sessionWindow state store), not independent buckets.
    * Per-user 30-minute-gap sessions over events. Complete mode, like
    * q23: the exact, batching-independent variant a batch oracle can
    * replay (append mode withholds sessions inside the final watermark
    * horizon of an AvailableNow drain — output would depend on where
    * the file drain stops). The cost is state = O(open+emitted
    * sessions); the 24/7 deployment flips to watermark + append and
    * pays that with bounded state instead, same operator. Session
    * boundary semantics: a gap of EXACTLY 30 min starts a new session
    * (event time >= previous session end), replayed in the oracle as
    * `diff >= gap`. */
  def streamingSessions(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    val sessions = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")

    // session count scales WITH THE DATA, so the result stays
    // distributed: complete-mode emissions overwrite the parquet dir
    // (the AvailableNow drain's last batch is the final full result)
    drainToParquet(s, sessions, "complete", "q38_streaming_sessions")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** Stream-stream LEFT OUTER interval join, promoted to an
    * oracle-checked query (StreamOuterJoinSpec pins the incremental
    * semantics: null rows emit on watermark, state expires). The
    * reference shape this mirrors is the external-event timeout path
    * (N2/M2): "did a correlated event arrive within the window, else
    * emit the timeout row" is exactly a left-outer temporal
    * correlation.
    *
    * Why the harness is more than an AvailableNow drain: an unmatched
    * view's null row is WATERMARK-GATED — it may only emit once no
    * purchase can still arrive — so a plain file drain withholds the
    * data-dependent tail inside the final watermark horizon and no
    * batch oracle could replay the result. This formulation completes
    * the stream: the real files are SYMLINKED into a staging dir
    * (no data copy), and after the real data drains, two rounds of
    * far-future sentinel rows (negative user_id, filtered at
    * readback, never seen by the oracle) are appended. Sentinel round
    * 1 advances both sides' watermarks past every real join window;
    * round 2 guarantees a subsequent batch EXECUTES with that
    * advanced watermark (state eviction applies the previous batch's
    * watermark), so every real unmatched view emits its null row
    * exactly once, deterministically — no reliance on no-data
    * micro-batch scheduling. A 24/7 deployment runs the identical
    * plan minus the sentinel harness: its stream never ends, so the
    * watermark itself completes every window.
    *
    * State at scale: both sides keep ~1 hour + delay of events per
    * key (interval condition bounds state, StreamOuterJoinSpec
    * asserts expiry); emissions land in per-batch parquet dirs
    * distributed — no driver materialization at any size. */
  def streamingLeftOuterJoin(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    // staging: symlinks to the real part files (no copy), so the
    // stream can be extended with sentinel files
    val staging = drainDir("q40_stream_left_outer:staging", "graft-louter-src")
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val parts =
      if (java.nio.file.Files.isDirectory(src))
        Dirs.listDir(src)(
          _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
      else Seq(src)
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.createSymbolicLink(
        staging.resolve(f"real_$i%05d.parquet"), f.toAbsolutePath)
    }

    val events = Tables.eventsTsFromNanos(
      s.readStream.schema(rawSchema).parquet(staging.toString))
    def side(tpe: String, prefix: String) =
      events
        .filter($"event_type" === tpe)
        .select($"event_id".as(s"${prefix}_id"),
          $"user_id".as(s"${prefix}_user"), $"ts".as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("view", "view").join(side("purchase", "buy"),
      expr("""view_user = buy_user AND
             |buy_ts >= view_ts AND
             |buy_ts <= view_ts + INTERVAL 1 HOUR""".stripMargin),
      "leftOuter")
    // sentinel exclusion happens at READBACK, never inside the
    // streaming plan: a pre-join filter would push below the watermark
    // node and stop the sentinels from advancing it

    // max event time in epoch MICROS, adaptive to the parquet's
    // physical ts type (raw nanos long / timestamp[us] NTZ / UTC) —
    // sentinel rows below must be written back in the SAME raw type
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val rawTsType = rawSchema("ts").dataType
    val maxTsMicros = s.read.parquet(s"$dir/events.parquet")
      .agg(max(rawTsType match {
        case LongType => expr("ts div 1000")
        case _ => unix_micros($"ts".cast("timestamp"))
      })).as[Long].head()
    val out = drainDir("q40_stream_left_outer", "graft-stream-q40").toString
    // NO-DATA micro-batches OFF for this query (r20, guide §5 / VERDICT
    // r19 item 3 — the heaviest key spent ~1.7 s of its 4.6 s drain in
    // three numInputRows=0 batches, each paying the full state-commit +
    // offset-log cycle, measured via the per-batch progress JSON).
    // No-data batches exist to flush watermark-gated output when no new
    // input arrives; THIS harness always advances the watermark with
    // sentinel DATA batches — round 2 exists precisely so a data batch
    // executes with the advanced watermark — so every null row a
    // no-data batch would emit is emitted by the next sentinel batch
    // instead (state eviction applies the previous batch's watermark
    // in whichever batch runs next). Union-of-batch-dirs readback ⇒
    // identical output relation; a 24/7 deployment keeps the default
    // (its watermark advances with live data anyway). Session conf is
    // captured at query start and restored after the drain.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndBefore = s.conf.get(ndKey, "true")
    s.conf.set(ndKey, "false")
    val t0 = System.nanoTime()
    var firstDrainSec = -1.0
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch_$id")
      }
      .start()
    try {
      q.processAllAvailable() // all real data (one batch: no file cap)
      firstDrainSec = (System.nanoTime() - t0) / 1e9
      // sentinel rounds: matched view+purchase pairs (negative ids) a
      // day apart, two days past the data — each round's pair joins
      // immediately, leaving no sentinel state behind
      def sentinel(round: Int): Unit = {
        val micros = maxTsMicros + (2L + round) * 86400L * 1000000L
        val instant = java.time.Instant.ofEpochSecond(
          micros / 1000000L, (micros % 1000000L) * 1000L)
        val tsCell: Any = rawTsType match {
          case LongType => micros * 1000L
          case TimestampNTZType => // external type: LocalDateTime (UTC wall)
            java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
          case _ => java.sql.Timestamp.from(instant)
        }
        val uid = -(round + 1L)
        def row(eid: Long, tpe: String) =
          org.apache.spark.sql.Row.fromSeq(rawSchema.fieldNames.toSeq.map {
            case "event_id" => eid
            case "ts" => tsCell
            case "user_id" => uid
            case "event_type" => tpe
            case "value" => 0.0
            case _ => "{}" // props
          })
        val rows = Seq(row(uid, "view"), row(uid - 10L, "purchase"))
        val tmp = Dirs.scratch("graft-louter-sent")
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), rawSchema)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Dirs.listDir(tmp)(
          _.find(_.getFileName.toString.endsWith(".parquet")).get)
        java.nio.file.Files.move(part,
          staging.resolve(f"sentinel_$round%02d.parquet"))
        Dirs.deleteRecursively(tmp)
      }
      sentinel(0); q.processAllAvailable() // watermark past every window
      sentinel(1); q.processAllAvailable() // a batch RUNS with it: evict
      lastDrainProgress.put("q40_stream_left_outer",
        q.recentProgress.toSeq.map(_.json))
    } finally {
      q.stop()
      s.conf.set(ndKey, ndBefore)
    }
    // startup/steady split: the first drain covers query start + the
    // whole real-data batch; the remainder is the two sentinel rounds
    // (the per-batch cost a 24/7 stream pays forever)
    lastDrainTimings.put("q40_stream_left_outer",
      (firstDrainSec, (System.nanoTime() - t0) / 1e9,
        q.recentProgress.length))

    val batchDirs = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .map(_.toString).toSeq
    val back =
      if (batchDirs.isEmpty) s.read.schema(joined.schema).parquet(out)
      else s.read.schema(joined.schema).parquet(batchDirs: _*)
    back
      .filter($"view_user" >= 0) // drop sentinel-derived rows
      .select($"view_user".as("user_id"), $"view_id", $"buy_id",
        $"view_ts", $"buy_ts")
      .orderBy($"view_id", $"buy_id")
  }

  /** STREAM-STATIC join — the enrichment pattern every production
    * stream runs (events joined to a slowly-changing dimension), and
    * the fifth streaming-operator family here: unlike the
    * stream-stream joins (q26/q40) the JOIN keeps no state and needs
    * no watermark — each micro-batch hash-joins against the (small,
    * threshold-broadcast) dimension with no stream-side shuffle
    * before the aggregate. The only stateful operator is the
    * complete-mode aggregate itself, whose state is the bounded
    * (nations × types) group set. Per-nation, per-type event counts
    * and revenue; the revenue sum is pre-quantized to integer cents
    * (floor(v·100+0.5)) so the complete-mode aggregate is
    * order-free and bit-matchable by the batch oracle. */
  def streamingStaticJoin(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema

    val dim = Tables(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
    val enriched = Tables.eventsTsFromNanos(
      Tables.eventsReadStream(s, dir, rawSchema))
      .select($"user_id", $"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      // UNHINTED join, same dial as cdc_upsert_apply: customer grows
      // with SF (Tables.broadcastable deliberately excludes it), so
      // the planner broadcasts while the dim fits the threshold — the
      // common enrichment case, and the plan PlanSpec pins at test SF
      // — and falls back to a shuffled join for a dimension too big to
      // ship, instead of a forced-hint driver OOM at scale
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_nationkey", $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("cents"))

    val table = s"graft_stream_static_${nameCounter.incrementAndGet()}"
    val q = enriched.writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q41_stream_static_join")

    // nations × event types — bounded at any event volume
    val rows = s.table(table)
      .as[(Long, String, Long, Long)].collect().toSeq
    s.catalog.dropTempView(table)
    rows.toDF("c_nationkey", "event_type", "n_events", "cents")
      .orderBy($"c_nationkey", $"event_type")
  }

  /** Streaming distinct-key cardinality through a KMV sketch — the
    * BOUNDED-STATE answer to the question q31 answers with O(distinct
    * keys) of dedup state: "how many distinct users has this stream
    * seen?" carried as ≤ k longs of aggregation state, forever, at any
    * input rate.
    *
    * The KMV buffer ([[graft.functions.Sketch.KmvAgg]]) is a set with
    * a total order, so its merge is commutative and associative —
    * which is exactly why the STREAMING result (complete-mode global
    * aggregation, state = the buffer, arbitrary micro-batch slicing)
    * is bit-identical to the batch sketch, and the DuckDB oracle for
    * the batch operator applies unchanged. MultiBatchSpec's
    * batching-independence argument holds by construction here.
    */
  def streamingKmv(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val agg = new graft.functions.Sketch.KmvAgg(Sketches.KMV_K)
    val sketched = Tables.eventsReadStream(s, dir, rawSchema)
      .select(graft.functions.GraftFunctions.mix64($"user_id").as("h"))
      .as[Long]
      .groupByKey(_ => true) // one global sketch group
      .agg(agg.toColumn.name("mins"))

    val table = s"graft_stream_kmv_${nameCounter.incrementAndGet()}"
    val q = sketched.toDF("g", "mins").writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q44_streaming_kmv")
    val mins = s.table(table).select($"mins")
      .as[Seq[Long]].head() // bounded: ≤ k longs
    s.catalog.dropTempView(table)
    val (kth, est) = Sketches.kmvEstimate(mins)
    Seq(("events.user_id", Sketches.KMV_K.toLong, kth, est))
      .toDF("column_name", "k", "kth_hash", "ndv_est")
  }

  /** Streaming SCD Type-1 materialization — latest-version-per-key
    * upsert state, maintained BY a streaming query: the orders table
    * read as a change stream keyed by customer, each arriving order
    * overwriting that customer's materialized row (ordered by
    * (o_orderdate, o_orderkey), so arrival order never matters). This
    * is the streaming twin of [[Cdc]]'s batch MERGE family — the shape
    * a CDC topic → live dimension table pipeline runs 24/7.
    *
    * Expressed Spark-first as a complete-mode `max_by(struct(payload),
    * struct(version))` aggregation rather than hand-rolled
    * mapGroupsWithState: the version comparator is a total order, so
    * the aggregate is commutative/batching-independent, state is
    * exactly one row per key — the materialized table itself, the
    * intrinsic floor for an upsert view — and the oracle is the plain
    * batch last-row-per-key window. Drained distributed to parquet
    * (rows scale with keys; no driver collect). */
  def streamingScd1Latest(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    val rawSchema = s.read.parquet(s"$dir/orders.parquet").schema
    val latest = Tables.tableReadStream(s, dir, "orders", rawSchema)
      .groupBy($"o_custkey".as("key"))
      .agg(max_by(
        struct($"o_orderkey", $"o_orderpriority", $"o_totalprice"),
        struct($"o_orderdate", $"o_orderkey")).as("v"))
      .select($"key", $"v.o_orderkey".as("last_orderkey"),
        $"v.o_orderpriority".as("last_priority"),
        $"v.o_totalprice".as("last_price"))
    drainToParquet(s, latest, "complete", "q47_stream_scd1_latest")
      .orderBy($"key")
  }

  /** Streaming HyperLogLog over `events.event_id` — the register table
    * ([[Sketches.hllRegisterTable]], shared with the batch variant) as
    * a complete-mode streaming aggregate. Per-register `max(rank)` is
    * commutative AND idempotent, so the result is independent of
    * batching and arrival order BY ALGEBRA (re-delivered rows can't
    * move a max), and state is hard-bounded at 2^p = 4096 rows
    * forever — the bounded-state answer to "distinct events so far"
    * that q31's exact dedup pays O(distinct keys) for. Memory sink is
    * safe for the same reason the state is: ≤ 4096 rows by
    * construction. */
  def streamingHll(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val regs = Sketches.hllRegisterTable(
      Tables.eventsReadStream(s, dir, rawSchema)
        .select(graft.functions.GraftFunctions.mix64($"event_id").as("hv")))

    val table = s"graft_stream_hll_${nameCounter.incrementAndGet()}"
    val q = regs.writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q56_streaming_hll")
    val rows = s.table(table)
      .as[(Long, Int)].collect().toSeq // bounded: ≤ 4096 registers
    s.catalog.dropTempView(table)
    rows.toDF("register", "max_rank").orderBy($"register")
  }

  /** Streaming count-min frequency sketch — the monitoring-side twin
    * of [[Sketches.cmsFreq]]: the d×w count matrix builds as a
    * complete-mode streaming aggregation (state bounded at d·w cells
    * at ANY input rate — counts merge by addition, so batching and
    * arrival order cannot change the matrix), then the same fixed
    * probe keys read their d cells off the drained matrix. Stream ==
    * batch exactly: the batch oracle applies verbatim, the same
    * contract as q56's HLL registers and q44's KMV. */
  def streamingCms(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val matrix = Sketches.cmsMatrix(
      Tables.eventsReadStream(s, dir, rawSchema)
        .select(graft.functions.GraftFunctions.mix64($"user_id")
          .as("hv")))
    val table = s"graft_stream_cms_${nameCounter.incrementAndGet()}"
    val q = matrix.writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q58_streaming_cms")
    val rows = s.table(table)
      .as[(Long, Long, Long)].collect().toSeq // bounded: ≤ d·w cells
    s.catalog.dropTempView(table)
    Sketches.cmsEstimates(s, rows.toDF("d", "bucket", "c"))
  }

  /** Streaming HDR quantile sketch — the dashboard p50/p95/p99 as a
    * live stream: the same bucket histogram as
    * [[Sketches.hdrQuantiles]] built as a complete-mode streaming
    * aggregation (state bounded at types × ≤ 64 cells at any rate;
    * counts merge by addition, so batching/arrival order cannot move
    * a value across buckets), drained, then the shared ceil-threshold
    * selection. Stream == batch bit-exactly: the batch oracle applies
    * verbatim — the fourth additive sketch with a streaming twin
    * (KMV, HLL, CMS, HDR). */
  def streamingHdr(s: SparkSession, dir: String): DataFrame =
      withStatePartitions(s, dir) {
    import s.implicits._
    import graft.sources.Tables
    Tables.ensureNanosFlag(s)
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val hist = Sketches.hdrHistogram(
      Tables.eventsReadStream(s, dir, rawSchema)
        .select($"event_type", $"value"))
    val table = s"graft_stream_hdr_${nameCounter.incrementAndGet()}"
    val q = hist.writeStream
      .format("memory")
      .queryName(table)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q, "q61_streaming_hdr")
    val rows = s.table(table)
      .as[(String, Long, Long)].collect().toSeq // bounded cells
    s.catalog.dropTempView(table)
    Sketches.hdrSelect(s, rows)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_streaming_sliding" -> (streamingSlidingAgg _),
    "q61_streaming_hdr" -> (streamingHdr _),
    "q58_streaming_cms" -> (streamingCms _),
    "q56_streaming_hll" -> (streamingHll _),
    "q57_stream_dedup_bounded" -> (streamingDedupBounded _),
    "q44_streaming_kmv" -> (streamingKmv _),
    "q47_stream_scd1_latest" -> (streamingScd1Latest _),
    "q23_streaming_daily_agg" -> (streamingDailyAgg _),
    "q85_stream_ohlc" -> (streamingOhlc _),
    "q26_stream_stream_join" -> (streamingIntervalJoin _),
    "q31_streaming_dedup_keys" -> (streamingDedupKeys _),
    "q38_streaming_sessions" -> (streamingSessions _),
    "q40_stream_left_outer" -> (streamingLeftOuterJoin _),
    "q41_stream_static_join" -> (streamingStaticJoin _),
  )

  val oracles: Map[String, String] = Map(
    // stream == batch for the overlapping-window rollup: each event
    // belongs to the two epoch-aligned 30-min-slide windows
    // (start = trunc30(ts) − o·30min, o ∈ {0,1}); counts/sums replay
    // as plain batch aggregation over the fanned-out assignment
    "q64_streaming_sliding" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
        |    epoch_us(ts) AS us
        |  FROM events),
        |w AS (SELECT event_type, vc,
        |    make_timestamp((us // 1800000000 - o.o) * 1800000000)
        |      AS win_start
        |  FROM e, (SELECT unnest([0, 1]) AS o) o)
        |SELECT win_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vc) AS BIGINT) AS sum_cents
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // stream == batch for an idempotent-max sketch: the batch HLL
    // register replay applies verbatim
    "q56_streaming_hll" ->
      Sketches.hllRegistersSql("event_id", "events"),
    // stream == batch for an additive-count sketch: the batch CMS
    // point-query replay applies verbatim
    "q58_streaming_cms" -> Sketches.oracles("sketch_cms_freq"),
    // same additivity argument for the bucket histogram
    "q61_streaming_hdr" -> Sketches.oracles("sketch_hdr_quantiles"),
    // the < 24h dup span vs 48h horizon argument above makes the
    // watermarked dedup's key set equal the batch DISTINCT
    "q57_stream_dedup_bounded" ->
      """SELECT user_id, event_type, CAST(ts AS DATE) AS day
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, day""".stripMargin,
    // stream == batch for a commutative-merge sketch: the batch KMV
    // oracle applies verbatim
    "q44_streaming_kmv" ->
      Sketches.kmvColumnSql("events.user_id", "events", "user_id"),
    // the upsert view's contract: batch last-row-per-key
    "q47_stream_scd1_latest" ->
      """SELECT o_custkey AS key, o_orderkey AS last_orderkey,
        |  o_orderpriority AS last_priority, o_totalprice AS last_price
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY key""".stripMargin,
    "q23_streaming_daily_agg" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // the q79 batch oracle keyed the same way the stream windows it
    "q85_stream_ohlc" ->
      """WITH e AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT day, event_type,
        |  arg_min(cents, event_id) AS open_cents,
        |  max(cents) AS high_cents,
        |  min(cents) AS low_cents,
        |  arg_max(cents, event_id) AS close_cents,
        |  CAST(count(*) AS BIGINT) AS volume,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM e GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,
    "q26_stream_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS buy_id,
        | v.ts AS view_ts, p.ts AS buy_ts
        |FROM events v JOIN events p
        | ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, buy_id""".stripMargin,
    "q31_streaming_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // batch replay of the stream-static enrichment: same join, same
    // integer-cents quantization — stateless on the stream side, so
    // stream/batch equivalence is exact by construction
    "q41_stream_static_join" ->
      """SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey, e.event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // batch replay of the left-outer interval join: the sentinel
    // harness guarantees every unmatched view's null row emitted, so
    // the streaming result equals the complete batch LEFT JOIN
    "q40_stream_left_outer" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS buy_id,
        | v.ts AS view_ts, p.ts AS buy_ts
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'view') v
        |LEFT JOIN (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        | ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, buy_id""".stripMargin,
    // batch replay of gap sessionization: new session when the gap to
    // the previous event is >= 30 min (Spark merges only on strict
    // interval overlap); session_end = last event + gap, exactly the
    // session_window.end Spark emits
    "q38_streaming_sessions" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
  )
}
