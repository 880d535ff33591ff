package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Driver-side cache over a [[CompactedStateStore]]'s published
  * base∪delta — the piece that closes the serving-latency gap between
  * a distributed point lookup (~150–300 ms of Spark job-launch
  * overhead per request, BASELINE.md serving table) and the
  * reference's local-RocksDB reads (microseconds,
  * APIStreamsContext.getTFromId:62-83). The reference can answer from
  * local state because Kafka Streams CO-LOCATES each key's state with
  * its processor; this cache is the same locality bet made explicit:
  * live run state is small relative to history, so the latest snapshot
  * per run fits beside the API server, and the distributed scan is the
  * cold/fallback path instead of the per-request path.
  *
  * Contract:
  *  - answers are BYTE-IDENTICAL to the distributed path
  *    (GraftApiSpec, ServingCacheSpec assert it): entries hold the
  *    exact snapshot `json` the store holds, latest-by-`seq` — the
  *    same fold [[StateTable.latest]] applies;
  *  - WRITE-THROUGH for the store's own writes: building the cache
  *    registers it with its store, and that store instance hands it
  *    every [[CompactedStateStore.append]] (published file names plus
  *    the batch's rows, merged by max `seq`) and every
  *    [[CompactedStateStore.compact]] (the files folded and the new
  *    base, which counts as merged only if every folded file was) —
  *    both inside the store call, under this cache's monitor, so a
  *    lookup after the call returns runs no Spark job;
  *  - staleness is still checked on EVERY lookup against the store's
  *    published file set ([[CompactedStateStore.readFootprint]]: one
  *    version-pointer read + directory listing, microseconds). Files
  *    the cache has not merged — another process's or another store
  *    instance's writes, or a base compacted from inputs the cache
  *    never merged — are read by one bounded Spark job before the
  *    lookup answers, so read-your-writes holds exactly as it does
  *    distributed;
  *  - that refresh is INCREMENTAL: only files not yet merged are read,
  *    never the whole history;
  *  - memory is bounded by `maxEntries` LIVE RUNS (never snapshot
  *    history). A refresh collects at most `maxEntries + 1` rows; when
  *    it gets more, or when a refresh or write-through leaves more than
  *    `maxEntries` runs cached, the cache flips to permanent bypass —
  *    every lookup then reports [[ServingCache.Bypass]] and the caller
  *    serves the distributed path, the honest behavior when state
  *    outgrows one process (the reference shards state across
  *    instances at that point; SURVEY §2.5 records the remote-store
  *    RPC as architecturally n/a here because Spark sees all
  *    partitions).
  *
  * Thread-safe: lookups race-free via ConcurrentHashMap; refreshes and
  * write-through serialized by this cache's monitor. Runs are never
  * deleted from the store (no tombstones on the snapshot topic), so
  * merge is append/supersede only. A cache stays registered for its
  * store's lifetime.
  */
final class ServingCache(
    private[streaming] val store: CompactedStateStore,
    maxEntries: Int = ServingCache.DefaultMaxEntries) {

  import ServingCache._

  private val entries = new ConcurrentHashMap[String, Entry]()
  // files whose rows are already merged into `entries`; pruned to the
  // live footprint on refresh and compaction so it stays bounded by
  // the file count
  @volatile private var merged: Set[String] = Set.empty
  @volatile private var bypassed = false

  store.register(this)

  /** Cached live-run count (observability + spec assertions). */
  def size: Int = entries.size

  /** True once the live set exceeded `maxEntries` (sticky). */
  def isBypassed: Boolean = bypassed

  /** Point lookup: refresh against the store's current file set, then
    * answer from memory. [[Miss]] means the cache IS current and the
    * run is absent — the caller may still fall back to the distributed
    * path as the belt-and-braces contract. */
  def lookup(spark: SparkSession, wfRunId: String): Result = {
    refreshIfStale(spark)
    if (bypassed) Bypass
    else
      entries.get(wfRunId) match {
        case null => Miss
        case e => Hit(e.json, e.specName)
      }
  }

  private def refreshIfStale(spark: SparkSession): Unit = {
    if (bypassed) return
    // current (consumed-file shrink is content-neutral)
    if (store.readFootprint.forall(merged.contains)) return
    synchronized {
      if (bypassed) return
      val fresh = store.readFootprint.toSet
      val newFiles = (fresh -- merged).toSeq.sorted
      if (newFiles.isEmpty) return
      val rows = collectRuns(spark, newFiles)
      if (rows.length > maxEntries) bypass()
      else merge(rows, merged.intersect(fresh) ++ newFiles)
    }
  }

  /** Merge rows by max `seq`, then claim `nowMerged` — or bypass when
    * the merged live set outgrew the bound. Caller holds the monitor. */
  private def merge(rows: Seq[Row], nowMerged: Set[String]): Unit = {
    rows.foreach { case (id, seq, json, spec) =>
      entries.merge(id, Entry(seq, json, spec),
        (old, neu) => if (neu.seq > old.seq) neu else old)
    }
    if (entries.size > maxEntries) bypass() else merged = nowMerged
  }

  private def bypass(): Unit = {
    bypassed = true
    entries.clear()
    merged = Set.empty
  }

  /** Write-through of one append: `files` hold exactly `rows`. */
  private[streaming] def appended(files: Seq[String], rows: Seq[Row]): Unit =
    if (!bypassed) merge(rows, merged ++ files)

  /** Write-through of one compaction: `inputs` were folded into `base`. */
  private[streaming] def compacted(inputs: Seq[String], base: Seq[String]): Unit =
    if (!bypassed)
      merged = merged -- inputs ++ (if (inputs.forall(merged.contains)) base else Nil)

  /** Latest snapshot per run within exactly `files` (merge() resolves
    * across files already cached), in one job that brings at most
    * `maxEntries + 1` rows to the driver. The spec name comes from the
    * `wfSpecName` column every store file carries (the same column the
    * distributed route reads), so cached responses stay
    * byte-identical. */
  private def collectRuns(spark: SparkSession, files: Seq[String]): Seq[Row] = {
    import spark.implicits._
    StateTable
      .latest(spark.read.parquet(files: _*)
        .select("wfRunId", "seq", "json", "wfSpecName"), keepSeq = true)
      .limit(maxEntries + 1)
      .as[Row]
      .collect().toSeq
  }
}

object ServingCache {
  /** Default live-run bound: ~100k runs × a few KB of snapshot JSON ≈
    * hundreds of MB of driver heap — the point where a deployment
    * should shard serving instead of growing one cache. */
  val DefaultMaxEntries: Int = 100000

  private final case class Entry(seq: Long, json: String, specName: String)

  /** (wfRunId, seq, json, wfSpecName): one snapshot as the cache merges it. */
  private[streaming] type Row = (String, Long, String, String)

  /** Run `write` while holding every cache's monitor, then hand each
    * cache its notice before releasing it: a lookup that sees the
    * published files waits for the notice instead of refreshing. */
  private[streaming] def publish(caches: List[ServingCache])(
      write: => Unit)(notice: ServingCache => Unit): Unit =
    caches match {
      case Nil => write
      case c :: rest => c.synchronized {
        publish(rest)(write)(notice)
        notice(c)
      }
    }

  sealed trait Result
  final case class Hit(json: String, specName: String) extends Result
  /** Cache is current and the run is absent. */
  case object Miss extends Result
  /** Live-run count exceeded the bound; serve distributed. */
  case object Bypass extends Result
}
