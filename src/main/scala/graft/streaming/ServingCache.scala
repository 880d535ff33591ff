package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Driver-side read-through cache over a [[CompactedStateStore]]'s
  * published base∪delta — the piece that closes the serving-latency
  * gap between a distributed point lookup (~150–300 ms of Spark
  * job-launch overhead per request, BASELINE.md serving table) and the
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
  *    (GraftApiSpec asserts it): entries hold the exact snapshot
  *    `json` the store holds, latest-by-`seq` — the same fold
  *    [[StateTable.latest]] applies;
  *  - staleness is checked on EVERY lookup against the store's
  *    published file set ([[CompactedStateStore.readFootprint]]: one
  *    version-pointer read + directory listing, microseconds) — a new
  *    log append or compaction is visible to the very next request,
  *    so read-your-writes holds exactly as it does distributed;
  *  - refresh is INCREMENTAL: only files not yet merged are read (one
  *    bounded Spark job per new batch/compaction, amortized across
  *    requests), never the whole history;
  *  - memory is bounded by `maxEntries` LIVE RUNS (never snapshot
  *    history). A store whose live-run count exceeds the bound flips
  *    the cache to permanent bypass — every lookup then reports
  *    [[ServingCache.Bypass]] and the caller serves the distributed
  *    path, the honest behavior when state outgrows one process (the
  *    reference shards state across instances at that point;
  *    SURVEY §2.5 records the remote-store RPC as architecturally
  *    n/a here because Spark sees all partitions).
  *
  * Thread-safe: lookups race-free via ConcurrentHashMap; refreshes
  * serialized by a monitor. Runs are never deleted from the store (no
  * tombstones on the snapshot topic), so merge is append/supersede
  * only.
  */
final class ServingCache(
    private[streaming] val store: CompactedStateStore,
    maxEntries: Int = ServingCache.DefaultMaxEntries) {

  import ServingCache._

  private val entries = new ConcurrentHashMap[String, Entry]()
  // files whose rows are already merged into `entries`; pruned to the
  // live footprint on refresh so it stays bounded by the file count
  @volatile private var merged: Set[String] = Set.empty
  @volatile private var bypassed = false

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
    val fp = store.readFootprint.toSet
    if (fp.subsetOf(merged)) return // current (consumed-file shrink is content-neutral)
    synchronized {
      if (bypassed) return
      val fresh = store.readFootprint.toSet
      val newFiles = (fresh -- merged).toSeq.sorted
      if (newFiles.isEmpty) return
      // oversize guard BEFORE any driver materialization: count
      // distinct runs in the unseen files (one aggregate job, no
      // collect) so a 10M-run base can never be pulled onto the driver
      val df = spark.read.parquet(newFiles: _*)
      val distinctNew = df.select("wfRunId").distinct().count()
      if (distinctNew + entries.size > maxEntries) {
        bypassed = true
        entries.clear()
        merged = Set.empty
        return
      }
      collectRuns(spark, newFiles).foreach {
        case (id, seq, json, spec) =>
          entries.merge(id, Entry(seq, json, spec),
            (old, neu) => if (neu.seq > old.seq) neu else old)
      }
      merged = merged.intersect(fresh) ++ newFiles
    }
  }

  /** Read the latest snapshot per run from exactly `files`, with the
    * spec name from the `wfSpecName` column every store file carries
    * (the same column the distributed route reads), so cached responses
    * stay byte-identical. */
  private def collectRuns(spark: SparkSession, files: Seq[String])
      : Seq[(String, Long, String, String)] = {
    import spark.implicits._
    // latest-per-run within the new files; merge() resolves across
    // files already cached
    StateTable
      .latest(spark.read.parquet(files: _*)
        .select("wfRunId", "seq", "json", "wfSpecName"), keepSeq = true)
      .as[(String, Long, String, String)]
      .collect().toSeq
  }
}

object ServingCache {
  /** Default live-run bound: ~100k runs × a few KB of snapshot JSON ≈
    * hundreds of MB of driver heap — the point where a deployment
    * should shard serving instead of growing one cache. */
  val DefaultMaxEntries: Int = 100000

  private final case class Entry(seq: Long, json: String, specName: String)

  sealed trait Result
  final case class Hit(json: String, specName: String) extends Result
  /** Cache is current and the run is absent. */
  case object Miss extends Result
  /** Live-run count exceeded the bound; serve distributed. */
  case object Bypass extends Result
}
