package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.CopyOnWriteArrayList
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Dirs

/** Bounded-read materialization of the WFRun snapshot stream — the
  * parquet analogue of the reference's RocksDB-compacted state store
  * (scheduler/SchedulerTopology.java:130-146, where Kafka Streams keeps
  * only the latest value per key and compacts the changelog).
  *
  * A plain append log of every snapshot makes [[StateTable.latest]]
  * window over the whole history — read cost grows with
  * (runs × snapshots-per-run), not with live state. This store fixes
  * that contract:
  *
  *  - [[append]] (called from foreachBatch by the scheduler's store
  *    sink, [[Scheduler.busStoreSink]] / [[Scheduler.kafkaStoreSink]])
  *    writes each batch into a private staging
  *    dir `_incoming-<uuid>` under the store, then moves its parquet
  *    files into `log/` — plain parquet files, deliberately NO
  *    `_spark_metadata` commit log, so compaction owns file lifecycle
  *    without corrupting a streaming-sink manifest. The move is what
  *    tells the store exactly which file names the batch published;
  *  - [[compact]] folds base ∪ unconsumed-log into a NEW VERSIONED
  *    base (`base_v<K+1>`, one row per run, latest by the scheduler's
  *    emit `seq`) and publishes it by atomically advancing a version
  *    pointer — never an in-place swap, so a reader that planned its
  *    scan against version K still finds every file;
  *  - files superseded by version K+1 (the K-1 base and the log files
  *    folded into K) are deleted one GENERATION later, giving in-flight
  *    readers a full compaction interval of grace — the same
  *    snapshot-isolation-plus-deferred-vacuum contract Delta/Iceberg
  *    implement, re-expressed over plain parquet;
  *  - [[read]] serves base ∪ log-minus-consumed through the same
  *    [[StateTable.latest]] fold, so answers are byte-identical to
  *    folding the full history while the files touched stay
  *    O(live runs + delta since last compaction).
  *
  * Write-through: a [[ServingCache]] registers itself with its store
  * when it is built. While one is registered (and not bypassed),
  * [[append]] collects the batch once, writes the files from the
  * collected rows (a foreachBatch frame is never run twice) and, after
  * the move and before returning, hands the cache the published file
  * names with their `(wfRunId, seq, json, wfSpecName)` rows. [[compact]]
  * tells the cache which files it folded (old base plus newly consumed
  * log) and which base files it published. Both hand-offs happen while
  * the cache's monitor is held across the publish, so no lookup sees a
  * published file the cache has not merged. Only this instance's own
  * writes are handed over; files another process or another instance
  * on the same directory writes reach the cache through its per-lookup
  * refresh. The registry is transient: a deserialized copy of the
  * store has no caches.
  *
  * Crash contract (at-least-once, idempotent): foreachBatch may replay
  * a batch after recovery, appending duplicate (wfRunId, seq) rows —
  * harmless, `latest` keeps one of the identical copies. A crash
  * inside [[append]] before the move leaves only an orphan staging dir
  * (never read); one during the move leaves part of the batch in
  * `log/`, which the replay completes. A crash anywhere inside
  * [[compact]] before the version-pointer move leaves the published
  * version untouched (orphan tmp/next-version dirs are re-created on
  * the next run); after the pointer move, deferred deletions simply
  * happen at the next compaction.
  */
final class CompactedStateStore(dir: String) extends Serializable {

  private def logDir: Path = Paths.get(dir, "log")
  private def baseDir(v: Long): Path = Paths.get(dir, s"base_v$v")
  private def versionFile: Path = Paths.get(dir, "_version")
  private def consumedFile(v: Long): Path = Paths.get(dir, s"_consumed_v$v")
  private def formatFile: Path = Paths.get(dir, "_format")

  @transient private lazy val caches = new CopyOnWriteArrayList[ServingCache]()

  /** Hand this store's own appends and compactions to `cache`. */
  private[streaming] def register(cache: ServingCache): Unit = caches.add(cache)

  private def listeningCaches: List[ServingCache] =
    caches.asScala.filterNot(_.isBypassed).toList

  /** On-disk format guard. Format 2 = enriched serving schema (no
    * `topic` column; `wfSpecName`/`status`/`aliases` materialized by
    * the scheduler). A log written before the enrichment change holds
    * raw-schema files; appending enriched files beside them would give
    * spark.read.parquet (no mergeSchema) a mixed-schema footprint that
    * resolves to whichever file it samples — a silent wrong-schema
    * read. So: a store directory that already has data but no (or a
    * different) `_format` marker is REJECTED, not read; a fresh store
    * stamps the marker on first touch. */
  private def ensureFormat(): Unit = this.synchronized {
    val existing =
      if (Files.exists(formatFile))
        Some(new String(Files.readAllBytes(formatFile),
          StandardCharsets.UTF_8).trim)
      else None
    existing match {
      case Some(f) if f == CompactedStateStore.FORMAT =>
      case Some(f) => throw new IllegalStateException(
        s"CompactedStateStore at $dir has on-disk format '$f' but this " +
          s"code writes '${CompactedStateStore.FORMAT}' — migrate " +
          "(read old store, append rows into a fresh one) instead of " +
          "mixing schemas in one log")
      case None =>
        val hasData = parquetFiles(logDir).nonEmpty ||
          Files.exists(versionFile)
        if (hasData) throw new IllegalStateException(
          s"CompactedStateStore at $dir holds pre-format-marker data — " +
            "its files predate the enriched serving schema (format " +
            s"'${CompactedStateStore.FORMAT}'); migrate it instead of " +
            "appending a second schema into the same log")
        Files.createDirectories(Paths.get(dir))
        writeAtomic(formatFile, CompactedStateStore.FORMAT)
    }
  }

  private def parquetFiles(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else Dirs.listDir(p)(
      _.filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted)

  /** Currently-published compaction version (0 = never compacted). */
  def version: Long =
    if (Files.exists(versionFile))
      new String(Files.readAllBytes(versionFile), StandardCharsets.UTF_8)
        .trim.toLong
    else 0L

  private def readLines(p: Path): Set[String] =
    if (Files.exists(p))
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).toSet
    else Set.empty

  private def writeAtomic(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append one micro-batch of snapshot rows to the log. The frame
    * must carry the serving columns the scheduler materializes
    * (`wfSpecName`, `status`, `aliases`), so no query ever decodes
    * a snapshot; a frame without them is rejected before anything is
    * written. The batch is written to a staging dir and its files
    * moved into `log/`; registered caches receive the batch before
    * this returns (class doc, Write-through). */
  def append(batch: DataFrame): Unit = {
    val missing =
      CompactedStateStore.ServingColumns.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"snapshot frame lacks the serving column(s) " +
      s"${missing.mkString(", ")}: append SchedulerOut snapshot rows")
    ensureFormat()
    val listening = listeningCaches
    val staging = Paths.get(dir, s"_incoming-${UUID.randomUUID()}")
    try {
      val rows =
        if (listening.isEmpty) {
          batch.write.parquet(staging.toString)
          Nil
        } else {
          val collected = batch.collect()
          batch.sparkSession
            .createDataFrame(java.util.Arrays.asList(collected: _*), batch.schema)
            .write.parquet(staging.toString)
          collected.toSeq.map(r => (r.getAs[String]("wfRunId"),
            r.getAs[Long]("seq"), r.getAs[String]("json"),
            r.getAs[String]("wfSpecName")))
        }
      val staged = parquetFiles(staging).map(Paths.get(_))
      val published = staged.map(f => logDir.resolve(f.getFileName))
      Files.createDirectories(logDir)
      ServingCache.publish(listening) {
        staged.zip(published).foreach { case (from, to) =>
          Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
        }
      }(_.appended(published.map(_.toString), rows))
    } finally Dirs.deleteRecursively(staging)
  }

  /** Files a [[read]] at the current version touches: the published
    * base plus log files not yet folded into it (read-cost
    * observability — tests assert this stays bounded). */
  def readFootprint: Seq[String] = {
    val v = version
    val consumed = readLines(consumedFile(v))
    parquetFiles(baseDir(v)) ++
      parquetFiles(logDir).filterNot(consumed.contains)
  }

  /** Fold base ∪ unconsumed-log into version v+1 and publish it.
    * Returns the number of log files folded in (0 = nothing to do). */
  def compact(spark: SparkSession): Long = this.synchronized {
    ensureFormat()
    val v = version
    // snapshot the input set BEFORE reading: appends that land during
    // the compaction keep their files and stay in the next delta
    val prevConsumed = readLines(consumedFile(v))
    val newlyConsumed =
      parquetFiles(logDir).filterNot(prevConsumed.contains)
    if (newlyConsumed.isEmpty) return 0L
    val baseFiles = parquetFiles(baseDir(v))

    val next = baseDir(v + 1)
    Dirs.deleteRecursively(next)
    StateTable.latest(
      spark.read.parquet(newlyConsumed ++ baseFiles: _*), keepSeq = true)
      // one row per run: live state is small relative to history, and
      // a single file per compaction keeps the read file count O(1)
      // (a cluster deployment would coalesce to size-targeted files)
      .coalesce(1)
      .write.mode("overwrite").parquet(next.toString)

    val newBase = parquetFiles(next)
    // publish v+1: manifest first, then the version pointer (readers
    // resolve the pointer before the manifest, so they never see a
    // version without its manifest)
    ServingCache.publish(listeningCaches) {
      writeAtomic(consumedFile(v + 1),
        (prevConsumed ++ newlyConsumed).mkString("\n"))
      writeAtomic(versionFile, (v + 1).toString)
    }(_.compacted(baseFiles ++ newlyConsumed, newBase))

    // deferred vacuum: delete what version v superseded — in-flight
    // readers of v planned against v's files, which all still exist
    Dirs.deleteRecursively(baseDir(v - 1))
    prevConsumed.foreach(f => Files.deleteIfExists(Paths.get(f)))
    Files.deleteIfExists(consumedFile(v - 1))
    newlyConsumed.length.toLong
  }

  /** Latest snapshot per run over base ∪ unconsumed log — same answers
    * as [[StateTable.latest]] over the full history, reading only
    * compacted state + delta. */
  def read(spark: SparkSession): DataFrame = {
    ensureFormat()
    val files = readFootprint
    require(files.nonEmpty, s"CompactedStateStore at $dir is empty")
    StateTable.latest(spark.read.parquet(files: _*))
  }
}

object CompactedStateStore {

  /** On-disk format id stamped into `_format` — bump when the stored
    * row schema changes incompatibly (see [[CompactedStateStore#append]]). */
  val FORMAT = "graft-state-v2-enriched"

  /** Columns every stored frame carries beside `wfRunId`/`seq`/`json`:
    * the spec name and status, and the columnar `aliases` map that
    * alias search filters on. [[SchedulerOut]] rows have them. */
  private val ServingColumns = Seq("wfSpecName", "status", "aliases")
}
