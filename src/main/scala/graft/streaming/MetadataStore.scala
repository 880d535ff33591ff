package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.engine.{ExternalEventDef, ResourceCodec, SpecCodec, TaskDef,
  WFSpec}

/** Metadata-resource store (SURVEY.md §2.5 Q1/Q4/Q6/Q8 + §2.1 S4):
  * CRUD for WFSpec / TaskDef / ExternalEventDef documents.
  *
  * Storage mirrors the reference's compacted per-resource "ID topics"
  * (GETable.java:37-41,124-140): an append-only parquet log of
  * `(kind, id, name, json, deleted, seq)` where the latest record per
  * id wins and a delete is a tombstone. Reads compact at read time
  * (latest seq per id, cached beside the API server); at scale this
  * is a Delta MERGE instead.
  *
  * Writes are synchronous (parquet append completes before `post`
  * returns), which gives the read-your-writes guarantee the reference
  * implements with its offset-polling barrier
  * (APIStreamsContext.waitForProcessing:168-222, Q5).
  */
class MetadataStore(spark: SparkSession, rootDir: String) {
  import spark.implicits._
  import MetadataStore.{MetaRow, View}

  private val path = s"$rootDir/metadata_log"
  // The compaction cache's staleness probe walks the log with
  // java.io.File, which silently sees NOTHING for a non-local scheme
  // (hdfs://, s3a://) — the cache would pin Map.empty while the
  // log holds rows, a wrong-answer mode rather than an error. Reject
  // the construction instead; a distributed deployment fronts the
  // store with its own listing (or Delta), it doesn't get a silently
  // empty one.
  require(!rootDir.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"),
    s"MetadataStore requires a plain local-filesystem rootDir " +
      s"(got '$rootDir'): the compaction cache lists the log with " +
      "java.io.File, which resolves no URI scheme (not even file://) " +
      "and would silently serve an empty store")
  private val seq = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis())

  object Kind {
    val WFSpec = "wfSpec"
    val TaskDef = "taskDef"
    val ExternalEventDef = "externalEventDef"
  }

  private def append(kind: String, id: String, name: String, json: String,
      deleted: Boolean): Unit = {
    Seq((kind, id, name, json, deleted, seq.incrementAndGet()))
      .toDF("kind", "id", "name", "json", "deleted", "seq")
      .write.mode("append").parquet(path)
  }

  /** POST a WFSpec document: validate (WFSpec.validate parity —
    * entrypoints, edge endpoints, node-type checks, recursive variable
    * scoping) then persist. Throws SpecValidationError on bad specs,
    * mirroring the reference's 400 response (POSTApi.post:40-87). */
  def postWfSpec(json: String): WFSpec = {
    val spec = SpecCodec.decode(json) // validates
    append(Kind.WFSpec, spec.objectId, spec.name, json, deleted = false)
    spec
  }

  /** POST a TaskDef / ExternalEventDef (opaque JSON documents keyed by
    * name — the reference validates little beyond identity). */
  def postResource(kind: String, id: String, name: String, json: String): Unit =
    append(kind, id, name, json, deleted = false)

  /** POST a TaskDef wire document (TaskDefSchema shape): decode +
    * validate, then persist under id = name (TaskDef.getObjectId,
    * TaskDef.java:36). Returns the decoded resource. */
  def postTaskDef(json: String): TaskDef = {
    val td = ResourceCodec.decodeTaskDef(json)
    append(Kind.TaskDef, td.objectId, td.name, json, deleted = false)
    td
  }

  /** POST an ExternalEventDef wire document (ExternalEventDefSchema
    * shape), id = name (ExternalEventDef.java:14). */
  def postExternalEventDef(json: String): ExternalEventDef = {
    val ed = ResourceCodec.decodeExternalEventDef(json)
    append(Kind.ExternalEventDef, ed.objectId, ed.name, json, deleted = false)
    ed
  }

  /** DELETE = tombstone (the reference produces a null record to the ID
    * topic, GETable.sendNullRecord:134-140). */
  def delete(kind: String, id: String): Unit =
    append(kind, id, "", "", deleted = true)

  // Driver-side read-through compaction cache — the reference serves
  // every metadata lookup from its LOCAL Kafka Streams store
  // (microseconds, GETable.java:124-140); a Spark job per GET /{Type}
  // request (~130 ms measured, BASELINE.md serve rows) would make
  // metadata the latency floor of every route that resolves a spec.
  // Metadata is intrinsically tiny (resource DEFINITIONS, not run
  // state), so the whole compacted view fits beside the API server.
  // Staleness: re-validated against the log's file listing on every
  // read — parquet appends create a new file, so this instance's own
  // writes AND external writers are visible to the very next lookup
  // (the contract ServingCache keeps for files other writers add).
  // Decoded WFSpecs are memoised in the same view, so they are dropped
  // with it.
  @volatile private var view: View = null

  private def logFiles(): Set[String] = {
    val dir = new java.io.File(path)
    val listed = dir.listFiles()
    // listFiles() returns null BOTH for "no such directory" (a fresh
    // store — legitimately empty) and for an I/O/permission failure on
    // an EXISTING directory. Only the former may read as empty; the
    // latter must fail loudly or the cache would pin Map.empty while
    // the log has rows.
    if (listed == null && dir.exists())
      throw new IllegalStateException(
        s"MetadataStore: cannot list existing log directory $path — " +
          "refusing to serve from an unverifiable (possibly non-empty) log")
    Option(listed)
      .map(_.iterator.map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .getOrElse(Set.empty)
  }

  /** The compacted view of the log, rebuilt only when the log's file
    * set changed (one bounded Spark read per WRITE, never per read). */
  private def current(): View = {
    val files = logFiles()
    val v = view
    if (v != null && v.files == files) return v
    synchronized {
      val fresh = logFiles()
      if (view == null || view.files != fresh)
        view = new View(fresh,
          if (fresh.isEmpty) Map.empty
          else spark.read.parquet(path)
            .select($"kind", $"id", $"name", $"json", $"deleted", $"seq")
            .as[(String, String, String, String, Boolean, Long)].collect()
            .groupBy(r => (r._1, r._2))
            .flatMap { case (k, rs) =>
              val latest = rs.maxBy(_._6)
              if (latest._5) None // tombstone wins: id is gone
              else Some(k -> MetaRow(latest._1, latest._2, latest._3,
                latest._4, latest._6))
            })
      view
    }
  }

  /** Latest (kind, id) -> record; tombstoned ids are absent. */
  private def compacted(): Map[(String, String), MetaRow] = current().rows

  /** Q1: point lookup by id (served from the compacted cache). */
  def getById(kind: String, id: String): Option[String] =
    compacted().get((kind, id)).map(_.json)

  /** Q8: lookup by id, falling back to the latest record with that name
    * (LHDatabaseClient.getByNameOrId, LHDatabaseClient.java:22-45). */
  def getByNameOrId(kind: String, key: String): Option[String] =
    rowByNameOrId(compacted(), kind, key).map(_.json)

  /** Q8 for a WFSpec, decoded: the decode (with its validation) runs
    * once per spec per log file set, not once per request. */
  def wfSpec(key: String): Option[WFSpec] = {
    val v = current()
    rowByNameOrId(v.rows, Kind.WFSpec, key).map(v.spec)
  }

  private def rowByNameOrId(rows: Map[(String, String), MetaRow],
      kind: String, key: String): Option[MetaRow] =
    rows.get((kind, key)).orElse(
      rows.values.iterator.filter(r => r.kind == kind && r.name == key)
        .toSeq.sortBy(-_.seq).headOption)

  /** All ids with the given (kind, name) — the metadata alias route. */
  def idsByName(kind: String, name: String): Seq[String] =
    compacted().values.iterator
      .filter(r => r.kind == kind && r.name == name)
      .map(_.id).toSeq.sorted

  /** Q4: scan all ids of a resource type. */
  def getAllIds(kind: String): Seq[String] =
    compacted().keysIterator.collect { case (k, id) if k == kind => id }.toSeq

  /** Q6 deploy surface: the deployed-spec map handed to the multiplexed
    * streaming scheduler ([[Scheduler.apply]]). Deploying a WFSpec =
    * the next (re)start of the streaming query picks it up — one query
    * serves every spec, replacing the reference's scheduler-process-
    * per-WFSpec (WFSpec.deploy, WFSpec.java:263-272). */
  def deployedSpecs(): Map[String, WFSpec] = {
    val v = current()
    v.rows.values.collect { case r if r.kind == Kind.WFSpec =>
      val sp = v.spec(r)
      sp.name -> sp
    }.toMap
  }
}

object MetadataStore {
  /** One compacted metadata record: latest per (kind, id). */
  final case class MetaRow(
      kind: String, id: String, name: String, json: String, seq: Long)

  /** The compacted log as of one file set, with the WFSpecs decoded
    * from it so far; a new file set gets a new view, so a memoised
    * spec never outlives the record it was decoded from. */
  private final class View(
      val files: Set[String], val rows: Map[(String, String), MetaRow]) {
    private val specs =
      new java.util.concurrent.ConcurrentHashMap[String, WFSpec]()
    def spec(r: MetaRow): WFSpec =
      specs.computeIfAbsent(r.id, _ => SpecCodec.decode(r.json))
  }
}
