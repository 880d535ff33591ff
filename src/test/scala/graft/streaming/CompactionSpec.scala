package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

import graft.engine._
import graft.engine.SpecBuilders._
import graft.streaming.bus.GraftBus

/** [[CompactedStateStore]] contract: query answers are identical to
  * folding the full snapshot history, while the files a read touches
  * stay proportional to live state + delta since the last compaction —
  * the reference's RocksDB-compaction guarantee re-expressed over
  * parquet. Also covers crash-shaped edge cases (duplicate batch
  * replay, appends racing a compaction) and the end-to-end streaming
  * path with Q1/Q2 served from the compacted table.
  */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def snap(run: String, seq: Long, status: String): SchedulerOut =
    SchedulerOut(SchedulerOut.SNAPSHOT, run, "spec", "", -1, -1, status,
      s"""{"run":"$run","seq":$seq}""", seq,
      Map("who" -> Seq(s"alias-$run")))

  /** One echo task on the `who` variable: a TSR and a snapshot per run. */
  private val spec = wfSpec("compact_stream", "main",
    thread("main",
      Map("who" -> WFRunVariableDef(VarType.STRING)),
      nodes = Seq(task("n0", "echo_task", "thing" -> varRef("who"))),
      edges = Nil))

  private def rows(store: CompactedStateStore): Set[(String, String)] =
    store.read(spark).collect()
      .map(r => (r.getAs[String]("wfRunId"), r.getAs[String]("status")))
      .toSet

  test("compacted reads match full history; footprint stays bounded") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft-compact").toString
    val store = new CompactedStateStore(dir)

    store.append(Seq(
      snap("r1", 1, "RUNNING"), snap("r2", 1, "RUNNING")).toDS().toDF())
    store.append(Seq(
      snap("r1", 2, "COMPLETED"), snap("r3", 1, "RUNNING")).toDS().toDF())
    store.append(Seq(snap("r3", 2, "HALTED")).toDS().toDF())

    val expected = Set(
      ("r1", "COMPLETED"), ("r2", "RUNNING"), ("r3", "HALTED"))
    assert(rows(store) == expected)

    val footprintBefore = store.readFootprint.size
    assert(footprintBefore >= 3, "each append must add at least one file")

    assert(store.compact(spark) >= 3L)
    // base coalesces to one file; the log was truncated
    assert(store.readFootprint.size == 1,
      s"footprint after compact: ${store.readFootprint}")
    assert(rows(store) == expected, "compaction must not change answers")

    // deltas after compaction are visible (base ∪ log)
    store.append(Seq(snap("r2", 2, "COMPLETED")).toDS().toDF())
    assert(rows(store) == Set(
      ("r1", "COMPLETED"), ("r2", "COMPLETED"), ("r3", "HALTED")))
    assert(store.readFootprint.size == 2)

    // second compaction folds the delta into base
    store.compact(spark)
    assert(store.readFootprint.size == 1)
    assert(rows(store).contains(("r2", "COMPLETED")))

    // at-least-once replay: a duplicated batch append is idempotent
    store.append(Seq(snap("r2", 2, "COMPLETED")).toDS().toDF())
    store.append(Seq(snap("r2", 2, "COMPLETED")).toDS().toDF())
    assert(rows(store).count(_._1 == "r2") == 1)
    store.compact(spark)
    assert(store.read(spark).filter("wfRunId = 'r2'").count() == 1)
  }

  test("compaction consumes only files listed before it started") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft-compact-race").toString
    val store = new CompactedStateStore(dir)
    store.append(Seq(snap("r1", 1, "RUNNING")).toDS().toDF())
    // simulate an append landing during the compaction read: files are
    // snapshotted first, so anything newer must survive as delta
    store.compact(spark)
    store.append(Seq(snap("r1", 2, "COMPLETED")).toDS().toDF())
    assert(rows(store) == Set(("r1", "COMPLETED")))
    assert(store.readFootprint.size == 2, "delta file must survive")
  }

  test("streaming: scheduler snapshots served via the compacted table (Q1/Q2)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = graft.util.Dirs.scratch("graft-compact-stream").toString
    val ckpt = graft.util.Dirs.scratch("graft-compact-ckpt").toString
    val busRoot = graft.util.Dirs.scratch("graft-compact-bus").toString
    val store = new CompactedStateStore(dir)

    val input = MemoryStream[WFEvent]
    val outputs = Scheduler(input.toDS(), Map(spec.name -> spec))
    val query = Scheduler.busStoreSink(outputs, busRoot, store, ckpt,
      compactEvery = 1L)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

    def startRun(id: String, who: String): Unit =
      input.addData(WFEvent(spec.objectId, spec.name, id,
        System.currentTimeMillis(), 0, WFEventType.WF_RUN_STARTED,
        EventCodec.encodeRunRequest(WFRunRequest(
          ListMap("who" -> who), spec.objectId, Some(id)))))

    def awaitRuns(n: Int, timeoutMs: Long = 30000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        Thread.sleep(150)
        ok = try store.read(spark).count() == n.toLong
        catch { case _: IllegalArgumentException => false } // store empty
      }
      assert(ok, s"store never reached $n runs")
    }

    try {
      startRun("c-run-1", "Obi-Wan")
      awaitRuns(1)
      startRun("c-run-2", "Grievous")
      awaitRuns(2)

      // Q1 point lookup + Q2 variable search through the REAL columnar
      // path, served from base ∪ delta
      val latest = store.read(spark)
      assert(StateTable.byId(latest, "c-run-1").count() == 1)
      val hit = StateTable.searchByVariable(latest, "who", "Obi-Wan")
        .collect().map(_.getString(0)).toSeq
      assert(hit == Seq("c-run-1"))

      // with compactEvery=1 the log cannot accumulate unboundedly:
      // after a final inline compaction the footprint is exactly base
      store.compact(spark)
      assert(store.readFootprint.size == 1,
        s"footprint: ${store.readFootprint}")
      assert(StateTable.searchByVariable(store.read(spark), "who", "Grievous")
        .collect().map(_.getString(0)).toSeq == Seq("c-run-2"))

      // the FULL API routes served from this scheduler-written store:
      // the frame carries the scheduler's wfSpecName and columnar
      // `aliases` columns, so point lookup resolves its spec without a
      // snapshot decode and alias search takes the columnar branch
      // (never the per-row JSON fallback)
      assert(store.read(spark).columns.contains("aliases"),
        "scheduler-written store must carry the columnar aliases map")
      val metaRoot = graft.util.Dirs.scratch("graft-compact-meta").toString
      val meta = new MetadataStore(spark, metaRoot)
      meta.postWfSpec(SpecCodec.encode(spec))
      val api = new GraftApi(spark, meta, busRoot, Some(store))
      assert(api.statusOf(api.getWfRun("c-run-1")) == api.RpcStatus.OK)
      assert(LHJson.parse(api.getWfRunAlias("who", "Grievous"))
        .asInstanceOf[ListMap[String, Any]]("result") == Vector("c-run-2"))
      assert(api.statusOf(api.getWfRun("ghost"))
        == api.RpcStatus.OBJECT_NOT_FOUND)

      // the TSRs went to their task topic on the bus, one per run
      assert(GraftBus.partitions(busRoot, "echo_task")
        .map(GraftBus.nextOffset(busRoot, "echo_task", _)).sum == 2L)
    } finally query.stop()
  }

  test("a frame without the serving columns is rejected before it is written") {
    import spark.implicits._
    val (st, _) = Simulator.run(spec, Map("who" -> "Obi-Wan"), runId = "raw-1")
    val dir = graft.util.Dirs.scratch("graft-compact-raw").toString
    val store = new CompactedStateStore(dir)
    // the old `wfRunState__*` topic record shape: a real snapshot, but no
    // serving columns
    val raw = Seq(("raw-1", StateCodec.encode(st), 0L,
      s"wfRunState__${spec.name}"))
      .toDF("wfRunId", "json", "seq", "topic")
    val e = intercept[IllegalArgumentException](store.append(raw))
    Seq("wfSpecName", "status", "aliases").foreach(c =>
      assert(e.getMessage.contains(c), s"message names $c: ${e.getMessage}"))
    assert(!Files.exists(Paths.get(dir, "log")), "nothing reaches log/")
    assert(store.readFootprint.isEmpty)
  }
}
