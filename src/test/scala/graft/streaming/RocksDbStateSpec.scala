package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

import graft.engine._
import graft.engine.SpecBuilders._

/** The scheduler's large-cardinality state claims rest on
  * `RocksDBStateStoreProvider` (SURVEY §4 maps the reference's RocksDB
  * stores to it), but the other streaming suites run on the in-memory
  * HDFS-backed provider. This suite flips the provider and proves the
  * production path end to end: per-run state written under RocksDB
  * survives a query restart from the checkpoint (an EXTERNAL_EVENT
  * wait spans the restart), and the progress metrics confirm RocksDB
  * actually served the state store.
  */
class RocksDbStateSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
  private val ROCKSDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // EXTERNAL_EVENT with a generous timeout: the run parks in state
  // waiting for the event — remembering that across a restart is
  // exactly what the state store is for. No task nodes, so no worker
  // loopback is needed.
  private val spec = wfSpec("rocksdb_wf", "main",
    thread("main",
      Map("got" -> WFRunVariableDef(VarType.STRING)),
      nodes = Seq(
        mutate(Node(name = "n0", nodeType = NodeType.EXTERNAL_EVENT,
          externalEventDefName = Some("the-event"),
          timeoutSeconds = Some(lit(600))),
          "got" -> mut(Mutations.Op.ASSIGN))),
      edges = Nil))

  test("run state survives restart under RocksDBStateStoreProvider") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val prev = spark.conf.getOption(PROVIDER_CONF)
    spark.conf.set(PROVIDER_CONF, ROCKSDB)
    val checkpoint =
      graft.util.Dirs.scratch("graft-rocks-ckpt").toString
    val input = MemoryStream[WFEvent]
    val snapshots = TrieMap.empty[Long, (String, String)]
    val seq = new java.util.concurrent.atomic.AtomicLong()
    def now() = System.currentTimeMillis()

    def startQuery() = {
      val outputs = Scheduler(input.toDS(), Map(spec.name -> spec))
      outputs.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[SchedulerOut], _: Long) =>
          batch.collect().foreach { r =>
            if (r.kind == SchedulerOut.SNAPSHOT)
              snapshots.put(seq.incrementAndGet(), (r.status, r.json))
          }
        }
        .start()
    }

    try {
      val q1 = startQuery()
      input.addData(WFEvent(spec.objectId, spec.name, "rocks-run-1", now(), 0,
        WFEventType.WF_RUN_STARTED,
        EventCodec.encodeRunRequest(WFRunRequest(
          ListMap.empty, spec.objectId, Some("rocks-run-1")))))

      val deadline1 = now() + 20000
      while (snapshots.isEmpty && now() < deadline1) Thread.sleep(100)
      assert(snapshots.nonEmpty, "run never produced a snapshot")
      assert(snapshots.values.forall(_._1 == Status.RUNNING))

      // the provider must actually be RocksDB, not silently defaulted:
      // rocksdb* custom metrics appear on batches that touched state
      // (empty batches may omit them, so scan the recent history)
      def rocksMetrics(): Seq[String] = q1.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap(op => scala.jdk.CollectionConverters
          .MapHasAsScala(op.customMetrics).asScala.keys)
        .filter(_.toLowerCase.contains("rocksdb"))
      val deadlineM = now() + 10000
      while (rocksMetrics().isEmpty && now() < deadlineM) Thread.sleep(100)
      assert(rocksMetrics().nonEmpty,
        "no rocksdb state metrics in any recent progress entry")
      q1.stop()

      // second incarnation: the pending external-event wait must be
      // recovered from RocksDB via the checkpoint
      val q2 = startQuery()
      val t = now()
      input.addData(WFEvent(spec.objectId, spec.name, "rocks-run-1", t, -1,
        WFEventType.EXTERNAL_EVENT,
        EventCodec.encodeExternalEvent(
          ExternalEventPayload("the-event", "the-event", "hello-rocks", t))))

      val deadline2 = now() + 30000
      var done = false
      while (!done && now() < deadline2) {
        Thread.sleep(150)
        done = snapshots.values.exists(_._1 == Status.COMPLETED)
      }
      q2.stop()
      assert(done, s"run did not complete after restart; " +
        s"statuses=${snapshots.values.map(_._1).toVector}")

      val finalState = StateCodec.decode(snapshots.toVector.maxBy(_._1)._2._2)
      assert(finalState.threadRuns(0).variables("got") == "hello-rocks")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(PROVIDER_CONF, p)
        case None => spark.conf.unset(PROVIDER_CONF)
      }
    }
  }
}
