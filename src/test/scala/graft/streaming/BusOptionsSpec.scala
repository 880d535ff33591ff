package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.bus.GraftBus

/** Kafka-option parity for the graft-bus source — the surface VERDICT
  * r4 flagged as the residual untestable risk (no broker in this
  * sandbox): `startingOffsets` (earliest / latest / per-partition JSON
  * with Kafka's -2/-1 sentinels) and `subscribePattern` across
  * multiple topics. Semantics pinned against the Kafka source docs:
  * startingOffsets applies only to a query's FIRST start; checkpoint
  * restarts resume from committed offsets regardless (covered by
  * BusSchedulerSpec's resume test). Also the batch write the store
  * sink sends TSRs through: rows fan out by their `topic` column.
  */
class BusOptionsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def drainOnce(
      root: String, extra: Map[String, String]): Seq[(String, String)] = {
    import spark.implicits._
    var reader = spark.readStream.format("graft-bus").option("path", root)
    extra.foreach { case (k, v) => reader = reader.option(k, v) }
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q = reader.load()
      .selectExpr("topic", "CAST(value AS STRING) AS v")
      .as[(String, String)]
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, String)],
          _: Long) =>
        b.collect().foreach(seen.add)
      }
      .start()
    assert(q.awaitTermination(30000L), "drain timed out")
    q.stop()
    seen.toArray(Array.empty[(String, String)]).toSeq
  }

  test("startingOffsets=latest skips the backlog; earliest reads it") {
    val root = graft.util.Dirs.scratch("graft-bus-opts").toString
    val topic = "opts__t1"
    GraftBus.send(root, topic, "k", "old1")
    GraftBus.send(root, topic, "k", "old2")

    assert(drainOnce(root, Map("subscribe" -> topic))
      .map(_._2).sorted == Seq("old1", "old2"), "default = earliest")
    assert(drainOnce(root,
      Map("subscribe" -> topic, "startingOffsets" -> "earliest"))
      .map(_._2).sorted == Seq("old1", "old2"))
    // latest at query start: the backlog is invisible (AvailableNow
    // drains up to the start snapshot, so the result is empty)
    assert(drainOnce(root,
      Map("subscribe" -> topic, "startingOffsets" -> "latest")).isEmpty)
  }

  test("startingOffsets JSON map with -2/-1 sentinels starts mid-stream") {
    val root = graft.util.Dirs.scratch("graft-bus-opts").toString
    val t1 = "opts__j1"
    val t2 = "opts__j2"
    (1 to 4).foreach(i => GraftBus.send(root, t1, "k", s"a$i"))
    (1 to 2).foreach(i => GraftBus.send(root, t2, "k", s"b$i"))

    // t1 from offset 2 (skip a1/a2); t2 partition 0 from earliest (-2)
    val got = drainOnce(root, Map(
      "subscribePattern" -> "opts__j.*",
      "startingOffsets" -> s"""{"$t1": {"0": 2}, "$t2": {"0": -2}}"""))
    assert(got.map(_._2).sorted == Seq("a3", "a4", "b1", "b2"), got)

    // -1 = latest for that partition: t1 contributes nothing
    val got2 = drainOnce(root, Map(
      "subscribePattern" -> "opts__j.*",
      "startingOffsets" -> s"""{"$t1": {"0": -1}, "$t2": {"0": 0}}"""))
    assert(got2.map(_._2).sorted == Seq("b1", "b2"), got2)
  }

  test("subscribePattern fans in multiple topics; subscribe list exact") {
    val root = graft.util.Dirs.scratch("graft-bus-opts").toString
    GraftBus.send(root, "pat__x", "k", "vx")
    GraftBus.send(root, "pat__y", "k", "vy")
    GraftBus.send(root, "other", "k", "vo")

    val byPattern = drainOnce(root, Map("subscribePattern" -> "pat__.*"))
    assert(byPattern.map(_._2).sorted == Seq("vx", "vy"), byPattern)

    val byList = drainOnce(root, Map("subscribe" -> "pat__x,other"))
    assert(byList.map(_._2).sorted == Seq("vo", "vx"), byList)
  }

  test("startingOffsets JSON map must cover every matched topic-partition") {
    // Kafka fails when specific offsets don't cover all subscribed
    // TopicPartitions; an omitted topic must NOT silently fall back to
    // earliest (that would make a typo'd topic name a silent no-op)
    val root = graft.util.Dirs.scratch("graft-bus-opts").toString
    val t1 = "cov__a"
    val t2 = "cov__b"
    GraftBus.send(root, t1, "k", "v1")
    GraftBus.send(root, t2, "k", "v2")

    val missing = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainOnce(root, Map(
        "subscribePattern" -> "cov__.*",
        "startingOffsets" -> s"""{"$t1": {"0": 0}}"""))
    }
    def msg(e: Throwable) =
      (Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        ++ Iterator.single("")).mkString(" | ")
    assert(msg(missing).contains("must cover all matched topic-partitions"),
      msg(missing))

    val typo = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainOnce(root, Map(
        "subscribe" -> t1,
        "startingOffsets" -> s"""{"cov__misspelt": {"0": 0}, "$t1": {"0": 0}}"""))
    }
    assert(msg(typo).contains("not matched by this source"), msg(typo))
  }

  test("invalid startingOffsets is rejected, not silently earliest") {
    val root = graft.util.Dirs.scratch("graft-bus-opts").toString
    GraftBus.send(root, "bad__t", "k", "v")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainOnce(root,
        Map("subscribe" -> "bad__t", "startingOffsets" -> "sometimes"))
    }
    assert(ex.getMessage.contains("startingOffsets")
      || Option(ex.getCause).exists(_.getMessage.contains("startingOffsets")))
  }

  test("batch write fans rows out by their topic column") {
    import spark.implicits._
    val root = graft.util.Dirs.scratch("graft-bus-write").toString
    Seq(("wr__a", "k1", "a1"), ("wr__b", "k2", "b1"), ("wr__a", "k3", "a2"))
      .toDF("topic", "key", "value")
      .write.format("graft-bus").option("path", root).mode("append").save()
    def records(topic: String) = GraftBus.partitions(root, topic)
      .flatMap(p => GraftBus.read(root, topic, p, 0,
        GraftBus.nextOffset(root, topic, p)))
      .map(r => (r.key, r.value)).sorted
    assert(GraftBus.topics(root) == Seq("wr__a", "wr__b"))
    assert(records("wr__a") == Seq(("k1", "a1"), ("k3", "a2")))
    assert(records("wr__b") == Seq(("k2", "b1")))

    val noValue = intercept[Exception] {
      Seq(("wr__a", "k")).toDF("topic", "key")
        .write.format("graft-bus").option("path", root).mode("append").save()
    }
    val msg = Iterator.iterate[Throwable](noValue)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("`value` column"), msg)
    assert(records("wr__a").length == 2, "a rejected frame writes nothing")
  }

  test("endingOffsets on a streaming query is rejected (batch-only)") {
    val root = graft.util.Dirs.scratch("graft-bus-opts").toString
    GraftBus.send(root, "eo__t", "k", "v")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainOnce(root, Map("subscribe" -> "eo__t",
        "endingOffsets" -> """{"eo__t":{"0":1}}"""))
    }
    assert(ex.getMessage.contains("endingOffsets")
      || Option(ex.getCause).exists(_.getMessage.contains("endingOffsets")))
  }
}
