package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint recovery for the ANALYTICS streaming family: the
  * scheduler's recovery is covered by graft.streaming.RecoverySpec;
  * this spec does the same kill-and-resume to a StreamBatch-shaped
  * aggregation — a q47-style complete-mode upsert view over a
  * multi-file orders feed, drained file-by-file, KILLED after the
  * first batches, then resumed from the SAME checkpoint. The resumed
  * query must (a) not re-admit already-committed files and (b) finish
  * with aggregation state bit-identical to an uninterrupted drain —
  * which is what makes a 24/7 deployment's restarts invisible.
  */
class StreamCheckpointRecoverySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("complete-mode upsert view survives a mid-drain kill + resume") {
    import spark.implicits._
    // orders as 8 part files so maxFilesPerTrigger=1 → 8 micro-batches
    val root = graft.util.Dirs.scratch("graft-ckpt-rec").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(8).write.parquet(s"$root/orders.parquet")
    val schema = spark.read.parquet(s"$root/orders.parquet").schema

    def latestFrame() =
      graft.sources.Tables
        .tableReadStream(spark, root, "orders", schema)
        .groupBy($"o_custkey".as("key"))
        .agg(max_by(
          struct($"o_orderkey", $"o_orderpriority", $"o_totalprice"),
          struct($"o_orderdate", $"o_orderkey")).as("v"))
        .select($"key", $"v.o_orderkey".as("last_orderkey"))

    val ckpt = s"$root/ckpt"
    val out = s"$root/out"
    val batchesSeen = new java.util.concurrent.atomic.AtomicInteger

    def run(throttled: Boolean, killAfter: Int): Unit = {
      if (throttled) spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
      try {
        val q = latestFrame().writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            batchesSeen.incrementAndGet()
            b.write.mode("overwrite").parquet(s"$out/batch_$id")
            if (batchesSeen.get() == killAfter)
              throw new RuntimeException("injected mid-drain failure")
          }
          .start()
        try q.awaitTermination()
        catch { case _: Throwable => () } // the injected kill
      } finally
        if (throttled) spark.conf.unset("graft.stream.maxFilesPerTrigger")
    }

    // phase 1: file-by-file drain, killed after 3 batches
    run(throttled = true, killAfter = 3)
    val afterKill = batchesSeen.get()
    assert(afterKill == 3, s"kill not injected where expected: $afterKill")

    // phase 2: resume from the same checkpoint, unthrottled
    run(throttled = false, killAfter = Int.MaxValue)
    val resumedBatches = batchesSeen.get() - afterKill
    assert(resumedBatches >= 1,
      "resume must process the files the killed run never committed")
    assert(resumedBatches < 8,
      s"resume re-admitted already-committed files ($resumedBatches)")

    // the resumed final state == an uninterrupted single drain
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch_"))
      .sortBy(_.getName.stripPrefix("batch_").toLong)
    val got = spark.read.parquet(batchDirs.last.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = spark.read.parquet(s"$root/orders.parquet")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"o_custkey")
          .orderBy($"o_orderdate".desc, $"o_orderkey".desc)))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect,
      "post-recovery aggregation state diverged from batch truth")
  }

  test("analytics streaming queries are state-provider agnostic (RocksDB)") {
    // the scheduler's RocksDB path is covered by RocksDbStateSpec;
    // this pins the same for the StreamBatch family: identical answers
    // under the RocksDB provider (the 100 TB state backend) and the
    // default HDFS-backed one
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider"
    val dir = "/root/testdata/sf0.001"
    def collect(): Seq[String] =
      StreamBatch.streamingScd1Latest(spark, dir).collect()
        .map(_.toString).toSeq.sorted
    val default = collect()
    spark.conf.set(conf, rocks)
    try {
      val rocksOut = collect()
      assert(rocksOut == default, "RocksDB state store changed answers")
      assert(rocksOut.nonEmpty)
    } finally spark.conf.unset(conf)
  }
}
