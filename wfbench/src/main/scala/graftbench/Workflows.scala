package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** The scheduler workloads chain_sparse and chain_dense. Both drive
  * [[ChainLoop]]; they differ only in how many runs are in flight, which
  * decides whether the micro-batch's fixed cost or the per-key fold and
  * codec work dominates a batch. */
object Workflows {

  val Tasks = 50
  /** spark.sql.shuffle.partitions: the scheduler's state partitions */
  val Partitions = 4
  /** Upper bound on any wait for the program; a stall fails the run. */
  val StallMs = 120000L

  /** Bursts of `runs` runs offered at once, each timed from the offer
    * to the batch that sees its last run COMPLETED; bursts repeat until
    * `seconds` have passed (at least one). With 4 runs every batch holds
    * at most 4 keys (chain_sparse); with many, per-key work dominates
    * (chain_dense). A warm-up burst of a shorter spec runs first in the
    * same query and counts in setup: batch time keeps falling for about
    * 40 batches after the query starts. */
  def chain(spark: SparkSession, inputs: ListMap[String, Any],
      seconds: Double, workDir: String, trace: Option[Trace],
      result: Result): Unit = {
    val spec = Common.speedTestSpec(Tasks)
    val warm = Common.speedTestSpec(Common.int(inputs("warm_tasks")), "speed_test_warm")
    val runs = Common.int(inputs("runs"))
    val warmRuns = Common.int(inputs("warm_runs"))
    val runIds = {
      val ids = Common.strings(inputs("run_ids"))
      if (runs > Partitions) ids
      else ids.take(warmRuns) ++ Common.spreadOverPartitions(spark, ids.drop(warmRuns), runs, Partitions)
    }
    val loop = new ChainLoop(spark, Seq(spec, warm), s"$workDir/ckpt-chain", runIds)
    trace.foreach(_.runsInFlight = runs)
    loop.start()
    loop.launch(warm, warmRuns)
    loop.await("warm-up runs", StallMs)(loop.finals.size == warmRuns)
    result.setupDone()
    trace.foreach(_.begin(loop.batches.get))
    loop.recording = true
    val t0 = System.nanoTime()
    var bursts = 0
    do {
      val target = loop.finals.size + runs
      loop.launch(spec, runs)
      loop.await("a burst to complete", StallMs)(loop.finals.size == target)
      bursts += 1
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    val wallS = (loop.lastCompletionAt - t0) / 1e9
    loop.recording = false
    trace.foreach(_.end(loop.batches.get))
    result.values("tasks_per_s") = bursts.toDouble * runs * Tasks / wallS
    result.values("heap_after_gc_mb") = Common.heapAfterGcMb()
    loop.stop()
    finish(loop, runIds.take(loop.started.get), result)
    trace.foreach { t =>
      // the first timed runs (the warm-up runs use another spec)
      val ids = runIds.slice(warmRuns, warmRuns + math.min(runs, ReplayRuns))
      val r = Replay.run(spec, ids, ReplayPasses)
      t.replay = Some(r)
      result.check(ids.length.toLong, ids.filter(id => r.finals(id) != loop.finals.get(id))
        .map(id => s"replay of $id: final snapshot differs from the stream's"))
    }
  }

  /** Runs the traced replay drives through stateFn, and its passes (the
    * first warm the JIT). */
  val ReplayRuns = 40
  val ReplayPasses = 3

  private def finish(loop: ChainLoop, ids: Seq[String], result: Result): Unit = {
    result.samples("task_rtt_ms") = loop.batchRttMs.toSeq
    result.samples("keys_per_batch") = loop.batchKeys.map(_.toDouble).toSeq
    result.values("tasks_timed") = loop.tasksRecorded.toDouble
    result.check(ids.length.toLong, loop.error.toSeq ++ loop.checkFinals(ids))
  }
}
