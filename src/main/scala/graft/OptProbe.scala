package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.util.Sessions

/** Optimization probe (round 19): time a query and attribute its wall
  * to STAGES — per completed stage, the wall between submission and
  * completion, summed executor task time, task count, and the stage
  * name (which names the operators at the shuffle boundary). This is
  * the no-UI stand-in for the Stages tab the optimization guide (§1.1,
  * §7.1) starts from. Each key's `explain("formatted")` plan (pushed
  * filters, pruned schemas, broadcast joins, whole-stage codegen
  * spans) is printed before its stage table.
  *
  * Usage: runMain graft.OptProbe <sfDir> <query> [query ...]
  * Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS as Bench.
  * Each query runs untimed three times (sf0.001 then twice at sfDir:
  * plan/codegen and JIT warm, like Bench) and once timed at sfDir with
  * stage capture; every run first applies the key's
  * [[SparkEntry.benchPreRep]] reset, as Bench's timed reps do.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Sessions.create()
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Int)]
    // per-task run times and shuffle-read bytes per stage (r20, guide
    // §2.5 skew triage: max/median task spread is the skew signal the
    // Stages tab would show — needed for the decade-scale LSH banded
    // self-join evidence, VERDICT r19 item 6)
    val taskTimes = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    val listener = new SparkListener {
      override def onTaskEnd(
          ev: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (ev.taskMetrics != null) taskTimes.synchronized {
          taskTimes.getOrElseUpdate(ev.stageId,
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((ev.taskMetrics.executorRunTime,
              Option(ev.taskMetrics.shuffleReadMetrics)
                .map(_.totalBytesRead).getOrElse(0L)))
        }
      override def onStageCompleted(
          ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val wall = (for {
          c <- si.completionTime; s <- si.submissionTime
        } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId,
            si.name.replaceAll("\\s+", " ").take(90),
            si.taskMetrics.executorRunTime, wall, si.numTasks))
        }
      }
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val preRep = SparkEntry.benchPreRep.getOrElse(n, () => ())
      // warm the plan AND the JIT: tiny-SF warmup compiles codegen
      // classes but leaves hot loops un-C2'd; two untimed reps at the
      // probe SF bring the timed rep to Bench's min-of-N steady state
      (Seq("/root/testdata/sf0.001", sfDir, sfDir)).foreach { d =>
        preRep()
        try BenchExec.materialize(fn(spark, d))
        catch { case e: Throwable =>
          System.err.println(s"[probe] warmup $n: ${e.getMessage}") }
      }
      println(s"\n========== $n plan ==========")
      fn(spark, sfDir).explain("formatted")
      preRep()
      spark.sparkContext.addSparkListener(listener)
      stages.synchronized(stages.clear())
      taskTimes.synchronized(taskTimes.clear())
      val t0 = System.nanoTime()
      val rows = BenchExec.materialize(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      // crude listener-bus drain before snapshotting (the bus is
      // private API; stage-completed events land within ms)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $n rows=$rows sec=$sec%.3f =====")
      val snap = stages.synchronized(stages.toSeq)
      println(f"stages=${snap.size} wallSum=${snap.map(_._4).sum / 1e3}%.2fs " +
        f"taskTimeSum=${snap.map(_._3).sum / 1e3}%.2fs")
      val tt = taskTimes.synchronized(taskTimes.toMap)
      snap.sortBy(-_._4).take(25).foreach { case (id, nm, rt, wall, nt) =>
        val skew = tt.get(id).filter(_.nonEmpty).map { ts =>
          val runs = ts.map(_._1).toSeq.sorted
          val med = runs(runs.size / 2)
          val mx = runs.last
          val shMax = ts.map(_._2).max
          f" taskMax=${mx / 1e3}%.2fs med=${med / 1e3}%.2fs " +
            f"shReadMax=${shMax / 1048576.0}%.1fMB"
        }.getOrElse("")
        println(f"  stage=$id%4d wall=${wall / 1e3}%6.2fs taskTime=${rt / 1e3}%7.2fs tasks=$nt%3d$skew  $nm")
      }
    }
    spark.stop()
  }
}
