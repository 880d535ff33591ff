package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** What one run reports back to the launcher: raw samples (the
  * launcher computes the percentiles), single values, per-layer
  * numbers and the operations attempted and failed. */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var setupEnd = 0L

  /** Marks the first timed operation; setup_s ends here. */
  def setupDone(): Unit = setupEnd = System.currentTimeMillis()

  def setupSeconds: Double =
    (setupEnd - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Count `n` operations, of which the `errs` failed. */
  def check(n: Long, errs: Seq[String]): Unit = {
    attempted += n
    failed += errs.length
    errors ++= errs.take(5 - errors.length max 0)
  }

  def toJson: Map[String, Any] = Map(
    "setup_s" -> setupSeconds,
    "attempted" -> attempted,
    "failed" -> failed,
    "errors" -> errors.toVector,
    "samples" -> samples.map { case (k, v) => k -> v.toVector }.toMap,
    "values" -> values.toMap,
    "layers" -> layers.toMap,
    "jvm" -> Map(
      "version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
}

/** Entry point: `graftbench.Main <workload> <inputs.json> <out.json>
  * <trace 0|1> <seconds> <work dir>`. The inputs come from the
  * launcher's seeded generator; the result goes to `out.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputsPath, outPath, traceArg, secondsArg, workDir) = args
    val inputs = Common.readJson(inputsPath)
    val trace = if (traceArg == "1") Some(new Trace) else None
    val seconds = secondsArg.toDouble
    val result = new Result
    val spark = Common.session(workDir)
    try {
      trace.foreach(_.install(spark))
      workload match {
        case "chain_sparse" | "chain_dense" =>
          Workflows.chain(spark, inputs, seconds, workDir, trace, result)
        case "serve_mixed" => Serve.run(spark, inputs, seconds, workDir, trace, result)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      result.values("gc_s") = Common.gcSeconds()
      trace.foreach(_.report(result))
    } finally spark.stop()
    Common.writeJson(outPath, result.toJson)
  }
}
