package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

import graft.engine.LHJson
import graft.util.Sessions

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The last
  * stdout line is one JSON object ([[summaryLine]]) the driver parses. */
object Verify {

  /** manifest.json: per key `{"ok":true}` or `{"ok":false,"err":…}`, in
    * manifest order. Rendered by [[LHJson]], so a quote, tab or other
    * control char in an error message cannot break the driver's
    * json.load and silently zero the round's correctness. */
  def manifestJson(manifest: Seq[(String, Option[String])]): String =
    LHJson.render(ListMap.from(manifest.map {
      case (k, None) => k -> ListMap("ok" -> true)
      case (k, Some(e)) => k -> ListMap("ok" -> false, "err" -> e)
    }))

  /** The one-line verdict: key count, errored keys, manifest path. */
  def summaryLine(
      manifest: Seq[(String, Option[String])], manifestPath: String): String =
    LHJson.render(ListMap(
      "metric" -> "verify",
      "queries" -> manifest.size,
      "errored" -> manifest.collect { case (k, Some(_)) => k },
      "manifest" -> manifestPath))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names (iteration aid —
    // the driver always runs the full set)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').map(_.trim).toSet)
    // replica-dir dumps for at-scale oracle replays raise
    // SPARK_GRAFT_SHUFFLE_PARTITIONS; the driver's gate run leaves the
    // defaults
    val spark = Sessions.create()
    new java.io.File(outDir).mkdirs()
    // Self-owned manifest (round-10 post-mortem): one {ok|err} row PER
    // QUERY, including load-time failures, written even when a table
    // read throws — so an environment shift (e.g. the driver
    // regenerating a parquet with a new physical type) is visible
    // in-repo as N err rows instead of as silently-absent keys in the
    // driver's correctness artifact.
    val manifest = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          name -> None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          name -> Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(300))
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      LHJson.render(SparkEntry.oracleSql))
    val manifestPath = Paths.get(s"$outDir/manifest.json")
    Files.writeString(manifestPath, manifestJson(manifest))
    println(summaryLine(manifest, manifestPath.toAbsolutePath.toString))
    spark.stop()
  }
}
