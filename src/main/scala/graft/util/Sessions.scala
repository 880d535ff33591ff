package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test
  * session share these confs, so a conf that matters to one
  * measurement (UTC, nanos-as-long parquet, the codegen cache size)
  * cannot silently differ between the run that measured it and the
  * run that checked it.
  *
  * Env: `SPARK_GRAFT_CPUS` (executor threads, default 4) and
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default: the thread count).
  * Partitions scale with DATA, cores with the box — scale-replica runs
  * raise the partitions alone so each still fits in memory (SCALING.md
  * round-5 triage).
  */
object Sessions {

  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  private def envShufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").fold(envCpus)(_.toInt)

  /** `local[cpus]` with the shared confs; `extra` confs are set last
    * (e.g. a test warehouse dir). Static confs only take effect on the
    * first session of a JVM — `getOrCreate` returns it afterwards. */
  def create(
      cpus: Int = envCpus,
      shufflePartitions: Int = envShufflePartitions,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The default codegen class cache (100 entries, static conf)
      // thrashes under a 91-query bench: the suite generates several
      // hundred distinct codegen units, so by the time a rep re-runs a
      // query its compiled classes were evicted and the rep re-pays
      // 50-200 ms of Janino compilation — fixed overhead that lands on
      // sub-second queries as 1.3-1.7× "regressions" (measured,
      // BASELINE.md round-12 triage). A long-lived server would hold
      // its working set compiled; size the cache like one.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
