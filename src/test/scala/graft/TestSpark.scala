package graft

import org.apache.spark.sql.SparkSession

import graft.util.Sessions

/** One shared SparkSession for the whole forked test JVM. Suites must
  * NOT stop it — the builder's `getOrCreate()` returns the same
  * session to every suite, so a per-suite `stop()` in `afterAll`
  * kills whichever suites run later (observed as order-dependent
  * flakiness). The JVM exit tears it down. Fixed at local[4] with 4
  * shuffle partitions, whatever SPARK_GRAFT_CPUS says, so partition-
  * sensitive assertions see the same layout on every host.
  */
object TestSpark {
  lazy val session: SparkSession = {
    val wh = graft.util.Dirs.scratch("graft-test-wh").toString
    Sessions.create(cpus = 4, shufflePartitions = 4,
      extra = Map("spark.sql.warehouse.dir" -> wh))
  }
}
