package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

import graft.engine._

/** Pieces every workload shares: the pinned session, the specs, the
  * input file reader and the result writer. */
object Common {

  /** local[4], 4 shuffle partitions and the HDFS state provider, set
    * explicitly so a changed Spark default cannot move the numbers. */
  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("wfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The reference's `speed_test` shape: `nTasks` sequential echo tasks. */
  def speedTestSpec(nTasks: Int, name: String = "speed_test"): WFSpec = {
    val nodes = (0 until nTasks).map { i =>
      i.toString -> Node(name = i.toString, nodeType = NodeType.TASK,
        taskDefName = Some("echo_task"),
        variables = ListMap("thing" -> VariableAssignment(
          literalValue = s"task-$i")))
    }
    val edges = (0 until nTasks - 1)
      .map(i => Edge(i.toString, (i + 1).toString)).toVector
    SpecCodec.validate(WFSpec(name, s"$name-id", "main",
      ListMap("main" -> ThreadSpec("main", null,
        nodes = ListMap.from(nodes), edges = edges))))
  }

  /** A small spec whose String variable `customerEmail` is an alias
    * the serving layer can search: two echo tasks. */
  def customerSpec: WFSpec = {
    val nodes = (0 until 2).map { i =>
      i.toString -> Node(name = i.toString, nodeType = NodeType.TASK,
        taskDefName = Some("echo_task"),
        variables = ListMap("thing" -> VariableAssignment(
          wfRunVariableName = Some("customerEmail"))))
    }
    SpecCodec.validate(WFSpec("customer_mail", "customer_mail-id", "main",
      ListMap("main" -> ThreadSpec("main", null,
        nodes = ListMap.from(nodes), edges = Vector(Edge("0", "1")),
        variableDefs = ListMap("customerEmail" ->
          WFRunVariableDef(VarType.STRING))))))
  }

  /** The state partition Spark's hash partitioning puts `key` in:
    * pmod(murmur3(key, 42), n), as `HashPartitioning` computes it. */
  def partitionOf(key: String, n: Int): Int = {
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(key)
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
    ((h % n) + n) % n
  }

  /** `ids` regrouped, in their order, so that every consecutive group of
    * `group` (<= `partitions`) ids lands in distinct state partitions;
    * ids that fit no open group are dropped. A sparse load is then
    * spread the same way whatever the seed. */
  def spreadOverPartitions(spark: SparkSession, ids: Seq[String], group: Int,
      partitions: Int): Vector[String] = {
    require(group <= partitions)
    val probe = ids.head
    require(spark.sql(s"SELECT pmod(hash('$probe'), $partitions)").head.getInt(0) ==
      partitionOf(probe, partitions), "partitionOf disagrees with Spark's hash")
    val out = Vector.newBuilder[String]
    var open = Vector.empty[(String, Int)]
    ids.foreach { id =>
      val p = partitionOf(id, partitions)
      if (!open.exists(_._2 == p)) open :+= id -> p
      if (open.length == group) { out ++= open.map(_._1); open = Vector.empty }
    }
    out.result()
  }

  def readJson(path: String): ListMap[String, Any] =
    LHJson.parse(new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8)).asInstanceOf[ListMap[String, Any]]

  def writeJson(path: String, value: Any): Unit =
    Files.write(Paths.get(path),
      LHJson.render(value).getBytes(StandardCharsets.UTF_8))

  def strings(v: Any): Vector[String] =
    v.asInstanceOf[Vector[Any]].map(_.toString)

  def int(v: Any): Int = v.asInstanceOf[java.lang.Number].intValue

  def ms(nanos: Long): Double = nanos / 1e6

  private val t0 = System.nanoTime()

  /** Progress line on stderr (stdout is the launcher's). */
  def log(msg: String): Unit =
    System.err.println(f"[wfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** Live heap after a full collection: what the workload keeps. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(200)
    System.gc()
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Summed collector time of this JVM, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }
}
