package graft.streaming.bus

import java.util.regex.Pattern
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.LHJson

/** Structured Streaming connector for [[GraftBus]], registered under
  * the short name `graft-bus` through `DataSourceRegister` — the same
  * service-loader mechanism that resolves `format("kafka")` to the
  * Kafka connector at runtime, so the scheduler wiring that loads a
  * connector by name is exercised for real (Scheduler.busEventSource /
  * kafkaEventSource and busStoreSink / kafkaStoreSink differ only in
  * the format string and connection option).
  *
  * It has exactly the two modes the scheduler uses: a micro-batch read
  * (the event source) and a batch write (the TSRs each store-sink
  * micro-batch sends). Kafka-surface parity, deliberately exact:
  *  - read schema = the Kafka source's seven columns (key/value binary,
  *    topic, partition, offset, timestamp, timestampType);
  *  - streaming offsets serialize as `{"topic":{"0":123}}` — Kafka's
  *    JSON offset-map shape — and flow through checkpoints and query
  *    progress, which is what [[graft.streaming.ReadYourWrites]]
  *    parses for the per-partition read barrier;
  *  - the write routes each row by its `topic` column (dynamic fan-out,
  *    like the Kafka sink) and is at-least-once: task retries re-append
  *    records, redelivery is the consumer's problem — exactly the
  *    contract the scheduler's dedupe window exists for;
  *  - `subscribe` / `subscribePattern` options select topics; topics
  *    appearing after the stream starts are picked up on the next
  *    micro-batch (Kafka's pattern subscription behavior).
  */
final class BusDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-bus"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BusDataSource.SCHEMA
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new BusTable(properties.asScala.toMap)
}

object BusDataSource {
  /** The Kafka source schema, column for column. */
  val SCHEMA: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Kafka-shaped offset JSON: `{"topic":{"partition":next}}`, keys
    * sorted so equal offsets compare equal as strings. */
  def renderOffsets(m: Map[String, Map[Int, Long]]): String =
    LHJson.render(ListMap.from(m.toSeq.sortBy(_._1).map { case (t, ps) =>
      t -> ListMap.from(
        ps.toSeq.sortBy(_._1).map { case (p, o) => p.toString -> o })
    }))

  def parseOffsets(json: String): Map[String, Map[Int, Long]] =
    LHJson.parse(json).asInstanceOf[ListMap[String, Any]].map {
      case (t, ps) => t -> ps.asInstanceOf[ListMap[String, Any]].map {
        case (p, o) => p.toInt -> (o match {
          case i: Int => i.toLong
          case l: Long => l
          case other => other.toString.toLong
        })
      }.toMap
    }.toMap
}

final case class BusOffset(offsets: Map[String, Map[Int, Long]])
    extends Offset {
  override def json(): String = BusDataSource.renderOffsets(offsets)
}

final class BusTable(props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {

  private def root: String = props.getOrElse("path",
    throw new IllegalArgumentException("graft-bus requires a `path` option"))

  override def name(): String = s"graft-bus:$root"
  override def schema(): StructType = BusDataSource.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA) // written rows are (topic,key,value)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BusScanBuilder(root, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          private val factory = BusWriterFactory(root, info.schema())
          override def createBatchWriterFactory(
              physical: PhysicalWriteInfo): DataWriterFactory = factory
          // at-least-once: a failed job leaves its appended rows
          override def commit(messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
}

/** Scan builder: no filter pushdown, like the Kafka source — every
  * predicate runs after the scan. */
final class BusScanBuilder(root: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder {

  override def build(): Scan = new BusScan(root,
    Option(options.get("subscribe")),
    Option(options.get("subscribepattern")),
    Option(options.get("startingoffsets")),
    Option(options.get("endingoffsets")))
}

/** Micro-batch scan; the bus has no batch read. */
final class BusScan(
    root: String, subscribe: Option[String], pattern: Option[String],
    startingOffsets: Option[String], endingOffsets: Option[String])
    extends Scan {

  override def readSchema(): StructType = BusDataSource.SCHEMA
  override def description(): String = s"graft-bus root=$root"

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    // Kafka parity: endingOffsets is a batch-only option — a streaming
    // query must reject it, never silently ignore it
    require(endingOffsets.isEmpty,
      "endingOffsets is not supported on streaming queries " +
        "(batch-only option, like the Kafka source)")
    new BusMicroBatchStream(root, subscribe, pattern, startingOffsets)
  }
}

/** Topic selection and `startingOffsets` map resolution:
  * `subscribe` (comma list) or `subscribePattern` (regex), else all;
  * a per-partition JSON map follows Kafka's contract (-2/-1 sentinels,
  * and it must cover every matched topic-partition). */
private[bus] object BusTopics {
  def matched(
      root: String, subscribe: Option[String],
      pattern: Option[String]): Seq[String] = {
    val all = GraftBus.topics(root)
    (subscribe, pattern) match {
      case (Some(list), _) =>
        val wanted = list.split(',').map(_.trim).toSet
        all.filter(wanted.contains)
      case (_, Some(re)) =>
        val p = Pattern.compile(re)
        all.filter(t => p.matcher(t).matches())
      case _ => all
    }
  }

  /** Resolve a `startingOffsets` JSON map to concrete offsets over
    * `topics`. */
  def specificOffsets(
      root: String, topics: Seq[String], json: String)
      : Map[String, Map[Int, Long]] = {
    val requested = BusDataSource.parseOffsets(json)
    // Kafka's contract: a specific-offsets map must cover every
    // subscribed TopicPartition — a missing entry (or a typo'd
    // topic, which is an entry for an unsubscribed topic) is an
    // ERROR, never a silent fall-back.
    val unknown = requested.keySet -- topics.toSet
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"startingOffsets names topics not matched by this source: " +
          s"${unknown.toSeq.sorted.mkString(", ")} (matched: " +
          s"${topics.sorted.mkString(", ")})")
    val missing = topics.flatMap { t =>
      val have = requested.getOrElse(t, Map.empty[Int, Long]).keySet
      GraftBus.partitions(root, t).filterNot(have.contains)
        .map(p => s"$t-$p")
    }
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"startingOffsets must cover all matched topic-partitions; " +
          s"missing: ${missing.sorted.mkString(", ")}")
    requested.map { case (t, ps) =>
      t -> ps.map { case (p, o) =>
        p -> (o match {
          case -2L => 0L
          case -1L => GraftBus.nextOffset(root, t, p)
          case n if n >= 0 => n
          case bad => throw new IllegalArgumentException(
            s"startingOffsets: invalid offset $bad for $t-$p")
        })
      }
    }
  }
}

/** Micro-batch reader: latestOffset scans the bus directories (the
  * "broker metadata" round-trip), each (topic, partition) becomes one
  * input partition reading its dense offset range. */
final class BusMicroBatchStream(
    root: String, subscribe: Option[String], pattern: Option[String],
    startingOffsets: Option[String] = None)
    extends MicroBatchStream {

  private def matchedTopics: Seq[String] =
    BusTopics.matched(root, subscribe, pattern)

  /** Kafka's `startingOffsets` contract: `earliest` (this source's
    * default — a file-backed bus is a short replayable log, unlike
    * Kafka streaming's `latest` default, and the difference is pinned
    * here on purpose), `latest` (only records produced after query
    * start), or a per-partition JSON map in Kafka's shape, where
    * offset -2 means earliest and -1 means latest for that partition.
    * Only consulted on the FIRST query start — a checkpoint restart
    * restores the committed offsets instead, exactly like Kafka. */
  override def initialOffset(): Offset =
    startingOffsets.map(_.trim).filter(_.nonEmpty) match {
      // empty map = "earliest for everything, incl. topics that appear
      // later" (pattern subscription); an explicit map would pin the
      // topic set at first start
      case None => BusOffset(Map.empty)
      case Some(s) if s.equalsIgnoreCase("earliest") => BusOffset(Map.empty)
      case Some(s) if s.equalsIgnoreCase("latest") => latestOffset()
      case Some(json) if json.startsWith("{") =>
        BusOffset(BusTopics.specificOffsets(root, matchedTopics, json))
      case Some(bad) => throw new IllegalArgumentException(
        s"startingOffsets must be 'earliest', 'latest', or an offset " +
          s"JSON map, got: $bad")
    }

  override def latestOffset(): Offset =
    BusOffset(matchedTopics.map { t =>
      t -> GraftBus.partitions(root, t)
        .map(p => p -> GraftBus.nextOffset(root, t, p)).toMap
    }.toMap)

  override def deserializeOffset(json: String): Offset =
    BusOffset(BusDataSource.parseOffsets(json))

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BusOffset].offsets
    val e = end.asInstanceOf[BusOffset].offsets
    (for {
      (topic, parts) <- e.toSeq
      (p, until) <- parts.toSeq
      from = s.getOrElse(topic, Map.empty[Int, Long]).getOrElse(p, 0L)
      if until > from
    } yield BusInputPartition(root, topic, p, from, until): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BusPartitionReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class BusInputPartition(
    root: String, topic: String, partition: Int, from: Long, until: Long)
    extends InputPartition

final class BusPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val bp = p.asInstanceOf[BusInputPartition]
    new PartitionReader[InternalRow] {
      // lazy record-at-a-time read (never the whole range in memory)
      private val records = (bp.from until bp.until).iterator
        .map(off =>
          GraftBus.read(bp.root, bp.topic, bp.partition, off, off + 1).head)
      private var cur: BusRecord = _
      override def next(): Boolean =
        if (records.hasNext) { cur = records.next(); true } else false
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        cur.key.getBytes("UTF-8"),
        cur.value.getBytes("UTF-8"),
        UTF8String.fromString(cur.topic),
        cur.partition,
        cur.offset,
        cur.timestampMs * 1000L, // micros
        0))
      override def close(): Unit = ()
    }
  }
}

final case class BusCommitMessage() extends WriterCommitMessage

/** Per-row dynamic topic routing — the Kafka sink contract: rows carry
  * (topic, key, value); `key` is optional. A standalone case class: the
  * factory ships to executors, so it must not capture the
  * (non-serializable) Write. */
final case class BusWriterFactory(root: String, schema: StructType)
    extends DataWriterFactory {

  private val topicIdx = schema.fieldNames.indexOf("topic")
  private val keyIdx = schema.fieldNames.indexOf("key")
  private val valueIdx = schema.fieldNames.indexOf("value")
  require(topicIdx >= 0, "graft-bus write needs a `topic` column")
  require(valueIdx >= 0, "graft-bus write needs a `value` column")

  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private def asString(row: InternalRow, idx: Int): String =
        schema.fields(idx).dataType match {
          case BinaryType => new String(row.getBinary(idx), "UTF-8")
          case StringType => row.getUTF8String(idx).toString
          case other =>
            throw new IllegalArgumentException(
              s"graft-bus write column ${schema.fieldNames(idx)} has " +
                s"unsupported type $other (binary/string only)")
        }
      override def write(row: InternalRow): Unit = {
        require(!row.isNullAt(topicIdx), "graft-bus write: a row has no topic")
        val topic = asString(row, topicIdx)
        val key =
          if (keyIdx >= 0 && !row.isNullAt(keyIdx)) asString(row, keyIdx)
          else ""
        GraftBus.send(root, topic, key, asString(row, valueIdx))
      }
      override def commit(): WriterCommitMessage = BusCommitMessage()
      override def abort(): Unit = () // at-least-once: appended rows stay
      override def close(): Unit = ()
    }
}
