package graft.sources

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}
import java.util.{Base64, Optional}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** File-backed DataSource-v2 source speaking the KAFKA WIRE CONTRACT —
  * the sandbox has no `spark-sql-kafka` connector jar and no egress to
  * fetch one (README "Kafka end-to-end status"), so the semantics S1-S3
  * need are made executable against a directory instead of a broker:
  *
  *  - topics are subdirectories of a root, partitions are append-only
  *    `<n>.jsonl` logs inside them, offsets are line numbers — the same
  *    totally-ordered-per-partition, randomly-addressable contract a
  *    Kafka topic-partition gives a consumer
  *    (reference ConsumerThread.java:88-137);
  *  - `subscribe` (all partitions of named topics, new partitions
  *    discovered between batches) and `assign` (explicit
  *    `topic:partition` list) mirror the consumer's two entry modes;
  *  - micro-batch planning is `(startOffset, endOffset]` per partition,
  *    one InputPartition per topic-partition slice — Kafka's offset-range
  *    batch model;
  *  - `maxOffsetsPerTrigger` is honored through the engine's admission-
  *    control hook ([[ReadLimit]]), rows apportioned over partitions
  *    proportional to their lag, exactly the connector's policy;
  *  - `startingOffsets` = earliest|latest;
  *  - the read schema IS Spark's Kafka wire schema (headers included), so
  *    [[Sources.kafkaShaped]] and everything downstream runs verbatim
  *    against either source.
  *
  * This is a test/dev source: reads are single-file per partition and the
  * append path is same-JVM. At production scale the real connector takes
  * its place — by construction nothing downstream can tell the difference.
  */
object KafkaWire {

  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("timestampType", IntegerType, nullable = false),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  // ---- record line codec (TSV + base64: no parser dependencies, and a
  // ---- '\n' can never appear inside a field) ----

  private val b64e = Base64.getEncoder
  private val b64d = Base64.getDecoder
  private def enc(b: Array[Byte]): String =
    if (b == null) "-" else b64e.encodeToString(b)
  private def dec(s: String): Array[Byte] =
    if (s == "-") null else b64d.decode(s)

  private[sources] def encodeLine(tsMillis: Long, tsType: Int,
                                  key: Array[Byte], value: Array[Byte],
                                  headers: Seq[(String, Array[Byte])]): String = {
    val h =
      if (headers == null) "-"
      else headers.map { case (k, v) =>
        enc(k.getBytes(UTF_8)) + ":" + enc(v)
      }.mkString(";")
    s"$tsMillis\t$tsType\t${enc(key)}\t${enc(value)}\t$h"
  }

  /** (tsMillis, tsType, key, value, headers). */
  private[sources] def decodeLine(line: String)
  : (Long, Int, Array[Byte], Array[Byte], Seq[(String, Array[Byte])]) = {
    val f = line.split("\t", -1) // -1: keep trailing empty fields (headers "")
    val headers =
      if (f(4) == "-") null
      else if (f(4).isEmpty) Seq.empty[(String, Array[Byte])]
      else f(4).split(';').toSeq.map { kv =>
        val i = kv.indexOf(':')
        (new String(dec(kv.substring(0, i)), UTF_8), dec(kv.substring(i + 1)))
      }
    (f(0).toLong, f(1).toInt, dec(f(2)), dec(f(3)), headers)
  }

  // ---- log layout ----

  private[sources] def partitionFile(root: String, topic: String, p: Int): File =
    new File(new File(root, topic), s"$p.jsonl")

  /** All (topic, partition) pairs currently on disk for `topics`. */
  private[sources] def discover(root: String, topics: Seq[String]): Seq[(String, Int)] =
    topics.flatMap { t =>
      val dir = new File(root, t)
      val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && f.getName.endsWith(".jsonl"))
        .flatMap(f => f.getName.stripSuffix(".jsonl").toIntOption)
      parts.sorted.map(t -> _)
    }

  /** Lines between two indexed line starts of a [[LineIndex]]: a reader
    * skips fewer than this many lines after its seek. */
  private[sources] val Stride = 4096

  // ---- offsets codec: the connector's JSON shape {"topic":{"0":5}} ----

  private[sources] def offsetsJson(m: Map[(String, Int), Long]): String =
    m.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (topic, tps) =>
      val parts = tps.toSeq.map { case ((_, p), o) => p -> o }.sortBy(_._1)
        .map { case (p, o) => s""""$p":$o""" }.mkString(",")
      s""""$topic":{$parts}"""
    }.mkString("{", ",", "}")

  private[sources] def parseOffsetsJson(json: String): Map[(String, Int), Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JObject(topics) =>
        topics.flatMap {
          case (topic, JObject(parts)) => parts.map {
            case (p, JInt(o)) => (topic, p.toInt) -> o.toLong
            case (p, JLong(o)) => (topic, p.toInt) -> o
            case (p, v) => throw new IllegalArgumentException(
              s"bad offset for $topic/$p: $v")
          }
          case (topic, v) => throw new IllegalArgumentException(
            s"bad partition map for $topic: $v")
        }.toMap
      case v => throw new IllegalArgumentException(s"bad offsets json: $v")
    }
  }
}

/** Incremental sparse line index of one partition log: the complete lines
  * seen so far, the bytes they span, and the byte offset of every
  * `Stride`-th line start. Each `refresh` reads only the bytes appended
  * since the last one, so a log's end offset costs the new bytes, not the
  * whole log, and a reader seeks to within `Stride` lines of its start. */
private[sources] final class LineIndex {
  private var scanned = 0L // bytes up to the end of the last complete line
  private var count = 0L   // complete lines (every record ends with '\n')
  private val starts = mutable.ArrayBuffer(0L) // starts(k): byte offset of line k * Stride

  /** Scan what `f` gained since the last call and return its complete line
    * count. A torn last line is not counted until its newline arrives; a
    * file that shrank is scanned again from 0. */
  def refresh(f: File): Long = synchronized {
    val size = f.length() // 0 when absent
    if (size < scanned) {
      scanned = 0L; count = 0L
      starts.clear(); starts += 0L
    }
    if (size > scanned) {
      val ch = FileChannel.open(f.toPath)
      try {
        val buf = ByteBuffer.allocate(64 * 1024)
        val a = buf.array()
        var at = scanned
        var r = ch.read(buf, at)
        while (r > 0) {
          var i = 0
          while (i < r) {
            if (a(i) == '\n') {
              count += 1
              scanned = at + i + 1
              if (count % KafkaWire.Stride == 0) starts += scanned
            }
            i += 1
          }
          at += r
          buf.clear()
          r = ch.read(buf, at)
        }
      } finally ch.close()
    }
    count
  }

  /** Complete lines as of the last `refresh`. */
  def lines: Long = synchronized(count)

  /** (line, byte offset) of the nearest indexed line start at or before `line`. */
  def seek(line: Long): (Long, Long) = synchronized {
    val k = math.min(line / KafkaWire.Stride, starts.size - 1L).toInt
    (k.toLong * KafkaWire.Stride, starts(k))
  }
}

/** Producer side of the test log — the KafkaUtils/KafkaProducer stand-in
  * the integration suites drive (reference
  * integration/utils/KafkaUtils.java:19-33). Same-JVM appends only. */
object KafkaWireLog {

  // per file: its line index, which is also the lock appends take
  private val indexes = new java.util.concurrent.ConcurrentHashMap[String, LineIndex]()
  private def indexFor(f: File): LineIndex =
    indexes.computeIfAbsent(f.getAbsolutePath, _ => new LineIndex)

  /** Create `partitions` empty partition logs per topic (so subscribe
    * discovers them before any record arrives). */
  def createTopics(root: String, partitions: Int, topics: String*): Unit =
    for (t <- topics; p <- 0 until partitions) {
      val f = KafkaWire.partitionFile(root, t, p)
      f.getParentFile.mkdirs()
      if (!f.exists()) f.createNewFile()
    }

  /** Append one record; returns its assigned offset. */
  def send(root: String, topic: String, partition: Int, tsMillis: Long,
           key: Array[Byte], value: Array[Byte],
           headers: Seq[(String, Array[Byte])] = null,
           tsType: Int = 0): Long = {
    val f = KafkaWire.partitionFile(root, topic, partition)
    f.getParentFile.mkdirs()
    val index = indexFor(f)
    index.synchronized {
      // the count kept from earlier appends, checked against the file size
      val offset = index.refresh(f)
      val line = KafkaWire.encodeLine(tsMillis, tsType, key, value, headers) + "\n"
      Files.write(f.toPath, line.getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      offset
    }
  }

  /** String-serde convenience (the reference tests use StringSerializer). */
  def sendStr(root: String, topic: String, partition: Int, tsMillis: Long,
              key: String, value: String): Long =
    send(root, topic, partition, tsMillis,
      if (key == null) null else key.getBytes(UTF_8),
      if (value == null) null else value.getBytes(UTF_8))
}

class KafkaWireProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka-wire"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaWire.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new KafkaWireTable(new CaseInsensitiveStringMap(properties))
}

final class KafkaWireTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {

  private val root = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("kafka-wire: option 'path' is required"))

  override def name(): String = s"kafka-wire:$root"
  override def schema(): StructType = KafkaWire.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // table-level options win (they carry path/subscribe from .load())
    val merged = new CaseInsensitiveStringMap(
      (opts.asScala ++ options.asScala).asJava)
    () => new KafkaWireScan(merged)
  }
}

final class KafkaWireScan(options: CaseInsensitiveStringMap) extends Scan {

  private val root = options.get("path")

  /** subscribe=topicA,topicB (partition discovery per batch) or
    * assign=topicA:0,topicA:1 (fixed set) — exactly one required. */
  private def resolveTps(): Seq[(String, Int)] = {
    val sub = Option(options.get("subscribe"))
    val asg = Option(options.get("assign"))
    (sub, asg) match {
      case (Some(topics), None) =>
        KafkaWire.discover(root, topics.split(',').map(_.trim).filter(_.nonEmpty))
      case (None, Some(tps)) =>
        tps.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
          val i = s.lastIndexOf(':')
          require(i > 0, s"assign entry '$s' is not topic:partition")
          (s.substring(0, i), s.substring(i + 1).toInt)
        }
      case _ => throw new IllegalArgumentException(
        "kafka-wire: exactly one of 'subscribe' or 'assign' is required")
    }
  }

  override def readSchema(): StructType = KafkaWire.schema
  override def description(): String = s"KafkaWireScan(root=$root)"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KafkaWireMicroBatchStream(root, options, () => resolveTps())

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      resolveTps().map { case (t, p) =>
        val end = new LineIndex().refresh(KafkaWire.partitionFile(root, t, p))
        KafkaWireInputPartition(root, t, p, 0L, end, 0L, 0L)
      }.filter(ip => ip.end > ip.start).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new KafkaWireReaderFactory
  }
}

final class KafkaWireOffset(val offsets: Map[(String, Int), Long]) extends Offset {
  override def json(): String = KafkaWire.offsetsJson(offsets)
}

final class KafkaWireMicroBatchStream(root: String,
                                      options: CaseInsensitiveStringMap,
                                      tps: () => Seq[(String, Int)])
  extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics {

  private val maxOffsetsPerTrigger: Option[Long] =
    Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)

  // one incremental line index per topic-partition, kept across triggers
  private val indexes = mutable.Map.empty[(String, Int), LineIndex]
  private def index(tp: (String, Int)): LineIndex =
    indexes.getOrElseUpdate(tp, new LineIndex)

  // the uncapped ends the last latestOffset saw, for the lag metrics
  @volatile private var latestEnds = Map.empty[(String, Int), Long]

  private def currentEnds(): Map[(String, Int), Long] =
    tps().map { case (t, p) => (t, p) -> index((t, p)).refresh(KafkaWire.partitionFile(root, t, p)) }.toMap

  override def initialOffset(): Offset = {
    val mode = Option(options.get("startingOffsets")).getOrElse("earliest")
    mode match {
      case "earliest" => new KafkaWireOffset(tps().map(_ -> 0L).toMap)
      case "latest" => new KafkaWireOffset(currentEnds())
      case other => throw new IllegalArgumentException(
        s"kafka-wire: startingOffsets must be earliest|latest, got '$other'")
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Admission control: cap this batch at `maxRows`, apportioned over
    * partitions proportional to lag (the Kafka connector's rate-limit
    * policy), with a round-robin remainder so every lagging partition
    * makes progress even when maxRows < partition count. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KafkaWireOffset].offsets
    val ends = currentEnds()
    latestEnds = ends
    val capped = limit match {
      case _ if maxRowsOf(limit).isEmpty => ends
      case _ =>
        val maxRows = maxRowsOf(limit).get
        val lags = ends.toSeq.sortBy(_._1).map { case (tp, end) =>
          (tp, end, math.max(0L, end - from.getOrElse(tp, 0L)))
        }
        val totalLag = lags.map(_._3).sum
        if (totalLag <= maxRows) ends
        else {
          val base = lags.map { case (tp, end, lag) =>
            (tp, end, lag, lag * maxRows / totalLag)
          }
          var spare = maxRows - base.map(_._4).sum
          base.map { case (tp, end, lag, take0) =>
            val extra = if (spare > 0 && take0 < lag) { spare -= 1; 1L } else 0L
            tp -> math.min(end, from.getOrElse(tp, 0L) + take0 + extra)
          }.toMap
        }
    }
    // never regress below the start (a partition log can only grow)
    new KafkaWireOffset(capped.map { case (tp, o) =>
      tp -> math.max(o, from.getOrElse(tp, 0L))
    })
  }

  private def maxRowsOf(limit: ReadLimit): Option[Long] = limit match {
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      Some(r.maxRows())
    case _ => None
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[KafkaWireOffset].offsets
    val to = end.asInstanceOf[KafkaWireOffset].offsets
    to.toSeq.sortBy(_._1).flatMap { case ((t, p), endO) =>
      val startO = from.getOrElse((t, p), 0L)
      if (endO > startO) {
        // a restart can plan a logged batch before any latestOffset scan
        val idx = index((t, p))
        if (idx.lines < startO) idx.refresh(KafkaWire.partitionFile(root, t, p))
        val (seekLine, seekByte) = idx.seek(startO)
        Some(KafkaWireInputPartition(root, t, p, startO, endO, seekLine, seekByte))
      } else None
    }.toArray
  }

  /** The connector's lag metrics: records between the consumed offsets
    * and the ends the last `latestOffset` saw, per partition. */
  override def metrics(latestConsumedOffset: Optional[Offset]): java.util.Map[String, String] = {
    val ends = latestEnds
    val lags = if (!latestConsumedOffset.isPresent) Nil else {
      val consumed = latestConsumedOffset.get match {
        case o: KafkaWireOffset => o.offsets
        case o => KafkaWire.parseOffsetsJson(o.json) // a recovered, still serialized offset
      }
      ends.toSeq.map { case (tp, end) => end - consumed.getOrElse(tp, 0L) }
    }
    if (lags.isEmpty) java.util.Collections.emptyMap()
    else Map(
      "minOffsetsBehindLatest" -> lags.min.toString,
      "maxOffsetsBehindLatest" -> lags.max.toString,
      "avgOffsetsBehindLatest" -> (lags.sum.toDouble / lags.size).toString).asJava
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaWireReaderFactory

  override def deserializeOffset(json: String): Offset =
    new KafkaWireOffset(KafkaWire.parseOffsetsJson(json))

  override def commit(end: Offset): Unit = () // file log: nothing to ack
  override def stop(): Unit = ()
}

/** One topic-partition offset slice `[start, end)` (Kafka's `(start, end]`
  * phrasing counts from the last consumed record; line numbering counts
  * from the next unread one — the same half-open range). The reader starts
  * at byte `seekByte`, where line `seekLine <= start` begins. */
final case class KafkaWireInputPartition(root: String, topic: String,
                                         partition: Int, start: Long,
                                         end: Long, seekLine: Long,
                                         seekByte: Long) extends InputPartition

final class KafkaWireReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ip = partition.asInstanceOf[KafkaWireInputPartition]
    new KafkaWirePartitionReader(ip)
  }
}

final class KafkaWirePartitionReader(ip: KafkaWireInputPartition)
  extends PartitionReader[InternalRow] {

  private val lines = {
    val ch = FileChannel.open(KafkaWire.partitionFile(ip.root, ip.topic, ip.partition).toPath)
    ch.position(ip.seekByte)
    new BufferedReader(new InputStreamReader(Channels.newInputStream(ch), UTF_8))
  }
  private var pos = ip.seekLine
  private var row: InternalRow = _
  // skip to the slice start: fewer than KafkaWire.Stride lines
  while (pos < ip.start && lines.readLine() != null) pos += 1

  override def next(): Boolean =
    if (pos >= ip.end) false
    else {
      val line = lines.readLine()
      if (line == null) false // writer hasn't flushed that far; batch ends
      else {
        val (ts, tsType, key, value, headers) = KafkaWire.decodeLine(line)
        val headersData =
          if (headers == null) null
          else new GenericArrayData(headers.map { case (k, v) =>
            new GenericInternalRow(Array[Any](UTF8String.fromString(k), v))
          }.toArray[Any])
        row = new GenericInternalRow(Array[Any](
          key, value, UTF8String.fromString(ip.topic), ip.partition, pos,
          ts * 1000L, tsType, headersData))
        pos += 1
        true
      }
    }

  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}
