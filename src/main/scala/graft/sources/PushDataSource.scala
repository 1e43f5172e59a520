package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.KafkaRecord

/** Named in-process record queues behind the DSv2 push source. A transport
  * front (the gRPC adapter, the TCP control plane, a test) appends batches;
  * `PushDataSource` exposes each queue as a streaming table whose offsets
  * are queue positions. Single-JVM by design — this is the reference's
  * in-process push path (`service.rs:102-335`, its Python smoke test) made
  * a first-class Spark source; the production-scale path remains
  * produce-to-Kafka → S1 (SURVEY §2.1 S6), which shares this exact schema.
  *
  * Each queue is an append-only array under its own lock: `push` costs
  * O(batch) amortized, `size` O(1) and `slice` O(slice), so no call pays
  * for the queue's length.
  */
object PushBuffers {
  private final class Queue {
    private var records = new Array[KafkaRecord](1024)
    private var n = 0

    def append(batch: Seq[KafkaRecord]): Long = synchronized {
      if (n + batch.size > records.length)
        records = java.util.Arrays.copyOf(records,
          math.max(records.length * 2, n + batch.size))
      batch.copyToArray(records, n)
      n += batch.size
      n.toLong
    }
    def size: Long = synchronized(n.toLong)
    def slice(from: Long, until: Long): Seq[KafkaRecord] = synchronized {
      val hi = math.max(0L, math.min(until, n.toLong))
      val lo = math.min(math.max(from, 0L), hi)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        java.util.Arrays.copyOfRange(records, lo.toInt, hi.toInt))
    }
  }

  private val buffers = new ConcurrentHashMap[String, Queue]()

  private def buf(name: String) = buffers.computeIfAbsent(name, _ => new Queue)

  /** Append a batch; returns the queue's new end offset. */
  def push(name: String, records: Seq[KafkaRecord]): Long = buf(name).append(records)

  def size(name: String): Long = buf(name).size

  def slice(name: String, from: Long, until: Long): Seq[KafkaRecord] =
    buf(name).slice(from, until)

  def clear(name: String): Unit = buffers.remove(name)
}

/** DSv2 `TableProvider` for the push data plane — SURVEY §2.1 S6 option (c):
  * a direct push source as a custom `MicroBatchStream`. Usage:
  * `spark.readStream.format(classOf[PushDataSource].getName)
  * .option("queue", "q").load()`; also readable as a batch table (the whole
  * queue so far). Offsets are plain queue positions, so checkpointed
  * restarts resume mid-queue exactly like a Kafka consumer group would.
  */
class PushDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KafkaRecord.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new PushTable(Option(properties.get("queue")).getOrElse("default"))
}

final class PushTable(queue: String) extends Table with SupportsRead {
  override def name(): String = s"graft-push($queue)"
  override def schema(): StructType = KafkaRecord.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PushScanBuilder(queue)
}

/** Accepts `offset` range predicates as scan bounds and a pruned column
  * set — the DSv2 pushdown surfaces. Spark still re-evaluates every filter
  * (we return them all as residual), so the bounds are pure pruning: whole
  * queue chunks are skipped via per-chunk min/max zone maps (the same idea
  * as parquet row-group statistics), surviving chunks row-skip before any
  * InternalRow is built, and pruned columns are never materialized (a
  * 2-column projection over binary-heavy records shouldn't pay for the
  * payload bytes).
  */
final class PushScanBuilder(queue: String)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources._
  private var lo = Long.MinValue
  private var hi = Long.MaxValue // inclusive bounds on the `offset` column
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = KafkaRecord.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.filter {
      case GreaterThan("offset", v: Long) => lo = math.max(lo, v + 1); true
      case GreaterThanOrEqual("offset", v: Long) => lo = math.max(lo, v); true
      case LessThan("offset", v: Long) => hi = math.min(hi, v - 1); true
      case LessThanOrEqual("offset", v: Long) => hi = math.min(hi, v); true
      case EqualTo("offset", v: Long) => lo = math.max(lo, v); hi = math.min(hi, v); true
      case _ => false
    }
    pushed = usable
    filters // all residual: bounds only prune, Spark keeps exactness
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new PushScan(queue, lo, hi, required)
}

final class PushScan(queue: String, lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
                     required: StructType = KafkaRecord.schema)
    extends Scan {
  override def readSchema(): StructType = required
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PushMicroBatchStream(queue, required)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val ranges = PushMicroBatchStream.chunkRanges(queue, 0L, PushBuffers.size(queue))
      if (lo == Long.MinValue && hi == Long.MaxValue) ranges
      else ranges.filter { p =>
        // zone map: a chunk survives only if its offset range intersects
        // the pushed bounds (driver-side min/max over the in-memory chunk —
        // the parquet-row-group-stats analog for this source)
        val pp = p.asInstanceOf[PushInputPartition]
        val offs = PushBuffers.slice(queue, pp.from, pp.until).map(_.offset)
        offs.nonEmpty && offs.max >= lo && offs.min <= hi
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new PushReaderFactory(lo, hi, required)
  }
}

final case class PushOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

object PushMicroBatchStream {
  /** Smallest read task: a backlog is never cut finer than this. */
  private val MinTaskRecords = 1000L

  /** Split the n records of [from, until) into `min(parallelism,
    * max(1, n / 1000))` contiguous, near-equal ranges (none when n = 0): a
    * backlog drains in one wave of core-sized tasks, and only a batch of
    * under 1000 records gets a task that small. Each read task writes one
    * file per output group, so the task count, not the record count, sets
    * the files a micro-batch commits.
    */
  def partitionRanges(queue: String, from: Long, until: Long,
                      parallelism: Int): Array[InputPartition] = {
    val n = math.max(until - from, 0L)
    val parts =
      if (n == 0) 0 else math.max(1L, math.min(parallelism.toLong, n / MinTaskRecords)).toInt
    (0 until parts).map { i =>
      PushInputPartition(queue, from + n * i / parts, from + n * (i + 1) / parts): InputPartition
    }.toArray
  }

  /** Fixed 1000-record chunks for the batch read: each chunk is one zone
    * map (offset min/max) the pushed `offset` bounds can skip.
    */
  def chunkRanges(queue: String, from: Long, until: Long): Array[InputPartition] =
    (from until until by MinTaskRecords)
      .map(s => PushInputPartition(queue, s, math.min(s + MinTaskRecords, until)): InputPartition)
      .toArray
}

final class PushMicroBatchStream(queue: String,
                                 required: StructType = KafkaRecord.schema)
    extends MicroBatchStream {
  override def initialOffset(): Offset = PushOffset(0L)
  override def latestOffset(): Offset = PushOffset(PushBuffers.size(queue))
  override def deserializeOffset(json: String): Offset = PushOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    PushMicroBatchStream.partitionRanges(queue,
      start.asInstanceOf[PushOffset].pos, end.asInstanceOf[PushOffset].pos,
      SparkSession.active.sparkContext.defaultParallelism)
  override def createReaderFactory(): PartitionReaderFactory =
    new PushReaderFactory(required = required)
  // the committed prefix stays in the buffer: offsets are absolute queue
  // positions, so truncation would break checkpointed restarts; bounding
  // retention is the durable-transport front's job (Kafka does the same)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class PushInputPartition(queue: String, from: Long, until: Long) extends InputPartition

final class PushReaderFactory(lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
                              required: StructType = KafkaRecord.schema)
    extends PartitionReaderFactory {
  // one extractor per *required* field: pruned columns (typically the
  // binary key/value payloads) are never converted or materialized
  private val extractors: Array[KafkaRecord => Any] = required.fields.map { f =>
    f.name match {
      case "topic" => (r: KafkaRecord) => UTF8String.fromString(r.topic)
      case "partition" => (r: KafkaRecord) => r.partition
      case "offset" => (r: KafkaRecord) => r.offset
      case "timestamp" => (r: KafkaRecord) => DateTimeUtils.fromJavaTimestamp(r.timestamp)
      case "key" => (r: KafkaRecord) => r.key
      case "value" => (r: KafkaRecord) => r.value
      case "headers" => (r: KafkaRecord) => {
        val hk = r.headers.keys.toArray.map(UTF8String.fromString(_): Any)
        val hv = r.headers.values.toArray.map(UTF8String.fromString(_): Any)
        new ArrayBasedMapData(new GenericArrayData(hk), new GenericArrayData(hv))
      }
      case other => throw new IllegalArgumentException(s"unknown column: $other")
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PushInputPartition]
    new PartitionReader[InternalRow] {
      private val records = PushBuffers.slice(p.queue, p.from, p.until).iterator
        .filter(r => r.offset >= lo && r.offset <= hi)
      private var current: KafkaRecord = _
      override def next(): Boolean = { val has = records.hasNext; if (has) current = records.next(); has }
      override def get(): InternalRow =
        new GenericInternalRow(extractors.map(_(current)))
      override def close(): Unit = ()
    }
  }
}
