package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.KafkaRecord

/** The push data plane — S6 of the operator inventory, transport-agnostic.
  *
  * The reference exposes a gRPC `SinkStream` where clients push
  * `RecordBatch`es and receive per-record acks (`service.rs:102-335`), but
  * acks are sent when the batch lands in the in-memory buffer, NOT when it
  * is durably flushed — the same delivery hole as S5. Here the service is
  * the same contract (push batch → record ids acked; flush → flush ack)
  * with the semantics fixed: acks fire only after the micro-batch that
  * contains the records has committed to the sink.
  *
  * The wire layer (tonic/ScalaPB `connector.proto`) is deliberately out of
  * this class: in production a thin gRPC front calls [[push]]/[[flush]];
  * offline tests drive it directly. Batches enter Structured Streaming via
  * `MemoryStream` — the dev/test path the reference's own Python smoke test
  * models; the production path produces to Kafka and lets the Kafka source
  * ingest (SURVEY §2.1 S6 recommendation). SURVEY's option (c) — a direct
  * push source as a custom DataSource V2 `MicroBatchStream` — exists too:
  * [[graft.sources.PushDataSource]] exposes named in-process queues as
  * streaming tables with checkpointable queue-position offsets.
  */
final class PushService(spark: SparkSession) {
  import spark.implicits._

  final case class RecordId(topic: String, partition: Int, offset: Long)

  private val input = MemoryStream[KafkaRecord](spark)
  // MemoryStream encodes rows with one shared serializer outside its own
  // lock, so concurrent addData calls (one per gRPC stream) corrupt rows.
  // Pushes serialize on this lock, not on the service's monitor: `flush`
  // holds that one through processAllAvailable, and a push must never
  // wait behind a flush.
  private val inputLock = new Object
  // ids committed since the last flush: ackOnCommit appends, flush takes the
  // whole delta in one swap. Each FlushResponse acks only what committed
  // SINCE the previous flush, no id is acked twice, and the service holds
  // no id once it has been reported.
  private val unreported = new AtomicReference(Vector.empty[RecordId])

  /** The DataFrame of pushed records, to be wired into any sink pipeline. */
  def records = input.toDF()

  /** Push one batch; returns the record ids that will be acked on commit. */
  def push(batch: Seq[KafkaRecord]): Seq[RecordId] = {
    val ids = batch.map(r => RecordId(r.topic, r.partition, r.offset))
    inputLock.synchronized(input.addData(batch))
    ids
  }

  /** K2/flush: drain everything pushed so far through the query, then
    * report the ids durably processed since the last flush — the corrected
    * FlushResponse.
    */
  def flush(query: StreamingQuery): Seq[RecordId] = synchronized {
    query.processAllAvailable()
    unreported.getAndSet(Vector.empty)
  }

  /** Wire a sink query over [[records]]; acks accumulate per committed
    * micro-batch via foreachBatch's post-commit position.
    */
  def ackOnCommit(ids: Iterator[RecordId]): Unit = {
    val batch = ids.toVector
    unreported.updateAndGet(_ ++ batch): Unit
  }

  /** Committed ids no flush has reported yet. */
  def unreportedCount: Int = unreported.get.size
}
