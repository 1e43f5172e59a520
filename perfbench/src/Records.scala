package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.KafkaRecord

/** Seeded record generator shaped like the reference's gRPC smoke test
  * (FIXTURES.md): ~88% JSON values {id, name, timestamp, data} of 100-300
  * bytes, ~10% non-JSON bytes (the base64 branch of the encoder), ~2% empty
  * values, ~20% null keys, 8 partitions, a content-type header. Offsets run
  * per partition, so (partition, offset) names one record.
  */
final class Records(seed: Long, topic: String = "bench", partitions: Int = 8) {
  private val rnd = new scala.util.Random(seed)
  private val nextOffset = new Array[Long](partitions)
  private var id = 0L

  def batch(n: Int, tsMs: Long): Seq[KafkaRecord] = synchronized {
    Vector.fill(n) {
      id += 1
      val p = rnd.nextInt(partitions)
      val off = nextOffset(p); nextOffset(p) += 1
      val len = 100 + rnd.nextInt(201)
      val kind = rnd.nextDouble()
      val (value, ctype) =
        if (kind < 0.02) (Array.emptyByteArray, "application/json")
        else if (kind < 0.12) {
          val b = new Array[Byte](len); rnd.nextBytes(b)
          b(0) = 0xFF.toByte // never valid UTF-8, so never valid JSON
          (b, "application/octet-stream")
        } else {
          val head = s"""{"id": $id, "name": "Test Record $id", "timestamp": $tsMs, "data": "This is test record $id sent via gRPC"""
          val pad = "x" * math.max(0, len - head.length - 2)
          ((head + pad + "\"}").getBytes(UTF_8), "application/json")
        }
      val key = if (rnd.nextDouble() < 0.2) null else s"key-$id".getBytes(UTF_8)
      KafkaRecord(topic, p, off, new Timestamp(tsMs), key, value, Map("content-type" -> ctype))
    }
  }
}

/** One streaming progress event, stamped when the listener received it. */
final case class Progress(atMs: Double, queryId: String, batchId: Long, startMs: Double,
                          endOffset: Long, rows: Long, durations: Map[String, Double])

/** Collects the progress events of every streaming query in the session. */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]
  @volatile var terminated: Option[String] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => terminated = Some(x))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    events.add(Progress(tracer.nowMs, p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, end, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
  }

  def of(queryId: String): Seq[Progress] =
    events.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)

  /** First progress event of `queryId` whose source end offset reaches `pos`. */
  def covering(queryId: String, pos: Long): Option[Progress] =
    of(queryId).find(_.endOffset >= pos)

  /** Wait until a batch of `queryId` covers `pos`; None on timeout or if
    * the query died.
    */
  def await(queryId: String, pos: Long, timeoutMs: Long): Option[Progress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var hit = covering(queryId, pos)
    while (hit.isEmpty && terminated.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(5)
      hit = covering(queryId, pos)
    }
    hit
  }
}

object Waits {
  /** Sleep until the wall clock reaches `atMs` (epoch ms). */
  def until(tracer: Tracer, atMs: Double): Unit = {
    var left = atMs - tracer.nowMs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong)
      left = atMs - tracer.nowMs
    }
  }
}
