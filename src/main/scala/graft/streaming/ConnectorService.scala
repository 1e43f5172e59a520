package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{ConnectorState, KafkaRecord}

/** In-JVM mirror of the vendored wire contract
  * (`src/main/protobuf/connector.proto`, = the reference's
  * `proto/connector.proto`). Message case classes line up field-for-field
  * with the proto messages, so a ScalaPB codegen pass (no protobuf jars ship
  * offline) yields types these convert to mechanically — the gRPC front
  * becomes a ~50-line adapter that never touches engine code.
  */
object Wire {
  final case class Heartbeat(timestampMs: Long)
  final case class RecordId(topic: String, partition: Int, offset: Long)
  final case class RecordBatch(records: Seq[KafkaRecord])
  final case class RecordAck(recordIds: Seq[RecordId], success: Boolean,
                             errorMessage: String = "")
  final case class FlushRequest(requestId: String)
  final case class FlushResponse(requestId: String, success: Boolean,
                                 errorMessage: String = "")
  final case class ConnectorError(errorMessage: String, errorCode: String = "",
                                  stackTrace: String = "")
  final case class ConnectorConfig(connectorClass: String, name: String,
                                   config: Map[String, String], tasksMax: Int)
  final case class ConfigRequest(connectorName: String)
  final case class ConfigUpdateRequest(config: ConnectorConfig)
  final case class ConfigResponse(config: Option[ConnectorConfig])
  final case class StatusRequest(connectorName: String)

  sealed trait State
  object State {
    case object Unknown extends State
    case object Running extends State
    case object Paused extends State
    case object Failed extends State
    case object Unassigned extends State

    /** Lifecycle → wire mapping. `Stopped` has no wire value (the reference
      * enum predates a stop verb); it reports as Unknown.
      */
    def of(s: ConnectorState): State = s match {
      case ConnectorState.Running => Running
      case ConnectorState.Paused => Paused
      case ConnectorState.Failed => Failed
      case ConnectorState.Uninitialized => Unassigned
      case ConnectorState.Stopped => Unknown
    }
  }
  final case class TaskStatus(taskId: Int, state: State, workerId: String,
                              errorMessage: String = "")
  final case class StatusResponse(state: State, workerId: String,
                                  tasks: Seq[TaskStatus], errorMessage: String = "")

  sealed trait SinkRequest
  object SinkRequest {
    final case class Beat(heartbeat: Heartbeat) extends SinkRequest
    final case class Push(batch: RecordBatch) extends SinkRequest
    final case class Flush(request: FlushRequest) extends SinkRequest
  }
  sealed trait SinkResponse
  object SinkResponse {
    final case class Beat(heartbeat: Heartbeat) extends SinkResponse
    final case class Ack(ack: RecordAck) extends SinkResponse
    final case class Err(error: ConnectorError) extends SinkResponse
    final case class Flushed(response: FlushResponse) extends SinkResponse
  }

  final case class OffsetCommit(recordIds: Seq[RecordId])
  sealed trait SourceRequest
  object SourceRequest {
    final case class Beat(heartbeat: Heartbeat) extends SourceRequest
    final case class Ack(ack: RecordAck) extends SourceRequest
    final case class Commit(commit: OffsetCommit) extends SourceRequest
  }
  sealed trait SourceResponse
  object SourceResponse {
    final case class Beat(heartbeat: Heartbeat) extends SourceResponse
    final case class Batch(batch: RecordBatch) extends SourceResponse
    final case class Err(error: ConnectorError) extends SourceResponse
  }
}

/** The reference's `ConnectorService` verbs (`service.rs:29-422`),
  * transport-agnostic: bidi streams are `Iterator → Iterator` (the shape
  * both tonic and grpc-java's `StreamObserver` adapt to trivially), unary
  * verbs are plain calls. [[InProcessConnectorService]] is the one
  * implementation; a network front holds a reference to the same trait.
  *
  * CONTRACT — bidi streams must be per-message stateless: the gRPC front
  * (GrpcWire) re-invokes `sinkStream`/`sourceStream` with a one-element
  * iterator per inbound wire message, so an implementation MUST NOT carry
  * state between messages through the iterator (state that must span a
  * stream belongs in the engine/PushService behind the verb, where
  * [[InProcessConnectorService]] keeps its flush/ack bookkeeping). An
  * implementation that folds across the request iterator would work
  * in-process but silently lose state over the wire.
  */
trait ConnectorService {
  def sinkStream(requests: Iterator[Wire.SinkRequest]): Iterator[Wire.SinkResponse]
  def sourceStream(requests: Iterator[Wire.SourceRequest]): Iterator[Wire.SourceResponse]
  def getConfig(req: Wire.ConfigRequest): Wire.ConfigResponse
  def updateConfig(req: Wire.ConfigUpdateRequest): Wire.ConfigResponse
  def getStatus(req: Wire.StatusRequest): Wire.StatusResponse

  /** Invoked by the transport when a SourceStream call ends (completion,
    * cancel, or network error) — the hook that lets delivery state rewind
    * to the committed offsets for the next connection. Default no-op.
    */
  def onSourceDisconnect(): Unit = ()
}

/** The service wired to a live engine: [[PushService]] is the data plane,
  * [[Engine]] the control plane.
  *
  * Delivery semantics are the *corrected* ones (SURVEY §2.1 S5/S6): the
  * reference acks a pushed batch as soon as it lands in its in-memory
  * buffer (`service.rs:221`) — an ack the sink can still lose. Here a Push
  * produces no ack; Flush drains the query and then acks exactly the record
  * ids the committed micro-batches durably wrote, followed by the
  * FlushResponse. Heartbeats echo the client timestamp.
  *
  * With no [[InProcessConnectorService.PushSink]] wired (the daemon's
  * assembly: no query reads a push buffer there), every Push is answered
  * with an Err and buffers nothing, and every Flush fails.
  */
final class InProcessConnectorService(engine: Engine,
                                      pushSink: Option[InProcessConnectorService.PushSink],
                                      sourceTap: Option[SourceTap] = None)
    extends ConnectorService {
  import Wire._

  /** The wired push sink; without one, Push and Flush fail. */
  private def sink: InProcessConnectorService.PushSink =
    pushSink.getOrElse(throw new IllegalStateException(
      "no push sink is wired: SinkStream is not served here"))

  override def sinkStream(requests: Iterator[SinkRequest]): Iterator[SinkResponse] =
    requests.flatMap {
      case SinkRequest.Beat(hb) => Iterator(SinkResponse.Beat(hb))
      case SinkRequest.Push(batch) =>
        try { sink.push.push(batch.records); Iterator.empty }
        catch { case e: Exception =>
          Iterator(SinkResponse.Err(ConnectorError(e.getMessage, "PUSH_FAILED")))
        }
      case SinkRequest.Flush(req) =>
        try {
          val committed = sink.push.flush(sink.query())
            .map(id => RecordId(id.topic, id.partition, id.offset))
          Iterator(
            SinkResponse.Ack(RecordAck(committed, success = true)),
            SinkResponse.Flushed(FlushResponse(req.requestId, success = true)))
        } catch { case e: Exception =>
          Iterator(SinkResponse.Flushed(
            FlushResponse(req.requestId, success = false, e.getMessage)))
        }
    }

  /** Default (no tap): the reference's source_stream panics
    * (`unimplemented!`, `service.rs:71-80`) on every real verb; mirrored
    * here as a graceful per-call error so the daemon survives a client
    * dialing the wrong direction — S7 parity.
    *
    * With a [[SourceTap]] wired (opt-in), the source direction WORKS —
    * exceeding the reference the way the field partitioner (P3) does:
    * Heartbeat → echo + up to the channel-capacity of buffered
    * RecordBatches (the keepalive doubles as flow-control credit), Ack →
    * drop or requeue the in-flight batches (at-least-once redelivery),
    * Commit → per-partition high-water bookkeeping. All cross-message
    * state lives in the tap, honoring the per-message-stateless contract.
    */
  override def sourceStream(requests: Iterator[SourceRequest]): Iterator[SourceResponse] =
    sourceTap match {
      case None =>
        requests.map(_ => SourceResponse.Err(
          ConnectorError("SourceStream is not implemented", "UNIMPLEMENTED")))
      case Some(tap) =>
        requests.flatMap {
          case SourceRequest.Beat(hb) =>
            Iterator(SourceResponse.Beat(hb)) ++
              tap.poll().iterator.map(SourceResponse.Batch(_))
          case SourceRequest.Ack(a) =>
            tap.ack(a); Iterator.empty
          case SourceRequest.Commit(c) =>
            tap.commit(c); Iterator.empty
        }
    }

  /** Stream teardown → requeue unacked deliveries past the committed
    * high-water mark ([[SourceTap.onDisconnect]]); the next connection
    * resumes exactly after the last Commit.
    */
  override def onSourceDisconnect(): Unit = sourceTap.foreach(_.onDisconnect())

  override def getConfig(req: ConfigRequest): ConfigResponse =
    ConfigResponse(for {
      cfg <- engine.config
      c <- cfg.connectors.find(_.name == req.connectorName)
    } yield ConnectorConfig(c.connectorClass, c.name, c.config, c.tasksMax))

  /** UpdateConfig (unimplemented in the reference, `service.rs:369-382`):
    * swap the named connector's entry inside the current config and
    * re-initialize. Queries restart from their checkpoints, so the swap is
    * at-least-once safe. An unknown connector name is a no-op and must stay
    * one: `engine.updateConfig` stops and re-registers every connector, so
    * reaching it for a name that matches nothing would restart the world as
    * the side effect of a request that then reports "not found".
    */
  override def updateConfig(req: ConfigUpdateRequest): ConfigResponse =
    engine.config match {
      case None => ConfigResponse(None)
      case Some(cfg) =>
        val u = req.config
        if (!cfg.connectors.exists(_.name == u.name)) ConfigResponse(None)
        else {
          val updated = cfg.connectors.map { c =>
            if (c.name == u.name)
              c.copy(connectorClass = u.connectorClass, config = u.config,
                tasksMax = u.tasksMax)
            else c
          }
          engine.updateConfig(cfg.copy(connectors = updated))
          getConfig(ConfigRequest(u.name))
        }
    }

  override def getStatus(req: StatusRequest): StatusResponse =
    engine.status.get(req.connectorName) match {
      case Some(st) =>
        val s = State.of(st)
        StatusResponse(s, workerId = "graft-0",
          tasks = Seq(TaskStatus(0, s, "graft-0")))
      case None =>
        StatusResponse(State.Unknown, workerId = "graft-0", tasks = Seq.empty,
          errorMessage = s"unknown connector: ${req.connectorName}")
    }
}

object InProcessConnectorService {
  /** The push data plane: the buffer SinkStream pushes into, and the query
    * that drains it into a sink (Flush waits on it, then acks).
    */
  final case class PushSink(push: PushService, query: () => StreamingQuery)

  /** Convenience assembly used by tests and embedders: engine from config
    * JSON + a push data plane whose sink query the caller supplies.
    */
  def apply(engine: Engine, push: PushService,
            sinkQuery: () => StreamingQuery): InProcessConnectorService =
    new InProcessConnectorService(engine, Some(PushSink(push, sinkQuery)))
}
