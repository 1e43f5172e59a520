package graft.streaming

import scala.jdk.CollectionConverters._

import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, MethodDescriptor, ServerServiceDefinition}
import org.sparkproject.connect.grpc.netty.{NettyChannelBuilder, NettyServerBuilder}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{ByteString, DescriptorProtos => DP, Descriptors, DynamicMessage}

import graft.model.KafkaRecord

/** The COMPILED gRPC wire for the vendored contract
  * (`src/main/protobuf/connector.proto` = the reference's
  * `proto/connector.proto`, served by `src/grpc/service.rs:102-335` and
  * bound in `src/main.rs:101-127`).
  *
  * No protoc/ScalaPB runs offline, but the full gRPC + protobuf runtime
  * ships INSIDE the Spark distribution, shaded into
  * `spark-connect_2.13-4.1.2.jar` as `org.sparkproject.connect.{grpc,
  * protobuf}` (the classpath this library already sits on — no new
  * dependencies). Shading renames Java packages, not wire bytes: the
  * server below speaks standard HTTP/2 gRPC and standard proto3 binary,
  * so the reference's own clients (`test_grpc_sink.py`, tonic) interop
  * unchanged.
  *
  * Instead of generated stubs, the proto is materialized at runtime:
  * [[ConnectorProto]] hand-builds the `FileDescriptorProto` field-for-field
  * from the vendored IDL (numbers, labels, oneofs, map entries, the
  * nested State enum — any drift from the .proto is a wire bug, so keep
  * them in lockstep), messages travel as `DynamicMessage`, and each verb
  * is registered generically with [[ServerCalls]]. The service behind the
  * wire is the same transport-agnostic [[ConnectorService]] the JSON-lines
  * fronts dispatch to — this file is only an adapter.
  */
object ConnectorProto {
  import DP.FieldDescriptorProto.{Label, Type}

  private def field(name: String, number: Int, t: Type,
                    typeName: String = null, repeated: Boolean = false,
                    oneofIndex: Int = -1): DP.FieldDescriptorProto = {
    val b = DP.FieldDescriptorProto.newBuilder()
      .setName(name).setNumber(number).setType(t)
      .setLabel(if (repeated) Label.LABEL_REPEATED else Label.LABEL_OPTIONAL)
    if (typeName != null) b.setTypeName(typeName)
    if (oneofIndex >= 0) b.setOneofIndex(oneofIndex)
    b.build()
  }

  private def message(name: String, fields: DP.FieldDescriptorProto*): DP.DescriptorProto =
    DP.DescriptorProto.newBuilder().setName(name).addAllField(fields.asJava).build()

  /** `map<string,string>` lowers to a repeated nested `*Entry` message
    * with `map_entry = true` — the exact shape protoc emits.
    */
  private def mapEntry(name: String): DP.DescriptorProto =
    DP.DescriptorProto.newBuilder().setName(name)
      .setOptions(DP.MessageOptions.newBuilder().setMapEntry(true))
      .addField(field("key", 1, Type.TYPE_STRING))
      .addField(field("value", 2, Type.TYPE_STRING))
      .build()

  private def oneofMessage(name: String, oneofName: String,
                           fields: DP.FieldDescriptorProto*): DP.DescriptorProto =
    DP.DescriptorProto.newBuilder().setName(name)
      .addOneofDecl(DP.OneofDescriptorProto.newBuilder().setName(oneofName))
      .addAllField(fields.asJava)
      .build()

  val fileDescriptor: Descriptors.FileDescriptor = {
    val kafkaRecord = DP.DescriptorProto.newBuilder()
      .setName("KafkaRecord")
      .addField(field("topic", 1, Type.TYPE_STRING))
      .addField(field("partition", 2, Type.TYPE_INT32))
      .addField(field("offset", 3, Type.TYPE_INT64))
      .addField(field("timestamp", 4, Type.TYPE_INT64))
      .addField(field("key", 5, Type.TYPE_BYTES))
      .addField(field("value", 6, Type.TYPE_BYTES))
      .addField(field("headers", 7, Type.TYPE_MESSAGE,
        ".kafka.connect.KafkaRecord.HeadersEntry", repeated = true))
      .addNestedType(mapEntry("HeadersEntry"))
      .build()

    val connectorConfig = DP.DescriptorProto.newBuilder()
      .setName("ConnectorConfig")
      .addField(field("connector_class", 1, Type.TYPE_STRING))
      .addField(field("name", 2, Type.TYPE_STRING))
      .addField(field("config", 3, Type.TYPE_MESSAGE,
        ".kafka.connect.ConnectorConfig.ConfigEntry", repeated = true))
      .addField(field("tasks_max", 4, Type.TYPE_INT32))
      .addNestedType(mapEntry("ConfigEntry"))
      .build()

    val statusResponse = DP.DescriptorProto.newBuilder()
      .setName("StatusResponse")
      .addEnumType(DP.EnumDescriptorProto.newBuilder().setName("State")
        .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("UNKNOWN").setNumber(0))
        .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("RUNNING").setNumber(1))
        .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("PAUSED").setNumber(2))
        .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("FAILED").setNumber(3))
        .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("UNASSIGNED").setNumber(4)))
      .addField(field("state", 1, Type.TYPE_ENUM, ".kafka.connect.StatusResponse.State"))
      .addField(field("worker_id", 2, Type.TYPE_STRING))
      .addField(field("tasks", 3, Type.TYPE_MESSAGE, ".kafka.connect.TaskStatus",
        repeated = true))
      .addField(field("error_message", 4, Type.TYPE_STRING))
      .build()

    val fdp = DP.FileDescriptorProto.newBuilder()
      .setName("connector.proto")
      .setPackage("kafka.connect")
      .setSyntax("proto3")
      .addMessageType(kafkaRecord)
      .addMessageType(connectorConfig)
      .addMessageType(oneofMessage("SourceRequest", "request",
        field("heartbeat", 1, Type.TYPE_MESSAGE, ".kafka.connect.Heartbeat", oneofIndex = 0),
        field("ack", 2, Type.TYPE_MESSAGE, ".kafka.connect.RecordAck", oneofIndex = 0),
        field("commit", 3, Type.TYPE_MESSAGE, ".kafka.connect.OffsetCommit", oneofIndex = 0)))
      .addMessageType(oneofMessage("SourceResponse", "response",
        field("heartbeat", 1, Type.TYPE_MESSAGE, ".kafka.connect.Heartbeat", oneofIndex = 0),
        field("record_batch", 2, Type.TYPE_MESSAGE, ".kafka.connect.RecordBatch", oneofIndex = 0),
        field("error", 3, Type.TYPE_MESSAGE, ".kafka.connect.ConnectorError", oneofIndex = 0)))
      .addMessageType(oneofMessage("SinkRequest", "request",
        field("heartbeat", 1, Type.TYPE_MESSAGE, ".kafka.connect.Heartbeat", oneofIndex = 0),
        field("record_batch", 2, Type.TYPE_MESSAGE, ".kafka.connect.RecordBatch", oneofIndex = 0),
        field("flush", 3, Type.TYPE_MESSAGE, ".kafka.connect.FlushRequest", oneofIndex = 0)))
      .addMessageType(oneofMessage("SinkResponse", "response",
        field("heartbeat", 1, Type.TYPE_MESSAGE, ".kafka.connect.Heartbeat", oneofIndex = 0),
        field("ack", 2, Type.TYPE_MESSAGE, ".kafka.connect.RecordAck", oneofIndex = 0),
        field("error", 3, Type.TYPE_MESSAGE, ".kafka.connect.ConnectorError", oneofIndex = 0),
        field("flush_response", 4, Type.TYPE_MESSAGE, ".kafka.connect.FlushResponse",
          oneofIndex = 0)))
      .addMessageType(message("ConfigRequest", field("connector_name", 1, Type.TYPE_STRING)))
      .addMessageType(message("ConfigUpdateRequest",
        field("config", 1, Type.TYPE_MESSAGE, ".kafka.connect.ConnectorConfig")))
      .addMessageType(message("ConfigResponse",
        field("config", 1, Type.TYPE_MESSAGE, ".kafka.connect.ConnectorConfig")))
      .addMessageType(message("StatusRequest", field("connector_name", 1, Type.TYPE_STRING)))
      .addMessageType(statusResponse)
      .addMessageType(message("TaskStatus",
        field("task_id", 1, Type.TYPE_INT32),
        field("state", 2, Type.TYPE_ENUM, ".kafka.connect.StatusResponse.State"),
        field("worker_id", 3, Type.TYPE_STRING),
        field("error_message", 4, Type.TYPE_STRING)))
      .addMessageType(message("Heartbeat", field("timestamp", 1, Type.TYPE_INT64)))
      .addMessageType(message("RecordBatch",
        field("records", 1, Type.TYPE_MESSAGE, ".kafka.connect.KafkaRecord", repeated = true)))
      .addMessageType(message("RecordAck",
        field("record_ids", 1, Type.TYPE_MESSAGE, ".kafka.connect.RecordId", repeated = true),
        field("success", 2, Type.TYPE_BOOL),
        field("error_message", 3, Type.TYPE_STRING)))
      .addMessageType(message("RecordId",
        field("topic", 1, Type.TYPE_STRING),
        field("partition", 2, Type.TYPE_INT32),
        field("offset", 3, Type.TYPE_INT64)))
      .addMessageType(message("OffsetCommit",
        field("record_ids", 1, Type.TYPE_MESSAGE, ".kafka.connect.RecordId", repeated = true)))
      .addMessageType(message("FlushRequest", field("request_id", 1, Type.TYPE_STRING)))
      .addMessageType(message("FlushResponse",
        field("request_id", 1, Type.TYPE_STRING),
        field("success", 2, Type.TYPE_BOOL),
        field("error_message", 3, Type.TYPE_STRING)))
      .addMessageType(message("ConnectorError",
        field("error_message", 1, Type.TYPE_STRING),
        field("error_code", 2, Type.TYPE_STRING),
        field("stack_trace", 3, Type.TYPE_STRING)))
      // service-unused in every verb signature, but part of the vendored
      // IDL — included so server reflection serves the COMPLETE contract
      // (clients build S3SinkConfig payloads for ConnectorConfig.config
      // out-of-band; omitting it made the reflected descriptor drift from
      // the field-for-field lockstep both files promise)
      .addMessageType(DP.DescriptorProto.newBuilder()
        .setName("S3SinkConfig")
        .addEnumType(DP.EnumDescriptorProto.newBuilder().setName("Format")
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("JSON").setNumber(0))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("AVRO").setNumber(1))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("PARQUET").setNumber(2))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("BYTES").setNumber(3)))
        .addEnumType(DP.EnumDescriptorProto.newBuilder().setName("Partitioner")
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("DEFAULT").setNumber(0))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("FIELD").setNumber(1))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("TIME").setNumber(2)))
        .addEnumType(DP.EnumDescriptorProto.newBuilder().setName("Compression")
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("NONE").setNumber(0))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("GZIP").setNumber(1))
          .addValue(DP.EnumValueDescriptorProto.newBuilder().setName("SNAPPY").setNumber(2)))
        .addField(field("s3_bucket_name", 1, Type.TYPE_STRING))
        .addField(field("s3_region", 2, Type.TYPE_STRING))
        .addField(field("s3_prefix", 3, Type.TYPE_STRING))
        .addField(field("format", 4, Type.TYPE_ENUM, ".kafka.connect.S3SinkConfig.Format"))
        .addField(field("partitioner", 5, Type.TYPE_ENUM, ".kafka.connect.S3SinkConfig.Partitioner"))
        .addField(field("partition_field", 6, Type.TYPE_STRING))
        .addField(field("time_partition_pattern", 7, Type.TYPE_STRING))
        .addField(field("flush_size", 8, Type.TYPE_INT32))
        .addField(field("rotate_interval_ms", 9, Type.TYPE_INT32))
        .addField(field("compression", 10, Type.TYPE_ENUM, ".kafka.connect.S3SinkConfig.Compression"))
        .build())
      .addService(DP.ServiceDescriptorProto.newBuilder()
        .setName("ConnectorService")
        .addMethod(DP.MethodDescriptorProto.newBuilder().setName("SourceStream")
          .setInputType(".kafka.connect.SourceRequest")
          .setOutputType(".kafka.connect.SourceResponse")
          .setClientStreaming(true).setServerStreaming(true))
        .addMethod(DP.MethodDescriptorProto.newBuilder().setName("SinkStream")
          .setInputType(".kafka.connect.SinkRequest")
          .setOutputType(".kafka.connect.SinkResponse")
          .setClientStreaming(true).setServerStreaming(true))
        .addMethod(DP.MethodDescriptorProto.newBuilder().setName("GetConfig")
          .setInputType(".kafka.connect.ConfigRequest")
          .setOutputType(".kafka.connect.ConfigResponse"))
        .addMethod(DP.MethodDescriptorProto.newBuilder().setName("UpdateConfig")
          .setInputType(".kafka.connect.ConfigUpdateRequest")
          .setOutputType(".kafka.connect.ConfigResponse"))
        .addMethod(DP.MethodDescriptorProto.newBuilder().setName("GetStatus")
          .setInputType(".kafka.connect.StatusRequest")
          .setOutputType(".kafka.connect.StatusResponse")))
      .build()

    Descriptors.FileDescriptor.buildFrom(fdp, Array.empty[Descriptors.FileDescriptor])
  }

  def serviceDescriptor: Descriptors.ServiceDescriptor =
    fileDescriptor.findServiceByName("ConnectorService")

  def messageType(name: String): Descriptors.Descriptor = {
    val d = fileDescriptor.findMessageTypeByName(name)
    require(d != null, s"unknown message type $name")
    d
  }
}

/** DynamicMessage ↔ `Wire.*` translation plus the generic gRPC service
  * registration. Every accessor goes through field NAMES so a mismatch
  * against the descriptor fails loudly at first use, not as silent zeros.
  */
object GrpcWire {
  import Wire._

  private def desc(n: String) = ConnectorProto.messageType(n)
  private def f(d: Descriptors.Descriptor, n: String): Descriptors.FieldDescriptor = {
    val fd = d.findFieldByName(n)
    require(fd != null, s"unknown field $n on ${d.getName}")
    fd
  }

  final class DynMarshaller(d: Descriptors.Descriptor)
      extends MethodDescriptor.Marshaller[DynamicMessage] {
    override def stream(value: DynamicMessage): java.io.InputStream =
      new java.io.ByteArrayInputStream(value.toByteArray)
    override def parse(stream: java.io.InputStream): DynamicMessage =
      DynamicMessage.parseFrom(d, stream)
  }

  def method(name: String, tpe: MethodDescriptor.MethodType,
             in: String, out: String): MethodDescriptor[DynamicMessage, DynamicMessage] =
    MethodDescriptor.newBuilder[DynamicMessage, DynamicMessage]()
      .setType(tpe)
      .setFullMethodName(
        MethodDescriptor.generateFullMethodName("kafka.connect.ConnectorService", name))
      .setRequestMarshaller(new DynMarshaller(desc(in)))
      .setResponseMarshaller(new DynMarshaller(desc(out)))
      .build()

  val getStatusMethod: MethodDescriptor[DynamicMessage, DynamicMessage] =
    method("GetStatus", MethodDescriptor.MethodType.UNARY, "StatusRequest", "StatusResponse")
  val getConfigMethod: MethodDescriptor[DynamicMessage, DynamicMessage] =
    method("GetConfig", MethodDescriptor.MethodType.UNARY, "ConfigRequest", "ConfigResponse")
  val updateConfigMethod: MethodDescriptor[DynamicMessage, DynamicMessage] =
    method("UpdateConfig", MethodDescriptor.MethodType.UNARY,
      "ConfigUpdateRequest", "ConfigResponse")
  val sinkStreamMethod: MethodDescriptor[DynamicMessage, DynamicMessage] =
    method("SinkStream", MethodDescriptor.MethodType.BIDI_STREAMING,
      "SinkRequest", "SinkResponse")
  val sourceStreamMethod: MethodDescriptor[DynamicMessage, DynamicMessage] =
    method("SourceStream", MethodDescriptor.MethodType.BIDI_STREAMING,
      "SourceRequest", "SourceResponse")

  // ---- Wire.* → DynamicMessage -------------------------------------------

  private def heartbeatMsg(hb: Heartbeat): DynamicMessage = {
    val d = desc("Heartbeat")
    DynamicMessage.newBuilder(d).setField(f(d, "timestamp"), java.lang.Long.valueOf(hb.timestampMs)).build()
  }

  private def recordIdMsg(id: RecordId): DynamicMessage = {
    val d = desc("RecordId")
    DynamicMessage.newBuilder(d)
      .setField(f(d, "topic"), id.topic)
      .setField(f(d, "partition"), java.lang.Integer.valueOf(id.partition))
      .setField(f(d, "offset"), java.lang.Long.valueOf(id.offset))
      .build()
  }

  private def recordAckMsg(a: RecordAck): DynamicMessage = {
    val d = desc("RecordAck")
    val b = DynamicMessage.newBuilder(d)
      .setField(f(d, "success"), java.lang.Boolean.valueOf(a.success))
      .setField(f(d, "error_message"), a.errorMessage)
    a.recordIds.foreach(id => b.addRepeatedField(f(d, "record_ids"), recordIdMsg(id)))
    b.build()
  }

  private def errorMsg(e: ConnectorError): DynamicMessage = {
    val d = desc("ConnectorError")
    DynamicMessage.newBuilder(d)
      .setField(f(d, "error_message"), e.errorMessage)
      .setField(f(d, "error_code"), e.errorCode)
      .setField(f(d, "stack_trace"), e.stackTrace)
      .build()
  }

  private def flushResponseMsg(r: FlushResponse): DynamicMessage = {
    val d = desc("FlushResponse")
    DynamicMessage.newBuilder(d)
      .setField(f(d, "request_id"), r.requestId)
      .setField(f(d, "success"), java.lang.Boolean.valueOf(r.success))
      .setField(f(d, "error_message"), r.errorMessage)
      .build()
  }

  private def kafkaRecordMsg(r: KafkaRecord): DynamicMessage = {
    val d = desc("KafkaRecord")
    val entry = d.findNestedTypeByName("HeadersEntry")
    val b = DynamicMessage.newBuilder(d)
      .setField(f(d, "topic"), r.topic)
      .setField(f(d, "partition"), java.lang.Integer.valueOf(r.partition))
      .setField(f(d, "offset"), java.lang.Long.valueOf(r.offset))
      .setField(f(d, "timestamp"),
        java.lang.Long.valueOf(if (r.timestamp == null) 0L else r.timestamp.getTime))
      .setField(f(d, "key"),
        ByteString.copyFrom(if (r.key == null) Array.empty[Byte] else r.key))
      .setField(f(d, "value"),
        ByteString.copyFrom(if (r.value == null) Array.empty[Byte] else r.value))
    if (r.headers != null) r.headers.foreach { case (k, v) =>
      b.addRepeatedField(f(d, "headers"), DynamicMessage.newBuilder(entry)
        .setField(f(entry, "key"), k).setField(f(entry, "value"), v).build())
    }
    b.build()
  }

  private def recordBatchMsg(batch: RecordBatch): DynamicMessage = {
    val d = desc("RecordBatch")
    val b = DynamicMessage.newBuilder(d)
    batch.records.foreach(r => b.addRepeatedField(f(d, "records"), kafkaRecordMsg(r)))
    b.build()
  }

  private def connectorConfigMsg(c: ConnectorConfig): DynamicMessage = {
    val d = desc("ConnectorConfig")
    val entry = d.findNestedTypeByName("ConfigEntry")
    val b = DynamicMessage.newBuilder(d)
      .setField(f(d, "connector_class"), c.connectorClass)
      .setField(f(d, "name"), c.name)
      .setField(f(d, "tasks_max"), java.lang.Integer.valueOf(c.tasksMax))
    c.config.foreach { case (k, v) =>
      b.addRepeatedField(f(d, "config"), DynamicMessage.newBuilder(entry)
        .setField(f(entry, "key"), k).setField(f(entry, "value"), v).build())
    }
    b.build()
  }

  def configResponseMsg(r: ConfigResponse): DynamicMessage = {
    val d = desc("ConfigResponse")
    val b = DynamicMessage.newBuilder(d)
    r.config.foreach(c => b.setField(f(d, "config"), connectorConfigMsg(c)))
    b.build()
  }

  private def stateValue(s: State): Descriptors.EnumValueDescriptor = {
    val e = desc("StatusResponse").findEnumTypeByName("State")
    val n = s match {
      case State.Unknown => 0; case State.Running => 1; case State.Paused => 2
      case State.Failed => 3; case State.Unassigned => 4
    }
    e.findValueByNumber(n)
  }

  def statusResponseMsg(r: StatusResponse): DynamicMessage = {
    val d = desc("StatusResponse")
    val td = desc("TaskStatus")
    val b = DynamicMessage.newBuilder(d)
      .setField(f(d, "state"), stateValue(r.state))
      .setField(f(d, "worker_id"), r.workerId)
      .setField(f(d, "error_message"), r.errorMessage)
    r.tasks.foreach { t =>
      b.addRepeatedField(f(d, "tasks"), DynamicMessage.newBuilder(td)
        .setField(f(td, "task_id"), java.lang.Integer.valueOf(t.taskId))
        .setField(f(td, "state"), stateValue(t.state))
        .setField(f(td, "worker_id"), t.workerId)
        .setField(f(td, "error_message"), t.errorMessage)
        .build())
    }
    b.build()
  }

  def sinkResponseMsg(r: SinkResponse): DynamicMessage = {
    val d = desc("SinkResponse")
    val b = DynamicMessage.newBuilder(d)
    r match {
      case SinkResponse.Beat(hb) => b.setField(f(d, "heartbeat"), heartbeatMsg(hb))
      case SinkResponse.Ack(a) => b.setField(f(d, "ack"), recordAckMsg(a))
      case SinkResponse.Err(e) => b.setField(f(d, "error"), errorMsg(e))
      case SinkResponse.Flushed(fr) => b.setField(f(d, "flush_response"), flushResponseMsg(fr))
    }
    b.build()
  }

  def sourceResponseMsg(r: SourceResponse): DynamicMessage = {
    val d = desc("SourceResponse")
    val b = DynamicMessage.newBuilder(d)
    r match {
      case SourceResponse.Beat(hb) => b.setField(f(d, "heartbeat"), heartbeatMsg(hb))
      case SourceResponse.Batch(batch) => b.setField(f(d, "record_batch"), recordBatchMsg(batch))
      case SourceResponse.Err(e) => b.setField(f(d, "error"), errorMsg(e))
    }
    b.build()
  }

  // ---- DynamicMessage → Wire.* -------------------------------------------

  private def str(m: DynamicMessage, n: String): String =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[String]
  private def i32(m: DynamicMessage, n: String): Int =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[java.lang.Integer].intValue
  private def i64(m: DynamicMessage, n: String): Long =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[java.lang.Long].longValue
  private def bool(m: DynamicMessage, n: String): Boolean =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[java.lang.Boolean].booleanValue
  private def bytes(m: DynamicMessage, n: String): Array[Byte] =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[ByteString].toByteArray
  private def sub(m: DynamicMessage, n: String): DynamicMessage =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[DynamicMessage]
  private def reps(m: DynamicMessage, n: String): Seq[DynamicMessage] =
    m.getField(f(m.getDescriptorForType, n)).asInstanceOf[java.util.List[_]]
      .asScala.toSeq.map(_.asInstanceOf[DynamicMessage])
  private def mapField(m: DynamicMessage, n: String): Map[String, String] =
    reps(m, n).map { e =>
      val d = e.getDescriptorForType
      e.getField(f(d, "key")).asInstanceOf[String] ->
        e.getField(f(d, "value")).asInstanceOf[String]
    }.toMap
  private def has(m: DynamicMessage, n: String): Boolean =
    m.hasField(f(m.getDescriptorForType, n))

  def toHeartbeat(m: DynamicMessage): Heartbeat = Heartbeat(i64(m, "timestamp"))

  private def toRecordId(m: DynamicMessage): RecordId =
    RecordId(str(m, "topic"), i32(m, "partition"), i64(m, "offset"))

  private def toRecordAck(m: DynamicMessage): RecordAck =
    RecordAck(reps(m, "record_ids").map(toRecordId), bool(m, "success"), str(m, "error_message"))

  private def toKafkaRecord(m: DynamicMessage): KafkaRecord =
    KafkaRecord(str(m, "topic"), i32(m, "partition"), i64(m, "offset"),
      new java.sql.Timestamp(i64(m, "timestamp")), bytes(m, "key"), bytes(m, "value"),
      mapField(m, "headers"))

  private def toRecordBatch(m: DynamicMessage): RecordBatch =
    RecordBatch(reps(m, "records").map(toKafkaRecord))

  private def toConnectorConfig(m: DynamicMessage): ConnectorConfig =
    ConnectorConfig(str(m, "connector_class"), str(m, "name"),
      mapField(m, "config"), i32(m, "tasks_max"))

  def toConfigRequest(m: DynamicMessage): ConfigRequest = ConfigRequest(str(m, "connector_name"))
  def toStatusRequest(m: DynamicMessage): StatusRequest = StatusRequest(str(m, "connector_name"))
  def toConfigUpdateRequest(m: DynamicMessage): ConfigUpdateRequest =
    ConfigUpdateRequest(toConnectorConfig(sub(m, "config")))

  def toSinkRequest(m: DynamicMessage): SinkRequest =
    if (has(m, "heartbeat")) SinkRequest.Beat(toHeartbeat(sub(m, "heartbeat")))
    else if (has(m, "record_batch")) SinkRequest.Push(toRecordBatch(sub(m, "record_batch")))
    else if (has(m, "flush")) SinkRequest.Flush(FlushRequest(str(sub(m, "flush"), "request_id")))
    else throw new IllegalArgumentException("empty SinkRequest oneof")

  def toSourceRequest(m: DynamicMessage): SourceRequest =
    if (has(m, "heartbeat")) SourceRequest.Beat(toHeartbeat(sub(m, "heartbeat")))
    else if (has(m, "ack")) SourceRequest.Ack(toRecordAck(sub(m, "ack")))
    else if (has(m, "commit"))
      SourceRequest.Commit(OffsetCommit(reps(sub(m, "commit"), "record_ids").map(toRecordId)))
    else throw new IllegalArgumentException("empty SourceRequest oneof")

  // ---- service registration ----------------------------------------------

  /** Register all five verbs against a [[ConnectorService]]. The bidi
    * streams dispatch PER MESSAGE through the service's iterator form
    * (`flatMap` semantics — each request's responses are independent of
    * the iterator chunking, so single-message iterators are exact).
    */
  def serviceDefinition(service: ConnectorService): ServerServiceDefinition = {
    def unary(f: DynamicMessage => DynamicMessage) =
      ServerCalls.asyncUnaryCall(new ServerCalls.UnaryMethod[DynamicMessage, DynamicMessage] {
        override def invoke(req: DynamicMessage, obs: StreamObserver[DynamicMessage]): Unit =
          try { obs.onNext(f(req)); obs.onCompleted() }
          catch { case e: Exception => obs.onError(
            org.sparkproject.connect.grpc.Status.INTERNAL
              .withDescription(String.valueOf(e.getMessage)).asRuntimeException()) }
      })

    // onStreamEnd fires on BOTH teardown paths — graceful onCompleted and
    // onError (which is where a client cancel / network drop surfaces on
    // the server's inbound observer) — so delivery state can rewind to the
    // committed offsets no matter how the stream died
    def bidi(handle: DynamicMessage => Iterator[DynamicMessage],
             onStreamEnd: () => Unit = () => ()) =
      ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[DynamicMessage, DynamicMessage] {
          override def invoke(obs: StreamObserver[DynamicMessage]): StreamObserver[DynamicMessage] =
            new StreamObserver[DynamicMessage] {
              override def onNext(req: DynamicMessage): Unit =
                try handle(req).foreach(obs.onNext)
                catch { case e: Exception => obs.onError(
                  org.sparkproject.connect.grpc.Status.INTERNAL
                    .withDescription(String.valueOf(e.getMessage)).asRuntimeException()) }
              override def onError(t: Throwable): Unit = onStreamEnd()
              override def onCompleted(): Unit = {
                onStreamEnd()
                obs.onCompleted()
              }
            }
        })

    // the schema supplier is what makes server REFLECTION work
    // (`main.rs:106-109` parity): grpcurl-style clients list the service
    // and fetch this exact runtime-built descriptor
    val schema = new org.sparkproject.connect.grpc.protobuf.ProtoFileDescriptorSupplier
        with org.sparkproject.connect.grpc.protobuf.ProtoServiceDescriptorSupplier {
      override def getFileDescriptor: Descriptors.FileDescriptor =
        ConnectorProto.fileDescriptor
      override def getServiceDescriptor: Descriptors.ServiceDescriptor =
        ConnectorProto.serviceDescriptor
    }
    val sd = org.sparkproject.connect.grpc.ServiceDescriptor
      .newBuilder("kafka.connect.ConnectorService")
      .setSchemaDescriptor(schema)
      .addMethod(getStatusMethod).addMethod(getConfigMethod)
      .addMethod(updateConfigMethod).addMethod(sinkStreamMethod)
      .addMethod(sourceStreamMethod)
      .build()

    ServerServiceDefinition.builder(sd)
      .addMethod(getStatusMethod,
        unary(m => statusResponseMsg(service.getStatus(toStatusRequest(m)))))
      .addMethod(getConfigMethod,
        unary(m => configResponseMsg(service.getConfig(toConfigRequest(m)))))
      .addMethod(updateConfigMethod,
        unary(m => configResponseMsg(service.updateConfig(toConfigUpdateRequest(m)))))
      // one service invocation per inbound wire message — sound because
      // the ConnectorService trait CONTRACT (see its scaladoc) requires
      // bidi verbs to be per-message stateless, with cross-message state
      // held behind the verb (engine/PushService), never in the iterator
      .addMethod(sinkStreamMethod,
        bidi(m => service.sinkStream(Iterator.single(toSinkRequest(m))).map(sinkResponseMsg)))
      .addMethod(sourceStreamMethod,
        bidi(m => service.sourceStream(Iterator.single(toSourceRequest(m))).map(sourceResponseMsg),
          onStreamEnd = () => service.onSourceDisconnect()))
      .build()
  }
}

/** The gRPC control-plane server — the reference daemon's primary wire
  * (`main.rs:101-127` binds tonic on `tcp_address`). Loopback by default
  * for the same reason as [[ControlServer]]: the proto has no auth and
  * `UpdateConfig` re-points ingestion.
  */
final class GrpcControlServer(service: ConnectorService, port: Int,
                              host: String = "127.0.0.1") {
  @volatile private var server: org.sparkproject.connect.grpc.Server = null

  /** Bind and serve; returns the actual port (0 picks a free one). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    server = NettyServerBuilder
      .forAddress(new java.net.InetSocketAddress(host, port))
      .addService(GrpcWire.serviceDefinition(service))
      // reflection, as the reference daemon enables it (`main.rs:106-109`)
      .addService(org.sparkproject.connect.grpc.protobuf.services
        .ProtoReflectionServiceV1.newInstance())
      .build().start()
    server.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      server.shutdownNow()
      server.awaitTermination()
      server = null
    }
  }
}

/** gRPC over the UNIX socket — full `main.rs:128-157` parity (the
  * reference serves the same tonic service on `unix_socket_path`).
  * grpc-netty's UDS support needs the epoll native transport; the Spark
  * distribution ships it for this platform
  * (`netty-transport-native-epoll-*-linux-x86_64.jar` on the same
  * unmanaged classpath). Callers must gate on [[GrpcUdsControlServer
  * .available]] — non-epoll platforms serve JSON lines on the socket
  * path instead ([[ControlServer]] on a unix address).
  */
final class GrpcUdsControlServer(service: ConnectorService,
                                 socketPath: java.nio.file.Path) {
  import io.netty.channel.epoll.{EpollEventLoopGroup, EpollServerDomainSocketChannel}

  @volatile private var server: org.sparkproject.connect.grpc.Server = null
  private var boss: EpollEventLoopGroup = null
  private var worker: EpollEventLoopGroup = null

  def start(): java.nio.file.Path = synchronized {
    require(server == null, "already started")
    if (socketPath.getParent != null)
      java.nio.file.Files.createDirectories(socketPath.getParent)
    // stale-socket recovery with a liveness probe: refuses to hijack a
    // socket a live daemon still answers on (see reclaimStaleSocket)
    ControlServer.reclaimStaleSocket(socketPath)
    boss = new EpollEventLoopGroup(1)
    worker = new EpollEventLoopGroup()
    server = NettyServerBuilder
      .forAddress(new io.netty.channel.unix.DomainSocketAddress(socketPath.toString))
      .channelType(classOf[EpollServerDomainSocketChannel])
      .bossEventLoopGroup(boss)
      .workerEventLoopGroup(worker)
      .addService(GrpcWire.serviceDefinition(service))
      .addService(org.sparkproject.connect.grpc.protobuf.services
        .ProtoReflectionServiceV1.newInstance())
      .build().start()
    socketPath
  }

  /** Stop serving; the socket file is deleted only if this instance bound
    * it, so stopping a server whose `start()` was refused leaves a live
    * daemon's socket alone.
    */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.shutdownNow()
      server.awaitTermination()
      server = null
      boss.shutdownGracefully(); worker.shutdownGracefully()
      boss = null; worker = null
      java.nio.file.Files.deleteIfExists(socketPath)
    }
  }
}

object GrpcUdsControlServer {
  /** Whether the epoll native transport loads on this platform. */
  def available: Boolean =
    try io.netty.channel.epoll.Epoll.isAvailable
    catch { case _: Throwable => false }
}

/** Minimal generic client over the same shaded runtime — what the tests
  * use to drive the real wire end-to-end (HTTP/2 over loopback or a unix
  * socket, binary proto3); a stand-in for the reference's python/tonic
  * clients.
  */
object GrpcControlClient {
  def channel(host: String, port: Int): ManagedChannel =
    NettyChannelBuilder.forAddress(host, port).usePlaintext().build()

  /** UDS channel (epoll platforms only — see [[GrpcUdsControlServer]]). */
  def udsChannel(socketPath: java.nio.file.Path): ManagedChannel = {
    import io.netty.channel.epoll.{EpollDomainSocketChannel, EpollEventLoopGroup}
    NettyChannelBuilder
      .forAddress(new io.netty.channel.unix.DomainSocketAddress(socketPath.toString))
      .channelType(classOf[EpollDomainSocketChannel])
      .eventLoopGroup(new EpollEventLoopGroup())
      .usePlaintext().build()
  }

  def unary(ch: ManagedChannel, m: MethodDescriptor[DynamicMessage, DynamicMessage],
            req: DynamicMessage): DynamicMessage =
    ClientCalls.blockingUnaryCall(ch, m, CallOptions.DEFAULT, req)
}
