package graftbench

import java.io.File
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel}
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{ByteString, Descriptors, DynamicMessage}

import graft.model.{Format, KafkaRecord, PartitionerKind, SinkConfig}
import graft.sinks.FileSink
import graft.streaming.{ConnectorService, Engine, GrpcControlClient, GrpcControlServer,
  InProcessConnectorService, PushService, Wire}

/** `grpc_ack`, closed loop over the real wire: `GrpcControlServer` on
  * loopback serving an `InProcessConnectorService` over a `PushService`,
  * whose sink query is wired the way the service tests wire it —
  * ProcessingTime(0), `FileSink.writeBatch` (parquet, time partitioner),
  * then `ackOnCommit`. Each client stream repeats: push one 100-record
  * RecordBatch, send Flush, wait for Flushed. `streams` concurrent streams,
  * each on its own connection.
  */
object GrpcAck {
  val BatchRecords = 100
  val BringUps = 3
  val WarmupTrips = 25
  val TimeoutMs = 30000L

  final case class RecId(partition: Int, offset: Long)

  /** Record timestamps (epoch ms) start here and advance 10 s a round
    * trip; the time partitioner files them by hour.
    */
  private val baseTs = 1710000000000L

  /** The server-side verb timer of the traced run: a delegating
    * `ConnectorService` that spans each Push and Flush of `sinkStream`.
    */
  final class TracedService(inner: ConnectorService, tracer: Tracer) extends ConnectorService {
    override def sinkStream(requests: Iterator[Wire.SinkRequest]): Iterator[Wire.SinkResponse] =
      requests.flatMap {
        case r @ Wire.SinkRequest.Push(b) =>
          val id = b.records.headOption.map(x => s"p${x.partition}o${x.offset}").getOrElse("")
          tracer.span("streaming", "sinkStream.push", id, tracer.parentOf(id))(
            inner.sinkStream(Iterator(r)).toList)
        case r @ Wire.SinkRequest.Flush(f) =>
          tracer.span("streaming", "sinkStream.flush", f.requestId, tracer.parentOf(f.requestId))(
            inner.sinkStream(Iterator(r)).toList)
        case r => inner.sinkStream(Iterator(r)).toList
      }
    override def sourceStream(r: Iterator[Wire.SourceRequest]) = inner.sourceStream(r)
    override def getConfig(r: Wire.ConfigRequest) = inner.getConfig(r)
    override def updateConfig(r: Wire.ConfigUpdateRequest) = inner.updateConfig(r)
    override def getStatus(r: Wire.StatusRequest) = inner.getStatus(r)
  }

  private def msg(name: String) = graft.streaming.ConnectorProto.messageType(name)
  private def fd(d: Descriptors.Descriptor, n: String) = d.findFieldByName(n)

  def pushMsg(records: Seq[KafkaRecord]): DynamicMessage = {
    val kd = msg("KafkaRecord"); val hd = kd.findNestedTypeByName("HeadersEntry")
    val bd = msg("RecordBatch"); val sd = msg("SinkRequest")
    val b = DynamicMessage.newBuilder(bd)
    records.foreach { r =>
      val k = DynamicMessage.newBuilder(kd)
        .setField(fd(kd, "topic"), r.topic)
        .setField(fd(kd, "partition"), Int.box(r.partition))
        .setField(fd(kd, "offset"), Long.box(r.offset))
        .setField(fd(kd, "timestamp"), Long.box(r.timestamp.getTime))
        .setField(fd(kd, "value"), ByteString.copyFrom(r.value))
      if (r.key != null) k.setField(fd(kd, "key"), ByteString.copyFrom(r.key))
      r.headers.foreach { case (hk, hv) =>
        k.addRepeatedField(fd(kd, "headers"), DynamicMessage.newBuilder(hd)
          .setField(fd(hd, "key"), hk).setField(fd(hd, "value"), hv).build())
      }
      b.addRepeatedField(fd(bd, "records"), k.build())
    }
    DynamicMessage.newBuilder(sd).setField(fd(sd, "record_batch"), b.build()).build()
  }

  def flushMsg(id: String): DynamicMessage = {
    val fdsc = msg("FlushRequest"); val sd = msg("SinkRequest")
    DynamicMessage.newBuilder(sd).setField(fd(sd, "flush"),
      DynamicMessage.newBuilder(fdsc).setField(fd(fdsc, "request_id"), id).build()).build()
  }

  /** One client stream on its own connection. */
  final class Client(port: Int) {
    val channel: ManagedChannel = GrpcControlClient.channel("127.0.0.1", port)
    /** Every id acked on this stream, round trip or not. */
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[RecId]()
    private val inbox = new LinkedBlockingQueue[Either[Throwable, DynamicMessage]]()
    private val out = ClientCalls.asyncBidiStreamingCall(
      channel.newCall(graft.streaming.GrpcWire.sinkStreamMethod, CallOptions.DEFAULT),
      new StreamObserver[DynamicMessage] {
        override def onNext(v: DynamicMessage): Unit = inbox.put(Right(v))
        override def onError(t: Throwable): Unit = inbox.put(Left(t))
        override def onCompleted(): Unit = ()
      })

    /** Push, Flush, wait for Flushed. Returns the acked ids, or an error. */
    def roundTrip(records: Seq[KafkaRecord], id: String): Either[String, Seq[RecId]] = {
      out.onNext(pushMsg(records))
      out.onNext(flushMsg(id))
      val ids = Seq.newBuilder[RecId]
      val deadline = System.currentTimeMillis() + TimeoutMs
      while (true) {
        val left = deadline - System.currentTimeMillis()
        val m = if (left <= 0) null else inbox.poll(left, TimeUnit.MILLISECONDS)
        m match {
          case null => return Left("timed out waiting for Flushed")
          case Left(t) => return Left(s"stream error: $t")
          case Right(v) =>
            def sub(n: String) = v.getField(fd(v.getDescriptorForType, n)).asInstanceOf[DynamicMessage]
            def has(n: String) = v.hasField(fd(v.getDescriptorForType, n))
            if (has("ack")) {
              val a = sub("ack")
              a.getField(fd(a.getDescriptorForType, "record_ids")).asInstanceOf[java.util.List[_]]
                .asScala.foreach { x =>
                  val r = x.asInstanceOf[DynamicMessage]; val d = r.getDescriptorForType
                  val id = RecId(r.getField(fd(d, "partition")).asInstanceOf[Int],
                    r.getField(fd(d, "offset")).asInstanceOf[Long])
                  ids += id; acked.add(id)
                }
            } else if (has("error")) {
              val e = sub("error")
              return Left("connector error: " + e.getField(fd(e.getDescriptorForType, "error_message")))
            } else if (has("flush_response")) {
              val f = sub("flush_response"); val d = f.getDescriptorForType
              if (f.getField(fd(d, "request_id")) == id) {
                return if (f.getField(fd(d, "success")) == true) Right(ids.result())
                else Left("flush failed: " + f.getField(fd(d, "error_message")))
              }
            }
        }
      }
      Left("unreachable")
    }

    def close(): Unit = {
      try out.onCompleted() catch { case _: Exception => () }
      channel.shutdownNow(); channel.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  /** One brought-up data plane: push service, sink query, server, clients. */
  final case class Plane(push: PushService, query: StreamingQuery, server: GrpcControlServer,
                         clients: Seq[Client], root: File)

  final case class Trip(stream: Int, n: Int, startMs: Double, endMs: Double,
                        sent: Seq[RecId], acked: Either[String, Seq[RecId]])

  def run(ctx: Ctx, streams: Int): Unit = {
    import ctx._
    val gen = new Records(seed)
    val log = new ProgressLog(tracer)
    spark.streams.addListener(log)
    val sinkCfg = SinkConfig(bucketName = "bench", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    val writeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val pushed = new java.util.concurrent.ConcurrentLinkedQueue[KafkaRecord]()
    var tripNo = 0
    def records(): Seq[KafkaRecord] = synchronized {
      tripNo += 1
      val rs = gen.batch(BatchRecords, baseTs + tripNo * 10000L)
      rs.foreach(pushed.add)
      rs
    }

    def bringUp(i: Int): Plane = {
      val push = new PushService(spark)
      val root = new File(work, s"sink$i")
      val query = push.records.writeStream
        .queryName(s"grpc-sink$i")
        .option("checkpointLocation", new File(work, s"ckpt$i").getPath)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = tracer.nowMs
          tracer.span("sinks", "FileSink.writeBatch", s"mb-$id") {
            FileSink.writeBatch(batch, sinkCfg, root.getPath)
          }
          writeMs.add(tracer.nowMs - t0)
          push.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
            .map(r => push.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
        }.start()
      val engine = Engine.fromConfigJson(spark,
        """{"kafka": {"bootstrap_servers": []}, "connectors": [
          |{"name": "grpc-sink", "connector_class": "graft.FileSinkConnector",
          | "connector_type": "sink", "topics": ["bench"],
          | "config": {"s3.bucket.name": "bench", "format.class": "parquet",
          |   "partitioner.class": "time"}}]}""".stripMargin,
        root.getPath, new File(work, s"engine$i").getPath)
      val service = InProcessConnectorService(engine, push, () => query)
      val server = new GrpcControlServer(
        if (tracer.enabled) new TracedService(service, tracer) else service, port = 0)
      val port = server.start()
      Plane(push, query, server, Seq.fill(streams)(new Client(port)), root)
    }
    def tearDown(p: Plane): Unit = {
      p.clients.foreach(_.close()); p.server.stop(); p.query.stop()
    }

    // set-up, repeated: the data plane, its sink query, the server and the
    // client connections, up to the first acked round trip
    var plane: Plane = null
    val bringUps = (0 until BringUps).map { i =>
      if (plane != null) tearDown(plane)
      pushed.clear()
      val t0 = tracer.nowMs
      plane = bringUp(i)
      plane.clients.foreach(c => require(c.roundTrip(records(), s"up$i").isRight,
        s"bring-up $i: first round trip failed"))
      tracer.nowMs - t0
    }
    (0 until WarmupTrips).foreach(n => plane.clients.head.roundTrip(records(), s"warm$n"))
    result.metric("setup_s",
      ((tracer.nowMs - jvmStartMs) - bringUps.sum + Stats.median(bringUps)) / 1000)
    result.notes("bring_up_s") = bringUps.map(_ / 1000)
    writeMs.clear()
    result.mark("setup")
    result.flush()

    // closed loop: every stream sends its next round trip when the last
    // one returned, until the phase time is up
    val trips = new java.util.concurrent.ConcurrentLinkedQueue[Trip]()
    val t0 = tracer.nowMs
    val stopAt = t0 + seconds * 1000.0
    val pool = Executors.newFixedThreadPool(streams)
    val futures = plane.clients.zipWithIndex.map { case (c, s) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          var n = 0
          while (tracer.nowMs < stopAt) {
            val recs = records()
            val id = s"rt-$s-$n"
            result.attempt(1)
            val a = tracer.nowMs
            val sid = tracer.newId()
            tracer.publish(id, sid)
            recs.headOption.foreach(r => tracer.publish(s"p${r.partition}o${r.offset}", sid))
            val acked = tracer.span("grpc", "roundtrip", id, id = sid)(c.roundTrip(recs, id))
            trips.add(Trip(s, n, a, tracer.nowMs, recs.map(r => RecId(r.partition, r.offset)), acked))
            n += 1
          }
        }
      })
    }
    futures.foreach(f => try f.get() catch { case e: Exception => result.incorrect(s"client: $e") })
    pool.shutdown()
    val elapsedS = (tracer.nowMs - t0) / 1000
    val all = trips.asScala.toSeq
    val phase = if (streams == 1) "c1" else s"c$streams"
    val ok = all.filter(_.acked.isRight)
    // a failed round trip misses every latency limit
    val lat = all.map(t => if (t.acked.isRight) t.endMs - t.startMs else Double.PositiveInfinity)
    result.metric(s"ack_p50_ms_$phase", Stats.median(lat), lat.size)
    result.metric(s"ack_p90_ms_$phase", Stats.pct(lat, 90), lat.size)
    result.metric(s"acked_rps_$phase", ok.size * BatchRecords / elapsedS, ok.size)
    result.notes("errors") = all.flatMap(_.acked.left.toOption).distinct.take(5)
    result.notes("trip_ms") = all.sortBy(_.startMs).map(t => math.round(t.endMs - t.startMs))
    result.mark(phase)
    result.flush()

    if (tracer.enabled) layers(ctx, log, plane, all, writeMs.asScala.toSeq)
    val died = plane.query.exception.map(_.toString)
    tearDown(plane)
    died.foreach(e => result.incorrect(s"sink query terminated: $e"))
    check(ctx, plane.root, pushed.asScala.toSeq, plane.clients.flatMap(_.acked.asScala), all)
  }

  /** The output check. Acks are global deltas (`PushService.flush` reports
    * whatever committed since the previous flush, whichever stream asked),
    * so the union of acked ids across streams must equal the pushed ids,
    * with no id acked twice; and the parquet read-back must equal the
    * pushed records. A round trip fails if it errored or any of its ids is
    * missing from the acks or the read-back.
    */
  def check(ctx: Ctx, root: File, pushed: Seq[KafkaRecord], ackedAll: Seq[RecId],
            trips: Seq[Trip]): Unit = {
    import ctx._
    val sent = pushed.map(r => RecId(r.partition, r.offset))
    val (ackBad, dupes) = Checks.ackDiff(sent, ackedAll)
    // proto3 bytes fields have no null: a record pushed without a key
    // crosses the wire, and lands in the sink, with an empty one, so null
    // and empty keys compare equal
    val want = pushed.map(r =>
      RecId(r.partition, r.offset) -> Seq(Option(r.key).getOrElse(Array.emptyByteArray), r.value))
    val got = spark.read.parquet(root.getPath).select("partition", "offset", "key", "value")
      .collect().map(r => RecId(r.getInt(0), r.getLong(1)) ->
        Seq(Option(r.getAs[Array[Byte]](2)).getOrElse(Array.emptyByteArray), r.getAs[Array[Byte]](3))).toSeq
    val readBad = Checks.multisetDiff(want, got)
    val failedTrips = trips.count(t => t.acked.isLeft ||
      t.sent.exists(id => ackBad.contains(id) || readBad.contains(id)))
    result.fail(failedTrips)
    if (ackBad.nonEmpty || dupes > 0)
      result.incorrect(s"acks differ from pushed ids at ${ackBad.size} ids; $dupes ids acked twice")
    if (readBad.nonEmpty)
      result.incorrect(s"parquet read-back differs from pushed records at ${readBad.size} ids")
    if (trips.exists(_.acked.isLeft)) result.incorrect(s"${trips.count(_.acked.isLeft)} round trips errored")
  }

  private def layers(ctx: Ctx, log: ProgressLog, plane: Plane, trips: Seq[Trip],
                     writeMs: Seq[Double]): Unit = {
    import ctx._
    val l = result.layers
    val spans = tracer.spans.asScala.toSeq
    val flushes = spans.filter(_.name == "sinkStream.flush").map(s => s.traceId -> s).toMap
    val pushes = spans.filter(_.name == "sinkStream.push").map(s => s.traceId -> s).toMap
    l("streaming.push_ms") = Stats.mean(pushes.values.map(_.durMs).toSeq)
    l("streaming.flush_ms") = Stats.mean(flushes.values.map(_.durMs).toSeq)
    l("grpc.wire_ms") = Stats.mean(trips.flatMap { t =>
      val id = s"rt-${t.stream}-${t.n}"
      val p = t.sent.headOption.flatMap(r => pushes.get(s"p${r.partition}o${r.offset}"))
      flushes.get(id).map(f => (t.endMs - t.startMs) - f.durMs - p.map(_.durMs).getOrElse(0.0))
    })
    l("sinks.write_ms") = Stats.mean(writeMs)
    val qid = plane.query.id.toString
    val progress = log.of(qid).filter(_.rows > 0)
    l("streaming.batches") = progress.size
    l("streaming.rows_per_batch") = Stats.mean(progress.map(_.rows.toDouble))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .foreach(k => l(s"streaming.${k}_ms") = Stats.mean(progress.map(_.durations.getOrElse(k, 0.0))))
    val files = Checks.dataFiles(plane.root)
    l("sinks.files_per_batch") = files.size.toDouble / progress.size.max(1)
    l("sinks.bytes_per_batch") = files.map(_.length).sum.toDouble / progress.size.max(1)
    l ++= Tracer.sparkLayers(progress.map { p =>
      val e = p.startMs + p.durations.getOrElse("triggerExecution", 0.0)
      (p.startMs, e, tracer.jobsOfBatch(qid, p.batchId), tracer.execsIn(p.startMs, e))
    })
  }
}
