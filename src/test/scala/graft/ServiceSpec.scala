package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.model.{Format, KafkaRecord, SinkConfig}
import graft.streaming.{Engine, InProcessConnectorService, PushService, Wire}

/** Drives the transport-agnostic ConnectorService (the vendored proto's
  * verbs) end-to-end, and boots the daemon assembly (file source → json
  * sink) the way `graft.Main` does.
  */
class ServiceSpec extends SparkSpec {
  import Wire._

  private def rec(offset: Long, v: String) =
    KafkaRecord("push-topic", 0, offset, new java.sql.Timestamp(1700000000000L + offset),
      "k".getBytes("UTF-8"), v.getBytes("UTF-8"), Map.empty)

  private def engineConfig(sourceClass: String, sourcePath: String = "") =
    s"""{
       |  "tcp_address": "0.0.0.0:50051",
       |  "kafka": {"bootstrap_servers": ["kafka:9092"], "group_id": "g"},
       |  "connectors": [
       |    {"name": "src-1", "connector_class": "$sourceClass",
       |     "connector_type": "source", "tasks_max": 1, "topics": ["file-topic"],
       |     "config": {"path": "$sourcePath"}},
       |    {"name": "sink-1", "connector_class": "graft.FileSinkConnector",
       |     "connector_type": "sink", "tasks_max": 2, "topics": ["file-topic"],
       |     "config": {"s3.bucket.name": "b", "s3.prefix": "data",
       |       "format.class": "json", "partitioner.class": "default",
       |       "flush.size": "100"}}
       |  ]
       |}""".stripMargin

  /** The two address families the JSON-lines control server binds. */
  private def controlAddresses(dir: java.nio.file.Path): Seq[java.net.SocketAddress] = Seq(
    new java.net.InetSocketAddress("127.0.0.1", 0),
    java.net.UnixDomainSocketAddress.of(dir.resolve("control.sock")))

  /** One JSON-lines connection to `address`, TCP or unix. */
  private final class LineClient(address: java.net.SocketAddress) {
    import java.nio.charset.StandardCharsets.UTF_8
    private val ch = java.nio.channels.SocketChannel.open(address)
    private val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      java.nio.channels.Channels.newOutputStream(ch), UTF_8), true)
    private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      java.nio.channels.Channels.newInputStream(ch), UTF_8))

    /** Send one request line; the reply line, or null at end of stream. */
    def ask(line: String): String = { out.println(line); in.readLine() }
    def close(): Unit = ch.close()
  }

  test("sink stream: heartbeat echoes, push is unacked, flush acks committed ids") {
    val svc = new PushService(spark)
    val root = Files.createTempDirectory("graft-svc").toString
    val ckpt = Files.createTempDirectory("graft-svc-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    val q = svc.records.writeStream
      .queryName("graft-svc-sink")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.FileSink.writeBatch(batch, cfg, root)
        svc.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
          .map(r => svc.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
      }.start()
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, ckpt)
    val service = InProcessConnectorService(engine, svc, () => q)
    try {
      val responses = service.sinkStream(Iterator(
        SinkRequest.Beat(Heartbeat(7L)),
        SinkRequest.Push(RecordBatch(Seq(rec(0, "a"), rec(1, "b")))),
        SinkRequest.Flush(FlushRequest("f-1")))).toList
      assert(responses.head == SinkResponse.Beat(Heartbeat(7L)))
      responses(1) match {
        case SinkResponse.Ack(ack) =>
          assert(ack.success)
          assert(ack.recordIds.map(_.offset).sorted == Seq(0L, 1L))
        case other => fail(s"expected commit-time Ack, got $other")
      }
      assert(responses(2) == SinkResponse.Flushed(FlushResponse("f-1", success = true)))
      // a second push+flush acks ONLY the new ids — no cumulative re-ack
      val second = service.sinkStream(Iterator(
        SinkRequest.Push(RecordBatch(Seq(rec(2, "c")))),
        SinkRequest.Flush(FlushRequest("f-2")))).toList
      second.head match {
        case SinkResponse.Ack(ack) => assert(ack.recordIds.map(_.offset) == Seq(2L))
        case other => fail(s"expected delta Ack, got $other")
      }
    } finally q.stop()
  }

  test("concurrent pushes from 4 threads reach the sink intact (pushes serialize)") {
    val svc = new PushService(spark)
    val root = Files.createTempDirectory("graft-svc-conc").toString
    val ckpt = Files.createTempDirectory("graft-svc-conc-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    val q = svc.records.writeStream
      .queryName("graft-svc-concurrent")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.FileSink.writeBatch(batch, cfg, root)
        svc.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
          .map(r => svc.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
      }.start()
    val (threads, batches, batchSize) = (4, 40, 100)
    def recAt(t: Int, b: Int, i: Int) = {
      val offset = (t.toLong * batches + b) * batchSize + i
      KafkaRecord("push-topic", t, offset, new java.sql.Timestamp(1700000000000L + offset),
        s"k$offset".getBytes("UTF-8"), ("""{"v":"""" + ("x" * (i % 40)) + s"""-$offset"}""")
          .getBytes("UTF-8"), Map("content-type" -> "application/json"))
    }
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val workers = (0 until threads).map { t =>
        val th = new Thread(() =>
          try {
            start.await()
            (0 until batches).foreach(b => svc.push((0 until batchSize).map(recAt(t, b, _))))
          } catch { case e: Throwable => failures.add(e) })
        th.start(); th
      }
      start.countDown()
      workers.foreach(_.join(60000))
      assert(failures.isEmpty, failures.asScala.mkString("; "))
      val acked = svc.flush(q)
      assert(acked.size == threads * batches * batchSize, "every pushed id acked")
      assert(acked.map(_.offset).sorted == (0L until threads.toLong * batches * batchSize),
        "each id acked exactly once")
      assert(svc.flush(q).isEmpty && svc.unreportedCount == 0)
      val expected = (for (t <- 0 until threads; b <- 0 until batches; i <- 0 until batchSize)
        yield { val r = recAt(t, b, i); (r.partition, r.offset, new String(r.value, "UTF-8")) }).sorted
      val back = spark.read.parquet(root).select("partition", "offset", "value").collect()
        .map(r => (r.getInt(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8")))
        .toSeq.sorted
      assert(back.size == expected.size, s"read back ${back.size} of ${expected.size}")
      assert(back == expected)
    } finally q.stop()
  }

  test("flush hands each committed id over once and the service keeps none after it") {
    val svc = new PushService(spark)
    val root = Files.createTempDirectory("graft-svc-acks").toString
    val ckpt = Files.createTempDirectory("graft-svc-acks-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    val q = svc.records.writeStream
      .queryName("graft-svc-acks")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.FileSink.writeBatch(batch, cfg, root)
        svc.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
          .map(r => svc.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
      }.start()
    try {
      val (cycles, batchSize) = (5, 20)
      (0 until cycles).foreach { k =>
        val offsets = (k * batchSize until (k + 1) * batchSize).map(_.toLong)
        svc.push(offsets.map(o => rec(o, s"v$o")))
        assert(svc.flush(q).map(_.offset).sorted == offsets, s"cycle $k acks its own ids")
        assert(svc.unreportedCount == 0, s"cycle $k: reported ids are released")
      }
      assert(svc.flush(q).isEmpty, "nothing is re-acked")
    } finally q.stop()
  }

  test("config and status verbs over a live engine") {
    val root = Files.createTempDirectory("graft-svc2").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val svc = new PushService(spark)
    val service = InProcessConnectorService(engine, svc,
      () => fail("no sink query in this test"))

    val got = service.getConfig(ConfigRequest("sink-1"))
    assert(got.config.exists(c => c.connectorClass == "graft.FileSinkConnector"
      && c.config("flush.size") == "100"))
    assert(service.getConfig(ConfigRequest("nope")).config.isEmpty)

    // unknown connector: error message, state Unknown
    val missing = service.getStatus(StatusRequest("ghost"))
    assert(missing.state == State.Unknown && missing.errorMessage.nonEmpty)
    // registered but never started: Unassigned, one task status
    val st = service.getStatus(StatusRequest("src-1"))
    assert(st.state == State.Unassigned && st.tasks == Seq(TaskStatus(0, State.Unassigned, "graft-0")))

    // UpdateConfig swaps just the named connector and re-registers
    val updated = service.updateConfig(ConfigUpdateRequest(
      ConnectorConfig("graft.FileSinkConnector", "sink-1",
        got.config.get.config.updated("flush.size", "25"), tasksMax = 2)))
    assert(updated.config.exists(_.config("flush.size") == "25"))
    assert(engine.config.exists(_.connectors.find(_.name == "sink-1")
      .exists(_.config("flush.size") == "25")))

    // UpdateConfig for an unknown name is a PURE no-op: None back, registry
    // untouched — it must not reach engine.updateConfig, which would stop
    // and re-register every connector as the side effect of a failed lookup
    val before = engine.config
    val noop = service.updateConfig(ConfigUpdateRequest(
      ConnectorConfig("graft.FileSinkConnector", "ghost", Map.empty, tasksMax = 1)))
    assert(noop.config.isEmpty)
    assert(engine.config == before)
  }

  test("concurrent update_config requests leave a consistent registry") {
    val root = Files.createTempDirectory("graft-conc").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 32).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            service.updateConfig(ConfigUpdateRequest(ConnectorConfig(
              "graft.FileSinkConnector", "sink-1",
              Map("s3.bucket.name" -> "b", "format.class" -> "json",
                "flush.size" -> i.toString), tasksMax = 2))): Unit
        })
      }
      tasks.foreach(_.get())
      // registry must reflect exactly one of the racing configs, with the
      // connector set intact (no mixed/partial state)
      val cfg = engine.config.get
      assert(cfg.connectors.map(_.name).sorted == Seq("sink-1", "src-1"))
      val flush = cfg.connectors.find(_.name == "sink-1").get.config("flush.size").toInt
      assert(flush >= 1 && flush <= 32)
      assert(engine.status.keySet == Set("src-1"))
    } finally pool.shutdown()
  }

  test("source stream mirrors the reference's unimplemented surface gracefully") {
    val root = Files.createTempDirectory("graft-svc3").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val out = service.sourceStream(Iterator(SourceRequest.Beat(Heartbeat(1L)))).toList
    assert(out == List(SourceResponse.Err(
      Wire.ConnectorError("SourceStream is not implemented", "UNIMPLEMENTED"))))
  }

  test("source tap: heartbeat drains batches, failed ack redelivers, commit bookkeeps") {
    import graft.streaming.SourceTap
    val root = Files.createTempDirectory("graft-svc-tap").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val tap = new SourceTap(capacity = 2, drainMax = 1)
    val service = new InProcessConnectorService(engine, pushSink = None,
      sourceTap = Some(tap))

    assert(tap.offer(Seq(rec(0, "a"))))
    assert(tap.offer(Seq(rec(1, "b"))))
    assert(!tap.offer(Seq(rec(2, "c"))), "buffer at capacity must refuse (backpressure)")

    // heartbeat = credit for at most drainMax batches, echo first
    val out1 = service.sourceStream(Iterator(SourceRequest.Beat(Heartbeat(5L)))).toList
    assert(out1.head == SourceResponse.Beat(Heartbeat(5L)))
    val batch1 = out1.collect { case SourceResponse.Batch(b) => b }
    assert(batch1.map(_.records.map(_.offset)) == Seq(Seq(0L)), s"drainMax=1, got $out1")
    assert(tap.inFlightCount == 1)

    // failed ack → redelivery at the FRONT, before the still-queued batch
    val nack = RecordAck(Seq(RecordId("push-topic", 0, 0L)), success = false)
    assert(service.sourceStream(Iterator(SourceRequest.Ack(nack))).isEmpty)
    assert(tap.inFlightCount == 0 && tap.buffered == 2)
    val redelivered = service.sourceStream(Iterator(SourceRequest.Beat(Heartbeat(6L))))
      .collect { case SourceResponse.Batch(b) => b.records.map(_.offset) }.toList
    assert(redelivered == List(Seq(0L)), "redelivery must preserve order")

    // successful ack drops the in-flight batch for good
    service.sourceStream(Iterator(SourceRequest.Ack(
      RecordAck(Seq(RecordId("push-topic", 0, 0L)), success = true)))).toList
    assert(tap.inFlightCount == 0 && tap.buffered == 1)

    // commit keeps the per-partition high-water offset
    service.sourceStream(Iterator(SourceRequest.Commit(OffsetCommit(Seq(
      RecordId("push-topic", 0, 0L)))))).toList
    assert(tap.committedOffset("push-topic", 0).contains(0L))
  }

  test("gRPC SourceStream serves buffered batches over the real wire — the working source data plane") {
    import org.sparkproject.connect.protobuf.DynamicMessage
    import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
    import graft.streaming.{ConnectorProto, GrpcControlClient, GrpcControlServer, GrpcWire, SourceTap}
    val root = Files.createTempDirectory("graft-grpc-src").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val tap = new SourceTap()
    val service = new InProcessConnectorService(engine, pushSink = None,
      sourceTap = Some(tap))
    val srv = new GrpcControlServer(service, port = 0)
    val port = srv.start()
    val ch = GrpcControlClient.channel("127.0.0.1", port)
    try {
      tap.offer(Seq(rec(0, "src-a"), rec(1, "src-b")))
      val srcReqD = ConnectorProto.messageType("SourceRequest")
      val hbD = ConnectorProto.messageType("Heartbeat")
      val ackD = ConnectorProto.messageType("RecordAck")
      val ridD = ConnectorProto.messageType("RecordId")
      val beatMsg = DynamicMessage.newBuilder(srcReqD)
        .setField(srcReqD.findFieldByName("heartbeat"),
          DynamicMessage.newBuilder(hbD)
            .setField(hbD.findFieldByName("timestamp"), Long.box(42L)).build())
        .build()
      val ackMsg = {
        val rid = DynamicMessage.newBuilder(ridD)
          .setField(ridD.findFieldByName("topic"), "push-topic")
          .setField(ridD.findFieldByName("partition"), Int.box(0))
          .setField(ridD.findFieldByName("offset"), Long.box(0L)).build()
        val a = DynamicMessage.newBuilder(ackD)
        a.addRepeatedField(ackD.findFieldByName("record_ids"), rid)
        a.setField(ackD.findFieldByName("success"), Boolean.box(true))
        DynamicMessage.newBuilder(srcReqD)
          .setField(srcReqD.findFieldByName("ack"), a.build()).build()
      }

      val got = new java.util.concurrent.LinkedBlockingQueue[DynamicMessage]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val reqObs = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(GrpcWire.sourceStreamMethod,
          org.sparkproject.connect.grpc.CallOptions.DEFAULT),
        new StreamObserver[DynamicMessage] {
          override def onNext(v: DynamicMessage): Unit = got.put(v)
          override def onError(t: Throwable): Unit = done.countDown()
          override def onCompleted(): Unit = done.countDown()
        })
      reqObs.onNext(beatMsg)
      val beat = got.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(beat != null &&
        beat.hasField(beat.getDescriptorForType.findFieldByName("heartbeat")), beat)
      val batch = got.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(batch != null &&
        batch.hasField(batch.getDescriptorForType.findFieldByName("record_batch")), batch)
      val bm = batch.getField(
        batch.getDescriptorForType.findFieldByName("record_batch"))
        .asInstanceOf[DynamicMessage]
      val recs = bm.getField(bm.getDescriptorForType.findFieldByName("records"))
        .asInstanceOf[java.util.List[_]]
      assert(recs.size == 2, s"expected the offered batch over the wire, got $bm")
      reqObs.onNext(ackMsg) // successful ack clears the in-flight batch
      reqObs.onCompleted()
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS))
      assert(tap.inFlightCount == 0 && tap.buffered == 0)
    } finally {
      ch.shutdownNow()
      srv.stop()
    }
  }

  test("SourceStream reconnect resumes delivery after the committed offset") {
    import org.sparkproject.connect.protobuf.DynamicMessage
    import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
    import graft.streaming.{ConnectorProto, GrpcControlClient, GrpcControlServer, GrpcWire, SourceTap}
    val root = Files.createTempDirectory("graft-grpc-resume").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    // drainMax=1: each heartbeat delivers one batch, so batch 1 can be
    // acked+committed while batch 2 is polled-but-unacked at the drop
    val tap = new SourceTap(drainMax = 1)
    val service = new InProcessConnectorService(engine, pushSink = None,
      sourceTap = Some(tap))
    val srv = new GrpcControlServer(service, port = 0)
    val port = srv.start()
    val ch = GrpcControlClient.channel("127.0.0.1", port)
    val srcReqD = ConnectorProto.messageType("SourceRequest")
    val hbD = ConnectorProto.messageType("Heartbeat")
    val ackD = ConnectorProto.messageType("RecordAck")
    val ocD = ConnectorProto.messageType("OffsetCommit")
    val ridD = ConnectorProto.messageType("RecordId")
    def beat(ts: Long) = DynamicMessage.newBuilder(srcReqD)
      .setField(srcReqD.findFieldByName("heartbeat"),
        DynamicMessage.newBuilder(hbD)
          .setField(hbD.findFieldByName("timestamp"), Long.box(ts)).build())
      .build()
    def rid(offset: Long) = DynamicMessage.newBuilder(ridD)
      .setField(ridD.findFieldByName("topic"), "push-topic")
      .setField(ridD.findFieldByName("partition"), Int.box(0))
      .setField(ridD.findFieldByName("offset"), Long.box(offset)).build()
    def ackReq(offset: Long) = {
      val a = DynamicMessage.newBuilder(ackD)
      a.addRepeatedField(ackD.findFieldByName("record_ids"), rid(offset))
      a.setField(ackD.findFieldByName("success"), Boolean.box(true))
      DynamicMessage.newBuilder(srcReqD)
        .setField(srcReqD.findFieldByName("ack"), a.build()).build()
    }
    def commitReq(offset: Long) = {
      val c = DynamicMessage.newBuilder(ocD)
      c.addRepeatedField(ocD.findFieldByName("record_ids"), rid(offset))
      DynamicMessage.newBuilder(srcReqD)
        .setField(srcReqD.findFieldByName("commit"), c.build()).build()
    }
    def openStream() = {
      val got = new java.util.concurrent.LinkedBlockingQueue[DynamicMessage]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val obs = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(GrpcWire.sourceStreamMethod,
          org.sparkproject.connect.grpc.CallOptions.DEFAULT),
        new StreamObserver[DynamicMessage] {
          override def onNext(v: DynamicMessage): Unit = got.put(v)
          override def onError(t: Throwable): Unit = done.countDown()
          override def onCompleted(): Unit = done.countDown()
        })
      (obs, got, done)
    }
    def takeBatchOffsets(got: java.util.concurrent.LinkedBlockingQueue[DynamicMessage]): Seq[Long] = {
      val m = got.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(m != null, "no message before timeout")
      val f = m.getDescriptorForType.findFieldByName("record_batch")
      if (!m.hasField(f)) return takeBatchOffsets(got) // skip heartbeat echo
      val bm = m.getField(f).asInstanceOf[DynamicMessage]
      val rf = bm.getDescriptorForType.findFieldByName("records")
      (0 until bm.getRepeatedFieldCount(rf)).map { i =>
        val r = bm.getRepeatedField(rf, i).asInstanceOf[DynamicMessage]
        r.getField(r.getDescriptorForType.findFieldByName("offset")).asInstanceOf[Long]
      }
    }
    try {
      tap.offer(Seq(rec(0, "a")))
      tap.offer(Seq(rec(1, "b")))
      // connection 1: poll batch 1, ack + commit it, poll batch 2, then
      // DROP the stream with batch 2 still unacked
      val (obs1, got1, done1) = openStream()
      obs1.onNext(beat(1L))
      assert(takeBatchOffsets(got1) == Seq(0L))
      obs1.onNext(ackReq(0L))
      obs1.onNext(commitReq(0L))
      obs1.onNext(beat(2L))
      assert(takeBatchOffsets(got1) == Seq(1L))
      assert(tap.inFlightCount == 1)
      obs1.onError(new RuntimeException("client dropped")) // cancel, not close
      assert(done1.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // teardown rewinds to the committed offset: the unacked batch is
      // queued again, the committed record is not
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
        assert(tap.inFlightCount == 0 && tap.buffered == 1)
      }
      // connection 2: delivery resumes with exactly the unacked record
      val (obs2, got2, done2) = openStream()
      obs2.onNext(beat(3L))
      assert(takeBatchOffsets(got2) == Seq(1L))
      obs2.onNext(ackReq(1L))
      obs2.onCompleted()
      assert(done2.await(10, java.util.concurrent.TimeUnit.SECONDS))
      assert(tap.inFlightCount == 0 && tap.buffered == 0)
    } finally {
      ch.shutdownNow()
      srv.stop()
    }
  }

  test("TCP control plane serves status/config/update as JSON lines") {
    import java.nio.charset.StandardCharsets.UTF_8
    val root = Files.createTempDirectory("graft-ctl").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val srv = new graft.streaming.ControlServer(service,
      new java.net.InetSocketAddress("127.0.0.1", 0))
    val port = srv.start().asInstanceOf[java.net.InetSocketAddress].getPort
    try {
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8), true)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8))
      out.println("""{"verb":"get_status","connector":"src-1"}""")
      val status = in.readLine()
      assert(status.contains("\"state\":\"Unassigned\""), status)
      out.println("""{"verb":"get_config","connector":"sink-1"}""")
      assert(in.readLine().contains("\"connector_class\":\"graft.FileSinkConnector\""))
      out.println("""{"verb":"update_config","config":{"name":"sink-1",
        "connector_class":"graft.FileSinkConnector","tasks_max":3,
        "config":{"s3.bucket.name":"b","format.class":"json"}}}""".replace("\n", " "))
      assert(in.readLine().contains("\"tasks_max\":3"))
      out.println("""{"verb":"nope"}""")
      assert(in.readLine().contains("unknown verb"))
      sock.close()
    } finally srv.stop()
  }

  test("gRPC wire serves all verbs over real HTTP/2 with proto3 binary messages") {
    import org.sparkproject.connect.protobuf.DynamicMessage
    import graft.streaming.{ConnectorProto, GrpcControlClient, GrpcControlServer, GrpcWire}
    val root = Files.createTempDirectory("graft-grpc").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val srv = new GrpcControlServer(service, port = 0)
    val port = srv.start()
    val ch = GrpcControlClient.channel("127.0.0.1", port)
    try {
      // GetStatus: enum + worker id travel as real proto3 fields
      val statusReq = {
        val d = ConnectorProto.messageType("StatusRequest")
        DynamicMessage.newBuilder(d)
          .setField(d.findFieldByName("connector_name"), "src-1").build()
      }
      val status = GrpcControlClient.unary(ch, GrpcWire.getStatusMethod, statusReq)
      val stateField = status.getDescriptorForType.findFieldByName("state")
      assert(status.getField(stateField).toString == "UNASSIGNED", status)

      // GetConfig: the map<string,string> round-trips through MapEntry
      val cfgReq = {
        val d = ConnectorProto.messageType("ConfigRequest")
        DynamicMessage.newBuilder(d)
          .setField(d.findFieldByName("connector_name"), "sink-1").build()
      }
      val cfg = GrpcControlClient.unary(ch, GrpcWire.getConfigMethod, cfgReq)
      val cfgMsg = cfg.getField(cfg.getDescriptorForType.findFieldByName("config"))
        .asInstanceOf[DynamicMessage]
      assert(cfgMsg.getField(cfgMsg.getDescriptorForType.findFieldByName("connector_class"))
        == "graft.FileSinkConnector")

      // UpdateConfig: request carries a nested ConnectorConfig + map
      val upd = {
        val cd = ConnectorProto.messageType("ConnectorConfig")
        val entry = cd.findNestedTypeByName("ConfigEntry")
        val cc = DynamicMessage.newBuilder(cd)
          .setField(cd.findFieldByName("connector_class"), "graft.FileSinkConnector")
          .setField(cd.findFieldByName("name"), "sink-1")
          .setField(cd.findFieldByName("tasks_max"), Int.box(3))
          .addRepeatedField(cd.findFieldByName("config"),
            DynamicMessage.newBuilder(entry)
              .setField(entry.findFieldByName("key"), "s3.bucket.name")
              .setField(entry.findFieldByName("value"), "b").build())
          .build()
        val d = ConnectorProto.messageType("ConfigUpdateRequest")
        DynamicMessage.newBuilder(d).setField(d.findFieldByName("config"), cc).build()
      }
      val updated = GrpcControlClient.unary(ch, GrpcWire.updateConfigMethod, upd)
      val updMsg = updated.getField(updated.getDescriptorForType.findFieldByName("config"))
        .asInstanceOf[DynamicMessage]
      assert(updMsg.getField(updMsg.getDescriptorForType.findFieldByName("tasks_max")) == 3)

      // SinkStream bidi: a heartbeat echoes back with the same timestamp
      import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
      val got = new java.util.concurrent.LinkedBlockingQueue[DynamicMessage]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val reqObs = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(GrpcWire.sinkStreamMethod,
          org.sparkproject.connect.grpc.CallOptions.DEFAULT),
        new StreamObserver[DynamicMessage] {
          override def onNext(v: DynamicMessage): Unit = got.put(v)
          override def onError(t: Throwable): Unit = done.countDown()
          override def onCompleted(): Unit = done.countDown()
        })
      val hb = {
        val hd = ConnectorProto.messageType("Heartbeat")
        val sd = ConnectorProto.messageType("SinkRequest")
        DynamicMessage.newBuilder(sd).setField(sd.findFieldByName("heartbeat"),
          DynamicMessage.newBuilder(hd).setField(hd.findFieldByName("timestamp"),
            Long.box(424242L)).build()).build()
      }
      reqObs.onNext(hb)
      val echo = got.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(echo != null, "no heartbeat echo within 10s")
      val echoedHb = echo.getField(echo.getDescriptorForType.findFieldByName("heartbeat"))
        .asInstanceOf[DynamicMessage]
      assert(echoedHb.getField(
        echoedHb.getDescriptorForType.findFieldByName("timestamp")) == 424242L)
      reqObs.onCompleted()
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      ch.shutdownNow()
      srv.stop()
    }
  }

  test("gRPC server reflection lists the connector service and serves its descriptor") {
    import org.sparkproject.connect.grpc.reflection.v1.{ServerReflectionGrpc, ServerReflectionRequest, ServerReflectionResponse}
    import org.sparkproject.connect.grpc.stub.StreamObserver
    import graft.streaming.{GrpcControlClient, GrpcControlServer}
    val root = Files.createTempDirectory("graft-grpc-refl").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val srv = new GrpcControlServer(service, port = 0)
    val port = srv.start()
    val ch = GrpcControlClient.channel("127.0.0.1", port)
    try {
      val got = new java.util.concurrent.LinkedBlockingQueue[ServerReflectionResponse]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val reqObs = ServerReflectionGrpc.newStub(ch).serverReflectionInfo(
        new StreamObserver[ServerReflectionResponse] {
          override def onNext(v: ServerReflectionResponse): Unit = got.put(v)
          override def onError(t: Throwable): Unit = done.countDown()
          override def onCompleted(): Unit = done.countDown()
        })
      reqObs.onNext(ServerReflectionRequest.newBuilder().setListServices("").build())
      val listed = got.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(listed != null, "no reflection response within 10s")
      val names = listed.getListServicesResponse.getServiceList.asScala.map(_.getName)
      assert(names.contains("kafka.connect.ConnectorService"), names)

      // fetch the descriptor by symbol — what grpcurl does before a call
      reqObs.onNext(ServerReflectionRequest.newBuilder()
        .setFileContainingSymbol("kafka.connect.ConnectorService").build())
      val fileResp = got.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(fileResp != null && fileResp.hasFileDescriptorResponse, fileResp)
      val fdBytes = fileResp.getFileDescriptorResponse.getFileDescriptorProtoList
      assert(!fdBytes.isEmpty)
      val fdp = org.sparkproject.connect.protobuf.DescriptorProtos.FileDescriptorProto
        .parseFrom(fdBytes.get(0))
      assert(fdp.getPackage == "kafka.connect")
      assert(fdp.getServiceList.asScala.exists(_.getName == "ConnectorService"))
      reqObs.onCompleted()
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      ch.shutdownNow()
      srv.stop()
    }
  }

  test("gRPC serves over the unix socket via the epoll native transport") {
    import org.sparkproject.connect.protobuf.DynamicMessage
    import graft.streaming.{ConnectorProto, GrpcControlClient, GrpcUdsControlServer, GrpcWire}
    assume(GrpcUdsControlServer.available, "epoll native transport not available")
    val root = Files.createTempDirectory("graft-grpc-uds")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString,
      s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val path = root.resolve("grpc.sock")
    val srv = new GrpcUdsControlServer(service, path)
    srv.start()
    val ch = GrpcControlClient.udsChannel(path)
    try {
      assert(Files.exists(path))
      val d = ConnectorProto.messageType("StatusRequest")
      val req = DynamicMessage.newBuilder(d)
        .setField(d.findFieldByName("connector_name"), "src-1").build()
      val status = GrpcControlClient.unary(ch, GrpcWire.getStatusMethod, req)
      assert(status.getField(
        status.getDescriptorForType.findFieldByName("state")).toString == "UNASSIGNED")
    } finally {
      ch.shutdownNow()
      srv.stop()
      assert(!Files.exists(path), "stop must remove the socket file")
    }
  }

  test("a unix gRPC socket a live daemon answers on is never hijacked") {
    import org.sparkproject.connect.protobuf.DynamicMessage
    import graft.streaming.{ConnectorProto, GrpcControlClient, GrpcUdsControlServer, GrpcWire}
    assume(GrpcUdsControlServer.available, "epoll native transport not available")
    val root = Files.createTempDirectory("graft-grpc-uds-live")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString, s"$root/ckpt")
    val service = new InProcessConnectorService(engine, pushSink = None)
    val path = root.resolve("grpc.sock")
    val a = new GrpcUdsControlServer(service, path)
    a.start()
    try {
      val b = new GrpcUdsControlServer(service, path)
      val refused = intercept[IllegalStateException](b.start())
      assert(refused.getMessage.contains("in use by a live daemon"), refused.getMessage)
      b.stop() // never bound: must leave the live daemon's socket file alone
      assert(Files.exists(path), "a refused server's stop() removed the live socket")
      val ch = GrpcControlClient.udsChannel(path)
      try {
        val d = ConnectorProto.messageType("StatusRequest")
        val req = DynamicMessage.newBuilder(d)
          .setField(d.findFieldByName("connector_name"), "src-1").build()
        val status = GrpcControlClient.unary(ch, GrpcWire.getStatusMethod, req)
        assert(status.getField(
          status.getDescriptorForType.findFieldByName("state")).toString == "UNASSIGNED")
      } finally ch.shutdownNow()
    } finally a.stop()
    assert(!Files.exists(path), "the bound server's stop() must remove its socket file")
  }

  test("gRPC SinkStream moves record batches into the sink — the test_grpc_sink.py path") {
    import org.sparkproject.connect.protobuf.{ByteString, DynamicMessage}
    import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
    import graft.streaming.{ConnectorProto, GrpcControlClient, GrpcControlServer, GrpcWire}
    val svc = new PushService(spark)
    val root = Files.createTempDirectory("graft-grpc-sink").toString
    val ckpt = Files.createTempDirectory("graft-grpc-sink-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    val q = svc.records.writeStream
      .queryName("graft-grpc-sink")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.FileSink.writeBatch(batch, cfg, root)
        svc.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
          .map(r => svc.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
      }.start()
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root, ckpt)
    val service = InProcessConnectorService(engine, svc, () => q)
    val srv = new GrpcControlServer(service, port = 0)
    val port = srv.start()
    val ch = GrpcControlClient.channel("127.0.0.1", port)
    try {
      val sinkReqD = ConnectorProto.messageType("SinkRequest")
      val recD = ConnectorProto.messageType("KafkaRecord")
      val batchD = ConnectorProto.messageType("RecordBatch")
      val flushD = ConnectorProto.messageType("FlushRequest")
      def recordMsg(offset: Long, v: String): DynamicMessage =
        DynamicMessage.newBuilder(recD)
          .setField(recD.findFieldByName("topic"), "t")
          .setField(recD.findFieldByName("partition"), Int.box(0))
          .setField(recD.findFieldByName("offset"), Long.box(offset))
          .setField(recD.findFieldByName("timestamp"), Long.box(1234567890000L))
          .setField(recD.findFieldByName("key"), ByteString.copyFromUtf8("k"))
          .setField(recD.findFieldByName("value"), ByteString.copyFromUtf8(v))
          .build()
      val pushMsg = {
        val b = DynamicMessage.newBuilder(batchD)
        b.addRepeatedField(batchD.findFieldByName("records"), recordMsg(0L, "wire-a"))
        b.addRepeatedField(batchD.findFieldByName("records"), recordMsg(1L, "wire-b"))
        DynamicMessage.newBuilder(sinkReqD)
          .setField(sinkReqD.findFieldByName("record_batch"), b.build()).build()
      }
      val flushMsg = DynamicMessage.newBuilder(sinkReqD)
        .setField(sinkReqD.findFieldByName("flush"),
          DynamicMessage.newBuilder(flushD)
            .setField(flushD.findFieldByName("request_id"), "wire-f1").build())
        .build()

      val got = new java.util.concurrent.LinkedBlockingQueue[DynamicMessage]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val reqObs = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(GrpcWire.sinkStreamMethod,
          org.sparkproject.connect.grpc.CallOptions.DEFAULT),
        new StreamObserver[DynamicMessage] {
          override def onNext(v: DynamicMessage): Unit = got.put(v)
          override def onError(t: Throwable): Unit = done.countDown()
          override def onCompleted(): Unit = done.countDown()
        })
      reqObs.onNext(pushMsg) // push produces no response (ack-on-commit)
      reqObs.onNext(flushMsg)
      val ack = got.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(ack != null, "no Ack within 30s")
      val ackD = ack.getDescriptorForType
      assert(ack.hasField(ackD.findFieldByName("ack")), ack)
      val ackMsg = ack.getField(ackD.findFieldByName("ack")).asInstanceOf[DynamicMessage]
      val ids = ackMsg.getField(ackMsg.getDescriptorForType.findFieldByName("record_ids"))
        .asInstanceOf[java.util.List[_]]
      assert(ids.size == 2, s"expected both pushed ids acked, got $ackMsg")
      val flushed = got.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(flushed != null && flushed.hasField(
        flushed.getDescriptorForType.findFieldByName("flush_response")), flushed)
      reqObs.onCompleted()
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // the records pushed over the wire are durably in the sink files
      val written = spark.read.parquet(root)
      assert(written.count() == 2)
      val values = written.select("value").collect()
        .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toSet
      assert(values == Set("wire-a", "wire-b"))
    } finally {
      ch.shutdownNow()
      srv.stop()
      q.stop()
    }
  }

  test("UDS control plane serves the same verbs over a unix socket path") {
    import java.nio.charset.StandardCharsets.UTF_8
    val root = Files.createTempDirectory("graft-uds")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString,
      s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    val path = root.resolve("control.sock")
    val srv = new graft.streaming.ControlServer(service,
      java.net.UnixDomainSocketAddress.of(path))
    srv.start()
    try {
      assert(Files.exists(path), "socket file must exist after start")
      val ch = java.nio.channels.SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(path))
      val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        java.nio.channels.Channels.newOutputStream(ch), UTF_8), true)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        java.nio.channels.Channels.newInputStream(ch), UTF_8))
      out.println("""{"verb":"get_status","connector":"src-1"}""")
      val status = in.readLine()
      assert(status.contains("\"state\":\"Unassigned\""), status)
      out.println("""{"verb":"get_config","connector":"sink-1"}""")
      assert(in.readLine().contains("\"connector_class\":\"graft.FileSinkConnector\""))
      out.println("""{"verb":"nope"}""")
      assert(in.readLine().contains("unknown verb"))
      ch.close()
      // restart over the SAME path must succeed (stale-socket recovery)
      srv.stop()
      assert(!Files.exists(path), "stop must remove the socket file")
      val srv2 = new graft.streaming.ControlServer(service,
        java.net.UnixDomainSocketAddress.of(path))
      srv2.start()
      try {
        val ch2 = java.nio.channels.SocketChannel.open(
          java.net.UnixDomainSocketAddress.of(path))
        val out2 = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          java.nio.channels.Channels.newOutputStream(ch2), UTF_8), true)
        val in2 = new java.io.BufferedReader(new java.io.InputStreamReader(
          java.nio.channels.Channels.newInputStream(ch2), UTF_8))
        out2.println("""{"verb":"get_status","connector":"src-1"}""")
        assert(in2.readLine().contains("\"state\""))
        ch2.close()
      } finally srv2.stop()
    } finally srv.stop()
  }

  test("control plane with auth_token rejects untokened and wrong-token requests") {
    val root = Files.createTempDirectory("graft-ctl-auth")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString, s"$root/ckpt")
    val service = InProcessConnectorService(engine, new PushService(spark),
      () => fail("unused"))
    for (address <- controlAddresses(root)) {
      val srv = new graft.streaming.ControlServer(service, address,
        authToken = Some("s3cr3t"))
      try {
        val client = new LineClient(srv.start())
        assert(client.ask("""{"verb":"get_status","connector":"src-1"}""")
          .contains("unauthorized"))
        assert(client.ask("""{"verb":"get_status","connector":"src-1","token":"wrong"}""")
          .contains("unauthorized"))
        assert(client.ask("""{"verb":"get_status","connector":"src-1","token":"s3cr3t"}""")
          .contains("\"state\""))
        // and crucially: update_config is gated too
        assert(client.ask("""{"verb":"update_config","config":{}}""")
          .contains("unauthorized"))
        client.close()
      } finally srv.stop()
    }
  }

  test("a unix control socket a live daemon answers on is never hijacked") {
    val root = Files.createTempDirectory("graft-uds-live")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString, s"$root/ckpt")
    val service = new InProcessConnectorService(engine, pushSink = None)
    val address = java.net.UnixDomainSocketAddress.of(root.resolve("control.sock"))
    val a = new graft.streaming.ControlServer(service, address)
    a.start()
    try {
      val b = new graft.streaming.ControlServer(service, address)
      val refused = intercept[IllegalStateException](b.start())
      assert(refused.getMessage.contains("in use by a live daemon"), refused.getMessage)
      b.stop() // never bound: must leave the live daemon's socket file alone
      val client = new LineClient(address)
      assert(client.ask("""{"verb":"get_status","connector":"src-1"}""").contains("\"state\""))
      client.close()
    } finally a.stop()
  }

  test("stop() ends the control plane's live connections, and the server restarts") {
    val root = Files.createTempDirectory("graft-ctl-stop")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString, s"$root/ckpt")
    val service = new InProcessConnectorService(engine, pushSink = None)
    val status = """{"verb":"get_status","connector":"src-1"}"""
    for (address <- controlAddresses(root)) {
      val srv = new graft.streaming.ControlServer(service, address)
      try {
        val client = new LineClient(srv.start())
        assert(client.ask(status).contains("\"state\""))
        srv.stop()
        // the connection accepted before stop() must answer nothing more
        val after = scala.util.Try(client.ask(status)).toOption.flatMap(Option(_))
        assert(after.isEmpty, s"$address answered after stop(): $after")
        client.close()
        val again = new LineClient(srv.start())
        assert(again.ask(status).contains("\"state\""))
        again.close()
      } finally srv.stop()
    }
  }

  test("the daemon's service answers Push with Err, acks nothing, and fails Flush") {
    val root = Files.createTempDirectory("graft-daemon-push")
    val engine = Engine.fromConfigJson(spark,
      engineConfig("io.rustconnect.KafkaSourceConnector"), root.toString, s"$root/ckpt")
    // assembled as graft.Main assembles it: no push sink, so no buffer
    // exists for a Push to grow
    val service = graft.Main.controlService(engine)
    val out = service.sinkStream(Iterator(
      SinkRequest.Push(RecordBatch(Seq(rec(0, "a"), rec(1, "b")))),
      SinkRequest.Flush(FlushRequest("f-1")))).toList
    out match {
      case List(SinkResponse.Err(err), SinkResponse.Flushed(flushed)) =>
        assert(err.errorMessage.contains("no push sink"), err)
        assert(flushed.requestId == "f-1" && !flushed.success, flushed)
        assert(flushed.errorMessage.contains("no push sink"), flushed)
      case other => fail(s"expected Err then a failed Flushed, got $other")
    }
  }

  test("daemon assembly: push-queue source connector moves pushed records to the sink") {
    import graft.sources.PushBuffers
    val dataRoot = Files.createTempDirectory("graft-push-daemon").toString
    val ckpt = Files.createTempDirectory("graft-push-daemon-ckpt").toString
    PushBuffers.clear("daemon_q")
    val cfgJson = """{
      "kafka": {"bootstrap_servers": ["unused:9092"]},
      "connectors": [
        {"name": "push-src-1", "connector_class": "graft.PushSourceConnector",
         "connector_type": "source", "tasks_max": 1, "topics": ["t"],
         "config": {"queue": "daemon_q"}},
        {"name": "push-sink-1", "connector_class": "graft.FileSinkConnector",
         "connector_type": "sink", "tasks_max": 1, "topics": ["t"],
         "config": {"s3.bucket.name": "b", "format.class": "parquet"}}
      ]}"""
    val engine = Engine.fromConfigJson(spark, cfgJson, dataRoot, ckpt)
    engine.start()
    try {
      assert(engine.status("push-src-1") == graft.model.ConnectorState.Running)
      PushBuffers.push("daemon_q",
        Seq(KafkaRecord("t", 0, 0L, new java.sql.Timestamp(1234567890000L),
          "k".getBytes, "pushed-record".getBytes, Map.empty)))
      val q = spark.streams.active.find(_.name == "push-src-1").get
      q.processAllAvailable()
      val written = spark.read.parquet(s"$dataRoot/push-src-1")
      assert(written.count() == 1)
      assert(new String(written.select("value").collect().head
        .getAs[Array[Byte]]("value"), "UTF-8") == "pushed-record")
    } finally engine.stop()
  }

  test("daemon assembly: file-watch source moves records to partitioned json") {
    val incoming = Files.createTempDirectory("graft-incoming").toString
    val dataRoot = Files.createTempDirectory("graft-daemon-data").toString
    val ckpt = Files.createTempDirectory("graft-daemon-ckpt").toString
    val engine = Engine.fromConfigJson(spark,
      engineConfig("graft.FileStreamSourceConnector", incoming), dataRoot, ckpt)
    engine.start()
    try {
      assert(engine.status("src-1") == graft.model.ConnectorState.Running)
      Files.write(java.nio.file.Paths.get(incoming, "batch-0.txt"),
        "hello graft\nsecond record\n".getBytes("UTF-8"))
      val q = spark.streams.active.find(_.name == "src-1").get
      q.processAllAvailable()
      val written = spark.read.json(s"$dataRoot/src-1/data")
      assert(written.count() == 2)
      // F2 json projection: plain-text lines fail the JSON sniff and ride
      // as base64 with the format tag set — decode to get the lines back
      assert(written.select("value_format").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("base64"))
      val values = written.select("value_out").collect().map(r =>
        new String(java.util.Base64.getDecoder.decode(r.getString(0)), "UTF-8")).toSet
      assert(values == Set("hello graft", "second record"))
    } finally engine.stop()
  }

  test("the shipped config/connect.json boots the engine") {
    val root = Files.createTempDirectory("graft-shipped").toString
    // shipped config watches /tmp/graft/incoming; create it so the lazy
    // file-source thunk would be startable
    Files.createDirectories(java.nio.file.Paths.get("/tmp/graft/incoming"))
    val engine = Engine.fromConfigFile(spark, "config/connect.json", root, s"$root/ckpt")
    assert(engine.config.exists(_.connectors.map(_.connectorType) == Seq("source", "sink")))
    assert(engine.status.keySet == Set("file-watch-source"))
  }
}
