package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.model.{ConnectorState, Format, KafkaRecord, PartitionerKind, SinkConfig}
import graft.streaming.{ConnectorManager, Pipeline}

/** O1–O5 + K1/K2 in streaming mode: MemoryStream (the gRPC-push-source test
  * analog, SURVEY §2.1 S6 option (a)) → micro-batches → file sink; manager
  * lifecycle over StreamingQuery.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def rec(offset: Long, value: String) =
    KafkaRecord("t", 0, offset, new Timestamp(1234567890000L),
      s"k$offset".getBytes, value.getBytes, Map.empty)

  test("MemoryStream → foreachBatch file sink delivers every record exactly once") {
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-stream").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Default)
    val q = Pipeline.streamToFiles(input.toDF(), cfg, root, ckpt,
      Trigger.ProcessingTime(0), name = "graft-test-sink")
    try {
      input.addData(rec(0, """{"a":1}"""), rec(1, "plain"))
      q.processAllAvailable() // K2 manual flush
      input.addData(rec(2, """{"b":2}"""))
      q.processAllAvailable()
      val back = spark.read.parquet(root)
      assert(back.count() == 3)
      assert(back.select("offset").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("multi-table fan-out routes each topic to its own table, rest to the default sink") {
    // GAP.md:17 / r12 verdict item 4: the reference hardcodes every record
    // to the FIRST sink (manager.rs:184); streamToRoutedTables dispatches
    // per-topic slices to their own tables inside ONE query/checkpoint,
    // and unrouted topics keep the default FileSink pipeline.
    import graft.model.TableRoute
    def trec(topic: String, offset: Long, value: String) =
      KafkaRecord(topic, 0, offset, new Timestamp(1234567890000L),
        s"k$offset".getBytes, value.getBytes, Map.empty)
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-routed").toString
    val ckpt = Files.createTempDirectory("graft-routed-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", prefix = "default",
      format = Format.Parquet)
    val routes = TableRoute.fromMap(Map(
      "route.orders" -> "orders_v2",
      "route.clicks" -> "clicks:json"))
    val q = Pipeline.streamToRoutedTables(input.toDF(), cfg, routes, root,
      ckpt, Trigger.ProcessingTime(0), name = "graft-routed-sink")
    try {
      input.addData(
        trec("orders", 0, """{"o":1}"""), trec("orders", 1, """{"o":2}"""),
        trec("clicks", 2, """{"c":1}"""),
        trec("misc", 3, "plain"))
      q.processAllAvailable()
      // a second batch appends under its own batch=<id> partition —
      // exactly-once per table, one checkpoint
      input.addData(trec("orders", 4, """{"o":3}"""))
      q.processAllAvailable()
      val orders = spark.read.parquet(s"$root/orders_v2")
      assert(orders.select("offset").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 4L))
      assert(orders.select("topic").distinct().as[String].collect().toSeq == Seq("orders"))
      // the two micro-batches are visible as ingestion-batch partitions
      assert(orders.select("batch").distinct().count() == 2)
      // routed json rides the same F2 json-lines pipeline as the default
      // sink (r13 ADVICE): sniffed value + format tag, not raw base64 rows
      val clicks = spark.read.json(s"$root/clicks")
      assert(clicks.count() == 1)
      assert(clicks.columns.contains("value_out") && clicks.columns.contains("value_format"))
      assert(clicks.select("value_format").as[String].collect().toSeq == Seq("json"))
      // the unrouted topic fell through to the default FileSink pipeline
      val rest = spark.read.parquet(s"$root/default")
      assert(rest.select("offset").as[Long].collect().toSeq == Seq(3L))
      assert(rest.select("topic").as[String].collect().toSeq == Seq("misc"))
    } finally q.stop()
  }

  test("routed fan-out is exactly-once per table across a forced replay") {
    // r13 verdict item 5: a restart that replays a micro-batch (sink wrote,
    // checkpoint commit didn't land) must NOT duplicate rows in the routed
    // tables. Force the replay for real: process batch 0, stop, delete the
    // checkpoint's commits/0 marker (keeping offsets/0), restart — Spark
    // re-runs batch 0, and the batchId-keyed published dir makes the
    // re-run a no-op.
    import graft.model.TableRoute
    def trec(topic: String, offset: Long, value: String) =
      KafkaRecord(topic, 0, offset, new Timestamp(1234567890000L),
        s"k$offset".getBytes, value.getBytes, Map.empty)
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-replay").toString
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", prefix = "default", format = Format.Parquet)
    val routes = TableRoute.fromMap(Map("route.orders" -> "orders_v2"))
    def startQuery() = Pipeline.streamToRoutedTables(input.toDF(), cfg, routes,
      root, ckpt, Trigger.ProcessingTime(0), name = "graft-replay-sink")
    val q1 = startQuery()
    input.addData(trec("orders", 0, """{"o":1}"""), trec("orders", 1, """{"o":2}"""))
    q1.processAllAvailable()
    q1.stop()
    // simulate the crash window: offsets/0 exists, commits/0 does not
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    assert(commit0.exists(), "test setup: batch 0 must have committed")
    assert(commit0.delete())
    // the local-FS checksum shadow must go with it, or the re-commit's
    // rename trips over the stale .crc
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val orders = spark.read.parquet(s"$root/orders_v2")
      val offsets = orders.select("offset").as[Long].collect().sorted.toSeq
      assert(offsets == Seq(0L, 1L),
        s"replayed batch must not duplicate routed rows, got $offsets")
    } finally q2.stop()
  }

  test("routed fan-out refuses a pre-batch-layout table dir and duplicate tables") {
    // r14 ADVICE: (a) a table written by the old flat append mixed with new
    // batch=N subdirs is unreadable (partition discovery fails) — fail at
    // query start, not at first read; (b) two topics to one table collide
    // on the (table, batchId) replay marker — permanent silent loss.
    import graft.model.TableRoute
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-flat").toString
    val ckpt = Files.createTempDirectory("graft-flat-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", prefix = "default", format = Format.Parquet)
    // plant a pre-migration flat file directly under the table dir
    val tableDir = new java.io.File(s"$root/orders_v2")
    assert(tableDir.mkdirs())
    Files.write(tableDir.toPath.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val routes = TableRoute.fromMap(Map("route.orders" -> "orders_v2"))
    val ex = intercept[IllegalArgumentException](
      Pipeline.streamToRoutedTables(input.toDF(), cfg, routes, root, ckpt,
        Trigger.ProcessingTime(0), name = "graft-flat-sink"))
    assert(ex.getMessage.contains("orders_v2"))
    // duplicate tables from programmatically-built routes (fromMap already
    // rejects them at the config surface)
    val dup = Seq(TableRoute("a", "shared", Format.Parquet),
      TableRoute("b", "shared", Format.Parquet))
    val ex2 = intercept[IllegalArgumentException](
      Pipeline.streamToRoutedTables(input.toDF(), cfg, dup,
        Files.createTempDirectory("graft-dup").toString, ckpt,
        Trigger.ProcessingTime(0), name = "graft-dup-sink"))
    assert(ex2.getMessage.contains("shared"))
  }

  test("streaming partition registration: batch N visible via spark.table before batch N+1") {
    // P7's streaming half (r14 verdict item 5): with registerAs set, each
    // micro-batch commit recovers the new partitions into the catalog, so
    // a downstream spark.table reader sees them mid-stream — no crawler.
    def trec(offset: Long, hourMs: Long) =
      KafkaRecord("t", 0, offset, new Timestamp(hourMs), s"k$offset".getBytes,
        s"v$offset".getBytes, Map.empty)
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-reg").toString
    val ckpt = Files.createTempDirectory("graft-reg-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", prefix = "reg_out",
      format = Format.Parquet, partitioner = PartitionerKind.Time)
    val q = Pipeline.streamToFiles(input.toDF(), cfg, root, ckpt,
      Trigger.ProcessingTime(0), name = "graft-reg-sink",
      registerAs = Some("stream_reg_records"))
    try {
      input.addData(trec(0, 1234567890000L), trec(1, 1234567890000L))
      q.processAllAvailable()
      // visible from the CATALOG (datasource tables with recovered
      // partitions serve from metastore state) right after batch 0
      assert(spark.table("stream_reg_records").count() == 2)
      // batch 1 writes a NEW hour partition; it must enter the catalog
      // before the next batch could run
      input.addData(trec(2, 1234567890000L + 3600000L))
      q.processAllAvailable()
      val t = spark.table("stream_reg_records")
      assert(t.count() == 3)
      assert(t.select("hour").distinct().count() == 2)
    } finally q.stop()
  }

  test("routed fan-out registers each routed table when asked") {
    import graft.model.TableRoute
    def trec(topic: String, offset: Long) =
      KafkaRecord(topic, 0, offset, new Timestamp(1234567890000L),
        s"k$offset".getBytes, s"v$offset".getBytes, Map.empty)
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-regroute").toString
    val ckpt = Files.createTempDirectory("graft-regroute-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", prefix = "default", format = Format.Parquet)
    val routes = TableRoute.fromMap(Map("route.orders" -> "orders_reg_v2"))
    val q = Pipeline.streamToRoutedTables(input.toDF(), cfg, routes, root,
      ckpt, Trigger.ProcessingTime(0), name = "graft-regroute-sink",
      registerTables = true)
    try {
      input.addData(trec("orders", 0), trec("orders", 1))
      q.processAllAvailable()
      assert(spark.table("orders_reg_v2").count() == 2)
      input.addData(trec("orders", 2))
      q.processAllAvailable()
      val t = spark.table("orders_reg_v2")
      assert(t.count() == 3)
      // each micro-batch is its own recovered ingestion partition
      assert(t.select("batch").distinct().count() == 2)
    } finally q.stop()
  }

  test("ConnectorManager start/stop/pause lifecycle maps to ConnectorState") {
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-mgr").toString
    val ckpt = Files.createTempDirectory("graft-mgr-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    val mgr = new ConnectorManager(spark)
    mgr.register("s3-sink-0")(() =>
      Pipeline.streamToFiles(input.toDF(), cfg, root, ckpt, Trigger.ProcessingTime(0),
        name = "graft-mgr-sink"))
    // state transitions ride on the query's execution thread — assert
    // with a grace window so a slow executor teardown/startup (seen under
    // parallel-suite load) doesn't read as a lifecycle bug
    import org.scalatest.concurrent.Eventually.{eventually, timeout}
    import org.scalatest.time.{Seconds, Span}
    def expectState(st: ConnectorState): Unit =
      eventually(timeout(Span(15, Seconds))) {
        assert(mgr.status("s3-sink-0") == st)
      }
    expectState(ConnectorState.Uninitialized)
    mgr.start("s3-sink-0")
    expectState(ConnectorState.Running)
    input.addData(rec(0, "x"))
    mgr.pause("s3-sink-0")
    expectState(ConnectorState.Paused)
    // restart from checkpoint resumes (Paused realized as stop+restart)
    mgr.start("s3-sink-0")
    expectState(ConnectorState.Running)
    mgr.stop("s3-sink-0")
    expectState(ConnectorState.Stopped)
  }

  test("watermarked tumbling-window stats aggregate per topic and window") {
    import graft.streaming.StreamOps
    val input = MemoryStream[KafkaRecord](spark)
    val stats = StreamOps.windowedTopicStats(input.toDF(), "1 hour", "10 minutes")
    val q = stats.writeStream.format("memory").queryName("win_stats")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val h0 = 1234566000000L // within one hour bucket
      input.addData(
        KafkaRecord("t", 0, 0, new Timestamp(h0), "k".getBytes, "v1".getBytes, Map.empty),
        KafkaRecord("t", 0, 1, new Timestamp(h0 + 60000), "k".getBytes, "v22".getBytes, Map.empty),
        KafkaRecord("u", 0, 2, new Timestamp(h0), "k".getBytes, "v333".getBytes, Map.empty))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
        .map(r => (r.getAs[String]("topic"), r.getAs[Long]("record_cnt"), r.getAs[Long]("value_bytes")))
        .toSet
      assert(rows == Set(("t", 2L, 5L), ("u", 1L, 4L)))
    } finally q.stop()
  }

  test("windowed heavy hitters ranks stream keys per window with bounded sketch state") {
    import graft.streaming.StreamOps
    val input = MemoryStream[KafkaRecord](spark)
    val hh = StreamOps.windowedHeavyHitters(input.toDF(), keyCol = "topic",
      capacity = 8, k = 2, windowLength = "1 hour")
    val q = hh.writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val h0 = 1234566000000L
      input.addData(
        KafkaRecord("t", 0, 0, new Timestamp(h0), "k".getBytes, "v".getBytes, Map.empty),
        KafkaRecord("t", 0, 1, new Timestamp(h0 + 1000), "k".getBytes, "v".getBytes, Map.empty),
        KafkaRecord("t", 0, 2, new Timestamp(h0 + 2000), "k".getBytes, "v".getBytes, Map.empty),
        KafkaRecord("u", 0, 3, new Timestamp(h0 + 3000), "k".getBytes, "v".getBytes, Map.empty),
        KafkaRecord("u", 0, 4, new Timestamp(h0 + 4000), "k".getBytes, "v".getBytes, Map.empty),
        KafkaRecord("w", 0, 5, new Timestamp(h0 + 5000), "k".getBytes, "v".getBytes, Map.empty))
      q.processAllAvailable()
      val rows = spark.table("hh_stream").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("est"),
          r.getAs[Long]("err"), r.getAs[Long]("rnk"))).toSet
      // capacity covers the key space -> exact regime: top-2 of {t:3, u:2, w:1}
      assert(rows == Set(("t", 3L, 0L, 1L), ("u", 2L, 0L, 2L)))
    } finally q.stop()
  }

  test("windowed bucket histogram accumulates sketch partials across micro-batches") {
    import graft.streaming.StreamOps
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val hist = StreamOps.windowedBucketHistogram(
      input.toDF().toDF("ts", "event_type", "value"), keyCol = "event_type")
    val q = hist.writeStream.format("memory").queryName("qhist_stream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val h0 = 1234566000000L
      // cents 100 -> bucket 7; cents 250 -> bucket 8; cents 3 -> bucket 2
      input.addData(
        (new Timestamp(h0), "click", 1.00),
        (new Timestamp(h0 + 1000), "click", 2.50))
      q.processAllAvailable()
      // second micro-batch ADDS into the same open window (merge = addition)
      input.addData(
        (new Timestamp(h0 + 2000), "click", 1.00),
        (new Timestamp(h0 + 3000), "view", 0.03))
      q.processAllAvailable()
      val rows = spark.table("qhist_stream").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("bucket"), r.getAs[Long]("cnt")))
        .toSet
      assert(rows == Set(("click", 7L, 2L), ("click", 8L, 1L), ("view", 2L, 1L)),
        s"got $rows")
      // batch parity: the same plan on a static frame gives the same counts
      val batch = StreamOps.windowedBucketHistogram(
        Seq((new Timestamp(h0), "click", 1.00),
          (new Timestamp(h0 + 1000), "click", 2.50),
          (new Timestamp(h0 + 2000), "click", 1.00),
          (new Timestamp(h0 + 3000), "view", 0.03))
          .toDF("ts", "event_type", "value"), keyCol = "event_type")
        .select("key", "bucket", "cnt")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == rows)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes redelivered records by identity") {
    import graft.streaming.StreamOps
    val input = MemoryStream[KafkaRecord](spark)
    val deduped = StreamOps.dedupWithinWatermark(input.toDF(), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val ts = new Timestamp(1234566000000L)
      val r0 = KafkaRecord("t", 0, 0, ts, "k".getBytes, "v".getBytes, Map.empty)
      input.addData(r0, r0.copy(offset = 1))
      q.processAllAvailable()
      input.addData(r0) // redelivery of (t, 0, 0)
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 2)
    } finally q.stop()
  }

  test("PushService acks record ids only after the micro-batch commits") {
    import graft.streaming.PushService
    val svc = new PushService(spark)
    val root = Files.createTempDirectory("graft-push").toString
    val ckpt = Files.createTempDirectory("graft-push-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    val q = svc.records.writeStream
      .queryName("graft-push-sink")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.FileSink.writeBatch(batch, cfg, root)
        svc.ackOnCommit(batch.select("topic", "partition", "offset").collect().iterator
          .map(r => svc.RecordId(r.getString(0), r.getInt(1), r.getLong(2))))
      }.start()
    try {
      val pushed = svc.push(Seq(rec(0, "a"), rec(1, "b")))
      assert(pushed.length == 2)
      val ackedAfterFlush = svc.flush(q)
      assert(ackedAfterFlush.map(_.offset).sorted == Seq(0L, 1L))
      assert(spark.read.parquet(root).count() == 2)
    } finally q.stop()
  }

  test("ProgressTracker records per-query progress like the reference's consumer callbacks") {
    import graft.streaming.ProgressTracker
    val tracker = new ProgressTracker()
    spark.streams.addListener(tracker)
    val input = MemoryStream[KafkaRecord](spark)
    val q = input.toDF().writeStream.format("memory").queryName("graft_obs")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(rec(0, "x"), rec(1, "y"), rec(2, "z"))
      q.processAllAvailable()
      // listener bus is async; give it a moment
      val deadline = System.currentTimeMillis() + 10000
      while (tracker.totalInputRows("graft_obs") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(tracker.totalInputRows("graft_obs") == 3)
      assert(tracker.history("graft_obs").nonEmpty)
    } finally { q.stop(); spark.streams.removeListener(tracker) }
  }

  test("native file sink writes manifest-committed time-partitioned parquet") {
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-eo").toString
    val ckpt = Files.createTempDirectory("graft-eo-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    val q = Pipeline.streamToFilesExactlyOnce(input.toDF(), cfg, root, ckpt,
      Trigger.ProcessingTime(0), name = "graft_eo_sink")
    try {
      input.addData(rec(0, "a"), rec(1, "b"))
      q.processAllAvailable()
      val back = spark.read.parquet(root)
      assert(back.count() == 2)
      // manifest present -> atomic/idempotent commits
      assert(Files.exists(java.nio.file.Paths.get(root, "_spark_metadata")))
      // Hive time partitions in the layout
      assert(back.columns.contains("year"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap and timeout") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.SessionEvent
    val input = MemoryStream[SessionEvent](spark)
    val sessions = StreamOps.sessionize(input.toDS(), gapMs = 1800000L, watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("graft_sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val h = 3600000L
      // user 1: two events 10 min apart (one session), then a 2h gap, then one more
      input.addData(SessionEvent(1L, 10 * h, 1.0), SessionEvent(1L, 10 * h + 600000, 2.0))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 12 * h, 5.0))
      q.processAllAvailable()
      // advance the watermark far enough to time out the open session
      input.addData(SessionEvent(2L, 20 * h, 9.0))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 30 * h, 9.0))
      q.processAllAvailable()
      val rows = spark.table("graft_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(4))).toSet
      // first session: 2 events, sum 3.0; second session (closed by timeout): 1 event sum 5.0
      assert(rows.contains((1L, 10 * h, 2, 3.0)), s"got $rows")
      assert(rows.contains((1L, 12 * h, 1, 5.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming EWMA state matches the batch fold across micro-batch boundaries") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.SessionEvent
    val input = MemoryStream[SessionEvent](spark)
    val ewma = StreamOps.ewmaPerKey(input.toDS(), alpha = 0.5)
    val q = ewma.writeStream.format("memory").queryName("graft_ewma")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // values arrive split across micro-batches and out of order WITHIN one
      input.addData(SessionEvent(1L, 1000L, 8.0), SessionEvent(1L, 3000L, 4.0))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 4000L, 2.0), SessionEvent(2L, 1000L, 10.0))
      q.processAllAvailable()
      def latest(): Map[Long, (Double, Long)] = spark.table("graft_ewma")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).map { case (u, rows) =>
          val best = rows.maxBy(_._3); u -> (best._2, best._3)
        }
      // user 1: ((8*.5+4*.5)=6)*.5 + 2*.5 = 4.0 over 3 events; user 2: init 10.0
      val last = latest()
      assert(last(1L) == ((4.0, 3L)), s"got $last")
      assert(last(2L) == ((10.0, 1L)), s"got $last")
      // stale row (older than last-seen ts) is dropped, state unchanged
      input.addData(SessionEvent(1L, 2000L, 100.0))
      q.processAllAvailable()
      val after = latest()
      assert(after(1L) == ((4.0, 3L)), s"got $after")
    } finally q.stop()
  }

  test("streaming per-domain cap admits across micro-batches until each domain is full") {
    import graft.streaming.StreamOps
    val input = MemoryStream[(String, Long)](spark)
    val capped = StreamOps.capPerKey(input.toDS(), cap = 3)
    val q = capped.writeStream.format("memory").queryName("graft_domcap")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def rows(): Set[(String, Long, Long)] = spark.table("graft_domcap")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // batch 1: domain a has room for all, admitted in id order
      input.addData(("a", 5L), ("a", 2L), ("b", 9L))
      q.processAllAvailable()
      assert(rows() == Set(("a", 2L, 1L), ("a", 5L, 2L), ("b", 9L, 1L)))
      // batch 2: a has ONE slot left — the smallest id of this batch wins
      // (id 1 beats 7 within the batch; the earlier-admitted 2 and 5 keep
      // their slots — admission is by arrival batch, not global id order)
      input.addData(("a", 7L), ("a", 1L), ("a", 3L))
      q.processAllAvailable()
      assert(rows() == Set(("a", 2L, 1L), ("a", 5L, 2L), ("b", 9L, 1L), ("a", 1L, 3L)))
      // batch 3: a is full — nothing admits; b still has room
      input.addData(("a", 0L), ("b", 4L))
      q.processAllAvailable()
      assert(rows() == Set(("a", 2L, 1L), ("a", 5L, 2L), ("b", 9L, 1L),
        ("a", 1L, 3L), ("b", 4L, 2L)))
    } finally q.stop()
  }

  test("streaming weighted reservoir is batching-independent (ES keys are pure)") {
    import graft.streaming.StreamOps
    // keys are pure functions of the doc, so ANY micro-batch split must
    // converge to the same reservoir; pick ids whose k6/w ordering is
    // unambiguous: (doc_id, weight, k6) with eskey = k6/w (all negative)
    val rows = Seq((1L, 100L, -5000000L), (2L, 500L, -5000000L), // eskey -50000, -10000
      (3L, 1000L, -2000000L), (4L, 10L, -9000000L), // -2000, -900000
      (5L, 800L, -1600000L)) // -2000? no: -2000.0 vs 3's -2000.0 TIE -> id wins
    // top-3 by (eskey desc, id asc): id3 (-2000), id5 (-2000), id2 (-10000)
    val expected = Set((3L, 1000L, -2000000L, 1L), (5L, 800L, -1600000L, 2L),
      (2L, 500L, -5000000L, 3L))
    // split A: one batch; split B: three batches in a different order
    for (splits <- Seq(Seq(rows), Seq(rows.take(2), rows.slice(2, 4), rows.drop(4)).map(_.reverse))) {
      val input = MemoryStream[(Long, Long, Long)](spark)
      val name = s"graft_reservoir_${splits.size}"
      val q = StreamOps.weightedReservoir(input.toDS(), k = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // the memory sink appends each batch's emission; the LAST full
        // reservoir (highest rnk run) is the final answer
        val all = spark.table(name)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val finalRes = all.takeRight(3).toSet
        assert(finalRes == expected, s"splits=${splits.size}: got $finalRes")
      } finally q.stop()
    }
  }

  test("streaming CUSUM matches the batch recurrence across micro-batches") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.DailyCount
    val input = MemoryStream[DailyCount](spark)
    val cusum = StreamOps.cusumPerKey(input.toDS(), alarmDays = 2L)
    val q = cusum.writeStream.format("memory").queryName("graft_cusum")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // ref=10: days 1..2 accumulate +5 each (no alarm at s=10 <= 2*10),
      // day 3 pushes s to 25 > 20 → alarm; day 4's dip resets below
      input.addData(DailyCount("a", 1L, 15L, 10L), DailyCount("a", 2L, 15L, 10L))
      q.processAllAvailable()
      input.addData(DailyCount("a", 3L, 25L, 10L), DailyCount("a", 4L, 2L, 10L),
        DailyCount("b", 1L, 5L, 10L))
      q.processAllAvailable()
      val rows = spark.table("graft_cusum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(4), r.getBoolean(5))).toMap
      assert(rows(("a", 1L)) == ((5L, false)))
      assert(rows(("a", 2L)) == ((10L, false)))
      assert(rows(("a", 3L)) == ((25L, true)), s"got $rows")
      assert(rows(("a", 4L)) == ((17L, false)))
      assert(rows(("b", 1L)) == ((0L, false))) // max(0, ...) floors at zero
      // replaying an already-folded day must not double-count
      input.addData(DailyCount("a", 3L, 25L, 10L))
      q.processAllAvailable()
      assert(spark.table("graft_cusum").count() == 5)
    } finally q.stop()
  }

  test("streaming KMV sketch merges to the batch sketch regardless of batch split") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.HashedElem
    // 10 distinct hashes for key "a" (with cross-batch duplicates), 3 for
    // "b"; k=4 saturates "a" (θ = 4th min = 40, est = 3·2⁴⁸/40) while "b"
    // stays exact-count
    val aHashes = (1L to 10L).map(_ * 10L)
    val input = MemoryStream[HashedElem](spark)
    val q = StreamOps.kmvDistinctPerKey(input.toDS(), k = 4)
      .writeStream.format("memory").queryName("graft_kmv")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // deliberately adversarial split: the k-min values arrive LAST
      input.addData(aHashes.drop(5).map(HashedElem("a", _)) :+ HashedElem("b", 7L): _*)
      q.processAllAvailable()
      input.addData(aHashes.take(5).map(HashedElem("a", _)) ++
        Seq(HashedElem("a", 60L), HashedElem("b", 7L), HashedElem("b", 3L)): _*)
      q.processAllAvailable()
      val rows = spark.table("graft_kmv").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      // θ only ever decreases and n_mins only grows, so the final state is
      // order-free: a's smallest saturated θ, b's largest count
      val aFinal = rows.collect { case ("a", t) if t._1 == 4L => t }.minBy(_._2)
      assert(aFinal == ((4L, 40L, 3L * 281474976710656L / 40L)), s"got ${rows.toList}")
      val bFinal = rows.collect { case ("b", t) => t }.maxBy(_._1)
      assert(bFinal == ((2L, 0L, 2L)), s"got ${rows.toList}")
    } finally q.stop()
  }

  test("streaming Count-Min matrix is split-invariant; estimates upper-bound true counts") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.CmsItem
    val input = MemoryStream[CmsItem](spark)
    val probes = Seq("x", "y", "never")
    val q = StreamOps.countMinPerKey(input.toDS(), probes)
      .writeStream.format("memory").queryName("graft_cms")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // x appears 5 times, y twice, split adversarially across batches
      input.addData(CmsItem("a", "x"), CmsItem("a", "x"), CmsItem("a", "y"))
      q.processAllAvailable()
      input.addData(CmsItem("a", "x"), CmsItem("a", "x"), CmsItem("a", "x"),
        CmsItem("a", "y"), CmsItem("b", "x"))
      q.processAllAvailable()
      val rows = spark.table("graft_cms").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      // counts only grow, so the final estimate per (key, probe) is the max
      val last = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      // 8 distinct items per key is far under 256 buckets — no collisions,
      // estimates are exact here; the CM guarantee is est >= true anyway
      assert(last(("a", "x")) == 5L, s"got $last")
      assert(last(("a", "y")) == 2L, s"got $last")
      assert(last(("a", "never")) == 0L, s"got $last")
      assert(last(("b", "x")) == 1L, s"got $last")
    } finally q.stop()
  }

  test("CDC compaction keeps the newest change per key across micro-batches") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.ChangeEvent
    val input = MemoryStream[ChangeEvent](spark)
    val compacted = StreamOps.latestByKey(input.toDS())
    val q = compacted.writeStream.format("memory").queryName("graft_compact")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def latest(): Map[Long, (Long, String, Boolean)] = spark.table("graft_compact")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getBoolean(5)))
        .groupBy(_._1).map { case (k, rows) =>
          val best = rows.maxBy(_._2); k -> (best._2, best._3, best._4)
        }
      input.addData(ChangeEvent(1L, 1000L, 1L, "insert", "a"),
        ChangeEvent(1L, 2000L, 2L, "update", "b"), ChangeEvent(2L, 1000L, 3L, "insert", "c"))
      q.processAllAvailable()
      assert(latest() == Map(1L -> ((2L, "update", false)), 2L -> ((3L, "insert", false))))
      // a LATER batch with an OLDER change must not regress the state; a
      // same-ts replay with a higher seq wins; a delete becomes a tombstone
      input.addData(ChangeEvent(1L, 1500L, 9L, "update", "stale"),
        ChangeEvent(2L, 1000L, 4L, "update", "d"), ChangeEvent(2L, 3000L, 5L, "delete", ""))
      q.processAllAvailable()
      val after = latest()
      assert(after(1L) == ((2L, "update", false)), s"stale change regressed state: $after")
      assert(after(2L) == ((5L, "delete", true)), s"got $after")
    } finally q.stop()
  }

  test("streaming transitions match the batch lead() bigrams across micro-batches") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.TypedEvent
    val input = MemoryStream[TypedEvent](spark)
    val trans = StreamOps.transitionsPerKey(input.toDS())
    val q = trans.writeStream.format("memory").queryName("graft_trans")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1's sequence split across batches; batch 1 arrives out of order
      input.addData(
        TypedEvent(1L, 2000L, 2L, "click"),
        TypedEvent(1L, 1000L, 1L, "view"),
        TypedEvent(2L, 1000L, 3L, "signup"))
      q.processAllAvailable()
      input.addData(
        TypedEvent(1L, 3000L, 4L, "purchase"),
        TypedEvent(2L, 2000L, 5L, "click"))
      q.processAllAvailable()
      val got = spark.table("graft_trans")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      // exactly the lead() bigrams of the full per-user (ts, id) order
      assert(got == Map(
        (1L, "view", "click") -> 1, (1L, "click", "purchase") -> 1,
        (2L, "signup", "click") -> 1), s"got $got")
      // a late row older than user 1's last-seen position is dropped, and
      // an at-least-once REPLAY of the exact last event must not emit a
      // self-transition
      input.addData(TypedEvent(1L, 1500L, 9L, "error"),
        TypedEvent(1L, 3000L, 4L, "purchase"))
      q.processAllAvailable()
      assert(spark.table("graft_trans").count() == 3)
    } finally q.stop()
  }

  test("streaming Welford moments match batch avg/var_pop across micro-batches") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.SessionEvent
    val input = MemoryStream[SessionEvent](spark)
    val mom = StreamOps.momentsPerKey(input.toDS())
    val q = mom.writeStream.format("memory").queryName("graft_moments")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val vals = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0)
      input.addData(vals.take(3).zipWithIndex.map { case (v, i) =>
        SessionEvent(1L, 1000L * (i + 1), v) }: _*)
      q.processAllAvailable()
      input.addData(vals.drop(3).zipWithIndex.map { case (v, i) =>
        SessionEvent(1L, 1000L * (i + 4), v) }: _*)
      q.processAllAvailable()
      val last = spark.table("graft_moments")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .filter(_._1 == 1L).maxBy(_._2)
      val mean = vals.sum / vals.size
      val varPop = vals.map(v => (v - mean) * (v - mean)).sum / vals.size
      assert(last._2 == vals.size)
      assert(math.abs(last._3 - mean) < 1e-9, s"mean ${last._3} vs $mean")
      assert(math.abs(last._4 - varPop) < 1e-9, s"var ${last._4} vs $varPop")
    } finally q.stop()
  }

  test("batch observe metrics ride the job and reach the tracker") {
    import graft.streaming.BatchMetrics
    val tracker = BatchMetrics.track(spark)
    try {
      val df = graft.sources.Sources.eventsAsRecords(spark, sf0001)
      BatchMetrics.withRecordMetrics(df, "graft_test_metrics")
        .write.format("noop").mode("overwrite").save()
      // listener delivery is async relative to the action returning
      val deadline = System.currentTimeMillis + 10000
      var m = tracker.latest("graft_test_metrics")
      while (m.isEmpty && System.currentTimeMillis < deadline) {
        Thread.sleep(50); m = tracker.latest("graft_test_metrics")
      }
      assert(m.isDefined, "metrics row not delivered")
      val row = m.get
      assert(row.getAs[Long]("record_cnt") == 1000L, s"got $row")
      assert(row.getAs[Long]("value_bytes") > 0L)
      assert(row.getAs[Long]("null_keys") == 0L)
    } finally spark.listenerManager.unregister(tracker)
  }

  test("streaming bloom dedup never re-admits a key and keeps fixed state") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.KeyedRecord
    val input = MemoryStream[KeyedRecord](spark)
    val dd = StreamOps.bloomDedup(input.toDS(), mBits = 1 << 12, k = 3)
    val q = dd.writeStream.format("memory").queryName("graft_bloomdedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        KeyedRecord(0, "a", "p1"), KeyedRecord(0, "b", "p2"),
        KeyedRecord(0, "a", "p3"), KeyedRecord(1, "a", "p4"))
      q.processAllAvailable()
      // duplicate "a" in shard 0 dropped within the batch; shard 1 has its
      // own filter so its "a" is independent
      val r1 = spark.table("graft_bloomdedup")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
      assert(r1 == Set((0, "a", "p1"), (0, "b", "p2"), (1, "a", "p4")), s"got $r1")
      // cross-batch: the same keys never re-admit
      input.addData(KeyedRecord(0, "a", "p5"), KeyedRecord(0, "c", "p6"))
      q.processAllAvailable()
      val r2 = spark.table("graft_bloomdedup")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
      assert(r2 == r1 + ((0, "c", "p6")), s"got $r2")
    } finally q.stop()
  }

  test("stream-stream interval join pairs records within the time bound") {
    import graft.streaming.StreamOps
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val views = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val l = clicks.toDF().toDF("user", "ts", "click")
    val r = views.toDF().toDF("user", "ts", "view")
    val joined = StreamOps.intervalJoin(l, r, "user", maxDelayMs = 60000)
      .select(col("l.user"), col("click"), col("view"))
    val q = joined.writeStream.format("memory").queryName("graft_ssjoin")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def t(ms: Long) = new java.sql.Timestamp(ms)
      val base = 1000000000L
      clicks.addData((1L, t(base), "c1"), (2L, t(base), "c2"))
      views.addData((1L, t(base + 30000), "v1"),      // within 60s -> match
        (1L, t(base + 300000), "v2"),                  // 5 min -> no match
        (3L, t(base), "v3"))                           // other key -> no match
      q.processAllAvailable()
      val rows = spark.table("graft_ssjoin").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows == Set((1L, "c1", "v1")))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched rows once the watermark passes") {
    import graft.streaming.StreamOps
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val views = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val l = clicks.toDF().toDF("user", "ts", "click")
    val r = views.toDF().toDF("user", "ts", "view")
    val joined = StreamOps.intervalJoin(l, r, "user",
        maxDelayMs = 60000, watermark = "1 minute", joinType = "leftOuter")
      .select(col("l.user"), col("click"), col("view"))
    val q = joined.writeStream.format("memory").queryName("graft_ssjoin_outer")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def t(ms: Long) = new java.sql.Timestamp(ms)
      val base = 1000000000L
      clicks.addData((1L, t(base), "c1"), (2L, t(base), "c2"))
      views.addData((1L, t(base + 30000), "v1")) // matches c1; c2 unmatched
      q.processAllAvailable()
      // advance both watermarks far past c2's interval so the engine can
      // prove no matching view can still arrive, then null-emit c2
      clicks.addData((9L, t(base + 3600000), "late"))
      views.addData((9L, t(base + 3600000), "late"))
      q.processAllAvailable()
      clicks.addData((9L, t(base + 7200000), "later"))
      views.addData((9L, t(base + 7200000), "later"))
      q.processAllAvailable()
      val rows = spark.table("graft_ssjoin_outer").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
      assert(rows.contains((1L, "c1", Some("v1"))))
      assert(rows.contains((2L, "c2", None)),
        s"unmatched left row must null-emit after the watermark: $rows")
    } finally q.stop()
  }

  test("interval join honors sub-second bounds (1500ms is 1.5s, not 1s)") {
    import graft.streaming.StreamOps
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val views = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val l = clicks.toDF().toDF("user", "ts", "click")
    val r = views.toDF().toDF("user", "ts", "view")
    val joined = StreamOps.intervalJoin(l, r, "user", maxDelayMs = 1500)
      .select(col("l.user"), col("click"), col("view"))
    val q = joined.writeStream.format("memory").queryName("graft_ssjoin_ms")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def t(ms: Long) = new java.sql.Timestamp(ms)
      val base = 1000000000L
      clicks.addData((1L, t(base), "c1"))
      views.addData((1L, t(base + 1200), "in_bound"),   // 1.2s <= 1.5s -> match
        (1L, t(base + 1800), "out_of_bound"))           // 1.8s > 1.5s -> no match
      q.processAllAvailable()
      val rows = spark.table("graft_ssjoin_ms").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // with integer-second truncation the bound would be 1.0s and drop in_bound
      assert(rows == Set((1L, "c1", "in_bound")))
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dimension per batch") {
    import graft.streaming.StreamOps
    val input = MemoryStream[(String, Long)](spark)
    val dim = Seq(("t1", "team-a"), ("t2", "team-b")).toDF("topic", "owner")
    val enriched = StreamOps.enrich(input.toDF().toDF("topic", "offset"), dim, "topic")
    val q = enriched.writeStream.format("memory").queryName("graft_enrich")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(("t1", 0L), ("t3", 1L))
      q.processAllAvailable()
      val rows = spark.table("graft_enrich").collect()
        .map(r => (r.getString(0), Option(r.getString(2)))).toSet
      // left join: unmatched topics survive with null owner
      assert(rows == Set(("t1", Some("team-a")), ("t3", None)))
    } finally q.stop()
  }

  test("DSv2 push source streams pushed batches with exact offsets and full fidelity") {
    import graft.sources.{PushBuffers, PushDataSource}
    val q = "dsv2_stream_q"
    PushBuffers.clear(q)
    PushBuffers.push(q, Seq(rec(0, "a"), rec(1, "b")))
    val seen = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    val query = spark.readStream.format(classOf[PushDataSource].getName)
      .option("queue", q).load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= batch.collect().map(r => (
          r.getAs[String]("topic"), r.getAs[Long]("offset"),
          new String(r.getAs[Array[Byte]]("value"), "UTF-8")))
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      query.processAllAvailable()
      assert(seen.map(x => (x._2, x._3)).toSet == Set((0L, "a"), (1L, "b")))
      // records pushed after the query starts arrive incrementally, once
      PushBuffers.push(q, Seq(rec(2, "c")))
      query.processAllAvailable()
      assert(seen.size == 3 && seen.map(_._2).toSet == Set(0L, 1L, 2L))
    } finally query.stop()
  }

  test("DSv2 push source resumes from checkpointed offsets without loss or duplication") {
    import graft.sources.{PushBuffers, PushDataSource}
    val q = "dsv2_ckpt_q"
    PushBuffers.clear(q)
    val ckpt = Files.createTempDirectory("graft-dsv2-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def start() = spark.readStream.format(classOf[PushDataSource].getName)
      .option("queue", q).load()
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= batch.collect().map(_.getAs[Long]("offset"))
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    val q1 = start()
    PushBuffers.push(q, Seq(rec(0, "a"), rec(1, "b")))
    q1.processAllAvailable()
    q1.stop()
    PushBuffers.push(q, Seq(rec(2, "c"))) // pushed while the query is down
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.sorted == Seq(0L, 1L, 2L), s"got $seen")
    } finally q2.stop()
  }

  test("DSv2 push source feeds the real sink pipeline with incremental drains") {
    import graft.sources.{PushBuffers, PushDataSource}
    val q = "dsv2_sink_q"
    PushBuffers.clear(q)
    val root = Files.createTempDirectory("graft-dsv2-sink").toString
    val ckpt = Files.createTempDirectory("graft-dsv2-sink-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    def stream = spark.readStream.format(classOf[PushDataSource].getName)
      .option("queue", q).load()
    PushBuffers.push(q, Seq(rec(0, "a"), rec(1, "b")))
    Pipeline.drainAvailable(stream, cfg, root, ckpt, name = "graft_dsv2_drain_1")
    assert(spark.read.parquet(root).count() == 2)
    PushBuffers.push(q, Seq(rec(2, "c")))
    Pipeline.drainAvailable(stream, cfg, root, ckpt, name = "graft_dsv2_drain_2")
    assert(spark.read.parquet(root).count() == 3)
  }

  test("DSv2 push source batch read sees the whole queue and its headers") {
    import graft.sources.{PushBuffers, PushDataSource}
    val q = "dsv2_batch_q"
    PushBuffers.clear(q)
    PushBuffers.push(q, (0 until 2500).map(i => rec(i.toLong, s"v$i")))
    val df = spark.read.format(classOf[PushDataSource].getName).option("queue", q).load()
    assert(df.count() == 2500) // > one 1000-record partition range
    assert(df.rdd.getNumPartitions == 3, "backlog should split into ~1000-record tasks")
    val row = df.filter(col("offset") === 7L).collect().head
    assert(row.getAs[String]("topic").nonEmpty)
    assert(row.getAs[Map[String, String]]("headers").contains("content-type") ||
      row.getAs[Map[String, String]]("headers").isEmpty)
  }

  test("DSv2 push source prunes columns: a narrow projection reads a narrow schema") {
    import graft.sources.{PushBuffers, PushDataSource}
    val q = "dsv2_cols_q"
    PushBuffers.clear(q)
    PushBuffers.push(q, Seq(rec(0, "a"), rec(1, "b")))
    val df = spark.read.format(classOf[PushDataSource].getName).option("queue", q).load()
      .select("topic", "offset")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("topic") && scan.contains("offset") && !scan.contains("headers"),
      s"scan should read only the projected columns: $scan")
    assert(df.collect().map(_.getAs[Long]("offset")).toSet == Set(0L, 1L))
  }

  test("DSv2 push source prunes whole chunks via offset zone maps") {
    import graft.sources.{PushBuffers, PushDataSource}
    val q = "dsv2_prune_q"
    PushBuffers.clear(q)
    PushBuffers.push(q, (0 until 2500).map(i => rec(i.toLong, s"v$i")))
    val df = spark.read.format(classOf[PushDataSource].getName).option("queue", q).load()
      .filter(col("offset") >= 2000L)
    // offsets are monotone with queue position here, so the bound keeps
    // only the last of the three 1000-record chunks
    assert(df.rdd.getNumPartitions == 1,
      s"zone maps should prune 2 of 3 chunks, got ${df.rdd.getNumPartitions}")
    assert(df.count() == 500)
  }

  test("micro-batch planning: one contiguous range per core, none under 1000 records") {
    import graft.sources.{PushInputPartition, PushMicroBatchStream}
    val p = 4
    def ranges(from: Long, until: Long) =
      PushMicroBatchStream.partitionRanges("plan_q", from, until, p)
        .map { case r: PushInputPartition => (r.from, r.until) }.toSeq
    def check(from: Long, until: Long, expectedCount: Int): Unit = {
      val rs = ranges(from, until)
      assert(rs.size == expectedCount, s"[$from, $until): $rs")
      if (rs.nonEmpty) {
        assert(rs.head._1 == from && rs.last._2 == until, s"must cover [$from, $until): $rs")
        assert(rs.zip(rs.tail).forall { case (a, b) => a._2 == b._1 }, s"gap or overlap: $rs")
        val sizes = rs.map { case (a, b) => b - a }
        assert(sizes.max - sizes.min <= 1, s"near-equal sizes: $sizes")
        if (until - from >= 1000) assert(sizes.min >= 1000, s"task under 1000 records: $sizes")
      }
    }
    check(0, 0, 0)
    check(17, 17, 0)
    check(5, 5 + 999, 1)
    check(0, 1000L * p, p)
    check(3000, 3000 + 1000L * p, p)
    check(0, 2500, 2) // never three 833-record tasks
    check(0, 40000, p) // a 40k backlog drains in one wave of p tasks
    check(123, 123 + 40001, p)
  }

  test("PushBuffers: concurrent pushes land whole, once each, at increasing ends") {
    import graft.sources.PushBuffers
    val q = "push_concurrent_q"
    PushBuffers.clear(q)
    val (threads, batches, batchSize) = (4, 200, 50)
    val ends = Array.fill(threads)(scala.collection.mutable.ArrayBuffer[Long]())
    val start = new java.util.concurrent.CountDownLatch(1)
    val workers = (0 until threads).map { t =>
      val th = new Thread(() => {
        start.await()
        (0 until batches).foreach { b =>
          val base = (t.toLong * batches + b) * batchSize
          ends(t) += PushBuffers.push(q, (0 until batchSize).map(i => rec(base + i, s"$t-$b-$i")))
        }
      })
      th.start(); th
    }
    start.countDown()
    workers.foreach(_.join(60000))
    val total = threads.toLong * batches * batchSize
    assert(PushBuffers.size(q) == total)
    val all = PushBuffers.slice(q, 0, total)
    assert(all.map(_.offset).sorted == (0L until total), "every record at exactly one position")
    ends.zipWithIndex.foreach { case (es, t) =>
      assert(es.size == batches && es.zip(es.tail).forall { case (a, b) => a < b },
        s"thread $t's end offsets must strictly increase")
      // each push's returned end closes that thread's batch, appended whole
      es.zipWithIndex.foreach { case (end, b) =>
        val base = (t.toLong * batches + b) * batchSize
        assert(PushBuffers.slice(q, end - batchSize, end).map(_.offset) == (base until base + batchSize))
      }
    }
    PushBuffers.clear(q)
  }

  test("a 40k push backlog drains through the JSON sink in one wave of core-sized tasks") {
    import graft.sources.PushBuffers
    import graft.streaming.Engine
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val q = "drain_40k_q"
    PushBuffers.clear(q)
    val dataRoot = Files.createTempDirectory("graft-drain-40k").toString
    val ckpt = Files.createTempDirectory("graft-drain-40k-ckpt").toString
    val n = 40000
    PushBuffers.push(q, (0 until n).map(i => KafkaRecord("t", i % 8, i.toLong,
      new Timestamp(1234567890000L), s"k$i".getBytes, s"""{"i":$i}""".getBytes, Map.empty)))
    val engine = Engine.fromConfigJson(spark, s"""{
      "kafka": {"bootstrap_servers": ["unused:9092"]},
      "connectors": [
        {"name": "drain-src", "connector_class": "graft.PushSourceConnector",
         "connector_type": "source", "tasks_max": 1, "topics": ["t"],
         "config": {"queue": "$q"}},
        {"name": "drain-sink", "connector_class": "graft.FileSinkConnector",
         "connector_type": "sink", "tasks_max": 1, "topics": ["t"],
         "config": {"s3.bucket.name": "b", "format.class": "json",
           "partitioner.class": "default", "flush.size": "100"}}
      ]}""", dataRoot, ckpt)
    // read tasks = the tasks of the query's source stages (no parent stage)
    val readTasks = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => e.stageInfos.filter(_.parentIds.isEmpty)
            .foreach(si => readTasks.merge(id, si.numTasks, (a: Int, b: Int) => a + b)))
    }
    spark.sparkContext.addSparkListener(listener)
    engine.start()
    try {
      val query = spark.streams.active.find(_.name == "drain-src").get
      query.processAllAvailable()
      val batches = query.recentProgress.filter(_.numInputRows > 0)
      assert(batches.map(_.numInputRows).toSeq == Seq(n.toLong), "one micro-batch drains the backlog")
      val p = spark.sparkContext.defaultParallelism
      import org.scalatest.concurrent.Eventually.{eventually, timeout}
      import org.scalatest.time.{Seconds, Span}
      eventually(timeout(Span(10, Seconds))) {
        assert(readTasks.getOrDefault(query.id.toString, 0) > 0)
      }
      val tasks = readTasks.get(query.id.toString)
      assert(tasks <= p, s"$tasks read tasks for $n records on $p cores")
      val files = Files.walk(java.nio.file.Paths.get(s"$dataRoot/drain-src")).iterator()
        .asScala.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".json")).size
      assert(files > 0 && files <= p * 8, s"$files data files for $n records on $p cores")
      assert(graft.sources.Sources.jsonLinesRecords(spark, s"$dataRoot/drain-src").count() == n)
    } finally {
      engine.stop()
      spark.sparkContext.removeSparkListener(listener)
      PushBuffers.clear(q)
    }
  }

  test("streaming incremental dedup filters each micro-batch against the static corpus") {
    import graft.streaming.StreamOps
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    var hotBuckets = -1L
    val q = StreamOps.dedupAgainstCorpus(
        input.toDF().toDF("doc_id", "text"), corpus,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)),
        onHotBuckets = hotBuckets = _)
      .trigger(Trigger.ProcessingTime(0)).start()
    // the recall-trade-off observable fired at wire-up: a 1-doc corpus has
    // no bucket near the default cap
    assert(hotBuckets == 0L, s"expected a clean corpus index, got $hotBuckets")
    try {
      input.addData((10L, base + " tail"), (20L, (1 to 30).map(i => s"z$i").mkString(" ")))
      q.processAllAvailable()
      assert(survivors.toSet == Set(20L)) // 10 near-dups corpus doc 1
      input.addData((30L, base), (40L, (1 to 30).map(i => s"y$i").mkString(" ")))
      q.processAllAvailable()
      assert(survivors.toSet == Set(20L, 40L))
    } finally q.stop()
  }

  test("streaming dedup stamps the hot-bucket recall observable on every micro-batch") {
    // r14 verdict item 6: the excluded-hot-bucket count must reach the
    // streaming METRICS surface per batch, not only the wire-up callback.
    // Plant the hot bucket: 4 identical corpus docs overflow every band
    // bucket at cap 2, so the whole index is excluded and a near-dup of
    // the hot cluster PASSES (the documented recall hole) — and the metric
    // row says so.
    import graft.streaming.{BatchMetrics, StreamOps}
    val tracker = BatchMetrics.track(spark)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = (1L to 4L).map(i => (i, base)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    var cb = -1L
    val q = StreamOps.dedupAgainstCorpus(
        input.toDF().toDF("doc_id", "text"), corpus,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)),
        onHotBuckets = cb = _, maxBucket = 2)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      assert(cb > 0L, s"planted hot corpus must trip the cap, got $cb")
      input.addData((10L, base + " tail"))
      q.processAllAvailable()
      assert(survivors.toSet == Set(10L),
        "the hot-cluster near-dup passes (the cap's documented recall hole)")
      // listener delivery is async relative to the action returning
      val deadline = System.currentTimeMillis + 10000
      var m = tracker.latest("graft-dedup")
      while (m.isEmpty && System.currentTimeMillis < deadline) {
        Thread.sleep(50); m = tracker.latest("graft-dedup")
      }
      assert(m.isDefined, "dedup metrics row not delivered")
      assert(m.get.getAs[Long]("hot_buckets_excluded") == cb, s"got ${m.get}")
      assert(m.get.getAs[Long]("survivor_cnt") == 1L, s"got ${m.get}")
    } finally { q.stop(); spark.listenerManager.unregister(tracker) }
  }

  test("streaming paragraph dedup drops docs by containment in the corpus index") {
    import graft.streaming.StreamOps
    // corpus doc = paragraphs A B C (30 tokens = three 10-token blocks).
    // Incoming: 10 = A B + fresh block (2/3 known = 667‰ ≥ 600 → drop);
    // 20 = A + two fresh blocks (333‰ → survive); 30 = A B C verbatim
    // (1000‰ → drop); 40 = all fresh (0‰ → survive). Containment is the
    // predicate — doc 10 was never seen verbatim yet still drops.
    def block(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val corpus = Seq((1L, s"${block("a")} ${block("b")} ${block("c")}"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    val q = StreamOps.paragraphDedupAgainstCorpus(
        input.toDF().toDF("doc_id", "text"), corpus,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((10L, s"${block("a")} ${block("b")} ${block("x")}"),
        (20L, s"${block("a")} ${block("y")} ${block("z")}"))
      q.processAllAvailable()
      assert(survivors.toSet == Set(20L), s"batch 1: $survivors")
      input.addData((30L, s"${block("a")} ${block("b")} ${block("c")}"),
        (40L, s"${block("p")} ${block("q")} ${block("r")}"))
      q.processAllAvailable()
      assert(survivors.toSet == Set(20L, 40L), s"batch 2: $survivors")
    } finally q.stop()
    // parity with the batch twin on the same rows
    import graft.operators.Dedup
    val incoming = Seq(
      (10L, s"${block("a")} ${block("b")} ${block("x")}"),
      (20L, s"${block("a")} ${block("y")} ${block("z")}"),
      (30L, s"${block("a")} ${block("b")} ${block("c")}"),
      (40L, s"${block("p")} ${block("q")} ${block("r")}")).toDF("doc_id", "text")
    val matched = Dedup.paragraphMatchedIds(
      Dedup.paragraphHashes(corpus).select(col("ph")).distinct(),
      Dedup.paragraphHashes(incoming))
    val batchSurvivors = incoming.join(matched, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(batchSurvivors == Set(20L, 40L))
  }

  test("streaming winnowing dedup drops position-shifted restitches of corpus text") {
    import graft.operators.Dedup
    import graft.streaming.StreamOps
    // corpus doc = one 40-token passage. Incoming: 10 = the same passage
    // with THREE fresh tokens prepended (every 10-token paragraph block
    // is misaligned — paragraph hashing sees 0% containment — but the
    // winnowing fingerprints of the shared 40-token run are position-
    // independent → high containment → drop); 20 = fresh text (survive);
    // 30 = corpus passage verbatim (drop); 40 = only a 5-token fragment
    // of the passage (< w+k−1 = 7 shared tokens ⇒ below the detection
    // floor, fingerprints mostly fresh → survive).
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    val corpus = Seq((1L, passage)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    val q = StreamOps.winnowingDedupAgainstCorpus(
        input.toDF().toDF("doc_id", "text"), corpus,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((10L, s"f1 f2 f3 $passage"),
        (20L, (1 to 40).map(i => s"q$i").mkString(" ")))
      q.processAllAvailable()
      assert(survivors.toSet == Set(20L), s"batch 1: $survivors")
      input.addData((30L, passage),
        (40L, (1 to 30).map(i => s"r$i").mkString(" ") + " " +
          (1 to 5).map(i => s"p$i").mkString(" ")))
      q.processAllAvailable()
      assert(survivors.toSet == Set(20L, 40L), s"batch 2: $survivors")
    } finally q.stop()
    // parity with the batch twin on the same rows
    val incoming = Seq(
      (10L, s"f1 f2 f3 $passage"),
      (20L, (1 to 40).map(i => s"q$i").mkString(" ")),
      (30L, passage),
      (40L, (1 to 30).map(i => s"r$i").mkString(" ") + " " +
        (1 to 5).map(i => s"p$i").mkString(" "))).toDF("doc_id", "text")
    val matched = Dedup.winnowingMatchedIds(
      Dedup.winnowingFingerprints(corpus).select(col("fp")).distinct(),
      Dedup.winnowingFingerprints(incoming))
    val batchSurvivors = incoming.join(matched, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(batchSurvivors == Set(20L, 40L))
    // the paragraph modality MISSES the shifted restitch (doc 10): every
    // 10-token block is offset by 3 — zero block hashes match, so it
    // survives there; winnowing is the modality that catches it
    val pMatched = Dedup.paragraphMatchedIds(
      Dedup.paragraphHashes(corpus).select(col("ph")).distinct(),
      Dedup.paragraphHashes(incoming.filter(col("doc_id") === 10L)))
    assert(pMatched.count() == 0, "paragraph hashing should miss the shifted restitch")
  }

  test("streaming media dedup drops corpus near-dups across micro-batch boundaries") {
    import graft.operators.Imaging
    import graft.streaming.StreamOps
    // corpus: every tenth id; planted classes make id and id+256 the same
    // image (same doc_id % 256), so incoming near-dups of corpus images
    // must be dropped, fresh classes kept — the batch twin of the
    // stream_media_dedup catalog entry
    val corpusHs = Imaging.imageHashes(
      spark.range(0, 500, 10).select(col("id").as("doc_id")).as[Long]).toDF()
    val input = MemoryStream[Long](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    val q = StreamOps.mediaDedupAgainstCorpus(
        input.toDF().toDF("doc_id"), corpusHs,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // 266 = 10 + 256: same class as corpus id 10, differing only by the
      // bump (corpus ids are all %5==0) — a planted near-dup, dropped.
      // 501 (s = 245): corpus ids are even so their s values are even;
      // odd-s classes have no corpus member and survive.
      input.addData(266L, 501L)
      q.processAllAvailable()
      assert(survivors.toSet == Set(501L), s"batch 1: $survivors")
      // second batch: state-free per-batch semantics — another corpus
      // near-dup (276 = 20 + 256) still drops, another odd class survives
      input.addData(276L, 503L)
      q.processAllAvailable()
      assert(survivors.toSet == Set(501L, 503L), s"batch 2: $survivors")
    } finally q.stop()
    // parity with the batch twin on the same ids
    val incoming = Seq(266L, 501L, 276L, 503L).toDF("doc_id")
    val matched = Imaging.dhashMatchedIds(corpusHs,
      Imaging.imageHashes(incoming.select(col("doc_id")).as[Long]).toDF())
    val batchSurvivors = incoming.join(matched, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(batchSurvivors == Set(501L, 503L))
  }

  test("streaming audio dedup drops corpus fingerprint matches across micro-batches") {
    import graft.operators.{Audio, Imaging}
    import graft.streaming.StreamOps
    val corpusFps = Audio.spectralFingerprints(
      spark.range(0, 500, 10).select(col("id").as("doc_id")).as[Long]).toDF()
    val input = MemoryStream[Long](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    val q = StreamOps.audioDedupAgainstCorpus(
        input.toDF().toDF("doc_id"), corpusFps,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // 266 = 10 + 256: same waveform class as corpus id 10 modulo the
      // bump (hamming 1-5) — dropped. 501 (s = 245, odd): corpus ids are
      // even, odd-s classes have no corpus fingerprint — survives.
      input.addData(266L, 501L)
      q.processAllAvailable()
      assert(survivors.toSet == Set(501L), s"batch 1: $survivors")
      input.addData(276L, 503L)
      q.processAllAvailable()
      assert(survivors.toSet == Set(501L, 503L), s"batch 2: $survivors")
    } finally q.stop()
    // parity with the batch twin (same hamming <= 8 the operator defaults)
    val incoming = Seq(266L, 501L, 276L, 503L).toDF("doc_id")
    val matched = Imaging.dhashMatchedIds(corpusFps,
      Audio.spectralFingerprints(incoming.select(col("doc_id")).as[Long]).toDF(),
      maxHamming = 8, hashCol = "afp")
    assert(incoming.join(matched, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet == Set(501L, 503L))
  }

  test("streaming video dedup drops corpus frame-hash matches across micro-batches") {
    import graft.operators.Video
    import graft.streaming.StreamOps
    val corpusFh = Video.frameHashes(
      spark.range(0, 500, 10).select(col("id").as("doc_id")).as[Long]).toDF()
    val input = MemoryStream[Long](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    val q = StreamOps.videoDedupAgainstCorpus(
        input.toDF().toDF("doc_id"), corpusFh,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // 266 = 10 + 256: same frame class as corpus id 10 — its distinct
      // frame hashes all appear in the index, dropped. 501 (s = 245,
      // odd): corpus ids are even, odd-s frame classes are absent —
      // survives.
      input.addData(266L, 501L)
      q.processAllAvailable()
      assert(survivors.toSet == Set(501L), s"batch 1: $survivors")
      // 296 = 40 + 256: 5 frames / 2 scenes, 4 distinct hashes all in the
      // corpus via id 40 — dropped. (276 would SURVIVE by design: 3
      // frames whose scene-0 base and jitter hashes coincide for s=20 —
      // one distinct hash is below the minShared=2 evidence bar.)
      input.addData(296L, 503L)
      q.processAllAvailable()
      assert(survivors.toSet == Set(501L, 503L), s"batch 2: $survivors")
    } finally q.stop()
    // parity with the batch twin
    val incoming = Seq(266L, 501L, 296L, 503L).toDF("doc_id")
    val matched = Video.videoMatchedIds(corpusFh,
      Video.frameHashes(incoming.select(col("doc_id")).as[Long]).toDF())
    assert(incoming.join(matched, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet == Set(501L, 503L))
  }

  test("streaming LM filter drops improbable docs and matches its batch twin") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.functions.{broadcast, coalesce, count, explode, floor, length, lit, log, pmod, split, sum}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tr = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
    val lm = tr.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tr.agg(count(lit(1)).as("total"))))
      .select(col("tok"),
        floor(lit(1e6) * log(col("cnt").cast("double") / col("total")))
          .cast("long").as("lp"))
    val minAvg = -3405000L
    val oov = -15000000L
    // batch twin: the survivor set computed in one shot
    val expected = toks.filter(pmod(col("doc_id"), lit(2)) === 1)
      .join(lm, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("lp"), lit(oov))).as("slp"))
      .filter(col("slp") >= col("n") * lit(minAvg))
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture should keep some docs")
    val oddDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(oddDocs.length > expected.size, "fixture should drop some docs")
    // stream the held-out docs in two micro-batches
    val input = MemoryStream[(Long, String)](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    val q = StreamOps.lmFilterStream(
        input.toDF().toDF("doc_id", "text"), lm,
        batch => survivors ++= batch.select("doc_id").collect().map(_.getLong(0)),
        minAvgLogpX1e6 = minAvg, oovLpX1e6 = oov)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      val (first, rest) = oddDocs.splitAt(oddDocs.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(rest.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(survivors.toSet == expected,
      s"stream/batch divergence: extra=${survivors.toSet -- expected} missing=${expected -- survivors}")
  }

  test("streaming embedding dedup drops corpus cosine matches across micro-batches") {
    import graft.operators.Dedup
    import graft.streaming.StreamOps
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val dim = 8
    val corpus = Seq(
      (0L, vec(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, vec(0, 1, 0, 0, 0, 0, 0, 0))).toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Array[Float])](spark)
    val survivors = scala.collection.mutable.Set[Long]()
    var hotBuckets = -1L
    val q = StreamOps.embeddingDedupAgainstCorpus(
        input.toDF().toDF("vec_id", "embedding"), corpus,
        batch => survivors ++= batch.select("vec_id").collect().map(_.getLong(0)),
        dim = dim, onHotBuckets = hotBuckets = _)
      .trigger(Trigger.ProcessingTime(0)).start()
    assert(hotBuckets == 0L, s"expected a clean corpus index, got $hotBuckets")
    try {
      // 100: near-dup of corpus vector 0 (cosine ≈ 0.995) — dropped;
      // 101: orthogonal to both corpus vectors (cosine 0) — survives
      input.addData(
        (100L, vec(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
        (101L, vec(0, 0, 1, 0, 0, 0, 0, 0)))
      q.processAllAvailable()
      assert(survivors.toSet == Set(101L), s"batch 1: $survivors")
      // per-batch semantics: a later batch still dedups against the corpus
      input.addData(
        (102L, vec(0.1, 0.99, 0, 0, 0, 0, 0, 0)),
        (103L, vec(0, 0, 0, 1, 0, 0, 0, 0)))
      q.processAllAvailable()
      assert(survivors.toSet == Set(101L, 103L), s"batch 2: $survivors")
    } finally q.stop()
    // parity with the batch twin
    val incoming = Seq(
      (100L, vec(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (101L, vec(0, 0, 1, 0, 0, 0, 0, 0)),
      (102L, vec(0.1, 0.99, 0, 0, 0, 0, 0, 0)),
      (103L, vec(0, 0, 0, 1, 0, 0, 0, 0))).toDF("vec_id", "embedding")
    val matched = Dedup.embeddingMatchedIds(corpus, incoming, dim, threshold = 0.45)
    assert(incoming.join(matched, Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet == Set(101L, 103L))
  }

  test("AvailableNow drain processes the backlog, terminates, and resumes incrementally") {
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-drain").toString
    val ckpt = Files.createTempDirectory("graft-drain-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    input.addData(rec(0, "a"), rec(1, "b"))
    Pipeline.drainAvailable(input.toDF(), cfg, root, ckpt, name = "graft_drain_1")
    assert(spark.read.parquet(root).count() == 2)
    // a second drain from the same checkpoint only takes the new records
    input.addData(rec(2, "c"))
    Pipeline.drainAvailable(input.toDF(), cfg, root, ckpt, name = "graft_drain_2")
    assert(spark.read.parquet(root).count() == 3)
  }

  test("stateful operator state survives a kill-and-restart from checkpoint") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{ChangeEvent, KeyedRecord}
    // the reference commits offsets before flushing (kafka.rs:252-265 —
    // a crash there replays or loses the window); this drives the
    // documented stronger guarantee: state-store recovery makes a
    // kill/restart invisible to both compaction and dedup semantics
    // the memory sink refuses checkpoint recovery, so both halves sink
    // through foreachBatch (which supports it) into a driver-side buffer
    val ckLatest = Files.createTempDirectory("graft-ck-latest").toString
    val inLatest = MemoryStream[ChangeEvent](spark)
    val latestOut = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    def startLatest() = StreamOps.latestByKey(inLatest.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamOps.CompactedRow], _: Long) =>
        val rows = ds.collect().map(r => (r.key, r.ts_ms, r.payload))
        latestOut.synchronized { latestOut ++= rows }
        ()
      }
      .option("checkpointLocation", ckLatest)
      .trigger(Trigger.ProcessingTime(0)).start()
    val q1 = startLatest()
    inLatest.addData(
      ChangeEvent(1L, 10L, 1L, "upsert", "v10"),
      ChangeEvent(2L, 20L, 1L, "upsert", "v20"))
    q1.processAllAvailable()
    q1.stop()
    // arrivals while the query is down: a STALE replay for key 1 (older
    // than the checkpointed state — state loss would surface it as the
    // current row) and a genuine update for key 2
    inLatest.addData(
      ChangeEvent(1L, 5L, 0L, "upsert", "stale"),
      ChangeEvent(2L, 30L, 2L, "upsert", "v30"))
    latestOut.synchronized(latestOut.clear())
    val q2 = startLatest()
    try {
      q2.processAllAvailable()
      val rows = latestOut.synchronized(latestOut.toList)
        .map { case (k, ts, p) => k -> ((ts, p)) }.toMap
      assert(rows(1L) == ((10L, "v10")), s"stale replay must lose to recovered state, got $rows")
      assert(rows(2L) == ((30L, "v30")), s"genuine update must win, got $rows")
    } finally q2.stop()

    // bloom dedup: a key admitted before the crash must stay inadmissible
    // after restart (recovered filter bits), while new keys still pass
    val ckBloom = Files.createTempDirectory("graft-ck-bloom").toString
    val inBloom = MemoryStream[KeyedRecord](spark)
    val bloomOut = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def startBloom() = StreamOps.bloomDedup(inBloom.toDS(), mBits = 1 << 12, k = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamOps.KeyedRecord], _: Long) =>
        val rows = ds.collect().map(r => (r.key, r.payload))
        bloomOut.synchronized { bloomOut ++= rows }
        ()
      }
      .option("checkpointLocation", ckBloom)
      .trigger(Trigger.ProcessingTime(0)).start()
    val q3 = startBloom()
    inBloom.addData(KeyedRecord(0, "a", "p1"))
    q3.processAllAvailable()
    q3.stop()
    inBloom.addData(KeyedRecord(0, "a", "p2"), KeyedRecord(0, "b", "p3"))
    bloomOut.synchronized(bloomOut.clear())
    val q4 = startBloom()
    try {
      q4.processAllAvailable()
      val admitted = bloomOut.synchronized(bloomOut.toSet)
      assert(admitted == Set(("b", "p3")),
        s"re-offered key must stay deduped across the restart, got $admitted")
    } finally q4.stop()
  }

  test("KMV sketch state survives a kill-and-restart from checkpoint") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{HashedElem, KmvRow}
    // the sketch's k minima accumulate across the restart: values seen
    // BEFORE the kill must still cap the post-restart kth minimum —
    // state loss would reset θ to the post-restart arrivals only
    val ck = Files.createTempDirectory("graft-ck-kmv").toString
    val in = MemoryStream[HashedElem](spark)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    def start() = StreamOps.kmvDistinctPerKey(in.toDS(), k = 4)
      .writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[KmvRow], _: Long) =>
        val rows = ds.collect().map(r => (r.key, r.n_mins, r.theta, r.estimate))
        out.synchronized { out ++= rows }
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(0)).start()
    val q1 = start()
    in.addData(HashedElem("a", 10L), HashedElem("a", 20L), HashedElem("a", 30L))
    q1.processAllAvailable()
    q1.stop()
    // post-restart arrivals alone would give mins {5,100,200,300} (θ=300);
    // with recovered state the sketch is {5,10,20,30} → θ = 30
    in.addData(HashedElem("a", 5L), HashedElem("a", 100L),
      HashedElem("a", 200L), HashedElem("a", 300L))
    out.synchronized(out.clear())
    val q2 = start()
    try {
      q2.processAllAvailable()
      val last = out.synchronized(out.toList).last
      assert(last == (("a", 4L, 30L, 3L * 281474976710656L / 30L)),
        s"recovered sketch must keep pre-kill minima, got $last")
    } finally q2.stop()
  }

  test("stateful ops run and recover on the RocksDB state store (kill-and-restart)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{ChangeEvent, HashedElem, KmvRow}
    // same latestByKey + KMV recovery contracts as the default-provider
    // tests above, on Spark's RocksDB provider (GraftSession's 100 TB
    // keyed-state setting): state must survive a stop/start from the
    // checkpoint, and the state operator must REALLY be RocksDB-backed
    // (asserted via the provider's custom metrics, not just the conf).
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, graft.GraftSession.RocksDbProvider)
    spark.conf.set(changelogKey, "true")
    try {
      // --- latestByKey: stale replay loses to recovered state
      val ckLatest = Files.createTempDirectory("graft-ck-latest-rocks").toString
      val inLatest = MemoryStream[ChangeEvent](spark)
      val latestOut = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      def startLatest() = StreamOps.latestByKey(inLatest.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamOps.CompactedRow], _: Long) =>
          val rows = ds.collect().map(r => (r.key, r.ts_ms, r.payload))
          latestOut.synchronized { latestOut ++= rows }
          ()
        }
        .option("checkpointLocation", ckLatest)
        .trigger(Trigger.ProcessingTime(0)).start()
      val q1 = startLatest()
      inLatest.addData(ChangeEvent(1L, 10L, 1L, "upsert", "v10"))
      q1.processAllAvailable()
      val metrics = q1.lastProgress.stateOperators.apply(0).customMetrics
      assert(metrics.containsKey("rocksdbGetCount"),
        s"state operator must be RocksDB-backed, metrics: ${metrics.keySet()}")
      q1.stop()
      inLatest.addData(ChangeEvent(1L, 5L, 0L, "upsert", "stale"))
      latestOut.synchronized(latestOut.clear())
      val q2 = startLatest()
      try {
        q2.processAllAvailable()
        val rows = latestOut.synchronized(latestOut.toList)
          .map { case (k, ts, p) => k -> ((ts, p)) }.toMap
        assert(rows(1L) == ((10L, "v10")),
          s"stale replay must lose to RocksDB-recovered state, got $rows")
      } finally q2.stop()

      // --- KMV sketch: pre-kill minima survive the restart
      val ck = Files.createTempDirectory("graft-ck-kmv-rocks").toString
      val in = MemoryStream[HashedElem](spark)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      def start() = StreamOps.kmvDistinctPerKey(in.toDS(), k = 4)
        .writeStream.outputMode("update")
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[KmvRow], _: Long) =>
          val rows = ds.collect().map(r => (r.key, r.n_mins, r.theta, r.estimate))
          out.synchronized { out ++= rows }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime(0)).start()
      val q3 = start()
      in.addData(HashedElem("a", 10L), HashedElem("a", 20L), HashedElem("a", 30L))
      q3.processAllAvailable()
      q3.stop()
      in.addData(HashedElem("a", 5L), HashedElem("a", 100L),
        HashedElem("a", 200L), HashedElem("a", 300L))
      out.synchronized(out.clear())
      val q4 = start()
      try {
        q4.processAllAvailable()
        val last = out.synchronized(out.toList).last
        assert(last == (("a", 4L, 30L, 3L * 281474976710656L / 30L)),
          s"RocksDB-recovered sketch must keep pre-kill minima, got $last")
      } finally q4.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.unset(changelogKey)
    }
  }

  test("restart from checkpoint resumes without loss or duplication") {
    val input = MemoryStream[KafkaRecord](spark)
    val root = Files.createTempDirectory("graft-restart").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet)
    def startQuery() = Pipeline.streamToFiles(input.toDF(), cfg, root, ckpt,
      Trigger.ProcessingTime(0), name = "graft_restart_sink")
    val q1 = startQuery()
    input.addData(rec(0, "a"), rec(1, "b"))
    q1.processAllAvailable()
    q1.stop()
    // records pushed while the query is down
    input.addData(rec(2, "c"))
    val q2 = startQuery()
    try {
      input.addData(rec(3, "d"))
      q2.processAllAvailable()
      val offsets = spark.read.parquet(root).select("offset")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(offsets == Seq(0L, 1L, 2L, 3L), s"got $offsets")
    } finally q2.stop()
  }
}
