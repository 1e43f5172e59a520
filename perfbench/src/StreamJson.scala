package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{PushBuffers, Sources}
import graft.streaming.Engine

/** `stream_json`, open loop: the daemon as `Engine.fromConfigJson` builds
  * it from a connect.json-shaped config — one push-class source read
  * through `PushDataSource`, the shipped JSON sink settings — fed by one
  * generator thread calling `PushBuffers.push` with 100-record batches on a
  * fixed schedule. Phases: untimed warm-up, a steady phase at one rate, then
  * bursts that each push a fixed backlog at once.
  */
object StreamJson {
  val BatchRecords = 100
  val Rate = 5000 // records/s in the warm-up and steady phases
  val WarmupS = 2
  val Bursts = 3
  val BurstRecords = 40000
  val BringUps = 3
  val TimeoutMs = 60000L

  private def config(name: String, queue: String): String =
    s"""{"kafka": {"bootstrap_servers": []},
       | "connectors": [
       |  {"name": "$name", "connector_class": "graft.PushSourceConnector",
       |   "connector_type": "source", "tasks_max": 1, "topics": ["bench"],
       |   "config": {"queue": "$queue"}},
       |  {"name": "bench-sink", "connector_class": "graft.FileSinkConnector",
       |   "connector_type": "sink", "tasks_max": 1, "topics": ["bench"],
       |   "config": {"s3.bucket.name": "bench", "format.class": "json",
       |     "partitioner.class": "default", "flush.size": "100"}}]}""".stripMargin

  /** A pushed batch: its index, when it was due, when it was pushed, and
    * the queue position that covers it.
    */
  final case class Pushed(k: Int, dueMs: Double, pushMs: Double, pushUs: Double, endPos: Long)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val log = new ProgressLog(tracer)
    spark.streams.addListener(log)
    val gen = new Records(seed)
    val expected = ArrayBuffer.empty[(Int, Int, Long, Array[Byte])]

    def push(queue: String, recs: Seq[graft.model.KafkaRecord], k: Int, due: Double): Pushed = {
      val t0 = tracer.nowMs
      val end = tracer.span("sources", "PushBuffers.push", s"push-$k") {
        PushBuffers.push(queue, recs)
      }
      val t1 = tracer.nowMs
      recs.foreach(r => expected += ((k, r.partition, r.offset, r.value)))
      Pushed(k, due, t0, (t1 - t0) * 1000, end)
    }

    // set-up, repeated: build the daemon from config, start it and commit
    // one batch; all but the last bring-up are torn down again
    var engine: Engine = null
    var query: StreamingQuery = null
    var queue, root = ""
    val bringUps = (0 until BringUps).map { i =>
      if (engine != null) engine.stop()
      expected.clear()
      val t0 = tracer.nowMs
      queue = s"bench-q$i-${System.nanoTime()}"
      root = new File(work, s"sink$i").getPath
      engine = Engine.fromConfigJson(spark, config(s"push$i", queue), root,
        new File(work, s"ckpt$i").getPath)
      engine.start()
      query = spark.streams.active.find(_.name == s"push$i").get
      val p = push(queue, gen.batch(BatchRecords, t0.toLong), -1, t0)
      require(log.await(query.id.toString, p.endPos, TimeoutMs).isDefined,
        s"bring-up $i: first batch never committed")
      tracer.nowMs - t0
    }
    val qid = query.id.toString
    val outDir = new File(root, "push" + (BringUps - 1))

    // open-loop phase: one push every BatchRecords/Rate seconds, timed from
    // when it was due, so a stalled push delays every later one
    def openLoop(seconds: Double, firstK: Int): Seq[Pushed] = {
      val periodMs = 1000.0 * BatchRecords / Rate
      val n = (seconds * 1000 / periodMs).toInt
      val t0 = tracer.nowMs + periodMs
      (0 until n).map { j =>
        val due = t0 + j * periodMs
        Waits.until(tracer, due)
        push(queue, gen.batch(BatchRecords, due.toLong), firstK + j, due)
      }
    }

    val warm = openLoop(WarmupS, 0)
    log.await(qid, warm.last.endPos, TimeoutMs)
    val setupS = ((tracer.nowMs - jvmStartMs) - bringUps.sum + Stats.median(bringUps)) / 1000
    result.metric("setup_s", setupS)
    result.notes("bring_up_s") = bringUps.map(_ / 1000)
    result.mark("setup")
    result.flush()

    // steady phase
    val steady = openLoop(seconds, warm.size)
    result.attempt(steady.size)
    log.await(qid, steady.last.endPos, TimeoutMs)
    val commits = steady.map(p => p -> log.covering(qid, p.endPos))
    // a batch that never committed misses every latency limit
    val lat = commits.map { case (p, e) => e.fold(Double.PositiveInfinity)(_.atMs - p.dueMs) }
    result.fail(commits.count(_._2.isEmpty))
    result.metric("commit_p50_ms", Stats.median(lat), lat.size)
    result.metric("commit_p90_ms", Stats.pct(lat, 90), lat.size)
    result.metric("commit_p99_ms", Stats.pct(lat, 99), lat.size)
    val late = steady.map(p => p.pushMs - p.dueMs)
    result.metric("gen_late_ms_max", late.max, late.size)
    result.mark("steady")
    result.flush()

    // bursts: each pushes a fixed backlog at once, just before a trigger
    // boundary (ProcessingTime triggers fire on whole multiples of the
    // interval), and is timed until the batch that covers it commits
    val burstRates = (0 until Bursts).map { b =>
      val period = 1000.0 // rotate.interval.ms default
      val now = tracer.nowMs
      val at = (math.floor(now / period) + 1) * period - 100
      Waits.until(tracer, if (at - now < 50) at + period else at)
      val t0 = tracer.nowMs
      val ps = (0 until BurstRecords / BatchRecords).map { j =>
        push(queue, gen.batch(BatchRecords, t0.toLong), 100000 * (b + 1) + j, t0)
      }
      result.attempt(ps.size)
      log.await(qid, ps.last.endPos, TimeoutMs) match {
        case Some(e) => BurstRecords / ((e.atMs - t0) / 1000)
        case None => result.fail(ps.size); Double.NaN
      }
    }.filterNot(_.isNaN)
    result.metric("catchup_rps", Stats.median(burstRates), burstRates.size)
    result.notes("catchup_rps_each") = burstRates
    result.mark("bursts")
    result.flush()

    if (tracer.enabled) layers(ctx, log, qid, steady, outDir)
    engine.stop()
    log.terminated.foreach(e => result.incorrect(s"query terminated: $e"))
    check(ctx, outDir, expected.toSeq)
  }

  /** The output check: the sink, read back with `Sources.jsonLinesRecords`,
    * must hold exactly the pushed multiset of (partition, offset, value).
    * `expected` is (pushed batch, partition, offset, value); every batch
    * with a missing, extra or changed record fails.
    */
  def check(ctx: Ctx, outDir: File, expected: Seq[(Int, Int, Long, Array[Byte])]): Unit = {
    import ctx._
    val got = Sources.jsonLinesRecords(spark, outDir.getPath)
      .select("partition", "offset", "value").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> Seq(r.getAs[Array[Byte]](2))).toSeq
    val bad = Checks.multisetDiff(expected.map { case (_, p, o, v) => (p, o) -> Seq(v) }, got)
    if (bad.nonEmpty) {
      result.incorrect(s"sink read-back differs from pushed records at ${bad.size} (partition, offset) keys, e.g. ${bad.take(3)}")
      val batchOf = expected.map { case (k, p, o, _) => (p, o) -> k }.toMap
      result.fail(bad.map(b => batchOf.getOrElse(b, -2)).size)
    }
  }

  private def layers(ctx: Ctx, log: ProgressLog, qid: String, steady: Seq[Pushed],
                     outDir: File): Unit = {
    import ctx._
    val batches = log.of(qid).filter(_.rows > 0)
    def dur(k: String) = Stats.mean(batches.map(_.durations.getOrElse(k, 0.0)))
    val l = result.layers
    val pushUs = steady.map(_.pushUs)
    l("sources.push_us_p50") = Stats.median(pushUs)
    l("sources.push_us_p99") = Stats.pct(pushUs, 99)
    l("sources.gen_late_ms_max") = steady.map(p => p.pushMs - p.dueMs).max
    l("streaming.batches") = batches.size
    l("streaming.rows_per_batch") = Stats.mean(batches.map(_.rows.toDouble))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .foreach(k => l(s"streaming.${k}_ms") = dur(k))
    l("streaming.trigger_wait_ms") = Stats.mean(steady.flatMap(p =>
      log.covering(qid, p.endPos).map(_.startMs - p.pushMs)))
    val files = Checks.dataFiles(outDir)
    l("sinks.files_per_batch") = files.size.toDouble / batches.size.max(1)
    l("sinks.bytes_per_batch") = files.map(_.length).sum.toDouble / batches.size.max(1)
    l ++= Tracer.sparkLayers(batches.map { b =>
      val end = b.startMs + b.durations.getOrElse("triggerExecution", 0.0)
      (b.startMs, end, tracer.jobsOfBatch(qid, b.batchId), tracer.execsIn(b.startMs, end))
    })
    batches.foreach { b =>
      tracer.add(Span(tracer.newId(), 0, s"mb-${b.batchId}", "streaming", "micro-batch",
        b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0.0)))
    }
  }
}
