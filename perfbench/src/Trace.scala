package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional), so spans
  * recorded from System.nanoTime line up with Spark's listener timestamps.
  * `parent` is 0 for a root span; `traceId` groups the spans of one
  * operation (a pushed batch, a client round trip, a catalog entry).
  */
final case class Span(id: Long, parent: Long, traceId: String, layer: String,
                      name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** A Spark job as the SparkListener saw it, with its task metrics summed.
  * `queryId`/`batchId` are the streaming local properties when the job ran
  * inside a micro-batch.
  */
final class JobRec(val id: Int, val startMs: Double, val queryId: String,
                   val batchId: String, val stageIds: Seq[Int]) {
  @volatile var endMs: Double = Double.NaN
  val stages = new LongAdder; val tasks = new LongAdder
  val runMs = new LongAdder; val cpuNs = new LongAdder; val gcMs = new LongAdder
  val shuffleWrite = new LongAdder; val shuffleRead = new LongAdder
  val fetchWaitMs = new LongAdder; val spill = new LongAdder
}

/** One finished SQL execution: its planning phases and final-plan shape. */
final case class ExecRec(startMs: Double, endMs: Double, analysisMs: Double,
                         optimizationMs: Double, planningMs: Double,
                         planChars: Int, exchanges: Int, reused: Int,
                         broadcasts: Int)

/** The benchmark's tracer. Untraced runs keep only the wall clock; a traced
  * run also records spans around every call into a layer and subscribes to
  * Spark's public listener buses. Everything stays in memory until [[write]].
  */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  val execs = new ConcurrentLinkedQueue[ExecRec]

  def newId(): Long = ids.incrementAndGet()

  /** Record `f` as a span when tracing; otherwise just run it. */
  def span[A](layer: String, name: String, traceId: String, parent: Long = 0L,
              id: Long = 0L)(f: => A): A =
    if (!enabled) f
    else {
      val sid = if (id != 0L) id else newId()
      val t0 = nowMs
      try f finally spans.add(Span(sid, parent, traceId, layer, name, t0, nowMs))
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Span ids published under a key (a request id), so a span recorded on
    * another thread — a server verb serving a client call — can name the
    * client's span as its parent.
    */
  private val published = new ConcurrentHashMap[String, java.lang.Long]
  def publish(key: String, id: Long): Unit = if (enabled) published.put(key, id)
  def parentOf(key: String): Long = Option(published.get(key)).map(_.longValue).getOrElse(0L)

  /** Subscribe to the scheduler and SQL execution listeners (traced only). */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val j = new JobRec(e.jobId, e.time.toDouble,
          p.map(_.getProperty("sql.streaming.queryId")).orNull,
          p.map(_.getProperty("streaming.sql.batchId")).orNull, e.stageIds)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.increment())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
          j.tasks.increment()
          j.runMs.add(m.executorRunTime); j.cpuNs.add(m.executorCpuTime)
          j.gcMs.add(m.jvmGCTime)
          j.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          j.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          j.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
          j.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        execs.add(Tracer.execRec(qe, durationNs))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Spark jobs that started inside [from, to). */
  def jobsIn(from: Double, to: Double): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startMs >= from && j.startMs < to).toSeq

  /** Spark jobs of one micro-batch of one streaming query. */
  def jobsOfBatch(queryId: String, batchId: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.queryId == queryId && j.batchId == batchId.toString).toSeq

  def execsIn(from: Double, to: Double): Seq[ExecRec] =
    execs.asScala.filter(x => x.endMs >= from && x.endMs < to + 1).toSeq

  /** Write every span (one JSON object a line) and return the per-layer
    * self-time table: a span's self time is its duration minus the part of
    * it that its child spans cover.
    */
  def write(dir: java.io.File): Map[String, Any] = {
    dir.mkdirs()
    val all = spans.asScala.toSeq.sortBy(_.startMs)
    val out = new java.io.PrintWriter(new java.io.File(dir, "spans.jsonl"), "UTF-8")
    try all.foreach { s =>
      out.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.traceId,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally out.close()
    val children = all.groupBy(_.parent)
    val byLayer = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
      val self = s.durMs - Tracer.covered(kids)
      val (n, tot, slf) = byLayer.getOrElse(s.layer, (0, 0.0, 0.0))
      byLayer(s.layer) = (n + 1, tot + s.durMs, slf + self)
    }
    byLayer.map { case (l, (n, tot, slf)) =>
      l -> Map("spans" -> n, "total_ms" -> tot, "self_ms" -> slf)
    }.toMap
  }
}

object Tracer {
  /** Length of the union of the given intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  def execRec(qe: QueryExecution, durationNs: Long): ExecRec = {
    val ph = qe.tracker.phases
    def ms(n: String) = ph.get(n).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      .toDouble
    val end = ph.get("planning").map(_.endTimeMs.toDouble).getOrElse(start) + durationNs / 1e6
    val nodes = flatten(qe.executedPlan)
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike])
    ExecRec(start, end, ms("analysis"), ms("optimization"), ms("planning"),
      qe.executedPlan.treeString.length, shuffles + broadcasts + reused, reused, broadcasts)
  }

  /** Per-operation Spark-side layer numbers for a set of operations, each
    * given as (its wall span, the jobs and SQL executions attributed to it).
    */
  def sparkLayers(ops: Seq[(Double, Double, Seq[JobRec], Seq[ExecRec])]): Map[String, Double] = {
    val n = ops.size.max(1).toDouble
    def sumJ(f: JobRec => Double) = ops.map(_._3.map(f).sum).sum / n
    def sumX(f: ExecRec => Double) = ops.map(_._4.map(f).sum).sum / n
    val allX = ops.flatMap(_._4)
    val exch = allX.map(_.exchanges).sum
    Map(
      "driver.analysis_ms" -> sumX(_.analysisMs),
      "driver.optimization_ms" -> sumX(_.optimizationMs),
      "driver.planning_ms" -> sumX(_.planningMs),
      "driver.self_ms" -> ops.map { case (s, e, js, _) =>
        (e - s) - covered(js.map(j => (j.startMs max s, (if (j.endMs.isNaN) e else j.endMs) min e)))
      }.sum / n,
      "sched.jobs" -> ops.map(_._3.size).sum / n,
      "sched.stages" -> sumJ(_.stages.sum.toDouble),
      "sched.tasks" -> sumJ(_.tasks.sum.toDouble),
      "exec.run_ms" -> sumJ(_.runMs.sum.toDouble),
      "exec.cpu_ms" -> sumJ(_.cpuNs.sum / 1e6),
      "exec.gc_ms" -> sumJ(_.gcMs.sum.toDouble),
      "shuffle.write_bytes" -> sumJ(_.shuffleWrite.sum.toDouble),
      "shuffle.read_bytes" -> sumJ(_.shuffleRead.sum.toDouble),
      "shuffle.fetch_wait_ms" -> sumJ(_.fetchWaitMs.sum.toDouble),
      "shuffle.spill_bytes" -> sumJ(_.spill.sum.toDouble),
      "plan.final_chars_max" -> allX.map(_.planChars.toDouble).maxOption.getOrElse(0.0),
      "plan.exchanges" -> sumX(_.exchanges.toDouble),
      "plan.reuse_ratio" -> (if (exch == 0) 0.0 else allX.map(_.reused).sum.toDouble / exch),
      "plan.broadcast_builds" -> sumX(_.broadcasts.toDouble))
  }
}
