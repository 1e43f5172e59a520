package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Minimal JSON encoder for the result and span files (maps, sequences,
  * numbers, strings, booleans; NaN and None become null).
  */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      if (lo == hi || s(hi).isPosInfinity) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** The result file one workload phase writes. It is rewritten after every
  * step, so if the JVM dies the launcher still reads the last numbers and
  * how many operations had been attempted by then.
  */
final class Result(file: File, workload: String) {
  private val fields = mutable.LinkedHashMap[String, Any](
    "workload" -> workload, "finished" -> false, "attempted" -> 0L, "failed" -> 0L,
    "correct" -> true)
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]

  def attempted: Long = fields("attempted").asInstanceOf[Long]
  def failed: Long = fields("failed").asInstanceOf[Long]
  def attempt(n: Long): Unit = synchronized { fields("attempted") = attempted + n }
  def fail(n: Long): Unit = synchronized { if (n > 0) fields("failed") = failed + n }
  def incorrect(why: String): Unit = synchronized {
    fields("correct") = false
    notes("check_failures") = notes.getOrElse("check_failures", Nil).asInstanceOf[List[String]] :+ why
  }
  /** Note how far into the JVM's life a step ended (seconds). */
  def mark(step: String): Unit = synchronized {
    val t = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    notes("timeline_s") = notes.getOrElse("timeline_s", Vector.empty[(String, Double)])
      .asInstanceOf[Vector[(String, Double)]] :+ (step -> t)
  }
  def metric(name: String, v: Double, n: Int = -1): Unit = synchronized {
    metrics(name) = v
    if (n >= 0) samples(name) = n
  }

  def flush(finished: Boolean = false): Unit = synchronized {
    fields("finished") = finished
    val body = fields ++ Map("metrics" -> metrics, "samples" -> samples,
      "layers" -> layers, "notes" -> notes)
    val tmp = new File(file.getPath + ".tmp")
    Files.write(tmp.toPath, Json.write(body).getBytes(UTF_8))
    Files.move(tmp.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** What every workload gets: the session, its tracer, its inputs' seed, the
  * measuring time, a scratch directory and the result to fill.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int,
                     work: File, data: File, traceDir: File, result: Result) {
  /** Wall-clock ms at which this JVM started (setup time counts from here). */
  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
}

/** One workload phase in its own JVM:
  * `graftbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *  --out <result.json> --work <dir> [--data <dir>] [--trace-dir <dir>]`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val result = new Result(new File(a("out")), workload)
    result.flush()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.getOrCreate(s"local[$cores]", cores, quietAcceptedWarnings = true)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(a.getOrElse("trace", "0") == "1")
    tracer.install(spark)
    val work = new File(a("work"))
    val ctx = Ctx(spark, tracer, a("seed").toLong, a("seconds").toInt, work,
      new File(a.getOrElse("data", work.getPath)),
      new File(a.getOrElse("trace-dir", new File(work, "trace").getPath)), result)
    result.mark("session")
    try {
      workload match {
        case "stream_json" => StreamJson.run(ctx)
        case "grpc_ack" => GrpcAck.run(ctx, streams = 1)
        case "grpc_ack_c4" => GrpcAck.run(ctx, streams = math.min(4, cores))
        case "catalog_slice" => CatalogSlice.run(ctx)
        case "selftest" => Checks.selftest(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      result.mark("checked")
      result.metric("peak_rss_mb", peakRssMb())
      if (tracer.enabled) result.notes("layer_self_time") = tracer.write(ctx.traceDir)
      result.flush(finished = true)
    } catch {
      case e: Throwable =>
        result.incorrect(s"workload aborted: $e")
        result.flush()
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
    spark.stop()
    // gRPC and Spark leave non-daemon threads behind
    sys.exit(0)
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
