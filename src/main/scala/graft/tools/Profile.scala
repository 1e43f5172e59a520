package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.GraftSession
import graft.SparkEntry

/** Per-entry optimization probe: `runMain graft.tools.Profile name [name…]`
  * runs each catalog entry against `SPARK_GRAFT_SF_DIR` with the bench's
  * exact methodology (cache clear, noop sink — timing a `count()` would
  * let Catalyst prune the expensive projections, guide §1.4) and prints
  *
  *  - wall seconds for two runs (JVM-warm second run ≈ the bench's min),
  *  - a per-job breakdown (job count is the scheduler-overhead signal for
  *    the iterative operators),
  *  - the top stages by task time with shuffle read/write bytes (where the
  *    exchanges actually spend),
  *
  * and, when `SPARK_GRAFT_PLAN_DIR` is set, writes the entry's
  * `explain("formatted")` to `<dir>/<name>.txt` — the before/after plan
  * evidence `plans/r15/` commits.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate(quietAcceptedWarnings = true)
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")

    final case class StageRow(name: String, taskSec: Double, shufRead: Long,
                              shufWrite: Long, tasks: Int)
    val jobs = mutable.ArrayBuffer[(Int, Double)]()
    val stages = mutable.ArrayBuffer[StageRow]()
    val jobStart = mutable.Map[Int, Long]()
    var collecting = false
    // the listener bus posts from its own thread while the main thread
    // reads the buffers after each entry — synchronize both sides so a
    // backlogged bus can't corrupt rows mid-append
    val lock = new Object
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        lock.synchronized { if (collecting) jobStart(j.jobId) = j.time }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        lock.synchronized {
          if (collecting) jobStart.remove(j.jobId).foreach { t0 =>
            jobs += ((j.jobId, (j.time - t0) / 1e3))
          }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          if (collecting) {
            val i = s.stageInfo
            val m = i.taskMetrics
            stages += StageRow(i.name.takeWhile(_ != '\n'),
              m.executorRunTime / 1e3, m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten, i.numTasks)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    for (q <- args) {
      val fn = SparkEntry.queries(q)
      planDir.foreach { d =>
        val plan = fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"$q.txt"),
          plan.getBytes("UTF-8"))
      }
      var warm = 0.0
      for (run <- 1 to 2) {
        spark.catalog.clearCache()
        lock.synchronized {
          jobs.clear(); stages.clear(); jobStart.clear()
          collecting = run == 2
        }
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (run == 2) warm = sec
        println(f"[profile] $q run$run $sec%.2f s")
      }
      // listener events are posted asynchronously; give the bus a moment,
      // then snapshot under the lock (mid-append rows can't be observed)
      Thread.sleep(300)
      lock.synchronized { collecting = false }
      println(f"[profile] $q warm=$warm%.2f s jobs=${jobs.size} " +
        f"jobSecSum=${jobs.map(_._2).sum}%.2f")
      val top = lock.synchronized(stages.sortBy(-_.taskSec).take(12))
      for (s <- top)
        println(f"[profile]   stage taskSec=${s.taskSec}%7.2f tasks=${s.tasks}%4d " +
          f"sRead=${s.shufRead / 1024}%8dK sWrite=${s.shufWrite / 1024}%8dK  ${s.name}")
      println(f"[profile] $q stages=${stages.size} " +
        f"taskSecTotal=${stages.map(_.taskSec).sum}%.2f " +
        f"shufReadTotal=${stages.map(_.shufRead).sum / (1 << 20)}M " +
        f"shufWriteTotal=${stages.map(_.shufWrite).sum / (1 << 20)}M")
    }
    spark.stop()
  }
}
