package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The daemon's SIGTERM path, in a real forked `graft.Main` JVM: the stop
  * registered on Hadoop's shutdown-hook manager must run to its end while
  * the SparkContext is still alive.
  */
class DaemonShutdownSpec extends AnyFunSuite {

  test("SIGTERM stops the control fronts, then the engine, with the context alive") {
    val root = Files.createTempDirectory("graft-daemon")
    val incoming = Files.createDirectories(root.resolve("incoming"))
    val cfg = root.resolve("connect.json")
    Files.writeString(cfg,
      s"""{
         |  "kafka": {"bootstrap_servers": []},
         |  "connectors": [
         |    {"name": "file-watch-source", "connector_class": "graft.FileStreamSourceConnector",
         |     "connector_type": "source", "topics": ["file-topic"],
         |     "config": {"path": "$incoming"}},
         |    {"name": "local-json-sink", "connector_class": "graft.FileSinkConnector",
         |     "connector_type": "sink", "topics": ["file-topic"],
         |     "config": {"s3.bucket.name": "graft-bucket", "s3.prefix": "data",
         |                "format.class": "json", "partitioner.class": "default"}}
         |  ]
         |}""".stripMargin)
    // the JDK module opens this JVM was started with (build.sbt), which
    // Spark needs outside spark-submit
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx768m") ++ opens ++
      Seq("-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
        "graft.Main", cfg.toString, root.resolve("data").toString,
        root.resolve("checkpoints").toString)
    val log = root.resolve("daemon.log")
    val daemon = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    def output = Files.readString(log)
    try {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
      while (daemon.isAlive && !output.contains("[graft] connector status:") &&
        System.nanoTime() < deadline) Thread.sleep(200)
      assert(output.contains("[graft] connector status:"),
        s"the daemon never reported its connectors:\n${output.takeRight(4000)}")

      daemon.destroy() // SIGTERM
      assert(daemon.waitFor(90, TimeUnit.SECONDS), "the daemon did not exit after SIGTERM")
      val out = output
      assert(out.contains("[graft] shutting down"), out.takeRight(4000))
      assert(out.contains("[graft] stopped; connector status:"),
        s"the stop did not run to its final status line:\n${out.takeRight(4000)}")
      assert(!out.contains("Cannot call methods on a stopped SparkContext"), out.takeRight(4000))
    } finally {
      if (daemon.isAlive) daemon.destroyForcibly().waitFor(30, TimeUnit.SECONDS)
    }
  }
}
