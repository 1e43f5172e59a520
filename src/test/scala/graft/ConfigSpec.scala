package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ConfigLoader, Format, PartitionerKind}

/** Round-trips the reference's shipped config shape
  * (`config/connect.json:1-32`, unit-tested at `utils/config.rs:104-169`).
  */
class ConfigSpec extends AnyFunSuite {

  private val shipped =
    """{
      |  "tcp_address": "0.0.0.0:50051",
      |  "unix_socket_path": "/tmp/connect.sock",
      |  "kafka": {
      |    "bootstrap_servers": ["kafka:9092"],
      |    "group_id": "rust-connect",
      |    "properties": {"session.timeout.ms": "6000"}
      |  },
      |  "connectors": [
      |    {
      |      "name": "kafka-source",
      |      "connector_class": "io.rustconnect.KafkaSourceConnector",
      |      "connector_type": "source",
      |      "tasks_max": 2,
      |      "topics": ["test-topic"],
      |      "config": {"batch.size": "50"}
      |    },
      |    {
      |      "name": "s3-sink",
      |      "connector_class": "io.rustconnect.S3SinkConnector",
      |      "connector_type": "sink",
      |      "tasks_max": 2,
      |      "topics": ["test-topic"],
      |      "config": {
      |        "s3.bucket.name": "test-bucket",
      |        "s3.prefix": "data",
      |        "format.class": "json",
      |        "partitioner.class": "time",
      |        "flush.size": "100"
      |      }
      |    }
      |  ]
      |}""".stripMargin

  test("parses the shipped reference config shape") {
    val cfg = ConfigLoader.parse(shipped)
    assert(cfg.tcpAddress.contains("0.0.0.0:50051"))
    assert(cfg.unixSocketPath.contains("/tmp/connect.sock"))
    assert(cfg.kafka.bootstrapServers == Seq("kafka:9092"))
    assert(cfg.kafka.properties == Map("session.timeout.ms" -> "6000"))
    assert(cfg.connectors.map(_.name) == Seq("kafka-source", "s3-sink"))
    assert(cfg.connectors(0).tasksMax == 2)
  }

  test("derives effective source/sink configs like the reference manager") {
    val cfg = ConfigLoader.parse(shipped)
    val src = ConfigLoader.sourceConfig(cfg, cfg.connectors(0))
    assert(src.bootstrapServers == "kafka:9092")
    assert(src.topics == Seq("test-topic"))
    assert(src.groupId == "rust-connect")
    assert(src.batchSize == 50L) // connector config overrides
    assert(src.kafkaPassthrough == Map("session.timeout.ms" -> "6000"))

    val sink = ConfigLoader.sinkConfig(cfg.connectors(1))
    assert(sink.bucketName == "test-bucket")
    assert(sink.prefix == "data")
    assert(sink.format == Format.Json)
    assert(sink.partitioner == PartitionerKind.Time)
    assert(sink.flushSize == 100)
    // rotate.interval.ms (connector.proto:214, declared-only in the
    // reference): defaults to 1 s; an explicit value becomes the trigger
    // interval (the micro-batch IS the rotation unit)
    assert(sink.rotateIntervalMs == 1000)
    assert(graft.model.SinkConfig.fromMap(Map(
      "s3.bucket.name" -> "b", "rotate.interval.ms" -> "250")).rotateIntervalMs == 250)
  }

  test("parses route.<topic> keys into table routes (multi-table fan-out)") {
    import graft.model.TableRoute
    val routes = TableRoute.fromMap(Map(
      "route.orders" -> "orders_v2",
      "route.clicks" -> "clicks:json",
      "s3.bucket.name" -> "b", "format" -> "json"))
    assert(routes == Seq(
      TableRoute("clicks", "clicks", Format.Json),
      TableRoute("orders", "orders_v2", Format.Parquet)))
    // no route keys → empty (Engine keeps the reference's first-sink path)
    assert(TableRoute.fromMap(Map("s3.bucket.name" -> "b")).isEmpty)
    // raw bytes is a FileSink object format, not a table format
    assertThrows[IllegalArgumentException](
      TableRoute.fromMap(Map("route.t" -> "tbl:bytes")))
  }

  test("rejects two topics routed to one table (replay-marker collision)") {
    // two routes to the same table share the per-table batch=<id> replay
    // marker: the second topic's write every micro-batch would look like a
    // replay of the first's and be dropped — permanent loss, so the config
    // surface rejects it up front
    import graft.model.TableRoute
    val ex = intercept[IllegalArgumentException](TableRoute.fromMap(Map(
      "route.a" -> "shared", "route.b" -> "shared:json")))
    assert(ex.getMessage.contains("shared"))
    // distinct tables stay fine
    assert(TableRoute.fromMap(Map(
      "route.a" -> "ta", "route.b" -> "tb")).size == 2)
  }

  test("rotate.interval.ms validates at the config surface") {
    import graft.model.SinkConfig
    val base = Map("s3.bucket.name" -> "b")
    assert(SinkConfig.fromMap(base + ("rotate.interval.ms" -> "250")).rotateIntervalMs == 250)
    // non-numeric → named key in the message, not a bare NumberFormatException
    val bad = intercept[IllegalArgumentException](
      SinkConfig.fromMap(base + ("rotate.interval.ms" -> "fast")))
    assert(bad.getMessage.contains("rotate.interval.ms"))
    // 0 would busy-spin the trigger; negative would fail opaquely at start
    assertThrows[IllegalArgumentException](
      SinkConfig.fromMap(base + ("rotate.interval.ms" -> "0")))
    assertThrows[IllegalArgumentException](
      SinkConfig.fromMap(base + ("rotate.interval.ms" -> "-5")))
  }

  test("a control address without a valid port fails at parse, naming its key") {
    for ((key, bad) <- Seq("tcp_address" -> "127.0.0.1", "tcp_address" -> "host:http",
                           "json_tcp_address" -> "127.0.0.1:70000")) {
      val json = shipped.replace("\"tcp_address\": \"0.0.0.0:50051\"", s""""$key": "$bad"""")
      val ex = intercept[IllegalArgumentException](ConfigLoader.parse(json))
      assert(ex.getMessage.contains(key) && ex.getMessage.contains(bad), ex.getMessage)
    }
    // an empty host is loopback, as before
    val cfg = ConfigLoader.parse(shipped.replace("0.0.0.0:50051", ":50051"))
    assert(cfg.tcpBind.contains(("127.0.0.1", 50051)))
  }

  test("rejects unknown connector_type") {
    val bad = shipped.replace("\"connector_type\": \"source\"", "\"connector_type\": \"transform\"")
    assertThrows[IllegalArgumentException](ConfigLoader.parse(bad))
  }

  test("Engine refuses a config with no sink connector") {
    val sourceOnly = shipped.replace("\"connector_type\": \"sink\"", "\"connector_type\": \"source\"")
    val root = java.nio.file.Files.createTempDirectory("graft-nosink").toString
    assertThrows[IllegalArgumentException](
      graft.streaming.Engine.fromConfigJson(SparkSpec.session, sourceOnly, root, s"$root/ckpt"))
  }

  test("Engine wires config into registered connectors with control-plane verbs") {
    val spark = SparkSpec.session
    val root = java.nio.file.Files.createTempDirectory("graft-engine").toString
    val engine = graft.streaming.Engine.fromConfigJson(spark, shipped, root, s"$root/ckpt")
    // GetConfig round-trips
    assert(engine.config.map(_.connectors.map(_.name)).contains(Seq("kafka-source", "s3-sink")))
    // GetStatus: registered but never started
    assert(engine.status == Map("kafka-source" -> graft.model.ConnectorState.Uninitialized))
    // UpdateConfig swaps the registry (rename the source connector)
    val renamed = shipped.replace("\"name\": \"kafka-source\"", "\"name\": \"kafka-source-v2\"")
    engine.updateConfig(graft.model.ConfigLoader.parse(renamed))
    assert(engine.config.map(_.connectors.head.name).contains("kafka-source-v2"))
    assert(engine.status == Map("kafka-source-v2" -> graft.model.ConnectorState.Uninitialized))
  }

  test("Bench: a malformed SPARK_GRAFT_QUIET_CPUS falls back to 32") {
    assert(Bench.quietStandardCpus(None) == 32)
    assert(Bench.quietStandardCpus(Some("8")) == 8)
    assert(Bench.quietStandardCpus(Some(" 16 ")) == 16)
    assert(Bench.quietStandardCpus(Some("32cores")) == 32)
    assert(Bench.quietStandardCpus(Some("")) == 32)
  }
}
