package graft.model

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Service configuration model + loader, mirroring `utils/config.rs:9-81`:
  * `tcp_address`, `unix_socket_path`, `kafka{bootstrap_servers[], group_id,
  * properties{}}`, `connectors[{name, connector_class, connector_type,
  * tasks_max, topics[], config{}}]`. Parsed with Jackson (ships with Spark),
  * no extra dependencies.
  */
final case class KafkaClusterConfig(
    bootstrapServers: Seq[String],
    groupId: Option[String],
    properties: Map[String, String])

final case class ConnectorConfig(
    name: String,
    connectorClass: String,
    connectorType: String, // "source" | "sink" per config.rs:63-69
    tasksMax: Int,
    topics: Seq[String],
    config: Map[String, String])

final case class GraftConfig(
    /** gRPC bind (the reference's tonic address, `main.rs:101-127`). */
    tcpAddress: Option[String],
    unixSocketPath: Option[String],
    /** Optional extra JSON-lines TCP bind — the pre-gRPC stand-in protocol,
      * kept for `nc`-style scripting; not part of the reference surface.
      */
    jsonTcpAddress: Option[String],
    /** Shared-secret for the TCP control plane: when set, every request
      * line must carry a matching `"token"` field or is rejected without
      * dispatch. Defense for non-loopback binds (update_config re-points
      * ingestion); loopback deployments can omit it.
      */
    authToken: Option[String],
    kafka: KafkaClusterConfig,
    connectors: Seq[ConnectorConfig]) {

  /** `tcp_address` as (host, port); [[ConfigLoader.parse]] validated it. */
  def tcpBind: Option[(String, Int)] =
    tcpAddress.map(ConfigLoader.hostPort("tcp_address", _))
  /** `json_tcp_address` as (host, port); [[ConfigLoader.parse]] validated it. */
  def jsonTcpBind: Option[(String, Int)] =
    jsonTcpAddress.map(ConfigLoader.hostPort("json_tcp_address", _))
}

object ConfigLoader {
  private val mapper = new ObjectMapper()

  def parse(json: String): GraftConfig = {
    val root = mapper.readTree(json)
    def strSeq(n: JsonNode): Seq[String] =
      if (n == null) Seq.empty else n.elements().asScala.map(_.asText()).toSeq
    def strMap(n: JsonNode): Map[String, String] =
      if (n == null) Map.empty
      else n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    def opt(n: JsonNode): Option[String] = Option(n).filterNot(_.isNull).map(_.asText())

    val kafkaN = root.get("kafka")
    require(kafkaN != null, "config requires a 'kafka' section")
    val kafka = KafkaClusterConfig(
      bootstrapServers = strSeq(kafkaN.get("bootstrap_servers")),
      groupId = opt(kafkaN.get("group_id")),
      properties = strMap(kafkaN.get("properties")))

    val connectors = Option(root.get("connectors")).toSeq
      .flatMap(_.elements().asScala)
      .map { c =>
        val ct = c.get("connector_type").asText()
        require(ct == "source" || ct == "sink", s"unknown connector_type: $ct")
        ConnectorConfig(
          name = c.get("name").asText(),
          connectorClass = c.get("connector_class").asText(),
          connectorType = ct,
          tasksMax = Option(c.get("tasks_max")).map(_.asInt()).getOrElse(1),
          topics = strSeq(c.get("topics")),
          config = strMap(c.get("config")))
      }

    val cfg = GraftConfig(
      tcpAddress = opt(root.get("tcp_address")),
      unixSocketPath = opt(root.get("unix_socket_path")),
      jsonTcpAddress = opt(root.get("json_tcp_address")),
      authToken = opt(root.get("auth_token")),
      kafka = kafka,
      connectors = connectors)
    // a malformed bind fails here, at boot, naming its key
    cfg.tcpBind; cfg.jsonTcpBind
    cfg
  }

  /** `host:port` → (host, port); an empty host (`":50051"`) is loopback.
    * Anything else — no port, a non-numeric or out-of-range one — is
    * rejected with a message naming the config `key`.
    */
  def hostPort(key: String, address: String): (String, Int) = {
    val i = address.lastIndexOf(':')
    val port = if (i < 0) None
      else address.substring(i + 1).toIntOption.filter(p => p >= 0 && p <= 65535)
    require(port.isDefined, s"$key: '$address' is not host:port (e.g. 127.0.0.1:50051)")
    val host = address.substring(0, i)
    (if (host.isEmpty) "127.0.0.1" else host, port.get)
  }

  def load(path: String): GraftConfig =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** Effective source config for a source connector: cluster-level servers +
    * group id merged under the connector's own config, topics joined —
    * mirrors how the reference threads `KafkaConfig` into task configs
    * (`manager.rs:70-91`).
    */
  def sourceConfig(cfg: GraftConfig, c: ConnectorConfig): SourceConfig =
    SourceConfig.fromMap(
      Map("bootstrap.servers" -> cfg.kafka.bootstrapServers.mkString(","),
        "topics" -> c.topics.mkString(",")) ++
        cfg.kafka.groupId.map("group.id" -> _).toMap ++
        cfg.kafka.properties.map { case (k, v) => s"kafka.$k" -> v } ++
        c.config)

  def sinkConfig(c: ConnectorConfig): SinkConfig = SinkConfig.fromMap(c.config)
}
