package graft.streaming

import java.net.{SocketAddress, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ExecutorService, Executors, RejectedExecutionException, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON-lines control front: the `nc`-able scripting surface next to the
  * REAL gRPC wire ([[GrpcControlServer]] — `tcp_address`), binding the
  * SAME [[ConnectorService]] verbs (the vendored proto's unary subset —
  * `src/main/protobuf/connector.proto`). One request object per line, one
  * response object per line:
  *
  * {{{
  *   {"verb":"get_status","connector":"file-watch-source"}
  *   {"verb":"get_config","connector":"local-json-sink"}
  *   {"verb":"update_config","config":{"name":"...","connector_class":"...",
  *     "tasks_max":1,"config":{...}}}
  * }}}
  *
  * One server for both transports the reference daemon listens on
  * (`src/main.rs:101-157`): an `InetSocketAddress` serves TCP
  * (`json_tcp_address`), a `UnixDomainSocketAddress` serves the local CLI
  * socket (`unix_socket_path`, or `<path>.jsonl` beside the gRPC one).
  * Drive it with `nc 127.0.0.1 50052` or `nc -U /path/to.sock`. On a unix
  * address, reachability is filesystem permissions on the socket path; on
  * TCP it is the network, so bind loopback unless the operator decides
  * otherwise — update_config lets any peer that reaches the socket
  * re-point what the daemon ingests and writes.
  *
  * Streaming verbs (sink/source streams) live on the gRPC wire — a
  * line-oriented transport is the wrong shape for them.
  */
final class ControlServer(service: ConnectorService, address: SocketAddress,
                          authToken: Option[String] = None) {

  private val protocol = new ControlProtocol(service, authToken)
  private val socketPath: Option[Path] = address match {
    case u: UnixDomainSocketAddress => Some(u.getPath)
    case _ => None
  }
  private var server: ServerSocketChannel = null
  private var pool: ExecutorService = null

  /** Bind and serve; returns the bound address (TCP port 0 picks a free
    * one). On a unix address a leftover socket file from a crashed run is
    * reclaimed first, but only if no live daemon answers on it
    * ([[ControlServer.reclaimStaleSocket]]).
    */
  def start(): SocketAddress = synchronized {
    require(server == null, "already started")
    socketPath.foreach { p =>
      if (p.getParent != null) Files.createDirectories(p.getParent)
      ControlServer.reclaimStaleSocket(p)
    }
    val srv =
      if (socketPath.isDefined) ServerSocketChannel.open(StandardProtocolFamily.UNIX)
      else ServerSocketChannel.open()
    srv.bind(address, 50)
    val handlers = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-control"); t.setDaemon(true); t
    })
    handlers.execute(() =>
      while (srv.isOpen)
        try {
          val ch = srv.accept()
          try handlers.execute(() => handle(ch))
          catch { case _: RejectedExecutionException => ch.close() } // stopping
        } catch { case _: Exception => () } // closed during accept
    )
    server = srv
    pool = handlers
    srv.getLocalAddress
  }

  /** Close the listener AND every live connection: the handlers are
    * interrupted, which closes their channels, so no verb runs on this
    * server once `stop` returns (unless one outlasts the 10 s wait).
    */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.close(); server = null
      pool.shutdownNow()
      // bounded wait for a handler that is still inside a verb
      pool.awaitTermination(10, TimeUnit.SECONDS)
      pool = null
      socketPath.foreach(Files.deleteIfExists)
    }
  }

  private def handle(ch: SocketChannel): Unit =
    try {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(Channels.newInputStream(ch), UTF_8))
      val out = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(Channels.newOutputStream(ch), UTF_8), true)
      var line = in.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) out.println(protocol.dispatch(line))
        line = in.readLine()
      }
    } catch { case _: Exception => () }
    finally ch.close()
}

object ControlServer {
  /** Reclaim a leftover socket file ONLY when it is provably stale: probe
    * it with a connect attempt and delete on connection-refused (the
    * crashed-daemon leftover). If something ANSWERS, another daemon owns
    * the path — fail loudly instead of silently hijacking its control
    * socket (the second instance would otherwise steal the CLI surface of
    * a live daemon). Both unix-socket fronts (JSON lines here, gRPC in
    * [[GrpcUdsControlServer]]) share this guard.
    */
  def reclaimStaleSocket(socketPath: Path): Unit = {
    if (Files.exists(socketPath)) {
      val live =
        try {
          val probe = SocketChannel.open(StandardProtocolFamily.UNIX)
          try probe.connect(UnixDomainSocketAddress.of(socketPath))
          finally probe.close()
          true
        } catch { case _: java.io.IOException => false }
      if (live)
        throw new IllegalStateException(
          s"socket $socketPath is in use by a live daemon; refusing to hijack it")
      Files.deleteIfExists(socketPath)
    }
  }
}

/** The verb dispatch shared by the JSON-lines transports ([[ControlServer]]
  * over TCP and unix sockets): one JSON request per line in, one JSON
  * response per line out, with the optional shared-secret gate applied
  * before any verb runs. The gRPC fronts map the same verbs in
  * [[GrpcWire]].
  */
private[graft] final class ControlProtocol(service: ConnectorService,
                                           authToken: Option[String]) {

  private val mapper = new ObjectMapper()

  private[graft] def dispatch(line: String): String =
    try {
      val req = mapper.readTree(line)
      // shared-secret gate: with a configured token, reject before any verb
      // dispatch — update_config re-points what the daemon ingests/writes
      val presented = Option(req.get("token")).map(_.asText())
      if (authToken.isDefined && presented != authToken)
        return json(Map("error" -> "unauthorized: missing or bad token"))
      val verb = Option(req.get("verb")).map(_.asText()).getOrElse("")
      def connector = Option(req.get("connector")).map(_.asText()).getOrElse("")
      verb match {
        case "get_status" =>
          val st = service.getStatus(Wire.StatusRequest(connector))
          json(Map("state" -> st.state.toString, "worker_id" -> st.workerId,
            "tasks" -> st.tasks.map(t => Map("task_id" -> t.taskId,
              "state" -> t.state.toString).asJava).asJava,
            "error_message" -> st.errorMessage))
        case "get_config" =>
          service.getConfig(Wire.ConfigRequest(connector)).config match {
            case Some(c) => json(Map("name" -> c.name,
              "connector_class" -> c.connectorClass, "tasks_max" -> c.tasksMax,
              "config" -> c.config.asJava))
            case None => json(Map("error" -> s"unknown connector: $connector"))
          }
        case "update_config" =>
          val c = req.get("config")
          val cfgMap = Option(c.get("config")).map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
          val updated = service.updateConfig(Wire.ConfigUpdateRequest(Wire.ConnectorConfig(
            connectorClass = c.get("connector_class").asText(),
            name = c.get("name").asText(),
            config = cfgMap,
            tasksMax = Option(c.get("tasks_max")).map(_.asInt()).getOrElse(1))))
          updated.config match {
            case Some(cc) => json(Map("name" -> cc.name, "tasks_max" -> cc.tasksMax,
              "config" -> cc.config.asJava))
            case None => json(Map("error" -> "no active config"))
          }
        case other => json(Map("error" -> s"unknown verb: $other"))
      }
    } catch { case e: Exception => json(Map("error" -> String.valueOf(e.getMessage))) }

  private def json(m: Map[String, Any]): String =
    mapper.writeValueAsString(m.asJava)
}
