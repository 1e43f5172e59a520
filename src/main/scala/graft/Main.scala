package graft

import graft.streaming.{Engine, InProcessConnectorService}

/** The executable daemon — the reference's `main()` boot path
  * (`src/main.rs:51-180`) on Spark: argv config path (default
  * `config/connect.json`), build the engine (sinks resolved first, one
  * streaming query per source connector), start, log status, block until a
  * query dies or the process is signalled, clean stop on shutdown.
  *
  * The reference then stands up gRPC servers on `tcp_address` /
  * `unix_socket_path` (`src/main.rs:101-157`). Parity here:
  * `tcp_address` serves REAL gRPC — [[graft.streaming.GrpcControlServer]],
  * the vendored proto spoken as standard HTTP/2 + proto3 binary over the
  * Spark distribution's shaded grpc runtime, so the reference's own
  * clients (`test_grpc_sink.py`, tonic) point here unchanged. The unix
  * socket ALSO serves gRPC ([[graft.streaming.GrpcUdsControlServer]], via
  * the netty epoll native transport the distribution ships; non-epoll
  * platforms serve JSON lines on the socket path instead). The JSON-lines
  * front, [[graft.streaming.ControlServer]], serves the local CLI at
  * `<path>.jsonl` and, when `json_tcp_address` is set, the `nc`-able TCP
  * twin. Every front dispatches the same transport-agnostic
  * [[graft.streaming.ConnectorService]] verbs. The daemon wires no push
  * sink: the gRPC SinkStream answers Push with an error and Flush fails.
  *
  * Run: `sbt "runMain graft.Main [config.json [dataRoot [checkpointRoot]]]"`.
  * With the shipped `config/connect.json`, drop text files into the
  * configured watch directory and partitioned JSON appears under dataRoot —
  * records move end-to-end with no broker.
  */
object Main {
  /** Hadoop shutdown-hook priority of the daemon's stop: above the 40 of
    * Spark's own hook, so the stop runs while the SparkContext is alive.
    */
  private val ShutdownPriority = 50

  /** The service every control front serves. No query reads a push buffer
    * in the daemon, so no push sink is wired: SinkStream Push answers Err.
    */
  private[graft] def controlService(engine: Engine): InProcessConnectorService =
    new InProcessConnectorService(engine, pushSink = None)

  def main(args: Array[String]): Unit = {
    val configPath = args.headOption.getOrElse("config/connect.json")
    val dataRoot = args.lift(1).getOrElse("/tmp/graft/data")
    val checkpointRoot = args.lift(2).getOrElse("/tmp/graft/checkpoints")

    println(s"[graft] loading configuration from $configPath")
    val spark = GraftSession.getOrCreate()
    val engine = Engine.fromConfigFile(spark, configPath, dataRoot, checkpointRoot)

    val token = engine.config.flatMap(_.authToken)
    val svc = controlService(engine)

    // primary wire, reference parity: gRPC on tcp_address. The proto has
    // no authentication (same as the reference), so a non-loopback bind is
    // an explicit operator decision — and when the config sets auth_token,
    // a non-loopback gRPC bind would SILENTLY drop the authentication the
    // operator asked for (the token gates only the JSON-lines fronts).
    // Refuse outright rather than downgrade: the operator either binds
    // loopback, moves the remote surface to json_tcp_address (token
    // enforced), or removes auth_token to acknowledge an open wire.
    def isLoopback(host: String): Boolean =
      host == "localhost" ||
        (try java.net.InetAddress.getByName(host).isLoopbackAddress
         catch { case _: java.net.UnknownHostException => false })
    val grpcControl = engine.config.flatMap(_.tcpBind).map { case (host, port) =>
      if (!isLoopback(host) && token.isDefined)
        throw new IllegalArgumentException(
          s"refusing to bind the gRPC control plane on non-loopback $host: " +
            "auth_token is set but the gRPC proto has no authentication, so " +
            "this bind would silently drop it. Bind tcp_address to loopback, " +
            "serve remote clients from json_tcp_address (which enforces the " +
            "token), or remove auth_token to explicitly accept an open wire.")
      if (host == "0.0.0.0" || host == "::")
        println("[graft] WARNING: gRPC control plane binding ALL interfaces — " +
          "the proto has no authentication and UpdateConfig re-points " +
          "ingestion; use 127.0.0.1 or front it with an authenticating proxy")
      val srv = new graft.streaming.GrpcControlServer(svc, port, host)
      val bound = srv.start()
      println(s"[graft] gRPC control plane listening on $host:$bound")
      srv
    }

    def jsonLines(address: java.net.SocketAddress) = {
      val srv = new graft.streaming.ControlServer(svc, address, token)
      val bound = srv.start() match {
        case a: java.net.InetSocketAddress => s"${a.getHostString}:${a.getPort}"
        case u => s"unix:$u"
      }
      println(s"[graft] control plane listening on $bound (JSON lines)")
      srv
    }
    val control = engine.config.flatMap(_.jsonTcpBind).map { case (host, port) =>
      if ((host == "0.0.0.0" || host == "::") && token.isEmpty)
        println("[graft] WARNING: control plane binding ALL interfaces with no " +
          "authentication — any network peer can reconfigure this daemon; " +
          "use 127.0.0.1, set auth_token, or front it with an authenticating proxy")
      jsonLines(new java.net.InetSocketAddress(host, port))
    }

    // second listener, reference parity (`main.rs:128-157`): gRPC on the
    // configured unix socket when the epoll native transport loads (this
    // platform ships it), with the JSON-lines local-CLI surface beside it
    // at `<path>.jsonl`; on non-epoll platforms the socket falls back to
    // JSON lines. Either way access is gated by filesystem permissions.
    val grpcUds = engine.config.flatMap(_.unixSocketPath)
      .filter(_ => graft.streaming.GrpcUdsControlServer.available).map { p =>
        val srv = new graft.streaming.GrpcUdsControlServer(
          svc, java.nio.file.Paths.get(p))
        srv.start()
        println(s"[graft] gRPC control plane listening on unix:$p")
        srv
      }
    val udsControl = engine.config.flatMap(_.unixSocketPath).map { p =>
      jsonLines(java.net.UnixDomainSocketAddress.of(if (grpcUds.isDefined) s"$p.jsonl" else p))
    }

    engine.start()
    println(s"[graft] connector status: ${engine.status}")

    // Spark stops its SparkContext from a hook on Hadoop's shutdown-hook
    // manager (priority 40). A plain JVM hook runs concurrently with it, so
    // engine.stop() could find the context stopped; a hook on the same
    // manager at a higher priority finishes before Spark's starts.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      println("[graft] shutting down")
      grpcControl.foreach(_.stop())
      grpcUds.foreach(_.stop())
      control.foreach(_.stop())
      udsControl.foreach(_.stop())
      engine.stop()
      println(s"[graft] stopped; connector status: ${engine.status}")
    }, ShutdownPriority)
    // block like the reference's ctrl_c().await: runs until a query
    // terminates (failure surfaces here) or the JVM is signalled
    spark.streams.awaitAnyTermination()
  }
}
