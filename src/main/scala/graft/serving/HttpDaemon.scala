package graft.serving

import java.net.InetSocketAddress
import java.util.concurrent.Executors

import com.sun.net.httpserver.HttpServer

/** The one JDK `HttpServer` set-up of the serving daemons (IngestMain,
  * ServeMain): a loopback socket with `TCP_NODELAY` and a small daemon
  * thread pool. */
object HttpDaemon {

  /** An unstarted server on 127.0.0.1:`port` (0 binds an ephemeral port).
    *
    * `sun.net.httpserver.nodelay` defaults to true here: the JDK server
    * writes a response as headers then body, and without `TCP_NODELAY`
    * Nagle's algorithm holds the body until the client's delayed ACK
    * (~40 ms per request on Linux). The JDK's `ServerConfig` reads the
    * property once, when the first server of the JVM is created, so it is
    * set before that; an explicit `-Dsun.net.httpserver.nodelay` wins.
    *
    * Without an executor the JDK server runs every handler on its one
    * dispatcher thread, so one slow request (a first-touch Spark
    * computation) would block every other; four daemon threads let the
    * rest flow and never keep the JVM alive. */
  def create(port: Int, threadName: String): HttpServer = {
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(Executors.newFixedThreadPool(4,
      r => { val t = new Thread(r, threadName); t.setDaemon(true); t }))
    server
  }
}
