package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The one factory for the in-process HTTP endpoints (the soak's API
  * server, the snapshot upload chain and the emulated cloud sources).
  *
  * The JDK server writes a response's headers and its body as two TCP
  * segments. With Nagle's algorithm on, the body waits for the client's
  * delayed ACK of the headers, so a POST round trip on loopback stalls
  * ~40 ms: 20 sequential POSTs took ~950 ms, and the daemon's activity
  * upload (a storage POST plus a submission POST) ~47 ms instead of
  * ~4 ms. The server sets TCP_NODELAY on its accepted sockets when the
  * documented `jdk.httpserver` property `sun.net.httpserver.nodelay` is
  * true; the JDK reads it once, when the first server in the JVM
  * starts, so it is set here, before any endpoint is created.
  */
object LocalHttp {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** An unstarted server on an ephemeral loopback port. */
  def server(): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
}
