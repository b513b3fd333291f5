package graft.engine

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The JDK HTTP server every front of the engine listens with: bound to
  * loopback, with TCP_NODELAY on its connections.
  *
  * Without TCP_NODELAY a response whose headers and body leave in two
  * writes waits for the client's delayed ACK before the body goes out
  * (about 40 ms per response on Linux). The JDK reads
  * `sun.net.httpserver.nodelay` once, when its first server is created,
  * so every front goes through [[create]], which sets the property
  * before that first creation. */
private[engine] object HttpFront {

  def create(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
}
