package graft

import java.net.{InetAddress, InetSocketAddress}

import com.sun.net.httpserver.HttpServer

/** The one place both HTTP doors ([[graft.streaming.HttpIngest]] and
  * [[graft.api.HttpQueryServer]]) make their JDK server, bound to the
  * loopback interface.
  *
  * The JDK server writes a response's headers and its body as two TCP
  * writes, and leaves Nagle's algorithm on unless
  * `sun.net.httpserver.nodelay` is true. On a keep-alive connection the
  * body then waits for the ACK of the headers, which the client delays
  * (~40 ms on Linux), so every back-to-back request pays that stall. This
  * sets the property before the server is made. It is JVM-wide, and the
  * JDK reads it once, when the first `HttpServer` of the JVM is created:
  * a server made elsewhere in the process before this one fixes the
  * setting for all of them.
  */
object LoopbackServer {
  def create(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, port), 0)
  }
}
