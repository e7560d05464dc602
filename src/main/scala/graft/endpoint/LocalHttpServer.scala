package graft.endpoint

import com.sun.net.httpserver.HttpServer
import java.net.InetSocketAddress

/** Builds every localhost HTTP server graft runs (the REST catalog,
  * the live feed) on a fixed pool of DAEMON threads: a server must
  * never keep the host JVM alive after main returns (Verify's main
  * exits without System.exit).
  *
  * The JDK server writes a response's headers and body as two
  * segments; with Nagle on, the body waits out the client's delayed
  * ACK (~40 ms on Linux), which dwarfs a cached loadTable. The JDK
  * reads `sun.net.httpserver.nodelay` once, when the JVM's first
  * HttpServer is built, and applies it to every server after; so it
  * is set here, before any graft server exists. An explicit setting
  * wins, and a server some other code builds first fixes the setting
  * for the whole JVM.
  */
private[graft] object LocalHttpServer {
  def create(threads: Int, threadName: String): HttpServer = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val http = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    http.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r, threadName); t.setDaemon(true); t }))
    http
  }
}
