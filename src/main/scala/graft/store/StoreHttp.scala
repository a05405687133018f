package graft.store

import java.net.InetSocketAddress
import java.util.concurrent.{ExecutorService, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The loopback JDK `HttpServer` both in-repo store services
  * ([[ObjectStoreHttpServer]], [[S3DialectServer]]) run on: routes, an
  * 8-thread executor, a 500 for any handler that throws, and a `stop`
  * that also ends the executor.
  *
  * Every server is made here so that TCP_NODELAY is always on. The JDK
  * server leaves Nagle's algorithm on unless `sun.net.httpserver.nodelay`
  * is set before its `ServerConfig` class loads, which happens once per
  * JVM, at the first `HttpServer.create`. `sendResponseHeaders` flushes
  * the headers, so a response body goes out as a second small segment,
  * which Nagle holds until the client's delayed ACK (40 ms on Linux). A
  * 200-call loopback probe measured GET and LIST at 44 ms per call with
  * Nagle on and 1.7 ms with it off; PUT and DELETE, which answer with no
  * body, took about 1 ms either way.
  */
private[graft] object StoreHttp {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A started server; `port` 0 binds a free port. */
  final class Running private[StoreHttp] (server: HttpServer) {
    def boundPort: Int = server.getAddress.getPort
    def url: String = s"http://127.0.0.1:$boundPort"
    // HttpServer.stop does NOT stop a caller-supplied executor — without
    // the shutdown each server instance leaks 8 non-daemon threads that
    // keep a forked JVM alive after main() returns
    def stop(): Unit = {
      server.stop(0)
      server.getExecutor match {
        case es: ExecutorService => es.shutdown()
        case _ => ()
      }
    }
  }

  /** Start a server on 127.0.0.1:`port` serving each (path prefix,
    * handler) route.
    */
  def serve(port: Int, routes: (String, HttpExchange => Unit)*): Running = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    routes.foreach { case (path, handle) =>
      server.createContext(path, (x: HttpExchange) =>
        try handle(x)
        catch {
          case scala.util.control.NonFatal(_) => respond(x, 500, Array.empty)
        })
    }
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.start()
    new Running(server)
  }

  /** Answer `x` with `code`, `headers` and `body` (no body when empty). */
  def respond(x: HttpExchange, code: Int, body: Array[Byte],
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) x.getResponseBody.write(body)
    x.close()
  }
}
