package graft.store

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** [[ObjectStore]] over a real HTTP endpoint — the commit protocol's
  * If-None-Match semantics crossing an actual socket instead of a
  * same-process method call (the reference's own minio/S3 TODO,
  * README.md:30). The wire protocol is a minimal S3 model:
  *
  *   - `PUT /o/<name>` with `If-None-Match: *` → 201 created, or 412
  *     if the object exists (S3's conditional-write response) — this
  *     is [[putIfAbsent]], the only primitive the LOG needs.
  *   - `PUT /o/<name>` (unconditional) → 200; create-or-replace.
  *   - `GET /o/<name>` → 200 bytes | 404.
  *   - `DELETE /o/<name>` → 204 (absent is still 204 — S3 DELETE).
  *   - `GET /list?prefix=P&start-after=K&max-keys=N` → newline-joined
  *     keys ascending; `x-truncated: true` when more pages remain.
  *     [[listPrefixOrdered]] pages through with `start-after`, exactly
  *     the ListObjectsV2 continuation shape — one LIST request per
  *     [[PageSize]] keys, never an unbounded response.
  *
  * Retries: GET/LIST are idempotent and retry on connect/5xx up to
  * [[MaxRetries]]. PUT-if-absent is NOT blindly retried — an ambiguous
  * outcome (send succeeded, response lost) must surface to the caller,
  * which is precisely the ambiguity the commit protocol's recovery path
  * (read-back-and-compare in commitTxRetrying) exists to resolve; a
  * silent retry here could turn "we actually won" into a false loss.
  */
/** `createdStatuses`: the status codes that mean "conditional PUT
  * created the object". 201-on-create is part of THIS store's wire
  * contract (ObjectStoreHttpServer answers 201, so a bare 200 can only
  * mean the If-None-Match header was stripped and an overwrite
  * happened — an ambiguity the commit recovery path must resolve).
  * Real S3-compatible endpoints answer 200 OK to a SUCCESSFUL
  * conditional PUT: point this client at one by passing
  * `createdStatuses = Set(200)`, which reclassifies 200 as a win (and
  * loses the header-stripped-in-transit detection, which such
  * endpoints make undetectable by status alone).
  */
final class HttpObjectStore(baseUrl: String, pageSize: Int = 1000,
    createdStatuses: Set[Int] = Set(201))
    extends ObjectStore {
  private val base = baseUrl.stripSuffix("/")
  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val PageSize = pageSize
  private val MaxRetries = 3

  private def uri(path: String): URI = URI.create(s"$base$path")
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, UTF_8)

  /** Per-INSTANCE cache identity, not per-endpoint: a long-lived client
    * rolls its snapshot forward across transactions, while a fresh
    * client (or a client of a restarted server) starts clean — an
    * endpoint-wide key could serve phantom state after a server was
    * rebuilt at the same host:port.
    */
  override val cacheKey: Option[String] =
    Some(s"http:$base#${java.util.UUID.randomUUID()}")

  /** Server-side range listing: the first page starts AFTER the given
    * key (S3 ListObjectsV2 `start-after`), so an incremental replay
    * ships only the log's tail over the wire.
    */
  override def listPrefixAfter(prefix: String,
      after: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var cursor: Option[String] = Some(after)
    var more = true
    while (more) {
      val q = s"prefix=${enc(prefix)}&max-keys=$PageSize" +
        cursor.map(a => s"&start-after=${enc(a)}").getOrElse("")
      val resp = retrying(s"LIST $prefix after $after") {
        http.send(HttpRequest.newBuilder(uri(s"/list?$q")).GET().build(),
          BodyHandlers.ofString())
      }
      if (resp.statusCode() != 200)
        throw new java.io.IOException(
          s"LIST $prefix: status ${resp.statusCode()}")
      val keys = resp.body().split("\n").filter(_.nonEmpty)
      out ++= keys
      more = resp.headers().firstValue("x-truncated").orElse("") == "true" &&
        keys.nonEmpty
      cursor = keys.lastOption
    }
    out.result()
  }

  override def putIfAbsent(name: String, data: Array[Byte]): Boolean = {
    val req = HttpRequest.newBuilder(uri(s"/o/${enc(name)}"))
      .header("If-None-Match", "*")
      .PUT(BodyPublishers.ofByteArray(data)).build()
    http.send(req, BodyHandlers.ofByteArray()).statusCode() match {
      case c if createdStatuses(c) => true
      case 412 => false
      // Under the default contract (201-on-create), 200 is the
      // UNCONDITIONAL-put response: it means the If-None-Match header
      // was stripped in transit and we just overwrote whatever was
      // there — reporting "won" here would turn a lost commit
      // arbitration into silent log corruption. Throw so the ambiguity
      // surfaces to the commit recovery path (read-back in
      // commitTxRetrying), which resolves who actually owns the slot.
      // (S3-compatible endpoints that answer 200 on create opt in via
      // `createdStatuses = Set(200)` — see the class doc.)
      case 200 => throw new java.io.IOException(
        s"conditional PUT $name answered 200: If-None-Match was not " +
          "honored (header dropped in transit?); outcome ambiguous")
      case other => throw new java.io.IOException(
        s"conditional PUT $name: unexpected status $other")
    }
  }

  override def put(name: String, data: Array[Byte]): Unit = {
    val req = HttpRequest.newBuilder(uri(s"/o/${enc(name)}"))
      .PUT(BodyPublishers.ofByteArray(data)).build()
    val code = http.send(req, BodyHandlers.ofByteArray()).statusCode()
    if (code != 200 && code != 201)
      throw new java.io.IOException(s"PUT $name: status $code")
  }

  override def read(name: String): Array[Byte] = {
    val resp = retrying(s"GET $name") {
      http.send(HttpRequest.newBuilder(uri(s"/o/${enc(name)}")).GET().build(),
        BodyHandlers.ofByteArray())
    }
    resp.statusCode() match {
      case 200 => resp.body()
      case 404 => throw new java.nio.file.NoSuchFileException(name)
      case other =>
        throw new java.io.IOException(s"GET $name: status $other")
    }
  }

  override def delete(name: String): Unit = {
    val req = HttpRequest.newBuilder(uri(s"/o/${enc(name)}"))
      .DELETE().build()
    val code = http.send(req, BodyHandlers.ofByteArray()).statusCode()
    if (code != 204 && code != 200 && code != 404)
      throw new java.io.IOException(s"DELETE $name: status $code")
  }

  override def listPrefixOrdered(prefix: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var after: Option[String] = None
    var more = true
    while (more) {
      val q = s"prefix=${enc(prefix)}&max-keys=$PageSize" +
        after.map(a => s"&start-after=${enc(a)}").getOrElse("")
      val resp = retrying(s"LIST $prefix") {
        http.send(HttpRequest.newBuilder(uri(s"/list?$q")).GET().build(),
          BodyHandlers.ofString())
      }
      if (resp.statusCode() != 200)
        throw new java.io.IOException(
          s"LIST $prefix: status ${resp.statusCode()}")
      val keys = resp.body().split("\n").filter(_.nonEmpty)
      out ++= keys
      more = resp.headers().firstValue("x-truncated").orElse("") == "true" &&
        keys.nonEmpty
      after = keys.lastOption
    }
    out.result()
  }

  /** Retry idempotent verbs on connect failure / 5xx with backoff. */
  private def retrying[A <: HttpResponse[_]](what: String)(send: => A): A = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < MaxRetries) {
      try {
        val resp = send
        if (resp.statusCode() < 500) return resp
        last = new java.io.IOException(s"$what: status ${resp.statusCode()}")
      } catch {
        case e: java.io.IOException => last = e
        case e: InterruptedException => throw e
      }
      attempt += 1
      Thread.sleep(10L << attempt)
    }
    throw last
  }
}

/** A minimal object-store SERVICE: any [[ObjectStore]] exposed over the
  * [[HttpObjectStore]] wire protocol via the JDK's built-in HTTP server.
  * Atomicity of the conditional PUT is the backing store's — the server
  * adds no locking of its own, exactly as S3's API surfaces its
  * internal conditional-write primitive. This is also the skeleton of
  * the reference's "run as server" TODO (README.md:31): the store tier
  * as a network service, with the table/tx logic living in the client.
  *
  * The server runs with TCP_NODELAY on ([[StoreHttp]]): with Nagle on, a
  * GET or LIST answer's body waited for the client's delayed ACK, 44 ms
  * per call on loopback against 1.7 ms without it.
  *
  * `createdStatus`: what a SUCCESSFUL conditional PUT answers — 201 is
  * this wire protocol's native contract; 200 models S3-compatible
  * endpoints (clients opt in via `createdStatuses = Set(200)`, the path
  * this knob exists to exercise end-to-end).
  */
final class ObjectStoreHttpServer(backing: ObjectStore, port: Int = 0,
    createdStatus: Int = 201) {
  import com.sun.net.httpserver.HttpExchange
  import StoreHttp.respond

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, UTF_8)

  private def handleObject(x: HttpExchange): Unit = {
    // getRawPath, NOT getPath: getPath already percent-decodes, and a
    // second URLDecoder pass would 500 on names containing '%' and
    // collide 'a+b' with 'a b' — a wrong conditional-put verdict on
    // the one primitive the commit log depends on
    val name = dec(x.getRequestURI.getRawPath.stripPrefix("/o/"))
    x.getRequestMethod match {
      case "PUT" =>
        val data = x.getRequestBody.readAllBytes()
        val conditional = Option(
          x.getRequestHeaders.getFirst("If-None-Match")).contains("*")
        if (conditional) {
          if (backing.putIfAbsent(name, data))
            respond(x, createdStatus, Array.empty)
          else respond(x, 412, Array.empty)
        } else { backing.put(name, data); respond(x, 200, Array.empty) }
      case "GET" =>
        try respond(x, 200, backing.read(name))
        catch {
          case _: java.nio.file.NoSuchFileException |
               _: java.io.FileNotFoundException =>
            respond(x, 404, Array.empty)
        }
      case "DELETE" =>
        backing.delete(name); respond(x, 204, Array.empty)
      case _ => respond(x, 405, Array.empty)
    }
  }

  private def handleList(x: HttpExchange): Unit = {
    val params = Option(x.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> dec(v)
      }.toMap
    val prefix = params.getOrElse("prefix", "")
    val after = params.get("start-after")
    val maxKeys = params.get("max-keys").map(_.toInt).getOrElse(1000)
    val all = backing.listPrefixOrdered(prefix)
    val fromAfter = after match {
      case Some(a) => all.dropWhile(_ <= a)
      case None => all
    }
    val page = fromAfter.take(maxKeys)
    val truncated = fromAfter.length > page.length
    respond(x, 200, page.mkString("\n").getBytes(UTF_8),
      "x-truncated" -> truncated.toString)
  }

  private val server = StoreHttp.serve(port,
    "/o/" -> handleObject, "/list" -> handleList)

  /** The bound port (when constructed with port = 0). */
  def boundPort: Int = server.boundPort
  def url: String = server.url
  def stop(): Unit = server.stop()
}
