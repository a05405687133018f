package graft.store

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** [[ObjectStore]] over the S3 REST dialect — the reference's minio/S3
  * TODO (README.md:30) taken to the actual protocol shape rather than a
  * private wire format:
  *
  *   - `PUT /<bucket>/<key>` with `If-None-Match: *` → **200 OK** on a
  *     successful conditional create (S3 answers 200 with an ETag, not
  *     201), **412 Precondition Failed** when the key exists, and
  *     **409 Conflict** when a CONCURRENT conditional write to the same
  *     key is in flight (S3's documented behavior): a 409 had no
  *     effect, so it is retried here bounded — unlike an ambiguous
  *     IOException, which must surface to the commit recovery path.
  *   - `GET /<bucket>?list-type=2&prefix=…&max-keys=…` → ListObjectsV2
  *     XML: `<Contents><Key>…` entries ascending, `<IsTruncated>` and
  *     `<NextContinuationToken>` for pagination. Subsequent pages pass
  *     `continuation-token` (which, per the S3 contract, supersedes
  *     `start-after`; `start-after` only positions the FIRST page —
  *     which is how [[listPrefixAfter]] ships only the log's tail).
  *   - `GET /<bucket>/<key>` → 200 bytes | 404; `DELETE` → 204
  *     (idempotent — absent is still 204).
  *
  * Retries: GET/LIST are idempotent and retry on connect/5xx.
  * Conditional PUT retries ONLY on 409 (documented no-effect); a
  * transport-level failure or a 5xx stays ambiguous and surfaces — a
  * silent retry could turn "we actually won" into a false loss, and the
  * commit protocol's read-back recovery (commitTxRetrying) owns that
  * case.
  */
final class S3ObjectStore(baseUrl: String, bucket: String = "graft",
    pageSize: Int = 1000,
    sign: HttpRequest.Builder => HttpRequest.Builder = identity)
    extends ObjectStore {
  private val base = baseUrl.stripSuffix("/")
  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val MaxRetries = 3

  /** Every request flows through `sign` just before send — the
    * pluggable auth seam for REAL endpoints. Recipes:
    *
    *   - static bearer/API-key gateways (and minio behind an auth
    *     proxy): `b => b.header("Authorization", s"Bearer $tok")` —
    *     rotating tokens read a @volatile var inside the closure;
    *   - AWS SigV4: compute the signature from the builder's method/
    *     URI/payload-hash with any SigV4 signer and add the
    *     `Authorization` + `x-amz-date` + `x-amz-content-sha256`
    *     headers here. The hook runs INSIDE the retry loops, so each
    *     attempt re-signs with a fresh date — expired-signature retries
    *     behave correctly by construction;
    *   - presigned-URL setups need no hook: bake the query into
    *     `baseUrl`'s gateway.
    *
    * The sign hook must be idempotent per builder (it receives a fresh
    * builder every attempt) and thread-safe (stores are shared across
    * Spark driver threads).
    */
  private def build(b: HttpRequest.Builder): HttpRequest = sign(b).build()

  /** RFC 3986 percent-encoding (space → %20), NOT form encoding:
    * URLEncoder's '+' is a LITERAL plus to S3 in a path segment, so a
    * key containing a space would round-trip under the wrong physical
    * key ("a+b") while listings return the true name ("a b") — prefix
    * queries would then miss the object against a real endpoint.
    */
  private def enc(s: String): String = {
    val sb = new StringBuilder
    s.getBytes(UTF_8).foreach { b =>
      val c = b.toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' ||
          c == '~') sb += c
      else sb ++= f"%%${b & 0xff}%02X"
    }
    sb.toString
  }
  private def objUri(key: String): URI =
    URI.create(s"$base/${enc(bucket)}/${enc(key)}")

  /** Per-INSTANCE cache identity, not per-endpoint: a long-lived client
    * rolls its snapshot forward across transactions, while a fresh
    * client (or a client of a restarted server) starts clean — an
    * endpoint-wide key could serve phantom state after a server was
    * rebuilt at the same host:port.
    */
  override val cacheKey: Option[String] =
    Some(s"s3:$base/$bucket#${java.util.UUID.randomUUID()}")

  override def putIfAbsent(name: String, data: Array[Byte]): Boolean = {
    var attempt = 0
    while (true) {
      val req = build(HttpRequest.newBuilder(objUri(name))
        .header("If-None-Match", "*")
        .PUT(BodyPublishers.ofByteArray(data)))
      http.send(req, BodyHandlers.ofByteArray()).statusCode() match {
        case 200 => return true // S3: 200 OK on conditional create
        case 412 => return false
        case 409 =>
          // concurrent conditional write on this key: OUR request had
          // no effect (S3's documented ConditionalRequestConflict), so
          // a bounded retry is safe; past the bound, surface it as
          // ambiguous-shaped I/O failure and let the caller's
          // read-back recovery decide
          attempt += 1
          if (attempt >= MaxRetries) throw new java.io.IOException(
            s"conditional PUT $name: persistent 409 conflict")
          Thread.sleep(5L << attempt)
        case other => throw new java.io.IOException(
          s"conditional PUT $name: unexpected status $other")
      }
    }
    false // unreachable
  }

  override def put(name: String, data: Array[Byte]): Unit = {
    val req = build(HttpRequest.newBuilder(objUri(name))
      .PUT(BodyPublishers.ofByteArray(data)))
    val code = http.send(req, BodyHandlers.ofByteArray()).statusCode()
    if (code != 200)
      throw new java.io.IOException(s"PUT $name: status $code")
  }

  override def read(name: String): Array[Byte] = {
    val resp = retrying(s"GET $name") {
      http.send(build(HttpRequest.newBuilder(objUri(name)).GET()),
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
    val code = http.send(
      build(HttpRequest.newBuilder(objUri(name)).DELETE()),
      BodyHandlers.ofByteArray()).statusCode()
    if (code != 204 && code != 200)
      throw new java.io.IOException(s"DELETE $name: status $code")
  }

  override def listPrefixOrdered(prefix: String): Seq[String] =
    listPaged(prefix, startAfter = None)

  override def listPrefixAfter(prefix: String, after: String): Seq[String] =
    listPaged(prefix, startAfter = Some(after))

  private def listPaged(prefix: String,
      startAfter: Option[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var token: Option[String] = None
    var first = true
    var more = true
    while (more) {
      val q = s"list-type=2&prefix=${enc(prefix)}&max-keys=$pageSize" +
        // start-after positions only the FIRST page; later pages resume
        // from the opaque continuation token (the S3 precedence rule)
        (if (first) startAfter.map(a => s"&start-after=${enc(a)}")
          .getOrElse("") else "") +
        token.map(t => s"&continuation-token=${enc(t)}").getOrElse("")
      val resp = retrying(s"LIST $prefix") {
        http.send(build(HttpRequest.newBuilder(
          URI.create(s"$base/${enc(bucket)}?$q")).GET()),
          BodyHandlers.ofString())
      }
      if (resp.statusCode() != 200)
        throw new java.io.IOException(
          s"LIST $prefix: status ${resp.statusCode()}")
      val xml = resp.body()
      out ++= S3Xml.keys(xml)
      more = S3Xml.isTruncated(xml)
      token = S3Xml.nextToken(xml)
      if (more && token.isEmpty)
        throw new java.io.IOException(
          s"LIST $prefix: truncated page without a continuation token")
      first = false
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

object S3ObjectStore {

  /** An in-repo AWS Signature V4 signer for the `sign` seam — the
    * scaladoc recipe implemented, so pointing graft at real S3 or minio
    * needs only `new S3ObjectStore(url, sign = S3ObjectStore.sigV4(ak,
    * () => sk, "us-east-1"))`. Derived from the PUBLIC signature
    * specification (AWS General Reference, "Signature Version 4 signing
    * process"): canonical request → string-to-sign → HMAC key chain →
    * `Authorization` header, with `x-amz-date` and
    * `x-amz-content-sha256` stamped here too.
    *
    * The closure introspects its builder by building a PROBE copy
    * (method + URI + headers are readable off an `HttpRequest`; the
    * payload is re-collected from its replayable `BodyPublisher`), so
    * the existing `Builder => Builder` seam stays unchanged. Every
    * header already present on the request is signed (plus `host` and
    * the two `x-amz-*` stamps), which is how S3's own examples sign
    * (e.g. `Range`) — and the verifying dialect server recomputes from
    * the request's own `SignedHeaders` list, so client and server stay
    * in lockstep for any header set.
    *
    * `secretProvider` is read per request — rotating credentials need
    * no new store. `clock` is injectable for the known-answer test
    * vectors; each RETRY attempt re-signs with a fresh date by
    * construction (the hook runs inside the retry loops).
    */
  def sigV4(accessKey: String, secretProvider: () => String,
      region: String, service: String = "s3",
      clock: () => java.time.Instant = () => java.time.Instant.now())
      : HttpRequest.Builder => HttpRequest.Builder = b => {
    val probe = b.copy().build()
    val payload =
      if (probe.bodyPublisher().isPresent)
        SigV4.collectBody(probe.bodyPublisher().get())
      else Array.emptyByteArray
    val payloadHash = SigV4.hex(SigV4.sha256(payload))
    val amzDate = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(clock())
    val dateStamp = amzDate.take(8)
    // lowercased name -> canonical value, for every header on the
    // request plus the three SigV4 stamps
    val headers: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      probe.headers().map().asScala.map { case (k, vs) =>
        k.toLowerCase -> vs.asScala.map(_.trim).mkString(",")
        // a stale Authorization (re-sign of an already-signed builder)
        // must not enter SignedHeaders: setHeader replaces it on the
        // wire, so signing over the old value could never verify
      }.toMap.removed("authorization") ++ Map(
        "host" -> probe.uri().getAuthority,
        "x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadHash)
    }
    val signedHeaders = headers.keys.toSeq.sorted.mkString(";")
    val canonical = SigV4.canonicalRequest(probe.method(), probe.uri(),
      headers, payloadHash)
    val scope = s"$dateStamp/$region/$service/aws4_request"
    val toSign = s"AWS4-HMAC-SHA256\n$amzDate\n$scope\n" +
      SigV4.hex(SigV4.sha256(canonical.getBytes(UTF_8)))
    val signature = SigV4.hex(SigV4.signature(
      secretProvider(), dateStamp, region, service, toSign))
    // setHeader, not header: re-signing must be idempotent. A builder
    // that already carries a stamp (composed hooks, caller-set header)
    // would otherwise get a DUPLICATE header, and a getFirst-based
    // server verification could read the stale copy and 403.
    b.setHeader("x-amz-date", amzDate)
      .setHeader("x-amz-content-sha256", payloadHash)
      .setHeader("Authorization",
        s"AWS4-HMAC-SHA256 Credential=$accessKey/$scope, " +
          s"SignedHeaders=$signedHeaders, Signature=$signature")
  }
}

/** SigV4 primitives shared by the client signer and the verifying
  * dialect server — hashes, the HMAC chain, and the canonical-request
  * layout (the server still recomputes its canonical request from the
  * WIRE request, not from the client's view).
  */
private[store] object SigV4 {
  def sha256(data: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(data)

  def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }

  def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  /** The SigV4 key-derivation chain + final signature. */
  def signature(secret: String, dateStamp: String, region: String,
      service: String, stringToSign: String): Array[Byte] = {
    val kDate = hmac(s"AWS4$secret".getBytes(UTF_8), dateStamp)
    val kRegion = hmac(kDate, region)
    val kService = hmac(kRegion, service)
    val kSigning = hmac(kService, "aws4_request")
    hmac(kSigning, stringToSign)
  }

  /** Canonical query string: decoded-then-reencoded is NOT needed here
    * because both this client and the dialect wire carry components
    * already percent-encoded RFC-3986-style (the store's `enc`) — the
    * raw pairs are canonicalized by (key, value) byte order. Splitting
    * at the first '=' matters: sorting whole "k=v" strings would order
    * "list-type" before "list" ('-' < '=').
    */
  def canonicalQuery(rawQuery: String): String =
    if (rawQuery == null || rawQuery.isEmpty) ""
    else rawQuery.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
    }.sortBy(identity).map { case (k, v) => s"$k=$v" }.mkString("&")

  def canonicalRequest(method: String, uri: URI,
      headers: Map[String, String], payloadHash: String): String = {
    val path = Option(uri.getRawPath).filter(_.nonEmpty).getOrElse("/")
    val names = headers.keys.toSeq.sorted
    val canonicalHeaders =
      names.map(n => s"$n:${headers(n)}\n").mkString
    s"$method\n$path\n${canonicalQuery(uri.getRawQuery)}\n" +
      s"$canonicalHeaders\n${names.mkString(";")}\n$payloadHash"
  }

  /** Drain a replayable [[HttpRequest.BodyPublisher]] (the store builds
    * all bodies with `BodyPublishers.ofByteArray`, which re-publishes
    * per subscriber — HttpClient itself re-subscribes on retry).
    */
  def collectBody(p: HttpRequest.BodyPublisher): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile var err: Throwable = null
    p.subscribe(new java.util.concurrent.Flow.Subscriber[java.nio.ByteBuffer] {
      def onSubscribe(s: java.util.concurrent.Flow.Subscription): Unit =
        s.request(Long.MaxValue)
      def onNext(bb: java.nio.ByteBuffer): Unit = {
        val arr = new Array[Byte](bb.remaining()); bb.get(arr)
        buf.write(arr)
      }
      def onError(t: Throwable): Unit = { err = t; latch.countDown() }
      def onComplete(): Unit = latch.countDown()
    })
    if (!latch.await(10, java.util.concurrent.TimeUnit.SECONDS))
      throw new java.io.IOException("sigv4: body collect timed out")
    if (err != null)
      throw new java.io.IOException("sigv4: body collect failed", err)
    buf.toByteArray
  }
}

/** The few XML fragments ListObjectsV2 responses need — hand-rolled
  * (escape/unescape + tag scan) instead of an XML dependency, because
  * the response grammar here is fixed and flat.
  */
private[store] object S3Xml {
  def escape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }
  def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&amp;", "&")

  private def tagged(xml: String, tag: String): Seq[String] = {
    val open = s"<$tag>"
    val close = s"</$tag>"
    val out = Seq.newBuilder[String]
    var i = xml.indexOf(open)
    while (i >= 0) {
      val j = xml.indexOf(close, i + open.length)
      require(j >= 0, s"unclosed <$tag> in ListObjectsV2 response")
      out += xml.substring(i + open.length, j)
      i = xml.indexOf(open, j + close.length)
    }
    out.result()
  }

  def keys(xml: String): Seq[String] = tagged(xml, "Key").map(unescape)
  def isTruncated(xml: String): Boolean =
    tagged(xml, "IsTruncated").headOption.contains("true")
  def nextToken(xml: String): Option[String] =
    tagged(xml, "NextContinuationToken").headOption.map(unescape)
}

/** An in-repo S3-SEMANTICS server: any [[ObjectStore]] exposed through
  * the ListObjectsV2 + conditional-PUT dialect [[S3ObjectStore]] speaks.
  * The point is the protocol shape — 200-on-create, XML list pages with
  * continuation tokens, 409 on concurrent conditional writes — not a
  * full S3 implementation; against a real endpoint only the base URL
  * changes. `conflict409EveryNth` > 0 makes every Nth conditional PUT
  * answer 409 WITHOUT effect (the throttled-conditional-write reality
  * the client's bounded retry must absorb). Atomicity of the
  * conditional PUT is the backing store's — the server adds no locking
  * of its own, exactly as S3's API surfaces its internal
  * conditional-write primitive.
  *
  * It runs on the JDK's `HttpServer` at 127.0.0.1:`port` (0 binds a free
  * port) with an 8-thread executor; a handler that throws answers 500.
  */
final class S3DialectServer(backing: ObjectStore, port: Int = 0,
    bucket: String = "graft", conflict409EveryNth: Int = 0,
    requireSigV4: Option[(String, String, String)] = None) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}

  private val condPuts = new java.util.concurrent.atomic.AtomicLong(0)

  private def dec(s: String): String =
    // percent-only decoding: a literal '+' in an S3 path or query is a
    // plus, not a space (form encoding does not apply here)
    java.net.URLDecoder.decode(s.replace("+", "%2B"), UTF_8)

  private def listXml(params: Map[String, String]): Array[Byte] = {
    val prefix = params.getOrElse("prefix", "")
    val maxKeys = params.get("max-keys").map(_.toInt).getOrElse(1000)
    // continuation-token supersedes start-after (the S3 precedence
    // rule); the token is an opaque encoding of the last key served
    val resumeAfter = params.get("continuation-token")
      .map(t => new String(
        java.util.Base64.getUrlDecoder.decode(t), UTF_8))
      .orElse(params.get("start-after"))
    val all = backing.listPrefixOrdered(prefix)
    val fromAfter = resumeAfter match {
      case Some(a) => all.dropWhile(_ <= a)
      case None => all
    }
    val page = fromAfter.take(maxKeys)
    val truncated = fromAfter.length > page.length
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>")
    sb.append("<ListBucketResult>")
    sb.append(s"<Name>${S3Xml.escape(bucket)}</Name>")
    sb.append(s"<Prefix>${S3Xml.escape(prefix)}</Prefix>")
    sb.append(s"<KeyCount>${page.length}</KeyCount>")
    sb.append(s"<MaxKeys>$maxKeys</MaxKeys>")
    sb.append(s"<IsTruncated>$truncated</IsTruncated>")
    page.foreach(k =>
      sb.append(s"<Contents><Key>${S3Xml.escape(k)}</Key></Contents>"))
    if (truncated) sb.append("<NextContinuationToken>" +
      java.util.Base64.getUrlEncoder.withoutPadding()
        .encodeToString(page.last.getBytes(UTF_8)) +
      "</NextContinuationToken>")
    sb.append("</ListBucketResult>")
    sb.toString.getBytes(UTF_8)
  }

  /** TRUE SigV4 verification (`requireSigV4` = accessKey, secret,
    * region): recompute the signature from the WIRE request — method,
    * raw path/query, the request's own `SignedHeaders` list, and the
    * sha-256 of the body actually received (so a tampered payload or a
    * wrong `x-amz-content-sha256` fails, not just a missing header) —
    * and compare. Deliberately reconstructs the canonical request from
    * the exchange rather than trusting anything the client computed.
    */
  private def sigV4Valid(x: HttpExchange, body: Array[Byte]): Boolean =
    requireSigV4.forall { case (ak, sk, region) =>
      val hdr = (n: String) => Option(x.getRequestHeaders.getFirst(n))
      val pat = ("AWS4-HMAC-SHA256 Credential=([^,]+), " +
        "SignedHeaders=([^,]+), Signature=([0-9a-f]+)").r
      hdr("Authorization") match {
        case Some(pat(cred, signed, sig)) =>
          val c = cred.split("/")
          val okCred = c.length == 5 && c(0) == ak && c(2) == region &&
            c(3) == "s3" && c(4) == "aws4_request"
          val names = signed.split(";").toSeq
          val hvals = names.foldLeft(Option(Map.empty[String, String])) {
            (acc, n) => acc.flatMap(m =>
              hdr(if (n == "host") "Host" else n).map(v => m + (n -> v.trim)))
          }
          (hdr("x-amz-date"), hdr("x-amz-content-sha256"), hvals) match {
            case (Some(ad), Some(ph), Some(hs)) if okCred &&
                ad.startsWith(c(1)) &&
                ph == SigV4.hex(SigV4.sha256(body)) =>
              val canonical = SigV4.canonicalRequest(
                x.getRequestMethod, x.getRequestURI, hs, ph)
              val toSign = s"AWS4-HMAC-SHA256\n$ad\n" +
                s"${c(1)}/$region/s3/aws4_request\n" +
                SigV4.hex(SigV4.sha256(canonical.getBytes(UTF_8)))
              SigV4.hex(
                SigV4.signature(sk, c(1), region, "s3", toSign)) == sig
            case _ => false
          }
        case _ => false
      }
    }

  private def handle(x: HttpExchange): Unit = {
    // the body is read ONCE up front: SigV4 verification hashes it,
    // and the PUT branch stores the same bytes
    val body = x.getRequestBody.readAllBytes()
    // EVERY verb is verified — list, read, write, conditional create
    // and delete alike get S3's 403 without a valid signature
    if (!sigV4Valid(x, body)) { respond(x, 403, Array.empty); return }
    // getRawPath, NOT getPath: getPath already percent-decodes, and a
    // second decode would collide 'a%20b' with 'a b' — a wrong
    // conditional-put verdict on the one primitive the commit log needs
    val segs = x.getRequestURI.getRawPath.stripPrefix("/")
      .split("/", 2).toSeq.map(dec)
    if (segs.headOption.forall(_ != bucket)) {
      respond(x, 404, Array.empty); return
    }
    val key = segs.lift(1).getOrElse("")
    x.getRequestMethod match {
      case "GET" if key.isEmpty =>
        val params = Option(x.getRequestURI.getRawQuery).getOrElse("")
          .split("&").filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> dec(v) }
          .toMap
        if (!params.get("list-type").contains("2")) {
          respond(x, 400, Array.empty); return
        }
        respond(x, 200, listXml(params),
          "Content-Type" -> "application/xml")
      case "GET" =>
        try respond(x, 200, backing.read(key))
        catch {
          case _: java.nio.file.NoSuchFileException |
               _: java.io.FileNotFoundException =>
            respond(x, 404, Array.empty)
        }
      case "PUT" =>
        val data = body
        val conditional = Option(
          x.getRequestHeaders.getFirst("If-None-Match")).contains("*")
        if (conditional) {
          if (conflict409EveryNth > 0 &&
              condPuts.incrementAndGet() % conflict409EveryNth == 0)
            respond(x, 409, Array.empty) // no effect — client retries
          else if (backing.putIfAbsent(key, data))
            respond(x, 200, Array.empty, "ETag" -> "\"graft\"")
          else respond(x, 412, Array.empty)
        } else { backing.put(key, data); respond(x, 200, Array.empty) }
      case "DELETE" =>
        backing.delete(key); respond(x, 204, Array.empty)
      case _ => respond(x, 405, Array.empty)
    }
  }

  /** Answer `x` with `code`, `headers` and `body` (no body when empty). */
  private def respond(x: HttpExchange, code: Int, body: Array[Byte],
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) x.getResponseBody.write(body)
    x.close()
  }

  private val executor = java.util.concurrent.Executors.newFixedThreadPool(8)
  private val server = {
    // TCP_NODELAY on. The JDK server leaves Nagle's algorithm on unless
    // this property is set before its `ServerConfig` class loads, which
    // happens once per JVM, at the first `HttpServer.create`.
    // `sendResponseHeaders` flushes the headers, so a response body goes
    // out as a second small segment, which Nagle holds until the
    // client's delayed ACK (40 ms on Linux). A 200-call loopback probe
    // measured GET and LIST at 44 ms per call with Nagle on and 1.7 ms
    // with it off; PUT and DELETE, which answer with no body, took about
    // 1 ms either way.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/", (x: HttpExchange) =>
      try handle(x)
      catch {
        case scala.util.control.NonFatal(_) => respond(x, 500, Array.empty)
      })
    s.setExecutor(executor)
    s.start()
    s
  }

  /** The bound port (when constructed with port = 0). */
  def boundPort: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$boundPort"
  // HttpServer.stop does NOT stop a caller-supplied executor — without
  // the shutdown each server instance leaks 8 non-daemon threads that
  // keep a forked JVM alive after main() returns
  def stop(): Unit = { server.stop(0); executor.shutdown() }
}
