package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Path, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A real network hop between the engine and its object store — the
  * piece the reference's deployment has (`compose.yaml:59-77` mounts
  * MinIO; `iceberg.properties:10-15` points the catalog at it over
  * HTTP) and SURVEY §8 declared as the remaining gap: every
  * [[ObjectStoreFileIO]] verb served over a loopback socket, and
  * [[HttpFileIO]] as the client-side [[FileIO]] the engine mounts.
  *
  * Wire surface (the S3 single-object subset the commit protocol
  * needs — the reference catalog's own conditional-write API):
  *
  *   - `GET /{key}` → 200 body + `ETag` header (content MD5, S3's
  *     single-part etag), 404 when absent. Reads go through the store's
  *     VISIBILITY-LAG view, so an eventually-consistent deployment is
  *     exercisable over the socket too.
  *   - `PUT /{key}` → unconditional object PUT (no temp+rename exists
  *     on an object store). `If-Match: <etag>` makes it the
  *     compare-and-swap (judged service-side against AUTHORITATIVE
  *     state, per-key linearized — exactly where S3 runs it);
  *     `If-None-Match: *` is create-only. Mismatch → 412.
  *   - `DELETE /{key}` → 204.
  *
  * [[HttpFileIO]] holds only BYTES client-side, so its `putIfMatch`
  * derives the `If-Match` etag by hashing the expected content with the
  * same MD5 the store uses — the documented S3 single-part contract,
  * not a private handshake. The commit protocol on top is unchanged:
  * CommitRaceSpec's one-winner/one-refusal race and a full Layout
  * snapshot lifecycle run against this io with sockets in the loop
  * (ObjectStoreHttpSpec). */
object ObjectStoreHttp {

  final case class Server(http: HttpServer, port: Int, store: ObjectStoreFileIO) {
    def stop(): Unit = http.stop(0)
    def uri: String = s"http://127.0.0.1:$port"
  }

  /** `root`: BUCKET confinement — a real object store roots every key
    * in a bucket; loopback binding alone does not protect against other
    * local processes/users reaching the port (round-15 advisor). When
    * set, a request path that does not NORMALIZE under `root` (so
    * `/bucket/../etc/passwd` is caught after `..` resolution) is
    * refused with 403 before any filesystem access. `None` keeps the
    * unconfined shape for multi-root test topologies (the Layout
    * lifecycle spec spans warehouse + temp dirs) — production wiring
    * should always pass a root. */
  def start(store: ObjectStoreFileIO, port: Int = 0,
      root: Option[Path] = None): Server = {
    val normRoot = root.map(_.toAbsolutePath.normalize)
    val http = HttpFront.create(port)
    http.createContext("/", (exchange: HttpExchange) => {
      try route(store, exchange, normRoot)
      catch {
        case scala.util.control.NonFatal(e) =>
          send(exchange, 500,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".getBytes("UTF-8"))
      }
    })
    http.start()
    Server(http, http.getAddress.getPort, store)
  }

  /** Object key ↔ backing path: keys are the absolute path, URL-encoded
    * per segment by the client; the decoded request path NORMALIZED is
    * the filesystem path (the store roots objects on the real FS
    * already). */
  private def pathOf(exchange: HttpExchange): Path =
    Paths.get(exchange.getRequestURI.getPath).normalize

  /** Filesystem-resolved containment: textual normalize+startsWith
    * alone lets a SYMLINK inside the root escape it (root/link → /;
    * GET root/link/etc/passwd normalizes under root but resolves
    * outside — round-16 review). The deepest EXISTING ancestor of the
    * already-normalized key resolves through `toRealPath` (symlinks
    * followed); the non-existent suffix cannot contain links or `..`
    * (normalized), so ancestor containment is containment. */
  private def containedIn(p: Path, root: Path): Boolean =
    try {
      val realRoot = root.toRealPath()
      var anc = p
      while (anc != null && !java.nio.file.Files.exists(anc,
        java.nio.file.LinkOption.NOFOLLOW_LINKS)) anc = anc.getParent
      anc != null && anc.toRealPath().startsWith(realRoot)
    } catch { case _: Exception => false } // unresolvable ⇒ refuse

  private def route(store: ObjectStoreFileIO, exchange: HttpExchange,
      root: Option[Path]): Unit = {
    val p = pathOf(exchange)
    if (root.exists(r => !containedIn(p, r))) {
      send(exchange, 403,
        s"key outside the store root: $p".getBytes("UTF-8")); return
    }
    exchange.getRequestMethod match {
      case "GET" =>
        store.getWithEtag(p) match {
          case Some((bytes, tag)) =>
            exchange.getResponseHeaders.set("ETag", s""""$tag"""")
            send(exchange, 200, bytes)
          case None => send(exchange, 404, Array.empty[Byte])
        }
      case "PUT" =>
        val bytes = exchange.getRequestBody.readAllBytes()
        val ifMatch = Option(exchange.getRequestHeaders.getFirst("If-Match"))
          .map(_.stripPrefix("\"").stripSuffix("\""))
        val ifNoneMatch = Option(exchange.getRequestHeaders.getFirst("If-None-Match"))
        // only `If-None-Match: *` (create-only) is implemented; a
        // conditional form this store does NOT honor must refuse, never
        // fall through to an unconditional overwrite that silently
        // clobbers the state the client's condition was protecting
        if (ifNoneMatch.exists(_ != "*")) {
          send(exchange, 501,
            "only If-None-Match: * is supported".getBytes("UTF-8")); return
        }
        val ok =
          if (ifMatch.isDefined) store.putIfEtagMatch(p, ifMatch, bytes)
          else if (ifNoneMatch.contains("*")) store.putIfEtagMatch(p, None, bytes)
          else { store.writeAtomic(p, bytes); true }
        if (ok) {
          exchange.getResponseHeaders.set("ETag", s""""${store.etag(bytes)}"""")
          send(exchange, 200, Array.empty[Byte])
        } else send(exchange, 412, Array.empty[Byte])
      case "DELETE" =>
        store.deleteIfExists(p)
        exchange.sendResponseHeaders(204, -1)
        exchange.close()
      case _ => send(exchange, 405, Array.empty[Byte])
    }
  }

  private def send(exchange: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    exchange.sendResponseHeaders(code,
      if (body.isEmpty) -1 else body.length.toLong)
    val os = exchange.getResponseBody
    try { if (body.nonEmpty) os.write(body) } finally os.close()
  }
}

/** [[FileIO]] over [[ObjectStoreHttp]]'s wire — what the engine mounts
  * when its store is a network hop away. One HTTP round trip per verb;
  * the conditional PUT's atomicity lives SERVICE-side (the 412 path),
  * exactly the real S3 split. */
final class HttpFileIO(baseUri: String) extends FileIO {

  private val client = HttpClient.newHttpClient()

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  private def uriOf(path: Path): URI = {
    val segs = path.toAbsolutePath.toString.split("/").filter(_.nonEmpty)
      .map(s => java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20"))
    URI.create(baseUri + "/" + segs.mkString("/"))
  }

  override def readBytes(path: Path): Option[Array[Byte]] = {
    val r = client.send(HttpRequest.newBuilder(uriOf(path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (r.statusCode() == 200) Some(r.body())
    else if (r.statusCode() == 404) None
    else throw new IllegalStateException(s"GET $path -> ${r.statusCode()}")
  }

  override def writeAtomic(path: Path, bytes: Array[Byte]): Unit = {
    val r = client.send(HttpRequest.newBuilder(uriOf(path))
      .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (r.statusCode() != 200)
      throw new IllegalStateException(s"PUT $path -> ${r.statusCode()}")
  }

  override def putIfMatch(path: Path, expected: Option[Array[Byte]],
      bytes: Array[Byte]): Boolean = {
    val b = HttpRequest.newBuilder(uriOf(path))
      .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes))
    expected match {
      case Some(e) => b.header("If-Match", s""""${md5(e)}"""")
      case None => b.header("If-None-Match", "*")
    }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    r.statusCode() match {
      case 200 => true
      case 412 => false
      case other =>
        throw new IllegalStateException(s"conditional PUT $path -> $other")
    }
  }

  override def deleteIfExists(path: Path): Unit = {
    val r = client.send(HttpRequest.newBuilder(uriOf(path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (r.statusCode() != 204 && r.statusCode() != 404)
      throw new IllegalStateException(s"DELETE $path -> ${r.statusCode()}")
  }
}
