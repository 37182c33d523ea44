package graft.web

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core.Workspace
import graft.core.Workspace.{Render, SnapshotStore, WorkspacePath}

/** Layer A HTTP surface (SURVEY.md §2.1 A11/A12/A14), on the JDK's
  * built-in `com.sun.net.httpserver` (zero new dependencies). Routes
  * mirror /root/reference/src/http_server.rs:21-37:
  *
  *   GET /                      -> "Hello, World!"
  *   GET /health                -> "Healthy!"
  *   GET /web_assets/<tail>     -> asset contents, content-type always
  *                                 `text/css` (the reference's hard-coded
  *                                 quirk — src/web.rs:12-16); 404 missing
  *   GET /workspaces            -> "List all workspaces" (reference stub)
  *   GET /workspaces/<name>?version=<ref>&path=<p>
  *                              -> rendered workspace query
  *                                 (src/http_server.rs:105-280)
  *
  * A14 provenance: the detail route emits the reference's raw-input /
  * sanitized / configured / computed log block
  * (src/http_server.rs:206-236) through the injected `log` sink once the
  * version resolves — the reference returns its error template before
  * logging when resolution fails, and so does this.
  *
  * Non-GET methods get 405, matching warp's rejection of `warp::get()`
  * filters; unmatched paths get 404.
  *
  * Dispatch: accepted sockets are set TCP_NODELAY (the JDK's
  * `sun.net.httpserver.nodelay`), so a kept-alive response whose headers
  * and body go out as two writes is not held back by Nagle's algorithm
  * until the client's delayed ACK (about 40 ms a request). Exchanges run
  * on a fixed pool of `availableProcessors` daemon threads named
  * `graft-http-<n>`, owned by the frontend and ended by [[stop]].
  * Handlers keep no state between exchanges, so `log` is called from
  * those threads concurrently: one call per log block.
  */
final class HttpFrontend(store: SnapshotStore, mount: Path,
                         assetsRoot: Path, log: String => Unit) {

  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Bound port (after start; pass port=0 for an ephemeral one). */
  def port: Int = server.getAddress.getPort

  def start(requestedPort: Int): Unit = {
    // The JDK reads this property once, when sun.net.httpserver.ServerConfig
    // is initialized, i.e. at the first HttpServer.create in the JVM: it
    // must be set before that. This class is the only creator of one.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(requestedPort), 0)
    server.createContext("/", exchange => handle(exchange))
    val threads = new AtomicInteger
    pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors,
      { r: Runnable =>
        val t = new Thread(r, s"graft-http-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    server.start()
  }

  /** Stops the server, then ends the handler pool and waits for it. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(5, TimeUnit.SECONDS)
    }
  }

  private def handle(ex: HttpExchange): Unit = {
    try {
      if (ex.getRequestMethod != "GET") reply(ex, 405, "")
      else route(ex)
    } catch {
      // routing can throw before any status line is written (malformed
      // percent-encoding in URLDecoder, non-UTF-8 asset bytes in
      // Files.readString); without this the client sees a dropped
      // connection instead of a response
      case scala.util.control.NonFatal(_) =>
        try reply(ex, 500, "Internal Server Error")
        catch { case _: Throwable => () } // headers already sent
    } finally ex.close()
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    path match {
      case "/"        => reply(ex, 200, "Hello, World!")
      case "/health"  => reply(ex, 200, "Healthy!")
      case "/workspaces" | "/workspaces/" =>
        reply(ex, 200, "List all workspaces")
      case p if p.startsWith("/web_assets/") =>
        serveAsset(ex, p.stripPrefix("/web_assets/"))
      case p if p.startsWith("/workspaces/") =>
        p.stripPrefix("/workspaces/").split("/", -1) match {
          case Array(name) if name.nonEmpty => detail(ex, name)
          case _                            => reply(ex, 404, "")
        }
      case _ => reply(ex, 404, "")
    }
  }

  /** Static assets under `assetsRoot`, falling back to JAR-EMBEDDED
    * resources under `resources/web_assets/` — the parity move for the
    * reference's rust-embed folder (src/web.rs:3-5 compiles
    * web_assets/build into the binary). Content-type is hard-coded to
    * `text/css` regardless of extension — a faithful port of the
    * reference's "TODO: Handle other file types" quirk
    * (src/web.rs:12-16). Traversal is neutralized with the same
    * WorkspacePath sanitizer the query path uses (the sanitized name
    * never contains `..`, so the classpath lookup can't escape either). */
  private def serveAsset(ex: HttpExchange, tail: String): Unit = {
    log(s"Requesting asset: $tail")
    val rel = WorkspacePath(tail).value
    val f = assetsRoot.resolve(rel)
    if (rel.nonEmpty && Files.isRegularFile(f))
      reply(ex, 200, Files.readString(f), contentType = "text/css")
    else embeddedAsset(rel) match {
      case Some(body) => reply(ex, 200, body, contentType = "text/css")
      case None       => reply(ex, 404, "")
    }
  }

  private def embeddedAsset(rel: String): Option[String] =
    if (rel.isEmpty) None
    else Option(getClass.getResourceAsStream(s"/web_assets/$rel")).map { in =>
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }

  private def detail(ex: HttpExchange, name: String): Unit = {
    // The name is used as a raw path component by SnapshotStore
    // (mount.resolve(name)), so "." / ".." (incl. %2e%2e-encoded, which
    // getPath decodes) would probe refs/objects one level above the
    // store root. Apply the same component filter WorkspacePath uses
    // and answer RepoNotFound without touching the filesystem.
    if (name == "." || name == "..") {
      reply(ex, 200, Render.render(Left(Workspace.RepoNotFound(name))),
        contentType = "text/html")
      return
    }
    val params = queryParams(ex)
    val rawVersion = params.getOrElse("version", "latest")
    val rawPath = params.getOrElse("path", "")
    // two-phase like the reference: resolve first (so the provenance
    // block can carry the resolved snapshot id), then run the query
    val resolved =
      if (store.workspaceExists(name)) store.resolve(name, rawVersion)
      else Left(Workspace.RepoNotFound(name))
    resolved.foreach { id =>
      // one call, so blocks of concurrent requests cannot interleave
      log(s"Version: $rawVersion -> Commit: $id\n" +
        provenance(name, rawVersion, rawPath, id))
    }
    // `render=chart` upgrades a CSV file hit to the bar-chart template
    // (the README-declared chart surface); directories and errors fall
    // through to the standard templates unchanged.
    val result = store.query(name, rawVersion, rawPath)
    // `render=pdf` is the second README-declared export surface: a CSV
    // file hit streams back as application/pdf; a CSV with no numeric
    // rows degrades to the HTML error page (same channel as the chart)
    (params.get("render"), result) match {
      case (Some("pdf"), Right(Workspace.FileResult(n, c))) =>
        Render.pdfFromCsv(n, c) match {
          case Some(bytes) =>
            replyBytes(ex, 200, bytes, contentType = "application/pdf")
          case None =>
            reply(ex, 200, Render.error(s"No chartable rows in '$n'"),
              contentType = "text/html")
        }
      case (render, _) =>
        val body = (render, result) match {
          case (Some("chart"), Right(Workspace.FileResult(n, c))) =>
            Render.chartFromCsv(n, c)
          case _ => Render.render(result)
        }
        reply(ex, 200, body, contentType = "text/html")
    }
  }

  /** The reference's provenance block — src/http_server.rs:206-236. */
  private def provenance(rawName: String, rawVersion: String,
                         rawPath: String, commitId: String): String = {
    val sanitized = WorkspacePath(rawPath)
    s"""-- Input --
       |Workspace Name: $rawName
       |Workspace Version: $rawVersion
       |Workspace Path: $rawPath
       |-- Sanitized --
       |Workspace Name: $rawName
       |Workspace Path: ${sanitized.value}
       |Workspace Version: $rawVersion
       |Commit ID: $commitId
       |-- Configured --
       |Workspaces Mount: $mount
       |-- Computed --
       |Snapshot Mount: ${store.snapshotDir(rawName, commitId)}
       |Target Path: ${store.snapshotDir(rawName, commitId)
                        .resolve(sanitized.value)}""".stripMargin
  }

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val q = ex.getRequestURI.getRawQuery
    if (q == null || q.isEmpty) Map.empty
    else q.split('&').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(URLDecoder.decode(k, StandardCharsets.UTF_8) ->
            URLDecoder.decode(v, StandardCharsets.UTF_8))
        case Array(k) =>
          Some(URLDecoder.decode(k, StandardCharsets.UTF_8) -> "")
        case _ => None
      }
    }.toMap
  }

  private def reply(ex: HttpExchange, status: Int, body: String,
                    contentType: String = "text/plain"): Unit =
    replyBytes(ex, status, body.getBytes(StandardCharsets.UTF_8), contentType)

  private def replyBytes(ex: HttpExchange, status: Int, bytes: Array[Byte],
                         contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    // JDK contract: -1 means an empty body
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }
  }
}
