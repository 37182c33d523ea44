package graft

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Workspace.SnapshotStore
import graft.web.HttpFrontend

/** Route-level tests for the Layer A HTTP surface (A11/A12/A14): exact
  * bodies for the fixed routes, the text/css asset quirk, all four error
  * pages, and the provenance log block; then dispatch: kept-alive latency,
  * concurrent connections, and the handler pool ending at stop.
  */
class HttpFrontendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val logs = new scala.collection.mutable.ArrayBuffer[String]
  private var mount: Path = _
  private var assets: Path = _
  private var front: HttpFrontend = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    mount = Files.createTempDirectory("graft-http-ws")
    val objs = mount.resolve("w/objects")
    Files.createDirectories(objs.resolve("abc123/sub"))
    Files.writeString(objs.resolve("abc123/t.csv"), "a,b\n1,2\n")
    Files.writeString(objs.resolve("abc123/sub/n.txt"), "nested")
    Files.writeString(mount.resolve("w/refs"), "latest\tabc123\n")
    // a snapshot id present in refs but missing on disk -> CheckoutFailed
    Files.writeString(mount.resolve("w/refs"),
      "latest\tabc123\nbroken\tmissing0\n")
    assets = Files.createTempDirectory("graft-http-assets")
    Files.writeString(assets.resolve("app.js"), "console.log('hi')")
    front = new HttpFrontend(new SnapshotStore(mount), mount, assets,
      s => logs.synchronized { logs += s })
    front.start(0)
  }

  override def afterAll(): Unit = front.stop()

  /** One kept-alive HTTP/1.1 connection on a raw socket, TCP_NODELAY left
    * at its default (off), reading each response by its Content-length. */
  private final class Conn(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    private def line(): String = {
      val b = new ByteArrayOutputStream
      var c = in.read()
      while (c != '\n' && c >= 0) { if (c != '\r') b.write(c); c = in.read() }
      b.toString(ISO_8859_1)
    }

    /** Status and body of one GET. */
    def get(path: String): (Int, Array[Byte]) = {
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n"
        .getBytes(ISO_8859_1))
      out.flush()
      val status = line().split(' ')(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (h.substring(0, i).equalsIgnoreCase("Content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      (status, in.readNBytes(len))
    }

    def close(): Unit = sock.close()
  }

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${front.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("/ says Hello, World! and /health says Healthy!") {
    assert(get("/").body() == "Hello, World!")
    assert(get("/health").body() == "Healthy!")
  }

  test("/workspaces is the reference's list stub") {
    assert(get("/workspaces").body() == "List all workspaces")
  }

  test("asset route serves content with the hard-coded text/css type") {
    val r = get("/web_assets/app.js")
    assert(r.statusCode() == 200)
    assert(r.body() == "console.log('hi')")
    // the reference's quirk: content-type is text/css even for .js
    assert(r.headers().firstValue("Content-Type").get() == "text/css")
    assert(get("/web_assets/nope.css").statusCode() == 404)
    // traversal components are sanitized away, not honored
    assert(get("/web_assets/..%2Fapp.js").body() == "console.log('hi')")
  }

  test("asset route falls back to jar-embedded resources (rust-embed parity)") {
    // styles.css exists only under resources/web_assets/ on the
    // classpath, not in the temp assetsRoot — the reference compiles
    // web_assets/build into the binary (src/web.rs:3-5)
    val r = get("/web_assets/styles.css")
    assert(r.statusCode() == 200)
    assert(r.body().contains("Embedded stylesheet"))
    assert(r.headers().firstValue("Content-Type").get() == "text/css")
    // a directory copy still wins over the embedded one
    assert(get("/web_assets/app.js").body() == "console.log('hi')")
  }

  test("detail route renders a file at the default version") {
    val r = get("/workspaces/w?path=t.csv")
    assert(r.statusCode() == 200)
    assert(r.body().contains("<pre>a,b\n1,2\n</pre>"))
  }

  test("detail route renders a recursive directory listing at the root") {
    val body = get("/workspaces/w").body()
    assert(body.contains("<li>t.csv</li>"))
    assert(body.contains("<li>sub/n.txt</li>"))
  }

  test("render=chart upgrades a CSV file hit to the bar-chart template") {
    val r = get("/workspaces/w?path=t.csv&render=chart")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "text/html")
    // t.csv is "a,b\n1,2\n": the header row isn't numeric, the data row
    // charts label "1" value 2 at full width
    assert(r.body().contains("<svg "))
    assert(r.body().contains("""<rect x="160" y="6" width="456" height="18"/>"""))
    assert(r.body().contains(">2</text>"))
    // non-chart requests for the same file still render the file template
    assert(get("/workspaces/w?path=t.csv").body().contains("<pre>"))
    // directories ignore the flag and render the listing template
    assert(get("/workspaces/w?render=chart").body().contains("<li>t.csv</li>"))
    // errors keep their template too
    assert(get("/workspaces/w?path=ghost.txt&render=chart").body()
      .contains("does not exist in this version"))
  }

  test("render=pdf serves a structurally valid deterministic PDF") {
    val req = HttpRequest.newBuilder(URI.create(
      s"http://127.0.0.1:${front.port}/workspaces/w?path=t.csv&render=pdf"))
      .GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/pdf")
    val bytes = r.body()
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s.startsWith("%PDF-1.4\n"))
    assert(s.endsWith("%%EOF\n"))
    // the table carries the title and the parsed data row (1 -> 2);
    // the non-numeric header row is skipped like the chart route
    assert(s.contains("(t.csv) Tj"))
    assert(s.contains("(1) Tj") && s.contains("(2) Tj"))
    // xref integrity: every offset must point at its "<i> 0 obj" header
    val xref = s.indexOf("\nxref\n")
    val entries = s.substring(xref).linesIterator
      .filter(_.endsWith(" n ")).map(_.take(10).toInt).toSeq
    assert(entries.length == 5)
    entries.zipWithIndex.foreach { case (off, i) =>
      assert(s.startsWith(s"${i + 1} 0 obj\n", off),
        s"xref entry ${i + 1} points at: " + s.substring(off, off + 12))
    }
    // the declared stream /Length matches the actual stream bytes
    val len = "/Length (\\d+)".r.findFirstMatchIn(s).get.group(1).toInt
    val body = s.substring(s.indexOf("stream\n") + 7, s.indexOf("\nendstream"))
    assert(body.length == len)
    // startxref points at the xref table
    val sx = s.substring(s.indexOf("startxref\n") + 10).trim
      .stripSuffix("%%EOF").trim.toInt
    assert(s.startsWith("xref\n", sx))
    // byte-determinism: a second fetch is identical
    val again = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    assert(java.util.Arrays.equals(bytes, again.body()))
    // a CSV with no numeric rows degrades to the HTML error page
    assert(get("/workspaces/w?path=sub/n.txt&render=pdf").body()
      .contains("No chartable rows"))
    // PDF delimiters in labels escape: craft via Render directly
    val esc = graft.core.Workspace.Render
      .pdfFromCsv("x", "a(b)c\\d,7\n").get
    val es = new String(esc, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(es.contains("(a\\(b\\)c\\\\d) Tj"))
  }

  test("all four error classes render as error pages") {
    // Apostrophes render HTML-escaped (&#x27;, matching handlebars-rust).
    assert(get("/workspaces/ghost").body()
      .contains("Could not open workspace &#x27;ghost&#x27;"))
    assert(get("/workspaces/w?version=zzz").body()
      .contains("Could not resolve version &#x27;zzz&#x27;"))
    assert(get("/workspaces/w?version=broken").body()
      .contains("Could not checkout snapshot"))
    assert(get("/workspaces/w?path=ghost.txt").body()
      .contains("does not exist in this version"))
  }

  test("provenance block is logged once the version resolves") {
    logs.clear()
    get("/workspaces/w?path=..%2Ft.csv")
    val block = logs.mkString("\n")
    assert(block.contains("Version: latest -> Commit: abc123"))
    assert(block.contains("-- Input --"))
    assert(block.contains("Workspace Path: ../t.csv"))   // raw
    assert(block.contains("-- Sanitized --"))
    assert(block.contains("Workspace Path: t.csv"))      // sanitized
    assert(block.contains("Commit ID: abc123"))
    // resolution failure returns the error page BEFORE logging provenance
    logs.clear()
    get("/workspaces/w?version=zzz")
    assert(!logs.exists(_.contains("-- Input --")))
  }

  test("unmatched paths 404 and non-GET 405") {
    assert(get("/workspaces/w/too/deep").statusCode() == 404)
    assert(get("/nope").statusCode() == 404)
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${front.port}/health"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 405)
  }

  test("kept-alive GETs are not held back by Nagle's algorithm") {
    val conn = new Conn(front.port)
    try {
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        val (status, body) = conn.get("/workspaces/w?path=t.csv")
        assert(status == 200 && body.nonEmpty)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20, s"median $median ms over ${ms.mkString(", ")}")
    } finally conn.close()
  }

  test("concurrent kept-alive connections get the bodies of a sequential pass") {
    val routes = Seq("/workspaces/w?path=t.csv", "/workspaces/w",
      "/workspaces/w?path=t.csv&render=chart",
      "/workspaces/w?path=t.csv&render=pdf")
    val expected = {
      val conn = new Conn(front.port)
      try routes.map(r => r -> conn.get(r)._2).toMap
      finally conn.close()
    }
    val mismatches = new ConcurrentLinkedQueue[String]
    val pool = Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map { c =>
        pool.submit((() => {
          val conn = new Conn(front.port)
          try (0 until 50).foreach { i =>
            val r = routes((c + i) % routes.length)
            val (status, body) = conn.get(r)
            if (status != 200 || !java.util.Arrays.equals(body, expected(r)))
              mismatches.add(s"connection $c request $i $r: status $status")
          } finally conn.close()
        }): Runnable)
      }
      runs.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(mismatches.isEmpty, mismatches.asScala.take(5).mkString("; "))
  }

  test("stop ends every handler thread") {
    def handlers(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-http-")).toSet
    val before = handlers() // the suite's own frontend
    val other = new HttpFrontend(new SnapshotStore(mount), mount, assets,
      _ => ())
    other.start(0)
    val conn = new Conn(other.port)
    try (1 to 10).foreach(_ => assert(conn.get("/health")._1 == 200))
    finally conn.close()
    assert((handlers() -- before).nonEmpty)
    other.stop()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while ((handlers() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((handlers() -- before).isEmpty,
      (handlers() -- before).map(_.getName).mkString(", "))
  }
}
