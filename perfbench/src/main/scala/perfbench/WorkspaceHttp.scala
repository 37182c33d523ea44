package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetAddress, Socket, URLEncoder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.Workspace
import graft.core.Workspace.{Render, SnapshotStore}
import graft.web.HttpFrontend

/** `workspace_http`: nproc-1 reader connections, kept alive across
  * requests, against an in-process `HttpFrontend`, while one writer
  * commits a fixed number of versions through `SnapshotStore.commitFile`.
  *
  * The store is generated from the seed through the program's own
  * `commitFile`: workspace `site` (nested directories, text files with
  * HTML-special characters, and a CSV of thousands of `label,value`
  * rows, with tags `rel-<n>` on every tenth version) and workspace
  * `journal`, which the writer changes during the timed phase. Readers
  * cycle through a seeded list of requests: file reads and recursive
  * listings at `latest`, at a tag and at an id prefix, `render=chart`,
  * `render=pdf`, missing paths (answered with the error page), and reads
  * of `journal` versions pinned by id while the writer commits. Reads of
  * `journal` go by id or id prefix only: the store rewrites its refs file
  * in place on every commit, so a concurrent read by ref name could see
  * it half written.
  *
  * Every response is checked against what the benchmark itself wrote
  * at that version, escaped by the benchmark's own code. */
object WorkspaceHttp {

  private val Dirs = Seq("", "docs", "docs/guides", "docs/guides/advanced",
    "data", "data/raw", "data/raw/2024", "src", "src/lib", "src/lib/util", "notes")
  private val Words = Seq("query", "version", "snapshot", "table", "chart",
    "spark", "commit", "tree", "ref", "row", "café", "naïve", "漢字", "x<y",
    "a&b", "\"quoted\"", "it's", "`tick`", "k=v", "<tag>", "plain", "data")

  /** What the benchmark committed: per workspace, each version's files. */
  final class Model(val ws: String) {
    var versions = Vector.empty[(String, Map[String, String])]
    def files(id: String): Map[String, String] = versions.find(_._1 == id).get._2
    def latest: (String, Map[String, String]) = versions.last
  }

  // ---- the benchmark's own rendering expectations ------------------------

  /** HTML escaping as the page must carry it (the Handlebars entity set). */
  def esc(s: String): String = {
    val b = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => b.append("&amp;")
      case '<' => b.append("&lt;")
      case '>' => b.append("&gt;")
      case '"' => b.append("&quot;")
      case '\'' => b.append("&#x27;")
      case '`' => b.append("&#x60;")
      case '=' => b.append("&#x3D;")
      case c => b.append(c)
    }
    b.toString
  }

  /** Paths a recursive listing of `dir` must show: the directory itself
    * and every file and directory below it, relative to the snapshot. */
  def listing(files: Iterable[String], dir: String): Set[String] = {
    val all = files.flatMap { f =>
      val parts = f.split('/')
      (1 to parts.length).map(i => parts.take(i).mkString("/"))
    }.toSet + ""
    all.filter(p => dir.isEmpty || p == dir || p.startsWith(dir + "/"))
  }

  /** Rows of a generated CSV whose value field is a number. */
  def numericRows(csv: String): Seq[String] =
    csv.split("\n").toSeq.filter(l => l.matches(".*,-?[0-9]+(\\.[0-9]+)?"))
      .map(l => l.substring(0, l.lastIndexOf(',')))

  private def between(body: String, open: String, close: String): Option[String] = {
    val a = body.indexOf(open); val b = body.lastIndexOf(close)
    if (a < 0 || b < a) None else Some(body.substring(a + open.length, b))
  }

  /** PDF check: every xref entry points at its own `n 0 obj`. */
  def pdfOk(bytes: Array[Byte]): Option[String] = {
    val s = new String(bytes, ISO_8859_1)
    if (!s.startsWith("%PDF-1.4")) return Some("no %PDF header")
    val sx = s.lastIndexOf("startxref\n")
    if (sx < 0) return Some("no startxref")
    val xref = s.substring(sx + 10).takeWhile(_.isDigit).toInt
    val lines = s.substring(xref).split("\n")
    if (lines(0) != "xref") return Some("startxref does not point at xref")
    val n = lines(1).split(" ")(1).toInt
    (1 until n).collectFirst(Function.unlift { i =>
      val off = lines(2 + i).take(10).toInt
      if (s.startsWith(s"$i 0 obj", off)) None else Some(s"xref entry $i misses")
    })
  }

  // ---- store generation ---------------------------------------------------

  private def text(rng: scala.util.Random, lines: Int): String =
    (1 to lines).map(_ => Seq.fill(4 + rng.nextInt(8))(Words(rng.nextInt(Words.length)))
      .mkString(" ")).mkString("", "\n", "\n")

  private def csv(rng: scala.util.Random, rows: Int, from: Int): String = {
    val b = new StringBuilder
    (from until from + rows).foreach { i =>
      if (i % 97 == 13) b.append(s"note $i,n/a\n")
      else {
        val label = if (i % 11 == 0) s"region $i, east" else f"item-$i%05d"
        val v = if (i % 3 == 0) (rng.nextInt(200000) - 20000).toString
                else String.format(java.util.Locale.ROOT, "%.2f",
                  Double.box(rng.nextInt(100000) / 100.0))
        b.append(s"$label,$v\n")
      }
    }
    b.toString
  }

  /** Commit through the program, recording what was committed. */
  private def commit(store: SnapshotStore, m: Model, path: String,
                     contents: String, userBytes: AtomicInteger): String = {
    val base = if (m.versions.isEmpty) "none" else m.latest._1
    val id = store.commitFile(m.ws, base, path, contents)
    userBytes.addAndGet(contents.getBytes(UTF_8).length)
    val files = (if (m.versions.isEmpty) Map.empty[String, String] else m.latest._2) +
      (path -> contents)
    if (!m.versions.exists(_._1 == id)) m.versions :+= (id -> files)
    id
  }

  private def build(store: SnapshotStore, ws: String, nFiles: Int, csvRows: Int,
                    edits: Int, rng: scala.util.Random, userBytes: AtomicInteger): Model = {
    val m = new Model(ws)
    commit(store, m, "data/metrics.csv", "label,value\n" + csv(rng, csvRows, 0), userBytes)
    (0 until nFiles).foreach { i =>
      val dir = Dirs(rng.nextInt(Dirs.length))
      val name = s"${Seq("notes", "readme", "query", "spec")(i % 4)}-$i.txt"
      commit(store, m, if (dir.isEmpty) name else s"$dir/$name",
        text(rng, 3 + rng.nextInt(40)), userBytes)
    }
    (0 until edits).foreach(i => edit(store, m, rng, userBytes, i))
    m
  }

  /** One change of an existing file; every fourth appends CSV rows. */
  private def edit(store: SnapshotStore, m: Model, rng: scala.util.Random,
                   userBytes: AtomicInteger, i: Int): String = {
    val cur = m.latest._2
    if (i % 4 == 0) {
      val old = cur("data/metrics.csv")
      commit(store, m, "data/metrics.csv",
        old + csv(rng, 50, old.count(_ == '\n') + 1000 * i), userBytes)
    } else {
      val paths = cur.keys.filter(_.endsWith(".txt")).toSeq.sorted
      commit(store, m, paths(rng.nextInt(paths.length)), text(rng, 3 + rng.nextInt(40)),
        userBytes)
    }
  }

  private def prefix(ids: Seq[String], id: String): String =
    (8 to id.length).map(id.take).find(p => ids.count(_.startsWith(p)) == 1).get

  // ---- requests -----------------------------------------------------------

  /** One request: URL, kind, and the check of its response body. `core`
    * repeats the request's work directly on the store, for the trace. */
  final case class Req(kind: String, url: String, check: (String, Array[Byte]) => Option[String],
                       core: (Long, Long) => Unit)

  private def q(s: String) = URLEncoder.encode(s, UTF_8)

  private def url(ws: String, version: String, path: String, render: String = "") =
    s"/workspaces/$ws?version=${q(version)}&path=${q(path)}" +
      (if (render.isEmpty) "" else s"&render=$render")

  private def fileCheck(expect: String): (String, Array[Byte]) => Option[String] = {
    val want = esc(expect)
    (ctype, b) =>
      if (!ctype.startsWith("text/html")) Some(s"content type $ctype")
      else between(new String(b, UTF_8), "<pre>", "</pre>") match {
        case Some(got) if got == want => None
        case Some(_) => Some("file page differs from the committed bytes")
        case None => Some("no <pre> block")
      }
  }

  private def listCheck(expect: Set[String]): (String, Array[Byte]) => Option[String] =
    (_, b) => {
      val body = new String(b, UTF_8)
      val items = "<li>(.*?)</li>".r.findAllMatchIn(body).map(_.group(1)).toSet
      if (items == expect.map(esc)) None
      else Some(s"listing has ${items.size} items, expected ${expect.size}")
    }

  /** Direct `core` calls for the same request (traced runs only). */
  private def coreFile(store: SnapshotStore, ws: String, version: String, path: String,
                       byRef: Boolean, render: String): (Long, Long) => Unit = (op, web) => {
    Trace.span("core", if (byRef) "resolve.ref" else "resolve.prefix", op, web)(
      store.resolve(ws, version))
    val r = Trace.span("core", if (path.endsWith(".csv") || path.endsWith(".txt")) "query.file"
      else "query.dir", op, web)(store.query(ws, version, path))
    (render, r) match {
      case ("chart", Right(Workspace.FileResult(n, c))) =>
        Trace.span("core", "render.chart", op, web)(Render.chartFromCsv(n, c))
      case ("pdf", Right(Workspace.FileResult(n, c))) =>
        Trace.span("core", "render.pdf", op, web)(Render.pdfFromCsv(n, c))
      case (_, Right(_: Workspace.DirectoryResult)) =>
        Trace.span("core", "render.listing", op, web)(Render.render(r))
      case _ =>
        Trace.span("core", "render.html", op, web)(Render.render(r))
    }
    ()
  }

  private def requests(store: SnapshotStore, site: Model, journal: Model,
                       tags: Seq[(String, String)], rng: scala.util.Random): Vector[Req] = {
    val siteIds = site.versions.map(_._1)
    val journalIds = journal.versions.map(_._1)
    def fileAt(ws: Model, id: String, version: String, byRef: Boolean): Req = {
      val files = ws.files(id)
      val p = files.keys.toSeq.sorted.apply(rng.nextInt(files.size))
      Req("file", url(ws.ws, version, p), fileCheck(files(p)),
        coreFile(store, ws.ws, version, p, byRef, ""))
    }
    def listAt(id: String, version: String, byRef: Boolean): Req = {
      val files = site.files(id)
      val dirs = listing(files.keys, "").filter(d => !files.contains(d)).toSeq.sorted
      val d = dirs(rng.nextInt(dirs.length))
      Req("listing", url("site", version, d), listCheck(listing(files.keys, d)),
        coreFile(store, "site", version, d, byRef, ""))
    }
    def renderAt(id: String, version: String, byRef: Boolean, kind: String): Req = {
      val c = site.files(id)("data/metrics.csv")
      val rows = numericRows(c)
      val check: (String, Array[Byte]) => Option[String] =
        if (kind == "chart") (_, b) => {
          val body = new String(b, UTF_8)
          val bars = "<rect ".r.findAllMatchIn(body).length
          val first = esc(rows.head)
          if (bars != math.min(50, rows.length)) Some(s"chart has $bars bars")
          else if (!body.contains(s">$first</text>")) Some("first bar label missing")
          else None
        }
        else (ctype, b) =>
          if (ctype != "application/pdf") Some(s"pdf content type $ctype") else pdfOk(b)
      Req(kind, url("site", version, "data/metrics.csv", kind), check,
        coreFile(store, "site", version, "data/metrics.csv", byRef, kind))
    }
    val latest = site.latest._1
    Vector.tabulate(240) { i =>
      val (tag, tagId) = tags(rng.nextInt(tags.length))
      val old = siteIds(rng.nextInt(siteIds.length))
      i % 20 match {
        case 0 | 1 | 2 | 3 | 4 | 5 => fileAt(site, latest, "latest", byRef = true)
        case 6 | 7 => listAt(latest, "latest", byRef = true)
        case 8 | 9 => fileAt(site, tagId, tag, byRef = true)
        case 10 => listAt(tagId, tag, byRef = true)
        case 11 | 12 => fileAt(site, old, prefix(siteIds, old), byRef = false)
        case 13 => listAt(old, prefix(siteIds, old), byRef = false)
        case 14 => renderAt(if (i % 40 == 14) latest else tagId,
          if (i % 40 == 14) "latest" else tag, byRef = true, "chart")
        case 15 => renderAt(latest, "latest", byRef = true, "pdf")
        case 16 =>
          val p = s"docs/missing-$i.txt"
          val want = "<p class=\"error\">" +
            esc(s"Path '$p' does not exist in this version") + "</p>"
          Req("missing", url("site", "latest", p),
            (_, b) => if (new String(b, UTF_8).contains(want)) None
                      else Some("missing path did not give the error page"),
            coreFile(store, "site", "latest", p, byRef = true, ""))
        case _ =>
          val id = journalIds(rng.nextInt(journalIds.length))
          val v = if (i % 2 == 0) id else prefix(journalIds, id)
          fileAt(journal, id, v, byRef = false)
      }
    }
  }

  // ---- HTTP/1.1 client on one kept-alive connection -------------------------

  final class Conn(port: Int) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: BufferedOutputStream = _
    reopen()

    /** A fresh connection, after a request on this one failed part-way. */
    def reopen(): Unit = {
      if (sock != null) sock.close()
      sock = new Socket(InetAddress.getLoopbackAddress, port)
      in = new BufferedInputStream(sock.getInputStream, 1 << 16)
      out = new BufferedOutputStream(sock.getOutputStream)
    }

    private def line(in: InputStream): String = {
      val b = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n' && c >= 0) { if (c != '\r') b.write(c); c = in.read() }
      if (c < 0) throw new java.io.EOFException("connection closed")
      b.toString(ISO_8859_1)
    }

    /** (status, content type, body). */
    def get(path: String): (Int, String, Array[Byte]) = {
      out.write(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(ISO_8859_1))
      out.flush()
      val status = line(in).split(" ")(1).toInt
      var len = 0; var ctype = ""
      var h = line(in)
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        val k = h.substring(0, i).trim.toLowerCase
        val v = h.substring(i + 1).trim
        if (k == "content-length") len = v.toInt
        if (k == "content-type") ctype = v
        h = line(in)
      }
      (status, ctype, in.readNBytes(len))
    }

    def close(): Unit = sock.close()
  }

  private def du(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  // ---- the run ------------------------------------------------------------

  def run(cfg: Config): Result = {
    if (cfg.trace) Trace.watchGc()
    val rng = new scala.util.Random(cfg.seed)
    val mount = cfg.runDir.resolve("store")
    Files.createDirectories(mount)
    val store = new SnapshotStore(mount)
    val userBytes = new AtomicInteger()
    val site = build(store, "site", 48, 4000, 24, rng, userBytes)
    val journal = build(store, "journal", 16, 1000, 6, rng, userBytes)
    // tag every tenth site version: the store keeps other refs on commit
    val tags = site.versions.zipWithIndex.collect {
      case ((id, _), i) if i % 10 == 9 => s"rel-${i + 1}" -> id
    }
    Files.writeString(mount.resolve("site").resolve("refs"),
      (store.refs("site").toSeq ++ tags).sortBy(_._1)
        .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
    val reqs = requests(store, site, journal, tags, rng)
    val assets = cfg.runDir.resolve("assets")
    Files.createDirectories(assets)
    val server = new HttpFrontend(store, mount, assets, _ => ())
    server.start(0)

    val readers = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val conns = Vector.fill(readers)(new Conn(server.port))
    val problems = new ConcurrentLinkedQueue[String]()  // wrong answers
    val errors = new ConcurrentLinkedQueue[String]()    // failed operations
    val failed = new AtomicInteger()

    /** One GET: its latency, or None if it failed (no answer, a response
      * that does not parse, a status other than 200). A check that throws
      * on the body counts as a wrong answer. */
    def issue(c: Conn, r: Req, op: Long): Option[Double] = {
      val t0 = Trace.nowUs(); val n0 = System.nanoTime()
      val res = try c.get(r.url) match {
        case (200, ctype, body) => Right((ctype, body))
        case (status, _, _) => Left(s"HTTP $status")
      } catch {
        case NonFatal(e) => c.reopen(); Left(e.toString)
      }
      val ms = (System.nanoTime() - n0) / 1e6
      res match {
        case Right((ctype, body)) =>
          val web = Trace.nextId()
          Trace.add(Span(web, 0L, op, "web", r.kind, t0, Trace.nowUs()))
          (try r.check(ctype, body) catch { case NonFatal(e) => Some(s"check threw $e") })
            .foreach(p => problems.add(s"${r.url}: $p"))
          if (Trace.on) r.core(op, web)
          Some(ms)
        case Left(e) =>
          errors.add(s"${r.url}: $e"); failed.incrementAndGet(); None
      }
    }

    /** A client thread; anything it throws makes the run wrong. */
    def client(name: String)(body: => Unit): Thread = new Thread(() =>
      try body catch { case NonFatal(e) => problems.add(s"$name thread stopped: $e") })

    // warm-up, readers in parallel: together they send the whole list
    // twice, which also checks every request before timing
    val warm = conns.indices.map { k =>
      client(s"warm-up $k")((reqs.indices ++ reqs.indices).zipWithIndex
        .collect { case (i, j) if j % readers == k => i }
        .foreach(i => issue(conns(k), reqs(i), -1L)))
    }
    warm.foreach(_.start()); warm.foreach(_.join())
    val warmProblems = problems.size
    val failedWarm = failed.get
    if (failedWarm > 0) problems.add(s"$failedWarm warm-up requests failed")

    val setupS = Proc.sinceStartMs() / 1000.0
    val commits = 12
    val writeMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val readMs = Array.fill(readers)(Vector.newBuilder[(String, Double)])
    val attempted = new AtomicInteger()
    val opIds = new java.util.concurrent.atomic.AtomicLong(0)
    val go = new CountDownLatch(1)
    val cpu0 = Proc.cpuMs(); val jit0 = Proc.jitMs()
    val tStartUs = Trace.nowUs()
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    val threads = (0 until readers).map { k =>
      client(s"reader $k") {
        go.await()
        val order = new scala.util.Random(cfg.seed * 31 + k).shuffle(reqs.indices.toVector)
        var i = 0
        while (System.nanoTime() < deadline) {
          attempted.incrementAndGet()
          val r = reqs(order(i % order.length))
          issue(conns(k), r, opIds.incrementAndGet()).foreach(ms => readMs(k) += r.kind -> ms)
          i += 1
        }
      }
    } :+ client("writer") {
      go.await()
      val t0 = System.nanoTime()
      val wrng = new scala.util.Random(cfg.seed * 131)
      (0 until commits).foreach { i =>
        val due = t0 + (cfg.seconds * 1e9 * i / commits).toLong
        while (System.nanoTime() < due) Thread.sleep(1)
        attempted.incrementAndGet()
        val op = opIds.incrementAndGet()
        val before = if (Trace.on) du(mount) else 0L
        val n0 = System.nanoTime(); val u0 = Trace.nowUs()
        val id = try {
          if (i == commits / 2) {
            // identical content on the current version must keep its id
            val (cur, files) = journal.latest
            val id = commit(store, journal, "data/metrics.csv", files("data/metrics.csv"),
              userBytes)
            if (id != cur) problems.add(s"identical re-commit moved $cur to $id")
            id
          } else edit(store, journal, wrng, userBytes, i + 1)
        } catch { case NonFatal(e) => errors.add(s"commit: $e"); null }
        val ms = (System.nanoTime() - n0) / 1e6
        if (id == null) failed.incrementAndGet()
        else {
          writeMs.add(ms)
          if (Trace.on) Trace.add(Span(Trace.nextId(), 0L, op, "core", "commit", u0, u0 + (ms * 1000).toLong,
            Map("bytes_written" -> (du(mount) - before).toDouble)))
        }
      }
    }
    threads.foreach(_.start())
    val tStart = System.nanoTime()
    go.countDown()
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - tStart) / 1e9
    val tEndUs = Trace.nowUs()
    val cpuMs = Proc.cpuMs() - cpu0
    val jitMs = Proc.jitMs() - jit0
    val failedTimed = failed.get - failedWarm

    // after the timed phase: every journal version still reads back as
    // committed, and latest is the last commit
    val c0 = conns(0)
    journal.versions.foreach { case (id, files) =>
      val p = files.keys.toSeq.sorted.head
      if (issue(c0, Req("file", url("journal", id, p), fileCheck(files(p)), (_, _) => ()), 0L).isEmpty)
        problems.add(s"journal version $id did not read back")
    }
    if (store.resolve("journal", "latest") != Right(journal.latest._1))
      problems.add("journal latest is not the last commit")
    conns.foreach(_.close())
    server.stop()

    val byKind = readMs.flatMap(_.result()).toSeq
    val reads = byKind.map(_._2)
    val writes = writeMs.asScala.map(_.doubleValue).toSeq
    val done = reads.length + writes.length
    val storeRatio = du(mount).toDouble / userBytes.get
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> done / wallS,
      "latency_p50_ms" -> Stats.mixMedian(byKind),
      "latency_p90_ms" -> Stats.quantile(reads, 0.9),
      "cpu_ms_per_op" -> cpuMs / math.max(1, done),
      "jvm.jit_ms_per_op" -> jitMs / math.max(1, done),
      "latency_p99_ms" -> Stats.quantile(reads, 0.99),
      "write_p50_ms" -> Stats.median(writes),
      "store_bytes_per_user_byte" -> storeRatio)
    val layer =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        val spans = Trace.all.filter(s => s.startUs >= tStartUs && s.startUs <= tEndUs)
        def mean(name: String) = Layers.meanMs(spans, "core", name, tStartUs, tEndUs)
        val core = spans.filter(s => s.layer == "core" && s.name != "commit" &&
          !s.name.startsWith("resolve")).groupMapReduce(_.op)(_.durMs)(_ + _)
        val overhead = spans.filter(_.layer == "web").map(w => w.durMs - core.getOrElse(w.op, 0.0))
        val commitSpans = spans.filter(s => s.layer == "core" && s.name == "commit")
        Map(
          "core.query_ms.file" -> mean("query.file"),
          "core.query_ms.dir" -> mean("query.dir"),
          "core.resolve_ms.ref" -> mean("resolve.ref"),
          "core.resolve_ms.prefix" -> mean("resolve.prefix"),
          "core.render_ms.html" -> mean("render.html"),
          "core.render_ms.listing" -> mean("render.listing"),
          "core.render_ms.chart" -> mean("render.chart"),
          "core.render_ms.pdf" -> mean("render.pdf"),
          "core.commit_ms" -> Stats.mean(commitSpans.map(_.durMs)),
          "core.commit_bytes_written" ->
            Stats.mean(commitSpans.map(_.attrs.getOrElse("bytes_written", 0.0))),
          "web.overhead_ms" -> Stats.mean(overhead),
          "jvm.gc_ms_per_op" -> Layers.gcMs(Trace.all, tStartUs, tEndUs) / math.max(1, done))
      }
    val probs = problems.asScala.toSeq
    Result(correct = probs.isEmpty, attempted = attempted.get,
      failed = failedTimed,
      metrics = e2e ++ layer,
      notes = Seq(f"readers=$readers reads=${reads.length} writes=${writes.length} " +
        f"jit_ms=$jitMs%.0f " +
        f"wall_s=$wallS%.2f versions site=${site.versions.length} " +
        f"journal=${journal.versions.length} warm_problems=$warmProblems") ++
        errors.asScala.take(10) ++ probs.take(20))
  }
}
