package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Layer A — the reference's implemented surface (SURVEY.md §2.1), as a
  * plain-Scala core: named workspaces of files, version-pinned snapshot
  * reads, point lookup returning file contents or a recursive listing, and
  * the reference's four error classes.
  *
  * Mirrored semantics (citations into /root/reference):
  *  - path sanitization drops `.`/`..` components and a leading `/`
  *    (rewrites, never rejects) — src/core.rs:30-46;
  *  - version resolution tries a named ref first, then a unique id-prefix
  *    match — src/http_server.rs:154-165;
  *  - default version "latest", default path "" — src/http_server.rs:105-115;
  *  - File{name, contents} | Directory{name, items} result sum type —
  *    src/core.rs:90-94 (listing includes the root itself, recursively —
  *    src/http_server.rs:255-265; we normalize to workspace-relative paths).
  *
  * Versioning is a content-addressed snapshot store (dir-per-version plus a
  * named-ref map) rather than libgit2 — same observable behavior, zero
  * dependencies, and each version directory is immutable, which is exactly
  * the property Spark needs for deterministic re-reads at scale.
  */
object Workspace {

  final case class WorkspaceName(value: String) extends AnyVal
  final case class WorkspaceVersion(value: String) extends AnyVal

  /** Sanitized workspace-relative path. Mirrors src/core.rs:30-46:
    * silently REWRITES (never rejects) traversal components.
    */
  final case class WorkspacePath private (value: String) extends AnyVal

  object WorkspacePath {
    def apply(raw: String): WorkspacePath = {
      val kept = raw.split('/')
        .filter(c => c.nonEmpty && c != "." && c != "..")
      new WorkspacePath(kept.mkString("/"))
    }
  }

  sealed trait QueryError { def message: String }
  /** Workspace (repo) cannot be opened — src/http_server.rs:145-151. */
  final case class RepoNotFound(name: String) extends QueryError {
    def message = s"Could not open workspace '$name'"
  }
  /** Version resolves to no (or an ambiguous) snapshot — :158-165. */
  final case class VersionNotFound(version: String) extends QueryError {
    def message = s"Could not resolve version '$version'"
  }
  /** Snapshot materialization failure — :173-200. */
  final case class CheckoutFailed(detail: String) extends QueryError {
    def message = s"Could not checkout snapshot: $detail"
  }
  /** Resolved path absent from the snapshot — :240-247. */
  final case class PathNotFound(path: String) extends QueryError {
    def message = s"Path '$path' does not exist in this version"
  }

  sealed trait QueryResult { def name: String }
  final case class FileResult(name: String, contents: String)
    extends QueryResult
  final case class DirectoryResult(name: String, items: Seq[String])
    extends QueryResult

  final case class WorkspaceQuery(name: WorkspaceName, path: WorkspacePath,
                                  version: WorkspaceVersion)

  /** Content-addressed snapshot store rooted at `mount`:
    * mount/<workspace>/objects/<versionId>/... (immutable snapshot dirs)
    * mount/<workspace>/refs                  (lines "name<TAB>versionId")
    */
  final class SnapshotStore(mount: Path) {

    /** Store root — the `spark.sql.catalog.<name>.root` value that lets
      * the SQL catalog (WorkspaceCatalog) mount this same store. */
    def mountPath: Path = mount

    private def wsRoot(name: String): Path = mount.resolve(name)

    def refs(name: String): Map[String, String] = {
      val f = wsRoot(name).resolve("refs")
      if (!Files.exists(f)) Map.empty
      else Files.readAllLines(f).asScala
        .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
    }

    def versionIds(name: String): Seq[String] = {
      val objs = wsRoot(name).resolve("objects")
      if (!Files.isDirectory(objs)) Seq.empty
      else {
        // Files.list holds an open directory fd until closed — the HTTP
        // frontend calls this per request, so a leak exhausts the limit
        val st = Files.list(objs)
        try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
        finally st.close()
      }
    }

    /** Named ref first, then exact id, then unique id-prefix —
      * src/http_server.rs:154-165. Exact match takes precedence so an id
      * that is a proper prefix of another stored id is still resolvable
      * (git avoids the case only because OIDs are fixed-length; this
      * store allows arbitrary-length ids). */
    def resolve(name: String, version: String): Either[QueryError, String] =
      refs(name).get(version) match {
        case Some(id) => Right(id)
        case None =>
          val ids = versionIds(name)
          if (version.nonEmpty && ids.contains(version)) Right(version)
          else ids.filter(_.startsWith(version)) match {
            case Seq(one) => Right(one)
            case _        => Left(VersionNotFound(version))
          }
      }

    def snapshotDir(name: String, versionId: String): Path =
      wsRoot(name).resolve("objects").resolve(versionId)

    /** Commit order of the workspace's versions (r16 — the reference's
      * underlying model is a git repo, where commit order is intrinsic;
      * this store records it as an append-only `log` file, one version
      * id per line, written by [[commitFile]]). The change-feed table
      * (`...@changes`) and its micro-batch stream replay versions in
      * exactly this order. A store created before the log existed (or a
      * hand-built fixture without one) falls back to the sorted object
      * listing — deterministic, if not temporal. An idempotent
      * re-commit of identical content appends its id AGAIN: the ref
      * moved twice, which is two change events. */
    def commitLog(name: String): Seq[String] = {
      val f = wsRoot(name).resolve("log")
      if (Files.exists(f))
        Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty)
      else versionIds(name)
    }

    private def appendLog(name: String, id: String): Unit = {
      val f = wsRoot(name).resolve("log")
      // seed pre-log history first so replay order stays consistent
      // with what commitLog already reported for this store
      if (!Files.exists(f)) {
        val prior = versionIds(name).filterNot(_ == id)
        Files.writeString(f, prior.map(_ + "\n").mkString)
      }
      Files.writeString(f, id + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }

    def workspaceExists(name: String): Boolean =
      Files.isDirectory(wsRoot(name))

    /** Write path (r13): commit a new immutable snapshot that is `base`
      * with ONE file replaced, and move `latest` to it — the store-level
      * primitive beneath SQL MERGE/UPDATE/DELETE through the catalog
      * (the reference's declared "versioning control for data
      * transformations", reference/README.md:8, realized as
      * copy-on-write versions, never in-place mutation).
      *
      * The version id is CONTENT-ADDRESSED: a SHA-256 over the sorted
      * (path, bytes) pairs of the whole new tree, truncated to 16 hex
      * chars — identical contents yield the identical id (idempotent
      * re-commits land on the existing dir), and every older version
      * stays readable at its pinned id, exactly the property the DSv2
      * time-travel read relies on. Other named refs are preserved.
      */
    def commitFile(name: String, baseVersionId: String, rawPath: String,
                   contents: String): String = {
      val rel = WorkspacePath(rawPath)
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      commitTree(name, baseVersionId, files =>
        files.filterNot(_._1 == rel.value) :+
          (rel.value -> contents.getBytes(utf8)))
    }

    /** Commit a new version with `rawPath` REMOVED from the tree (the DDL
      * DROP TABLE half, r16). Same content-addressed mechanics as
      * commitFile: prior versions keep the file; only `latest` moves. */
    def removeFile(name: String, baseVersionId: String,
                   rawPath: String): String = {
      val rel = WorkspacePath(rawPath)
      commitTree(name, baseVersionId, _.filterNot(_._1 == rel.value))
    }

    private def commitTree(name: String, baseVersionId: String,
        mutate: Seq[(String, Array[Byte])] => Seq[(String, Array[Byte])])
        : String = {
      val base = snapshotDir(name, baseVersionId)
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val baseFiles: Seq[(String, Array[Byte])] =
        if (!Files.isDirectory(base)) Seq.empty
        else {
          val st = Files.walk(base)
          try st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(p => base.relativize(p).toString -> Files.readAllBytes(p))
            .toSeq
          finally st.close()
        }
      val tree = mutate(baseFiles).sortBy(_._1)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      tree.foreach { case (p, b) =>
        md.update(p.getBytes(utf8)); md.update(0.toByte)
        md.update(b); md.update(0.toByte)
      }
      val id = md.digest().take(8).map(b => f"$b%02x").mkString
      val dir = snapshotDir(name, id)
      if (!Files.isDirectory(dir)) {
        tree.foreach { case (p, b) =>
          val out = dir.resolve(p)
          Files.createDirectories(out.getParent)
          Files.write(out, b)
        }
        // a removal can leave the tree empty — the version dir must
        // still exist for resolve/readback
        Files.createDirectories(dir)
      }
      val newRefs = refs(name) + ("latest" -> id)
      // written aside and renamed over the old file, so a concurrent
      // resolve reads the old refs or the new ones, never a truncated
      // file (a plain write keeps the default file mode, which
      // createTempFile would narrow to owner-only)
      val refsFile = wsRoot(name).resolve("refs")
      val tmp = wsRoot(name).resolve(s"refs.${java.util.UUID.randomUUID}.tmp")
      Files.writeString(tmp,
        newRefs.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
          .mkString("", "\n", "\n"))
      Files.move(tmp, refsFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      appendLog(name, id)
      id
    }

    /** The reference's one end-to-end operator (A1): point lookup of a file
      * or recursive directory listing at (name, version, path).
      * Defaults mirror src/http_server.rs:105-115.
      */
    def query(name: String, version: String = "latest",
              rawPath: String = ""): Either[QueryError, QueryResult] = {
      val path = WorkspacePath(rawPath)
      if (!workspaceExists(name)) Left(RepoNotFound(name))
      else resolve(name, version).flatMap { id =>
        val snap = snapshotDir(name, id)
        if (!Files.isDirectory(snap))
          Left(CheckoutFailed(s"snapshot $id missing"))
        else {
          val target =
            if (path.value.isEmpty) snap else snap.resolve(path.value)
          if (!Files.exists(target)) Left(PathNotFound(path.value))
          else if (Files.isRegularFile(target)) {
            // lossy UTF-8 decode (invalid sequences → U+FFFD) instead of
            // Files.readString, whose strict decoder THROWS on binary
            // content and would escape the Either error contract
            val text = new String(Files.readAllBytes(target),
              java.nio.charset.StandardCharsets.UTF_8)
            Right(FileResult(path.value, text))
          } else {
            // recursive walk, root included (src/http_server.rs:255-265),
            // normalized to workspace-relative sorted paths; stream closed
            // even on a mid-iteration failure
            val st = Files.walk(target)
            val items =
              try st.iterator().asScala
                .map(p => snap.relativize(p).toString).toSeq.sorted
              finally st.close()
            Right(DirectoryResult(path.value, items))
          }
        }
      }
    }
  }

  /** Render layer (A10): the reference's 5 Handlebars templates
    * (src/template.rs:16-22) as plain string templates.
    */
  object Render {
    /** HTML-escape interpolated values — Handlebars (the reference's
      * template engine, src/template.rs) escapes by default, and the
      * error message echoes the user-supplied workspace name, so raw
      * interpolation would be reflected XSS through the HTTP frontend.
      * Entity choice matches handlebars-rust 5.x's `html_escape` exactly
      * (&amp; &lt; &gt; &quot; &#x27; &#x60; &#x3D; — it also escapes
      * backtick and equals, against attribute-injection without quotes)
      * so rendered pages are byte-identical to the reference's. */
    private def esc(s: String): String = {
      val b = new java.lang.StringBuilder(s.length + 16)
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '&' => b.append("&amp;")
          case '<' => b.append("&lt;")
          case '>' => b.append("&gt;")
          case '"' => b.append("&quot;")
          case '\'' => b.append("&#x27;")
          case '`' => b.append("&#x60;")
          case '=' => b.append("&#x3D;")
          case c => b.append(c)
        }
        i += 1
      }
      b.toString
    }
    def page(title: String, body: String): String =
      s"<html><head><title>${esc(title)}</title></head><body>$body</body></html>"
    def error(message: String): String =
      page("Error", s"<p class=\"error\">${esc(message)}</p>")
    def foundFile(name: String, contents: String): String =
      page(name, s"<pre>${esc(contents)}</pre>")
    def foundDirectory(name: String, items: Seq[String]): String =
      page(name,
        items.map(i => s"<li>${esc(i)}</li>").mkString("<ul>", "", "</ul>"))
    def render(r: Either[QueryError, QueryResult]): String = r match {
      case Left(e)                         => error(e.message)
      case Right(FileResult(n, c))         => foundFile(n, c)
      case Right(DirectoryResult(n, it))   => foundDirectory(n, it)
    }

    /** The sixth template — the chart surface the reference DECLARES
      * ("Quickly creating charts and PDFs from CSV files",
      * reference/README.md:5-7) but never implements (no chart crate in
      * its Cargo.lock, no chart code anywhere): a deterministic
      * inline-SVG horizontal bar chart over (label, value) rows. All
      * layout constants are fixed and widths floor to whole pixels, so
      * rendered pages are byte-stable across runs and platforms; labels
      * escape through the same handlebars entity set as every other
      * template. Negative values render as zero-width bars (the value
      * text still shows the number). */
    def barChart(name: String, rows: Seq[(String, Double)]): String = {
      val barH = 18; val gap = 6; val labelW = 160; val chartW = 456
      val maxV = (0.0 +: rows.map(_._2)).max
      val svgH = rows.length * (barH + gap) + gap
      val bars = rows.zipWithIndex.map { case ((label, v), i) =>
        val y = gap + i * (barH + gap)
        val w =
          if (maxV > 0 && v > 0) math.floor(chartW * v / maxV).toInt else 0
        s"""<text x="${labelW - 8}" y="${y + 13}" text-anchor="end">""" +
          esc(label) + "</text>" +
          s"""<rect x="$labelW" y="$y" width="$w" height="$barH"/>""" +
          s"""<text x="${labelW + w + 4}" y="${y + 13}">${num(v)}</text>"""
      }.mkString
      page(name,
        s"""<svg xmlns="http://www.w3.org/2000/svg" width="640" """ +
          s"""height="$svgH" class="bar-chart">$bars</svg>""")
    }

    /** Integers print bare, everything else at two decimals (fixed
      * ROOT locale — a comma decimal separator would vary the page by
      * platform). */
    private def num(v: Double): String =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    /** The first 50 numeric `label,value` rows of a CSV: lines split on
      * '\n' with a trailing '\r' stripped, value = last comma-field
      * trimmed, lines whose value does not parse skipped. Lines are walked
      * lazily and the walk stops at the 50th row, so a page costs the
      * same for a million-line file as for a short one. */
    private def csvRows(csv: String): Seq[(String, Double)] =
      Iterator.unfold(0) { start =>
        if (start > csv.length) None
        else {
          val nl = csv.indexOf('\n', start)
          val end = if (nl < 0) csv.length else nl
          Some((csv.substring(start, end).stripSuffix("\r"), end + 1))
        }
      }.flatMap { line =>
        val cut = line.lastIndexOf(',')
        if (cut < 0) None
        else scala.util.Try(line.substring(cut + 1).trim.toDouble)
          .toOption.map(v => (line.substring(0, cut), v))
      }.take(50).toList

    /** Chart a CSV file's contents: each `label,value` line becomes a
      * bar (value = last comma-field, so labels may contain commas);
      * unparsable lines — headers included — are skipped rather than
      * failing the page, mirroring how the file template shows any
      * bytes it is handed. Bounded at 50 bars so a million-line CSV
      * renders a bounded page. A CSV with no numeric rows is an error
      * page (same channel as the four query errors). */
    def chartFromCsv(name: String, csv: String): String = {
      val rows = csvRows(csv)
      if (rows.isEmpty) error(s"No chartable rows in '$name'")
      else barChart(name, rows)
    }

    /** The seventh template — the PDF surface the reference DECLARES
      * alongside charts ("Quickly creating charts and PDFs from CSV
      * files", reference/README.md:5-7) and likewise never implements
      * (no PDF crate in its Cargo.lock): a minimal self-contained
      * PDF 1.4 document listing the CSV's (label, value) rows as a
      * Helvetica text table. Every byte is deterministic — fixed object
      * layout, computed xref offsets, ROOT-locale numbers — so the same
      * CSV always yields the identical file. Rows parse exactly like
      * chartFromCsv (value = last comma-field, unparsable lines
      * skipped, bounded at 50); a CSV with no numeric rows yields the
      * standard HTML error page instead (same channel as the chart
      * route). Strings escape the PDF delimiters and fold non-ASCII to
      * '?' (the base-14 Helvetica has no reliable encoding for them
      * without embedding a font program).
      */
    def pdfFromCsv(name: String, csv: String): Option[Array[Byte]] = {
      val rows = csvRows(csv)
      if (rows.isEmpty) None else Some(pdfTable(name, rows))
    }

    private def pdfEsc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '(' => "\\("
      case ')' => "\\)"
      case c if c >= 0x20 && c < 0x7f => c.toString
      case _ => "?"
    }

    private def pdfTable(name: String,
                         rows: Seq[(String, Double)]): Array[Byte] = {
      val lines =
        s"BT /F1 14 Tf 72 720 Td (${pdfEsc(name)}) Tj ET" +:
          rows.zipWithIndex.map { case ((label, v), i) =>
            // 13 pt pitch: the 50th row sits at y = 57, inside the page
            val y = 694 - i * 13
            s"BT /F1 10 Tf 72 $y Td (${pdfEsc(label)}) Tj ET " +
              s"BT /F1 10 Tf 420 $y Td (${pdfEsc(num(v))}) Tj ET"
          }
      val content = lines.mkString("\n")
      val objs = Seq(
        "<< /Type /Catalog /Pages 2 0 R >>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
      val sb = new StringBuilder("%PDF-1.4\n")
      val offsets = objs.zipWithIndex.map { case (body, i) =>
        val off = sb.length
        sb.append(s"${i + 1} 0 obj\n$body\nendobj\n")
        off
      }
      val xrefOff = sb.length
      sb.append(s"xref\n0 ${objs.length + 1}\n")
      sb.append("0000000000 65535 f \n")
      offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
      sb.append(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\n")
      sb.append(s"startxref\n$xrefOff\n%%EOF\n")
      // ASCII-only by construction (pdfEsc folds non-ASCII), so
      // String#length == byte offset and ISO-8859-1 is an identity
      sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }
}
