package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.Workspace._

/** Layer A semantics (SURVEY.md §2.1): sanitization is a rewrite that can
  * never escape the workspace root, version resolution is named-ref-first
  * then unique-prefix, lookups return the File/Directory sum type, and the
  * four reference error classes are distinguishable.
  */
class WorkspaceSpec extends AnyFunSuite {

  /** Run a scalacheck property under ScalaTest (the scalatestplus bridge
    * isn't in the offline cache; plain scalacheck is).
    */
  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // -- path sanitization (reference src/core.rs:30-46 semantics) -----------

  test("sanitize drops . and .. components and leading slashes") {
    assert(WorkspacePath("/a/b").value == "a/b")
    assert(WorkspacePath("a/./b").value == "a/b")
    assert(WorkspacePath("../../etc/passwd").value == "etc/passwd")
    assert(WorkspacePath("").value == "")
    assert(WorkspacePath("..").value == "")
    assert(WorkspacePath("a//b").value == "a/b")
  }

  private val pathGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf(".", "..", "", "/"),
    Gen.alphaNumStr.suchThat(_.nonEmpty)
  )).map(_.mkString("/"))

  test("property: sanitized paths never traverse upward") {
    checkProp(Prop.forAll(pathGen) { raw =>
      val p = WorkspacePath(raw).value
      !p.startsWith("/") &&
        !p.split('/').contains("..") && !p.split('/').contains(".")
    })
  }

  test("property: sanitization is idempotent") {
    checkProp(Prop.forAll(pathGen) { raw =>
      val once = WorkspacePath(raw).value
      WorkspacePath(once).value == once
    })
  }

  // -- snapshot store: fixture with two versions ---------------------------

  private def mkStore(): (SnapshotStore, Path) = {
    val mount = Files.createTempDirectory("graft-ws")
    val objs = mount.resolve("w/objects")
    Files.createDirectories(objs.resolve("abc123/sub"))
    Files.createDirectories(objs.resolve("def456"))
    Files.writeString(objs.resolve("abc123/t.csv"), "a,b\n1,2\n")
    Files.writeString(objs.resolve("abc123/sub/n.txt"), "nested")
    Files.writeString(objs.resolve("def456/t.csv"), "a,b\n9,9\n")
    Files.writeString(mount.resolve("w/refs"),
      "latest\tdef456\nv1\tabc123\n")
    (new SnapshotStore(mount), mount)
  }

  test("version resolution: named ref beats prefix; unique prefix works") {
    val (st, _) = mkStore()
    assert(st.resolve("w", "latest") == Right("def456"))
    assert(st.resolve("w", "v1") == Right("abc123"))
    assert(st.resolve("w", "abc") == Right("abc123"))
    assert(st.resolve("w", "zzz") == Left(VersionNotFound("zzz")))
    // empty prefix matches both ids -> ambiguous -> error, like git
    assert(st.resolve("w", "") == Left(VersionNotFound("")))
  }

  test("file lookup returns contents at the pinned version") {
    val (st, _) = mkStore()
    assert(st.query("w", "v1", "t.csv") ==
      Right(FileResult("t.csv", "a,b\n1,2\n")))
    assert(st.query("w", "latest", "t.csv") ==
      Right(FileResult("t.csv", "a,b\n9,9\n")))
    // default version is "latest" (src/http_server.rs:105-110)
    assert(st.query("w", rawPath = "t.csv") ==
      Right(FileResult("t.csv", "a,b\n9,9\n")))
  }

  test("directory lookup lists recursively, root included") {
    val (st, _) = mkStore()
    val Right(DirectoryResult(name, items)) = st.query("w", "v1", ""): @unchecked
    assert(name == "")
    assert(items == Seq("", "sub", "sub/n.txt", "t.csv"))
  }

  test("traversal attempts are rewritten, not rejected") {
    val (st, _) = mkStore()
    assert(st.query("w", "v1", "../../t.csv") ==
      Right(FileResult("t.csv", "a,b\n1,2\n")))
  }

  test("all four error classes are reachable and distinct") {
    val (st, _) = mkStore()
    assert(st.query("nope", "latest", "") == Left(RepoNotFound("nope")))
    assert(st.query("w", "v9", "") == Left(VersionNotFound("v9")))
    assert(st.query("w", "v1", "missing.txt") ==
      Left(PathNotFound("missing.txt")))
    // dangling ref -> checkout failure
    val (st2, mount2) = mkStore()
    Files.writeString(mount2.resolve("w/refs"), "latest\tgone999\n")
    assert(st2.query("w", "latest", "") match {
      case Left(CheckoutFailed(_)) => true
      case _ => false
    })
  }

  test("render covers error / file / directory shapes") {
    // Handlebars escapes by default; the apostrophe renders as &#x27;
    // (handlebars-rust html_escape entity — see Render.esc).
    assert(Render.render(Left(RepoNotFound("x")))
      .contains("Could not open workspace &#x27;x&#x27;"))
    assert(Render.render(Right(FileResult("f", "body"))).contains("<pre>body</pre>"))
    assert(Render.render(Right(DirectoryResult("d", Seq("a", "b"))))
      .contains("<li>a</li><li>b</li>"))
  }

  test("bar-chart template: deterministic SVG layout, scaling, escaping") {
    val page = Render.barChart("sales.csv",
      Seq(("alpha", 100.0), ("<b>&beta</b>", 50.0), ("gamma", 0.0)))
    // widths scale off the max value: 456 full, 228 half, 0 at zero
    assert(page.contains("""<rect x="160" y="6" width="456" height="18"/>"""))
    assert(page.contains("""<rect x="160" y="30" width="228" height="18"/>"""))
    assert(page.contains("""<rect x="160" y="54" width="0" height="18"/>"""))
    // labels pass through the same handlebars entity set as every
    // other template
    assert(page.contains("&lt;b&gt;&amp;beta&lt;/b&gt;"))
    assert(!page.contains("<b>&beta</b>"))
    // integer values print bare, fractional at two ROOT-locale decimals
    assert(page.contains(">100</text>"))
    assert(Render.barChart("f", Seq(("x", 1.5))).contains(">1.50</text>"))
    // negative values: zero-width bar, value still shown
    val neg = Render.barChart("f", Seq(("a", 4.0), ("b", -2.0)))
    assert(neg.contains("""<rect x="160" y="30" width="0" height="18"/>"""))
    assert(neg.contains(">-2</text>"))
    // byte-stable: same input, same page
    assert(page == Render.barChart("sales.csv",
      Seq(("alpha", 100.0), ("<b>&beta</b>", 50.0), ("gamma", 0.0))))
  }

  test("chartFromCsv: header skipped, comma labels, CRLF, 50-bar bound, empty error") {
    val p = Render.chartFromCsv("m.csv",
      "metric,count\r\nrows, loaded,120\nerrors,3\n")
    // header line has a non-numeric last field -> skipped, not charted
    assert(!p.contains(">count</text>"))
    // label keeps its embedded comma (value = last comma-field)
    assert(p.contains("rows, loaded</text>"))
    assert(p.contains(">120</text>") && p.contains(">3</text>"))
    // bounded page: 1000 input lines, 50 bars
    val big = (1 to 1000).map(i => s"k$i,$i").mkString("\n")
    val bars = "<rect ".r.findAllIn(Render.chartFromCsv("b", big)).size
    assert(bars == 50)
    // nothing numeric -> the standard error template
    assert(Render.chartFromCsv("x.txt", "just prose\nno numbers")
      .contains("No chartable rows in &#x27;x.txt&#x27;"))
    // the PDF takes exactly the chart's rows, every one on the page
    def pdfRows(csv: String): Seq[(String, String)] = {
      val pdf = new String(Render.pdfFromCsv("p", csv).get,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val Seq(x0, y0, x1, y1) =
        """/MediaBox \[(\d+) (\d+) (\d+) (\d+)\]""".r
          .findFirstMatchIn(pdf).get.subgroups.map(_.toInt)
      val rows = ("""Tf (-?\d+) (-?\d+) Td \((.*?)\) Tj ET """ +
        """BT /F1 10 Tf (-?\d+) (-?\d+) Td \((.*?)\) Tj""").r
        .findAllMatchIn(pdf).toSeq
      rows.foreach { m =>
        Seq(1, 4).foreach { g =>
          val (x, y) = (m.group(g).toInt, m.group(g + 1).toInt)
          assert(x0 <= x && x <= x1 && y0 <= y && y <= y1,
            s"row '${m.group(3)}' at ($x, $y) is off the page")
        }
      }
      rows.map(m => (m.group(3), m.group(6)))
    }
    assert(pdfRows("metric,count\r\nrows, loaded,120\nerrors,3\n") ==
      Seq(("rows, loaded", "120"), ("errors", "3")))
    assert(pdfRows(big) == (1 to 50).map(i => (s"k$i", s"$i")))
    assert(Render.pdfFromCsv("x.txt", "just prose\nno numbers").isEmpty)
  }

  test("escape matches handlebars-rust on all seven entities") {
    // handlebars-rust 5.x html_escape also escapes backtick and equals
    assert(Render.render(Right(FileResult("f", """<a href="x" id='y' data=`z`&>""")))
      .contains("<pre>&lt;a href&#x3D;&quot;x&quot; id&#x3D;&#x27;y&#x27; " +
        "data&#x3D;&#x60;z&#x60;&amp;&gt;</pre>"))
  }

  // ---- SQL catalog (WorkspaceCatalog: native VERSION AS OF) -------------

  private def sqlFixture(): Unit = {
    val spark = SparkFixture.spark
    val store = graft.operators.WorkspaceQueries.fixture()
    spark.conf.set("spark.sql.catalog.ws",
      classOf[graft.sources.WorkspaceCatalog].getName)
    spark.conf.set("spark.sql.catalog.ws.root", store.mountPath.toString)
  }

  test("SQL VERSION AS OF resolves refs and id prefixes like the HTTP route") {
    sqlFixture()
    val spark = SparkFixture.spark
    def ks(sql: String): Seq[String] =
      spark.sql(sql).collect().map(_.getString(0)).sorted.toSeq
    assert(ks("SELECT k FROM ws.demo.`data.csv`") == Seq("1", "2", "3"))
    assert(ks("SELECT k FROM ws.demo.`data.csv` VERSION AS OF 'stable'")
      == Seq("1", "2"))
    assert(ks("SELECT k FROM ws.demo.`data.csv` VERSION AS OF 'bbbb'")
      == Seq("1", "2", "3"))
    assert(ks(
      "SELECT k FROM ws.demo.`data.csv` VERSION AS OF 'aaaa1111c0ffee'")
      == Seq("1", "2"))
  }

  test("SQL catalog: unknown version/workspace/table fail analysis; DDL refused") {
    sqlFixture()
    val spark = SparkFixture.spark
    def fails(sql: String): Unit =
      assertThrows[org.apache.spark.sql.AnalysisException](
        spark.sql(sql).collect())
    fails("SELECT k FROM ws.demo.`data.csv` VERSION AS OF 'zzz'")
    fails("SELECT k FROM ws.nope.`data.csv`")
    fails("SELECT k FROM ws.demo.`missing.txt`")
    // INSERT INTO / CREATE TABLE / DROP TABLE are SUPPORTED since r16
    // (SupportsWrite append + versioned DDL — see Round16Spec); what
    // stays refused is schema/name mutation of an existing table
    // (snapshot versions are the only mutation) and shapes the store
    // cannot represent (non-STRING columns, partitioned tables)
    assertThrows[UnsupportedOperationException](
      spark.sql("ALTER TABLE ws.demo.`data.csv` RENAME TO `other.csv`")
        .collect())
    assertThrows[UnsupportedOperationException](
      spark.sql("CREATE TABLE ws.demo.`typed.csv` (k INT)").collect())
    assertThrows[UnsupportedOperationException](
      spark.sql("CREATE TABLE ws.demo.`part.csv` (k STRING, p STRING) " +
        "PARTITIONED BY (p)").collect())
  }

  test("SQL catalog path goes through WorkspacePath sanitization") {
    sqlFixture()
    val spark = SparkFixture.spark
    // `../docs/./readme.txt` rewrites to docs/readme.txt (A3) — a text
    // file: single column from header line, one data row (version two)
    val rows = spark.sql(
      "SELECT * FROM ws.demo.`../docs/./readme.txt`").collect()
    assert(rows.isEmpty) // header-only: the file has one line, no data rows
    val cols = spark.sql(
      "SELECT * FROM ws.demo.`../docs/./readme.txt`").columns
    assert(cols.toSeq == Seq("version two readme"))
  }
}
