package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.Workspace.SnapshotStore

/** `versioned_sql`: one client runs SQL through `WorkspaceCatalog` over a
  * store generated from the seed. Rounds alternate time-travel aggregates
  * (`VERSION AS OF` a tag or an id prefix) with INSERT, UPDATE and MERGE,
  * each of which commits a new copy-on-write version.
  *
  * The benchmark keeps its own model of the table's rows at every
  * version; each aggregate must equal the count and sum computed from
  * that model, and after the timed phase every version is read again and
  * must still give its original answer. */
object VersionedSql {

  private val Table = "ws.shop.`sales.csv`"

  def run(cfg: Config): Result = {
    // one slot: a workspace table is one CSV file, so one partition, and
    // more slots only add tasks (local[1] gave more statements per second
    // than local[4] in each of four back-to-back pairs)
    val spark = SparkSupport.session(cfg.runDir, 1)
    if (cfg.trace) { SparkSupport.traceSpark(spark); Trace.watchGc() }
    val rng = new scala.util.Random(cfg.seed)
    val mount = cfg.runDir.resolve("store")
    Files.createDirectories(mount)
    val store = new SnapshotStore(mount)
    spark.conf.set("spark.sql.catalog.ws", classOf[graft.sources.WorkspaceCatalog].getName)
    spark.conf.set("spark.sql.catalog.ws.root", mount.toString)

    // the table, its neighbours in the tree, and three tagged versions
    var rows: Map[Long, Long] = (0L until 3000L).map(k => k -> rng.nextInt(1000).toLong).toMap
    var nextKey = 3000L
    var userBytes = 0L
    def csv(r: Map[Long, Long]) =
      r.toSeq.sortBy(_._1).map { case (k, v) => s"$k,$v" }.mkString("k,v\n", "\n", "\n")
    var latest = "none"
    def commitFile(path: String, contents: String): String = {
      latest = store.commitFile("shop", latest, path, contents)
      userBytes += contents.getBytes("UTF-8").length
      latest
    }
    (0 until 6).foreach { i =>
      commitFile(s"docs/part-$i/notes.txt", ("lorem ipsum " * (200 + 50 * i)) + "\n")
    }
    val answers = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def record(id: String): Unit = answers(id) = (rows.size.toLong, rows.values.sum)
    val tags = (1 to 3).map { t =>
      rows = rows.map { case (k, v) => k -> (if (k % 7 == t) v + t else v) }
      record(commitFile("sales.csv", csv(rows)))
      s"t$t" -> latest
    }
    Files.writeString(mount.resolve("shop").resolve("refs"),
      (store.refs("shop").toSeq ++ tags).sortBy(_._1)
        .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))

    def prefix(id: String): String = {
      val ids = store.versionIds("shop")
      (8 to id.length).map(id.take).find(p => ids.count(_.startsWith(p)) == 1).get
    }

    val problems = Seq.newBuilder[String]
    val errors = Seq.newBuilder[String]
    var failed = 0
    var nextOp = 0L

    /** Time one statement as an operation; None if it threw. A timed
      * statement that throws is a failed operation; an untimed one (warm
      * rounds, the read-back after the timed phase) makes the run wrong. */
    def op[T](name: String, timed: Boolean)(body: (Long, Long) => T): Option[(T, Double)] = {
      nextOp += 1
      val id = nextOp
      val root = Trace.nextId()
      val t0 = Trace.nowUs(); val n0 = System.nanoTime()
      val r = try Some(SparkSupport.asOp(spark, id, name)(body(id, root))) catch {
        case NonFatal(e) =>
          val msg = s"$name failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
          if (timed) errors += msg else problems += s"untimed $msg"
          None
      }
      val ms = (System.nanoTime() - n0) / 1e6
      Trace.add(Span(root, 0L, id, "bench", name, t0, Trace.nowUs(),
        Map("timed" -> (if (timed) 1.0 else 0.0))))
      r.map(_ -> ms)
    }

    def read(version: String, timed: Boolean): Option[Double] = {
      val id = tags.toMap.getOrElse(version, answers.keys.find(_.startsWith(version)).get)
      op("read", timed) { (o, parent) =>
        val df = Trace.span("sources", "analyze", o, parent)(spark.sql(
          s"SELECT count(*) AS n, sum(CAST(v AS BIGINT)) AS s FROM $Table VERSION AS OF '$version'"))
        Trace.span("sources", "read", o, parent)(df.collect()).head
      }.map { case (row, ms) =>
        val got = (row.getLong(0), row.getLong(1))
        if (got != answers(id)) problems += s"VERSION AS OF '$version' gave $got, committed ${answers(id)}"
        ms
      }
    }

    def write(kind: String, timed: Boolean): Option[Double] = {
      val (sql, after) = kind match {
        case "insert" =>
          val add = (0 until 5).map(i => (nextKey + i) -> rng.nextInt(1000).toLong)
          nextKey += 5
          (s"INSERT INTO $Table VALUES " + add.map { case (k, v) => s"('$k', '$v')" }.mkString(", "),
            rows ++ add)
        case "update" =>
          val (m, d) = (97 + rng.nextInt(5), 1 + rng.nextInt(9))
          (s"UPDATE $Table SET v = CAST(CAST(v AS BIGINT) + $d AS STRING) " +
            s"WHERE CAST(k AS BIGINT) % $m = 0",
            rows.map { case (k, v) => k -> (if (k % m == 0) v + d else v) })
        case "merge" =>
          val src = (0 until 10).map { i =>
            (if (i % 2 == 0) rng.nextInt(nextKey.toInt).toLong else { nextKey += 1; nextKey - 1 }) ->
              rng.nextInt(1000).toLong
          }.toMap
          (s"MERGE INTO $Table t USING (SELECT * FROM VALUES " +
            src.map { case (k, v) => s"('$k', '$v')" }.mkString(", ") +
            " AS src(k, v)) s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v " +
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
            rows ++ src)
      }
      op(kind, timed)((o, parent) =>
        Trace.span("sources", "write", o, parent)(spark.sql(sql))).map { case (_, ms) =>
        rows = after
        val id = store.resolve("shop", "latest").toOption.get
        userBytes += Files.size(store.snapshotDir("shop", id).resolve("sales.csv"))
        record(id)
        ms
      }
    }

    val readBack = Vector.newBuilder[String]
    def target(i: Int): String =
      if (i % 2 == 0) tags(rng.nextInt(tags.length))._1
      else {
        val id = answers.keys.toSeq(rng.nextInt(answers.size))
        readBack += id
        prefix(id)
      }

    val reads = Vector.newBuilder[Double]
    val writes = Vector.newBuilder[Double]
    var attempted = 0
    def round(timed: Boolean): Unit =
      Seq("insert", "update", "merge").zipWithIndex.foreach { case (w, i) =>
        Seq[() => Option[Double]](() => read(target(i), timed), () => write(w, timed))
          .zip(Seq(reads, writes)).foreach { case (f, sink) =>
            if (timed) attempted += 1
            f() match {
              case Some(ms) => if (timed) sink += ms
              case None     => if (timed) failed += 1
            }
          }
      }
    (1 to 6).foreach(_ => round(timed = false))

    val setupS = Proc.sinceStartMs() / 1000.0
    val cpu0 = Proc.cpuMs(); val jit0 = Proc.jitMs()
    val tStartUs = Trace.nowUs(); val tStart = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - tStart) / 1e9 < cfg.seconds) {
      round(timed = true)
      rounds += 1
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    val tEndUs = Trace.nowUs()
    val cpuMs = Proc.cpuMs() - cpu0
    val jitMs = Proc.jitMs() - jit0

    // the tags and the versions read in the timed phase still give their
    // original answers after the later writes
    tags.foreach { case (t, _) => read(t, timed = false) }
    readBack.result().distinct.foreach(id => read(prefix(id), timed = false))

    val r = reads.result(); val w = writes.result()
    val done = r.length + w.length
    val storeBytes = {
      val st = Files.walk(mount)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> done / wallS,
      "latency_p50_ms" -> Stats.median(r),
      "latency_p90_ms" -> Stats.quantile(r, 0.9),
      "cpu_ms_per_op" -> cpuMs / math.max(1, done),
      "jvm.jit_ms_per_op" -> jitMs / math.max(1, done),
      "write_p50_ms" -> Stats.median(w),
      "store_bytes_per_user_byte" -> storeBytes.toDouble / userBytes)
    val layer =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        val spans = Trace.all
        def mean(name: String) = Layers.meanMs(spans, "sources", name, tStartUs, tEndUs)
        Layers.sparkSide(spans, tStartUs, tEndUs, SparkSupport.slots(spark)) ++ Map(
          "sources.analyze_ms" -> mean("analyze"),
          "sources.read_ms" -> mean("read"),
          "sources.write_ms" -> mean("write"),
          "jvm.gc_ms_per_op" -> Layers.gcMs(spans, tStartUs, tEndUs) / math.max(1, done))
      }
    val probs = problems.result()
    Result(correct = probs.isEmpty, attempted = attempted, failed = failed,
      metrics = e2e ++ layer,
      notes = Seq(f"rounds=$rounds reads=${r.length} writes=${w.length} wall_s=$wallS%.2f " +
        f"versions=${answers.size} jit_ms=$jitMs%.0f") ++ errors.result().take(10) ++ probs.take(20))
  }
}
