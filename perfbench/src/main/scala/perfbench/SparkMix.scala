package perfbench

import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** `served_graph`: one client repeats a fixed mix of graph and ANN
  * queries from `SparkEntry.queries` that read session artifacts, over the
  * generated corpus.
  *
  * Set-up runs every query of the mix once cold, in a fixed order that
  * puts the first consumer of each session artifact first, so every
  * artifact is built during set-up. A checking pass then runs each query
  * again and writes its output as Parquet for the DuckDB comparison that
  * run.py makes after the JVM exits; it is also the warm pass (a further
  * untimed round before timing left `ops_per_s` unchanged). The timed
  * phase then runs whole rounds of the mix, in one order rotated by the
  * seed, until `seconds` have passed. Outside the checking pass each query
  * is materialized with a `noop` write, as `graft.Bench` does, and the
  * pins it took are released after it. */
object SparkMix {

  /** The mix in set-up order, each query with the session artifacts its
    * cold run builds (empty when it only reads artifacts built before
    * it). `q_hits` builds none but pins its per-round frames. */
  val servedGraph: Seq[(String, String)] = Seq(
    "q_degree_dist" -> "trade_edges",
    "q_assortativity" -> "trade_adj",
    "q_effective_diameter" -> "multi_root_bfs",
    "q_adamic_adar" -> "co_edges_wedges",
    "q_triangle_count" -> "co_triangles",
    "q_sim_ivf" -> "ivf",
    "q_hits" -> "")

  val mix: Seq[String] = servedGraph.map(_._1)

  def run(cfg: Config): Result = {
    val spark = SparkSupport.session(cfg.runDir, Runtime.getRuntime.availableProcessors)
    if (cfg.trace) { SparkSupport.traceSpark(spark); Trace.watchGc() }
    val queries = graft.SparkEntry.queries
    val checkDir = cfg.runDir.resolve("check")
    Files.createDirectories(checkDir)
    OracleDump.write(checkDir.resolve("oracle_sql.json"))

    var nextOp = 0L
    var failed = 0
    val notes = Seq.newBuilder[String]
    val problems = Seq.newBuilder[String]  // untimed runs that threw

    /** One operation: build the query's DataFrame, materialize it, release
      * its pins. Returns the wall time in ms, or None if it threw. */
    def runQuery(name: String, timed: Boolean,
                 sink: DataFrame => Unit): Option[Double] = {
      nextOp += 1
      val op = nextOp
      val root = Trace.nextId()
      val t0 = Trace.nowUs()
      val n0 = System.nanoTime()
      val ok = try {
        SparkSupport.asOp(spark, op, name) {
          val df = Trace.span("operators", name, op, root)(queries(name)(spark, cfg.dataDir))
          if (Trace.on) SparkSupport.phases(df.queryExecution, op)
          sink(df)
        }
        true
      } catch {
        case NonFatal(e) =>
          val msg = s"$name failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
          if (timed) notes += msg else problems += s"untimed $msg"
          false
      } finally {
        Trace.spanWith("engine", "pins.release", op, root)(
          graft.engine.Pins.releaseAll())(n => Map("pins" -> n.toDouble))
      }
      val ms = (System.nanoTime() - n0) / 1e6
      Trace.add(Span(root, 0L, op, "bench", name, t0, Trace.nowUs(),
        Map("timed" -> (if (timed) 1.0 else 0.0))))
      if (ok) Some(ms) else None
    }

    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    // set-up: the cold pass builds the artifacts, then the checking pass
    val coldMs = servedGraph.map { case (n, family) =>
      val t0 = Trace.nowUs()
      val ms = runQuery(n, timed = false, noop)
      if (family.nonEmpty)
        Trace.add(Span(Trace.nextId(), 0L, nextOp, "engine", s"artifact.$family", t0, Trace.nowUs()))
      n -> ms
    }.toMap
    mix.foreach(n =>
      runQuery(n, timed = false, _.write.mode("overwrite").parquet(checkDir.resolve(n).toString)))
    val sc = spark.sparkContext
    val cachedRdds = sc.getPersistentRDDs.size
    val artifactMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    // every round runs the mix in one order, rotated by the seed: with a
    // new order per round, single JVMs ran their rounds up to 15% faster
    // or slower than the others
    val (head, tail) = mix.splitAt(Math.floorMod(cfg.seed, mix.length.toLong).toInt)
    val order = tail ++ head

    // timed phase: whole rounds
    val setupS = Proc.sinceStartMs() / 1000.0
    val lat = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val all = Vector.newBuilder[Double]
    var attempted = 0
    val cpu0 = Proc.cpuMs(); val gc0 = Proc.gcMs(); val jit0 = Proc.jitMs()
    val tStart = System.nanoTime(); val tStartUs = Trace.nowUs()
    var rounds = 0
    val roundS = Vector.newBuilder[Double]
    while (rounds == 0 || (System.nanoTime() - tStart) / 1e9 < cfg.seconds) {
      val r0 = System.nanoTime()
      order.foreach { n =>
        attempted += 1
        runQuery(n, timed = true, noop) match {
          case Some(ms) => lat(n) = lat(n) :+ ms; all += ms
          case None     => failed += 1
        }
      }
      rounds += 1
      roundS += (System.nanoTime() - r0) / 1e9
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    val tEndUs = Trace.nowUs()
    val cpuMs = Proc.cpuMs() - cpu0
    val jitMs = Proc.jitMs() - jit0
    val lats = all.result()
    val done = lats.length

    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> done / wallS,
      "latency_p50_ms" -> Stats.mixMedian(lat.toSeq.flatMap { case (n, v) => v.map(n -> _) }),
      "latency_p90_ms" -> Stats.quantile(lats, 0.9),
      "cpu_ms_per_op" -> cpuMs / math.max(1, done),
      "jvm.jit_ms_per_op" -> jitMs / math.max(1, done))
    val layer =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        // an artifact's build time: its first consumer's cold run less
        // that consumer's own warm median, both materialized by `noop`
        val builds = servedGraph.collect { case (q, fam) if fam.nonEmpty =>
          s"engine.artifact_build_s.$fam" ->
            math.max(0.0, coldMs(q).getOrElse(0.0) - Stats.median(lat(q))) / 1000.0
        }
        Layers.sparkSide(Trace.all, tStartUs, tEndUs, SparkSupport.slots(spark)) ++
          builds ++ Map(
            "engine.cached_rdds" -> cachedRdds.toDouble,
            "artifact_mb" -> artifactMb,
            "jvm.gc_ms_per_op" -> Layers.gcMs(Trace.all, tStartUs, tEndUs) / math.max(1, done))
      }
    notes += f"rounds=$rounds ops=$done wall_s=$wallS%.2f gc_ms=${Proc.gcMs() - gc0}%.0f " +
      f"jit_ms=$jitMs%.0f " +
      roundS.result().map(x => f"$x%.2f").mkString("round_s=", ",", "")
    lat.toSeq.sortBy(_._1).foreach { case (n, v) =>
      notes += f"$n p50_ms=${Stats.median(v)}%.1f cold_ms=${coldMs(n).getOrElse(-1.0)}%.0f"
    }
    val probs = problems.result()
    Result(correct = probs.isEmpty, attempted = attempted, failed = failed,
      metrics = e2e ++ layer, notes = notes.result() ++ probs,
      checkDir = Some(checkDir.toString))
  }
}

/** Writes the DuckDB twin (`SparkEntry.oracleSql`) of every query of the
  * mix as one JSON object; used by expected.py.
  * {{{ perfbench.OracleDump <out.json> }}} */
object OracleDump {
  def write(out: java.nio.file.Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out, SparkMix.mix
      .map(n => s"${Json.str(n)}:${Json.str(oracle.getOrElse(n, ""))}")
      .mkString("{", ",\n", "}"))
  }

  def main(args: Array[String]): Unit =
    write(java.nio.file.Paths.get(args(0)))
}
