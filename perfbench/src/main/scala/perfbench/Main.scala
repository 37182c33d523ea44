package perfbench

import java.nio.file.{Path, Paths}

final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: Path, dataDir: String)

/** What one workload run hands back to run.py. `correct` covers the
  * checks made inside the JVM; the DuckDB comparison of the Spark mix
  * is made by run.py over `checkDir`. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Map[String, Double], notes: Seq[String],
                        checkDir: Option[String] = None)

/** Measured JVM of the benchmark, started by run.py:
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir> <data dir>
  * }}}
  *
  * Prints one line `PERFBENCH {json}` with the result; with tracing on it
  * also writes the spans to `<run dir>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir, dataDir) = args
    val cfg = Config(workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(runDir).toAbsolutePath, dataDir)
    Trace.on = cfg.trace
    val r = try workload match {
      case "served_graph"   => SparkMix.run(cfg)
      case "workspace_http" => WorkspaceHttp.run(cfg)
      case "versioned_sql"  => VersionedSql.run(cfg)
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    } catch {
      case e: Throwable =>
        // a run that cannot finish reports nothing; Spark's non-daemon
        // threads must not keep the JVM alive after it
        e.printStackTrace()
        sys.exit(1)
    }
    if (cfg.trace) Trace.write(cfg.runDir.resolve("spans.jsonl"))
    val metrics = r.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    println("PERFBENCH {" +
      s""""correct":${r.correct},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":{$metrics},""" +
      s""""notes":${r.notes.map(Json.str).mkString("[", ",", "]")},""" +
      s""""check_dir":${r.checkDir.map(Json.str).getOrElse("null")}}""")
    System.out.flush()
    // non-daemon threads of Spark or the HTTP server must not hold the exit
    sys.exit(0)
  }
}
