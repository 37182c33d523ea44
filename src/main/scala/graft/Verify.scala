package graft
import graft.engine.Harness
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // One hung query must not stall the whole correctness dump: the guard
    // runs each query under a hard timeout; the query is reported failed
    // and the dump continues.
    val guard = new Harness.Guard(spark, Harness.queryTimeout(600))
    def deleteRecursively(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRecursively)
      f.delete(); ()
    }
    // Failure manifest: a query that throws or times out loses its output
    // dir and silently drops out of the driver's CORRECTNESS artifact — a
    // shrinking query set would read as all-green. Record every failure
    // here and persist VERIFY_FAILURES.json (empty object on a healthy
    // run) so regressions are always visible.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // Dev-loop filter: SPARK_GRAFT_QUERIES=q_a,q_b runs (and declares
    // oracles for) just those queries, so tools/check_oracle.py can gate a
    // subset without flagging the rest as missing.
    val selected = Harness.selected(SparkEntry.queries)
    selected.foreach { case (name, fn) =>
      // Delete the previous run's output FIRST: mode("overwrite") only
      // clears it once the write job starts, so a query that fails in
      // planning would leave stale rows for the checker to hash as a
      // phantom PASS.
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      // The run writes to a hidden in-flight dir and publishes (renames)
      // into place under a lock, only if the main loop hasn't already
      // reported the query failed. Without this, a thread parked in a
      // non-interruptible Spark call could finish its write AFTER the
      // failure branch deleted the output dir, re-creating output for a
      // query reported failed — the checker would hash a late result as
      // a phantom pass.
      val inflight = s"$outDir/.inflight_$name"
      deleteRecursively(new java.io.File(inflight))
      val abandoned = new java.util.concurrent.atomic.AtomicBoolean(false)
      guard.run(name) {
        // Canonicalize signed zero at the gate: DuckDB's round() can
        // emit -0.0 where Spark emits +0.0 (equal values, different
        // hashes) — collapse to unsigned so the class can't recur.
        graft.engine.Canon.normalizeNegZero(fn(spark, sfDir))
          .coalesce(1).write.mode("overwrite")
          .parquet(inflight)
        abandoned.synchronized {
          if (abandoned.get) deleteRecursively(new java.io.File(inflight))
          else Files.move(Paths.get(inflight), Paths.get(s"$outDir/$name"))
        }
      } match {
        case Right(_) => ()
        case Left(cause) =>
          // Mark abandoned under the publish lock, so a write that
          // completes from here on discards itself; then delete whatever
          // published before the mark: reported-failed must mean no
          // output dir.
          abandoned.synchronized { abandoned.set(true) }
          deleteRecursively(new java.io.File(s"$outDir/$name"))
          deleteRecursively(new java.io.File(inflight))
          val msg = cause match {
            case t: Harness.Timeout => t.getMessage
            case _ => s"${cause.getClass.getSimpleName}: " +
              String.valueOf(cause.getMessage).take(500)
          }
          failures(name) = msg
          System.err.println(s"[verify] $name failed: $msg")
      }
    }
    guard.close()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = Harness.selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFY_FAILURES.json"), failJson)
    // Also drop a copy at the repo root (if we're running from it) so the
    // judge/builder see failures without digging into the verify out dir.
    try Files.writeString(Paths.get("VERIFY_FAILURES.json"), failJson)
    catch { case _: Throwable => () }
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size}/${selected.size} queries FAILED — " +
        "see VERIFY_FAILURES.json")
    spark.stop()
  }
}
