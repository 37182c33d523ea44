package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.engine.Harness

/** Dev main: times or plans named corpus queries on the harness session,
  * each one a guarded run (timeout, conf restore, pin release) like Bench
  * and Verify. Queries come from the arguments, else SPARK_GRAFT_QUERIES,
  * else the whole corpus; the data is the corpus directory named by
  * SPARK_GRAFT_SF_DIR (required).
  *
  *   sbt "runMain graft.Dev time [-reps n] q_hits q_pagerank"
  *     noop-write each query n times (default 2: cold, then warm) and
  *     print wall time, job/stage/task counts and one line per completed
  *     stage (wall, task run and CPU seconds); streaming rows also print
  *     each micro-batch's progress JSON.
  *   sbt "runMain graft.Dev plan [-out dir -tag t] q_hits"
  *     print each query's executed plan, or with -out write its formatted
  *     explain to dir/<query>_<t>.txt (t defaults to "before").
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (mode != "time" && mode != "plan") {
      System.err.println(
        "usage: graft.Dev time [-reps n] | plan [-out dir -tag t]  [query ...]")
      sys.exit(2)
    }
    @annotation.tailrec
    def parse(rest: List[String], flags: Map[String, String],
              names: Vector[String]): (Map[String, String], Vector[String]) =
      rest match {
        case f :: v :: tail if f.startsWith("-") => parse(tail, flags + (f -> v), names)
        case n :: tail => parse(tail, flags, names :+ n)
        case Nil       => (flags, names)
      }
    val (flags, names) = parse(args.toList.drop(1), Map.empty, Vector.empty)
    val all = SparkEntry.queries
    val picked =
      if (names.nonEmpty) names else Harness.selected(all).keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the corpus directory"))
    val spark = Harness.session()
    val guard = new Harness.Guard(spark, Harness.queryTimeout(600))
    if (mode == "time") {
      val jobs = new AtomicLong
      val tasks = new AtomicLong
      val stages = new ConcurrentLinkedQueue[String]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val i = e.stageInfo
          val m = i.taskMetrics
          val wall = (i.completionTime.getOrElse(0L) -
            i.submissionTime.getOrElse(0L)) / 1e3
          tasks.addAndGet(i.numTasks)
          stages.add(f"    stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"wall=$wall%6.2f run=${m.executorRunTime / 1e3}%6.2f " +
            f"cpu=${m.executorCpuTime / 1e9}%6.2f  ${i.name.takeWhile(_ != '(')}")
        }
      })
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          println(s"    batch ${e.progress.json}")
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      val reps = flags.get("-reps").fold(2)(_.toInt)
      for (q <- picked; rep <- 1 to reps) {
        jobs.set(0); tasks.set(0); stages.clear()
        val t0 = System.nanoTime()
        val r = guard.run(q)(Harness.noopWrite(all(q)(spark, sfDir)))
        val dt = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain so the counts belong to this run
        Thread.sleep(300)
        println(f"$q run$rep: $dt%.2f s  jobs=${jobs.get} " +
          f"stages=${stages.size} tasks=${tasks.get}" +
          r.fold(e => s"  FAILED: $e", _ => ""))
        stages.forEach(l => println(l))
      }
    } else {
      val out = flags.get("-out")
      out.foreach(new java.io.File(_).mkdirs())
      for (q <- picked) {
        val plan = guard.run(q) {
          val qe = all(q)(spark, sfDir).queryExecution
          if (out.isDefined) qe.explainString(FormattedMode)
          else qe.executedPlan.toString
        }.fold(e => s"PLAN FAILED: $e", identity)
        out match {
          case Some(dir) =>
            val f = new java.io.File(dir, s"${q}_${flags.getOrElse("-tag", "before")}.txt")
            java.nio.file.Files.writeString(f.toPath, plan + "\n")
            println(s"wrote $f")
          case None => println(s"\n======== $q ========\n$plan")
        }
      }
    }
    guard.close()
    spark.stop()
  }
}
