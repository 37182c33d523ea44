package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark session every Spark workload runs on, and the listeners
  * that turn Spark's own events into `spark` and `plans` spans. */
object SparkSupport {

  /** A `local[k]` session (k slots, k shuffle partitions) set up the way
    * the program's `graft.Bench` sets up its own; scratch and warehouse
    * directories stay inside the run directory. */
  def session(runDir: Path, k: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def slots(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Run `body` as operation `op`: its jobs carry the job group `op-<op>`,
    * which is how the listener attributes jobs, stages and tasks. */
  def asOp[T](spark: SparkSession, op: Long, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$op", name, interruptOnCancel = false)
    try body
    finally sc.clearJobGroup()
  }

  /** Register the tracing listeners (traced runs only). */
  def traceSpark(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SpanListener)
    spark.listenerManager.register(new PlanListener)
  }

  private def opOfGroup(g: String): Long =
    if (g != null && g.startsWith("op-")) g.drop(3).toLong else -1L

  /** `spark` layer: one span per job, stage and task, with the task's
    * run time, CPU time, shuffle bytes and spill as attributes. */
  private final class SpanListener extends SparkListener {
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOfGroup(
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      jobStart.put(e.jobId, e.time)
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(s => stageOp.put(s, op))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0: Long = Option(jobStart.remove(e.jobId)).map(_.longValue)
        .getOrElse(e.time)
      val op: Long = Option(jobOp.remove(e.jobId)).map(_.longValue).getOrElse(-1L)
      Trace.add(Span(Trace.nextId(), 0L, op, "spark", "job",
        t0 * 1000L, e.time * 1000L))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val op: Long = Option(stageOp.get(i.stageId)).map(_.longValue).getOrElse(-1L)
      val t1 = i.completionTime.getOrElse(System.currentTimeMillis())
      Trace.add(Span(Trace.nextId(), 0L, op, "spark", "stage",
        i.submissionTime.getOrElse(t1) * 1000L, t1 * 1000L,
        Map("tasks" -> i.numTasks.toDouble)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op: Long = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
      val m = e.taskMetrics
      val attrs =
        if (m == null) Map.empty[String, Double]
        else Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Trace.add(Span(Trace.nextId(), 0L, op, "spark", "task",
        e.taskInfo.launchTime * 1000L, e.taskInfo.finishTime * 1000L, attrs))
    }
  }

  /** `plans` layer: Catalyst's own phase times (analysis, optimization,
    * planning) of every executed query. Delivered asynchronously, so the
    * spans are attributed to an operation by time. */
  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = phases(qe)
  }

  /** Record `qe`'s phase spans (also used for the analysis a query lambda
    * runs eagerly when it builds its DataFrame). */
  def phases(qe: QueryExecution, op: Long = -1L): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      Trace.add(Span(Trace.nextId(), 0L, op, "plans", phase,
        p.startTimeMs * 1000L, p.endTimeMs * 1000L))
    }
}
