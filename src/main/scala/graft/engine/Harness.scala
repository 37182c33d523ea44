package graft.engine

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a query run is set up and guarded: `Bench`, `Verify`,
  * `Dev` and the test fixture take their session, query selection and
  * guarded runs from here, so no conf or cleanup step can drift between
  * the entry points that measure and the ones that check. */
object Harness {

  /** Local worker slots, and the shuffle-partition count (SPARK_GRAFT_CPUS,
    * default 4). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session every entry point runs on: `local[cpus]`, `cpus` shuffle
    * partitions, UTC, nanosecond Parquet timestamps read as longs
    * (events.parquet needs it), AQE per SPARK_GRAFT_AQE (default on), no
    * UI. Idempotent: a second call returns the same session. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "No Partition Defined for Window operation!" fires once per planned
    // unpartitioned window. The corpus's unpartitioned windows are all
    // bounded and allowlisted by PlanSpec, which checks plan shapes, so the
    // warning only buries the other log lines. Spark logs it under the
    // concrete operator class, not WindowExecBase where the text lives.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** SPARK_GRAFT_QUERIES=q_a,q_b narrows a run to those names; unset keeps
    * every entry. Works on the query and the oracle map alike. */
  def selected[V](byName: Map[String, V]): Map[String, V] =
    sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) => byName.filter(kv => names(kv._1))
      case None        => byName
    }

  /** Per-query timeout in seconds (SPARK_GRAFT_QUERY_TIMEOUT, else the
    * caller's default). */
  def queryTimeout(default: Long): Long =
    sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT").fold(default)(_.toLong)

  /** Materialize `df` the way every timing does: a noop-format write.
    * Catalyst prunes top-level sorts and projects under a count(), so
    * count() under-measures queries whose cost is in the final
    * sort/serialize. */
  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The failure a guarded run returns when it hit its timeout. */
  final class Timeout(seconds: Long)
      extends RuntimeException(s"timeout ${seconds}s")

  /** Guarded runs on one session: each [[run]] executes on a pool thread
    * under its own job group with a hard timeout, so one hung query cannot
    * sink the rest of the run. [[close]] after the last run. */
  final class Guard(spark: SparkSession, timeoutSec: Long) {
    private val pool = Executors.newCachedThreadPool()

    // Session confs that query functions legitimately mutate (StreamRunner
    // pins shuffle partitions for state stores; q_stream_transform swaps
    // the state-store provider). Their `finally` blocks restore them on
    // the normal path, but a timed-out pool thread may stay parked inside
    // a non-interruptible Spark call, so they are re-pinned after every
    // run to keep later runs on the session's own settings.
    private val confBaseline: Seq[(String, Option[String])] =
      Seq("spark.sql.shuffle.partitions",
        "spark.sql.streaming.stateStore.providerClass")
        .map(k => k -> spark.conf.getOption(k))

    /** Run `body` as job group `name`. Returns its value, a [[Timeout]],
      * or the cause it threw.
      *
      * On timeout the group's jobs are cancelled AND every active stream
      * is stopped: streams run their micro-batches on their own thread
      * under their own job group, so cancelJobGroup alone would leave an
      * orphaned stream burning cores under every later run. Either way the
      * guarded confs are restored and every frame the body pinned for its
      * returned plan is released (without that, a long run accumulates
      * each query's MEMORY_AND_DISK blocks in the block manager). */
    def run[T](name: String)(body: => T): Either[Throwable, T] = {
      val sc = spark.sparkContext
      val task = pool.submit(new Callable[T] {
        override def call(): T = {
          sc.setJobGroup(name, name, interruptOnCancel = true)
          try body finally sc.clearJobGroup()
        }
      })
      try Right(task.get(timeoutSec, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(name)
          spark.streams.active.foreach { q =>
            try q.stop() catch { case _: Throwable => () }
          }
          task.cancel(true)
          Left(new Timeout(timeoutSec))
        case e: ExecutionException => Left(Option(e.getCause).getOrElse(e))
        case e: Throwable          => Left(e)
      } finally {
        confBaseline.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
        Pins.releaseAll()
        ()
      }
    }

    /** Stop the pool, then sweep pins once more: a zombie pool thread
      * parked in a non-interruptible Spark call can register pins after
      * its run's release (see [[Pins]] for why that is safe). */
    def close(): Unit = {
      pool.shutdownNow()
      Pins.releaseAll()
      ()
    }
  }
}
