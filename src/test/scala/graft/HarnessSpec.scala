package graft

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Harness, Pins}

/** The guarded run every entry point shares: a run past its timeout is
  * cancelled and leaves the session as it found it, a failing run returns
  * its cause, and the session keeps serving runs after both. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  private lazy val guard = new Harness.Guard(spark, 2)

  override def afterAll(): Unit = guard.close()

  test("a run past its timeout is cancelled and leaves the session clean") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val sleepy = udf { (x: Long) => Thread.sleep(60000); x }
    def rateStream(): StreamingQuery =
      spark.readStream.format("rate").load().writeStream.format("noop").start()
    // warm the job and stream start-up paths, so the run below gets its
    // stream started well inside the timeout
    spark.range(10).count()
    rateStream().stop()
    var started: StreamingQuery = null
    val t0 = System.nanoTime()
    val r = guard.run("harness-timeout") {
      spark.conf.set(key, "7")
      Pins.pin(spark.range(10).toDF("x")).count()
      started = rateStream()
      spark.range(1).select(sleepy(col("id"))).collect()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    assert(r.left.exists(_.isInstanceOf[Harness.Timeout]), r)
    assert(dt < 10, s"returned after $dt s")
    assert(started != null && !started.isActive)
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get(key) == before)
    assert(Pins.pending == 0)
    // the cancel reaches the scheduler asynchronously
    val tracker = spark.sparkContext.statusTracker
    def running: Int = tracker.getJobIdsForGroup("harness-timeout")
      .flatMap(tracker.getJobInfo(_))
      .count(_.status == JobExecutionStatus.RUNNING)
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (running > 0 && System.nanoTime() < deadline) Thread.sleep(100)
    assert(running == 0)
  }

  test("a throwing run returns its cause") {
    val boom = new IllegalStateException("boom")
    assert(guard.run("harness-throw")(throw boom) == Left(boom))
  }

  test("the session serves the next run after a timeout and a failure") {
    assert(guard.run("harness-next")(spark.range(100).count()) == Right(100L))
  }
}
