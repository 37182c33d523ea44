package graft.engine

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for persists whose frame is consumed by a query's
  * RETURNED lazy plan — the one persist shape a query lambda cannot
  * release itself (an in-lambda `finally unpersist` would drop the cache
  * before the consumer ever materializes the plan).
  *
  * Contract: a query lambda calls [[pin]] instead of `.persist(...)`
  * whenever the persisted frame outlives the lambda (iterative-graph
  * adjacencies, self-join base frames, fingerprint frames reused by the
  * final plan). The harness ([[Harness.Guard]], which Bench, Verify and
  * Dev run every query through; specs that collect directly call it
  * themselves) calls [[releaseAll]] once the plan has been materialized. Without this, a 498-query bench
  * JVM accumulates every lambda's MEMORY_AND_DISK blocks in the block
  * manager (VERDICT r14 "What's wrong" #2: 30 persist sites vs 18
  * unpersists — the most plausible cause of the r14 driver artifact's
  * mid-run sick window).
  *
  * Pinning is persist-identical from the plan's point of view (PlanSpec's
  * InMemoryTableScan pins keep holding); releasing an already-unpersisted
  * dataset is a Spark no-op, so lambdas that release intermediates
  * eagerly (q_hits' per-round generations) may pin uniformly.
  *
  * Session-scoped SharedArtifacts memos are deliberately NOT routed
  * through here: their lifetime is the session (a production system
  * builds an index once and serves queries from it), and releasing them
  * per query would re-run every index build per consumer.
  *
  * Release during a CONCURRENT zombie job is recompute-safe: unpersist
  * only drops cached blocks, so a timed-out pool thread still computing
  * over a released frame falls back to recomputing the lineage — correct
  * results, just uncached. The residual risk is bookkeeping, not
  * correctness: a zombie that pins AFTER a release swept past it leaves
  * blocks for the next sweep (the harness therefore also sweeps once
  * after pool shutdown).
  */
object Pins {
  private val reg =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  def pin[T](ds: Dataset[T],
             level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val p = ds.persist(level)
    reg.add(p)
    p
  }

  /** Unpersist every pinned frame (blocking = false: block removal is
    * async, but the entry leaves the block manager's persistent-RDD map
    * synchronously). Returns the number of pins released. */
  def releaseAll(): Int = {
    var n = 0
    var d = reg.poll()
    while (d != null) {
      try d.unpersist(blocking = false)
      catch { case _: Throwable => () }
      n += 1
      d = reg.poll()
    }
    n
  }

  /** Pins registered and not yet released (test observability). */
  def pending: Int = reg.size()

  /** Postfix form — `df.pinned` is a drop-in for
    * `df.persist(MEMORY_AND_DISK)` at pin sites. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned: Dataset[T] = pin(ds)
  }
}
