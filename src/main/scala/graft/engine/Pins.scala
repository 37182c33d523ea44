package graft.engine

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted frames: nothing else under `src/main`
  * calls `persist`, `cache` or names a `StorageLevel` (PinsSpec gates
  * this). Every persist is `MEMORY_AND_DISK` and belongs to one of three
  * lifetimes:
  *
  *  - '''Session''' — [[memo]] and [[memoCount]]. Derived artifacts that
  *    several queries read (IVF centroid tables and assignments, MinHash
  *    signatures, dedup pair lists and labels, the trade-graph layouts,
  *    scalar cardinalities). Each query is a self-contained
  *    `(SparkSession, sfDir) => DataFrame`, so without the memo every
  *    consumer would rebuild the artifact; a deployment builds an index
  *    once and serves queries from it. Builds are deterministic
  *    (lowest-id centroids, fixed hash permutations, min-id labels), so
  *    a hit answers bit-for-bit what a rebuild would. Entries are never
  *    evicted: they are O(n) or smaller in inputs the session already
  *    holds.
  *  - '''Run''' — [[pin]] / `.pinned`, released by [[releaseAll]]. A
  *    frame that the query's RETURNED lazy plan reads (iterative-graph
  *    adjacencies, self-join bases, fingerprint frames) cannot be
  *    released inside the query lambda: that would drop the cache before
  *    the plan is materialized. [[Harness.Guard]] releases every pin
  *    after each run; without it a bench JVM accumulates every lambda's
  *    blocks (the r14 block-manager leak: 30 persist sites against 18
  *    unpersists).
  *  - '''Call''' — [[scoped]]. A frame that several driver-side actions
  *    inside one call read (sample, count, per-range totals, greedy
  *    rounds) is persisted for the body and released in a `finally`, so
  *    a throwing body does not leak it.
  */
object Pins {

  // -- session lifetime ----------------------------------------------------

  /** (session, canonical plan hash, field names, call parameters). The
    * session is held by reference, so an entry can never be handed to a
    * later session; the plan hash lets same-lineage frames share, and
    * frames built differently miss. */
  private type Key = (SparkSession, Int, Seq[String], Seq[Any])

  private val memos = new ConcurrentHashMap[Key, AnyRef]()

  /** Get-then-put rather than `computeIfAbsent`: builds run Spark jobs
    * (some nest further memo lookups), which must not run under a map
    * lock. Two threads racing on one key both build the same
    * deterministic value and the last write wins. */
  private def lookup[V <: AnyRef](input: DataFrame, parts: Seq[Any])
                                 (build: => V): V = {
    val key: Key = (input.sparkSession, input.semanticHash(),
      input.schema.fieldNames.toSeq, parts)
    memos.get(key) match {
      case null =>
        val v = build
        memos.put(key, v)
        v
      case hit => hit.asInstanceOf[V]
    }
  }

  /** The session's artifact derived from `input` under `parts`, built and
    * persisted (lazily) on first use. `parts` must name the artifact, so
    * two sites never share a key. */
  def memo(input: DataFrame, parts: Any*)(build: => DataFrame): DataFrame =
    lookup(input, parts)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** [[memo]] for a driver scalar, such as an edge count that sizes
    * partitions for several queries. */
  def memoCount(input: DataFrame, parts: Any*)(compute: => Long): Long =
    lookup(input, parts)(java.lang.Long.valueOf(compute)).longValue

  // -- run lifetime --------------------------------------------------------

  private val reg = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` until the harness's next [[releaseAll]]. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    reg.add(p)
    p
  }

  /** Unpersist every pinned frame (blocking = false: block removal is
    * async, but the entry leaves the block manager's persistent-RDD map
    * synchronously). Releasing an already-unpersisted frame is a no-op,
    * so lambdas that release intermediates eagerly may pin uniformly.
    * Release under a concurrent zombie job is safe: that job recomputes
    * the lineage. Returns the number of pins released. */
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

  /** Postfix form: `df.pinned` is `pin(df)`. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned: Dataset[T] = pin(ds)
  }

  // -- call lifetime -------------------------------------------------------

  /** Run `body` over `ds` persisted, and unpersist it when the body
    * returns or throws. */
  def scoped[T, R](ds: Dataset[T])(body: Dataset[T] => R): R = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    try body(p) finally p.unpersist(blocking = false)
  }
}
