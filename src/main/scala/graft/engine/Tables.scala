package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver corpus (TESTDATA.md / FIXTURES.md).
  *
  * Scale-design notes (100 TB):
  *  - Every loader is a plain `spark.read.parquet` on a path, so Catalyst's
  *    data-source V2 pushdown (filters, column pruning, partition pruning on
  *    partitioned layouts) applies unchanged on a real cluster.
  *  - No caching or `.collect()` here: loaders return lazy plans only.
  *  - `ensureConf` pins only per-session SQL confs that are safe to set at
  *    runtime; cluster sizing (shuffle partitions, AQE) is left to the
  *    session owner (Verify/Bench mains or the user's session).
  */
object Tables {
  /** Runtime-settable confs the corpus requires. Idempotent. */
  def ensureConf(spark: SparkSession): Unit = {
    // Older corpus drops stored events.ts as Parquet INT64 TIMESTAMP(NANOS),
    // which Spark rejects unless this legacy flag is on (with it, ts surfaces
    // as bigint nanoseconds). Current drops store timestamp[us] and ignore
    // the flag; keeping it set lets the engine accept either encoding —
    // withEventTime branches on the surfaced dtype.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // native SQL functions + the HOF dot-product rewrite rule (the
    // builder-extensions path only covers sessions built with
    // spark.sql.extensions=...GraftExtensions)
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // custom planner strategy (broadcast point-in-interval range join)
    org.apache.spark.sql.graft.GraftPlans.register(spark)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureConf(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Raw events: `ts` is either bigint nanoseconds since epoch (older
    * corpus drops, INT64 TIMESTAMP(NANOS) + nanosAsLong) or a native
    * timestamp[us] (current drops). Use [[eventsWithTime]] for queries. */
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Events with `ts_us` (bigint micros — matches DuckDB's `epoch_us(ts)`)
    * and `ts_t` (TIMESTAMP, UTC session) for event-time operators. */
  def eventsWithTime(s: SparkSession, d: String): DataFrame =
    withEventTime(events(s, d))

  /** Adds ts_us/ts_t to any frame with a `ts` column, adapting to how the
    * source surfaced it. Shared by the batch loader above and
    * StreamRunner.eventsStream so the stream/batch twin queries can never
    * diverge on time derivation.
    *
    *  - LongType: raw epoch nanoseconds (legacy nanosAsLong corpus).
    *    Integer division keeps full precision — ns values exceed 2^53, so
    *    any double math on raw ts would silently corrupt timestamps.
    *  - Timestamp/TimestampNTZ: micros-native. The session time zone is
    *    pinned UTC (ensureConf), so casting NTZ → TIMESTAMP is a wall-clock
    *    identity and `unix_micros` reads back the stored micros exactly —
    *    matching DuckDB's `epoch_us(ts)` on the same file.
    */
  def withEventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      case _ => // TimestampType | TimestampNTZType
        df.withColumn("ts_t", col("ts").cast("timestamp"))
          .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    }

  /** Register all tables as temp views for spark.sql-based queries. */
  def registerAll(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { n =>
      table(s, d, n).createOrReplaceTempView(n)
    }
    events(s, d).createOrReplaceTempView("events")
  }

  /** Catalog registration with computed statistics — the CBO posture for
    * cluster deployments. Temp views carry only file-size estimates; a
    * catalog table plus `ANALYZE TABLE` gives the optimizer row counts
    * (and per-column NDV/min/max with FOR ALL COLUMNS), which is what
    * makes join-order and broadcast decisions trustworthy at 100× — AQE
    * can only re-plan shuffles it has already started, while CBO avoids
    * the bad join tree up front. Tables are registered as external
    * parquet tables (no data copy) under the given name prefix;
    * `spark.sql.cbo.enabled` + join reorder are switched on. */
  def registerAnalyzed(s: SparkSession, d: String,
                       prefix: String = "g_"): Unit = {
    ensureConf(s)
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings", "events").foreach { n =>
      // DROP first: IF NOT EXISTS would silently keep a previous call's
      // LOCATION when re-registering against a different corpus dir, and
      // ANALYZE would then re-bless the stale data
      s.sql(s"DROP TABLE IF EXISTS $prefix$n")
      s.sql(s"CREATE TABLE $prefix$n USING parquet " +
        s"LOCATION '$d/$n.parquet'")
      // row count + size for every table; NDV/min/max histograms only for
      // atomic-typed columns (ANALYZE rejects array/map columns — the
      // embeddings vector), which is all the join/filter planner reads
      val atomicCols = s.table(s"$prefix$n").schema.fields
        .filterNot(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType  => true
          case _: org.apache.spark.sql.types.MapType    => true
          case _: org.apache.spark.sql.types.StructType => true
          case _                                        => false
        })
        .map(f => s"`${f.name}`")
      s.sql(s"ANALYZE TABLE $prefix$n COMPUTE STATISTICS")
      if (atomicCols.nonEmpty) {
        s.sql(s"ANALYZE TABLE $prefix$n COMPUTE STATISTICS " +
          s"FOR COLUMNS ${atomicCols.mkString(", ")}")
      }
    }
  }
}
