package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order-statistics helpers: global prefix sums / ranks under
  * a total order WITHOUT a single-partition window.
  *
  * The naive distributed formulation — repartitionByRange, then count
  * per physical partition in one job and window per partition in a
  * second — is subtly WRONG at scale: RangePartitioner samples its
  * boundaries with a seed derived from the RDD id, which differs between
  * the two jobs, so once real sampling engages (> ~20·p rows) the jobs
  * can disagree about which partition a row belongs to and the stitched
  * offsets corrupt the prefix (caught by the q_histogram_eqdepth oracle
  * at sf0.01; the pattern's first user q_token_budget escaped only
  * because the oracle corpus is small enough that the sampler degrades
  * to a full scan).
  *
  * This helper never depends on physical partitioning: range boundaries
  * come from ONE seeded sample (deterministic for a fixed input), the
  * range id `pid` is a pure COLUMN of the row (count of boundaries
  * ordered strictly before it), and both the offset aggregation and the
  * running-sum window key on that column. Boundary quality affects only
  * balance, never correctness: a degenerate sample just means fewer,
  * fatter ranges (worst case one — the tiny-input case, where a single
  * partition is appropriate anyway).
  */
object Dist {

  /** Adds `cum` — the inclusive global prefix sum of `weightCol` under
    * the total order (valueCol asc/desc, idCol asc) — to `df`. Shapes:
    * one seeded-sample collect (~20·p rows), one p-group aggregation
    * (p longs to the driver), a broadcast offset join, and a pid-keyed
    * running-sum window. `valueCol` must be DoubleType and `idCol`
    * LongType; `weightCol` LongType (checked — cast upstream; an
    * implicit decimal→double cast here would silently change the total
    * order ties break on).
    *
    * The driver-side passes (count, boundary sample, per-range totals)
    * run over a persisted 3-column projection, so the caller's upstream
    * pipeline — often a full scoring query — is computed once for all
    * three, plus once more in the returned plan (the projection is
    * unpersisted before return; pinning the caller's frame past our
    * lifetime is not this helper's call to make). */
  def globalPrefixSum(df: DataFrame, valueCol: String, asc: Boolean,
                      idCol: String, weightCol: String,
                      p: Int): DataFrame =
    globalPrefixAgg(df, valueCol, asc, idCol, Seq(weightCol), p,
      isSum = true, outCols = Seq("cum"))

  /** [[globalPrefixSum]] for SEVERAL weight columns under ONE total
    * order in ONE pass: `outCols(j)` carries the prefix sum of
    * `weightCols(j)`. The sample, the per-range totals aggregation, and
    * the running-sum window are all shared, so a two-cohort CDF
    * (q_drift_ks / q_drift_psi) pays one set of jobs instead of two. */
  def globalPrefixSums(df: DataFrame, valueCol: String, asc: Boolean,
                       idCol: String, weightCols: Seq[String],
                       outCols: Seq[String], p: Int): DataFrame =
    globalPrefixAgg(df, valueCol, asc, idCol, weightCols, p,
      isSum = true, outCols = outCols)

  /** Adds `cummin` — the global prefix MIN of `aggCol` under the total
    * order (valueCol asc/desc, idCol asc) — to `df`. The dominance
    * primitive behind q_skyline: "best aggCol among all rows ordered
    * (strictly, when `inclusive = false`) before me". Identical shapes
    * and determinism story as [[globalPrefixSum]] (min is associative,
    * so stitching per-range minima with driver-side exclusive offsets is
    * exact); an exclusive prefix with no predecessor yields the identity
    * Long.MaxValue. */
  def globalPrefixMin(df: DataFrame, valueCol: String, asc: Boolean,
                      idCol: String, aggCol: String,
                      p: Int, inclusive: Boolean = true): DataFrame =
    globalPrefixAgg(df, valueCol, asc, idCol, Seq(aggCol), p,
      isSum = false, outCols = Seq("cummin"), inclusive = inclusive)

  /** Adds `outCol` — the NEXT row's `leadCol` value under the total order
    * (valueCol asc, idCol asc); null on the globally last row. The
    * distributed LEAD(1): same deterministic seeded-sample range
    * machinery as the prefix helpers (the pid is a pure column, never a
    * physical partition id), a per-pid window lead, and the cross-range
    * stitch from the p-row "first row of each range" frame — the last
    * row of range k coalesces to the first `leadCol` of the next
    * non-empty range. Exactly equal to a single-partition
    * `lead(leadCol) OVER (ORDER BY valueCol, idCol)` at any size.
    * `valueCol` must be DOUBLE, `idCol`/`leadCol` BIGINT. */
  def globalLead(df: DataFrame, valueCol: String, idCol: String,
                 leadCol: String, outCol: String, p: Int): DataFrame = {
    def dt(c: String) = df.schema(c).dataType
    require(dt(valueCol) == org.apache.spark.sql.types.DoubleType,
      s"globalLead: $valueCol is ${dt(valueCol)}, need DOUBLE — " +
      "cast explicitly upstream")
    require(dt(idCol) == org.apache.spark.sql.types.LongType &&
      dt(leadCol) == org.apache.spark.sql.types.LongType,
      s"globalLead: $idCol/$leadCol must be BIGINT — cast upstream")
    val spark = df.sparkSession
    val (boundaries, pidCol, firsts) =
      Pins.scoped(df.select(col(valueCol), col(idCol), col(leadCol))) {
        passes =>
          val n = passes.count()
          val boundaries =
            sampleBoundaries(passes, valueCol, idCol, asc = true, p, n)
          val pidCol = pidColumn(boundaries, valueCol, idCol, asc = true)
          // first row (in order) of each non-empty range → its leadCol
          val firsts = passes.withColumn("pid", pidCol)
            .groupBy(col("pid"))
            .agg(min_by(col(leadCol), struct(col(valueCol), col(idCol)))
              .as("fv"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          (boundaries, pidCol, firsts)
      }
    val nRanges = boundaries.length + 1
    val nextFirst: Seq[(Int, Option[Long])] = (0 until nRanges).map { k =>
      k -> (k + 1 until nRanges).collectFirst {
        case j if firsts.contains(j) => firsts(j) }
    }
    val nfDf = spark.createDataFrame(
      java.util.Arrays.asList(nextFirst.map { case (pid, nf) =>
        org.apache.spark.sql.Row(pid, nf.map(Long.box).orNull) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__nf",
          org.apache.spark.sql.types.LongType, nullable = true))))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    df.withColumn("pid", pidCol)
      .withColumn("__lead_in", lead(col(leadCol), 1).over(w))
      .join(broadcast(nfDf), "pid")
      .withColumn(outCol, coalesce(col("__lead_in"), col("__nf")))
      .drop("pid", "__lead_in", "__nf")
  }

  /** Fused [[globalPrefixSum]] + [[globalLead]] over ONE ascending total
    * order (valueCol asc, idCol asc): adds `outCumCol` — the inclusive
    * global prefix sum of `weightCol` — and `outLeadCol` — the next
    * row's `leadCol` (null on the globally last row) — in ONE set of
    * driver passes. The sweep-line consumer (q_concurrency) previously
    * ran the two helpers back to back: two persists, two counts, two
    * boundary samples, two per-range aggregations ≈ 6 bounded actions
    * over the same frame, which dominated its warm cost (VERDICT r14
    * item 4). Here the sample is taken once, the per-range weight total
    * and first-row leadCol come from ONE fused aggregation, and both
    * outputs ride one broadcast metadata join + one shared-sort window
    * (same partition/order spec → a single WindowExec). 3 bounded
    * actions total. `valueCol` must be DOUBLE; `idCol`/`weightCol`/
    * `leadCol` BIGINT — cast upstream. */
  def globalPrefixSumWithLead(df: DataFrame, valueCol: String,
                              idCol: String, weightCol: String,
                              leadCol: String, outCumCol: String,
                              outLeadCol: String, p: Int): DataFrame =
    globalPrefixSumsWithLead(df, valueCol, idCol, Seq(weightCol),
      Seq(outCumCol), leadCol, outLeadCol, p)

  /** [[globalPrefixSumWithLead]] for SEVERAL weight columns under the
    * one ascending total order (the [[globalPrefixSums]] ×
    * [[globalLead]] fusion): `outCumCols(j)` carries the prefix sum of
    * `weightCols(j)`, `outLeadCol` the next row's `leadCol` — one
    * sample, one fused range pass, one shared-sort window. The
    * two-cohort CDF + segment-width consumer (q_wasserstein) pays 3
    * bounded actions instead of the chained helpers' ~6. */
  def globalPrefixSumsWithLead(df: DataFrame, valueCol: String,
                               idCol: String, weightCols: Seq[String],
                               outCumCols: Seq[String], leadCol: String,
                               outLeadCol: String, p: Int): DataFrame = {
    require(weightCols.nonEmpty && weightCols.length == outCumCols.length,
      "globalPrefixSumsWithLead: weightCols and outCumCols must pair up")
    def dt(c: String) = df.schema(c).dataType
    require(dt(valueCol) == org.apache.spark.sql.types.DoubleType,
      s"globalPrefixSumsWithLead: $valueCol is ${dt(valueCol)}, need " +
      "DOUBLE — cast explicitly upstream")
    (idCol +: leadCol +: weightCols).foreach { c =>
      require(dt(c) == org.apache.spark.sql.types.LongType,
        s"globalPrefixSumsWithLead: $c is ${dt(c)}, need BIGINT — " +
        "cast upstream")
    }
    val spark = df.sparkSession
    // ONE fused per-range pass: every weight's range total (prefix-sum
    // stitch) AND the range's in-order first leadCol (cross-range lead
    // stitch) from the same aggregation
    val totalAggs = weightCols.map(w => sum(col(w)).as(s"t_$w")) :+
      min_by(col(leadCol), struct(col(valueCol), col(idCol))).as("fv")
    val (boundaries, pidCol, rangeRows) =
      Pins.scoped(df.select((valueCol +: idCol +: leadCol +: weightCols)
          .distinct.map(col): _*)) { passes =>
        val n = passes.count()
        val boundaries =
          sampleBoundaries(passes, valueCol, idCol, asc = true, p, n)
        val pidCol = pidColumn(boundaries, valueCol, idCol, asc = true)
        val rangeRows = passes.withColumn("pid", pidCol)
          .groupBy(col("pid"))
          .agg(totalAggs.head, totalAggs.tail: _*)
          .collect()
        (boundaries, pidCol, rangeRows)
      }
    val nw = weightCols.length
    val totals = rangeRows.map(r => r.getInt(0) ->
      weightCols.indices.map(j => r.getLong(j + 1)).toArray).toMap
    val firsts = rangeRows.map(r => r.getInt(0) -> r.getLong(nw + 1)).toMap
    val nRanges = boundaries.length + 1
    val offsets: Seq[Array[Long]] = (0 until nRanges)
      .scanLeft(Array.fill(nw)(0L)) { (acc, pid) =>
        acc.zip(totals.getOrElse(pid, Array.fill(nw)(0L)))
          .map { case (a, b) => a + b }
      }
      .take(nRanges)
    val nextFirst: Seq[Option[Long]] = (0 until nRanges).map { k =>
      (k + 1 until nRanges).collectFirst {
        case j if firsts.contains(j) => firsts(j) }
    }
    val offNames = weightCols.indices.map(j => s"__goff_$j")
    val meta = spark.createDataFrame(
      java.util.Arrays.asList((0 until nRanges).map { pid =>
        org.apache.spark.sql.Row.fromSeq(
          pid +: offsets(pid).toSeq.map(Long.box) :+
            nextFirst(pid).map(Long.box).orNull) }: _*),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
        offNames.map(o => org.apache.spark.sql.types.StructField(o,
          org.apache.spark.sql.types.LongType, nullable = false)) :+
        org.apache.spark.sql.types.StructField("__nf",
          org.apache.spark.sql.types.LongType, nullable = true)))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    val joined = df.withColumn("pid", pidCol)
      .join(broadcast(meta), "pid")
    val withCums = weightCols.indices.foldLeft(joined) { (acc, j) =>
      acc.withColumn(outCumCols(j), col(offNames(j)) + coalesce(
        sum(col(weightCols(j))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
    }
    withCums
      .withColumn("__lead_in", lead(col(leadCol), 1).over(w))
      .withColumn(outLeadCol, coalesce(col("__lead_in"), col("__nf")))
      .drop("pid" +: "__lead_in" +: "__nf" +: offNames: _*)
  }

  /** ONE deterministic seeded sample of (valueCol, idCol), sorted under
    * the total order, thinned to ≤ p−1 distinct range boundaries. */
  private def sampleBoundaries(passes: DataFrame, valueCol: String,
                               idCol: String, asc: Boolean, p: Int,
                               n: Long): Array[(Double, Long)] = {
    val frac = if (n <= 0) 1.0 else math.min(1.0, (20.0 * p) / n)
    val sampled = passes.select(col(valueCol), col(idCol))
      .sample(withReplacement = false, frac, seed = 42L)
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    val ord: Ordering[(Double, Long)] =
      if (asc) Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      else Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse,
        Ordering.Long)
    val sorted = sampled.sorted(ord)
    // up to p-1 boundaries at even sample strides; dedup keeps the pid
    // function strictly monotone over ranges
    val stride = math.max(1, sorted.length / p)
    sorted.indices
      .collect { case i if i > 0 && i % stride == 0 => sorted(i) }
      .distinct.take(p - 1).toArray
  }

  /** pid = number of boundaries strictly before the row in the order —
    * a pure column of the row, independent of physical partitioning. */
  private def pidColumn(boundaries: Array[(Double, Long)], valueCol: String,
                        idCol: String, asc: Boolean): Column =
    boundaries.foldLeft(lit(0)) { case (acc, (bv, bk)) =>
      val after =
        if (asc) col(valueCol) > bv ||
          (col(valueCol) === bv && col(idCol) > bk)
        else col(valueCol) < bv ||
          (col(valueCol) === bv && col(idCol) > bk)
      acc + when(after, 1).otherwise(0)
    }

  private def globalPrefixAgg(df: DataFrame, valueCol: String, asc: Boolean,
                              idCol: String, weightCols: Seq[String], p: Int,
                              isSum: Boolean, outCols: Seq[String],
                              inclusive: Boolean = true): DataFrame = {
    require(weightCols.nonEmpty && weightCols.length == outCols.length,
      "globalPrefixAgg: weightCols and outCols must pair up")
    def dt(c: String) = df.schema(c).dataType
    require(dt(valueCol) == org.apache.spark.sql.types.DoubleType,
      s"globalPrefixAgg: $valueCol is ${dt(valueCol)}, need DOUBLE — " +
      "cast explicitly upstream (ordering semantics must be the caller's)")
    require(dt(idCol) == org.apache.spark.sql.types.LongType,
      s"globalPrefixAgg: $idCol is ${dt(idCol)}, need BIGINT — " +
      "cast explicitly upstream")
    weightCols.foreach { w =>
      require(dt(w) == org.apache.spark.sql.types.LongType,
        s"globalPrefixAgg: $w is ${dt(w)}, need BIGINT — " +
        "cast explicitly upstream")
    }
    val spark = df.sparkSession
    val totalAggs = weightCols.map(w =>
      (if (isSum) sum(col(w)) else min(col(w))).as(s"t_$w"))
    val (boundaries, pidCol, totals) =
      Pins.scoped(df.select((valueCol +: idCol +: weightCols).map(col): _*)) {
        passes =>
          val n = passes.count()
          val boundaries =
            sampleBoundaries(passes, valueCol, idCol, asc, p, n)
          val pidCol = pidColumn(boundaries, valueCol, idCol, asc)
          val totals = passes.withColumn("pid", pidCol).groupBy(col("pid"))
            .agg(totalAggs.head, totalAggs.tail: _*)
            .collect()
            .map(r => r.getInt(0) ->
              weightCols.indices.map(j => r.getLong(j + 1)).toArray)
            .toMap
          (boundaries, pidCol, totals)
      }
    val withPid = df.withColumn("pid", pidCol)
    val nRanges = boundaries.length + 1
    // exclusive per-range offsets under the op's identity (0 for sum,
    // Long.MaxValue for min) — range 0's offset is the identity element
    val identity0 = if (isSum) 0L else Long.MaxValue
    val offsets: Seq[Array[Long]] = (0 until nRanges).scanLeft(
      Array.fill(weightCols.length)(identity0)) {
      case (acc, pid) =>
        val t = totals.getOrElse(pid,
          Array.fill(weightCols.length)(identity0))
        acc.zip(t).map { case (a, b) =>
          if (isSum) a + b else math.min(a, b) }
    }.take(nRanges)
    val offNames = weightCols.indices.map(j => s"__goff_$j")
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offsets.zipWithIndex.map {
        case (offs, pid) =>
          org.apache.spark.sql.Row.fromSeq(pid +: offs.toSeq) }: _*),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
        offNames.map(o => org.apache.spark.sql.types.StructField(o,
          org.apache.spark.sql.types.LongType, nullable = false))))
    val sortCols =
      if (asc) Seq(col(valueCol).asc, col(idCol).asc)
      else Seq(col(valueCol).desc, col(idCol).asc)
    val w = Window.partitionBy(col("pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1)
    // an exclusive frame is empty on each range's first row — coalesce
    // the window result to the op identity so the offset alone carries it
    val joined = withPid.join(broadcast(offDf), "pid")
    val withOut = weightCols.indices.foldLeft(joined) { case (acc, j) =>
      val winAgg =
        if (isSum) coalesce(sum(col(weightCols(j))).over(w), lit(0L))
        else coalesce(min(col(weightCols(j))).over(w), lit(Long.MaxValue))
      val combined =
        if (isSum) col(offNames(j)) + winAgg
        else least(col(offNames(j)), winAgg)
      acc.withColumn(outCols(j), combined)
    }
    withOut.drop("pid" +: offNames: _*)
  }
}
