package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dist, QueryPack, Tables}

/** Distribution-drift monitoring for training-data pipelines (SURVEY.md
  * §2.4 "LLM-data-pipeline operators" — observability family): the checks
  * a 100 TB ingest runs every batch to catch a source silently changing
  * under the pipeline — a crawler pulling from a new mix of sites, a
  * metric whose unit shifted, a label distribution that no longer matches
  * the reference corpus.
  *
  *  - q_drift_ks    — exact two-sample Kolmogorov–Smirnov statistic
  *                    between an early and a late event cohort, computed
  *                    entirely in integer arithmetic (the max |ΔCDF| is
  *                    found on cross-multiplied integer counts, so the
  *                    argmax never depends on float rounding).
  *  - q_drift_psi   — Population Stability Index over deciles of the
  *                    reference cohort (order-statistic bin edges, exact
  *                    ceil-threshold contract), Laplace-smoothed so empty
  *                    bins stay finite.
  *  - q_chi2_select — per-language chi-square association against the
  *                    source mix (the classic feature-selection statistic
  *                    over a lang × source contingency table).
  *  - q_js_divergence — symmetric, bounded Jensen–Shannon divergence of
  *                    the event-type mix between the cohorts, reported as
  *                    per-type term rows over exact integer counts.
  *  - q_cusum       — tabular CUSUM control chart (k = σ/2, h = 4σ) over
  *                    the daily mean series; the sequential recursion
  *                    collapses to running sums/mins via the prefix
  *                    identity, all in exact integer micro-units.
  *
  * Scale notes (100 TB): every path reduces to keyed aggregations over
  * bounded-cardinality frames. The KS/PSI cumulative counts ride
  * [[Dist.globalPrefixSum]] (seeded-sample ranges, pid-keyed windows —
  * never a single-partition window); the chi-square contingency table is
  * |langs| × |sources| rows. Driver-side state is bounded by construction:
  * 9 decile edges, never data-sized.
  */
object DriftQueries extends QueryPack {

  /** (vq, us) — milli-quantized value (exact integer, same idiom as
    * q_time_weighted) + epoch micros, with the corpus midpoint timestamp
    * `mid` attached via a broadcast one-row bounds frame. Cohort A
    * ("reference"/"early") is us < mid; cohort B is the rest. */
  private def quantizedEvents(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsWithTime(s, d)
      .select(
        floor(col("value") * lit(1000.0) + lit(0.5)).cast("long").as("vq"),
        col("ts_us").as("us"))
    val bounds = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid"))
    e.crossJoin(broadcast(bounds))
  }

  /** Per-distinct-value cohort counts with inclusive cumulative counts
    * for both cohorts under vq asc — ONE [[Dist.globalPrefixSums]] pass
    * over the (bounded: one row per distinct milli-value) grouped frame,
    * both cohorts sharing the sample/totals/window jobs.
    * Columns: vq, na, nb, cum_a, cum_b. */
  private[graft] def cohortCdf(s: SparkSession, d: String): DataFrame = {
    // the grouped frame is pinned (released by the harness) so the
    // prefix helper's internal passes AND the returned plan share ONE
    // event scan instead of re-running the full-table aggregation
    def grouped = quantizedEvents(s, d)
      .groupBy(col("vq"))
      .agg(
        sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("na"),
        sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("nb"))
      .withColumn("vqd", col("vq").cast("double"))
    // r16-opt: session memo (guide §2.4 — remove the repeated shuffle
    // outright). SEVEN queries (drift_ks/psi, bhattacharyya, CvM,
    // cliffs_delta, brunner_munzel, stream_drift) derive their statistic
    // from this same deterministic cumulative frame; each previously
    // re-ran the event scan + groupBy + both prefix passes per query.
    // Production computes a value-domain CDF once per snapshot and
    // serves every drift dashboard from it — the memo is that shape.
    // The frame is exact integers (deterministic), so every consumer's
    // result is bit-identical to a per-query rebuild (oracle-verified).
    graft.engine.Pins.memo(Tables.events(s, d), "cohortCdf") {
      val g = graft.engine.Pins.pin(grouped)
      Dist.globalPrefixSums(g, "vqd", asc = true, idCol = "vq",
          weightCols = Seq("na", "nb"), outCols = Seq("cum_a", "cum_b"),
          p = 32)
        .drop("vqd")
    }
  }

  /** The 9 reference-decile edges of a cohortCdf frame: edge_i = min vq
    * with cum_a >= ceil(i·Na/10) — all 9 found in ONE job (cross the
    * bounded cdf frame with the decile index, min per i). Shared by
    * q_drift_psi and the streaming PSI twin so the edge contract cannot
    * drift between them. Driver state: 9 longs, bounded by construction. */
  private[graft] def decileEdges(cdf: DataFrame, naTot: Long): Array[Long] = {
    val spark = cdf.sparkSession
    val thresholds = (1 to 9).map(i => (i, (i * naTot + 9) / 10))
    val thrDf = spark.createDataFrame(thresholds).toDF("i", "thr")
    cdf.crossJoin(broadcast(thrDf))
      .filter(col("cum_a") >= col("thr"))
      .groupBy(col("i")).agg(min(col("vq")).as("edge"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1).map(_._2)
  }

  /** The "count of edges <= vq" decile-bin column over `vqCol`. */
  private[graft] def binColumn(edges: Array[Long], vqCol: Column): Column =
    edges.foldLeft(lit(0)) {
      case (acc, e) => acc + when(vqCol >= e, 1).otherwise(0)
    }

  def declared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // -- two-sample Kolmogorov–Smirnov drift test --------------------------
    // D = max over observed values of |F_a(v) - F_b(v)|. Multiplying
    // through by Na·Nb keeps the argmax in exact integers:
    // d_num = |cum_a·Nb - cum_b·Na|, and only the final reported
    // statistic divides (a single deterministic double division).
    // Ties on d_num break to the smallest value — a total order, so the
    // reported location is unique. One TakeOrdered(1) — no driver state.
    // The CDF frame is persisted for the two bounded actions (totals,
    // TakeOrdered(1)) and the single result row is assembled locally —
    // the whole statistic reduces to four scalars, and re-deriving the
    // upstream scan per action would triple the query's cost. The final
    // division/rounding still evaluates through Spark expressions on the
    // local frame, so the FP shapes the oracle replays are unchanged.
    "q_drift_ks" -> ((s, d) => {
      // cohortCdf is session-persisted by its memo (r16-opt) — no
      // per-query persist/unpersist lifecycle here anymore
      val cdf = cohortCdf(s, d)
      val Array(ta, tb) = cdf
        .agg(sum(col("na")), sum(col("nb"))).head()
        .toSeq.map(x => x.asInstanceOf[Long]).toArray
      val best = cdf
        .withColumn("d_num",
          abs(col("cum_a") * lit(tb) - col("cum_b") * lit(ta)))
        .orderBy(col("d_num").desc, col("vq").asc)
        .limit(1).select(col("d_num"), col("vq")).head()
      import s.implicits._
      Seq((ta, tb, best.getLong(0), best.getLong(1)))
        .toDF("ta", "tb", "d_num", "vq")
        .select(col("ta").as("n_a"), col("tb").as("n_b"),
          round(col("d_num").cast("double") /
            (col("ta") * col("tb")).cast("double"), 6).as("ks"),
          (col("vq").cast("double") / lit(1000.0)).as("ks_at"))
    }),

    // -- Population Stability Index over reference deciles -----------------
    // Bin edges are ORDER STATISTICS of the reference (early) cohort:
    // edge_i = min vq with cum_a >= ceil(i·Na/10), i = 1..9 — an exact
    // integer contract (no interpolation, so no float quantile ambiguity
    // between engines). Both cohorts are then binned by "number of edges
    // <= vq" and compared with Laplace-smoothed proportions
    // p = (n + 0.5)/(N + 5), keeping empty bins finite. The 9 collected
    // edges are bounded by construction (never data-sized driver state).
    "q_drift_psi" -> ((s, d) => {
      val spark = s
      // cohortCdf is session-persisted by its memo (r16-opt)
      val cdf = cohortCdf(s, d);
      {
        val Array(naTot, nbTot) = cdf
          .agg(sum(col("na")), sum(col("nb"))).head()
          .toSeq.map(x => x.asInstanceOf[Long]).toArray
        val edges = decileEdges(cdf, naTot)
        // the binned aggregate is 10 rows by construction — collect it,
        // zero-fill the grid locally, and evaluate the (identical) PSI
        // expressions over the local frame: one cached action instead of
        // a full upstream recompute for the returned plan
        val binned = cdf.withColumn("bin", binColumn(edges, col("vq")))
          .groupBy(col("bin"))
          .agg(sum(col("na")).as("n_ref"), sum(col("nb")).as("n_cur"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        import spark.implicits._
        (0 until 10).map { b =>
          val (nr, nc) = binned.getOrElse(b, (0L, 0L))
          (b.toLong, nr, nc)
        }.toDF("bin", "n_ref", "n_cur")
          .withColumn("pr",
            (col("n_ref").cast("double") + lit(0.5)) / lit(naTot + 5.0))
          .withColumn("pc",
            (col("n_cur").cast("double") + lit(0.5)) / lit(nbTot + 5.0))
          .select(col("bin"), col("n_ref"), col("n_cur"),
            round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6)
              .as("psi_term"))
          .orderBy(col("bin"))
      }
    }),

    // -- chi-square feature association (lang vs source mix) ---------------
    // For each language: the chi-square statistic of the 2 × |sources|
    // table (docs in that language vs all others, across sources).
    // O is exact integer; E = rowTot·colTot/N enters as one rational
    // double. Zero cells are kept by building the full lang × source
    // grid from the (tiny) distinct frames. dof = |sources| - 1.
    "q_chi2_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ct = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val rowTot = docs.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
      val colTot = docs.groupBy(col("source")).agg(count(lit(1)).as("st"))
      val nTot = docs.agg(count(lit(1)).as("n"))
      val grid = rowTot.crossJoin(broadcast(colTot))
        .join(ct, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(nTot))
      val sCount = colTot.count()
      grid
        .withColumn("e_in",
          col("rt").cast("double") * col("st") / col("n"))
        .withColumn("e_out",
          (col("n") - col("rt")).cast("double") * col("st") / col("n"))
        .withColumn("term",
          pow(col("o") - col("e_in"), 2) / col("e_in") +
          pow((col("st") - col("o")) - col("e_out"), 2) / col("e_out"))
        .groupBy(col("lang"))
        .agg(max(col("rt")).as("n_docs"),
          round(sum(col("term")), 6).as("chi2"))
        .withColumn("dof", lit(sCount - 1))
        .select(col("lang"), col("n_docs"), col("chi2"), col("dof"))
        .orderBy(col("lang"))
    }),

    // -- Jensen–Shannon divergence between cohort mixes --------------------
    // The symmetric, bounded ([0, ln 2]) companion of q_drift_psi: how
    // far has the EVENT-TYPE mix moved between the early and late
    // cohort? KL is undefined on empty cells and asymmetric; JS against
    // the midpoint M = (P+Q)/2 is the drift metric a mixture monitor
    // actually alarms on. Laplace-smoothed proportions (the PSI
    // convention) keep terms finite. Output is PER-TYPE term rows, not
    // a float total: each js_term is ONE fixed double expression over
    // exact integer counts (no cross-row float summation whose order an
    // engine could choose differently) — the consumer sums the bounded
    // frame. Cost: one conditional aggregate over the type vocabulary;
    // the cohort split broadcasts as a one-row bounds frame.
    "q_js_divergence" -> ((s, d) => {
      val e = Tables.eventsWithTime(s, d)
        .select(col("event_type"), col("ts_us").as("us"))
      val bounds = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val g = e.crossJoin(broadcast(bounds))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("n_cur"))
      val t = g.agg(sum(col("n_ref")).as("ta"), sum(col("n_cur")).as("tb"),
        count(lit(1)).as("k"))
      val p = (col("n_ref").cast("double") + lit(0.5)) /
        (col("ta").cast("double") + lit(0.5) * col("k"))
      val q = (col("n_cur").cast("double") + lit(0.5)) /
        (col("tb").cast("double") + lit(0.5) * col("k"))
      val m = (p + q) / lit(2.0)
      g.crossJoin(broadcast(t))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round(p, 6).as("p_ref"), round(q, 6).as("p_cur"),
          // floor idiom, not round(·, 6): a tiny FP-negative term (p ≈ q)
          // must not reach DuckDB's signed-zero round (the q_embed_gram
          // class)
          (floor((p * log(p / m) + q * log(q / m)) / lit(2.0) * lit(1e6) +
            lit(0.5)) / lit(1e6)).as("js_term"))
        .orderBy(col("event_type"))
    }),

    // -- CUSUM control chart over the daily value series -------------------
    // The sequential mean-shift detector q_changepoint's single-split
    // scan cannot replace: tabular CUSUM with reference value k = σ/2
    // and decision interval h = 4σ, the SPC textbook parameterization.
    // The recursion S⁺_t = max(0, S⁺_{t-1} + (x_t − μ − k)) is
    // sequential on its face; it collapses to pure windows via the
    // prefix identity S⁺_t = C_t − min(0, min_{s≤t} C_s) with
    // C_t = Σ_{i≤t}(x_i − μ − k) — so the whole chart is two running
    // sums + two running mins over the BOUNDED day frame (the
    // data-sized work is one day-keyed aggregate). Determinism: day
    // means, μ, k, h are all quantized to exact integer micro-units
    // before any accumulation — the running sums are integer arithmetic,
    // and the alarm boundary is an exact integer comparison.
    "q_cusum" -> ((s, d) => {
      val byDay = Tables.eventsWithTime(s, d)
        .select(expr("ts_us div 86400000000").as("day"),
          floor(col("value") * lit(1000.0) + lit(0.5)).cast("long")
            .as("vq"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("vq")).as("sq"))
        .withColumn("xm", expr("(sq * 1000) div n"))
      val t = byDay.agg(sum(col("sq")).as("tsq"), sum(col("n")).as("tn"),
        count(lit(1)).as("nd"), sum(col("xm")).as("s1"),
        sum(col("xm") * col("xm")).as("s2"))
      val withT = byDay.crossJoin(broadcast(t))
        .withColumn("mu", expr("(tsq * 1000) div tn"))
        .withColumn("sd", sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1") / col("nd")) / col("nd")))
        .withColumn("kq",
          floor(col("sd") * lit(0.5) + lit(0.5)).cast("long"))
        .withColumn("hq",
          floor(col("sd") * lit(4.0) + lit(0.5)).cast("long"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withT
        .withColumn("cp", sum(col("xm") - col("mu") - col("kq")).over(w))
        .withColumn("cm", sum(col("mu") - col("kq") - col("xm")).over(w))
        .withColumn("shi",
          col("cp") - least(lit(0L), min(col("cp")).over(w)))
        .withColumn("slo",
          col("cm") - least(lit(0L), min(col("cm")).over(w)))
        .select(col("day"), col("n"),
          (col("xm").cast("double") / lit(1e6)).as("xbar"),
          (col("shi").cast("double") / lit(1e6)).as("cusum_hi"),
          (col("slo").cast("double") / lit(1e6)).as("cusum_lo"),
          (col("shi") > col("hq") || col("slo") > col("hq")).as("alarm"))
        .orderBy(col("day"))
    }),

    // -- Page-Hinkley mean-shift detector over the daily value series ------
    // The streaming-drift literature's other sequential detector (the one
    // river/MOA ship next to CUSUM): m_t = Σ_{i≤t}(x_i − x̄_i − δ) where
    // x̄_i is the RUNNING mean at step i, alarm when m_t − min_{s≤t} m_s
    // exceeds λ. Differs from q_cusum in the reference point — CUSUM
    // measures drift against the fixed global mean, PH against the
    // evolving prefix mean, which is what makes it usable one-pass on an
    // open stream. The recursion collapses to windows the same way:
    // x̄_i is one prefix-ratio window, m_t a second running sum, the
    // floor a running min — three windows over the BOUNDED day frame
    // (calendar-domain, the q_cusum class; data-sized work is one
    // day-keyed aggregate). Determinism: day means and the running mean
    // are exact integer micro-units ((cum·1000) div n — positive
    // operands, so div == //); δ and λ quantize from σ once; every
    // accumulation and the alarm comparison is integer arithmetic.
    "q_page_hinkley" -> ((s, d) => {
      val byDay = Tables.eventsWithTime(s, d)
        .select(expr("ts_us div 86400000000").as("day"),
          floor(col("value") * lit(1000.0) + lit(0.5)).cast("long")
            .as("vq"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("vq")).as("sq"))
        .withColumn("xm", expr("(sq * 1000) div n"))
      val t = byDay.agg(count(lit(1)).as("nd"), sum(col("xm")).as("s1"),
        sum(col("xm") * col("xm")).as("s2"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay.crossJoin(broadcast(t))
        .withColumn("sd", sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1") / col("nd")) / col("nd")))
        .withColumn("dq",
          floor(col("sd") * lit(0.1) + lit(0.5)).cast("long"))
        .withColumn("lq",
          floor(col("sd") * lit(5.0) + lit(0.5)).cast("long"))
        .withColumn("cums", sum(col("sq")).over(w))
        .withColumn("cumn", sum(col("n")).over(w))
        .withColumn("xbar", expr("(cums * 1000) div cumn"))
        .withColumn("mt", sum(col("xm") - col("xbar") - col("dq")).over(w))
        .withColumn("ph", col("mt") - least(lit(0L), min(col("mt")).over(w)))
        .select(col("day"), col("n"),
          (col("xbar").cast("double") / lit(1e6)).as("run_mean"),
          (col("ph").cast("double") / lit(1e6)).as("ph_stat"),
          (col("ph") > col("lq")).as("alarm"))
        .orderBy(col("day"))
    }),

    // -- Bhattacharyya / Hellinger bin overlap (r15) --------------------------
    // The OVERLAP lens on the same reference-decile bins as q_drift_psi:
    // BC = Σ √(p_i·q_i) (1 = identical, 0 = disjoint) and the squared
    // Hellinger terms ½(√p−√q)² — bounded metrics that stay finite and
    // comparable when PSI's log ratio explodes on near-empty bins. Same
    // decileEdges contract (ceil thresholds) and Laplace smoothing, so
    // the three drift dashboards bin IDENTICALLY; per-bin term rows
    // (the q_drift_psi output shape) keep every sum engine-free.
    "q_bhattacharyya" -> ((s, d) => {
      val spark = s
      // cohortCdf is session-persisted by its memo (r16-opt)
      val cdf = cohortCdf(s, d);
      {
        val Array(naTot, nbTot) = cdf
          .agg(sum(col("na")), sum(col("nb"))).head()
          .toSeq.map(x => x.asInstanceOf[Long]).toArray
        val edges = decileEdges(cdf, naTot)
        val binned = cdf.withColumn("bin", binColumn(edges, col("vq")))
          .groupBy(col("bin"))
          .agg(sum(col("na")).as("n_ref"), sum(col("nb")).as("n_cur"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        import spark.implicits._
        (0 until 10).map { b =>
          val (nr, nc) = binned.getOrElse(b, (0L, 0L))
          (b.toLong, nr, nc)
        }.toDF("bin", "n_ref", "n_cur")
          .withColumn("pr",
            (col("n_ref").cast("double") + lit(0.5)) / lit(naTot + 5.0))
          .withColumn("pc",
            (col("n_cur").cast("double") + lit(0.5)) / lit(nbTot + 5.0))
          .select(col("bin"), col("n_ref"), col("n_cur"),
            round(sqrt(col("pr") * col("pc")), 6).as("bc_term"),
            round((sqrt(col("pr")) - sqrt(col("pc"))) *
              (sqrt(col("pr")) - sqrt(col("pc"))) / lit(2.0), 6)
              .as("hellinger2_term"))
          .orderBy(col("bin"))
      }
    }),

    // -- 1-D Wasserstein-1 (earth mover's) drift distance (r15) -------------
    // The MAGNITUDE companion to q_drift_ks: KS reports the worst single
    // CDF gap, W₁ = ∫|F_a − F_b| dv reports how much probability mass
    // must MOVE (in value units) to turn one cohort into the other — the
    // drift number a retraining trigger thresholds on. Same cohortCdf
    // frame (one Dist.globalPrefixSums pass, never single-partition);
    // segment widths come from Dist.globalLead over the bounded
    // distinct-value frame. Exactness at scale: the CDF gap is rescaled
    // by the exact mirrored integer K = max(1, ta·tb div 10¹²) before
    // the segment sum (the q_breusch_pagan overflow discipline), so the
    // decimal(38,0) fold holds for any corpus ≤ ~10¹² distinct values.
    "q_wasserstein" -> ((s, d) =>
      wassersteinFrom(quantizedEvents(s, d)
        .groupBy(col("vq"))
        .agg(
          sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("na"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("nb")))),

    // -- two-sample Cramér–von Mises drift statistic (r15) ------------------
    // The WHOLE-CDF companion: where KS takes the max gap and W₁ the
    // area, CvM sums the SQUARED gap at every observation —
    // T = ta·tb/(ta+tb)² · Σ_v (na+nb)·(F_a−F_b)² — sensitive to many
    // moderate gaps where KS sees only the worst one. Same cohortCdf
    // frame; the gap is K-rescaled (exact mirrored integer) so the
    // squared fold stays inside decimal(38,0) at any real corpus.
    "q_cramer_von_mises" -> ((s, d) =>
      cramerVonMisesFrom(cohortCdf(s, d))),  // memo-persisted, no pin

    // -- Cliff's delta ordinal effect size (r15) -----------------------------
    // The nonparametric EFFECT-SIZE companion to q_mann_whitney's test:
    // δ = (#{x>y} − #{x<y}) / (ta·tb) over all cross pairs, computed
    // WITHOUT pairing — #{x>y} = Σ_v nb_v·(ta − Ca(v)) and
    // #{x<y} = Σ_v nb_v·(Ca(v) − na_v) off the same cumulative frame
    // (linear, never quadratic). Pure integers until the single final
    // division; the conventional magnitude bands (0.147/0.33/0.474,
    // Romano et al.) label the rounded value identically on both
    // engines.
    "q_cliffs_delta" -> ((s, d) =>
      cliffsDeltaFrom(cohortCdf(s, d))),  // memo-persisted, no pin

    // -- Brunner–Munzel heteroscedastic rank test (r15) -----------------------
    // q_mann_whitney's U assumes equal variances under H₀; Brunner–
    // Munzel (2000) drops that — THE two-sample rank test to run when
    // the cohorts' spreads may differ (exactly the drift scenario). The
    // whole statistic reduces to PLACEMENTS on the cohortCdf frame: the
    // doubled placement of an a-observation among b is qa2 = 2·cum_b −
    // nb (and symmetrically), so means, the rank-mean difference, and
    // both placement variances are keyed integer aggregates — never a
    // per-observation rank materialization. Variance inner terms
    // |ta·qa2 − Σ na·qa2| are K-rescaled (abs BEFORE the integer
    // division — Spark's truncating div and DuckDB's flooring //
    // disagree on negatives) so the squared fold stays in decimal(38,0)
    // at any corpus. Large-sample normal verdict on the rounded W
    // (Welch df also reported).
    "q_brunner_munzel" -> ((s, d) =>
      brunnerMunzelFrom(cohortCdf(s, d))),



    // -- two-sample energy distance (r15) ------------------------------------
    // Székely's E-statistic E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| (V-statistic
    // form, diagonal included) — zero iff the distributions coincide,
    // and in 1-D every cross-sum of |·| differences collapses to prefix
    // sums: Σ_{x,y}|x−y| = Σ_v na_v·[vq·(2·Cb − tb) + (Sb_tot − 2·Sb)]
    // over the distinct-value frame, where Cb/Sb are the other cohort's
    // cumulative count/value-sum. ONE four-weight Dist.globalPrefixSums
    // pass carries all four cumulative series. The value-sum weights
    // ride the Long-typed prefix helper, so they are K-rescaled BEFORE
    // entering it (K = max(1, n·max|vq| div 10¹⁵), the q_wasserstein
    // discipline): K = 1 — and the fold decimal(38,0)-exact — until
    // n·max|vq| > 10¹⁵ (~10⁹ rows at milli-quantized |v|≈10⁶); beyond
    // that the prefix sums stay bounded ≲ 2·10¹⁵ ≪ 2⁶³ at ANY corpus
    // and K multiplies back inside the decimal fold with relative error
    // < K·n_values/Σ|terms| (vanishing). Rescale divides abs-first
    // (sign applied after) so Spark's truncating div and DuckDB's
    // flooring // agree on negative vq.
    "q_energy_distance" -> ((s, d) =>
      energyDistanceFrom(quantizedEvents(s, d)
        .groupBy(col("vq"))
        .agg(
          sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("na"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("nb"))))
  )

  /** Energy-distance fold over a grouped (vq, na, nb) frame — factored
    * out so ScaleStressSpec can drive the SAME expressions with
    * synthetic 100-TB-envelope magnitudes (counts ~10¹⁰ per value,
    * |vq| ~10⁹) against a BigInt reference. See the q_energy_distance
    * comment for the K-rescale discipline. */
  private[graft] def energyDistanceFrom(grouped0: DataFrame): DataFrame = {
      val kf = grouped0.agg(greatest(lit(1L), expr(
        "(cast(sum(na + nb) as decimal(38,0)) * " +
          "cast(max(abs(vq)) as decimal(38,0))) div 1000000000000000"))
        .as("k"))
      def rescale(w: String) =
        s"case when vq >= 0 then (cast($w as decimal(38,0)) * " +
          s"cast(vq as decimal(38,0))) div k else " +
          s"-((cast($w as decimal(38,0)) * " +
          s"cast(-vq as decimal(38,0))) div k) end"
      val grouped = grouped0.crossJoin(broadcast(kf))
        .withColumn("sa", expr(rescale("na")))
        .withColumn("sb", expr(rescale("nb")))
        .withColumn("vqd", col("vq").cast("double"))
      val cdf = graft.engine.Pins.pin(Dist.globalPrefixSums(
        grouped, "vqd", asc = true, idCol = "vq",
        weightCols = Seq("na", "nb", "sa", "sb"),
        outCols = Seq("ca", "cb", "csa", "csb"), p = 32))
      val tot = cdf.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
        sum(col("sa")).as("sta"), sum(col("sb")).as("stb"))
      // cs/st are in K-rescaled units; multiplying K back inside the
      // decimal fold restores original units, so the final divisors are
      // unchanged from the exact formulation
      def cross(w: String, cc: String, cs: String, st: String,
                to: String) = sum(expr(
        s"cast($w as decimal(38,0)) * (cast(vq as decimal(38,0)) *" +
          s" (2 * cast($cc as decimal(38,0)) -" +
          s" cast($to as decimal(38,0))) + cast(k as decimal(38,0)) *" +
          s" (cast($st as decimal(38,0)) -" +
          s" 2 * cast($cs as decimal(38,0))))"))
      cdf.crossJoin(broadcast(tot))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
          cross("na", "cb", "csb", "stb", "tb").as("sxy"),
          cross("na", "ca", "csa", "sta", "ta").as("sxx"),
          cross("nb", "cb", "csb", "stb", "tb").as("syy"))
        .withColumn("e_xy", round(col("sxy").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double") *
            lit(1000.0)), 6))
        .withColumn("e_xx", round(col("sxx").cast("double") /
          (col("n_a").cast("double") * col("n_a").cast("double") *
            lit(1000.0)), 6))
        .withColumn("e_yy", round(col("syy").cast("double") /
          (col("n_b").cast("double") * col("n_b").cast("double") *
            lit(1000.0)), 6))
        .select(col("n_a"), col("n_b"), col("e_xy"), col("e_xx"),
          col("e_yy"),
          round(lit(2.0) * col("e_xy") - col("e_xx") - col("e_yy"), 6)
            .as("energy_d"))
  }


  /** Wasserstein-1 fold over a grouped (vq, na, nb) frame — factored out
    * so ScaleStressSpec can drive the K-rescaled CDF-gap × segment-width
    * fold at synthetic 100-TB-envelope magnitudes against a BigInt
    * reference. See the q_wasserstein comment for the discipline. */
  private[graft] def wassersteinFrom(grouped0: DataFrame): DataFrame = {
      val grouped = graft.engine.Pins.pin(grouped0
        .withColumn("vqd", col("vq").cast("double"))
        .withColumn("vq2", col("vq")))
      val tot = grouped.agg(sum(col("na")).as("ta"),
        sum(col("nb")).as("tb"))
      Dist.globalPrefixSumsWithLead(grouped, "vqd", "vq",
          weightCols = Seq("na", "nb"),
          outCumCols = Seq("cum_a", "cum_b"),
          leadCol = "vq2", outLeadCol = "next_vq", p = 32)
        .crossJoin(broadcast(tot))
        .filter(col("next_vq").isNotNull)
        .withColumn("k", expr(
          "greatest(cast(1 as bigint), (cast(ta as decimal(38,0)) *" +
            " cast(tb as decimal(38,0))) div 1000000000000)"))
        .withColumn("cd_s", expr(
          "abs(cast(cum_a as decimal(38,0)) * cast(tb as decimal(38,0))" +
            " - cast(cum_b as decimal(38,0)) * cast(ta as decimal(38,0)))" +
            " div k"))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
          (count(lit(1)) + 1).as("n_values"),
          sum(expr("cast(cd_s as decimal(38,0))" +
            " * cast(next_vq - vq as decimal(38,0))")).as("sw"),
          max(col("k")).as("k"))
        .select(col("n_a"), col("n_b"), col("n_values"),
          round(col("k").cast("double") * col("sw").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double") *
              lit(1000.0)), 6).as("w1"))
  }

  /** Cramér–von Mises fold over a cohortCdf-shaped frame (vq, na, nb,
    * cum_a, cum_b) — the SQUARED K-rescaled gap fold, factored out for
    * ScaleStressSpec. */
  private[graft] def cramerVonMisesFrom(cdf: DataFrame): DataFrame = {
      val tot = cdf.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      cdf.crossJoin(broadcast(tot))
        .withColumn("k", expr(
          "greatest(cast(1 as bigint), (cast(ta as decimal(38,0)) *" +
            " cast(tb as decimal(38,0))) div 1000000000000)"))
        .withColumn("cd_s", expr(
          "abs(cast(cum_a as decimal(38,0)) * cast(tb as decimal(38,0))" +
            " - cast(cum_b as decimal(38,0)) * cast(ta as decimal(38,0)))" +
            " div k"))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
          count(lit(1)).as("n_values"),
          sum(expr("cast(cd_s as decimal(38,0)) *" +
            " cast(cd_s as decimal(38,0)) *" +
            " cast(na + nb as decimal(38,0))")).as("sq"),
          max(col("k")).as("k"))
        .select(col("n_a"), col("n_b"), col("n_values"),
          round(col("k").cast("double") * col("k").cast("double") *
            col("sq").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double") *
              (col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double")), 6).as("t_stat"))
  }

  /** Cliff's-delta fold over a cohortCdf-shaped frame — the plain
    * decimal(38,0) dominance fold (no rescale: terms ≤ ta·tb ≤ 10²⁴ at
    * the envelope, far inside decimal(38,0)), factored out for
    * ScaleStressSpec. */
  private[graft] def cliffsDeltaFrom(cdf: DataFrame): DataFrame = {
      val tot = cdf.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      cdf.crossJoin(broadcast(tot))
        .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
          sum(expr("cast(nb as decimal(38,0)) *" +
            " cast(ta - cum_a as decimal(38,0))")).as("gt"),
          sum(expr("cast(nb as decimal(38,0)) *" +
            " cast(cum_a - na as decimal(38,0))")).as("lt"))
        .withColumn("delta", round(
          (col("gt").cast("double") - col("lt").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
        .select(col("n_a"), col("n_b"),
          col("gt").cast("double").as("n_gt"),
          col("lt").cast("double").as("n_lt"),
          col("delta"),
          when(abs(col("delta")) < 0.147, "negligible")
            .when(abs(col("delta")) < 0.33, "small")
            .when(abs(col("delta")) < 0.474, "medium")
            .otherwise("large").as("magnitude"))
  }

  /** The cohortCdf shape (cum_a/cum_b prefix columns) built from a
    * grouped (vq, na, nb) frame — the spec-side twin of [[cohortCdf]]
    * for synthetic inputs. */
  private[graft] def cdfFromGrouped(grouped: DataFrame): DataFrame =
    Dist.globalPrefixSums(
        grouped.withColumn("vqd", col("vq").cast("double")),
        "vqd", asc = true, idCol = "vq",
        weightCols = Seq("na", "nb"), outCols = Seq("cum_a", "cum_b"),
        p = 32)
      .drop("vqd")

  /** Brunner–Munzel fold over a cohortCdf-shaped frame (vq, na, nb,
    * cum_a, cum_b) — factored out so ScaleStressSpec can drive the
    * abs-before-div K-rescaled variance fold (the one with SIGNED inner
    * terms) at synthetic 100-TB-envelope magnitudes against a BigInt
    * reference. */
  private[graft] def brunnerMunzelFrom(cdf: DataFrame): DataFrame = {
      val tot = cdf.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val base = cdf.crossJoin(broadcast(tot))
        .withColumn("qa2", lit(2L) * col("cum_b") - col("nb"))
        .withColumn("qb2", lit(2L) * col("cum_a") - col("na"))
      val dsum = base.agg(
        sum(expr("cast(na as decimal(38,0)) * cast(qa2 as decimal(38,0))"))
          .as("da"),
        sum(expr("cast(nb as decimal(38,0)) * cast(qb2 as decimal(38,0))"))
          .as("db"))
      val t = base.crossJoin(broadcast(dsum))
        .withColumn("ka", expr("greatest(cast(1 as bigint), " +
          "(2 * cast(ta as decimal(38,0)) * (ta + tb)) div 1000000000000)"))
        .withColumn("kb", expr("greatest(cast(1 as bigint), " +
          "(2 * cast(tb as decimal(38,0)) * (ta + tb)) div 1000000000000)"))
        .withColumn("sa", expr("abs(cast(ta as decimal(38,0)) " +
          "* cast(qa2 as decimal(38,0)) - da) div ka"))
        .withColumn("sb", expr("abs(cast(tb as decimal(38,0)) " +
          "* cast(qb2 as decimal(38,0)) - db) div kb"))
        .agg(max(col("ta")).as("ta"), max(col("tb")).as("tb"),
          max(col("ka")).as("ka"), max(col("kb")).as("kb"),
          max(col("da")).as("da"), max(col("db")).as("db"),
          sum(expr("cast(na as decimal(38,0)) * cast(sa as decimal(38,0))" +
            " * cast(sa as decimal(38,0))")).as("tta"),
          sum(expr("cast(nb as decimal(38,0)) * cast(sb as decimal(38,0))" +
            " * cast(sb as decimal(38,0))")).as("ttb"))
      val taD = col("ta").cast("double")
      val tbD = col("tb").cast("double")
      val s2a = col("ka").cast("double") * col("ka").cast("double") *
        col("tta").cast("double") / (lit(4.0) * taD * taD * (taD - 1.0))
      val s2b = col("kb").cast("double") * col("kb").cast("double") *
        col("ttb").cast("double") / (lit(4.0) * tbD * tbD * (tbD - 1.0))
      val rdiff = col("db").cast("double") / (lit(2.0) * tbD) -
        col("da").cast("double") / (lit(2.0) * taD) + (tbD - taD) / 2.0
      val den = taD * s2a + tbD * s2b
      val w = round(taD * tbD * rdiff / ((taD + tbD) * sqrt(den)), 6)
      val dfW = den * den /
        ((taD * s2a) * (taD * s2a) / (taD - 1.0) +
          (tbD * s2b) * (tbD * s2b) / (tbD - 1.0))
      t.select(col("ta").as("n_a"), col("tb").as("n_b"),
        round(col("db").cast("double") / (lit(2.0) * taD * tbD), 6)
          .as("p_hat"),
        when(col("ta") > 1L && col("tb") > 1L && den > 0.0, w)
          .as("w_stat"),
        when(col("ta") > 1L && col("tb") > 1L && den > 0.0,
          round(dfW, 6)).as("df"),
        when(col("ta") > 1L && col("tb") > 1L && den > 0.0,
          abs(w) > 1.959964).as("reject_5pct"))
  }

  def declaredOracle: Seq[(String, String)] = Seq(
    // identical decile edges + Laplace smoothing as q_drift_psi; per-bin
    // BC and squared-Hellinger terms
    "q_bhattacharyya" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    sum(na) OVER (ORDER BY vq) AS cum_a FROM g),
        |t AS (SELECT sum(na) AS nat, sum(nb) AS nbt FROM g),
        |edges AS (SELECT i, min(vq) AS edge
        |  FROM c CROSS JOIN (SELECT unnest(range(1, 10)) AS i)
        |  CROSS JOIN t
        |  WHERE cum_a >= (i * nat + 9) // 10 GROUP BY i),
        |binned AS (SELECT g.vq, g.na, g.nb,
        |    (SELECT count(*) FROM edges WHERE edge <= g.vq) AS bin
        |  FROM g),
        |agg AS (SELECT bin, sum(na) AS n_ref, sum(nb) AS n_cur
        |  FROM binned GROUP BY bin),
        |grid AS (SELECT unnest(range(0, 10)) AS bin),
        |p AS (SELECT CAST(grid.bin AS BIGINT) AS bin,
        |    CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
        |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur,
        |    (coalesce(n_ref, 0) + 0.5) / (nat + 5.0) AS pr,
        |    (coalesce(n_cur, 0) + 0.5) / (nbt + 5.0) AS pc
        |  FROM grid LEFT JOIN agg ON agg.bin = grid.bin CROSS JOIN t)
        |SELECT bin, n_ref, n_cur,
        |  round(sqrt(pr * pc), 6) AS bc_term,
        |  round((sqrt(pr) - sqrt(pc)) * (sqrt(pr) - sqrt(pc)) / 2.0e0, 6)
        |    AS hellinger2_term
        |FROM p ORDER BY bin""".stripMargin,

    // shared cohort chain (e/b/g) mirrors cohortCdf; K-rescaled CDF gap,
    // segment widths from lead(vq); single final double division
    "q_wasserstein" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    CAST(sum(na) OVER (ORDER BY vq) AS HUGEINT) AS cum_a,
        |    CAST(sum(nb) OVER (ORDER BY vq) AS HUGEINT) AS cum_b,
        |    lead(vq) OVER (ORDER BY vq) AS next_vq
        |  FROM g),
        |t AS (SELECT CAST(sum(na) AS HUGEINT) AS ta,
        |    CAST(sum(nb) AS HUGEINT) AS tb FROM g),
        |kk AS (SELECT ta, tb,
        |    greatest(CAST(1 AS HUGEINT), (ta * tb) // 1000000000000)
        |      AS k FROM t),
        |s AS (SELECT CAST(sum(
        |      (abs(cum_a * tb - cum_b * ta) // k)
        |        * CAST(next_vq - vq AS HUGEINT)) AS HUGEINT) AS sw,
        |    CAST(count(*) + 1 AS BIGINT) AS n_values
        |  FROM c CROSS JOIN kk WHERE next_vq IS NOT NULL)
        |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |  n_values,
        |  round(CAST(k AS DOUBLE) * CAST(sw AS DOUBLE)
        |    / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE) * 1000.0e0), 6)
        |    AS w1
        |FROM s CROSS JOIN kk""".stripMargin,

    // same chain; squared K-rescaled gap weighted by the value's
    // multiplicity; T = k^2 * sq / (ta*tb*(ta+tb)^2)
    "q_cramer_von_mises" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    CAST(sum(na) OVER (ORDER BY vq) AS HUGEINT) AS cum_a,
        |    CAST(sum(nb) OVER (ORDER BY vq) AS HUGEINT) AS cum_b
        |  FROM g),
        |t AS (SELECT CAST(sum(na) AS HUGEINT) AS ta,
        |    CAST(sum(nb) AS HUGEINT) AS tb FROM g),
        |kk AS (SELECT ta, tb,
        |    greatest(CAST(1 AS HUGEINT), (ta * tb) // 1000000000000)
        |      AS k FROM t),
        |s AS (SELECT CAST(sum(
        |      (abs(cum_a * tb - cum_b * ta) // k)
        |        * (abs(cum_a * tb - cum_b * ta) // k)
        |        * CAST(na + nb AS HUGEINT)) AS HUGEINT) AS sq,
        |    CAST(count(*) AS BIGINT) AS n_values
        |  FROM c CROSS JOIN kk)
        |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |  n_values,
        |  round(CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
        |      * CAST(sq AS DOUBLE)
        |    / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |      * CAST(ta + tb AS DOUBLE) * CAST(ta + tb AS DOUBLE)), 6)
        |    AS t_stat
        |FROM s CROSS JOIN kk""".stripMargin,

    // cross-pair dominance counts off the cumulative frame (linear,
    // never the quadratic pairing); magnitude bands on the rounded value
    "q_cliffs_delta" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    CAST(sum(na) OVER (ORDER BY vq) AS HUGEINT) AS cum_a
        |  FROM g),
        |t AS (SELECT CAST(sum(na) AS HUGEINT) AS ta,
        |    CAST(sum(nb) AS HUGEINT) AS tb FROM g),
        |s AS (SELECT
        |    CAST(sum(CAST(nb AS HUGEINT) * (ta - cum_a)) AS HUGEINT)
        |      AS gt,
        |    CAST(sum(CAST(nb AS HUGEINT) * (cum_a - na)) AS HUGEINT)
        |      AS lt
        |  FROM c CROSS JOIN t),
        |r AS (SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |    CAST(gt AS DOUBLE) AS n_gt, CAST(lt AS DOUBLE) AS n_lt,
        |    round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
        |      / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 6) AS delta
        |  FROM s CROSS JOIN t)
        |SELECT n_a, n_b, n_gt, n_lt, delta,
        |  CASE WHEN abs(delta) < 0.147e0 THEN 'negligible'
        |       WHEN abs(delta) < 0.33e0 THEN 'small'
        |       WHEN abs(delta) < 0.474e0 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM r""".stripMargin,

    // placements off the cohort CDF; abs-before-// keeps the K-rescaled
    // integer division sign-safe; mirrored double finals
    "q_brunner_munzel" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    CAST(sum(na) OVER (ORDER BY vq) AS HUGEINT) AS cum_a,
        |    CAST(sum(nb) OVER (ORDER BY vq) AS HUGEINT) AS cum_b
        |  FROM g),
        |t AS (SELECT CAST(sum(na) AS HUGEINT) AS ta,
        |    CAST(sum(nb) AS HUGEINT) AS tb FROM g),
        |q AS (SELECT na, nb, 2 * cum_b - nb AS qa2,
        |    2 * cum_a - na AS qb2 FROM c),
        |ds AS (SELECT CAST(sum(CAST(na AS HUGEINT) * qa2) AS HUGEINT)
        |      AS da,
        |    CAST(sum(CAST(nb AS HUGEINT) * qb2) AS HUGEINT) AS db
        |  FROM q),
        |kk AS (SELECT greatest(CAST(1 AS HUGEINT),
        |      (2 * ta * (ta + tb)) // 1000000000000) AS ka,
        |    greatest(CAST(1 AS HUGEINT),
        |      (2 * tb * (ta + tb)) // 1000000000000) AS kb
        |  FROM t),
        |s AS (SELECT
        |    CAST(sum(CAST(na AS HUGEINT)
        |      * (abs(ta * qa2 - da) // ka)
        |      * (abs(ta * qa2 - da) // ka)) AS HUGEINT) AS tta,
        |    CAST(sum(CAST(nb AS HUGEINT)
        |      * (abs(tb * qb2 - db) // kb)
        |      * (abs(tb * qb2 - db) // kb)) AS HUGEINT) AS ttb
        |  FROM q CROSS JOIN t CROSS JOIN ds CROSS JOIN kk),
        |f AS (SELECT CAST(ta AS DOUBLE) AS tad, CAST(tb AS DOUBLE)
        |      AS tbd,
        |    CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |    CAST(ka AS DOUBLE) * CAST(ka AS DOUBLE)
        |      * CAST(tta AS DOUBLE)
        |      / (4.0e0 * CAST(ta AS DOUBLE) * CAST(ta AS DOUBLE)
        |        * (CAST(ta AS DOUBLE) - 1.0e0)) AS s2a,
        |    CAST(kb AS DOUBLE) * CAST(kb AS DOUBLE)
        |      * CAST(ttb AS DOUBLE)
        |      / (4.0e0 * CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE)
        |        * (CAST(tb AS DOUBLE) - 1.0e0)) AS s2b,
        |    CAST(db AS DOUBLE) / (2.0e0 * CAST(tb AS DOUBLE))
        |      - CAST(da AS DOUBLE) / (2.0e0 * CAST(ta AS DOUBLE))
        |      + (CAST(tb AS DOUBLE) - CAST(ta AS DOUBLE)) / 2.0e0
        |      AS rdiff,
        |    CAST(da AS DOUBLE) AS dad, CAST(db AS DOUBLE) AS dbd
        |  FROM t CROSS JOIN ds CROSS JOIN kk CROSS JOIN s),
        |r AS (SELECT n_a, n_b, tad, tbd,
        |    round(dbd / (2.0e0 * tad * tbd), 6) AS p_hat,
        |    tad * s2a + tbd * s2b AS den,
        |    round(tad * tbd * rdiff
        |      / ((tad + tbd) * sqrt(tad * s2a + tbd * s2b)), 6) AS w,
        |    (tad * s2a + tbd * s2b) * (tad * s2a + tbd * s2b)
        |      / ((tad * s2a) * (tad * s2a) / (tad - 1.0e0)
        |        + (tbd * s2b) * (tbd * s2b) / (tbd - 1.0e0)) AS dfw
        |  FROM f)
        |SELECT n_a, n_b, p_hat,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND den > 0 THEN w END
        |    AS w_stat,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND den > 0 THEN round(dfw, 6)
        |    END AS df,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND den > 0
        |    THEN abs(w) > 1.959964e0 END AS reject_5pct
        |FROM r""".stripMargin,

    // four cumulative series off one chain; cross-sums of |x-y| via the
    // prefix identity; V-statistic form (diagonal included); energy from
    // the ROUNDED component values, as the Spark side computes it
    "q_energy_distance" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |kk AS (SELECT greatest(CAST(1 AS HUGEINT),
        |    (CAST(sum(na + nb) AS HUGEINT)
        |      * CAST(max(abs(vq)) AS HUGEINT))
        |      // 1000000000000000) AS k FROM g),
        |g2 AS (SELECT vq, na, nb,
        |    CASE WHEN vq >= 0 THEN (CAST(na AS HUGEINT) * vq) // k
        |      ELSE -((CAST(na AS HUGEINT) * (-vq)) // k) END AS sa,
        |    CASE WHEN vq >= 0 THEN (CAST(nb AS HUGEINT) * vq) // k
        |      ELSE -((CAST(nb AS HUGEINT) * (-vq)) // k) END AS sb
        |  FROM g CROSS JOIN kk),
        |c AS (SELECT vq, na, nb,
        |    CAST(sum(na) OVER w AS HUGEINT) AS ca,
        |    CAST(sum(nb) OVER w AS HUGEINT) AS cb,
        |    CAST(sum(sa) OVER w AS HUGEINT) AS csa,
        |    CAST(sum(sb) OVER w AS HUGEINT) AS csb
        |  FROM g2 WINDOW w AS (ORDER BY vq)),
        |t AS (SELECT CAST(sum(na) AS HUGEINT) AS ta,
        |    CAST(sum(nb) AS HUGEINT) AS tb,
        |    CAST(sum(sa) AS HUGEINT) AS sta,
        |    CAST(sum(sb) AS HUGEINT) AS stb FROM g2),
        |m AS (SELECT
        |    CAST(sum(CAST(na AS HUGEINT) * (CAST(vq AS HUGEINT)
        |      * (2 * cb - tb) + k * (stb - 2 * csb)))
        |      AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(na AS HUGEINT) * (CAST(vq AS HUGEINT)
        |      * (2 * ca - ta) + k * (sta - 2 * csa)))
        |      AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(nb AS HUGEINT) * (CAST(vq AS HUGEINT)
        |      * (2 * cb - tb) + k * (stb - 2 * csb)))
        |      AS HUGEINT) AS syy
        |  FROM c CROSS JOIN t CROSS JOIN kk),
        |r AS (SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |    round(CAST(sxy AS DOUBLE) / (CAST(ta AS DOUBLE)
        |      * CAST(tb AS DOUBLE) * 1000.0e0), 6) AS e_xy,
        |    round(CAST(sxx AS DOUBLE) / (CAST(ta AS DOUBLE)
        |      * CAST(ta AS DOUBLE) * 1000.0e0), 6) AS e_xx,
        |    round(CAST(syy AS DOUBLE) / (CAST(tb AS DOUBLE)
        |      * CAST(tb AS DOUBLE) * 1000.0e0), 6) AS e_yy
        |  FROM m CROSS JOIN t)
        |SELECT n_a, n_b, e_xy, e_xx, e_yy,
        |  round(2.0e0 * e_xy - e_xx - e_yy, 6) AS energy_d
        |FROM r""".stripMargin,

    "q_drift_ks" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    sum(na) OVER (ORDER BY vq) AS cum_a,
        |    sum(nb) OVER (ORDER BY vq) AS cum_b,
        |    sum(na) OVER () AS ta, sum(nb) OVER () AS tb
        |  FROM g),
        |d AS (SELECT vq, ta, tb,
        |    abs(cum_a * tb - cum_b * ta) AS d_num
        |  FROM c)
        |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |  round(CAST(d_num AS DOUBLE) / (CAST(ta AS DOUBLE) * tb), 6)
        |    AS ks,
        |  CAST(vq AS DOUBLE) / 1000.0 AS ks_at
        |FROM d ORDER BY d_num DESC, vq ASC LIMIT 1""".stripMargin,

    "q_drift_psi" ->
      """WITH e AS (SELECT
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT vq,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS nb
        |  FROM e CROSS JOIN b GROUP BY vq),
        |c AS (SELECT vq, na, nb,
        |    sum(na) OVER (ORDER BY vq) AS cum_a FROM g),
        |t AS (SELECT sum(na) AS nat, sum(nb) AS nbt FROM g),
        |edges AS (SELECT i, min(vq) AS edge
        |  FROM c CROSS JOIN (SELECT unnest(range(1, 10)) AS i)
        |  CROSS JOIN t
        |  WHERE cum_a >= (i * nat + 9) // 10 GROUP BY i),
        |binned AS (SELECT g.vq, g.na, g.nb,
        |    (SELECT count(*) FROM edges WHERE edge <= g.vq) AS bin
        |  FROM g),
        |agg AS (SELECT bin, sum(na) AS n_ref, sum(nb) AS n_cur
        |  FROM binned GROUP BY bin),
        |grid AS (SELECT unnest(range(0, 10)) AS bin)
        |SELECT CAST(grid.bin AS BIGINT) AS bin,
        |  CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
        |  CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur,
        |  round(
        |    ((coalesce(n_cur, 0) + 0.5) / (nbt + 5.0)
        |      - (coalesce(n_ref, 0) + 0.5) / (nat + 5.0))
        |    * ln(((coalesce(n_cur, 0) + 0.5) / (nbt + 5.0))
        |        / ((coalesce(n_ref, 0) + 0.5) / (nat + 5.0))), 6)
        |    AS psi_term
        |FROM grid LEFT JOIN agg ON agg.bin = grid.bin CROSS JOIN t
        |ORDER BY grid.bin""".stripMargin,

    "q_chi2_select" ->
      """WITH ct AS (SELECT lang, source, count(*) AS o
        |  FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, count(*) AS rt FROM documents GROUP BY lang),
        |st AS (SELECT source, count(*) AS st FROM documents
        |  GROUP BY source),
        |n AS (SELECT count(*) AS n FROM documents),
        |grid AS (SELECT rt.lang, st.source, rt.rt, st.st,
        |    coalesce(ct.o, 0) AS o, n.n
        |  FROM rt CROSS JOIN st CROSS JOIN n
        |  LEFT JOIN ct ON ct.lang = rt.lang AND ct.source = st.source),
        |terms AS (SELECT lang, rt, st, n, o,
        |    CAST(rt AS DOUBLE) * st / n AS e_in,
        |    CAST(n - rt AS DOUBLE) * st / n AS e_out
        |  FROM grid)
        |SELECT lang, CAST(max(rt) AS BIGINT) AS n_docs,
        |  round(sum(pow(o - e_in, 2) / e_in
        |    + pow((st - o) - e_out, 2) / e_out), 6) AS chi2,
        |  (SELECT count(*) - 1 FROM st) AS dof
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,

    // identical FP shapes: p/q/m computed once in a staged CTE, every
    // reference reuses the same double value (Spark's column reuse
    // inlines the identical expression tree — same ops, same bits)
    "q_js_divergence" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |g AS (SELECT event_type,
        |    sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS n_ref,
        |    sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS n_cur
        |  FROM e CROSS JOIN b GROUP BY event_type),
        |t AS (SELECT sum(n_ref) AS ta, sum(n_cur) AS tb,
        |    count(*) AS k FROM g),
        |pq AS (SELECT event_type, n_ref, n_cur,
        |    (CAST(n_ref AS DOUBLE) + 0.5)
        |      / (CAST(ta AS DOUBLE) + 0.5 * k) AS p,
        |    (CAST(n_cur AS DOUBLE) + 0.5)
        |      / (CAST(tb AS DOUBLE) + 0.5 * k) AS q
        |  FROM g CROSS JOIN t),
        |pm AS (SELECT *, (p + q) / 2.0 AS m FROM pq)
        |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  round(p, 6) AS p_ref, round(q, 6) AS p_cur,
        |  floor((p * ln(p / m) + q * ln(q / m)) / 2.0 * 1e6 + 0.5) / 1e6
        |    AS js_term
        |FROM pm ORDER BY event_type""".stripMargin,

    // integer micro-units end to end: day means, μ, k, h quantized before
    // any accumulation, running sums exact, alarm boundary integer
    "q_cusum" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq
        |  FROM events),
        |g AS (SELECT day, count(*) AS n, sum(vq) AS sq
        |  FROM e GROUP BY day),
        |g2 AS (SELECT day, n, sq, (sq * 1000) // n AS xm FROM g),
        |t AS (SELECT sum(sq) AS tsq, sum(n) AS tn, count(*) AS nd,
        |    sum(xm) AS s1, sum(xm * xm) AS s2 FROM g2),
        |p AS (SELECT g2.*, (tsq * 1000) // tn AS mu,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd)
        |      / nd) AS sd
        |  FROM g2 CROSS JOIN t),
        |k AS (SELECT *, CAST(floor(sd * 0.5 + 0.5) AS BIGINT) AS kq,
        |    CAST(floor(sd * 4.0 + 0.5) AS BIGINT) AS hq FROM p),
        |c AS (SELECT *,
        |    sum(xm - mu - kq) OVER (ORDER BY day) AS cp,
        |    sum(mu - kq - xm) OVER (ORDER BY day) AS cm FROM k),
        |sc AS (SELECT *,
        |    cp - least(0, min(cp) OVER (ORDER BY day)) AS shi,
        |    cm - least(0, min(cm) OVER (ORDER BY day)) AS slo FROM c)
        |SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |  CAST(xm AS DOUBLE) / 1e6 AS xbar,
        |  CAST(shi AS DOUBLE) / 1e6 AS cusum_hi,
        |  CAST(slo AS DOUBLE) / 1e6 AS cusum_lo,
        |  (shi > hq OR slo > hq) AS alarm
        |FROM sc ORDER BY day""".stripMargin,

    "q_page_hinkley" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS vq
        |  FROM events),
        |g AS (SELECT day, count(*) AS n, CAST(sum(vq) AS BIGINT) AS sq
        |  FROM e GROUP BY day),
        |g2 AS (SELECT day, n, sq, (sq * 1000) // n AS xm FROM g),
        |t AS (SELECT count(*) AS nd, CAST(sum(xm) AS BIGINT) AS s1,
        |    CAST(sum(xm * xm) AS BIGINT) AS s2 FROM g2),
        |p AS (SELECT g2.*,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd)
        |      / nd) AS sd
        |  FROM g2 CROSS JOIN t),
        |k AS (SELECT *, CAST(floor(sd * 0.1 + 0.5) AS BIGINT) AS dq,
        |    CAST(floor(sd * 5.0 + 0.5) AS BIGINT) AS lq FROM p),
        |c AS (SELECT *,
        |    (CAST(sum(sq) OVER (ORDER BY day) AS BIGINT) * 1000)
        |      // CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS xbar
        |  FROM k),
        |m AS (SELECT *,
        |    CAST(sum(xm - xbar - dq) OVER (ORDER BY day) AS BIGINT) AS mt
        |  FROM c),
        |f AS (SELECT *,
        |    mt - least(0, min(mt) OVER (ORDER BY day)) AS ph FROM m)
        |SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |  CAST(xbar AS DOUBLE) / 1e6 AS run_mean,
        |  CAST(ph AS DOUBLE) / 1e6 AS ph_stat,
        |  ph > lq AS alarm
        |FROM f ORDER BY day""".stripMargin
  )
}
