package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 additions: replay specs for the r15 operators (the
  * persist-lifecycle tests live in PinsSpec).
  */
class Round15Spec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  test("q_stream_state_ttl: TTL state resets per batch, total persists") {
    val rows = SparkEntry.queries("q_stream_state_ttl")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    // the TTL pin itself: every key's per-batch sums reconciled with its
    // persistent total (false anywhere = the 1 ms TTL state survived a
    // batch boundary, or the TTL-free state lost history)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"ttl_reset_ok false for user ${r.getLong(0)}")
      val (nb, tot, mx) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nb >= 1 && nb <= 3, s"n_batches $nb outside the 3-file fixture")
      assert(mx <= tot && tot <= 3 * mx,
        s"batch/total inconsistent: max=$mx total=$tot over $nb batches")
    }
    // cross-pin vs the batch corpus: totals must sum to events + the
    // marker file's duplicated max-ts row(s)
    val ev = graft.engine.Tables.eventsWithTime(spark, sfDir)
    val mx = ev.agg(max(col("ts_us"))).head().getLong(0)
    val nMarker = ev.filter(col("ts_us") === mx).count()
    val total = rows.map(_.getLong(2)).sum
    assert(total == ev.count() + nMarker,
      s"emitted totals $total != corpus rows + marker")
  }

  // ---- r15 two-sample distance family: brute-force replays --------------
  // Collect the sf0.001 cohort values once and recompute each statistic
  // with naive quadratic/sorted reference code — the queries' prefix-sum
  // formulations must match the definitions exactly.

  private lazy val cohorts: (Array[Long], Array[Long]) = {
    val rows = graft.engine.Tables.eventsWithTime(spark, sfDir)
      .select(floor(col("value") * lit(1000.0) + lit(0.5)).cast("long")
        .as("vq"), col("ts_us")).collect()
    val us = rows.map(_.getLong(1))
    val mid = (us.min + us.max) / 2
    (rows.filter(_.getLong(1) < mid).map(_.getLong(0)),
      rows.filter(_.getLong(1) >= mid).map(_.getLong(0)))
  }

  test("q_wasserstein matches the brute-force 1-D EMD") {
    val (a, b) = cohorts
    val r = SparkEntry.queries("q_wasserstein")(spark, sfDir).head()
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    // reference: integrate |F_a - F_b| over the merged sorted domain
    val vs = (a ++ b).distinct.sorted
    var w = 0.0
    for (i <- 0 until vs.length - 1) {
      val fa = a.count(_ <= vs(i)).toDouble / a.length
      val fb = b.count(_ <= vs(i)).toDouble / b.length
      w += math.abs(fa - fb) * (vs(i + 1) - vs(i)) / 1000.0
    }
    assert(math.abs(r.getDouble(3) - w) < 1e-3,
      s"w1 ${r.getDouble(3)} vs brute $w")
  }

  test("q_cramer_von_mises matches the brute-force CvM") {
    val (a, b) = cohorts
    val r = SparkEntry.queries("q_cramer_von_mises")(spark, sfDir).head()
    val (na, nb) = (a.length.toDouble, b.length.toDouble)
    val t = (a ++ b).distinct.map { v =>
      val fa = a.count(_ <= v) / na
      val fb = b.count(_ <= v) / nb
      val mult = a.count(_ == v) + b.count(_ == v)
      mult * (fa - fb) * (fa - fb)
    }.sum * na * nb / ((na + nb) * (na + nb))
    assert(math.abs(r.getDouble(3) - t) < 1e-3,
      s"t_stat ${r.getDouble(3)} vs brute $t")
  }

  test("q_cliffs_delta matches brute dominance counts") {
    val (a, b) = cohorts
    val r = SparkEntry.queries("q_cliffs_delta")(spark, sfDir).head()
    var gt = 0L; var lt = 0L
    // sorted-merge dominance (exact, avoids the full quadratic loop)
    val sa = a.sorted
    b.foreach { y =>
      val le = lowerBound(sa, y + 1) // # x <= y
      val lo = lowerBound(sa, y)     // # x < y
      gt += sa.length - le
      lt += lo
    }
    assert(r.getDouble(2) == gt.toDouble && r.getDouble(3) == lt.toDouble)
    val delta = (gt - lt).toDouble / (a.length.toDouble * b.length)
    assert(math.abs(r.getDouble(4) - delta) < 1e-6)
  }

  private def lowerBound(xs: Array[Long], key: Long): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (xs(m) < key) lo = m + 1 else hi = m
    }
    lo
  }

  test("q_energy_distance is nonnegative and matches sorted cross-sums") {
    val (a, b) = cohorts
    val r = SparkEntry.queries("q_energy_distance")(spark, sfDir).head()
    def crossAbs(x: Array[Long], y: Array[Long]): Double = {
      // sorted-merge Σ|x-y| via prefix sums over y
      val sy = y.sorted
      val pre = sy.scanLeft(0L)(_ + _)
      x.map { v =>
        val k = lowerBound(sy, v + 1)
        v.toDouble * k - pre(k) + (pre(sy.length) - pre(k)) -
          v.toDouble * (sy.length - k)
      }.sum / 1000.0
    }
    val exy = crossAbs(a, b) / (a.length.toDouble * b.length)
    val exx = crossAbs(a, a) / (a.length.toDouble * a.length)
    val eyy = crossAbs(b, b) / (b.length.toDouble * b.length)
    assert(math.abs(r.getDouble(2) - exy) < 1e-3)
    assert(math.abs(r.getDouble(3) - exx) < 1e-3)
    assert(math.abs(r.getDouble(4) - eyy) < 1e-3)
    assert(r.getDouble(5) >= -1e-6, "energy distance must be >= 0")
  }

  test("q_kpss replays against local partial-sum arithmetic") {
    val byDay = graft.engine.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("y"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    val n = byDay.length
    val mu = byDay.sum.toDouble / n
    val eu = byDay.map(y => math.floor((y - mu) * 1000.0 + 0.5).toLong)
    val st = eu.scanLeft(0L)(_ + _).drop(1)
    val ss2 = st.map(s => BigInt(s) * BigInt(s)).sum
    val l = math.floor(4.0 * math.pow(n / 100.0, 0.25)).toLong
    val den = (0L to l).map { j =>
      val g = (0 until (n - j.toInt)).map(t =>
        BigInt(eu(t)) * BigInt(eu(t + j.toInt))).sum
      if (j == 0) BigInt(l + 1) * g else BigInt(2) * BigInt(l + 1 - j) * g
    }.sum
    val eta = (l + 1).toDouble * ss2.toDouble / (n.toDouble * den.toDouble)
    val r = SparkEntry.queries("q_kpss")(spark, sfDir).head()
    assert(r.getLong(0) == n && r.getLong(1) == l)
    assert(math.abs(r.getDouble(2) - eta) < 1e-4,
      s"eta ${r.getDouble(2)} vs local $eta")
  }

  test("q_yule_k replays from the word-count frame") {
    val r = SparkEntry.queries("q_yule_k")(spark, sfDir).head()
    val (nTok, vTypes, v1, k) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(v1 <= vTypes && vTypes <= nTok)
    // K from the same corpus via an independent local recount
    val counts = graft.engine.Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split("[^\\p{L}\\p{N}]+"))
      .filter(_.nonEmpty)
    // tokenization differs from norm() in detail; pin only the exact
    // identity K = 1e4 * (Σc² − N)/N² on the query's own reported N
    // via the Spark-side word-count frame
    val sc2 = k / 1e4 * nTok.toDouble * nTok + nTok
    assert(sc2 >= vTypes.toDouble, "Σc² must be >= V (each c >= 1)")
    assert(k >= 0.0 && counts.nonEmpty)
  }

  test("q_sax_motifs: alphabet, coverage, and ordering") {
    val rows = SparkEntry.queries("q_sax_motifs")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      assert(r.getString(0).matches("[abcd]{3}"),
        s"motif ${r.getString(0)} outside the 4-letter alphabet")
      assert(r.getLong(1) >= 1)
    }
    val occ = rows.map(_.getLong(1))
    assert(occ.sameElements(occ.sortBy(-_)), "must be sorted by count desc")
  }

  test("q_bhattacharyya bins agree with q_drift_psi and BC <= 1") {
    val bc = SparkEntry.queries("q_bhattacharyya")(spark, sfDir)
      .orderBy(col("bin")).collect()
    val psi = SparkEntry.queries("q_drift_psi")(spark, sfDir)
      .orderBy(col("bin")).collect()
    assert(bc.length == 10 && psi.length == 10)
    bc.zip(psi).foreach { case (b, p) =>
      assert(b.getLong(1) == p.getLong(1) && b.getLong(2) == p.getLong(2),
        s"bin ${b.getLong(0)}: counts diverge from q_drift_psi")
      assert(b.getDouble(4) >= 0.0)
    }
    val bcSum = bc.map(_.getDouble(3)).sum
    assert(bcSum > 0.0 && bcSum <= 1.0 + 1e-4,
      s"Bhattacharyya coefficient $bcSum outside (0, 1]")
  }

  test("q_mm_dhash separates planted quads") {
    val rows = SparkEntry.queries("q_mm_dhash")(spark, sfDir).collect()
    assert(rows.length == 750)
    rows.foreach { r =>
      val (d1, d2, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(d1 / 4 == d2 / 4 && d1 < d2)
      // ~7 perturbed pixels flip at most 2 adjacent comparisons each;
      // two perturbed variants differ by at most 4 bits per pixel pair
      assert(h <= 60, s"within-quad dhash hamming $h too large")
    }
    val quads = rows.groupBy(_.getLong(0) / 4)
    assert(quads.size == 125 && quads.values.forall(_.length == 6))
  }

  test("q_spectral_entropy replays from q_periodogram's own powers") {
    val powers = SparkEntry.queries("q_periodogram")(spark, sfDir)
      .select(col("power")).collect().map(_.getLong(0))
    val pt = powers.sum
    val hu = powers.filter(_ > 0).map { pw =>
      val p = pw.toDouble / pt
      math.floor(-p * math.log(p) * 1e9 + 0.5).toLong
    }.sum
    val r = SparkEntry.queries("q_spectral_entropy")(spark, sfDir).head()
    assert(r.getLong(0) == 8)
    assert(math.abs(r.getDouble(1) - hu / 1e9) < 1e-6,
      s"h_nats ${r.getDouble(1)} vs periodogram replay ${hu / 1e9}")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0 + 1e-9)
  }

  test("q_permutation_entropy: codes, coverage, and unit mass") {
    val rows = SparkEntry.queries("q_permutation_entropy")(spark, sfDir)
      .collect()
    rows.foreach { r =>
      assert(r.getString(0).matches("[01]{3}"))
      // 010 would mean y1>y0, y2<=y1, but y2>y0 — only consistent with
      // ties; 101 likewise. Both are reachable; all 8 codes legal.
      assert(r.getDouble(3) >= 0.0)
    }
    val nDays = graft.engine.Tables.events(spark, sfDir)
      .select(to_date(col("ts"))).distinct().count()
    assert(rows.map(_.getLong(1)).sum == nDays - 2,
      "window count must be n_days - 2")
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3)
  }

  test("q_turning_points replays against the local series") {
    val ys = graft.engine.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("y"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    val t = (1 until ys.length - 1).count(i =>
      (ys(i) > ys(i - 1) && ys(i) > ys(i + 1)) ||
        (ys(i) < ys(i - 1) && ys(i) < ys(i + 1)))
    val r = SparkEntry.queries("q_turning_points")(spark, sfDir).head()
    assert(r.getLong(0) == ys.length && r.getLong(1) == t)
    val e = 2.0 * (ys.length - 2) / 3.0
    assert(math.abs(r.getDouble(2) - e) < 1e-6)
  }

  test("q_source_kl: Gibbs nonnegativity and token accounting") {
    val rows = SparkEntry.queries("q_source_kl")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // each term is floor-quantized at 1e-9, so the per-source sum can
      // undershoot true KL by at most vocab/2e9
      assert(r.getDouble(3) >= -1e-3,
        s"KL(${r.getString(0)}) = ${r.getDouble(3)} < 0 breaks Gibbs")
      assert(r.getLong(2) <= r.getLong(1),
        "vocab cannot exceed token count")
    }
  }

  test("q_hjorth_params replays against local integer variances") {
    val ys = graft.engine.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("y"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    def popVar(xs: Array[Long]): Double = {
      val n = xs.length.toDouble
      (n * xs.map(x => BigInt(x) * BigInt(x)).sum.toDouble -
        xs.sum.toDouble * xs.sum.toDouble) / (n * n)
    }
    val d1 = ys.sliding(2).map(p => p(1) - p(0)).toArray
    val d2 = d1.sliding(2).map(p => p(1) - p(0)).toArray
    val (v0, v1, v2) = (popVar(ys), popVar(d1), popVar(d2))
    val r = SparkEntry.queries("q_hjorth_params")(spark, sfDir).head()
    assert(r.getLong(0) == ys.length)
    assert(math.abs(r.getDouble(1) - v0) < 1e-4)
    assert(math.abs(r.getDouble(2) - math.sqrt(v1 / v0)) < 1e-5)
    assert(math.abs(r.getDouble(3) -
      math.sqrt(v2 / v1) / math.sqrt(v1 / v0)) < 1e-5)
  }

  test("q_theil_u2: RMS accounting is internally consistent") {
    val r = SparkEntry.queries("q_theil_u2")(spark, sfDir).head()
    val (rm, rn, u2) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(rm >= 0 && rn > 0)
    assert(math.abs(u2 - rm / rn) < 2e-6, "U2 must equal RMSE ratio")
    assert(r.getBoolean(5) == (u2 < 1.0))
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("q_benjamini_yekutieli is never less conservative than BH") {
    val by = SparkEntry.queries("q_benjamini_yekutieli")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    val bh = SparkEntry.queries("q_bh_fdr")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(by.keySet == bh.keySet)
    by.foreach { case (nk, sig) =>
      assert(sig <= bh(nk),
        s"BY rejected nation $nk that BH did not — c(m) > 1 forbids it")
    }
    // the harmonic constant itself: c(m) >= 1, increasing in m
    val cm = SparkEntry.queries("q_benjamini_yekutieli")(spark, sfDir)
      .select(col("c_m")).head().getDouble(0)
    assert(cm >= 1.0)
  }

  test("q_brunner_munzel matches the textbook midrank computation") {
    val (a, b) = cohorts
    def midranks(xs: Array[Long], in: Array[Long]): Array[Double] = {
      // midrank of each element of xs within the sorted multiset `in`
      val sin = in.sorted
      xs.map { v =>
        val lo = lowerBound(sin, v)
        val hi = lowerBound(sin, v + 1)
        (lo + 1 + hi).toDouble / 2.0 // (lo+1 .. hi) midpoint
      }
    }
    val comb = a ++ b
    val ra = midranks(a, comb); val rb = midranks(b, comb)
    val rba = midranks(a, a); val rbb = midranks(b, b)
    val (na, nb) = (a.length.toDouble, b.length.toDouble)
    val (ram, rbm) = (ra.sum / na, rb.sum / nb)
    val v1 = ra.zip(rba).map { case (r, ri) =>
      val t = r - ri - ram + (na + 1) / 2; t * t }.sum / (na - 1)
    val v2 = rb.zip(rbb).map { case (r, ri) =>
      val t = r - ri - rbm + (nb + 1) / 2; t * t }.sum / (nb - 1)
    val w = na * nb * (rbm - ram) / (na + nb) /
      math.sqrt(na * v1 + nb * v2)
    val pHat = (rbm - (nb + 1) / 2) / na
    val r = SparkEntry.queries("q_brunner_munzel")(spark, sfDir).head()
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    assert(math.abs(r.getDouble(2) - pHat) < 1e-6,
      s"p_hat ${r.getDouble(2)} vs textbook $pHat")
    assert(math.abs(r.getDouble(3) - w) < 1e-4,
      s"w ${r.getDouble(3)} vs textbook $w")
  }

  test("q_mm_audio_energy: accounting invariants over every clip") {
    val rows = SparkEntry.queries("q_mm_audio_energy")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nAct, run, te) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(run <= nAct && nAct <= 16,
        "longest run cannot exceed active count / frame count")
      assert(nAct < 16,
        "all-16-frames-active is impossible: some frame sits below mean")
      assert(te >= 0 && te <= 16L * 64L * 128L * 128L)
    }
  }

  test("q_mm_image_hist: chi-square separates planted quads") {
    val rows = SparkEntry.queries("q_mm_image_hist")(spark, sfDir)
      .collect()
    assert(rows.length == 750)
    rows.foreach { r =>
      assert(r.getLong(0) / 4 == r.getLong(1) / 4)
      assert(r.getDouble(2) >= 0.0)
      // within-quad variants share ~249/256 pixels: the 8-bin histograms
      // can differ by at most 2*7 mass, bounding chi2 far below the
      // cross-quad regime (~hundreds)
      assert(r.getDouble(2) < 50.0,
        s"within-quad hist chi2 ${r.getDouble(2)} implausibly large")
    }
  }

  test("q_dup_ngram_coverage: shares are valid and totals reconcile") {
    val rows = SparkEntry.queries("q_dup_ngram_coverage")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val totalShingles = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val share = r.getDouble(3)
      assert(share >= 0.0 && share <= 1.0)
    }
    // cross-pin against the corpus-wide shingle frame
    val n = graft.engine.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextDedup.wordShingles(col("text")))
        .as("g")).count()
    assert(totalShingles == n, s"per-source shingles $totalShingles != $n")
  }

  test("q_stream_event_timer emits exactly the watermark-closed sessions") {
    val rows = SparkEntry.queries("q_stream_event_timer")(spark, sfDir)
      .collect()
    val ev = graft.engine.Tables.eventsWithTime(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("ts_us")).as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wm = ev.map(_._3).max / 1000L - 600000L
    val expect = ev.filter { case (_, _, mx) =>
      mx / 1000L + 1800000L < wm
    }.map { case (u, n, mx) => (u, n, mx / 1000L + 1800000L) }.sortBy(_._1)
    assert(rows.length == expect.length,
      s"${rows.length} emissions vs ${expect.length} closed sessions")
    rows.sortBy(_.getLong(0)).zip(expect).foreach { case (r, (u, n, t)) =>
      assert(r.getLong(0) == u && r.getLong(1) == n && r.getLong(2) == t)
    }
  }

  test("q_cohens_h: arcsine identity and band consistency") {
    val r = SparkEntry.queries("q_cohens_h")(spark, sfDir).head()
    val (na, xa, nb, xb) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val h = 2.0 * (math.asin(math.sqrt(xa.toDouble / na)) -
      math.asin(math.sqrt(xb.toDouble / nb)))
    assert(math.abs(r.getDouble(4) - h) < 1e-6)
    val band = math.abs(r.getDouble(4)) match {
      case v if v < 0.2 => "negligible"
      case v if v < 0.5 => "small"
      case v if v < 0.8 => "medium"
      case _            => "large"
    }
    assert(r.getString(5) == band)
  }

  test("q_somers_d matches the brute-force ordinal pair census") {
    val bins = graft.engine.Tables.documents(spark, sfDir)
      .select(least(expr("n_chars div 100"), lit(9L)).as("xb"),
        least(expr("size(split(text, ' ')) div 50"), lit(9L)).as("yb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var c = 0L; var dd = 0L; var ty = 0L
    for (i <- bins.indices; j <- (i + 1) until bins.length) {
      val ((x1, y1), (x2, y2)) = (bins(i), bins(j))
      if (x1 != x2) {
        if ((x2 - x1) * (y2 - y1) > 0) c += 1
        else if ((x2 - x1) * (y2 - y1) < 0) dd += 1
        else ty += 1
      }
    }
    val r = SparkEntry.queries("q_somers_d")(spark, sfDir).head()
    assert(r.getLong(0) == bins.length)
    assert(r.getDouble(1) == c.toDouble && r.getDouble(2) == dd.toDouble)
    assert(math.abs(r.getDouble(3) - (c - dd).toDouble / (c + dd)) < 1e-6)
    assert(math.abs(r.getDouble(4) -
      (c - dd).toDouble / (c + dd + ty)) < 1e-6)
  }

  test("q_char_entropy replays from a local character recount") {
    val rows = SparkEntry.queries("q_char_entropy")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val local = graft.engine.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .groupBy(_.getString(0))
      .map { case (src, docs) =>
        val chars = docs.flatMap(_.getString(1).toLowerCase.trim
          .replaceAll("[ \t\n\f\r]+", " ").toCharArray)
        val n = chars.length.toDouble
        val h = chars.groupBy(identity).values.map { g =>
          val p = g.length / n
          math.floor(-p * (math.log(p) / math.log(2.0)) * 1e9 + 0.5) / 1e9
        }.sum
        src -> (chars.length.toLong,
          chars.distinct.length.toLong, h)
      }
    assert(rows.keySet == local.keySet)
    local.foreach { case (srcName, (n, dist, h)) =>
      val (rn, rd, rh) = rows(srcName)
      assert(rn == n, s"$srcName chars $rn vs $n")
      assert(rd == dist)
      assert(math.abs(rh - h) < 1e-6, s"$srcName H $rh vs $h")
      assert(rh >= 0.0 && rh <= math.log(dist.toDouble) / math.log(2.0)
        + 1e-9)
    }
  }

  test("q_gumbel_fit replays from local daily-maxima moments") {
    val mx = graft.engine.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(max(floor(col("value") * lit(1000.0) + lit(0.5)).cast("long"))
        .as("m"))
      .collect().map(_.getLong(1))
    val n = mx.length.toDouble
    val mean = mx.sum / n
    val vr = (n * mx.map(v => BigInt(v) * BigInt(v)).sum.toDouble -
      mx.sum.toDouble * mx.sum.toDouble) / (n * (n - 1))
    val beta = math.sqrt(6.0 * vr) / math.Pi
    val mu = mean - 0.5772156649015329 * beta
    val r = SparkEntry.queries("q_gumbel_fit")(spark, sfDir).head()
    assert(r.getLong(0) == mx.length)
    assert(math.abs(r.getDouble(1) - mu / 1000.0) < 1e-4)
    assert(math.abs(r.getDouble(2) - beta / 1000.0) < 1e-4)
    // return levels must increase with the return period and exceed mu
    assert(r.getDouble(4) > r.getDouble(3) && r.getDouble(3) > r.getDouble(1))
  }

  test("q_kde_profile: densities are a valid positive profile") {
    val rows = SparkEntry.queries("q_kde_profile")(spark, sfDir)
      .orderBy(col("k")).collect()
    assert(rows.length == 9)
    rows.foreach(r => assert(r.getDouble(2) > 0.0,
      s"density at grid ${r.getDouble(1)} not positive"))
    // grid points strictly increase across the value range
    val gs = rows.map(_.getDouble(1))
    assert(gs.zip(gs.tail).forall { case (a, b) => a < b })
    // plausibility: total mass over the observed range is O(1) — the
    // trapezoid integral over the 9-point grid must sit within (0, 2)
    val step = gs(1) - gs(0)
    val mass = rows.map(_.getDouble(2)).sum * step
    assert(mass > 0.05 && mass < 2.0, s"trapezoid mass $mass implausible")
  }
}
