package perfbench

/** Per-layer metrics derived from the spans of a traced run. Only spans
  * of timed operations count; spans delivered without an operation
  * (Catalyst phases, garbage collections) are attributed by time. */
object Layers {

  private def timedOps(spans: Seq[Span]): Seq[Span] =
    spans.filter(s => s.layer == "bench" && s.attrs.getOrElse("timed", 0.0) == 1.0)

  /** Map each span to the timed operation it belongs to, by id or, when it
    * has none, by the operation interval containing its start. */
  private def byOp(spans: Seq[Span], ops: Seq[Span]): Map[Long, Seq[Span]] = {
    val ids = ops.map(_.op).toSet
    val sorted = ops.sortBy(_.startUs).toArray
    def containing(t: Long): Long = {
      var lo = 0; var hi = sorted.length - 1; var found = -1L
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid).startUs <= t) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (found >= 0 && t <= sorted(found.toInt).endUs) sorted(found.toInt).op
      else -1L
    }
    spans.filter(_.layer != "bench").map { s =>
      (if (s.op >= 0) s.op else containing(s.startUs)) -> s
    }.filter(p => ids(p._1)).groupMap(_._1)(_._2)
  }

  /** Garbage-collection ms that fell inside [t0, t1]. */
  def gcMs(spans: Seq[Span], t0: Long, t1: Long): Double =
    spans.filter(_.layer == "jvm").map { s =>
      math.max(0L, math.min(s.endUs, t1) - math.max(s.startUs, t0)) / 1000.0
    }.sum

  /** Mean duration (ms) of the spans of `layer`/`name` in [t0, t1]. */
  def meanMs(spans: Seq[Span], layer: String, name: String,
             t0: Long, t1: Long): Double =
    Stats.mean(spans.filter(s => s.layer == layer && s.name == name &&
      s.startUs >= t0 && s.startUs <= t1).map(_.durMs))

  /** `operators`, `plans`, `spark` and `engine.pins_per_op`, per timed
    * operation. */
  def sparkSide(spans: Seq[Span], t0: Long, t1: Long, slots: Int): Map[String, Double] = {
    val ops = timedOps(spans).filter(s => s.startUs >= t0 && s.startUs <= t1)
    val n = math.max(1, ops.length).toDouble
    val per = byOp(spans, ops)
    def of(op: Long, layer: String, name: String) =
      per.getOrElse(op, Nil).filter(s => s.layer == layer && s.name == name)
    def attrSum(layer: String, name: String, key: String) =
      ops.flatMap(o => of(o.op, layer, name)).map(_.attrs.getOrElse(key, 0.0)).sum
    val build = ops.map { o =>
      val b = per.getOrElse(o.op, Nil).filter(_.layer == "operators")
      val jobs = of(o.op, "spark", "job").count(j =>
        b.exists(s => j.startUs >= s.startUs && j.startUs <= s.endUs))
      (b.map(_.durMs).sum, jobs)
    }
    val launch = ops.map { o =>
      val buildEnd = per.getOrElse(o.op, Nil).filter(_.layer == "operators")
        .map(_.endUs).foldLeft(o.startUs)(math.max)
      val execMs = (o.endUs - buildEnd) / 1000.0
      val taskMs = of(o.op, "spark", "task").filter(_.startUs >= buildEnd)
        .map(_.attrs.getOrElse("run_ms", 0.0)).sum
      execMs - taskMs / slots
    }
    def plan(phase: String) =
      ops.flatMap(o => of(o.op, "plans", phase)).map(_.durMs).sum / n
    val mb = 1e6
    Map(
      "operators.build_ms" -> build.map(_._1).sum / n,
      "operators.build_jobs" -> build.map(_._2).sum / n,
      "plans.analyze_ms" -> plan("analysis"),
      "plans.optimize_ms" -> plan("optimization"),
      "plans.physical_ms" -> plan("planning"),
      "spark.jobs_per_op" -> ops.map(o => of(o.op, "spark", "job").length).sum / n,
      "spark.stages_per_op" -> ops.map(o => of(o.op, "spark", "stage").length).sum / n,
      "spark.tasks_per_op" -> ops.map(o => of(o.op, "spark", "task").length).sum / n,
      "spark.launch_overhead_ms" -> launch.sum / n,
      "spark.task_run_ms_per_op" -> attrSum("spark", "task", "run_ms") / n,
      "spark.task_cpu_ms_per_op" -> attrSum("spark", "task", "cpu_ms") / n,
      "spark.shuffle_read_mb_per_op" -> attrSum("spark", "task", "shuffle_read_bytes") / mb / n,
      "spark.shuffle_write_mb_per_op" -> attrSum("spark", "task", "shuffle_write_bytes") / mb / n,
      "spark.spill_mb_per_op" -> attrSum("spark", "task", "spill_bytes") / mb / n,
      "engine.pins_per_op" -> attrSum("engine", "pins.release", "pins") / n)
  }
}
