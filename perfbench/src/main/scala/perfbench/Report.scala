package perfbench

import scala.collection.mutable

/** The metric catalogue and how each value is derived. Every run
  * reports every metric of its mode, so a layer a workload never calls
  * reads 0 there (which is itself the "should not move" evidence). */
object Report {

  final case class Metric(name: String, unit: String, better: String)

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("peak_rss_mb", "MB", "lower"),
    Metric("op_p50_s", "s", "lower"),
    Metric("items_per_s", "1/s", "higher"))

  /** Calls the benchmark makes into a module's public functions; the
    * flag marks calls that return a lazy frame (and so have `plan_s`). */
  val calls: Seq[(String, Boolean)] = Seq(
    "sources.scan" -> true,
    "functions.gt_stats" -> true,
    "operators.pipeline" -> true,
    "operators.variant_stats" -> true,
    "operators.sample_depth" -> true,
    "operators.grm" -> false,
    "ext.batch" -> false)

  private val callQs: Seq[(String, String, String)] = Seq(
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"), ("task_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"), ("shuffle_mb", "MB", "lower"), ("input_mb", "MB", "lower"))

  /** Job counts and task time of the calls above, split by the module
    * named in the job's call site, per measured iteration. */
  val siteSplit: Seq[(String, String)] = Seq(
    "core.cut" -> "core", "sources.commit" -> "sources", "ext.funnel" -> "ext")

  /** Values the workloads sample themselves (medians are reported). */
  val sampled: Seq[Metric] = Seq(
    Metric("functions.gt_stats.ns_per_call", "ns", "lower"),
    Metric("sources.store.versions", "count", "lower"),
    Metric("sources.store.rows", "count", "lower"),
    Metric("ext.candidates", "count", "lower"),
    Metric("ext.candidate_yield", "ratio", "higher"),
    Metric("ext.near_planted", "count", "higher"),
    Metric("ext.near_dropped", "count", "higher"))

  val perLayer: Seq[Metric] =
    calls.flatMap { case (c, lazyFrame) =>
      callQs.map { case (q, u, b) => Metric(s"$c.$q", u, b) } ++
        (if (lazyFrame) Seq(Metric(s"$c.plan_s", "s", "lower")) else Nil)
    } ++
      siteSplit.flatMap { case (n, _) =>
        Seq(Metric(s"$n.jobs", "count", "lower"), Metric(s"$n.task_s", "s", "lower"))
      } ++ sampled ++ Seq(
        Metric("plans.plan_s", "s", "lower"),
        Metric("spark.gc_s", "s", "lower"),
        Metric("spark.spill_mb", "MB", "lower"),
        Metric("spark.cpu_util", "ratio", "higher"),
        Metric("trace.overhead_s", "s", "lower"),
        Metric("trace.coverage", "ratio", "higher"))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-layer values from the traced iterations' spans and jobs. */
  def layers(tr: Tracer, jobs: Seq[JobCost], rec: Recorder, cores: Int): Map[String, Double] = {
    val spans = tr.spans.filter(_.iter >= 1).toIndexedSeq
    // innermost span open when the job was submitted
    val byStart = spans.sortBy(_.startNs)
    val own = mutable.Map.empty[Int, mutable.ArrayBuffer[JobCost]]
    jobs.foreach { j =>
      byStart.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs).lastOption
        .foreach(s => own.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j)
    }
    val kids = spans.groupBy(_.parent)
    def inclusive(s: Span): Seq[JobCost] =
      own.getOrElse(s.id, Nil).toSeq ++ kids.getOrElse(s.id, Nil).flatMap(inclusive)
    def planS(s: Span): Double = kids.getOrElse(s.id, Nil).filter(_.name == "plan").map(_.seconds).sum

    val out = mutable.LinkedHashMap.empty[String, Double]
    calls.foreach { case (c, lazyFrame) =>
      val ss = spans.filter(_.name == c)
      val js = ss.map(inclusive)
      out(s"$c.wall_s") = median(ss.map(_.seconds))
      out(s"$c.jobs") = median(js.map(_.size.toDouble))
      out(s"$c.task_s") = median(js.map(_.map(_.taskS).sum))
      out(s"$c.driver_gap_s") = median(ss.zip(js).map { case (s, j) => s.seconds - j.map(_.taskS).sum / cores })
      out(s"$c.shuffle_mb") = median(js.map(_.map(_.shuffleB).sum / 1e6))
      out(s"$c.input_mb") = median(js.map(_.map(_.inputB).sum / 1e6))
      if (lazyFrame) out(s"$c.plan_s") = median(ss.map(planS))
    }
    val iters = spans.filter(_.name == "iteration")
    val iterJobs = iters.map(inclusive)
    val callNames = calls.map(_._1).toSet
    val callJobs = iters.map(i => spans.filter(s => s.iter == i.iter && callNames(s.name)).flatMap(inclusive))
    siteSplit.foreach { case (n, module) =>
      out(s"$n.jobs") = median(callJobs.map(_.count(_.module == module).toDouble))
      out(s"$n.task_s") = median(callJobs.map(_.filter(_.module == module).map(_.taskS).sum))
    }
    sampled.foreach(m => out(m.name) = median(rec.samples.getOrElse(m.name, Nil).toSeq))
    out("plans.plan_s") = median(iters.map(i =>
      spans.filter(s => s.name == "plan" && s.iter == i.iter).map(_.seconds).sum))
    out("spark.gc_s") = median(iterJobs.map(_.map(_.gcS).sum))
    out("spark.spill_mb") = median(iterJobs.map(_.map(_.spillB).sum / 1e6))
    out("spark.cpu_util") = median(iters.zip(iterJobs).map { case (i, j) =>
      j.map(_.taskS).sum / cores / i.seconds })
    val (on, off) = rec.ops.toSeq.partition(_._2)
    out("trace.overhead_s") =
      if (on.isEmpty || off.isEmpty) 0.0 else median(on.map(_._1)) - median(off.map(_._1))
    out("trace.coverage") = median(iters.map(i => tr.childCover(i) / i.seconds))
    out.toMap
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(Metric, Double)]): String = {
    val ms = metrics.map { case (m, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""${m.name}": {"value": $x, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
