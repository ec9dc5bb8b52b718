package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operation outcomes of one run: every checked operation counts as
  * attempted; an operation that throws or fails its output check counts
  * as failed. Latencies are kept only while `measuring`. */
final class Recorder {
  var measuring = false
  /** Set while the current iteration runs with tracing on. */
  var traced = false
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** (latency s, traced) of the workload's primary operation. */
  val ops = ArrayBuffer.empty[(Double, Boolean)]
  var items = 0L
  var itemSeconds = 0.0
  /** Per-layer samples a workload reports itself (medians are taken). */
  val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  def verify(what: String, problems: Seq[String]): Boolean =
    check(problems.isEmpty, s"$what: ${problems.mkString("; ")}")

  def sample(name: String, v: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v
}

/** One benchmark workload: a closed loop with one caller. `setup`
  * generates the inputs from the seed and seeds any store or index;
  * `iteration` runs one unit of work (a QC pass, a stream batch), timing its operations and checking their outputs; iteration 0
  * is the untimed warm-up. */
abstract class Workload(val spark: SparkSession, val t: Tracer, val rec: Recorder) {
  def name: String
  def setup(dir: String): Unit
  def iteration(k: Int): Unit
  /** Checks run once after the measured window. */
  def finish(): Unit = ()
  /** A hash of the generated inputs, for the seed-determinism test. */
  def inputHash: Long
  /** Diagnostics printed beside the result (shares, sizes). */
  def describe: Seq[String] = Nil

  protected def now: Long = System.nanoTime()

  /** Time `body` as one operation of kind `what`; a throw is a failed
    * operation and yields None. */
  protected def timed[T](what: String)(body: => T): Option[(T, Double)] = {
    val t0 = now
    try {
      val r = body
      Some((r, (now - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        rec.check(ok = false, s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Produce the executed plan of a lazy frame inside a `plan` span (a
    * no-op when tracing is off: the action plans the frame itself). */
  protected def plan(df: DataFrame): DataFrame = {
    if (t.enabled) t.span("plan")(df.queryExecution.executedPlan)
    df
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def primary(seconds: Double): Unit =
    if (rec.measuring) rec.ops += ((seconds, rec.traced))
}

object Workload {
  val names: Seq[String] = Seq("gt_qc", "dedup_stream")

  def apply(name: String, spark: SparkSession, t: Tracer, rec: Recorder, seed: Long,
            cores: Int, traceMode: Boolean): Workload = name match {
    case "gt_qc" => new GtQc(spark, t, rec, seed, cores, traceMode)
    case "dedup_stream" => new DedupStream(spark, t, rec, seed, traceMode)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}
