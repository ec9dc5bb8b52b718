package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call the benchmark makes into the
  * library. `parent` is the enclosing span (-1 at the top), `iter` the
  * loop iteration it belongs to (-1 for warm-up and set-up). Wall-clock
  * milliseconds are kept beside the nanosecond clock because Spark
  * stamps its job events in milliseconds. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded in memory and written out when the run ends. A
  * disabled tracer runs the body and records nothing, so the untraced
  * run pays one branch per call. */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var iter: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, iter, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  /** Span duration minus the part of it covered by its children. */
  def selfSeconds(s: Span): Double = s.seconds - childCover(s)

  /** Seconds of `s` covered by the union of its direct children. */
  def childCover(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    covered / 1e9
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Work Spark did for one job, summed over its tasks. */
final class JobCost(val id: Int, val submitMs: Long, val module: String) {
  var taskS = 0.0
  var gcS = 0.0
  var inputB = 0L
  var shuffleB = 0L
  var spillB = 0L
}

/** Counts Spark work at the same boundaries as the spans: every job is
  * stamped with its submission time (matched to the innermost span open
  * at that moment) and with the library module named by the first
  * `graft.<module>` frame of its call site. A job started off the
  * action's thread (a broadcast or an adaptive query stage) names no
  * library frame itself; it takes the call site of the SQL execution it
  * belongs to. Jobs left without a library frame (the benchmark's own
  * actions) get module "none". */
final class Ledger extends SparkListener {
  val jobs = ArrayBuffer.empty[JobCost]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobCost]
  private val executionModule = scala.collection.mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionModule(x.executionId) = Ledger.moduleOf(x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val module = Some(Ledger.moduleOf(site)).filter(_ != "none")
      .orElse(execution.flatMap(x => executionModule.get(x.toLong)))
      .getOrElse("none")
    val j = new JobCost(e.jobId, e.time, module)
    jobs += j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
      j.taskS += m.executorRunTime / 1e3
      j.gcS += m.jvmGCTime / 1e3
      j.inputB += m.inputMetrics.bytesRead
      j.shuffleB += m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Seq[JobCost] = synchronized(jobs.toList)

  def toJson: String = snapshot.map { j =>
    s"""{"job":${j.id},"submit_ms":${j.submitMs},"module":"${j.module}","task_s":${j.taskS},""" +
      s""""gc_s":${j.gcS},"input_b":${j.inputB},"shuffle_b":${j.shuffleB},"spill_b":${j.spillB}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Ledger {
  /** `graft.ext.DocPipeline$.x(DocPipeline.scala:1)` → "ext". */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .collectFirst { case l if l.startsWith("graft.") => l.split('.')(1) }
      .filter(_.forall(_.isLower))
      .getOrElse("none")

  /** Wait until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.Bus.drain(sc)
}
