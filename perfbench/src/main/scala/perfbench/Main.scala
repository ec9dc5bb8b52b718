package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Benchmark entry point, one workload per process:
  *
  * {{{ perfbench.Main --workload gt_qc --seed 1 --seconds 15 --trace 0 --root <tmp> --out <dir> }}}
  *
  * Untraced (`--trace 0`): prints the end-to-end metrics. Traced
  * (`--trace 1`): alternates traced and untraced iterations, prints the
  * per-layer metrics and the tracing overhead, and writes the spans and
  * the jobs attributed to them to `<out>/trace-<workload>-<seed>.json`.
  * The last stdout line is the result object; the exit code is 1 when
  * any operation failed. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "15").toDouble
    val traceMode = a.getOrElse("trace", "0") == "1"
    val root = a.getOrElse("root", sys.error("--root is required"))
    val out = a.getOrElse("out", root)
    require(Workload.names.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workload.names.mkString(", ")})")
    System.exit(run(workload, seed, seconds, traceMode, root, out))
  }

  def session(root: String, cores: Int): org.apache.spark.sql.SparkSession = {
    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(workload: String, seed: Long, seconds: Double, traceMode: Boolean,
          root: String, out: String): Int = {
    // Spark task threads: half the cores, so the driver thread, GC and
    // JIT keep cores of their own and a busy neighbour on a shared host
    // slows a stage less
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.max(1, nproc / 2)
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").head
    val sentinel = cpuSentinel()
    val cpu0 = cpuTimes()
    val t0 = System.nanoTime()
    val spark = session(root, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val tracer = new Tracer(false)
    val rec = new Recorder
    val w = Workload(workload, spark, tracer, rec, seed, cores, traceMode)
    try {
      // set-up several times; the median is reported, the last one is used
      val setups = (0 until SetupReps).map { i =>
        val s0 = System.nanoTime()
        w.setup(s"$root/setup-$i")
        (System.nanoTime() - s0) / 1e9
      }
      (0 until SetupReps - 1).foreach(i => deleteTree(s"$root/setup-$i"))
      val w0 = System.nanoTime()
      w.iteration(0) // untimed warm-up; its outputs are still checked
      val warmS = (System.nanoTime() - w0) / 1e9
      rec.measuring = true
      val ledger = if (traceMode) Some(new Ledger) else None
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var k = 1
      // a traced run needs at least one untraced iteration for the overhead
      while (k == 1 || (traceMode && k == 2) || System.nanoTime() < end) {
        rec.traced = traceMode && k % 2 == 1
        tracer.enabled = rec.traced
        tracer.iter = k
        if (rec.traced) ledger.foreach(sc.addSparkListener)
        tracer.span("iteration")(w.iteration(k))
        if (rec.traced) ledger.foreach { l => Ledger.drain(sc); sc.removeSparkListener(l) }
        k += 1
      }
      tracer.enabled = false
      rec.measuring = false
      w.finish()

      w.describe.foreach(d => println(s"# $d"))
      println(s"# input hash ${w.inputHash} (seed $seed)")
      val cpu1 = cpuTimes()
      val steal = (cpu1(7) - cpu0(7)).toDouble / (cpu1.sum - cpu0.sum)
      println(f"# load average $load, cpu sentinel ${sentinel}%.4f s, cpu steal ${steal * 100}%.1f%%, cores $nproc, task threads $cores, " +
        f"session ${sessionS}%.2f s, set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
        f"warm-up ${warmS}%.2f s, iterations ${k - 1}, ops ${rec.ops.size}, " +
        f"run ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println("# ops " + rec.ops.map(o => f"${o._1}%.2f").mkString(" "))
      rec.failures.take(20).foreach(f => println(s"# FAILED $f"))

      val metrics: Seq[(Report.Metric, Double)] =
        if (!traceMode) {
          val values = Map(
            "setup_s" -> (sessionS + Report.median(setups)),
            "peak_rss_mb" -> peakRssMb(),
            "op_p50_s" -> Report.median(rec.ops.map(_._1).toSeq),
            "items_per_s" -> rec.items / rec.itemSeconds)
          Report.endToEnd.map(m => m -> values(m.name))
        } else {
          val values = Report.layers(tracer, ledger.get.snapshot, rec, cores)
          Files.createDirectories(Paths.get(out))
          Files.write(Paths.get(out, s"trace-$workload-$seed.json"),
            s"""{"spans": ${tracer.toJson},\n"jobs": ${ledger.get.toJson}}\n""".getBytes)
          Report.perLayer.map(m => m -> values(m.name))
        }
      println(Report.json(rec.failed == 0, rec.attempted, rec.failed, metrics))
      if (rec.failed == 0) 0 else 1
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    } finally spark.stop()
  }

  /** A fixed amount of pure-JVM arithmetic, timed: a box-load
    * diagnostic printed beside the metrics, never a metric. */
  def cpuSentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Machine-wide CPU jiffies (user nice system idle iowait irq softirq steal). */
  def cpuTimes(): Array[Long] =
    scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").slice(1, 9).map(_.toLong)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      scala.jdk.CollectionConverters.IteratorHasAsScala(Files.walk(path).iterator()).asScala
        .toList.reverse.foreach(Files.delete)
  }
}
