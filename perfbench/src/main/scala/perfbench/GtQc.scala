package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VariantSchema
import graft.functions.GenotypeKernels
import graft.operators.{Kinship, Stats, VariantPipeline}

/** The paper's own surface: a seeded callset is QC-filtered, described
  * and related in one pass. Compute-bound in `graft.functions` and
  * `graft.operators` with few jobs per call, so it shows kernel and scan
  * work, not driver overhead. */
final class GtQc(spark: SparkSession, t: Tracer, rec: Recorder, seed: Long,
                 cores: Int, probes: Boolean) extends Workload(spark, t, rec) {
  val name = "gt_qc"
  val nVariants = 60000
  val nSamples = 100
  private val MinDepth = 5
  private val MinCallRate = 0.8
  private val MaxMaf = 0.95
  private val MaxObsHet = 0.6

  private var path: String = _
  private var keptPath: String = _
  private def callset: DataFrame = spark.read.schema(VariantSchema.schema).parquet(path)

  def setup(dir: String): Unit = {
    path = s"$dir/callset"
    keptPath = s"$dir/kept"
    Gen.callset(spark, nVariants, nSamples, seed, parts = 2 * cores).write.parquet(path)
  }

  def inputHash: Long = Gen.frameHash(callset)

  // references, computed once through the HOF twins (never timed)
  private lazy val recount: Seq[Long] = {
    val s = Stats.variantStatsHof(
      callset.withColumn("gt", GenotypeKernels.maskGtByDepth(col("gt"), col("dp"), MinDepth)))
    val c1 = col("call_rate") >= MinCallRate
    val c2 = c1 && col("maf") >= 0.0 && col("maf") <= MaxMaf
    val c3 = c2 && col("obs_het") >= 0.0 && col("obs_het") <= MaxObsHet
    val r = s.agg(count(lit(1)), Seq(c1, c2, c3).map(c => sum(when(c, 1L).otherwise(0L))): _*).head()
    (0 until 4).map(r.getLong)
  }
  private var statSumsRef: Option[Seq[Double]] = None
  private lazy val depthRef: Map[Int, (Long, Double, Int, Int)] = depthRows(Stats.sampleDepthStats(callset))
  private var grmRef: Option[Array[Double]] = None

  private def statSums(df: DataFrame): Seq[Double] = {
    val cs = Seq("call_rate", "n_called", "n_missing", "maf", "mac", "obs_het", "exp_het", "n_alleles_obs")
    val r = df.agg(sum(col(cs.head)).cast("double"), cs.tail.map(c => sum(col(c)).cast("double")): _*).head()
    cs.indices.map(r.getDouble)
  }

  private def depthRows(df: DataFrame): Map[Int, (Long, Double, Int, Int)] =
    df.select(col("sample_idx").cast("int"), col("n").cast("long"), col("mean_dp").cast("double"),
      col("min_dp").cast("int"), col("max_dp").cast("int")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3), r.getInt(4)))).toMap

  private def nAlleles: Column = coalesce(size(col("alt")), lit(0)) + 1

  /** One pass; the warm-up runs two (pass time still falls over the
    * first passes of a JVM). */
  def iteration(k: Int): Unit = (0 until (if (k == 0) 2 else 1)).foreach(_ => pass())

  private def pass(): Unit = {
    val df = callset
    if (probes) {
      // per-layer probes beside the pass: a bare scan and a bare kernel
      t.span("sources.scan")(noop(plan(df)))
      timed("functions.gt_stats") {
        t.span("functions.gt_stats")(noop(plan(df.select(graft.functions.GtStats.of(col("gt"), nAlleles).as("s")))))
      }.foreach { case (_, s) => rec.sample("functions.gt_stats.ns_per_call", s * 1e9 / nVariants / nSamples) }
    }
    var seconds = 0.0
    def step(what: String)(body: => Seq[String]): Unit =
      timed(what)(t.span(what)(body)).foreach { case (problems, s) =>
        seconds += s
        rec.verify(what, problems)
      }

    var kept: DataFrame = null
    step("operators.pipeline") {
      val r = VariantPipeline(df).maskByDepth(MinDepth).byCallRate(MinCallRate)
        .byMaf(max = MaxMaf).byObsHet(max = MaxObsHet).run()
      // materialized once, so the grm step measures Kinship alone
      plan(r.variations).write.mode("overwrite").parquet(keptPath)
      kept = spark.read.parquet(keptPath)
      Checks.keptCounts(r.nInput +: r.stats.map(_._2.nKept), recount)
    }
    step("operators.variant_stats") {
      val got = statSums(plan(Stats.variantStats(df)))
      Checks.variantStatSums(got, nVariants, nSamples) ++
        Checks.sums(got, statSumsRef.getOrElse { statSumsRef = Some(got); got })
    }
    step("operators.sample_depth") {
      val got = depthRows(plan(Stats.sampleDepthStatsFast(df)))
      if (got == depthRef) Nil else Seq(s"per-sample depth rows differ from the long-view recount")
    }
    if (kept != null) step("operators.grm") {
      val (s, tri, den) = Kinship.grmTriangle(kept)
      val ref = grmRef.getOrElse { grmRef = Some(tri); tri }
      Seq(s"$s samples" -> (s == nSamples), "non-finite" -> tri.forall(!_.isNaN),
        "weight" -> (den > 0), "differs from the first pass" ->
          Checks.sums(tri.toSeq, ref.toSeq).isEmpty).collect { case (m, false) => m }
    }
    primary(seconds)
    if (rec.measuring) {
      rec.items += nVariants.toLong * nSamples
      rec.itemSeconds += seconds
    }
  }

  override def describe: Seq[String] =
    Seq(s"callset $nVariants variants x $nSamples samples; drop share call_rate/maf/obs_het = " +
      dropShares.map(x => f"$x%.3f").mkString("/") + s"; kept ${recount.last}")

  /** Filter-stage drop shares, for the generator's test. */
  def dropShares: Seq[Double] = recount.sliding(2).map { case Seq(a, b) => (a - b).toDouble / a }.toSeq
}
