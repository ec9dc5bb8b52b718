package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row index), so the same seed gives the same inputs whatever
  * the partitioning; the library only ever sees the generated data. */
object Gen {

  def rng(seed: Long, i: Long, salt: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i + 1) * 0xBF58476D1CE4E5B9L ^ salt)

  /** Order-independent hash of a frame's rows (40-bit row hashes, so
    * the sum cannot overflow). */
  def frameHash(df: DataFrame): Long =
    df.agg(sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1L << 40)))).head().getLong(0)

  // ── callset ────────────────────────────────────────────────────────

  // Shares of planted variant classes; each targets one filter stage of
  // the QC pipeline, so every stage drops a real share.
  val LowCallRate = 0.12 // 20–60% missing calls → byCallRate
  val Rare = 0.18        // alt freq < 3% → byMaf(max)
  val HetExcess = 0.08   // 80% het calls → byObsHet(max)

  /** Per-call depth: 3 + ⌊Exp·20⌋, so about 9.5% of calls fall below
    * depth 5 and are masked by `maskByDepth(5)`. */
  def callset(spark: SparkSession, nVariants: Int, nSamples: Int, seed: Long,
              parts: Int): DataFrame = {
    val rows = spark.sparkContext.parallelize(0 until nVariants, parts).map { i =>
      val r = rng(seed, i.toLong)
      val u = r.nextDouble()
      val missing =
        if (u < LowCallRate) 0.2 + 0.4 * r.nextDouble() else 0.1 * r.nextDouble()
      val v = r.nextDouble()
      val p = if (v < Rare) 0.03 * r.nextDouble() else 0.05 + 0.45 * r.nextDouble()
      val hetP = if (r.nextDouble() < HetExcess) 0.8 else 2 * p * (1 - p)
      val multi = r.nextDouble() < 0.1
      val gt = Array.fill(nSamples) {
        if (r.nextDouble() < missing) Seq(-1, -1)
        else {
          val g = r.nextDouble()
          val alt = if (multi && r.nextDouble() < 0.2) 2 else 1
          if (g < hetP) Seq(0, alt)
          else if (g < hetP + p * p) Seq(alt, alt)
          else Seq(0, 0)
        }
      }.toSeq
      val dp = Array.fill(nSamples)(3 + (-math.log(1.0 - r.nextDouble()) * 20).toInt).toSeq
      val gq = Array.fill(nSamples)(math.floor(r.nextDouble() * 99)).toSeq
      Row(s"chr${1 + i * 22L / nVariants}", 1000L + 137L * i, s"v$i", "A",
        if (multi) Seq("T", "G") else Seq("T"), math.floor(r.nextDouble() * 100),
        gt, dp, gq, null, null)
    }
    spark.createDataFrame(rows, graft.core.VariantSchema.schema)
  }

  // ── corpus ─────────────────────────────────────────────────────────

  sealed trait Kind
  case object Unique extends Kind
  case object Exact extends Kind
  case object Near extends Kind
  case object Boiler extends Kind

  final case class Doc(id: Long, text: String, kind: Kind)

  // Per-batch shares of the planted document kinds.
  val ExactShare = 0.10
  val NearShare = 0.10
  val BoilerShare = 0.15
  val UniqueShare: Double = 1.0 - ExactShare - NearShare - BoilerShare

  final case class Corpus(history: IndexedSeq[Doc], batches: IndexedSeq[IndexedSeq[Doc]]) {
    def hash: Long = (history ++ batches.flatten)
      .map(d => scala.util.hashing.MurmurHash3.productHash((d.id, d.text)).toLong)
      .foldLeft(17L)((h, x) => h * 31 + x)
  }

  private val Vocab = 60000
  private def word(n: Int): String = "w" + Integer.toString(n, 36)

  /** The history batch seeds the store; later batches follow it. Every
    * batch mixes exact copies and one-word-edited near copies of earlier
    * unique documents (for the history batch: earlier in the same batch,
    * so in-batch dedup removes them), unique documents, and members of
    * one boilerplate family (a fixed 40-word template, the same for every
    * seed, plus 20 own words:
    * Jaccard about 0.5 between members, below the dedup threshold, but
    * sharing band keys, so they cost candidate work without being
    * duplicates). */
  def corpus(seed: Long, history: Int, nBatches: Int, batchSize: Int): Corpus = {
    val r = rng(seed, -1L, 0xC0)
    def words(n: Int) = IndexedSeq.fill(n)(word(r.nextInt(Vocab)))
    // The template is the same for every seed: how many band keys its
    // members share depends on its words' min-hashes, and a seeded
    // template made the candidate volume vary fourfold from seed to seed
    // (and batch time by a quarter).
    val template = { val t = rng(0L, -1L, 0xB0); IndexedSeq.fill(40)(word(t.nextInt(Vocab))) }
    var nextId = 0L
    def mk(ws: Seq[String], k: Kind) = { nextId += 1; Doc(nextId - 1, ws.mkString(" "), k) }
    val sources = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def batch(size: Int, inBatch: Boolean): IndexedSeq[Doc] = {
      val b = IndexedSeq.fill(size) {
        val u = if (sources.isEmpty) 1.0 else r.nextDouble()
        val d =
          if (u < ExactShare) mk(sources(r.nextInt(sources.size)).text.split(' ').toSeq, Exact)
          else if (u < ExactShare + NearShare) {
            val ws = sources(r.nextInt(sources.size)).text.split(' ')
            ws(10 + r.nextInt(ws.length - 20)) = word(r.nextInt(Vocab))
            mk(ws.toSeq, Near)
          } else if (u < ExactShare + NearShare + BoilerShare) mk(template ++ words(20), Boiler)
          else mk(words(50 + r.nextInt(21)), Unique)
        if (inBatch && d.kind == Unique) sources += d
        d
      }
      if (!inBatch) sources ++= b.filter(_.kind == Unique)
      b
    }
    val hist = batch(history, inBatch = true)
    Corpus(hist, IndexedSeq.fill(nBatches)(batch(batchSize, inBatch = false)))
  }
}
