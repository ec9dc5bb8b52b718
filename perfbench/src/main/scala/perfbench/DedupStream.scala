package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.DocPipeline
import graft.sources.AppendStore

/** Incremental near-dup dedup fed batch by batch: one stream per run,
  * each batch waits for the previous one to commit, reads the signature
  * store while it also appends to it, and the store grows through the
  * run. Barrier- and driver-gap-bound across `graft.ext`, `graft.core`
  * and `graft.sources`. */
final class DedupStream(spark: SparkSession, t: Tracer, rec: Recorder, seed: Long,
                        probes: Boolean) extends Workload(spark, t, rec) {
  import spark.implicits._
  val name = "dedup_stream"
  val history = 1000
  val batchSize = 2000
  /** More batches than any run feeds: the stream stops at the deadline. */
  val nBatches = 40

  private lazy val corpus: Gen.Corpus = Gen.corpus(seed, history, nBatches, batchSize)
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var store: String = _
  @volatile private var accepted = Set.empty[Long]
  private var historyHash: Option[Long] = None
  private var next = 0

  def inputHash: Long = corpus.hash

  /** Start a stream on a fresh store and seed the store with the
    * history batch; its accepted ids must hash the same in every set-up. */
  def setup(dir: String): Unit = {
    finish()
    store = s"$dir/store"
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[(Long, String)]
    query = DocPipeline.streamIncremental(input.toDF().toDF("doc_id", "text"), store,
        atomicStore = true) { (df, _) =>
      accepted = df.select("doc_id").as[Long].collect().toSet
      // the stream thread reports every job at the stream's start site;
      // clearing that override lets later batches' jobs name the library
      // frame that launched them (call-site attribution)
      spark.sparkContext.clearCallSite()
    }
    feed(corpus.history)
    val h = accepted.toSeq.sorted.hashCode.toLong
    rec.verify("history batch", Checks.dedupBatch(accepted, corpus.history) ++
      Checks.sameHash(h, historyHash.getOrElse { historyHash = Some(h); h }, "accepted-id"))
    next = 0
  }

  private def feed(b: Seq[Gen.Doc]): Unit = {
    accepted = Set.empty
    input.addData(b.map(d => (d.id, d.text)))
    query.processAllAvailable()
  }

  /** One batch; the warm-up feeds the first two batches after set-up
    * (batch latency still falls over the first few batches of a JVM). */
  def iteration(k: Int): Unit =
    (0 until (if (k == 0) 2 else 1)).foreach(_ => batch())

  private def batch(): Unit = {
    require(next < corpus.batches.size, s"corpus holds only ${corpus.batches.size} batches")
    val b = corpus.batches(next)
    next += 1
    if (probes) candidateProbe(b)
    timed("ext.batch")(t.span("ext.batch")(feed(b))).foreach { case (_, s) =>
      rec.verify(s"batch ${next - 1}", Checks.dedupBatch(accepted, b))
      primary(s)
      val near = b.filter(_.kind == Gen.Near)
      rec.sample("ext.near_planted", near.size.toDouble)
      rec.sample("ext.near_dropped", near.count(d => !accepted(d.id)).toDouble)
      if (rec.measuring) { rec.items += b.size; rec.itemSeconds += s }
      if (probes) {
        if (pendingCandidates > 0) {
          val exact = b.count(_.kind == Gen.Exact)
          rec.sample("ext.candidate_yield", (b.size - accepted.size - exact).toDouble / pendingCandidates)
        }
        t.span("sources.store_manifest") {
          rec.sample("sources.store.versions", AppendStore.liveVersions(spark, store).size.toDouble)
          rec.sample("sources.store.rows", AppendStore.manifestRows(spark, store).getOrElse(-1L).toDouble)
        }
      }
    }
  }

  /** NEW×STORED candidate pairs for the next batch (traced runs only). */
  private def candidateProbe(b: Seq[Gen.Doc]): Unit = {
    val docs = b.map(d => (d.id, d.text)).toDF("doc_id", "text")
    pendingCandidates = t.span("ext.candidates")(DocPipeline.incrementalCandidateVolume(
      docs, AppendStore.readOr(spark, store, spark.emptyDataFrame)))
    rec.sample("ext.candidates", pendingCandidates.toDouble)
  }
  private var pendingCandidates = 0L

  override def finish(): Unit = if (query != null) { query.stop(); query = null }

  override def describe: Seq[String] = Seq(
    f"corpus: $history history docs, then batches of $batchSize docs ($next fed after set-up); shares " +
      f"exact ${Gen.ExactShare}%.2f near ${Gen.NearShare}%.2f unique ${Gen.UniqueShare}%.2f boilerplate ${Gen.BoilerShare}%.2f")
}
