package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: seeded inputs are deterministic, each
  * generator plants what the workloads rely on, every output check trips
  * on a planted wrong answer, and the metric catalogue matches
  * BENCHMARK.json. Run with `python3 perfbench/run.py --selftest`. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(root.toString, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(root.toString)
  }

  private def probeTracer = new Tracer(false)

  // ── seeds ──────────────────────────────────────────────────────────

  test("callset: same seed same hash, other seed other hash") {
    def h(seed: Long, parts: Int) = Gen.frameHash(Gen.callset(spark, 500, 20, seed, parts))
    assert(h(1, 2) == h(1, 3), "hash must not depend on partitioning")
    assert(h(1, 2) != h(2, 2))
  }

  test("corpus: same seed same hash, other seed other hash") {
    assert(Gen.corpus(1, 100, 3, 50).hash == Gen.corpus(1, 100, 3, 50).hash)
    assert(Gen.corpus(1, 100, 3, 50).hash != Gen.corpus(2, 100, 3, 50).hash)
  }

  test("workload input hashes follow the seed") {
    def h(seed: Long) = {
      val w = new GtQc(spark, probeTracer, new Recorder, seed, 2, probes = false)
      w.setup(s"$root/gt-$seed-${System.nanoTime()}")
      w.inputHash
    }
    assert(h(5) == h(5))
    assert(h(5) != h(6))
  }

  // ── what the generators plant ──────────────────────────────────────

  test("callset: every QC filter stage drops a real share") {
    val w = new GtQc(spark, probeTracer, new Recorder, 3, 2, probes = false)
    w.setup(s"$root/drops")
    val shares = w.dropShares
    assert(shares.size == 3)
    shares.foreach(s => assert(s > 0.03 && s < 0.5, s"drop shares $shares"))
  }

  test("corpus: kind shares are the stated ones and copies point backwards") {
    val c = Gen.corpus(7, 400, 10, 400)
    val docs = c.batches.flatten
    def share(k: Gen.Kind) = docs.count(_.kind == k).toDouble / docs.size
    assert(math.abs(share(Gen.Exact) - Gen.ExactShare) < 0.02)
    assert(math.abs(share(Gen.Near) - Gen.NearShare) < 0.02)
    assert(math.abs(share(Gen.Boiler) - Gen.BoilerShare) < 0.02)
    assert(math.abs(share(Gen.Unique) - Gen.UniqueShare) < 0.03)
    val earlier = (c.history ++ c.batches.head).map(d => d.text -> d.id).toMap
    c.batches(1).filter(_.kind == Gen.Exact).foreach(d => assert(earlier.get(d.text).exists(_ < d.id)))
  }

  // ── every check trips on a planted wrong answer ────────────────────

  test("keptCounts and sums trip on a wrong count") {
    assert(Checks.keptCounts(Seq(10, 8, 6), Seq(10, 8, 6)).isEmpty)
    assert(Checks.keptCounts(Seq(10, 8, 7), Seq(10, 8, 6)).nonEmpty)
    assert(Checks.sums(Seq(1.0, Double.NaN), Seq(1.0 + 1e-12, Double.NaN)).isEmpty)
    assert(Checks.sums(Seq(1.0, 2.0), Seq(1.0, 2.1)).nonEmpty)
  }

  test("variantStatSums trips when called + missing != calls") {
    assert(Checks.variantStatSums(Seq(9.0, 900.0, 100.0), 10, 100).isEmpty)
    assert(Checks.variantStatSums(Seq(9.0, 900.0, 99.0), 10, 100).nonEmpty)
    assert(Checks.variantStatSums(Seq(8.0, 900.0, 100.0), 10, 100).nonEmpty)
  }

  test("dedupBatch trips on a kept exact copy and on a dropped unique doc") {
    val b = Seq(Gen.Doc(1, "a", Gen.Unique), Gen.Doc(2, "a", Gen.Exact), Gen.Doc(3, "b", Gen.Near))
    assert(Checks.dedupBatch(Set(1L), b).isEmpty)
    assert(Checks.dedupBatch(Set(1L, 3L), b).isEmpty) // a missed near copy is a recall count
    assert(Checks.dedupBatch(Set(1L, 2L), b).nonEmpty)
    assert(Checks.dedupBatch(Set.empty, b).nonEmpty)
  }

  test("sameHash trips on a different hash") {
    assert(Checks.sameHash(1, 1, "x").isEmpty && Checks.sameHash(1, 2, "x").nonEmpty)
  }

  test("a wrong output counts as a failed operation") {
    val rec = new Recorder
    rec.verify("ok", Nil)
    rec.verify("planted", Checks.keptCounts(Seq(1), Seq(2)))
    assert(rec.attempted == 2 && rec.failed == 1 && rec.failures.head.startsWith("planted"))
  }

  test("correct outputs pass every check: a gt_qc pass and dedup_stream batches") {
    val rec = new Recorder
    val gt = new GtQc(spark, probeTracer, rec, 4, 2, probes = false)
    gt.setup(s"$root/gt-pass")
    gt.iteration(1) // one pass (iteration 0, the warm-up, runs two)
    val dd = new DedupStream(spark, probeTracer, rec, 4, probes = false)
    dd.setup(s"$root/dedup-a")
    dd.setup(s"$root/dedup-b") // the history batch must be accepted the same way twice
    dd.iteration(1)
    dd.finish()
    assert(rec.failed == 0, rec.failures)
    assert(rec.attempted == 4 + 2 + 1)
  }

  // ── tracing and reporting ──────────────────────────────────────────

  test("self time subtracts the union of child spans") {
    val t = new Tracer(true)
    t.span("parent") {
      t.span("a")(Thread.sleep(30))
      t.span("b")(Thread.sleep(30))
    }
    val p = t.spans.find(_.name == "parent").get
    assert(t.childCover(p) >= 0.055 && t.selfSeconds(p) < p.seconds - 0.055)
    assert(t.spans.filter(_.name != "parent").forall(_.parent == p.id))
  }

  test("call sites map to the library module of their first graft frame") {
    val site = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graft.core.Checkpoints$CutOps.cut(Checkpoints.scala:90)\n" +
      "graft.ext.DocPipeline$.x(DocPipeline.scala:1)"
    assert(Ledger.moduleOf(site) == "core")
    assert(Ledger.moduleOf("perfbench.GtQc.iteration(GtQc.scala:3)") == "none")
  }

  test("the metric catalogue is the one BENCHMARK.json declares") {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def names(section: String) = {
      val body = json.split("\"" + section + "\"")(1).split("]")(0)
      "\"name\": \"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Report.endToEnd.map(_.name))
    assert(names("per_layer") == Report.perLayer.map(_.name))
    assert(names("workloads").forall(Workload.names.contains))
  }
}
