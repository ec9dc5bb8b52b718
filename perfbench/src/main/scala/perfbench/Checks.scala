package perfbench

/** Output checks, kept as pure functions of (output, expected) so the
  * benchmark's tests can plant a wrong answer into each one. Each
  * returns the list of problems found; empty means the output is right. */
object Checks {

  /** Per-stage kept counts of the QC pipeline against the recount. */
  def keptCounts(got: Seq[Long], want: Seq[Long]): Seq[String] =
    if (got == want) Nil else Seq(s"kept counts ${got.mkString(",")} != recount ${want.mkString(",")}")

  /** Column sums: longs must match exactly, doubles to 1e-9 relative
    * (partial sums merge in shuffle-arrival order). NaN equals NaN. */
  def sums(got: Seq[Double], want: Seq[Double]): Seq[String] =
    got.zip(want).zipWithIndex.collect {
      case ((g, w), i) if !(g == w || (g.isNaN && w.isNaN) ||
          math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w))) =>
        s"column $i: $g != $w"
    } ++ (if (got.size != want.size) Seq(s"${got.size} columns != ${want.size}") else Nil)

  /** Invariants of the variant-stats column sums (call_rate, n_called,
    * n_missing, …): every call is either called or missing, and the mean
    * call rate is the called share. */
  def variantStatSums(sums: Seq[Double], nVariants: Long, nSamples: Long): Seq[String] = {
    val Seq(rate, called, missing) = sums.take(3)
    (if (called + missing == nVariants * nSamples) Nil
     else Seq(s"called $called + missing $missing != ${nVariants * nSamples} calls")) ++
      (if (math.abs(rate * nSamples - called) <= 1e-6 * called) Nil
       else Seq(s"sum(call_rate) $rate x $nSamples != called $called"))
  }

  /** Dedup of one batch: every planted exact copy is dropped and every
    * unique document is kept. */
  def dedupBatch(accepted: Set[Long], batch: Seq[Gen.Doc]): Seq[String] = {
    val keptExact = batch.filter(d => d.kind == Gen.Exact && accepted(d.id))
    val lostUnique = batch.filter(d => d.kind == Gen.Unique && !accepted(d.id))
    (if (keptExact.isEmpty) Nil else Seq(s"${keptExact.size} exact copies kept, e.g. ${keptExact.head.id}")) ++
      (if (lostUnique.isEmpty) Nil else Seq(s"${lostUnique.size} unique docs dropped, e.g. ${lostUnique.head.id}"))
  }

  def sameHash(got: Long, want: Long, what: String): Seq[String] =
    if (got == want) Nil else Seq(s"$what hash $got != $want")
}
