package perfbench

import perfbench.EnvelopeGen.{StatCols, StreamTruth, WindowMs}

/** Correctness gates: each check is one attempted operation, and each
  * failure message one failed operation in `failed_frac`.
  */
object Gates {

  final case class Verdict(attempted: Int, failures: Seq[String]) {
    def failed: Int = failures.size
    def ++(o: Verdict): Verdict = Verdict(attempted + o.attempted, failures ++ o.failures)
    def report(what: String): Unit = failures.foreach(f => System.err.println(s"[perfbench] $what: FAILED $f"))
  }
  object Verdict {
    def one(what: String, ok: Boolean): Verdict = Verdict(1, if (ok) Nil else Seq(what))
  }

  /** Every window the last batch must have closed is present with its exact
    * group count and metric totals; a window Spark may or may not have
    * closed by the stop is exact if present; no other window is emitted.
    */
  def streamWindows(truth: StreamTruth, observed: Map[Long, (Long, Array[Double])]): Verdict = {
    def same(w: Long): Verdict = {
      val (groups, totals) = observed(w)
      truth.windows.get(w) match {
        case None => Verdict.one(s"window $w is not in the ground truth", ok = false)
        case Some((g, t)) =>
          val bad = StatCols.indices.filter(k => math.abs(totals(k) - t(k)) > 1e-9 * math.max(1.0, math.abs(t(k))))
          Verdict.one(s"window $w: groups $groups vs $g, " +
            bad.map(k => s"${StatCols(k)} ${totals(k)} vs ${t(k)}").mkString(", "),
            groups == g && bad.isEmpty)
      }
    }
    val certain = truth.windows.keys.filter(_ + WindowMs <= truth.certainWm).toSeq.sorted
    val missing = certain.filterNot(observed.contains)
    val maybe = observed.keys.filter(w => w + WindowMs > truth.certainWm).toSeq.sorted
    val (allowed, unexpected) = maybe.partition(_ + WindowMs <= truth.finalWm)
    Verdict(missing.size, missing.map(w => s"window $w missing")) ++
      Verdict(unexpected.size, unexpected.map(w => s"window $w emitted before its watermark")) ++
      (certain.filter(observed.contains) ++ allowed).map(same).foldLeft(Verdict(0, Nil))(_ ++ _)
  }

  /** A query's row count and order-independent hash against its fingerprint. */
  def query(name: String, expected: Map[String, (Long, String)], rows: Long, hash: String): Verdict =
    expected.get(name) match {
      case None => Verdict.one(s"$name has no fingerprint", ok = false)
      case Some((r, h)) => Verdict.one(s"$name rows $rows hash $hash vs $r $h", rows == r && hash == h)
    }
}
