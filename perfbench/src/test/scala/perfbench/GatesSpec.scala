package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.EnvelopeGen._

import java.nio.file.{Files, Paths}

class GatesSpec extends AnyFunSuite {

  private val backlog = {
    val gen = new StreamGen(7)
    (0 until 16 * PingsPerTrigger).map(i => gen.ping(i.toLong))
  }
  private val truth = streamTruth(backlog, backlog.size.toLong)
  private val exact: Map[Long, (Long, Array[Double])] =
    truth.windows.filter { case (w, _) => w + WindowMs <= truth.certainWm }

  test("the generator's mix rejects most pings and drops some late rows") {
    val accepted = backlog.count(_.kind.accepted)
    assert(accepted == truth.accepted)
    assert(accepted > backlog.size / 5 && accepted < backlog.size / 2)
    assert(truth.lateRowsDropped > 0)
    assert(RejectKinds.forall(k => backlog.exists(_.kind == k)))
    assert(exact.nonEmpty && exact.values.forall(_._1 > 1000), "a few thousand groups per window")
  }

  test("exact output passes the stream gate") {
    assert(Gates.streamWindows(truth, exact).failures.isEmpty)
  }

  test("a corrupted ground-truth value is counted as a failed operation") {
    val (w, (groups, totals)) = exact.head
    val v1 = Gates.streamWindows(truth, exact.updated(w, (groups + 1, totals)))
    assert(v1.failed == 1 && v1.attempted == exact.size)
    val bent = totals.clone(); bent(StatCols.indexOf("usage_hours")) += 0.0625
    assert(Gates.streamWindows(truth, exact.updated(w, (groups, bent))).failed == 1)
    assert(Gates.streamWindows(truth, exact - w).failed == 1)
    val unexpected = truth.finalWm + 10 * WindowMs
    assert(Gates.streamWindows(truth, exact.updated(unexpected, (1L, totals))).failed == 1)
  }

  test("a corrupted fingerprint is counted as a failed operation") {
    val fp = QuerySweep.loadFingerprints("fingerprints.tsv")
    assert((QuerySweep.Sweep ++ QuerySweep.TracedOnly).forall(fp.contains))
    val (rows, hash) = fp("q12_event_json")
    assert(Gates.query("q12_event_json", fp, rows, hash).failed == 0)
    assert(Gates.query("q12_event_json", fp.updated("q12_event_json", (rows, hash + "1")), rows, hash).failed == 1)
    assert(Gates.query("q12_event_json", fp.updated("q12_event_json", (rows + 1, hash)), rows, hash).failed == 1)
    assert(Gates.query("q99_missing", fp, rows, hash).failed == 1)
  }

  test("BENCHMARK.json declares exactly the metrics the harness prints") {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String): Seq[String] = {
      val body = json.substring(json.indexOf(s""""$section""""))
      val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      """"name"\s*:\s*"([^"]+)"""".r.findAllMatchIn(list).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Metrics.EndToEnd.map(_._1))
    assert(names("per_layer") == Metrics.PerLayer.map(_._1))
  }
}
