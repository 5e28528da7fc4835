package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import perfbench.EnvelopeGen._

/** The generator's ground truth agrees with the real decode stage: a ping
  * it marks accepted parses to exactly its ground-truth group keys, and a
  * ping it marks rejected is rejected.
  */
class GeneratorDecodeSpec extends AnyFunSuite {
  test("accepted pings decode to the generator's dimension keys") {
    val gen = new StreamGen(11)
    val cols = ErrorAggregator.dimensionsSchema.fieldNames.filter(_ != "timestamp")
    for (i <- 0L until 6000L) {
      val p = gen.ping(i)
      val rows = try Some(ErrorAggregator.parseEnvelope(p.bytes)) catch { case _: Exception => None }
      assert(rows.isDefined == p.kind.accepted, s"ping $i (${p.kind}) accept mismatch")
      // decoded rows carry no schema: read them by position
      def at(r: org.apache.spark.sql.Row, c: String): Any = r.get(ErrorAggregator.mergedSchema.fieldIndex(c))
      rows.foreach { rs =>
        val keys = rs.map { r =>
          val window = Math.floorDiv(at(r, "timestamp").asInstanceOf[java.sql.Timestamp].getTime, WindowMs) * WindowMs
          (window.toString +: cols.map(c => Option(at(r, c)).getOrElse("\u0000"))).mkString("\u0001")
        }
        assert(keys.toSet == p.keys.toSet, s"ping $i keys")
        val names = ErrorAggregator.statsSchema.fieldNames.toSeq
        val stats = names.map(c => at(rs.head, c) match {
          case null => 0.0
          case n: java.lang.Number => n.doubleValue
        })
        assert(stats == names.map(c => p.stats(StatCols.indexOf(c))), s"ping $i stats")
      }
    }
  }
}
