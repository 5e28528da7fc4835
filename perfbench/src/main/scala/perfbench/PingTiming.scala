package perfbench

import graft.pings.{CorePing, CrashPing, Envelope, EventPing, MainPing}

/** Single-thread cost of the ping layer over a fixed sample of a workload's
  * own envelopes: `Envelope.parseFrom` per envelope, and the typed
  * `fromEnvelope` builder per main, crash, core or event ping. The median of
  * five timed passes after one untimed pass, in microseconds.
  */
object PingTiming {
  private def build(env: Envelope): Boolean =
    try {
      env.fieldString("docType") match {
        case Some("main") => MainPing.fromEnvelope(env); true
        case Some("crash") => CrashPing.fromEnvelope(env); true
        case Some("core") => CorePing.fromEnvelope(env); true
        case Some("event") => EventPing.fromEnvelope(env); true
        case _ => false
      }
    } catch { case _: Exception => false }

  def measure(sample: Seq[Array[Byte]]): (Double, Double) = {
    val passes = (0 until 6).map { _ =>
      val t0 = System.nanoTime()
      val envs = sample.flatMap(b => try Some(Envelope.parseFrom(b)) catch { case _: Exception => None })
      val t1 = System.nanoTime()
      val built = envs.count(build)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e3 / sample.size, (t2 - t1) / 1e3 / math.max(1, built))
    }.drop(1)
    (Stats.median(passes.map(_._1)), Stats.median(passes.map(_._2)))
  }
}
