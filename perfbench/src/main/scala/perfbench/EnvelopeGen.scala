package perfbench

import graft.json._
import graft.pings.Envelope

import scala.collection.mutable

/** splitmix64: the benchmark's only randomness, so one seed fixes every input. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def int(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.size))
  def chance(perMille: Int): Boolean = int(1000) < perMille
}

object Rng {
  /** Independent stream for item `i` of a seeded input, so any prefix or
    * range of a backlog can be generated without generating what precedes it.
    */
  def at(seed: Long, stream: Long, i: Long): Rng =
    new Rng(new Rng(seed ^ (stream * 0x632be59bd9b4e019L)).nextLong() ^ (i * 0xd1b54a32d192ed03L))
}

/** Seeded envelope generator for the `ingest_stream` backlog. Field shapes
  * follow FIXTURES.md (§0 envelope, §1 crash, §2 main, §4 core, §5 event).
  * Every generated ping carries the facts the ground truth needs, so the
  * expected outputs are computed from the generator's own decisions and
  * never from the code under test.
  */
object EnvelopeGen {

  val SubmissionDate = "20160407"
  private val Countries = Vector("US", "DE", "FR", "GB", "IT", "ES", "BR", "IN", "JP", "CA",
    "PL", "RU", "NL", "SE", "MX", "AU", "CN", "ID", "TR", "AR", "KR", "CZ", "UA", "BE", "CH")
  private val Experiments = Vector("pref-flip-tls13", "shield-tp-study", "search-ui-v2",
    "e10s-multi", "webrender-beta", "quantum-css")
  private val Branches = Vector("control", "treatment")

  /** The aggregate's metric columns, in ErrorAggregator's stats order. */
  val StatCols: Vector[String] = Vector("usage_hours", "count", "main_crashes", "startup_crashes",
    "content_crashes", "gpu_crashes", "plugin_crashes", "gmplugin_crashes",
    "content_shutdown_crashes", "BROWSER_SHIM_USAGE_BLOCKED", "PERMISSIONS_SQL_CORRUPTED",
    "DEFECTIVE_PERMISSIONS_SQL_REMOVED", "SLOW_SCRIPT_NOTICE_COUNT", "SLOW_SCRIPT_PAGE_COUNT")
  private val HistCols = StatCols.drop(9)
  private def stat(name: String): Int = StatCols.indexOf(name)

  /** Dimension values of one client configuration. */
  final case class Profile(channel: String, version: String, displayVersion: String,
      buildId: String, app: String, osName: String, osVersion: String, arch: String,
      country: String)

  private def desktopProfiles(seed: Long): Vector[Profile] = {
    val r = Rng.at(seed, 1, 0)
    Vector.fill(700) {
      val channel = r.pick(Vector("release", "release", "release", "beta", "nightly", "aurora"))
      val version = r.pick(Vector("45.0", "46.0", "47.0"))
      val display = if (channel == "beta") s"${version}b${1 + r.int(9)}" else version
      val (os, osv) = r.pick(Vector(("Windows_NT", "10.0"), ("Windows_NT", "6.1"),
        ("Windows_NT", "6.3"), ("Darwin", "15.4"), ("Linux", "4.4")))
      Profile(channel, version, display, f"201603${1 + r.int(28)}%02d000000", "Firefox",
        os, osv, r.pick(Vector("x86", "x86-64")), r.pick(Countries))
    }
  }

  private def coreProfiles(seed: Long): Vector[Profile] = {
    val r = Rng.at(seed, 2, 0)
    Vector.fill(150) {
      val version = r.pick(Vector("46.0", "47.0"))
      Profile(r.pick(Vector("release", "beta", "nightly")), version, s"${version}b${1 + r.int(5)}",
        f"201603${1 + r.int(28)}%02d000000", "Fennec", "Android",
        r.pick(Vector("22", "23", "24")), r.pick(Vector("armeabi-v7a", "arm64-v8a", "x86")),
        r.pick(Countries))
    }
  }

  // ---------------------------------------------------------------- stream

  /** Pings admitted per trigger. The late-ping placement below is derived
    * from it, so the stream source must admit exactly this many.
    */
  val PingsPerTrigger = 2000
  /** Event time advances this much per backlog position (12,000 pings per
    * 5-minute window), plus a jitter that stays inside the 1-minute
    * watermark delay so on-time pings are never dropped.
    */
  val StepMs = 25L
  val JitterMs = 30000
  /** A late ping's event time trails its position by this much: its window
    * ended well before the watermark of the batch two triggers back, so it
    * is dropped whichever watermark Spark applies to late rows, and also
    * after a restart, which recovers the watermark one batch behind.
    */
  val LateMs = 900000L
  val BaseMs = 1459987200000L // 2016-04-07T00:00:00Z, a 5-minute boundary
  val WindowMs = 300000L
  val DelayMs = 60000L

  sealed abstract class Kind(val accepted: Boolean)
  case object MainOk extends Kind(true)
  case object CrashOk extends Kind(true)
  case object CoreOk extends Kind(true)
  case object Malformed extends Kind(false)
  case object WrongDocType extends Kind(false)
  case object WrongApp extends Kind(false)
  case object ChannelOther extends Kind(false)
  case object CoreNotAndroid extends Kind(false)
  case object EmptyBuildId extends Kind(false)
  case object OtherCrash extends Kind(false)
  case object NoUsageHours extends Kind(false)
  val RejectKinds: Seq[Kind] = Seq(Malformed, WrongDocType, WrongApp, ChannelOther,
    CoreNotAndroid, EmptyBuildId, OtherCrash, NoUsageHours)

  /** One backlog position: the wire bytes and what the pipeline should do with them. */
  final case class StreamPing(bytes: Array[Byte], kind: Kind, late: Boolean, eventMs: Long,
      keys: Array[String], stats: Array[Double])

  final class StreamGen(seed: Long) {
    private val desktop = desktopProfiles(seed)
    private val core = coreProfiles(seed)

    def ping(i: Long): StreamPing = {
      val r = Rng.at(seed, 3, i)
      val draw = r.int(1000)
      // The mix, per mille: 30% accepted main/crash/core, 1% late, 1%
      // malformed, the rest rejected across every reason
      // ErrorAggregator.parseEnvelope has. The shares are assumptions with
      // no measured source; they only keep most pings rejected, as on the
      // shared telemetry topic, with every reject reason exercised.
      val lateDraw = draw >= 300 && draw < 310
      val kind: Kind =
        if (draw < 170) MainOk else if (draw < 220) CrashOk else if (draw < 300) CoreOk
        else if (lateDraw) r.pick(Vector(MainOk, MainOk, CrashOk, CoreOk))
        else if (draw < 320) Malformed else if (draw < 620) WrongDocType
        else if (draw < 740) WrongApp else if (draw < 800) ChannelOther
        else if (draw < 860) CoreNotAndroid else if (draw < 920) EmptyBuildId
        else if (draw < 960) OtherCrash else NoUsageHours
      // late pings start at batch 2: the watermark of batch 0 is unset
      val late = lateDraw && i >= 2L * PingsPerTrigger
      val eventMs = BaseMs + i * StepMs + r.int(JitterMs) - (if (late) LateMs else 0L)
      val isCore = kind == CoreOk || kind == CoreNotAndroid
      val base = if (isCore) r.pick(core) else r.pick(desktop)
      val prof =
        if (!late) base
        // unique dimensions: each late ping's rows are groups of their own
        else base.copy(osVersion = s"${base.osVersion}.$i")
      val exps: Seq[(String, String)] =
        if (isCore) Nil
        else {
          val n = r.pick(Vector(0, 0, 1, 1, 2, 3))
          val first = r.int(Experiments.size)
          (0 until n).map(k => Experiments((first + k) % Experiments.size) -> r.pick(Branches))
        }
      val stats = new Array[Double](StatCols.size)
      stats(stat("count")) = 1
      val env: Envelope = kind match {
        case MainOk | NoUsageHours | WrongDocType | WrongApp | ChannelOther | EmptyBuildId | Malformed =>
          val usageM = 1 + r.int(400) // subsessionLength = 225 s × m: exact in float
          if (kind == MainOk) stats(stat("usage_hours")) = usageM / 16.0
          val hists = HistCols.flatMap { h =>
            if (r.chance(500)) { val v = r.int(4); if (kind == MainOk) stats(stat(h)) = v; Some(h -> v) }
            else None
          }
          val keyed = Seq("gpu", "plugin", "gmplugin").flatMap { k =>
            if (r.chance(300)) {
              val v = r.int(3); if (kind == MainOk) stats(stat(s"${k}_crashes")) = v; Some(k -> v)
            } else None
          }
          val docType = if (kind == WrongDocType) r.pick(Vector("event", "modules", "health",
            "first-shutdown", "new-profile")) else "main"
          val app = if (kind == WrongApp) r.pick(Vector("Thunderbird", "Focus", "Zerda")) else prof.app
          val channel = if (kind == ChannelOther) "Other" else prof.channel
          val buildId = if (kind == EmptyBuildId) "20150101000000" else prof.buildId
          mainEnvelope(r, prof.copy(app = app, channel = channel, buildId = buildId), docType,
            eventMs, exps, if (kind == NoUsageHours) None else Some(225 * usageM), hists, keyed)
        case CrashOk | OtherCrash =>
          val ptype = if (kind == OtherCrash) Some(r.pick(Vector("gpu", "plugin")))
            else r.pick(Vector(None, None, Some("content")))
          val startup = ptype.isEmpty && r.chance(200)
          val shutdownKill = ptype.contains("content") && r.chance(300)
          if (kind == CrashOk) {
            if (ptype.isEmpty) {
              stats(stat("main_crashes")) = 1
              if (startup) stats(stat("startup_crashes")) = 1
            } else if (shutdownKill) stats(stat("content_shutdown_crashes")) = 1
            else stats(stat("content_crashes")) = 1
          }
          crashEnvelope(r, prof, eventMs, exps, ptype, startup, shutdownKill)
        case CoreOk | CoreNotAndroid =>
          val durM = 1 + r.int(200)
          if (kind == CoreOk) stats(stat("usage_hours")) = durM / 16.0
          coreEnvelope(r, prof, eventMs, if (kind == CoreNotAndroid) "iOS" else "Android", 225 * durM)
      }
      val wire = env.toBytes
      val bytes = if (kind == Malformed) java.util.Arrays.copyOf(wire, wire.length / 2) else wire
      val keys =
        if (!kind.accepted) Array.empty[String]
        else {
          val windowStart = Math.floorDiv(eventMs, WindowMs) * WindowMs
          val date = java.time.Instant.ofEpochMilli(eventMs).atZone(java.time.ZoneOffset.UTC)
            .toLocalDate.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
          val dims = Seq(windowStart.toString, date, prof.channel, prof.version, prof.displayVersion,
            prof.buildId, prof.app, prof.osName, prof.osVersion, prof.arch, prof.country)
          ((None, None) +: exps.map { case (e, b) => (Some(e), Some(b)) }).distinct.map {
            case (e, b) => (dims ++ Seq(e.getOrElse("\u0000"), b.getOrElse("\u0000"))).mkString("\u0001")
          }.toArray
        }
      StreamPing(bytes, kind, late, eventMs, keys, if (kind.accepted) stats else Array.empty)
    }
  }

  private def js(s: String): String = Json.str(s).render

  private def environmentFields(p: Profile, exps: Seq[(String, String)]): Map[String, JsonValue] = Map(
    "environment.build" -> Json.str(
      s"""{"architecture": ${js(p.arch)}, "buildId": ${js(p.buildId)}, "version": ${js(p.version)}}"""),
    "environment.system" -> Json.str(
      s"""{"os": {"name": ${js(p.osName)}, "version": ${js(p.osVersion)}}, "isWow64": false, "memoryMB": 8192}"""),
    "environment.profile" -> Json.str("""{"creationDate": 16000}"""),
    "environment.settings" -> Json.str("""{"locale": "en-US", "isDefaultBrowser": true}"""),
    "environment.experiments" -> Json.str(
      exps.map { case (e, b) => s"${js(e)}: {${js("branch")}: ${js(b)}}" }.mkString("{", ", ", "}")))

  private def commonFields(r: Rng, p: Profile, docType: String): Map[String, JsonValue] = Map(
    "clientId" -> Json.str(f"client-${r.nextLong() & 0xffffffffL}%08x"),
    "documentId" -> Json.str(f"doc-${r.nextLong()}%016x"),
    "docType" -> Json.str(docType),
    "normalizedChannel" -> Json.str(p.channel),
    "appName" -> Json.str(p.app),
    "appVersion" -> Json.str(p.version),
    "appBuildId" -> Json.str(p.buildId),
    "geoCountry" -> Json.str(p.country),
    "os" -> Json.str(p.osName),
    "submissionDate" -> Json.str(SubmissionDate),
    "sampleId" -> Json.num(r.int(100).toLong))

  private def applicationJson(p: Profile): String =
    s"""{"architecture": ${js(p.arch)}, "buildId": ${js(p.buildId)}, "channel": ${js(p.channel)}, "name": ${js(p.app)}, "version": ${js(p.version)}, "displayVersion": ${js(p.displayVersion)}}"""

  private def mainEnvelope(r: Rng, p: Profile, docType: String, eventMs: Long,
      exps: Seq[(String, String)], subsessionLength: Option[Int],
      hists: Seq[(String, Int)], keyed: Seq[(String, Int)]): Envelope = {
    val histJson = (hists.map { case (h, v) => s"${js(h)}: {${js("values")}: {${js("0")}: $v}}" } :+
      s"""${js("INPUT_EVENT_RESPONSE_COALESCED_MS")}: {"values": {"1": ${r.int(9)}, "150": ${r.int(9)}, "250": ${r.int(9)}}}""")
      .mkString("{", ", ", "}")
    val keyedJson =
      s"""{"SUBPROCESS_CRASHES_WITH_DUMP": ${keyed.map { case (k, v) => s"${js(k)}: {${js("values")}: {${js("0")}: $v}}" }.mkString("{", ", ", "}")}, "SEARCH_COUNTS": {"google.urlbar": {"values": {"0": ${r.int(5)}}, "sum": ${r.int(5)}}}}"""
    val info = subsessionLength.map(l => s""""subsessionLength": $l, """).getOrElse("") +
      s""""subsessionCounter": ${1 + r.int(4)}, "sessionId": "s-${r.int(1000000)}", "reason": "shutdown""""
    val fields = commonFields(r, p, docType) ++ environmentFields(p, exps) ++ Map(
      "payload.histograms" -> Json.str(histJson),
      "payload.keyedHistograms" -> Json.str(keyedJson),
      "payload.simpleMeasurements" -> Json.str(s"""{"activeTicks": ${r.int(2000)}, "firstPaint": ${r.int(3000)}}"""),
      "payload.info" -> Json.str(s"{$info}"))
    Envelope(fields, eventMs * 1000000L, Some(s"""{"application": ${applicationJson(p)}, "payload": {}}"""))
  }

  private def crashEnvelope(r: Rng, p: Profile, eventMs: Long, exps: Seq[(String, String)],
      processType: Option[String], startup: Boolean, shutdownKill: Boolean): Envelope = {
    val meta = (if (startup) Seq(s"""${js("StartupCrash")}: "1"""") else Nil) ++
      (if (shutdownKill) Seq(s"""${js("ipc_channel_error")}: "ShutDownKill"""") else Nil)
    val ptype = processType.map(t => s""", "processType": ${js(t)}""").getOrElse("")
    val payload = s"""{"payload": {"crashDate": "2016-04-06", "metadata": {${meta.mkString(", ")}}$ptype}, "application": ${applicationJson(p)}}"""
    Envelope(commonFields(r, p, "crash") ++ environmentFields(p, exps) + ("displayVersion" -> Json.str(p.displayVersion)),
      eventMs * 1000000L, Some(payload))
  }

  private def coreEnvelope(r: Rng, p: Profile, eventMs: Long, os: String, durations: Int): Envelope = {
    val submission = s"""{"durations": $durations, "device": "pixel", "displayVersion": ${js(p.displayVersion)}, "tz": 120, "locale": "en-US", "arch": ${js(p.arch)}, "os": ${js(os)}, "seq": ${r.int(500)}, "v": 9, "osversion": ${js(p.osVersion)}, "sessions": 1, "profileDate": 16000, "defaultBrowser": true, "created": "2016-04-06"}"""
    Envelope(commonFields(r, p, "core") ++ Map(
      "submission" -> Json.str(submission), "sourceName" -> Json.str("telemetry")),
      eventMs * 1000000L, None)
  }

  /** What the error-aggregates job must produce for backlog positions
    * [0, pings) admitted [[PingsPerTrigger]] at a time.
    *
    * `windows` maps window start (epoch ms) to (group count, metric totals
    * over [[StatCols]]). Windows ending at or before `certainWm` are emitted
    * by the last batch for sure; those ending at or before `finalWm` are
    * emitted only if Spark runs its watermark-only batch before the stop.
    */
  final case class StreamTruth(pings: Long, accepted: Long, lateRowsDropped: Long,
      windows: Map[Long, (Long, Array[Double])], certainWm: Long, finalWm: Long)

  def streamTruth(backlog: IndexedSeq[StreamPing], pings: Long): StreamTruth = {
    require(pings % PingsPerTrigger == 0 && pings <= backlog.size, s"bad prefix $pings")
    val batches = (pings / PingsPerTrigger).toInt
    val groups = mutable.HashMap.empty[Long, mutable.HashSet[String]]
    val totals = mutable.HashMap.empty[Long, Array[Double]]
    var accepted, lateRows = 0L
    var maxEvent = Long.MinValue
    // wms(b) is the watermark batch b evicts with: max event time of all
    // earlier batches minus the delay (0 before any data)
    val wms = new Array[Long](batches + 1)
    for (b <- 0 until batches) {
      wms(b) = if (maxEvent == Long.MinValue) 0L else math.max(if (b > 0) wms(b - 1) else 0L, maxEvent - DelayMs)
      val lateWm = if (b > 0) wms(b - 1) else 0L
      for (i <- b.toLong * PingsPerTrigger until (b + 1).toLong * PingsPerTrigger) {
        val p = backlog(i.toInt)
        if (p.kind.accepted) {
          accepted += 1
          maxEvent = math.max(maxEvent, p.eventMs)
          val w = Math.floorDiv(p.eventMs, WindowMs) * WindowMs
          if (p.late) {
            require(w + WindowMs <= lateWm, s"late ping $i is not behind the watermark")
            lateRows += p.keys.length
          } else {
            require(w + WindowMs > wms(b), s"on-time ping $i fell behind the watermark")
            groups.getOrElseUpdate(w, mutable.HashSet.empty) ++= p.keys
            val t = totals.getOrElseUpdate(w, new Array[Double](StatCols.size))
            for (k <- t.indices) t(k) += p.stats(k) * p.keys.length
          }
        }
      }
    }
    wms(batches) = math.max(wms(batches - 1), maxEvent - DelayMs)
    StreamTruth(pings, accepted, lateRows,
      groups.map { case (w, g) => w -> (g.size.toLong, totals(w)) }.toMap,
      certainWm = if (batches >= 2) wms(batches - 2) else 0L, finalWm = wms(batches))
  }
}
