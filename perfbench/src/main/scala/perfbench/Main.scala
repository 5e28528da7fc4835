package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one workload run measured. `e2e` holds the values of
  * [[Metrics.EndToEnd]] except `setup_s` and `heap_live_peak_mb`, which
  * [[Main]] measures for every workload; `named` holds the same numbers
  * under the workload's own metric names.
  */
final case class Measured(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    named: Seq[(String, Double, String)],
    layers: Map[String, Double] = Map.empty)

object Main {

  /** Every work file the benchmark writes lives here, inside the checkout. */
  val WorkRoot: Path = Paths.get(".bench_build", "work").toAbsolutePath

  private var firstTimedOpMs = 0L

  /** Marks the start of the first timed operation, which ends set-up:
    * `setup_s` runs from JVM start to the first call's time.
    */
  def setupDone(atMs: Long = System.currentTimeMillis()): Unit =
    if (firstTimedOpMs == 0L) firstTimedOpMs = atMs

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = {
    val s = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench] +$s%.1fs $msg")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opts.get("mode").contains("fingerprint")) { QuerySweep.writeFingerprints(opts); return }
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val runner: (Long, Double, Boolean) => Measured = workload match {
      case "ingest_stream" => graft.streaming.StreamIngest.run
      case "query_sweep" => QuerySweep.run
      case other => sys.error(s"unknown workload $other")
    }
    deleteTree(WorkRoot)
    Files.createDirectories(WorkRoot)
    HeapWatch.start()
    val calPre = HostCal.stamp()
    val m = runner(seed, seconds, trace)
    val calPost = HostCal.stamp()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (firstTimedOpMs - jvmStart) / 1000.0
    val heapMb = HeapWatch.peakMb
    val failedFrac = m.failed.toDouble / m.attempted
    // A pair of runs whose stamps differ by more than 20% ran under
    // different host regimes; compare.py flags such pairs.
    val drift = math.max(math.abs(calPost._1 / calPre._1 - 1), math.abs(calPost._2 / calPre._2 - 1))
    val named = Seq(("setup_s", setupS, "s")) ++ m.named ++
      Seq(("heap_live_peak_mb", heapMb, "MB"), ("failed_frac", failedFrac, "ratio"))
    println(JsonOut.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "named" -> JsonOut.obj(named.map { case (k, v, u) => k -> JsonOut.obj("value" -> v, "unit" -> u) }: _*),
      "host" -> JsonOut.obj("st_mops_pre" -> calPre._1, "mt_mops_pre" -> calPre._2,
        "st_mops_post" -> calPost._1, "mt_mops_post" -> calPost._2, "drift" -> drift,
        "regime_changed" -> (drift > 0.2))))
    val e2e = m.e2e ++ Map("setup_s" -> setupS, "heap_live_peak_mb" -> heapMb)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Metrics.EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        val host = Map("host.st_mops" -> calPre._1, "host.mt_mops" -> calPre._2,
          "host.st_mops_post" -> calPost._1, "host.mt_mops_post" -> calPost._2)
        Metrics.PerLayer.map { case (k, u) => (k, (m.layers ++ host).getOrElse(k, 0.0), u) }
      }
    println(JsonOut.obj(
      "correct" -> (m.failed == 0), "attempted" -> m.attempted, "failed" -> m.failed,
      "metrics" -> JsonOut.obj(metrics.map { case (k, v, u) => k -> JsonOut.obj("value" -> v, "unit" -> u) }: _*)))
    System.out.flush()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}

/** Names, units and directions of the metrics BENCHMARK.json declares. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "op_geomean_ms" -> "ms", "heap_live_peak_mb" -> "MB")

  /** End-to-end metrics measured per timed phase, so a traced phase can be
    * compared with an untraced one; set-up and heap are whole-run measures.
    */
  val Overhead: Seq[String] = Seq("work_per_s", "op_p50_ms", "op_p90_ms", "op_geomean_ms")

  val QueryTargets: Seq[String] = Seq("q12", "q72", "q100", "q107", "q117", "q123", "q126",
    "q130", "q135", "q137", "q142", "q146")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.offset_ms" -> "ms", "sources.bytes_read" -> "bytes", "sources.records_read" -> "count",
    "sources.files_read" -> "count",
    "pings.parse_us" -> "us", "pings.build_us" -> "us", "pings.accept_ratio" -> "ratio",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.state_rows_peak" -> "count",
    "streaming.state_mem_peak_bytes" -> "bytes", "streaming.state_commit_ms" -> "ms",
    "streaming.late_rows_dropped" -> "count", "streaming.triggers" -> "count",
    "streaming.leg_source_pings_per_s" -> "1/s", "streaming.leg_decode_pings_per_s" -> "1/s",
    "streaming.leg_agg_pings_per_s" -> "1/s", "streaming.pings_per_s_1core" -> "1/s",
    "sinks.rows_written" -> "count", "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "queries.construct_ms" -> "ms", "queries.exec_ms" -> "ms", "queries.plan_ms" -> "ms",
    "queries.relational_s" -> "s", "queries.event_s" -> "s", "queries.text_s" -> "s",
    "queries.dedup_s" -> "s", "queries.vector_s" -> "s") ++
    QueryTargets.map(q => s"queries.$q.wall_ms" -> "ms") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_gap_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.core_busy_ratio" -> "ratio", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.task_failures" -> "count",
    "host.st_mops" -> "Mops/s", "host.mt_mops" -> "Mops/s",
    "host.st_mops_post" -> "Mops/s", "host.mt_mops_post" -> "Mops/s") ++
    Overhead.map(k => s"trace.overhead.$k" -> EndToEnd.toMap.apply(k))

}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** The host-regime stamp: graft.Bench's xorshift64 calibration kernel,
  * single thread and one copy per core, in million steps per second. It is
  * taken before and after every run with fewer steps than Bench uses; the
  * rate is the same measure.
  */
object HostCal {
  private def xorshiftMops(steps: Long): Double = {
    var x = 88172645463325252L; var i = 0L
    val t0 = System.nanoTime()
    while (i < steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    steps / dt / 1e6
  }
  def stamp(): (Double, Double) = {
    xorshiftMops(20000000L) // JIT-compile the kernel before it is timed
    val st = xorshiftMops(100000000L)
    val n = Runtime.getRuntime.availableProcessors()
    val per = new Array[Double](n)
    val ts = (0 until n).map(t => new Thread(() => per(t) = xorshiftMops(50000000L)))
    ts.foreach(_.start()); ts.foreach(_.join())
    (st, per.sum)
  }
}

/** Highest heap in use after a full collection, above the [[baseline]]:
  * at the end of set-up and at the end of each timed phase ([[sample]]),
  * and at any full collection the JVM makes on its own. A sample collects
  * until two readings 200 ms apart agree within 1 MB, so Spark's
  * ContextCleaner has dropped the blocks of unreachable RDDs first: the
  * reading is live data, not collection timing.
  *
  * The baseline is a settled sample taken after the workload has made its
  * inputs and before it starts Spark, so the harness's own data (the
  * stream backlog and its ground truth) is not counted: what remains is
  * Spark and the program under test.
  */
object HeapWatch {
  @volatile private var base = -1L
  @volatile private var peak = 0L
  def peakMb: Double = { require(base >= 0, "no heap baseline taken"); (peak - base) / 1048576.0 }

  /** Takes the baseline and drops every reading made before it. */
  def baseline(): Unit = {
    val b = settled()
    synchronized { base = b; peak = b }
  }

  private val workloadGc = new java.util.concurrent.atomic.AtomicLong

  /** Collection time so far, without the collections the harness requests
    * between operations ([[fullGc]], [[sample]]).
    */
  def workloadGcMs: Long = workloadGc.get

  def start(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcCause != "System.gc()") {
              workloadGc.addAndGet(info.getGcInfo.getDuration)
              if (info.getGcAction.contains("major")) record(
                info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                  case (pool, u) if heapPools(pool) => u.getUsed
                }.sum)
            }
          }
        }, null, null)
      case _ => ()
    }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def record(used: Long): Unit = synchronized { if (base >= 0) peak = math.max(peak, used) }

  /** A full collection between operations, so one's garbage is not
    * collected inside the next one's timing.
    */
  def fullGc(): Unit = System.gc()

  def sample(): Unit = record(settled())

  private def settled(): Long = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 5) {
      Thread.sleep(200)
      val now = used()
      settled = math.abs(now - last) < (1L << 20)
      last = now
      rounds += 1
    }
    last
  }
}

/** Minimal JSON rendering for the result lines and the trace file. */
object JsonOut {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))
  def arr(vs: Seq[Any]): Raw = Raw(vs.map(render).mkString("[", ",", "]"))
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(other.toString)
  }
}
