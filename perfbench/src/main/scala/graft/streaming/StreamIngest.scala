package graft.streaming

import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import perfbench.EnvelopeGen._
import perfbench._

import java.nio.file.{Files, Path}

/** The backlog the `ingest_stream` source serves, by position. Tasks run in
  * the driver JVM (local mode), so the source reads it in place.
  */
object Backlog {
  @volatile var wire: Array[Array[Byte]] = Array.empty
}

/** `ingest_stream`: the real streaming ErrorAggregator wiring,
  * `Jobs.ErrorAggregatorJob.startWithSource` (aggregate → repartition(1) →
  * partitioned parquet with a checkpoint), fed from a pre-generated
  * envelope backlog through the `graft-synth` source.
  *
  * Closed loop: every trigger admits exactly [[PingsPerTrigger]] pings, as
  * a job catching up on Kafka lag would. A run warms up for
  * [[WarmTriggers]] triggers, stops, and restarts from its checkpoint with
  * enough backlog for `seconds` at the warm-up rate; the first
  * [[SettleTriggers]] triggers after the restart are not timed.
  */
object StreamIngest {
  val WarmTriggers = 8
  val SettleTriggers = 1
  /** The backlog, generated whole during set-up so the harness's share of
    * the heap does not depend on how fast the job runs.
    */
  val BacklogPings = 120000

  sealed abstract class Leg(val name: String)
  case object Full extends Leg("full")
  case object SourceOnly extends Leg("source")
  case object Decode extends Leg("decode")
  case object Aggregate extends Leg("agg")

  private var backlog: IndexedSeq[StreamPing] = Vector.empty

  def session(cores: Int): SparkSession = {
    // keep every trigger's progress for the run's percentiles
    System.setProperty("spark.sql.streaming.numRecentProgressUpdates", "1000")
    // one shuffle (and state-store) partition per core, as graft.Bench sizes
    // its sweep: Spark's default of 200 makes every trigger at local[4] cost
    // ~7 s of per-partition state overhead (measured), whatever its input
    System.setProperty("spark.sql.shuffle.partitions", cores.toString)
    val spark = new StreamingJobBase { override val JobName = "error_aggregator" }
      .buildSession("Error Aggregates", master = s"local[$cores]")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def source(spark: SparkSession, maxRows: Long): DataFrame = {
    import spark.implicits._
    spark.readStream.format("graft-synth")
      .option("rowsPerBatch", PingsPerTrigger.toString)
      .option("numPartitions", spark.sparkContext.defaultParallelism.toString)
      .option("maxRows", maxRows.toString)
      .load()
      .select($"offset").as[Long]
      .map(i => Backlog.wire(i.toInt))
      .toDF("value")
  }

  private def noop(df: DataFrame, ckpt: Path): StreamingQuery =
    df.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()

  def start(leg: Leg, spark: SparkSession, dir: Path, maxRows: Long): StreamingQuery = {
    val ckpt = dir.resolve("checkpoint")
    val src = source(spark, maxRows)
    leg match {
      case Full =>
        val opts = StreamingJobBase.parseOpts("error_aggregator", Array(
          "--kafkaBroker", "injected:9092", // streaming mode; the source is injected
          "--checkpointPath", ckpt.toString, "--outputPath", dir.resolve("out").toString))
        Jobs.ErrorAggregatorJob.startWithSource(opts, src)
      case SourceOnly => noop(src, ckpt)
      case Decode =>
        // the decode stage of ErrorAggregator.aggregate, as it runs there
        noop(src.flatMap { v =>
          try ErrorAggregator.parseEnvelope(v.getAs[Array[Byte]](0))
          catch { case _: Throwable => Array.empty[Row] }
        }(Encoders.row(ErrorAggregator.mergedSchema)), ckpt)
      case Aggregate => noop(ErrorAggregator.aggregate(src), ckpt)
    }
  }

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def triggerMs(p: StreamingQueryProgress): Double = p.durationMs.get("triggerExecution").doubleValue

  /** One closed-loop drive: `all` is every trigger's progress, `timed` the
    * triggers after warm-up, `pings` the backlog prefix consumed.
    */
  final case class Drive(all: Seq[StreamingQueryProgress], timed: Seq[StreamingQueryProgress], pings: Long) {
    def pingsPerS: Double = {
      val wallMs = startMs(timed.last) + triggerMs(timed.last) - startMs(timed.head)
      timed.map(_.numInputRows).sum * 1000.0 / wallMs
    }
    def lateRowsDropped: Long = all.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
  }

  def drive(leg: Leg, spark: SparkSession, dir: Path, seconds: Double,
      warmTriggers: Int = WarmTriggers): Drive = {
    Main.note(s"${leg.name}: warm-up")
    val q1 = start(leg, spark, dir, warmTriggers.toLong * PingsPerTrigger)
    try q1.processAllAvailable() finally q1.stop()
    val warm = q1.recentProgress.toSeq.filter(_.numInputRows > 0)
    // the first trigger compiles the plan; the fastest other one is the
    // closest to the steady rate
    val rate = PingsPerTrigger * 1000.0 / warm.drop(1).map(triggerMs).min
    val maxTimed = BacklogPings / PingsPerTrigger - warmTriggers - SettleTriggers
    val timedTriggers = math.max(3, math.min(maxTimed, math.ceil(seconds * rate / PingsPerTrigger).toInt))
    val total = (warmTriggers + SettleTriggers + timedTriggers) * PingsPerTrigger
    HeapWatch.sample()
    Main.note(s"${leg.name}: restart")
    val q2 = start(leg, spark, dir, total.toLong)
    try q2.processAllAvailable() finally q2.stop()
    HeapWatch.sample()
    q2.exception.foreach(e => throw e)
    val rest = q2.recentProgress.toSeq
    System.err.println(s"[perfbench] ${leg.name}: ${timedTriggers} timed triggers, warm-up rate $rate pings/s")
    val timed = rest.filter(_.numInputRows > 0).drop(SettleTriggers)
    System.err.println(s"[perfbench] ${leg.name}: trigger ms ${timed.map(p => triggerMs(p).toInt).mkString(" ")}")
    require(timed.map(_.numInputRows).sum == timedTriggers.toLong * PingsPerTrigger,
      s"${leg.name}: timed triggers admitted ${timed.map(_.numInputRows).sum} pings")
    Drive(q1.recentProgress.toSeq ++ rest, timed, total.toLong)
  }

  /** Compares the job's parquet output and watermark drops with the ground truth. */
  def check(spark: SparkSession, dir: Path, d: Drive): Gates.Verdict = {
    val truth = streamTruth(backlog, d.pings)
    val out = spark.read.parquet(dir.resolve("out").resolve("error_aggregator/v2").toString)
    val aggs = count(lit(1)) +: StatCols.map(c => sum(col(c)).cast("double"))
    val observed = out.groupBy((col("window_start").cast("long") * 1000).as("w"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        StatCols.indices.map(k => if (r.isNullAt(k + 2)) 0.0 else r.getDouble(k + 2)).toArray))
      .toMap
    val groups = observed.values.map(_._1)
    System.err.println(s"[perfbench] ${observed.size} windows out, groups per window ${groups.min} to ${groups.max}")
    Gates.streamWindows(truth, observed) ++
      Gates.Verdict.one(s"late rows dropped ${d.lateRowsDropped} vs truth ${truth.lateRowsDropped}",
        d.lateRowsDropped == truth.lateRowsDropped)
  }

  private def endToEnd(d: Drive): (Map[String, Double], Seq[(String, Double, String)]) = {
    val ms = d.timed.map(triggerMs)
    val e2e = Map("work_per_s" -> d.pingsPerS, "op_p50_ms" -> Stats.median(ms),
      "op_p90_ms" -> Stats.quantile(ms, 0.9), "op_geomean_ms" -> Stats.geomean(ms))
    (e2e, Seq(("stream_pings_per_s", e2e("work_per_s"), "1/s"),
      ("stream_trigger_p50_ms", e2e("op_p50_ms"), "ms"), ("stream_trigger_p90_ms", e2e("op_p90_ms"), "ms"),
      ("stream_triggers", ms.size.toDouble, "count")))
  }

  def run(seed: Long, seconds: Double, trace: Boolean): Measured = {
    Main.note("generating backlog")
    val gen = new StreamGen(seed)
    // every position has its own random stream, so positions generate in
    // parallel to the same backlog
    backlog = java.util.stream.IntStream.range(0, BacklogPings).parallel()
      .mapToObj[StreamPing](i => gen.ping(i.toLong)).toArray(n => new Array[StreamPing](n)).toIndexedSeq
    Backlog.wire = backlog.map(_.bytes).toArray
    HeapWatch.baseline()
    Main.note("backlog ready")
    val cores = 4
    var spark = session(cores)
    val work = Main.WorkRoot
    val d = drive(Full, spark, work.resolve("full"), seconds)
    Main.setupDone(startMs(d.timed.head))
    val verdict = check(spark, work.resolve("full"), d)
    verdict.report("ingest_stream")
    val (e2e, named) = endToEnd(d)
    var attempted = d.all.count(_.numInputRows > 0) + verdict.attempted
    var failed = verdict.failed
    if (!trace) {
      spark.stop()
      return Measured(attempted, failed, e2e, named)
    }

    val rec = new Recorder(spark).attach()
    val traced = rec.span("streaming.drive", "full-traced") { drive(Full, spark, work.resolve("traced"), seconds) }
    rec.detach()
    val tv = rec.span("sinks.verify") { check(spark, work.resolve("traced"), traced) }
    tv.report("ingest_stream traced")
    val (e2eT, _) = endToEnd(traced)
    val sample = backlog.take(4000).map(_.bytes)
    val (parseUs, buildUs) = rec.span("pings.parse_build") { PingTiming.measure(sample) }
    val truth = streamTruth(backlog, traced.pings)
    val accepted = backlog.take(traced.pings.toInt).count { p =>
      try ErrorAggregator.parseEnvelope(p.bytes).nonEmpty catch { case _: Throwable => false }
    }
    val acceptVerdict = Gates.Verdict.one(s"accepted $accepted vs truth ${truth.accepted}",
      accepted == truth.accepted)
    acceptVerdict.report("ingest_stream accept")
    attempted += traced.all.count(_.numInputRows > 0) + tv.attempted + 1
    failed += tv.failed + acceptVerdict.failed
    val files = Files.walk(work.resolve("traced").resolve("out"))
    val filesWritten = try files.filter(_.toString.endsWith(".parquet")).count() finally files.close()
    val legs = Seq(SourceOnly -> "streaming.leg_source_pings_per_s",
      Decode -> "streaming.leg_decode_pings_per_s", Aggregate -> "streaming.leg_agg_pings_per_s")
      .map { case (leg, key) =>
        key -> rec.span(s"streaming.leg.${leg.name}", leg.name) {
          drive(leg, spark, work.resolve(leg.name), seconds / 4, 3).pingsPerS
        }
      }
    rec.writeTo(work.getParent.resolve(s"trace-ingest_stream.jsonl"))
    val layers = rec.sparkLayers(cores) ++ Recorder.streamingLayers(traced.timed) ++ legs ++ Map(
      "streaming.late_rows_dropped" -> traced.lateRowsDropped.toDouble,
      "streaming.triggers" -> traced.timed.size.toDouble,
      "pings.parse_us" -> parseUs, "pings.build_us" -> buildUs,
      "pings.accept_ratio" -> accepted.toDouble / traced.pings,
      "sinks.files_written" -> filesWritten.toDouble) ++
      e2eT.map { case (k, v) => s"trace.overhead.$k" -> (v - e2e(k)) }
    spark.stop()
    spark = session(1)
    val oneCore = drive(Full, spark, work.resolve("one-core"), seconds / 4, 3).pingsPerS
    spark.stop()
    Measured(attempted, failed, e2e, named, layers + ("streaming.pings_per_s_1core" -> oneCore))
  }
}
