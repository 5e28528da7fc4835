package perfbench

import graft.queries.{Families, QueryPack}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `query_sweep`: QueryPack queries built and executed to the `noop` sink
  * under graft.Bench's Spark confs, on the sf0.1 corpus.
  *
  * The full 140-query production sweep takes about two minutes per pass at
  * four cores, longer than one benchmark run may take. The timed sweep is
  * ten queries that cover every query-family file: the ROADMAP targets
  * q12, q100, q117, q123, q126, q130 and q137, plus an anti join (q06), a
  * sessionizer (q13) and an IVF k-NN (q38). The other ROADMAP targets
  * (q72, q107, q135, q146 and the replay twin q142) run in the traced run
  * only, for their walls.
  *
  * Set-up makes an untimed warm pass that checks
  * each query's row count and order-independent hash against
  * `fingerprints.tsv`, in one fixed order. The timed passes run in an
  * order fixed by the seed, each query [[Reps]] times back to back.
  */
object QuerySweep {
  val Sweep: Seq[String] = Seq("q06_anti_join", "q12_event_json", "q13_sessionize",
    "q38_knn_ivf", "q100_pii_redact", "q117_trigram_lm", "q123_source_minhash",
    "q126_triangles", "q130_bpe_learn", "q137_clustering_coeff")
  /** Runs of each query back to back in one pass; its wall is the fastest. */
  val Reps = 3
  val TracedOnly: Seq[String] = Seq("q72_curation", "q107_hybrid_retrieval", "q135_bpe_fertility",
    "q146_bpe_heldout", "q142_graph_curation")

  /** The repo's read-only bench corpus, as graft.Bench finds it. */
  def corpus: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    Paths.get(System.getProperty("user.home"), "testdata", "sf0.1").toString)

  val FingerprintFile = "perfbench/fingerprints.tsv"

  /** graft.Bench's session at four cores. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Row count and the exact sum of every row's xxhash64 over its
    * JSON rendering: equal for equal multisets of rows, in any order.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(to_json(struct(cols.map(col): _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  def loadFingerprints(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> (rows.toLong, hash)
    }.toMap

  /** `--mode fingerprint --dir <graft.Verify output> --out <file>`: the
    * fingerprints of query results dumped by graft.Verify (and checked
    * against DuckDB by tools/check.py), for every swept query.
    */
  def writeFingerprints(opts: Map[String, String]): Unit = {
    val spark = session()
    val lines = (Sweep ++ TracedOnly).sorted.map { q =>
      val (rows, hash) = fingerprint(spark.read.parquet(s"${opts("dir")}/$q"))
      s"$q\t$rows\t$hash"
    }
    Files.write(Paths.get(opts("out")), lines.asJava)
    spark.stop()
  }

  def run(seed: Long, seconds: Double, trace: Boolean): Measured = {
    HeapWatch.baseline()
    val spark = session()
    val expected = loadFingerprints(FingerprintFile)
    val order = {
      val r = new Rng(seed)
      Sweep.map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2)
    }
    def warm(qs: Seq[String]): Gates.Verdict = qs.map { q =>
      try {
        val (rows, hash) = fingerprint(QueryPack.all(q)(spark, corpus))
        Gates.query(q, expected, rows, hash)
      } catch { case e: Exception => Gates.Verdict.one(s"$q threw $e", ok = false) }
    }.reduce(_ ++ _)
    // the warm pass runs in one fixed order for every seed, so the JIT
    // profiles the timed passes inherit do not depend on the seed
    var verdict = warm(Sweep)

    /** One timed or traced sweep: per query execution, its construct and
      * execute seconds. `pass` and the position make each query execution
      * its own traced op.
      */
    def sweep(qs: Seq[String], rec: Option[Recorder], pass: Int = 0): Seq[(String, (Double, Double))] =
      qs.zipWithIndex.flatMap { case (q, i) =>
        HeapWatch.fullGc()
        Main.setupDone()
        try {
          val t = Recorder.within(rec, "query", s"$q#$pass.$i") {
            val t0 = System.nanoTime()
            val df = Recorder.within(rec, "queries.construct") { QueryPack.all(q)(spark, corpus) }
            val t1 = System.nanoTime()
            Recorder.within(rec, "queries.exec") { df.write.mode("overwrite").format("noop").save() }
            ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
          }
          verdict = verdict ++ Gates.Verdict(1, Nil)
          Some(q -> t)
        } catch {
          case e: Exception =>
            verdict = verdict ++ Gates.Verdict.one(s"$q threw $e", ok = false)
            None
        }
      }

    /** Passes until `seconds` have passed, at least one. A pass runs each
      * query [[Reps]] times back to back, and a query's time is that of its
      * fastest run, as in graft.Bench. Only the first run follows another
      * query, so what that query leaves behind does not set the wall: with
      * whole-sweep passes, q38's fastest wall moved by half with the order.
      */
    def passes(rec: Option[Recorder]): Map[String, (Double, Double)] = {
      HeapWatch.sample()
      val start = System.nanoTime()
      val done = Iterator.from(0)
        .takeWhile(k => k == 0 || (System.nanoTime() - start) / 1e9 < seconds)
        .flatMap(k => sweep(order.flatMap(Seq.fill(Reps)(_)), rec, k))
        .toVector
      HeapWatch.sample()
      done.groupMapReduce(_._1)(_._2)((a, b) => if (a._1 + a._2 <= b._1 + b._2) a else b)
    }
    val timed = passes(None)
    System.err.println("[perfbench] query walls ms: " +
      order.map(q => s"${q.takeWhile(_ != '_')}=${timed.get(q).map { case (c, e) => ((c + e) * 1000).toInt }.getOrElse(-1)}").mkString(" "))
    val walls = timed.map { case (q, (c, e)) => q -> (c + e) }
    val e2e = metrics(walls)
    val named = Seq(("query_total_s", walls.values.sum, "s"), ("query_geomean_ms", e2e("op_geomean_ms"), "ms"))

    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        verdict = verdict ++ warm(TracedOnly)
        val rec = new Recorder(spark).attach()
        val traced = passes(Some(rec))
        rec.detach()
        rec.writeTo(Main.WorkRoot.getParent.resolve("trace-query_sweep.jsonl"))
        // the traced-only targets get a recorder of their own, so the sweep's
        // layer counters cover exactly the timed queries
        val targets = new Recorder(spark).attach()
        val extra = sweep(TracedOnly, Some(targets))
        targets.detach()
        targets.writeTo(Main.WorkRoot.getParent.resolve("trace-query_sweep-targets.jsonl"))
        val swept = traced.map { case (q, (c, e)) => q -> (c + e) }
        val byFamily = swept.groupBy { case (q, _) => Families.of(q) }
        val tracedWalls = swept ++ extra.map { case (q, (c, e)) => q -> (c + e) }
        rec.sparkLayers(4) ++ Map(
          "queries.construct_ms" -> 1000 * traced.values.map(_._1).sum,
          "queries.exec_ms" -> 1000 * traced.values.map(_._2).sum) ++
          Families.Names.map(f => s"queries.${f}_s" -> byFamily.get(f).map(_.values.sum).getOrElse(0.0)) ++
          tracedWalls.map { case (q, w) => s"queries.${q.takeWhile(_ != '_')}.wall_ms" -> 1000 * w }
            .filter { case (k, _) => Metrics.QueryTargets.exists(t => k == s"queries.$t.wall_ms") } ++
          metrics(swept).map { case (k, v) => s"trace.overhead.$k" -> (v - e2e(k)) }
      }
    verdict.report("query_sweep")
    spark.stop()
    Measured(verdict.attempted, verdict.failed, e2e, named, layers)
  }

  private def metrics(walls: Map[String, Double]): Map[String, Double] = {
    val ms = walls.values.map(_ * 1000).toSeq
    Map("work_per_s" -> walls.size / walls.values.sum, "op_p50_ms" -> Stats.median(ms),
      "op_p90_ms" -> Stats.quantile(ms, 0.9), "op_geomean_ms" -> Stats.geomean(ms))
  }
}
