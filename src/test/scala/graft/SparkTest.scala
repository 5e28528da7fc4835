package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it —
  * session startup dominates test wall-clock otherwise).
  */
object SparkTest {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // same codegen fallback regime as the Bench/Verify/job sessions,
      // so plan-pinning specs grade the plans those sessions execute
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
    // the jobs' `file:` filesystem, so checkpoint-restart specs run on
    // the classes the jobs use
    val s = graft.fs.LocalFs.sessionConfs
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTest {
  lazy val spark: SparkSession = SparkTest.spark
}
