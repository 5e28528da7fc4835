package graft.fs

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Processes the JVM starts while `body` runs, from JFR's
  * `jdk.ProcessStart` events: one command line per fork, in order.
  */
object Forks {

  /** Spark's background forks, timed by its heartbeat and by GC rather
    * than by the code under test: the heartbeater's once-per-JVM
    * `getconf PAGESIZE` and the Cleaner's `rm -rf` of a collected
    * session's artifact directory. Any other fork counts.
    */
  private val Housekeeping = Seq(
    "org.apache.spark.executor.ProcfsMetricsGetter",
    "org.apache.spark.sql.artifact.ArtifactManager")

  private def housekeeping(e: RecordedEvent): Boolean =
    e.getStackTrace.getFrames.asScala.exists { f =>
      Housekeeping.exists(f.getMethod.getType.getName.startsWith)
    }

  def during(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val jfr = Files.createTempFile("forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !housekeeping(e))
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(jfr) }
  }
}
