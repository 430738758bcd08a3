package org.apache.spark

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The commands of the child processes the JVM starts while a block runs,
  * from an in-process JFR recording of `jdk.ProcessStart` events. Two
  * probes that Hadoop and Spark run once per JVM are run first, outside the
  * recording: Hadoop's `Shell` starts `setsid` when it loads, and Spark's
  * executor-metrics poller starts `getconf PAGESIZE` at its first heartbeat
  * (which needs Spark's package). */
object ProcessStarts {
  private lazy val oncePerJvm: Unit = {
    val _ = (org.apache.hadoop.util.Shell.isSetsidAvailable,
      executor.ProcfsMetricsGetter.pTreeInfo)
  }

  def apply(body: => Unit): Seq[String] = {
    oncePerJvm
    val r = new jdk.jfr.Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      r.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .map(_.getString("command"))
    } finally { r.close(); Files.delete(f) }
  }
}
