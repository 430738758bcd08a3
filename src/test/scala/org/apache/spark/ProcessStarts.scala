package org.apache.spark

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The commands of the child processes the JVM starts while a block runs,
  * from an in-process JFR recording of `jdk.ProcessStart` events. Before
  * the first recording, outside it, one trivial job runs on the test
  * session's context ([[graft.SparkFixture.spark]], created if no suite has
  * yet), so this works as a spec's first statement; then the two probes
  * that Hadoop and Spark run once per JVM run too: Hadoop's `Shell` starts
  * `setsid` when it loads, and Spark's executor-metrics poller starts
  * `getconf PAGESIZE` at its first heartbeat (which needs Spark's package
  * and a running `SparkEnv`). */
object ProcessStarts {
  private lazy val oncePerJvm: Unit = {
    graft.SparkFixture.spark.range(1).count()
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
