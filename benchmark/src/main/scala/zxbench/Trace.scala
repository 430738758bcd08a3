package zxbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and counts recorded around the benchmark's calls into each layer.
  *
  * A span has a name (the layer), start and end, its parent span and the
  * operation it belongs to. Spark listener events are counted against the
  * innermost open span: at every span boundary the tracer waits for the
  * listener bus to drain, so events posted inside a span are delivered
  * before the span's counts are closed. The client is a single thread, so
  * open spans form one stack.
  *
  * [[Tracer.Off]] records nothing and registers no listener: untraced runs
  * time exactly the same calls without the tracing cost. */
sealed trait Tracer {
  def span[A](name: String, op: Int)(body: => A): A
  /** A span whose interval was measured elsewhere (Catalyst's phase
    * tracker), as a child of the innermost open span. */
  def record(name: String, op: Int, startMs: Long, endMs: Long): Unit
}

object Tracer {
  object Off extends Tracer {
    def span[A](name: String, op: Int)(body: => A): A = body
    def record(name: String, op: Int, startMs: Long, endMs: Long): Unit = ()
  }

  final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
                   val startNs: Long) {
    var endNs: Long = startNs
    val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  }

  final class On(spark: SparkSession) extends Tracer {
    private val sc = spark.sparkContext
    private val baseNs = System.nanoTime()
    private val baseMs = System.currentTimeMillis()
    private val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List.empty[Span]
    @volatile private var sink: Span = null
    /** Run-level streaming counts: progress events arrive on the bus after
      * the trigger that caused them, so they are summed per run. */
    val streaming: mutable.Map[String, Double] = mutable.LinkedHashMap(
      "batches" -> 0.0, "batch_s" -> 0.0, "add_batch_s" -> 0.0,
      "input_rows" -> 0.0, "failed_batches" -> 0.0)

    private def add(key: String, v: Double): Unit = {
      val s = sink
      if (s != null) s.synchronized { s.counts(key) = s.counts.getOrElse(key, 0.0) + v }
    }

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("tasks", 1)
        if (e.reason != Success) add("failed_tasks", 1)
        add("task_s", e.taskInfo.duration / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          add("run_s", m.executorRunTime / 1e3)
          add("gc_s", m.jvmGCTime / 1e3)
          add("bytes_read", m.inputMetrics.bytesRead.toDouble)
          add("rows_read", m.inputMetrics.recordsRead.toDouble)
          add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
          add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }

    private val streamListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        streaming.synchronized {
          val p = e.progress
          def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          if (p.numInputRows > 0) {
            streaming("batches") += 1
            streaming("input_rows") += p.numInputRows.toDouble
            streaming("batch_s") += ms("triggerExecution") / 1e3
            streaming("add_batch_s") += ms("addBatch") / 1e3
          }
        }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.exception.isDefined) streaming.synchronized { streaming("failed_batches") += 1 }
    }

    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)

    def span[A](name: String, op: Int)(body: => A): A = {
      ListenerBusDrain(sc)
      val s = new Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      stack = s :: stack
      sink = s
      try body finally {
        ListenerBusDrain(sc)
        s.endNs = System.nanoTime()
        stack = stack.tail
        sink = stack.headOption.orNull
      }
    }

    def record(name: String, op: Int, startMs: Long, endMs: Long): Unit = {
      def ns(ms: Long) = baseNs + (ms - baseMs) * 1000000L
      val s = new Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1),
        ns(startMs))
      s.endNs = ns(endMs)
      spans += s
    }

    /** Drains the bus, removes the listeners and returns the spans as JSON,
      * times in seconds from the tracer's creation. */
    def finish(): ArrayNode = {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
      val arr = JsonNodeFactory.instance.arrayNode()
      spans.foreach { s =>
        val o: ObjectNode = arr.addObject()
        o.put("id", s.id).put("name", s.name).put("op", s.op).put("parent", s.parent)
          .put("start_s", (s.startNs - baseNs) / 1e9).put("end_s", (s.endNs - baseNs) / 1e9)
        val c = o.putObject("counts")
        s.counts.foreach { case (k, v) => c.put(k, v) }
      }
      arr
    }
  }
}
