package zxbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import graft.sources.{EventStore, Tables}
import graft.sql.ZxSql
import graft.streaming.EventStream

/** The benchmark's JVM side: runs one workload over inputs generated by
  * `gen.py` and writes every timing, trace and answer to `result.json` in
  * the work directory. `run.py` computes the metrics and checks the
  * answers.
  *
  * Usage: Main <workload> <rounds> <trace 0|1> <workDir> <cores> <launchEpochMs>
  *        Main train <dir> <cores>
  *
  * Every workload is a closed loop with one client thread. Set-up (session
  * start and one untimed pass over the workload's statement shapes) ends
  * before the first timed operation. The loop then runs `rounds` whole
  * rounds. A traced run then replays the same rounds untraced and once more
  * with the tracer on, so the tracer is the only difference between the
  * last two phases (ingest, whose rounds change the store, goes on with the
  * next rounds, traced, instead). */
object Main {
  val json = new ObjectMapper()
  def nodes = JsonNodeFactory.instance

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("zxbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.register(spark)
    spark
  }

  def workload(name: String, spark: SparkSession, work: String): Workload = name match {
    case "interactive" => new Interactive(spark, work)
    case "curate" => new Curate(spark, work)
    case "ingest" => new Ingest(spark, work)
  }

  def main(args: Array[String]): Unit = args match {
    case Array("train", dir, cores) => train(dir, cores.toInt)
    case Array(name, rounds, trace, work, cores, launchMs) =>
      run(name, rounds.toInt, trace == "1", work, cores.toInt, launchMs.toLong)
  }

  /** The class-data training run: every workload's warm-up in one JVM, so
    * the archive dumped at its exit holds the classes all of them load. */
  def train(dir: String, cores: Int): Unit = {
    val spark = session(dir, cores)
    Seq("interactive", "curate", "ingest").foreach { name =>
      val w = workload(name, spark, s"$dir/$name")
      try w.warmUp() finally w.close()
    }
    spark.stop()
  }

  def run(name: String, rounds: Int, trace: Boolean, work: String, cores: Int,
          launchMs: Long): Unit = {
    val spark = session(work, cores)
    val out = json.createObjectNode()
    out.put("session_s", (System.currentTimeMillis() - launchMs) / 1e3)
    val w = workload(name, spark, work)
    try {
      w.warmUp()
      out.put("setup_jvm_s", (System.currentTimeMillis() - launchMs) / 1e3)
      out.set[JsonNode]("ops", phase(w, rounds, Tracer.Off, out.putObject("host")))
      if (trace) {
        // The first pass leaves compiled code and caches that any replay
        // reuses, so the traced replay is compared with an untraced one.
        if (w.replayable)
          out.set[JsonNode]("replay_ops",
            phase(w, rounds, Tracer.Off, out.putObject("replay_host")))
        val tracer = new Tracer.On(spark)
        out.set[JsonNode]("traced_ops", phase(w, rounds, tracer, out.putObject("traced_host")))
        out.set[JsonNode]("spans", tracer.finish())
        val st = out.putObject("streaming")
        tracer.streaming.foreach { case (k, v) => st.put(k, v) }
      }
      out.set[JsonNode]("checks", w.check())
    } finally w.close()
    out.put("peak_rss_mb", peakRssMb())
    spark.stop()
    Files.writeString(Paths.get(work, "result.json"), json.writeValueAsString(out))
  }

  /** One measured phase. `host` gets the machine's CPU time over the
    * phase from /proc/stat: busy (user, nice, system, irq, softirq), idle
    * (idle, iowait) and stolen (time the hypervisor ran something else
    * while this VM had work to run). */
  def phase(w: Workload, rounds: Int, t: Tracer, host: ObjectNode): ArrayNode = {
    val before = cpuTimes()
    val ops = w.measure(rounds, t)
    val d = cpuTimes().zip(before).map { case (a, b) => a - b }
    host.put("busy", d(0) + d(1) + d(2) + d(5) + d(6)).put("idle", d(3) + d(4))
      .put("steal", d(7))
    ops
  }

  /** The machine-wide CPU time counters of /proc/stat (user, nice, system,
    * idle, iowait, irq, softirq, steal). */
  def cpuTimes(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def read(path: String): JsonNode = json.readTree(new File(path))

  /** A JSON value for one result cell: numbers as doubles, times as epoch
    * seconds, everything else as its string form. */
  def cell(v: Any): JsonNode = v match {
    case null => nodes.nullNode()
    case n: java.lang.Number => nodes.numberNode(n.doubleValue)
    case b: java.lang.Boolean => nodes.booleanNode(b)
    case t: java.sql.Timestamp => nodes.numberNode(t.getTime / 1e3)
    case t: java.time.LocalDateTime =>
      nodes.numberNode(t.toEpochSecond(java.time.ZoneOffset.UTC).toDouble)
    case other => nodes.textNode(other.toString)
  }

  /** The named columns of every row, in the given order. */
  def rowsJson(rows: Array[Row], cols: Seq[String]): ArrayNode = {
    val arr = nodes.arrayNode()
    rows.foreach { r =>
      val a = arr.addArray()
      cols.foreach(c => a.add(cell(r.getAs[Any](c))))
    }
    arr
  }
}

/** One workload's set-up, measured loop and answer checks. */
abstract class Workload(val spark: SparkSession, val work: String) {
  import Main.nodes
  val inputs = s"$work/inputs"

  def warmUp(): Unit
  /** One round of operations; returns false when the inputs are used up. */
  def round(r: Int, t: Tracer, ops: ArrayNode): Boolean
  def check(): ObjectNode
  def close(): Unit = ()

  /** Whether a second phase can replay the first phase's rounds; false
    * when every round changes state the next one reads. */
  def replayable: Boolean = true

  private var nextRound = 0
  private var nextOp = 0

  /** Runs `rounds` whole rounds, so every run does the same work and every
    * round covers the same operation mix. */
  def measure(rounds: Int, t: Tracer): ArrayNode = {
    val ops = nodes.arrayNode()
    if (replayable) nextRound = 0
    var done = 0
    while (done < rounds && round(nextRound, t, ops)) {
      done += 1
      nextRound += 1
    }
    ops
  }

  /** Times one operation; `body` gets the operation id. */
  def op(t: Tracer, ops: ArrayNode, kind: String, name: String, r: Int)
        (body: Int => Unit): ObjectNode = {
    val id = nextOp
    nextOp += 1
    val rec = nodes.objectNode()
    val t0 = System.nanoTime()
    t.span(s"op.$kind", id)(body(id))
    rec.put("s", (System.nanoTime() - t0) / 1e9)
    rec.put("kind", kind).put("name", name).put("round", r).put("id", id)
    ops.add(rec)
    rec
  }

  /** Catalyst's optimization and physical planning, forced before the
    * action so execution is timed on its own; the tracker's phase times
    * become child spans. */
  def plan(df: DataFrame, t: Tracer, id: Int): Unit = {
    val qe = df.queryExecution
    t.span("catalyst.plan", id) {
      qe.executedPlan
      for (p <- Seq("optimization", "planning"); s <- qe.tracker.phases.get(p))
        t.record(s"catalyst.$p", id, s.startTimeMs, s.endTimeMs)
    }
  }

  /** A statement's DataFrame, built by `build` under the compile span; the
    * analysis phase of the result becomes a child span. */
  def build(t: Tracer, id: Int)(build: => DataFrame): DataFrame =
    t.span("compile.build", id) {
      val df = build
      df.queryExecution.tracker.phases.get("analysis")
        .foreach(s => t.record("catalyst.analysis", id, s.startTimeMs, s.endTimeMs))
      df
    }

  /** The public parse entry point, timed on its own in traced runs only
    * (`run` parses again inside the build). */
  def parse(t: Tracer, id: Int, sql: String): Unit = t match {
    case Tracer.Off =>
    case _ => t.span("sql.parse", id)(ZxSql.parse(sql))
  }

  def openTable(name: String, dir: String): DataFrame = name match {
    case "events" => Tables.events(spark, dir)
    case "orders" => Tables.orders(spark, dir)
    case "customer" => Tables.customer(spark, dir)
    case "lineitem" => Tables.lineitem(spark, dir)
    case "documents" => Tables.documents(spark, dir)
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}

/** Analyst statements over the sf0.1-shaped tables; every statement opens
  * its tables through `Tables.*` inside the timed operation. */
final class Interactive(spark: SparkSession, work: String) extends Workload(spark, work) {
  private val rounds = Main.read(s"$inputs/statements.json")
  private val answered = Main.nodes.arrayNode()

  private def statement(t: Tracer, id: Int, st: JsonNode): Array[Row] = {
    val names = strings(st.get("tables"))
    val tables = names.map(n => n -> t.span("sources.open", id)(openTable(n, inputs))).toMap
    val sql = st.get("sql").asText
    val df = st.get("api").asText match {
      case "run" =>
        parse(t, id, sql)
        build(t, id)(ZxSql.run(tables(names.head), sql))
      case "catalog" => build(t, id)(ZxSql.runCatalog(tables, sql))
    }
    plan(df, t, id)
    t.span("execution.exec", id)(df.collect())
  }

  def warmUp(): Unit = rounds.get(0).elements().asScala.foreach(st => statement(Tracer.Off, -1, st))

  def round(r: Int, t: Tracer, ops: ArrayNode): Boolean = {
    if (r + 1 >= rounds.size) return false
    rounds.get(r + 1).elements().asScala.foreach { st =>
      var rows: Array[Row] = null
      val rec = op(t, ops, "query", st.get("template").asText, r) { id =>
        rows = statement(t, id, st)
      }
      rec.put("rows_in", st.get("input_rows").asLong).put("rows_out", rows.length)
      answered.addObject().put("id", rec.get("id").asInt).put("round", r + 1)
        .put("template", st.get("template").asText)
        .set[JsonNode]("got", Main.rowsJson(rows, strings(st.get("cols"))))
    }
    true
  }

  def check(): ObjectNode = Main.nodes.objectNode().set[ObjectNode]("answers", answered)
}

/** The documents family over a seeded corpus. Set-up runs the matching
  * registry rows once and writes their results for the DuckDB oracle;
  * every timed statement must hash to the same checksum. */
final class Curate(spark: SparkSession, work: String) extends Workload(spark, work) {
  /** Registry row -> its statement text, verbatim. */
  val statements: Seq[(String, String)] = Seq(
    "p17_sql_neardup" -> "select neardup threshold 50 from documents where n_chars >= 200",
    "p51_sql_dedup" -> "select dedup where n_chars > 150",
    "p52_sql_decontaminate" ->
      "select decontaminate src2, src3 shingle 4 hits 2 where n_chars > 120",
    "p53_sql_quality" -> "select quality where lang = 'en'",
    "p16_sql_similar" -> "select similar top 40 maxdfpct 10 from documents where lang = 'en'",
    "p10_sql_spans" -> "select spans top 30 size 4 from documents where lang = 'en'",
    "p56_sql_langid" -> "select langid where source != 'src5'",
    "p47_sql_chunks" -> "select chunks size 24 stride 12 where lang = 'en'")
  private val sqlOf = statements.toMap
  private val orders = Main.read(s"$inputs/order.json")
  private val docs = spark.read.parquet(s"$inputs/documents.parquet").count()
  private val reference = Main.nodes.objectNode()

  private def checksum(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("__h"))
      .agg(expr("bit_xor(__h)").as("h"), count(lit(1)).as("n"))

  private def hashOf(r: Row): ObjectNode =
    Main.nodes.objectNode().put("h", if (r.isNullAt(0)) 0L else r.getLong(0))
      .put("n", r.getLong(1))

  def warmUp(): Unit = statements.foreach { case (name, _) =>
    val dir = s"$work/curate_out/$name"
    graft.SparkEntry.queries(name)(spark, inputs).write.parquet(dir)
    reference.set[JsonNode](name, hashOf(checksum(spark.read.parquet(dir)).collect()(0)))
  }

  def round(r: Int, t: Tracer, ops: ArrayNode): Boolean = {
    if (r >= orders.size) return false
    strings(orders.get(r)).foreach { name =>
      var h: Row = null
      val rec = op(t, ops, "query", name, r) { id =>
        val documents = t.span("sources.open", id)(openTable("documents", inputs))
        parse(t, id, sqlOf(name))
        val ev = checksum(build(t, id)(ZxSql.run(documents, sqlOf(name))))
        plan(ev, t, id)
        h = t.span("execution.exec", id)(ev.collect())(0)
      }
      rec.put("rows_in", docs).put("rows_out", h.getLong(1))
        .set[JsonNode]("got", hashOf(h))
    }
    true
  }

  def check(): ObjectNode = {
    val o = Main.nodes.objectNode()
    o.set[JsonNode]("reference", reference)
    val oracles = o.putObject("oracle_sql")
    statements.foreach { case (name, _) => oracles.put(name, graft.SparkEntry.oracleSql(name)) }
    o
  }
}

/** Seeded event batches committed by a long-lived manifested ingest query,
  * with pinned reads after every commit and compaction plus vacuum at the
  * end of every round. */
final class Ingest(spark: SparkSession, work: String) extends Workload(spark, work) {
  import Main.nodes
  private val commitsPerRound = 3  // gen.INGEST_COMMITS_PER_ROUND
  override def replayable: Boolean = false
  private val store = s"$work/store"
  private val source = s"$work/source"
  private val batches = new File(s"$inputs/batches").listFiles().map(_.getName).sorted
  private val reads = Main.read(s"$inputs/reads.json")
  private val observed = nodes.arrayNode()
  private var committed = 0
  /** Commits since the last compaction: the store a read sees. */
  private var sinceCompaction = 0
  new File(source).mkdirs()
  private val query = EventStream.ingestManifested(EventStream.read(spark, source), store,
    s"$work/checkpoint").start()

  /** Outside the timed region: the pinned store's row count, distinct ids
    * and per-type sums in cents, for comparison with the generator's tally.
    * Every event has one type, so per-type distinct counts add up. */
  private def observe(after: String, opId: Int): Unit = {
    val byType = EventStore.readPinned(spark, store).groupBy("event_type")
      .agg(count(lit(1)), expr("count(distinct event_id)"),
        expr("sum(cast(round(value * 100) as bigint))")).collect()
    val o = observed.addObject().put("after", after).put("op", opId).put("batches", committed)
      .put("rows", byType.map(_.getLong(1)).sum).put("distinct_ids", byType.map(_.getLong(2)).sum)
    val s = o.putObject("sum_cents")
    byType.foreach(c => s.put(c.getString(0), c.getLong(3)))
  }

  private def commit(t: Tracer, ops: ArrayNode, r: Int): Unit = {
    val name = batches(committed)
    Files.move(Paths.get(s"$inputs/batches/$name"), Paths.get(s"$source/$name"),
      StandardCopyOption.ATOMIC_MOVE)
    val files0 = if (t == Tracer.Off) 0 else EventStore.manifestFiles(spark, store).size
    val rec = op(t, ops, "commit", name, r) { id =>
      t.span("streaming.commit", id)(query.processAllAvailable())
    }
    committed += 1
    sinceCompaction += 1
    if (t != Tracer.Off)
      rec.put("commit_files", EventStore.manifestFiles(spark, store).size - files0)
    observe(s"commit $name", rec.get("id").asInt)
  }

  private def readStore(t: Tracer, ops: ArrayNode, r: Int, i: Int, st: JsonNode): Unit = {
    var rows: Array[Row] = null
    var q: DataFrame = null
    // named by store state, so each state weighs the same in the latency
    // metric's mean of per-name medians
    val name = s"${st.get("template").asText}+$sinceCompaction"
    val rec = op(t, ops, "query", name, r) { id =>
      val df = t.span("sources.read", id)(EventStore.readPinned(spark, store))
      parse(t, id, st.get("sql").asText)
      q = build(t, id)(ZxSql.run(df, st.get("sql").asText))
      plan(q, t, id)
      rows = t.span("execution.exec", id)(q.collect())
    }
    if (t != Tracer.Off) rec.put("manifest_files", EventStore.manifestFiles(spark, store).size)
      .put("files_read", ScanFiles(q.queryExecution.executedPlan))
    rec.put("rows_out", rows.length).put("batches", committed).put("read", i)
      .set[JsonNode]("got", Main.rowsJson(rows, strings(st.get("cols"))))
  }

  private def maintain(t: Tracer, ops: ArrayNode, r: Int): Unit = {
    var rewritten = 0L
    val rec = op(t, ops, "compact", "compactInPlace", r) { id =>
      rewritten = t.span("sources.compact", id)(EventStore.compactInPlace(spark, store))
        .map(_.bytes).sum
    }
    rec.put("bytes_rewritten", rewritten)
    sinceCompaction = 0
    op(t, ops, "vacuum", "vacuum", r) { id =>
      t.span("sources.vacuum", id)(EventStore.vacuum(spark, store))
    }
    observe("compaction", rec.get("id").asInt)
  }

  private def cycle(t: Tracer, ops: ArrayNode, r: Int): Unit = {
    commit(t, ops, r)
    reads.get(committed - 1).elements().asScala.zipWithIndex
      .foreach { case (st, i) => readStore(t, ops, r, i, st) }
  }

  /** One untimed round: a single commit and read left the read path cold
    * for the first timed round. */
  def warmUp(): Unit = round(-1, Tracer.Off, nodes.arrayNode())

  def round(r: Int, t: Tracer, ops: ArrayNode): Boolean = {
    if (committed + commitsPerRound > batches.length) return false
    (1 to commitsPerRound).foreach(_ => cycle(t, ops, r))
    maintain(t, ops, r)
    true
  }

  def check(): ObjectNode = {
    val o = nodes.objectNode()
    o.set[JsonNode]("observed", observed)
    o.put("committed", committed)
    o.put("store_bytes", Files.walk(Paths.get(store)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum)
    o
  }

  override def close(): Unit = query.stop()
}

/** Files the parquet scans of an executed plan read (their `numFiles`
  * metric), including scans inside adaptive query stages. */
object ScanFiles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  def apply(plan: SparkPlan): Long =
    collect(plan) { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
}
