package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{ExtendedMode, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ParamLiteral, ParamLiterals}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.Compiler
import graft.sources.{EventStore, Tables}
import graft.sql.ZxSql

/** Generated code that does not depend on literal values, and a codegen
  * cache that keeps it: statements that differ only in their numbers and
  * time bounds compile nothing after the first, the plans and the pruning
  * are the ones Spark makes without the rewrite, and so are the answers. */
class CodegenReuseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkFixture.spark
  private val Jan1 = 1704067200L // 2024-01-01T00:00:00Z
  private val Day = 86400L

  /** An events table as the test data encodes it (`ts` as TIMESTAMP_NTZ):
    * 1,000 events over 30 days, five event types and a few with none. */
  private lazy val dir = {
    val d = Files.createTempDirectory("graft-params").toString
    spark.range(1000).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(Jan1) + col("id") * 2591 % (30 * Day))
        .cast("timestamp_ntz").as("ts"),
      (col("id") % 20).as("user_id"),
      when(col("id") % 37 =!= 0, element_at(
        array(Seq("click", "view", "signup", "purchase", "error").map(lit): _*),
        (col("id") % 5 + 1).cast("int"))).as("event_type"),
      (col("id") * 7919 % 33000 / 100.0).as("value"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  /** Classes compiled (codegen cache misses) while `body` runs. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** `body` planned by Spark's own strategies alone. */
  private def withoutParams[T](body: => T): T = {
    val x = spark.asInstanceOf[ClassicSession].experimental
    val saved = x.extraStrategies
    x.extraStrategies = saved.filterNot(_ eq ParamLiterals)
    try body finally x.extraStrategies = saved
  }

  /** One window (100 days) per event type. */
  private def grouped(thr: Int, t0: Long, t1: Long) =
    s"select sum(value), count(value) where value > $thr and $$t_start = $t0 " +
      s"and $$t_end = $t1 group by event_type granularity 8640000"

  /** Other statement shapes: arithmetic in windows and in measures. */
  private def windowed(t0: Long, t1: Long, g: Long) =
    s"select sum(value), count(value), mean(value) where event_type = click " +
      s"and $$t_start = $t0 and $$t_end = $t1 group by user_id granularity $g"
  private def measures(x: Int) =
    s"select sum(ifnull(case when value > $x then value end, 0)) as s1, " +
      s"mean(nvl(case when value > $x then 1 end, 0)) as heavy_rate, " +
      "count(*) as n group by event_type having count(*) > 3 granularity 86400"

  private def events = Tables.events(spark, dir)
  private def run(stmt: String): DataFrame = ZxSql.run(events, stmt)

  /** Rows as strings, doubles to 9 places, in a stable order. */
  private def answer(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => f"$d%.9f"
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  /** event_type → (sum, count) of a `grouped` statement's answer. */
  private def byType(df: DataFrame): Map[String, (Double, Double)] = df.collect().map(r =>
    r.getAs[String]("event_type") -> ((r.getAs[Number]("sum_value").doubleValue,
      r.getAs[Number]("count_value").doubleValue))).toMap

  test("statements that differ only in numbers and time bounds compile once") {
    val (first, _) = compiles(byType(run(grouped(31, Jan1 + 2 * Day, Jan1 + 9 * Day))))
    val (second, n) = compiles(byType(run(grouped(47, Jan1 + 11 * Day, Jan1 + 20 * Day))))
    assert(n == 0, s"the second statement compiled $n classes")
    // both answers, against the rows themselves
    val rows = events.select("event_type", "ts", "value").collect()
    def expected(thr: Int, t0: Long, t1: Long) = rows.filter { r =>
      val t = r.getTimestamp(1).toInstant
      r.getDouble(2) > thr && !t.isBefore(Instant.ofEpochSecond(t0)) &&
        !t.isAfter(Instant.ofEpochSecond(t1))
    }.groupBy(r => Option(r.getString(0)).getOrElse(Compiler.NilSentinel))
      .map { case (k, rs) => k -> ((rs.map(_.getDouble(2)).sum, rs.length.toDouble)) }
    Seq(first -> expected(31, Jan1 + 2 * Day, Jan1 + 9 * Day),
        second -> expected(47, Jan1 + 11 * Day, Jan1 + 20 * Day)).foreach { case (got, want) =>
      assert(want.nonEmpty && got.keySet == want.keySet)
      got.foreach { case (k, (sum, count)) =>
        assert(count == want(k)._2 && math.abs(sum - want(k)._1) < 1e-6, s"$k: $got vs $want")
      }
    }
  }

  test("a statement repeated after 150 other generated classes compiles nothing") {
    answer(run(grouped(20, Jan1, Jan1 + 5 * Day)))
    // 150 projections, each with a value of its own inlined into its code
    val base = System.nanoTime()
    val (_, others) = compiles((0 until 150).foreach { i =>
      GenerateUnsafeProjection.generate(Seq(Add(BoundReference(0, LongType, nullable = false),
        Literal(base + i))))
    })
    assert(others >= 150)
    val (_, n) = compiles(answer(run(grouped(20, Jan1, Jan1 + 5 * Day))))
    assert(n == 0, s"the repeated statement compiled $n classes")
  }

  test("scans keep their pushed filters, partition filters and files") {
    val store = Files.createTempDirectory("graft-params-store").toString + "/events"
    EventStore.createTable(events.select("event_id", "ts", "user_id", "event_type", "value"), store)
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "events" -> (() => run(grouped(31, Jan1 + 2 * Day, Jan1 + 9 * Day))),
      "readPinned" -> (() => ZxSql.run(EventStore.readPinned(spark, store)
        .where(col("event_date").between("2024-01-03", "2024-01-09")),
        grouped(31, Jan1 + 2 * Day, Jan1 + 8 * Day))))
    reads.foreach { case (name, read) =>
      def scans() = {
        val df = read()
        df.collect()
        collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
          .map(s => (s.metadata("PushedFilters"), s.partitionFilters.map(_.sql),
            s.metrics("numFiles").value))
      }
      val (mine, theirs) = (scans(), withoutParams(scans()))
      assert(mine.nonEmpty && mine == theirs, name)
      assert(mine.head._1.contains("GreaterThan(value,31.0)"), s"$name: ${mine.head._1}")
      if (name == "readPinned") assert(mine.head._2.nonEmpty, "the pinned read must prune by date")
    }
  }

  test("answers are the same under interpreted evaluation and without the rewrite") {
    val stmts = Seq(grouped(31, Jan1 + 2 * Day, Jan1 + 9 * Day),
      windowed(Jan1 + Day, Jan1 + 12 * Day, 21600), measures(40))
    val coded = stmts.map(s => answer(run(s)))
    assert(coded.forall(_.nonEmpty))
    assert(stmts.map(s => withoutParams(answer(run(s)))) == coded)
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(stmts.map(s => answer(run(s))) == coded)
    finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("explain text is unchanged, and the physical plan carries the parameters") {
    def explained(df: DataFrame) = df.queryExecution.explainString(ExtendedMode)
      .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    val stmt = windowed(Jan1 + Day, Jan1 + 12 * Day, 21600)
    val df = run(stmt)
    assert(explained(df) == withoutParams(explained(run(stmt))))
    val params = df.queryExecution.sparkPlan.flatMap(_.expressions.flatMap(_.collect {
      case p: ParamLiteral => p
    }))
    assert(params.nonEmpty, df.queryExecution.sparkPlan.toString)
  }
}
