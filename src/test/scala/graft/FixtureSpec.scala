package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ir._
import graft.compile.{Compiler, Predicates}
import graft.operators.GapWindows

/** Shared session + the reference's canonical 10-row fixture (FIXTURES.md §1,
  * /root/reference/fixtures/test.cmd). String-typed on purpose — the
  * reference stores every value as a string (lib.rs:31); null = absent key. */
object SparkFixture {
  /** Built and registered once, before any suite plans a query, so every
    * suite runs under the same planner strategy, functions and codegen
    * cache whatever order the suites run in. */
  lazy val spark: SparkSession = GraftSession.create("local[4]", 4, "graft-test")

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("foo", StringType), StructField("x", StringType),
    StructField("y", StringType), StructField("tag", StringType)))

  /** id, epoch-sec, foo, x, y, tag — fixtures/test.cmd rows 1-10. */
  private val rows: Seq[(Long, Long, String, String, String, String)] = Seq(
    (1L, 0L, "100", "7", "1", "t1"),
    (2L, 1L, "200", "1", null, "t1,t2"),
    (3L, 2L, "300", "3", null, "t3"),
    (4L, 3L, "400", "2", "9", "t2"),
    (5L, 4L, "500", "4", null, null),
    (6L, 5L, "600", "5", null, "t3"),
    (7L, 6L, "700", "6", null, null),
    (8L, 7L, "800", "9", null, null),
    (9L, 8L, "900", "8", null, null),
    (10L, 9L, "1000", "0", "9", null))

  lazy val fixture: DataFrame = {
    val data = rows.map { case (id, sec, foo, x, y, tag) =>
      Row(id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  /** Files the planned scans of `df` read, after sidecar pruning. */
  def scanned(df: DataFrame): Long = SparkEntry.scannedFiles(df)

  /** A store version's files read with no sidecar pruning. */
  def unpruned(dir: String, version: Long = -1L): DataFrame =
    graft.sources.EventStore.readFiles(spark, dir,
      graft.sources.EventStore.manifestFiles(spark, dir, version).map(_.stripPrefix(dir + "/")))

  /** A store committed from `batches`: the first creates it, each later
    * one (same schema) is one more committed version. */
  def commitStore(dir: String, batches: DataFrame*): Unit = {
    graft.sources.EventStore.createTable(batches.head, dir)
    batches.tail.foreach(graft.sources.EventStore.insertInto(_, dir))
  }
}

/** Golden-value parity with /root/reference/src/test.rs (hand-computed
  * expected values from the canonical fixture). */
class FixtureSpec extends AnyFunSuite {
  import SparkFixture._

  private def ids(conds: Condition*): Set[Long] =
    fixture.filter(Predicates.compileAll(conds, schema).get)
      .select("id").collect().map(_.getLong(0)).toSet

  // filter_test — test.rs:23-84
  test("F1 Eq: foo = 200 selects row 2") { assert(ids(Condition(Cmp.Eq, "foo", "200")) == Set(2L)) }
  test("F1 Gt: foo > 200 selects rows 3..10 (integer compare on strings)") {
    assert(ids(Condition(Cmp.Gt, "foo", "200")) == (3L to 10L).toSet)
  }
  test("F1 Lt/Gte/Lte agree with numeric semantics") {
    assert(ids(Condition(Cmp.Lt, "foo", "300")) == Set(1L, 2L))
    assert(ids(Condition(Cmp.Gte, "foo", "300")) == (3L to 10L).toSet)
    assert(ids(Condition(Cmp.Lte, "foo", "300")) == Set(1L, 2L, 3L))
  }
  test("F1 Exists: y on rows 1,4,10") { assert(ids(Condition(Cmp.Exists, "y")) == Set(1L, 4L, 10L)) }
  test("F1 NotExists: y absent on the rest") {
    assert(ids(Condition(Cmp.NotExists, "y")) == Set(2L, 3L, 5L, 6L, 7L, 8L, 9L))
  }
  test("F1 Contains: tag contains t1 on rows 1,2") {
    assert(ids(Condition(Cmp.Contains, "tag", "t1")) == Set(1L, 2L))
  }
  test("F1 StartsWith: tag starts with t2 on row 4") {
    assert(ids(Condition(Cmp.StartsWith, "tag", "t2")) == Set(4L))
  }
  test("F1 negated contains/startswith only match rows where tag exists — test.rs:69-82") {
    assert(ids(Condition(Cmp.NotContains, "tag", "t1")) == Set(3L, 4L, 6L))
    assert(ids(Condition(Cmp.NotStartsWith, "tag", "t2")) == Set(1L, 2L, 3L, 6L))
  }
  test("F1 Ne is real inequality (reference parser maps != to ==, expr.rs:66-74 — fixed)") {
    assert(ids(Condition(Cmp.Ne, "foo", "200")) == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
  }

  // group + aggregate — test.rs:86-457; grouping by y: {1}, {9}, {__nil}
  private def sortedAgg(sels: Select*): Map[String, Row] =
    Compiler.runSorted(fixture, ZxQuery(selects = sels, groupBy = Seq("y")))
      .collect().map(r => r.getString(0) -> r).toMap

  test("G1+A1 sum(foo) by y = 100 / 1400 / 4000 — test.rs:131-163") {
    val m = sortedAgg(Select(Agg.Sum, "foo"))
    assert(m("1").getDouble(1) == 100.0)
    assert(m("9").getDouble(1) == 1400.0)
    assert(m(Compiler.NilSentinel).getDouble(1) == 4000.0)
  }
  test("A2 max(foo) by y = 100 / 1000 / 900 — test.rs:188-239") {
    val m = sortedAgg(Select(Agg.Max, "foo"))
    assert(m("1").getDouble(1) == 100.0 && m("9").getDouble(1) == 1000.0 &&
      m(Compiler.NilSentinel).getDouble(1) == 900.0)
  }
  test("A3 min(foo) by y = 100 / 400 / 200 — test.rs:241-292") {
    val m = sortedAgg(Select(Agg.Min, "foo"))
    assert(m("1").getDouble(1) == 100.0 && m("9").getDouble(1) == 400.0 &&
      m(Compiler.NilSentinel).getDouble(1) == 200.0)
  }
  test("A4 count(foo) by y = 1 / 2 / 7 — test.rs:294-348") {
    val m = sortedAgg(Select(Agg.Count, "foo"))
    assert(m("1").getDouble(1) == 1.0 && m("9").getDouble(1) == 2.0 &&
      m(Compiler.NilSentinel).getDouble(1) == 7.0)
  }
  test("A5 count_distinct(y) by y = 1 / 1 / 1 — nil counts as one distinct, test.rs:390-401") {
    val m = sortedAgg(Select(Agg.CountDistinct, "y"))
    assert(m("1").getLong(1) == 1L && m("9").getLong(1) == 1L &&
      m(Compiler.NilSentinel).getLong(1) == 1L)
  }
  test("A6 mean(foo) by y = 100 / 700 / 571.4285714285714 — test.rs:422-454") {
    val m = sortedAgg(Select(Agg.Mean, "foo"))
    assert(m("1").getDouble(1) == 100.0 && m("9").getDouble(1) == 700.0)
    assert(math.abs(m(Compiler.NilSentinel).getDouble(1) - 571.4285714285714) < 1e-9)
  }

  test("O1 sort by mean(foo) ASC = [y=1, __nil, y=9] — test.rs:479-495") {
    val got = Compiler.runSorted(fixture, ZxQuery(
      selects = Seq(Select(Agg.Mean, "foo")),
      groupBy = Seq("y"),
      orderBy = Seq(OrderBy(Select(Agg.Mean, "foo"), SortDir.Asc))))
      .select("y").collect().map(_.getString(0)).toSeq
    assert(got == Seq("1", Compiler.NilSentinel, "9"))
    val desc = Compiler.runSorted(fixture, ZxQuery(
      selects = Seq(Select(Agg.Mean, "foo")),
      groupBy = Seq("y"),
      orderBy = Seq(OrderBy(Select(Agg.Mean, "foo"), SortDir.Desc))))
      .select("y").collect().map(_.getString(0)).toSeq
    assert(desc == Seq("9", Compiler.NilSentinel, "1"))
  }

  test("A6 weighted mean honors __sample_rate (571.428… pins weights=1; reweighted changes)") {
    val weighted = fixture.withColumn("__sample_rate",
      when(col("id") === 2L, lit("3")).otherwise(lit("1")))
    val m = Compiler.runSorted(weighted, ZxQuery(
      selects = Seq(Select(Agg.Mean, "foo")), groupBy = Seq("y")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // nil group: foo 200 (w3) + 300,500,600,700,800,900 → 4400/9
    assert(math.abs(m(Compiler.NilSentinel) - 4400.0 / 9) < 1e-9)
  }

  // A8 gap windows — aggregate over 15s window = one window per group
  test("A8 gap windows, 15s: whole fixture is one window per group — test.rs:131-163") {
    val got = GapWindows(fixture,
      ZxQuery(selects = Seq(Select(Agg.Sum, "foo")), groupBy = Seq("y"),
        granularitySec = 15L), idCol = Some("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == Set(("1", 0L, 0L, 100.0), ("9", 3L, 9L, 1400.0),
      (Compiler.NilSentinel, 1L, 8L, 4000.0)))
  }

  test("A8 gap windows: data-anchored split + breaching row dropped (lib.rs:689-714)") {
    // one group, ts = 0,1,2, 10, 11, 30; gran=2
    // w1 = [0,1,2] (ts 3-0 never happens) → ts10 breaches → anchor=10, row dropped
    // ts11 within 2 of anchor → w2 = [11] with w_start=10
    // ts30 breaches → anchor=30, dropped; end of data → no emit
    val data = Seq(0L, 1L, 2L, 10L, 11L, 30L).zipWithIndex.map { case (sec, i) =>
      Row(i.toLong + 1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)),
        "100", null, null, null)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
    val got = GapWindows(df,
      ZxQuery(selects = Seq(Select(Agg.Sum, "foo"), Select(Agg.Count, "foo")),
        granularitySec = 2L), idCol = Some("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == Set((0L, 2L, 300.0, 3.0), (10L, 11L, 100.0, 1.0)))
  }
}
