package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ir._
import graft.sql.ZxSql
import graft.compile.Compiler

/** P1 SQL front door — parse + execute on the reference fixture. The
  * reference never tests expr.rs; we do. */
class SqlSpec extends AnyFunSuite {
  import SparkFixture._

  test("parses aggregates, where, group by, order by, granularity") {
    val q = ZxSql.parse("select sum(foo), mean(foo) where x > 2 and tag like '%t1%' " +
      "group by y order by mean(foo) desc granularity 60")
    assert(q.selects == Seq(Select(Agg.Sum, "foo"), Select(Agg.Mean, "foo")))
    assert(q.conditions == Seq(Condition(Cmp.Gt, "x", "2"), Condition(Cmp.Contains, "tag", "t1")))
    assert(q.groupBy == Seq("y"))
    assert(q.orderBy == Seq(OrderBy(Select(Agg.Mean, "foo"), SortDir.Desc)))
    assert(q.granularitySec == 60L)
  }

  test("$t_start/$t_end equality conditions become the time range (expr.rs:170-186)") {
    val q = ZxSql.parse("select count(foo) where $t_start = 2 and $t_end = 8 and foo > 100")
    assert(q.tStart.contains(2L) && q.tEnd.contains(8L))
    assert(q.conditions == Seq(Condition(Cmp.Gt, "foo", "100")))
  }

  test("LIKE wildcard translation: %x% / x% / plain (fixes expr.rs:81-98)") {
    assert(ZxSql.parse("select foo where tag like '%t1%'").conditions.head.cmp == Cmp.Contains)
    assert(ZxSql.parse("select foo where tag like 't1%'").conditions.head.cmp == Cmp.StartsWith)
    assert(ZxSql.parse("select foo where tag like 't1'").conditions.head.cmp == Cmp.Eq)
    assert(ZxSql.parse("select foo where tag not like '%t1%'").conditions.head.cmp == Cmp.NotContains)
  }

  test("reference-style dotted column names run end-to-end (README.md:17)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import spark.implicits._
    // the README's own example shape: `select count(repo.name) group by events`
    // — in the schemaless store "repo.name" is a FLAT column name, not a
    // struct path; colRef quoting keeps Spark from treating the dot as one
    val df = Seq(
      (1L, "r1", "push"), (2L, "r2", "push"), (3L, "r1", "fork"),
      (4L, null, "push"))
      .toDF("id", "repo.name", "events")
      .withColumn("ts", timestamp_seconds(col("id")))
    val counted = ZxSql.run(df, "select count(repo.name) group by events")
      .collect().map(r => r.getString(0) -> r.getAs[Number]("count_repo.name").doubleValue).toMap
    assert(counted == Map("push" -> 2.0, "fork" -> 1.0),
      "count must skip the null repo.name row, like the reference's presence count")
    // dotted names in WHERE and raw projection too
    val raw = ZxSql.run(df, "select id, repo.name where repo.name = r1")
      .collect().map(_.getLong(0)).toSet
    assert(raw == Set(1L, 3L))
    // and as a group key, with the missing value taking the __nil sentinel
    val grouped = ZxSql.run(df, "select count(id) group by repo.name")
      .collect().map(r => r.getString(0) -> r.getAs[Number]("count_id").doubleValue).toMap
    assert(grouped == Map("r1" -> 2.0, "r2" -> 1.0, "__nil" -> 1.0))
  }

  test("lowercases input like the reference (lib.rs:818-820)") {
    val q = ZxSql.parse("SELECT SUM(FOO) GROUP BY Y")
    assert(q.selects == Seq(Select(Agg.Sum, "foo")) && q.groupBy == Seq("y"))
  }

  test("rejects malformed input with a named error") {
    // (`median` and `mode` both graduated to real aggregates in round 14)
    assertThrows[ZxSql.ParseError](ZxSql.parse("select hyperloglog(foo)"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("sum(foo)"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select foo where x ="))
  }

  test("end-to-end: windowed sql on the fixture (time-ranged, 15s granularity)") {
    val got = ZxSql.run(fixture,
      "select sum(foo) where $t_start = 0 and $t_end = 9 group by y granularity 15")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(got == Map("1" -> 100.0, "9" -> 1400.0, Compiler.NilSentinel -> 4000.0))
  }

  test("end-to-end: order by mean(foo) asc routes to the sorted path") {
    val got = ZxSql.run(fixture, "select mean(foo) group by y order by mean(foo) asc")
      .select("y").collect().map(_.getString(0)).toSeq
    assert(got == Seq("1", Compiler.NilSentinel, "9"))
  }

  test("end-to-end: exact=true routes windowed sql through GapWindows") {
    val sql = "select sum(foo) group by y granularity 15"
    val got = ZxSql.run(fixture, sql, exact = true, idCol = Some("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // data-anchored windows: w_end is the last event's ts, not start+15
    assert(got == Set(("1", 0L, 0L, 100.0), ("9", 3L, 9L, 1400.0),
      (graft.compile.Compiler.NilSentinel, 1L, 8L, 4000.0)))
  }

  test("end-to-end: bare select routes to raw projection") {
    val got = ZxSql.run(fixture, "select foo, x where foo > 800")
    assert(got.columns.toSeq == Seq("foo", "x") && got.count() == 2)
  }

  test("limit: top-k groups (sort+limit) and raw limit") {
    val top1 = ZxSql.run(fixture, "select sum(foo) group by y order by sum(foo) desc limit 1")
    assert(top1.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq((Compiler.NilSentinel, 4000.0)))
    assert(ZxSql.run(fixture, "select foo limit 3").count() == 3)
  }

  test("order by an aggregate outside the select list computes it for the sort only") {
    val got = ZxSql.run(fixture, "select sum(foo) group by y order by mean(foo) asc")
    assert(got.columns.toSeq == Seq("y", "sum_foo"))
    assert(got.select("y").collect().map(_.getString(0)).toSeq ==
      Seq("1", Compiler.NilSentinel, "9"))
  }

  test("raw select with ORDER BY sorts the projection; aggregates rejected there") {
    val got = ZxSql.run(fixture, "select foo, x order by foo desc limit 2")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("900", "800")) // string-typed numeric sort semantics
    assertThrows[ZxSql.ParseError](
      ZxSql.run(fixture, "select foo order by mean(foo)"))
  }

  test("non-equality $t_start/$t_end and malformed numbers raise ParseError, not NFE") {
    assertThrows[ZxSql.ParseError](ZxSql.parse("select count(x) where $t_end <= 500"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select count(x) where $t_start = 1.5"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select count(x) limit 3.5"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select count(x) granularity 1.5"))
    assertThrows[ZxSql.ParseError](
      ZxSql.run(fixture, "select sum(foo) group by y order by heatmap(foo)"))
  }

  test("numeric comparator with unparseable literal matches nothing (no exception)") {
    assert(ZxSql.run(fixture, "select foo where foo > abc").count() == 0)
  }

  test("boolean WHERE: OR/NOT/parens parse with NOT > AND > OR precedence") {
    // pure conjunction of leaves still lands in the flat conditions list
    val flat = ZxSql.parse("select foo where x > 2 and y = 9")
    assert(flat.where.isEmpty && flat.conditions.size == 2)
    // a or b and c == a or (b and c)
    val q = ZxSql.parse("select foo where x = 1 or x = 2 and not y = 9")
    assert(q.conditions.isEmpty)
    assert(q.where == Some(ConditionTree.Or(Seq(
      ConditionTree.Leaf(Condition(Cmp.Eq, "x", "1")),
      ConditionTree.And(Seq(
        ConditionTree.Leaf(Condition(Cmp.Eq, "x", "2")),
        ConditionTree.Not(ConditionTree.Leaf(Condition(Cmp.Eq, "y", "9")))))))))
    // parens override: (a or b) and c — the top-level leaf conjunct c is
    // split back into the flat `conditions` list (the reference-shaped IR),
    // the disjunction stays a tree; the two are ANDed at compile
    val p = ZxSql.parse("select foo where (x = 1 or x = 2) and y = 9")
    assert(p.conditions == Seq(Condition(Cmp.Eq, "y", "9")))
    assert(p.where == Some(ConditionTree.Or(Seq(
      ConditionTree.Leaf(Condition(Cmp.Eq, "x", "1")),
      ConditionTree.Leaf(Condition(Cmp.Eq, "x", "2"))))))
  }

  test("boolean WHERE: end-to-end disjunction and negation on the fixture") {
    // fixture: y present on rows {1, 4, 10} with values {1, 9, 9}
    val or = ZxSql.run(fixture, "select foo where y = 1 or y = 9")
    assert(or.count() == 3)
    // infix `not like` still parses inside a boolean tree
    val mix = ZxSql.run(fixture,
      "select foo, tag where tag like '%t2%' or (y = 9 and tag not like '%t4%')")
    assert(mix.count() > 0)
    // NOT is three-valued: rows missing y drop under not(y = 9) too
    val neg = ZxSql.run(fixture, "select foo where not y = 9")
    assert(neg.count() == 1) // only the y=1 row; 7 null-y rows are dropped
    // $t pseudo-columns remain top-level-only
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select foo where $t_start = 1 or x = 2"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select foo where not $t_end = 5"))
    // unbalanced parens are a named error
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select foo where (x = 1 or x = 2"))
  }

  test("session windows merge within the gap and split strictly beyond it") {
    // fixture per y: "1"→ts {0}; "9"→ts {3, 9} (diff 6); __nil→ts {1,2,4,5,6,7,8}
    val got = ZxSql.run(fixture, "select sum(foo) group by y session 5")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("1", 0L, 5L, 100.0),            // single event: [0, 0+5)
      ("9", 3L, 8L, 400.0),            // ts 3 alone (9 - 3 = 6 > 5 splits)
      ("9", 9L, 14L, 1000.0),          // ts 9 alone
      (Compiler.NilSentinel, 1L, 13L, 4000.0))) // 1..8 all within gap 5
    // a gap of EXACTLY the session size still merges (Spark merges when
    // next.start <= current.end): 9 - 3 = 6 == gap 6 → one session
    val exactGap = ZxSql.run(fixture, "select sum(foo) group by y session 6")
      .filter(org.apache.spark.sql.functions.col("y") === "9")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(exactGap == Set((3L, 15L, 1400.0)))
    // gap 7 likewise merges "9"'s two events into one session
    val merged = ZxSql.run(fixture, "select sum(foo) group by y session 7")
      .filter(org.apache.spark.sql.functions.col("y") === "9")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(merged == Set((3L, 16L, 1400.0)))
    // having composes with sessions; exact/order-by do not
    val hav = ZxSql.run(fixture,
      "select sum(foo) group by y having sum(foo) > 500 session 5")
    assert(hav.select("y").collect().map(_.getString(0)).toSet ==
      Set("9", Compiler.NilSentinel))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by y session 5 exact"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by y order by sum(foo) session 5"))
  }

  test("salt clause routes to the two-phase plans and equals the unsalted results") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.toSeq.map {
        case d: Double => math.round(d * 1e6)
        case v => v
      }).toSet
    // tumbling + salt == tumbling (salted partial/final decomposition)
    assert(canon(ZxSql.run(fixture, "select sum(foo), count(foo) group by y granularity 15 salt 8"))
      == canon(ZxSql.run(fixture, "select sum(foo), count(foo) group by y granularity 15")))
    // session + salt == session (exact two-level interval merge)
    assert(canon(ZxSql.run(fixture, "select sum(foo) group by y session 5 salt 8"))
      == canon(ZxSql.run(fixture, "select sum(foo) group by y session 5")))
    // top-groups + salt == top-groups
    assert(canon(ZxSql.run(fixture, "select sum(foo) group by y order by sum(foo) desc salt 4"))
      == canon(ZxSql.run(fixture, "select sum(foo) group by y order by sum(foo) desc")))
    // hopping + salt == hopping
    assert(canon(ZxSql.run(fixture, "select sum(foo) group by y granularity 4 slide 2 salt 8"))
      == canon(ZxSql.run(fixture, "select sum(foo) group by y granularity 4 slide 2")))
    // exact + salt == exact (the run-decomposed parallel gap walk)
    assert(canon(ZxSql.run(fixture,
        "select sum(foo), count(foo) group by y granularity 5 salt 8 exact"))
      == canon(ZxSql.run(fixture,
        "select sum(foo), count(foo) group by y granularity 5 exact")))
    // guards: raw/join queries have no salted form; non-decomposable
    // aggregates fail in the compiler with a named error
    assertThrows[ZxSql.ParseError](ZxSql.parse("select foo salt 8"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by y salt 0"))
    val e = intercept[IllegalArgumentException](
      ZxSql.run(fixture, "select count_distinct(foo) group by y salt 8"))
    assert(e.getMessage.contains("decomposable"))
  }

  test("hopping windows land each event in every covering window") {
    // fixture ts 0..9, size 4 slide 2: event at t lands in windows starting
    // at {floor((t-4)/2)+1 .. floor(t/2)} * 2 — two windows per event
    val got = ZxSql.run(fixture,
      "select count(foo) group by y granularity 4 slide 2")
      .filter(org.apache.spark.sql.functions.col("y") === "9")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // y="9": events at ts 3 (windows 0,2) and ts 9 (windows 6,8)
    assert(got == Set((0L, 4L, 1.0), (2L, 6L, 1.0), (6L, 10L, 1.0), (8L, 12L, 1.0)))
    // mutual exclusions reject loudly
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by y slide 2 session 5"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by y order by sum(foo) slide 2"))
  }

  test("having filters aggregated groups on both sorted and windowed paths") {
    // fixture sums per y: "1"→100, "9"→1400, __nil→4000
    val got = ZxSql.run(fixture,
      "select sum(foo) group by y having sum(foo) > 200 order by sum(foo) asc")
    assert(got.columns.toSeq == Seq("y", "sum_foo"))
    assert(got.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("9", 1400.0), (Compiler.NilSentinel, 4000.0)))
    // an aggregate named only in HAVING is computed for the filter, dropped
    // from output (counts per y: "1"→1, "9"→2, __nil→7)
    val only = ZxSql.run(fixture,
      "select sum(foo) group by y having count(foo) >= 2")
    assert(only.columns.contains("sum_foo") && !only.columns.contains("count_foo"),
      s"having-only aggregate must drop from output: ${only.columns.toSeq}")
    assert(only.select("y").collect().map(_.getString(0)).toSet ==
      Set("9", Compiler.NilSentinel))
    // windowed path: 15s buckets cover the whole 0-9s fixture, same groups
    val win = ZxSql.run(fixture,
      "select sum(foo) group by y having sum(foo) > 200 granularity 15")
    assert(win.columns.toSeq == Seq("y", "w_start", "sum_foo", "w_end"))
    assert(win.select("y").collect().map(_.getString(0)).toSet ==
      Set("9", Compiler.NilSentinel))
    // rejections: raw select, exact gap path, bare-column having
    assertThrows[ZxSql.ParseError](
      ZxSql.run(fixture, "select foo having sum(foo) > 1"))
    assertThrows[ZxSql.ParseError](ZxSql.run(fixture,
      "select sum(foo) group by y having sum(foo) > 1 exact", idCol = Some("id")))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by y having y > 1"))
  }

  test("IN and BETWEEN desugar onto the condition tree and execute correctly") {
    // in → OR of equalities
    val q = ZxSql.parse("select foo where y in (1, 9)")
    assert(q.where == Some(ConditionTree.Or(Seq(
      ConditionTree.Leaf(Condition(Cmp.Eq, "y", "1")),
      ConditionTree.Leaf(Condition(Cmp.Eq, "y", "9"))))))
    // between → Gte AND Lte (pure conjunction of leaves → flat conditions)
    val b = ZxSql.parse("select foo where x between 2 and 5")
    assert(b.where.isEmpty)
    assert(b.conditions == Seq(Condition(Cmp.Gte, "x", "2"),
      Condition(Cmp.Lte, "x", "5")))
    // fixture: y ∈ {1, 9, 9} on rows {1, 4, 10}; x = row index 0..9
    assert(ZxSql.run(fixture, "select foo where y in (1, 9)").count() == 3)
    assert(ZxSql.run(fixture, "select foo where y not in (1)").count() == 2)
    assert(ZxSql.run(fixture, "select foo where x between 2 and 5").count() == 4)
    assert(ZxSql.run(fixture, "select foo where x not between 2 and 5").count() == 6)
    // between composes with the boolean grammar's AND unambiguously
    assert(ZxSql.run(fixture,
      "select foo where x between 2 and 5 and y = 9").count() == 1)
    // $t pseudo-columns can't hide inside IN lists
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select foo where $t_start in (1, 2)"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select foo where y in ()"))
  }

  test("asof join clause routes through AsofJoin with deterministic version dedup") {
    import SparkFixture.spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 150L), (4L, 30L, 50L))
      .toDF("event_id", "uid", "t")
    val dim = Seq((10L, 50L, "v1"), (10L, 150L, "v2"), (20L, 100L, "v3"))
      .toDF("dkey", "dt", "ver")
    val got = ZxSql.run(left,
      "select event_id, uid, t asof join dim on uid = dkey at t >= dt carry ver",
      tables = Map("dim" -> dim))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    // latest at-or-before per key; key 30 has no dim row → null payload
    assert(got == Map(1L -> Some("v1"), 2L -> Some("v2"),
      3L -> Some("v3"), 4L -> None))
  }

  test("trailing join clause computes windowed aggregates over right rows") {
    import SparkFixture.spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 150L))
      .toDF("event_id", "uid", "t")
    val acts = Seq((10L, 90L, 1.0), (10L, 95L, 2.0), (20L, 10L, 5.0))
      .toDF("akey", "at2", "r_v")
    val got = ZxSql.run(left,
      "select event_id, uid, t trailing join acts on uid = akey at t >= at2 " +
        "within 100 agg sum(r_v), count(r_v)",
      tables = Map("acts" -> acts))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("count_r_v"), Option(r.getAs[java.lang.Double]("sum_r_v")))).toMap
    assert(got == Map(1L -> (2L, Some(3.0: java.lang.Double)),
      2L -> (0L, None), 3L -> (0L, None)))
  }

  test("join clauses reject malformed shapes loudly") {
    import SparkFixture.spark.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("event_id", "uid", "t")
    // unknown table
    assertThrows[ZxSql.ParseError](ZxSql.run(left,
      "select event_id, uid, t asof join nope on uid = k at t >= rt carry v"))
    // aggregates in the select list
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select sum(x), uid, t asof join d on uid = k at t >= rt carry v"))
    // key/time must be selected (the output must carry its join anchors)
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select event_id asof join d on uid = k at t >= rt carry v"))
    // group by with a join is not a thing
    assertThrows[ZxSql.ParseError](ZxSql.run(left,
      "select event_id, uid, t asof join d on uid = k at t >= rt carry v group by uid"))
    // trailing aggs restricted to decomposable right-column aggregates
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select event_id, uid, t trailing join d on uid = k at t >= rt within 10 agg count_distinct(v)"))
  }

  test("equi-join clauses: chained joins + WHERE-through-join roll-up equals the programmatic plan") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions._
    val fact = Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 1.0),
      (4L, 20L, 2.0), (5L, 30L, 9.0), (6L, 40L, 4.0))
      .toDF("fid", "k1", "qty")
    val mid = Seq((10L, 100L, "O"), (20L, 200L, "F"), (30L, 100L, "O"))
      .toDF("k1r", "k2", "status")
    val dim = Seq((100L, "alpha"), (200L, "beta")).toDF("k2r", "dname")
    val got = ZxSql.run(fact,
      "select sum(qty), count(*) from fact " +
        "join mid on k1 = k1r join dim on k2 = k2r " +
        "where status = 'O' group by dname order by sum(qty) desc",
      tables = Map("mid" -> mid, "dim" -> dim))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // fid 6 (k1=40) has no mid row — inner join drops it; status 'F'
    // drops k1=20's rows; only alpha survives: fids 1, 2, 5
    assert(got.toSeq == Seq(("alpha", 21.0, 3.0)))
    // left join keeps unmatched fact rows with a __nil group key
    val lj = ZxSql.run(fact,
      "select sum(qty), count(*) from fact left join mid on k1 = k1r " +
        "group by status order by sum(qty) desc",
      tables = Map("mid" -> mid))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(lj == Map("O" -> ((21.0, 3.0)), "F" -> ((3.0, 2.0)), "__nil" -> ((4.0, 1.0))))
    // the WHERE predicate on a joined column must be PUSHED under the
    // join into that table's scan, not evaluated over the join output
    val plan = ZxSql.run(fact,
      "select sum(qty) from fact join mid on k1 = k1r where status = 'O' group by k2",
      tables = Map("mid" -> mid))
      .queryExecution.optimizedPlan
    def joinOfPlan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[org.apache.spark.sql.catalyst.plans.logical.Join] =
      p.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    val joins = joinOfPlan(plan)
    assert(joins.nonEmpty && joins.forall(j =>
      !j.condition.exists(_.references.exists(_.name == "status"))),
      "status must not survive as a join-level predicate")
    // pushed-down means: no Filter referencing `status` survives ABOVE a
    // join (on a file source it lands in the scan's PushedFilters; on
    // this in-memory fixture Catalyst folds it into the LocalRelation
    // itself — both are below-the-join placements)
    val aboveJoin = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "status") &&
          joinOfPlan(f.child).nonEmpty => f
    }
    assert(aboveJoin.isEmpty, "status filter must be pushed below the join")
  }

  test("equi-join grammar guards: shape restrictions fail loudly; streaming rejects") {
    import SparkFixture.spark.implicits._
    val fact = Seq((1L, 10L, 5.0)).toDF("fid", "k1", "qty")
    // unknown catalog table
    assertThrows[ZxSql.ParseError](ZxSql.run(fact,
      "select sum(qty) join nope on k1 = k1r group by k1",
      tables = Map.empty))
    // group by is OPTIONAL (global roll-up, the q14 shape); session/slide
    // COMPOSE (windowed enrich) — but aggregates only; no exact/rollup
    assert(ZxSql.parse("select sum(qty) join mid on k1 = k1r").groupBy.isEmpty)
    assert(ZxSql.parse(
      "select sum(qty) join mid on k1 = k1r group by k1 session 300")
      .sessionGapSec.contains(300L))
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select qty join mid on k1 = k1r group by k1"))
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select sum(qty) join mid on k1 = k1r group by k1 exact"))
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select sum(qty) join mid on k1 = k1r group by rollup k1, k2"))
    // no mixing with asof/trailing joins
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select k, t asof join d on k = dk at t >= dt carry v join mid on k1 = k1r"))
    // sequence ops never take joins
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select trend join mid on k1 = k1r group by k1"))
    // streaming: an unwindowed join roll-up is a batch shape
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-ej").toString
    val st = SparkFixture.spark.readStream.schema(fact.schema).parquet(sdir)
    val e = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "select sum(qty) join mid on k1 = k1r group by k1",
      tables = Map("mid" -> fact)))
    assert(e.getMessage.contains("foreachBatch"))
  }

  test("boolean WHERE flows through aggregate and gap-window paths") {
    val agg = ZxSql.run(fixture,
      "select sum(foo) where y = 1 or y = 9 group by y granularity 15")
      .collect().map(r => (r.getString(0), r.getAs[Double]("sum_foo"))).toMap
    assert(agg == Map("1" -> 100.0, "9" -> 1400.0))
    val exact = ZxSql.run(fixture,
      "select sum(foo) where y = 1 or y = 9 group by y granularity 15 exact",
      idCol = Some("id"))
      .collect().map(r => (r.getString(0), r.getAs[Double]("sum_foo"))).toMap
    assert(exact == Map("1" -> 100.0, "9" -> 1400.0))
  }

  test("count(*) counts every row; a named column only presence") {
    val q = ZxSql.parse("select count(*), count(y)")
    assert(q.selects == Seq(Select(Agg.Count, "*"), Select(Agg.Count, "y")))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sum(*)"))
    val got = ZxSql.run(fixture, "select count(*), count(y) group by y granularity 15")
      .collect().map(r => r.getAs[String]("y") ->
        (r.getAs[Double]("count_star"), r.getAs[Double]("count_y"))).toMap
    // fixture: y present on rows {1, 4, 10} only; __nil group has 7 rows
    assert(got(Compiler.NilSentinel) == (7.0, 0.0))
    assert(got("9") == (2.0, 2.0) && got("1") == (1.0, 1.0))
    // and through the exact gap-window path
    val exact = ZxSql.run(fixture,
      "select count(*) group by y granularity 15 exact", idCol = Some("id"))
      .collect().map(r => r.getAs[String]("y") -> r.getAs[Double]("count_star")).toMap
    assert(exact(Compiler.NilSentinel) == 7.0)
  }

  test("trailing `exact` keyword routes through GapWindows from the SQL text") {
    val q = ZxSql.parse("select sum(foo) group by y granularity 15 exact")
    assert(q.exact)
    val viaKeyword = ZxSql.run(fixture,
      "select sum(foo) group by y granularity 15 exact", idCol = Some("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaParam = ZxSql.run(fixture, "select sum(foo) group by y granularity 15",
      exact = true, idCol = Some("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaKeyword == viaParam)
    assert(viaKeyword.exists(_._4 == 1400.0)) // data-anchored, not tumbling
  }

  test("approx aggregates parse and land near their exact counterparts") {
    val q = ZxSql.parse("select approx_count_distinct(x), p50_approx(foo)")
    assert(q.selects == Seq(Select(Agg.ApproxCountDistinct, "x"),
      Select(Agg.P50Approx, "foo")))
    val r = ZxSql.run(fixture,
      "select approx_count_distinct(x), p50_approx(foo), count_distinct(x), p50(foo)")
      .head()
    // 10 tiny distinct values: HLL is exact here; percentile sketch likewise
    assert(r.getAs[Long]("approx_count_distinct_x") == r.getAs[Long]("count_distinct_x"))
    assert(math.abs(r.getAs[Double]("p50_approx_foo") - r.getAs[Double]("p50_foo")) <= 50.0)
  }

  test("heatmap(col) routes to the adaptive 2-D histogram") {
    val got = ZxSql.run(fixture, "select heatmap(foo) granularity 5")
    // counts over (t_bucket, v_bucket) must cover all 10 rows
    assert(got.columns.contains("t_bucket") && got.columns.contains("v_bucket"))
    assert(got.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 10L)
  }

  test("pipeline SQL functions match the Column API bit-for-bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.TextFunctions
    val quant = spark.sql("SELECT quantize_int8(array(0.5D, -1.2D, 0.0D)) AS q")
      .head().getSeq[Double](0)
    assert(quant == Seq(64.0, -127.0, 0.0), "round + clamp")
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "zz")).toDF("doc_id", "text")
    df.createOrReplaceTempView("sqlfn_docs")
    val viaSql = spark.sql(
      """SELECT fingerprint(text) AS fp, simhash16(text) AS sh,
        | lang_id(text) AS lid, quality_ok(text) AS ok,
        | token_count(text) AS tc, hash_bucket(doc_id, 100) AS hb
        |FROM sqlfn_docs ORDER BY doc_id""".stripMargin).collect().toSeq
    val viaCols = df.select(
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.simhash16(col("text")).as("sh"),
      TextFunctions.langId(col("text")).as("lid"),
      TextFunctions.qualityOk(col("text")).as("ok"),
      TextFunctions.tokenCount(col("text")).as("tc"),
      graft.operators.Corpus.hashBucket(col("doc_id"), 100).as("hb"))
      .orderBy(col("fp")).collect().toSeq
    assert(viaSql.toSet == viaCols.toSet)
    // non-literal bucket count is rejected loudly, not mis-planned
    val e = intercept[Exception](
      spark.sql("SELECT hash_bucket(doc_id, doc_id) FROM sqlfn_docs").collect())
    assert(e.getMessage.contains("literal"))
  }

  test("rollup: subtotal levels render __all, data-missing keys stay __nil") {
    val got = ZxSql.run(fixture,
      "select sum(foo) group by rollup y order by sum(foo) desc")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == Map("__all" -> 5500.0, Compiler.NilSentinel -> 4000.0,
      "9" -> 1400.0, "1" -> 100.0))
    // two levels: 10 distinct (y, x) pairs + 3 y subtotals + 1 grand total
    assert(ZxSql.run(fixture, "select count(foo) group by rollup y, x").count() == 14)
    // cube adds the per-key margins rollup lacks:
    // 10 (y,x) pairs + 3 y + 10 x + 1 total = 24
    assert(ZxSql.run(fixture, "select count(foo) group by cube y, x").count() == 24)
    // guards: rollup/cube are aggregate-only and exclude the windowed
    // clauses; cube caps its key count (2^n level blowup)
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by rollup y session 10"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select foo group by rollup y"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by rollup y salt 4"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by cube a, b, c, d, e"))
    // grouping sets: caller-chosen levels — {(y,x), (x), ()} is a shape
    // neither rollup (no x-only margin) nor cube (adds unwanted y-only)
    // produces: 10 (y,x) pairs + 10 x margins + 1 grand total
    assert(ZxSql.run(fixture,
      "select count(foo) group by sets (y, x), (x), ()").count() == 21)
    // a single-set `sets` equals the plain top-groups aggregate
    val plain = ZxSql.run(fixture,
      "select sum(foo) group by y order by sum(foo) desc")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val oneSet = ZxSql.run(fixture,
      "select sum(foo) group by sets (y) order by sum(foo) desc")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(oneSet == plain)
    // guards
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by sets ()"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by sets (y), (y)"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select sum(foo) group by rollup sets (y)"))
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select foo group by sets (y)"))
  }

  test("sequence ops: journeys / funnel / decay / argmax from SQL (VERDICT r9 #3)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, 10L, "view", 1.0), (2L, 10L, 10L, "click", 2.0),
      (3L, 20L, 10L, "purchase", 4.0), (4L, 30L, 20L, "view", 8.0),
      (5L, 40L, 20L, "view", 16.0))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")

    val j = ZxSql.run(ev, "select journeys top 5 steps 8")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(j == Set(("view>click>purchase", 1L), ("view>view", 1L)))

    val f = ZxSql.run(ev, "select funnel view, click, purchase")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(f == Map(3 -> 1L, 1 -> 1L)) // user 10 converts, user 20 stalls at view

    // user 20 in (ts, id) order: 8 then 16 -> (0*0.5+8)*0.5+16 = 20
    val d = ZxSql.run(ev, "select decay(value) last 64 where user_id = 20")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(d == Set((20L, 20L * 1048576L, 2L)))

    val am = ZxSql.run(ev,
      "select argmax(value, event_id) where value exists group by event_type")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(am == Set(("view", 16.0, 5L, 3L), ("click", 2.0, 2L, 1L),
      ("purchase", 4.0, 3L, 1L)))

    // WHERE composes into the front half: journeys over the click-free slice
    val j2 = ZxSql.run(ev, "select journeys where event_type != 'click'")
      .collect().map(r => r.getString(0)).toSet
    assert(j2 == Set("view>purchase", "view>view"))

    // grammar guards: misplaced clauses fail loudly, and `decay` stays
    // usable as a plain column name (keyword needs the paren)
    assertThrows[ZxSql.ParseError](ZxSql.parse("select journeys group by user_id"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select argmax(value, event_id)"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select decay(value) last 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select funnel a, b order by sum(x)"))
    assert(ZxSql.parse("select decay").selects == Seq(Select(Agg.Raw, "decay")))
    // streaming route rejects with guidance (order-dependent per-day folds)
    assertThrows[ZxSql.ParseError](ZxSql.runStream(ev, "select funnel view, click"))

    // spans: the dialect reaching the documents table — WHERE composes
    val docs = Seq((1L, "a b c d", "en"), (2L, "a b c e", "en"),
      (3L, "a b c d", "fr")).toDF("doc_id", "text", "lang")
    val sp = ZxSql.run(docs, "select spans top 5 size 3 where lang = 'en'")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(sp == Set(("a b c", 2L, 2L))) // 'b c d' appears in en only once
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select spans top 5 size 3 group by lang"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select spans size 1"))
  }

  test("sequence ops: retention / attribution / markov from SQL (round 10)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, 10L, "view", 0.0), (2L, 10L, 10L, "click", 0.0),
      (3L, 20L, 10L, "purchase", 2.0),
      (4L, 86400L + 5L, 10L, "view", 0.0),   // next day, same user
      (5L, 86400L + 9L, 20L, "purchase", 1.0)) // no touch → __none
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")

    val r = ZxSql.run(ev, "select retention")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getLong(2), x.getLong(3))).toSet
    assert(r == Set(("1970-01-01", 0, 1L, 3L), ("1970-01-01", 1, 1L, 1L),
      ("1970-01-02", 0, 1L, 1L)))

    val at = ZxSql.run(ev, "select attribution purchase within 3600")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(at == Set(("click", 1L, 2L * 1048576L), ("__none", 1L, 1L * 1048576L)))

    // one iteration by hand: transitions view→click, click→purchase,
    // purchase→view (user 10); each prev has rowsum 1 so the whole 2^36
    // mass moves along each edge; purchase also receives nothing from
    // user 20 (no transitions there)
    val mk = ZxSql.run(ev, "select markov iters 1")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(mk == Map(
      "view" -> ((1L << 36, 1L)),      // mass from purchase; out: view→click
      "click" -> ((1L << 36, 1L)),     // from view
      "purchase" -> ((1L << 36, 1L)))) // from click

    // WHERE composes; grammar guards reject misplaced clauses
    val r2 = ZxSql.run(ev, "select retention where user_id = 20")
      .collect().map(x => x.getString(0)).toSet
    assert(r2 == Set("1970-01-02"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select retention group by user_id"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select attribution purchase within 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select markov iters 200"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select markov order by p_fp"))
    assertThrows[ZxSql.ParseError](ZxSql.runStream(ev, "select retention"))
  }

  test("sequence ops: anomaly / profile / similar from SQL (round 10)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, 10L, "a", 10.0), (2L, 86400L + 100L, 10L, "a", 10.0),
      (3L, 3 * 86400L + 100L, 10L, "a", 25.0),  // day 4 scores vs mean 10
      (4L, 3 * 86400L + 200L, 10L, "a", 15.0))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // baseline days 1-2 (n=2, mean 10 at hour 0); factor 2, support 2:
    // 25 flags, 15 doesn't
    val an = ZxSql.run(ev,
      "select anomaly split '1970-01-03' factor 2 support 2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(an.toSeq == Seq(("a", "1970-01-04", 2L, 1L)))

    // profile classifies from the schema: user_id numeric, event_type
    // string, ts timestamp; WHERE composes (day-4 rows only)
    val pr = ZxSql.run(ev,
      "select profile user_id, event_type, ts where value >= 15")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(pr == Map("user_id" -> 1L, "event_type" -> 1L, "ts" -> 2L))
    assertThrows[ZxSql.ParseError](
      ZxSql.run(ev, "select profile no_such_col"))

    val docs = Seq((1L, "x y z", "en"), (2L, "x y w", "en"),
      (3L, "x q r", "en")).toDF("doc_id", "text", "lang")
    // df(x)=3 > maxdf 2 → never pairs; (1,2) share y (df 2, w=2^19)
    val sim = ZxSql.run(docs, "select similar top 5 mindf 2 maxdf 2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sim.toSeq == Seq((1L, 2L, 524288L)))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select similar mindf 1"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select anomaly factor 2"))
    // fractional cap: 3 docs × 67% → cap 2 (integer 3·67 div 100), same
    // result as the absolute maxdf 2 run above
    val simPct = ZxSql.run(docs, "select similar top 5 mindf 2 maxdfpct 67")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(simPct.toSeq == Seq((1L, 2L, 524288L)))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select similar maxdfpct 0"))
    // one df cap only: both given must be rejected, not silently resolved
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select similar mindf 2 maxdf 5 maxdfpct 50"))
  }

  test("sequence ops: neardup / knn from SQL (round 10)") {
    import spark.implicits._
    // two identical long docs + one unrelated: only the twins pair
    val t1 = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, t1, 100L), (2L, t1, 100L),
      (3L, (31 to 60).map(i => s"tok$i").mkString(" "), 100L))
      .toDF("doc_id", "text", "n_chars")
    val nd = ZxSql.run(docs, "select neardup threshold 90")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(nd.toSeq == Seq((1L, 2L, 1.0)))
    // WHERE composes: gate out doc 2 → nothing pairs
    assert(ZxSql.run(docs, "select neardup where doc_id != 2").count() == 0)

    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f), 2), (3L, Array(-1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val kn = ZxSql.run(emb, "select knn top 3 query 0")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(kn.toSeq == Seq((0L, 1.0), (1L, 1.0), (2L, 0.0)))
    // corpus filter composes; the query row must satisfy it too
    val kn2 = ZxSql.run(emb, "select knn top 2 query 2 where label = 2")
      .collect().map(r => r.getLong(0)).toSeq
    assert(kn2 == Seq(2L, 3L))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select neardup threshold 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select knn top 0"))
    // mmr: same embeddings reach, diversity loop over the shortlist; with
    // k = corpus the order is pure relevance here (all candidates distinct)
    val mm = ZxSql.run(emb, "select mmr top 2 query 0 shortlist 4")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mm.head == ((1L, 0L)) && mm.length == 2)
    assertThrows[ZxSql.ParseError](ZxSql.parse("select mmr top 9 shortlist 4"))
  }

  test("sequence ops: trend / neardup images from SQL (round 11)") {
    import spark.implicits._
    // trend face == operator on the same slice; explicit column via parens
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", Some(1.0)),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1L, "click", Some(3.0)),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 2L, "view", Some(2.0)),
      (4L, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 2L, "view", Option.empty[Double]))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val face = ZxSql.run(ev, "select trend (value) where event_type = 'click'")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val op = graft.operators.Funnel
      .linearTrend(ev.filter(org.apache.spark.sql.functions.col("event_type") === "click"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(face.toSeq == op.toSeq && face.nonEmpty)
    // slope pair for clicks: x=(1,2), y=(1024,3072) → num=2·4096−3·4096... spelled out:
    // n=2, sx=3, sy=4096, sxy=1024+6144=7168, sxx=5 → num=2·7168−3·4096=2048, den=2·5−9=1
    assert(face.head == (("click", 2L, 2048L, 1L)))

    // neardup images face == m6 chain at the same radius
    // ids 1 and 6 share doc_id%5 → same synthetic BMP width → identical
    // images; id 3 is a different texture
    val docs = Seq(
      (1L, "abcdefgh" * 40, 320L), (6L, "abcdefgh" * 40, 320L),
      (3L, ("zyxw" * 80).take(320), 320L)).toDF("doc_id", "text", "n_chars")
    val faceNd = ZxSql.run(docs, "select neardup images hamming 4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val opNd = graft.operators.Multimodal.imageNearDupPairs(
      graft.operators.Multimodal.imageDHash(
        graft.operators.Multimodal.packBmp(docs)), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(faceNd.toSeq == opNd.toSeq)
    assert(faceNd.exists(p => p._1 == 1L && p._2 == 6L && p._3 == 0L),
      "identical docs must pair at hamming 0")
    // grammar: radius range enforced — 64 (the full fingerprint width) is
    // legal, 65 is not; plain threshold still parses
    ZxSql.parse("select neardup images hamming 64")
    assertThrows[ZxSql.ParseError](ZxSql.parse("select neardup images hamming 65"))
    ZxSql.parse("select neardup threshold 50")
    // streaming: sequence ops are rejected on an unbounded source
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-st").toString
    val st = spark.readStream.schema(ev.schema).parquet(sdir)
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select trend"))
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select neardup images"))
  }

  test("sequence ops: markov distributed / mmr batch / neardup audio from SQL (round 11)") {
    import spark.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L, "A"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, "B"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 1L, "A"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:04"), 2L, "B"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val face = ZxSql.run(ev, "select markov iters 3 distributed")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val op = graft.operators.Funnel.stationaryDistributionDistributed(ev, iters = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val drv = graft.operators.Funnel.stationaryDistribution(ev, iters = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(face == op && face == drv && face.nonEmpty)

    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(0.0f, 1.0f), 2), (3L, Array(0.5f, 0.5f), 2))
      .toDF("vec_id", "embedding", "label")
    val faceB = ZxSql.run(emb, "select mmr top 2 queries 0, 2 shortlist 4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val opB = graft.operators.Similarity
      .mmrRerankBatch(emb, Seq(0L, 2L), k = 2, shortlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(faceB.toSeq == opB.toSeq && faceB.length == 4)
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select mmr top 2 queries 1, 1 shortlist 4"))

    val docs = Seq(
      (1L, "abcdefgh" * 40, 320L), (6L, "abcdefgh" * 40, 320L),
      (3L, ("zzzzaaaa" * 40).take(320), 320L)).toDF("doc_id", "text", "n_chars")
    val faceA = ZxSql.run(docs, "select neardup audio hamming 10")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val opA = graft.operators.Multimodal.bandedHammingPairs(
      graft.operators.Multimodal.audioFingerprint(
        graft.operators.Multimodal.packWav(docs)), maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(faceA.toSeq == opA.toSeq)
    assert(faceA.exists(p => p._1 == 1L && p._2 == 6L && p._3 == 0L),
      "identical docs must pair at hamming 0")
    ZxSql.parse("select neardup audio hamming 64")
    assertThrows[ZxSql.ParseError](ZxSql.parse("select neardup audio hamming 65"))
  }

  test("sequence ops: neardup video / scenes from SQL (round 12)") {
    import SparkFixture.spark.implicits._
    // sampled frames are byte ranges [0,64) and [256,320): ids 1 and 6
    // share BOTH distinct digests (A-frame, B-frame); id 3's periodic
    // text yields one repeated digest — no pair, no scene change
    val twoScene = "A" * 64 + "x" * 192 + "B" * 64 + "y" * 192
    val docs = Seq(
      (1L, twoScene, 512L), (6L, twoScene, 512L),
      (3L, ("zyxw" * 128).take(512), 512L)).toDF("doc_id", "text", "n_chars")
    val faceV = ZxSql.run(docs, "select neardup video shared 2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val opV = graft.operators.Multimodal.frameNearDupPairs(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.packBinary(docs)), minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(faceV.toSeq == opV.toSeq)
    assert(faceV.exists(p => p._1 == 1L && p._2 == 6L),
      "identical frame sets must pair")
    val faceS = ZxSql.run(docs, "select scenes")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val opS = graft.operators.Multimodal.sceneChanges(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.packBinary(docs)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(faceS == opS && faceS.keySet == Set(1L, 3L, 6L))
    // A-frame → B-frame is one cut; the periodic doc has none
    assert(faceS(1L) == 1L && faceS(3L) == 0L)
    // grammar guards + streaming rejection
    assertThrows[ZxSql.ParseError](ZxSql.parse("select neardup video shared 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select scenes group by lang"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-vid").toString
    val st = SparkFixture.spark.readStream.schema(docs.schema).parquet(sdir)
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select neardup video"))
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select scenes"))
  }

  test("sample from SQL: hash / stratified / weighted, batch + stream (round 12)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    import org.apache.spark.sql.functions.col
    val docs = (0L until 80L).map(i =>
      (i, s"doc $i body", if (i % 2 == 0) "en" else "fr",
        s"src${i % 4}", 40L + (i * 7) % 160)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // hash mode == Corpus API; text is pruned from the face's output
    val facePct = ZxSql.run(docs, "select sample pct 30")
    assert(facePct.columns.toSeq == Seq("doc_id", "lang", "source", "n_chars"))
    assert(ids(facePct) == ids(graft.operators.Corpus.sampleByHash(docs, "doc_id", 30)))
    // stratified mode == Corpus API with the same rates + default
    val faceStrat = ZxSql.run(docs, "select sample pct 20 by src1=80, src2=0")
    assert(ids(faceStrat) == ids(graft.operators.Corpus.sampleStratified(
      docs, "source", Map("src1" -> 80, "src2" -> 0), defaultPct = 20)))
    assert(!faceStrat.collect().exists(_.getString(2) == "src2"))
    // weighted mode == Corpus API at the same scale
    val faceW = ZxSql.run(docs, "select sample weight n_chars scale 100")
    assert(ids(faceW) == ids(graft.operators.Corpus.sampleByWeight(
      docs, col("n_chars").cast("double") / 100.0)))
    // WHERE composes as a pre-sample gate
    val gated = ZxSql.run(docs, "select sample pct 30 where lang = 'en'")
    assert(ids(gated) == ids(facePct.filter(col("lang") === "en")))
    // grammar guards
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample pct 101"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample pct 20 by src1=70, src1=5"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample pct 20 by src1=200"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample weight n_chars scale 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample pct 20 group by lang"))
    // STREAMING: sample is a stateless filter, so append mode works —
    // the replay must equal the batch result row-for-row
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-sample").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val out = ZxSql.runStream(st, "select sample weight n_chars scale 100 where lang = 'en'")
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("sample_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = ids(spark.table("sample_out"))
      assert(streamed == ids(faceW.filter(col("lang") === "en")) && streamed.nonEmpty)
    } finally query.stop()
    // other corpus ops still refuse the unbounded source
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select mixture src1=100"))
    // `key <col>` points the coin at any stable id — same subset as the
    // API with that key, and a doc_id-less frame works
    val ev = docs.withColumnRenamed("doc_id", "event_id")
    val keyed = ZxSql.run(ev, "select sample pct 30 key event_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(keyed == ids(graft.operators.Corpus.sampleByHash(ev, "event_id", 30)
      .withColumnRenamed("event_id", "doc_id")))
  }

  test("pack / chunks from SQL: batch parity, guards, chunks streams (round 12)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val docs = (0L until 20L).map(i =>
      (i, (s"w$i " * (3 + (i % 7).toInt)).trim, "en", s"src${i % 2}", 10L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // pack face == Corpus API at the same budget
    val facePack = ZxSql.run(docs, "select pack budget 10")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val opPack = graft.operators.Corpus.packByTokenBudget(docs, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(facePack == opPack && facePack.nonEmpty)
    // chunks face == Corpus API; explicit size without stride = no overlap
    def chunkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, String)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(4))).toSet
    val faceCh = chunkSet(ZxSql.run(docs, "select chunks size 4 stride 2"))
    assert(faceCh == chunkSet(graft.operators.Corpus.chunkByWindow(docs, 4, 2)))
    assert(chunkSet(ZxSql.run(docs, "select chunks size 4")) ==
      chunkSet(graft.operators.Corpus.chunkByWindow(docs, 4, 4)))
    // ONE default rule (round 13): stride = size unless spelled — bare
    // `chunks` is non-overlapping 32/32, so adding `size` never silently
    // changes overlap semantics
    assert(chunkSet(ZxSql.run(docs, "select chunks")) ==
      chunkSet(graft.operators.Corpus.chunkByWindow(docs, 32, 32)))
    // grammar guards
    assertThrows[ZxSql.ParseError](ZxSql.parse("select pack"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select pack budget 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select chunks size 4 stride 8"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select chunks size 0"))
    // chunks is a stateless explode → it streams; pack is windowed → batch
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-chunk").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val out = ZxSql.runStream(st, "select chunks size 4 stride 2")
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("chunks_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(chunkSet(spark.table("chunks_out")) == faceCh)
    } finally query.stop()
    val e = intercept[ZxSql.ParseError](ZxSql.runStream(st, "select pack budget 10"))
    assert(e.getMessage.contains("pack"))
  }

  test("composite-key equi-join: on a = ra and b = rb (round 12)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions._
    val fact = Seq((1L, 1L, "x", 10.0), (1L, 2L, "x", 20.0),
      (2L, 1L, "y", 30.0), (2L, 2L, "y", 40.0))
      .toDF("fk1", "fk2", "grp", "v")
    val dim = Seq((1L, 1L, "a"), (2L, 2L, "b"))
      .toDF("dk1", "dk2", "tag")
    val got = ZxSql.run(fact,
      "select sum(v) as s, count(*) as n " +
        "join dim on fk1 = dk1 and fk2 = dk2 group by tag order by tag",
      tables = Map("dim" -> dim))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // only (1,1)→a and (2,2)→b match: the single-key join would also
    // admit the (1,2)/(2,1) rows — composite keys must exclude them
    assert(got == Seq(("a", 10.0), ("b", 40.0)))
    // a derived join side takes exactly one key
    val e = intercept[ZxSql.ParseError](ZxSql.parse(
      "select sum(v) as s join (select mean(v) as m from t group by k) " +
        "on fk1 = k and fk2 = k group by grp"))
    assert(e.getMessage.contains("one key"))
  }

  test("curriculum from SQL: gate-then-rank parity, guards (round 12)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 30L).map(i =>
      (i, "t", if (i % 3 == 0) "en" else "fr", s"src${i % 2}", (i * 11) % 97)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val face = ZxSql.run(docs,
      "select curriculum score n_chars scale 100 shards 4 where lang = 'fr'")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val api = graft.operators.Corpus.curriculumShards(
      docs.filter(col("lang") === "fr"),
      col("n_chars").cast("double") / 100.0, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(face == api && face.size == 20)
    assertThrows[ZxSql.ParseError](ZxSql.parse("select curriculum"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select curriculum score s scale 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select curriculum score s shards 0"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-cur").toString
    val st = SparkFixture.spark.readStream.schema(docs.schema).parquet(sdir)
    assertThrows[ZxSql.ParseError](
      ZxSql.runStream(st, "select curriculum score n_chars"))
  }

  test("dedup / decontaminate from SQL: parity, guards (round 12)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "same text here now", "en", "src0", 18L),
      (2L, "same text here now", "en", "src1", 18L),
      (3L, "other words entirely differ", "en", "src1", 27L),
      (4L, "same text here now", "fr", "src2", 18L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "src")
      .withColumnRenamed("src", "n_chars")
    // dedup face == exactGroups: the triple-duplicated text keeps id 1
    val face = ZxSql.run(docs, "select dedup")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val api = graft.operators.Dedup.exactGroups(docs)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(face == api && face == Set((1L, 3L), (3L, 1L)))
    // decontaminate face == overlapReport with the same params; the
    // corpus doc sharing the src0 benchmark's text is contaminated
    val rep = ZxSql.run(docs, "select decontaminate src0 shingle 3 hits 1")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val apiRep = graft.operators.Decontaminate.overlapReport(docs,
      col("source").isin("src0"), shingleN = 3, minHits = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(rep == apiRep && rep == Map(2L -> true, 3L -> false, 4L -> true))
    // normalized dedup merges case/punct/whitespace variants the plain
    // form keeps apart
    val vars = Seq(
      (10L, "Same text, HERE (now)!", "en", "src0", 21L),
      (11L, "same   text here now", "en", "src0", 20L),
      (12L, "different entirely", "en", "src0", 18L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val norm = ZxSql.run(vars, "select dedup normalized")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(norm == Set((10L, 2L), (12L, 1L)))
    assert(ZxSql.run(vars, "select dedup").count() == 3)
    assert(norm == graft.operators.Dedup.exactGroupsNormalized(vars)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet)
    // guards + streaming rejection
    assertThrows[ZxSql.ParseError](ZxSql.parse("select decontaminate"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select decontaminate src0, src0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select decontaminate src0 shingle 1"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select decontaminate src0 hits 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select dedup group by lang"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-dd").toString
    val st = SparkFixture.spark.readStream.schema(docs.schema).parquet(sdir)
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select dedup"))
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select decontaminate src0"))
  }

  test("langid / neardup embeddings from SQL: parity, guards (round 12)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "the of and to in", "en", "src0", 16L),
      (2L, "el la de que en", "es", "src0", 15L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val lid = ZxSql.run(docs, "select langid")
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(lid(1L)._1 == "en" && lid(1L)._2 && lid(2L)._1 == "es" && lid(2L)._2)
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-lid").toString
    val st = SparkFixture.spark.readStream.schema(docs.schema).parquet(sdir)
    assert(ZxSql.runStream(st, "select langid").isStreaming)
    // neardup embeddings: same-label near-identical vectors pair; the
    // cross-label near-identical pair is blocked out by design
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.999f, 0.01f), 0),
      (3L, Seq(1.0f, 0.0f), 1), (4L, Seq(-1.0f, 0.0f), 0)).toSeq
      .toDF("vec_id", "embedding", "label")
    val pairs = ZxSql.run(emb, "select neardup embeddings threshold 90")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val api = graft.operators.Dedup.embeddingPairs(emb, threshold = 0.90)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == api && pairs == Set((1L, 2L)))
    // WHERE prunes blocks before the quadratic
    assert(ZxSql.run(emb, "select neardup embeddings threshold 90 where label = 1")
      .collect().isEmpty)
    assertThrows[ZxSql.ParseError](
      ZxSql.parse("select neardup embeddings threshold 0"))
    assertThrows[ZxSql.ParseError](
      ZxSql.runStream(st, "select neardup embeddings"))
  }

  test("quality / redact from SQL: parity, guards, both stream (round 12)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions._
    val docs = Seq(
      (1L, "the key point is the key", "en", "src0", 24L),
      (2L, "no sensitive words at all", "en", "src1", 25L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // quality face == the x2 projection
    val q = ZxSql.run(docs, "select quality")
    assert(q.columns.toSeq ==
      Seq("doc_id", "n_tokens", "punct_ratio", "stop_ratio", "quality_ok"))
    assert(q.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 6, 2L -> 5))
    // redact face: per-term counts + scrubbed fingerprint
    val r = ZxSql.run(docs, "select redact key")
    assert(r.columns.toSeq == Seq("doc_id", "n_key", "redacted_fp"))
    val byId = r.collect().map(x => x.getLong(0) -> ((x.getInt(1), x.getString(2)))).toMap
    assert(byId(1L)._1 == 2 && byId(2L)._1 == 0)
    val expFp = docs.filter(col("doc_id") === 1L)
      .select(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5(
          redactTerms(col("text"), Seq("key"))), 1, 16))
      .collect().head.getString(0)
    assert(byId(1L)._2 == expFp)
    // guards
    assertThrows[ZxSql.ParseError](ZxSql.parse("select redact"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select redact key, key"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select redact 'a.b'"))
    // both stream (stateless row maps)
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-qr").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = SparkFixture.spark.readStream.schema(docs.schema).parquet(sdir)
    assert(ZxSql.runStream(st, "select quality").isStreaming)
    assert(ZxSql.runStream(st, "select redact key").isStreaming)
  }

  test("lmscore from SQL: ref-sliced training, parity with the API, guards (round 12)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "a b a b a c", "en", "src0", 11L),
      (2L, "a b a b", "en", "src0", 7L),
      (3L, "c c c c c", "fr", "src1", 9L),
      (4L, "a b z", "fr", "src1", 5L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // face == API when trained on the same en slice
    val face = ZxSql.run(docs, "select lmscore ref lang = 'en' vocab 10 table 10")
    assert(face.columns.toSeq ==
      Seq("doc_id", "lang", "lm_sum_fp", "lm_hits", "n_bigrams", "mean_p"))
    val ref = docs.filter(col("lang") === "en")
    val api = graft.operators.Corpus.lmScore(docs,
      graft.operators.Corpus.topUnigrams(ref, 10),
      graft.operators.Corpus.topBigrams(ref, 10))
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("lm_sum_fp"), r.getAs[Long]("lm_hits"),
          r.getAs[Long]("n_bigrams")))).toMap
    assert(scores(face) == scores(api) && scores(face).size == 4)
    // no ref clause → self-trained on the gated frame; WHERE gates BOTH
    val gated = ZxSql.run(docs, "select lmscore where lang = 'en'")
    val apiSelf = graft.operators.Corpus.lmScore(ref,
      graft.operators.Corpus.topUnigrams(ref, 300),
      graft.operators.Corpus.topBigrams(ref, 500))
    assert(scores(gated) == scores(apiSelf) && scores(gated).size == 2)
    // guards: size range, empty ref slice fails loudly, streaming rejects
    assertThrows[ZxSql.ParseError](ZxSql.parse("select lmscore vocab 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select lmscore table 100001"))
    intercept[IllegalArgumentException](
      ZxSql.run(docs, "select lmscore ref lang = 'de'"))
    // `train <table>`: the model comes from a static catalog table —
    // batch parity with training on that table directly
    val trained = ZxSql.run(docs, "select lmscore train mydim vocab 10 table 10",
      tables = Map("mydim" -> ref))
    assert(scores(trained) == scores(api))
    // …and the trained form STREAMS (stateless fold, fixed model)
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-lm").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = SparkFixture.spark.readStream.schema(docs.schema).parquet(sdir)
    assertThrows[ZxSql.ParseError](ZxSql.runStream(st, "select lmscore"))
    val out = ZxSql.runStream(st, "select lmscore train mydim vocab 10 table 10",
      tables = Map("mydim" -> ref))
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("lm_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(scores(SparkFixture.spark.table("lm_out")) == scores(api))
    } finally query.stop()
    // a streaming train table is refused — the model must be static
    val e2 = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "select lmscore train mydim", tables = Map("mydim" -> st)))
    assert(e2.getMessage.contains("STATIC"))
  }

  test("lmscore large models route through the joined form, results identical (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    // >4096 distinct unigrams in the ref slice → the ACTUAL table size
    // (not the requested cap) trips the joined-form routing (threshold
    // measured r15: crossover ≈ 4-5k entries, see ZxSql.compileLmScore)
    val wide = (0 until 4500).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, wide, "en", "src0", 10L),
      (2L, "w1 w2 w3 w4", "en", "src0", 7L),
      (3L, "w9 zq w1", "fr", "src1", 5L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val face = ZxSql.run(docs, "select lmscore ref lang = 'en' vocab 5000 table 5000")
    val ref = docs.filter(col("lang") === "en")
    val api = graft.operators.Corpus.lmScore(docs,
      graft.operators.Corpus.topUnigrams(ref, 5000),
      graft.operators.Corpus.topBigrams(ref, 5000))
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("lm_sum_fp"), r.getAs[Long]("lm_hits"),
          r.getAs[Long]("n_bigrams")))).toMap
    assert(scores(face) == scores(api) && scores(face).size == 3)
    // the routing genuinely engaged: the large-model plan is the two
    // broadcast hash joins, not the literal-map fold
    assert(face.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // …and a small model keeps the join-free fold
    val small = ZxSql.run(docs, "select lmscore ref lang = 'en' vocab 10 table 10")
    assert(!small.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("raw limit-per: selected columns break ties, cut is partitioning-independent (round 13)") {
    import SparkFixture.spark.implicits._
    // n_chars ties WITHIN each source right at the cut boundary — without
    // the doc_id tiebreak the kept pair would be partitioning luck
    val docs = Seq(
      (5L, "s0", 10L), (3L, "s0", 10L), (9L, "s0", 10L),
      (8L, "s1", 7L), (1L, "s1", 7L), (2L, "s1", 9L)).toSeq
      .toDF("doc_id", "source", "n_chars")
    val sql = "select doc_id, source, n_chars order by n_chars desc limit 2 per source"
    def cut(df: org.apache.spark.sql.DataFrame): Set[Long] =
      ZxSql.run(df, sql).collect().map(_.getLong(0)).toSet
    // (n_chars desc, doc_id asc): s0 keeps 3,5 of the 10-tie; s1 keeps 2,1
    val expect = Set(3L, 5L, 2L, 1L)
    assert(cut(docs) == expect)
    assert(cut(docs.repartition(7)) == expect)
    assert(cut(docs.repartition(1)) == expect)
  }

  test("knn using <index>: read-only probe parity, filtered ANN, loud guards (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val spark = SparkFixture.spark
    val Sim = graft.operators.Similarity
    // 40 deterministic 4-dim vectors, 2 labels
    val emb = (0L until 40L).map { i =>
      (i, Array(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
        ((i % 7) / 7.0).toFloat, ((i % 3) / 3.0).toFloat), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cents = Sim.ivfTrain(emb, nlist = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-ix").toString
    Sim.ivfWriteIndex(emb, cents, dir)
    val cat = Map("emb" -> emb, "ix" -> spark.read.parquet(dir),
      "ix_centroids" -> cents.toDF("cid", "centroid"))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getAs[Long]("vec_id")).toSeq
    // face == API probe at the same (k, nProbe, query)
    val face = ZxSql.runCatalog(cat,
      "select knn using ix top 5 query 3 probe 2 from emb")
    val qv = emb.filter(col("vec_id") === 3L)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .head().getSeq[Double](0).toIndexedSeq
    assert(ids(face) == ids(Sim.ivfProbeIndex(spark, dir, cents, qv, k = 5, nProbe = 2)))
    // default centroids table name <index>_centroids; default probe 2
    assert(ids(ZxSql.runCatalog(cat, "select knn using ix top 5 query 3 from emb"))
      == ids(face))
    // explicit centroids clause
    val cat2 = cat - "ix_centroids" + ("mycents" -> cents.toDF("cid", "centroid"))
    assert(ids(ZxSql.runCatalog(cat2,
      "select knn using ix centroids mycents top 5 query 3 from emb")) == ids(face))
    // WHERE gates the INDEX scan (filtered ANN) and the query lookup frame
    val filtered = ZxSql.runCatalog(cat,
      "select knn using ix top 5 query 3 probe 4 from emb where label = 1")
    assert(filtered.collect().forall(_.getAs[Int]("label") == 1))
    assert(ids(filtered) == ids(Sim.ivfProbeIndex(spark, dir, cents, qv,
      k = 5, nProbe = 4, where = col("label") === 1)))
    // guards: unknown index / not-an-index / missing centroids / missing
    // query id / probe or centroids on the brute face
    for ((sql, needle) <- Seq(
      ("select knn using nope top 5 query 3 from emb", "unknown index table"),
      ("select knn using emb top 5 query 3 from emb", "not a built IVF index"),
      ("select knn using ix top 5 query 99 from emb", "not found"),
      ("select knn top 5 query 3 probe 2 from emb", "brute-force"),
      ("select knn centroids mycents top 5 from emb", "brute-force knn has no index"),
      ("select knn using ix probe 0 from emb", "probe must be"))) {
      val e = intercept[Exception](ZxSql.runCatalog(cat, sql))
      assert(e.getMessage.contains(needle), s"$sql → ${e.getMessage}")
    }
    val eCent = intercept[ZxSql.ParseError](ZxSql.runCatalog(
      Map("emb" -> emb, "ix" -> spark.read.parquet(dir)),
      "select knn using ix top 5 query 3 from emb"))
    assert(eCent.getMessage.contains("centroids"))
    // ---- mmr using <index> (p65): same resolution rules, greedy parity
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq.sorted
    val mFace = ZxSql.runCatalog(cat,
      "select mmr using ix top 4 query 3 shortlist 12 probe 2 from emb")
    assert(ranked(mFace) == ranked(Sim.mmrRerankIndexed(
      spark.read.parquet(dir), cents, qv, k = 4, shortlist = 12, nProbe = 2)))
    // probing EVERY cell makes the index shortlist the brute shortlist —
    // the face must then equal the brute mmr exactly
    val mAll = ZxSql.runCatalog(cat,
      "select mmr using ix top 4 query 3 shortlist 12 probe 4 from emb")
    assert(ranked(mAll) == ranked(Sim.mmrRerank(emb, queryId = 3L, k = 4,
      shortlist = 12)))
    // guards: batch probes, probe on the brute face
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select mmr using ix queries 1, 2 from emb"))
    val eP = intercept[ZxSql.ParseError](ZxSql.parse(
      "select mmr top 4 query 3 probe 2 from emb"))
    assert(eP.getMessage.contains("brute-force"))
  }

  test("knn using <pq-index>: ADC probe parity, books round-trip, loud guards (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val spark = SparkFixture.spark
    val Sim = graft.operators.Similarity
    val emb = (0L until 48L).map { i =>
      (i, Array(math.sin(i * 1.3).toFloat, math.cos(i * 0.7).toFloat,
        ((i % 5) / 5.0).toFloat, ((i % 4) / 4.0).toFloat), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cents = Sim.ivfTrain(emb, nlist = 4, iters = 2)
    val books = Sim.ivfPqTrain(emb, cents, m = 2, ksub = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-ix").toString
    Sim.ivfPqWriteIndex(emb, cents, books, dir)
    // books catalog round-trip: the (j, code, centroid) table re-collects
    // to the exact driver-held codebooks (order, codes, values)
    assert(Sim.collectBooks(Sim.booksToDF(spark, books)) ==
      books.map(_.map { case (c, v) => (c, v: Seq[Double]) }))
    val cat = Map("emb" -> emb, "pqix" -> spark.read.parquet(dir),
      "pqix_centroids" -> cents.toDF("cid", "centroid"),
      "pqix_books" -> Sim.booksToDF(spark, books))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getAs[Long]("vec_id")).toSeq
    // face == API probe at the same (k, nProbe, shortlist, query)
    val face = ZxSql.runCatalog(cat,
      "select knn using pqix top 5 query 3 probe 2 shortlist 12 from emb")
    val qv = emb.filter(col("vec_id") === 3L)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .head().getSeq[Double](0).toIndexedSeq
    assert(ids(face) == ids(Sim.ivfPqProbe(spark, dir, cents, books, qv,
      k = 5, nProbe = 2, shortlist = 12)))
    // default books table <index>_books and default shortlist 100
    assert(ids(ZxSql.runCatalog(cat,
      "select knn using pqix top 5 query 3 probe 2 from emb")) ==
      ids(Sim.ivfPqProbe(spark, dir, cents, books, qv, k = 5, nProbe = 2,
        shortlist = 100)))
    // explicit books clause
    val cat2 = cat - "pqix_books" + ("mybooks" -> Sim.booksToDF(spark, books))
    assert(ids(ZxSql.runCatalog(cat2,
      "select knn using pqix books mybooks top 5 query 3 probe 2 shortlist 12 from emb"))
      == ids(face))
    // loud guards: books/shortlist on the brute face or a plain IVF
    // index, missing books table, shortlist < top, wrong books schema
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivf-ix2").toString
    Sim.ivfWriteIndex(emb, cents, ivfDir)
    val catBoth = cat + ("ivfix" -> spark.read.parquet(ivfDir)) +
      ("ivfix_centroids" -> cents.toDF("cid", "centroid"))
    for ((sql, needle) <- Seq(
      ("select knn books mybooks top 5 from emb", "brute-force knn has no index"),
      ("select knn shortlist 20 top 5 from emb", "brute-force knn is already exact"),
      ("select knn using ivfix books pqix_books top 5 query 3 from emb",
        "no PQ codes column"),
      ("select knn using ivfix top 5 query 3 shortlist 20 from emb",
        "no PQ codes column"),
      ("select knn using pqix top 5 query 3 shortlist 2 from emb",
        "shortlist ≥ top"))) {
      val e = intercept[Exception](ZxSql.runCatalog(catBoth, sql))
      assert(e.getMessage.contains(needle), s"$sql → ${e.getMessage}")
    }
    val eBooks = intercept[ZxSql.ParseError](ZxSql.runCatalog(
      cat - "pqix_books", "select knn using pqix top 5 query 3 from emb"))
    assert(eBooks.getMessage.contains("unknown codebook table"))
    val eSchema = intercept[Exception](ZxSql.runCatalog(
      cat + ("pqix_books" -> emb),
      "select knn using pqix top 5 query 3 from emb"))
    assert(eSchema.getMessage.contains("expected columns (j, code, centroid)"))
  }

  test("select distinct + union: composition parity and loud guards (round 13)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val docs = Seq(
      (1L, "a", "en", "src0", 500L), (2L, "b", "en", "src0", 100L),
      (3L, "c", "fr", "src1", 400L), (4L, "d", "en", "src1", 50L),
      (5L, "e", "fr", "src1", 350L), (6L, "f", "en", "src0", 500L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // distinct == DataFrame distinct on the projection
    val d = ZxSql.run(docs, "select distinct lang, source where n_chars > 90")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(d == Set(("en", "src0"), ("fr", "src1")))
    // order/limit compose AFTER the dedup
    val dl = ZxSql.run(docs, "select distinct lang, source order by lang, source limit 2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(dl == Seq(("en", "src0"), ("en", "src1")))
    // union dedups across overlapping gates; union all keeps every row
    val cat = Map("docs" -> docs)
    val u = ZxSql.runCatalog(cat,
      "select doc_id, source from docs where n_chars > 300 " +
        "union select doc_id, source from docs where source = 'src1'")
    assert(u.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 5L, 6L))
    assert(u.count() == 5)
    val ua = ZxSql.runCatalog(cat,
      "select doc_id, source from docs where n_chars > 300 " +
        "union all select doc_id, source from docs where source = 'src1'")
    assert(ua.count() == 7) // (1,3,5,6) + (3,4,5): 3 and 5 kept twice
    // three branches chain; union composes with run(df, …) too
    val u3 = ZxSql.run(docs,
      "select doc_id where doc_id = 1 union select doc_id where doc_id = 2 " +
        "union select doc_id where doc_id = 1")
    assert(u3.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // aggregate branches union too when their output schemas agree —
    // and WITHOUT order by they still take the sorted (per-key totals)
    // path, never the 300 s default windows (the derived-inner rule)
    val ug = ZxSql.runCatalog(cat,
      "select count(*) as n from docs where lang = 'en' group by source " +
        "union all select count(*) as n from docs where lang = 'fr' group by source")
    assert(ug.columns.toSeq == Seq("source", "n") && ug.count() == 3)
    // different group-key names = different schemas — loud
    val eSchema = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "select count(*) as n from docs group by source " +
        "union select count(*) as n from docs group by lang").collect())
    assert(eSchema.getMessage.contains("identical output schemas"))
    // SQL-standard binding: trailing ORDER BY / LIMIT cut the COMPOSED
    // result; a NON-trailing branch ORDER BY/LIMIT is rejected loudly
    // (branches are bags — per-branch top-k spells as a derived table)
    val composed = ZxSql.runCatalog(cat,
      "select doc_id, n_chars from docs where source = 'src0' " +
        "union select doc_id, n_chars from docs where n_chars > 300 " +
        "order by n_chars desc, doc_id limit 3")
      .collect().map(_.getLong(0)).toSeq
    // union = {1,2,6} ∪ {1,3,5,6} = {1,2,3,5,6}; by (n_chars desc, id):
    // 1(500), 6(500), 3(400)
    assert(composed == Seq(1L, 6L, 3L))
    val eOb = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "select doc_id from docs order by doc_id limit 2 " +
        "union select doc_id from docs"))
    assert(eOb.getMessage.contains("derived table"))
    // compound ORDER BY binds output columns only
    val eCol = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "select doc_id from docs union select doc_id from docs order by n_chars"))
    assert(eCol.getMessage.contains("not in the composed output"))
    // per-branch top-k via a derived table, exactly as the error suggests
    val topk = ZxSql.runCatalog(cat,
      "select doc_id from (select doc_id, n_chars from docs " +
        "order by n_chars desc limit 2) " +
        "union select doc_id from docs where doc_id = 4")
    assert(topk.collect().map(_.getLong(0)).toSet == Set(1L, 6L, 4L))
    // except / intersect: SQL-standard DISTINCT set semantics
    val ex = ZxSql.runCatalog(cat,
      "select doc_id from docs where n_chars > 300 " +
        "except select doc_id from docs where source = 'src1'")
    assert(ex.collect().map(_.getLong(0)).toSet == Set(1L, 6L)) // {1,3,5,6} - {3,4,5}
    val ix = ZxSql.runCatalog(cat,
      "select doc_id from docs where n_chars > 300 " +
        "intersect select doc_id from docs where source = 'src1'")
    assert(ix.collect().map(_.getLong(0)).toSet == Set(3L, 5L))
    // mixed operators rejected (any two kinds)
    val eMix = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "select doc_id from docs union select doc_id from docs " +
        "union all select doc_id from docs"))
    assert(eMix.getMessage.contains("do not mix"))
    val eMix2 = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "select doc_id from docs union select doc_id from docs " +
        "except select doc_id from docs"))
    assert(eMix2.getMessage.contains("do not mix"))
    // distinct guards: aggregates / joins / group by
    assertThrows[ZxSql.ParseError](ZxSql.parse("select distinct count(*) as n"))
    assertThrows[ZxSql.ParseError](ZxSql.parse(
      "select distinct lang group by lang"))
    // streaming rejections: distinct and union are bounded shapes
    val sdir = java.nio.file.Files.createTempDirectory("graft-du-st").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val eD = intercept[ZxSql.ParseError](ZxSql.runStream(st, "select distinct lang"))
    assert(eD.getMessage.contains("streaming"))
    val eU = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "select doc_id union select doc_id"))
    assert(eU.getMessage.contains("BOUNDED"))
    // …and the JSON-result streaming face rejects compounds with the
    // same words, not a generic trailing-input error
    val eJ = intercept[ZxSql.ParseError](ZxSql.runStreamJson(st,
      "select count(*) group by lang union select count(*) group by lang")(_ => ()))
    assert(eJ.getMessage.contains("BOUNDED"))
  }

  test("with (CTEs): chaining, shadowing, routing, and loud guards (round 13)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val docs = Seq(
      (1L, "a", "en", "src0", 500L), (2L, "b", "en", "src0", 100L),
      (3L, "c", "fr", "src1", 400L), (4L, "d", "en", "src1", 50L),
      (5L, "e", "fr", "src1", 350L), (6L, "f", "en", "src0", 500L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cat = Map("docs" -> docs)
    // a CTE body is a FULL statement — set ops inside, which a derived
    // table cannot spell; the main statement reads it by name
    val u = ZxSql.runCatalog(cat,
      "with merged as (select doc_id, source from docs where n_chars > 300 " +
        "union select doc_id, source from docs where source = 'src1') " +
        "select doc_id from merged where doc_id != 4 order by doc_id")
    assert(u.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L, 6L))
    // chaining: a later CTE reads an earlier one; an aggregate CTE body
    // with NO order by takes the per-key-totals path (the derived-inner
    // rule) — its frame must NOT grow w_start/w_end window columns
    val agg = ZxSql.runCatalog(cat,
      "with en as (select doc_id, source, n_chars from docs where lang = 'en'), " +
        "per_src as (select count(*) as n from en group by source) " +
        "select source, n from per_src order by source")
    assert(agg.columns.toSeq == Seq("source", "n"))
    assert(agg.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("src0", 3.0), ("src1", 1.0)))
    // one CTE, referenced twice in one statement (scan + membership
    // subquery) — plan-subtree reuse, no materialization, same frame
    val twice = ZxSql.runCatalog(cat,
      "with big as (select doc_id, n_chars from docs where n_chars > 300) " +
        "select doc_id from big where doc_id in " +
        "(select doc_id from big where n_chars > 450) order by doc_id")
    assert(twice.collect().map(_.getLong(0)).toSeq == Seq(1L, 6L))
    // SQL-standard shadowing: a CTE may shadow a catalog table; its own
    // body still reads the CATALOG frame (non-recursive WITH — the name
    // binds only for LATER bodies and the main statement)
    val sh = ZxSql.runCatalog(cat,
      "with docs as (select doc_id from docs where doc_id = 2) " +
        "select doc_id from docs")
    assert(sh.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the main statement may itself be compound over CTE + catalog frames
    val cmp = ZxSql.runCatalog(cat,
      "with src1 as (select doc_id from docs where source = 'src1') " +
        "select doc_id from docs where n_chars > 300 " +
        "except select doc_id from src1 order by doc_id")
    assert(cmp.collect().map(_.getLong(0)).toSeq == Seq(1L, 6L))
    // loud guards: duplicate names; unknown FROM lists the CTE names;
    // malformed prefix; run(df, …) and both stream faces reject by name
    val eDup = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "with a as (select doc_id from docs), a as (select doc_id from docs) " +
        "select doc_id from a"))
    assert(eDup.getMessage.contains("duplicate CTE name"))
    val eUnk = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "with a as (select doc_id from docs) select doc_id from nope"))
    assert(eUnk.getMessage.contains("catalog has: a, docs"))
    val eParen = intercept[ZxSql.ParseError](ZxSql.runCatalog(cat,
      "with a as select doc_id from docs select doc_id from a"))
    assert(eParen.getMessage.contains("expected '('"))
    val eRun = intercept[ZxSql.ParseError](ZxSql.run(docs,
      "with a as (select doc_id from docs) select doc_id from a"))
    assert(eRun.getMessage.contains("runCatalog"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-cte-st").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val eSt = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "with a as (select doc_id from docs) select doc_id from a"))
    assert(eSt.getMessage.contains("foreachBatch"))
    val eJ = intercept[ZxSql.ParseError](ZxSql.runStreamJson(st,
      "with a as (select doc_id from docs) select count(*) from a")(_ => ()))
    assert(eJ.getMessage.contains("foreachBatch"))
  }

  test("window functions + qualify: ranks, offsets, and loud guards (round 13)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val docs = Seq(
      (1L, "en", "src0", 500L), (2L, "en", "src0", 100L),
      (3L, "fr", "src1", 400L), (4L, "en", "src1", 50L),
      (5L, "fr", "src1", 350L), (6L, "en", "src0", 500L)).toSeq
      .toDF("doc_id", "lang", "source", "n_chars")
    // dedup-keep-best: row_number + qualify rn = 1, doc_id tiebreak makes
    // the cut total (6 ties 1 on n_chars; lower doc_id wins)
    val best = ZxSql.run(docs,
      "select doc_id, lang, source, " +
        "row_number() over (partition by lang, source " +
        "order by n_chars desc, doc_id) as rn " +
        "qualify rn = 1 order by lang, source")
    assert(best.columns.toSeq == Seq("doc_id", "lang", "source", "rn"))
    assert(best.collect().map(r => (r.getLong(0), r.getInt(3))).toSeq ==
      Seq((1L, 1), (4L, 1), (3L, 1)))
    // rank vs dense_rank on ties; WHERE gates BEFORE the window (rank
    // re-packs over survivors)
    val rk = ZxSql.run(docs,
      "select doc_id, rank() over (partition by lang order by n_chars desc) as r, " +
        "dense_rank() over (partition by lang order by n_chars desc) as dr " +
        "where source = 'src0' order by doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(rk.toSeq == Seq((1L, 1, 1), (2L, 3, 2), (6L, 1, 1)))
    // lag/lead with explicit offset; partition edges are NULL
    val ll = ZxSql.run(docs,
      "select doc_id, lag(n_chars) over (partition by lang order by doc_id) as prev, " +
        "lead(n_chars, 2) over (partition by lang order by doc_id) as nxt " +
        "order by doc_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // en by doc_id: 1,2,4,6 — lag: null,500,100,50; lead2: 50,500,-,-
    assert(ll.toSeq == Seq((1L, -1L, 50L), (2L, 500L, 500L), (3L, -1L, -1L),
      (4L, 100L, -1L), (5L, 400L, -1L), (6L, 50L, -1L)))
    // qualify composes over raw columns too; select-list order preserved
    // with window items interleaved
    val mix = ZxSql.run(docs,
      "select lang, row_number() over (partition by lang " +
        "order by n_chars desc, doc_id) as rn, doc_id " +
        "qualify rn <= 2 and lang = 'en' order by rn, doc_id")
    assert(mix.columns.toSeq == Seq("lang", "rn", "doc_id"))
    assert(mix.collect().map(_.getLong(2)).toSeq == Seq(1L, 6L))
    // loud guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(docs, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select doc_id, row_number() over (order by doc_id) as rn",
      "partition by")
    bad("select doc_id, row_number() over (partition by lang) as rn",
      "order by")
    bad("select doc_id, row_number() over (partition by lang order by doc_id)",
      "as <name>")
    bad("select count(*) as n, row_number() over (partition by lang " +
      "order by doc_id) as rn group by lang", "RAW frame")
    bad("select doc_id, rank(n_chars) over (partition by lang " +
      "order by doc_id) as r", "takes no arguments")
    bad("select doc_id, lag(n_chars, 0) over (partition by lang " +
      "order by doc_id) as p", "offset must be")
    bad("select doc_id qualify doc_id = 1", "use where")
    bad("select distinct lang, row_number() over (partition by lang " +
      "order by lang) as rn", "do not mix")
    bad("select doc_id, row_number() over (partition by lang " +
      "order by doc_id) as rn order by n_chars", "not in")
    // streaming rejection by name
    val sdir = java.nio.file.Files.createTempDirectory("graft-win-st").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val eSt = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "select doc_id, row_number() over (partition by lang order by doc_id) as rn"))
    assert(eSt.getMessage.contains("BOUNDED"))
  }

  test("composite-key asof/trailing joins: struct-key parity and guards (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val spark = SparkFixture.spark
    // left: (id, key-pair, time); right: versioned values per key-pair
    val left = Seq(
      (1L, 10L, "a", 100L), (2L, 10L, "b", 100L), (3L, 10L, "a", 250L),
      (4L, 20L, "a", 150L), (5L, 99L, "z", 500L)).toSeq
      .toDF("event_id", "uid", "dev", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val right = Seq(
      (10L, "a", 50L, 1.0), (10L, "a", 200L, 2.0), (10L, "b", 120L, 3.0),
      (20L, "a", 150L, 4.0), (20L, "a", 150L, 5.0)).toSeq // (20,a,150) dup: max wins
      .toDF("r_uid", "r_dev", "r_ts", "r_val")
    val asof = ZxSql.run(left,
      "select event_id, uid, dev, ts_sec " +
        "asof join marks on uid = r_uid and dev = r_dev at ts_sec >= r_ts " +
        "carry r_val",
      tables = Map("marks" -> right))
      .collect().map(r => r.getLong(0) -> Option(r.get(4))).toMap
    // 1: (10,a)@100 → v@50 = 1.0; 2: (10,b)@100 → none (120 > 100); 3:
    // (10,a)@250 → v@200 = 2.0; 4: (20,a)@150 → dup instant, max = 5.0;
    // 5: (99,z) → no key
    assert(asof == Map(1L -> Some(1.0), 2L -> None, 3L -> Some(2.0),
      4L -> Some(5.0), 5L -> None))
    assert(!asof.keySet.exists(_ => false)) // schema: no __ckl leak
    val trail = ZxSql.run(left,
      "select event_id, uid, dev, ts_sec " +
        "trailing join marks on uid = r_uid and dev = r_dev at ts_sec >= r_ts " +
        "within 100 agg sum(r_val), count(r_val)",
      tables = Map("marks" -> right))
    assert(!trail.columns.contains("__ckl"))
    val tm = trail.collect().map(r =>
      r.getLong(0) -> (Option(r.getAs[Any]("sum_r_val")), r.getAs[Long]("count_r_val"))).toMap
    // window [t-100, t]: 1 → v@50 only (1.0); 3 → v@200 (2.0); 4 → both
    // dup-instant versions (4+5=9); 2 and 5 → none
    assert(tm(1L) == (Some(1.0), 1L) && tm(3L) == (Some(2.0), 1L))
    assert(tm(4L) == (Some(9.0), 2L) && tm(2L)._2 == 0L && tm(5L)._2 == 0L)
    // every join key must be selected
    val eSel = intercept[ZxSql.ParseError](ZxSql.parse(
      "select event_id, uid, ts_sec asof join marks on uid = r_uid and " +
        "dev = r_dev at ts_sec >= r_ts carry r_val"))
    assert(eSel.getMessage.contains("every join key"))
    // composite asof STREAMS (round 14; was batch-only): the struct-keyed
    // broadcast probe is stateless, so the streamed result must equal the
    // batch result row for row
    val sdir = java.nio.file.Files.createTempDirectory("graft-casof-st").toString
    left.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(left.schema).parquet(sdir)
    val outSt = ZxSql.runStream(st,
      "select event_id, uid, dev, ts_sec asof join marks on uid = r_uid " +
        "and dev = r_dev at ts_sec >= r_ts carry r_val",
      tables = Map("marks" -> right))
    val q = outSt.writeStream.format("memory").queryName("casof_st").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("casof_st").collect()
      .map(r => r.getLong(0) -> Option(r.get(4))).toMap
    assert(streamed == asof, "stream/batch composite-asof divergence")
    // a null key COMPONENT matches nothing on the streamed probe too
    val nullLeft = Seq((9L, Option.empty[java.lang.Long], Option("a"), Option(300L)))
      .toDF("event_id", "uid", "dev", "ts_sec")
    val nb = ZxSql.run(nullLeft,
      "select event_id, uid, dev, ts_sec asof join marks on uid = r_uid " +
        "and dev = r_dev at ts_sec >= r_ts carry r_val",
      tables = Map("marks" -> right)).collect().head
    assert(nb.isNullAt(4), "null key component must match nothing")
  }

  test("right/full outer equi-join faces: reconciliation shape and guards (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val spark = SparkFixture.spark
    // fact has key 3 the dim lacks; dim has key 4 the fact lacks
    val fact = Seq((1L, 1L, 5.0), (2L, 2L, 7.0), (3L, 3L, 9.0)).toSeq
      .toDF("fid", "k", "v")
      .withColumn("ts", timestamp_seconds(col("fid")))
    val dim = Seq((1L, "x"), (2L, "y"), (4L, "y")).toSeq.toDF("dk", "seg")
    val cat = Map("dim" -> dim)
    def agg(sql: String): Map[String, (Double, Double)] =
      ZxSql.run(fact, sql, tables = cat).collect()
        .map(r => r.getString(0) -> (r.getAs[Double]("n"), r.getAs[Double]("s"))).toMap
    // full: unmatched fact row → __nil segment; unmatched dim row counts
    // with zero value contribution
    val full = agg("select count(*) as n, sum(v) as s " +
      "full join dim on k = dk group by seg")
    assert(full == Map("x" -> (1.0, 5.0), "y" -> (2.0, 7.0), "__nil" -> (1.0, 9.0)))
    // right: unmatched FACT rows drop, unmatched dim rows stay
    val right = agg("select count(*) as n, sum(v) as s " +
      "right join dim on k = dk group by seg")
    assert(right == Map("x" -> (1.0, 5.0), "y" -> (2.0, 7.0)))
    // left (pre-existing): unmatched dim rows drop
    val lft = agg("select count(*) as n, sum(v) as s " +
      "left join dim on k = dk group by seg")
    assert(lft == Map("x" -> (1.0, 5.0), "y" -> (1.0, 7.0), "__nil" -> (1.0, 9.0)))
    // guards: derived right side takes inner/left only; streaming rejects
    val eDer = intercept[ZxSql.ParseError](ZxSql.parse(
      "select count(*) as n full join (select mean(v) as m from f group by dk) on k = dk group by k"))
    assert(eDer.getMessage.contains("derived join side"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-fo-st").toString
    fact.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(fact.schema).parquet(sdir)
    val eSt = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "select count(*) as n full join dim on k = dk group by seg slide 60",
      tables = cat))
    assert(eSt.getMessage.contains("unsupported by Structured Streaming"))
  }

  test("sample exact: nested deterministic cuts, face parity, guards (round 13)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val docs = (0L until 60L).map(i =>
      (i, s"text $i", if (i % 3 == 0) "zh" else "en", s"src${i % 2}", i * 7L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    val five = ids(ZxSql.run(docs, "select sample exact 5"))
    val ten = ids(ZxSql.run(docs, "select sample exact 10"))
    assert(five.size == 5 && ten.size == 10 && five.subsetOf(ten),
      s"exact cuts must nest: $five vs $ten")
    // face == API; the gate applies BEFORE the cut; text stays pruned
    val gated = ZxSql.run(docs, "select sample exact 8 where lang = 'en'")
    assert(ids(gated) == ids(graft.operators.Corpus.sampleExactN(
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en"),
      "doc_id", 8)))
    assert(!gated.columns.contains("text"))
    // rerun-stable under any partitioning
    assert(ids(ZxSql.run(docs.repartition(7), "select sample exact 10")) == ten)
    // guards + streaming rejection (a global rank needs a bounded frame)
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample exact 0"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select sample exact 99999999"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-sex-st").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val e = intercept[ZxSql.ParseError](ZxSql.runStream(st, "select sample exact 5"))
    assert(e.getMessage.contains("GLOBAL rank"))
  }

  test("expression projections: raw-path arithmetic, composition, guards (round 13)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val rows = Seq(
      (1L, "a", 10.0, 0.1, 2.0), (2L, "a", 20.0, 0.5, 4.0),
      (3L, "b", 30.0, 0.0, 0.0), (4L, "b", 40.0, 0.25, 8.0)).toSeq
      .toDF("id", "k", "price", "disc", "qty")
    // values: same IEEE arithmetic as a hand-built projection; division
    // by zero is NULL (try_divide), never an error
    val net = ZxSql.run(rows,
      "select id, price * (1 - disc) as net, price / qty as unit order by id")
    assert(net.columns.toSeq == Seq("id", "net", "unit"))
    val got = net.collect().map(r => (r.getLong(0), r.getDouble(1),
      if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 10.0 * 0.9, 5.0), (2L, 10.0, 5.0),
      (3L, 30.0, -1.0), (4L, 30.0, 5.0)))
    // ORDER BY binds the alias; WHERE gates before; LIMIT composes
    val top = ZxSql.run(rows,
      "select id, price * (1 - disc) as net where qty > 1 " +
        "order by net desc, id limit 2").collect().map(_.getLong(0))
    assert(top.toSeq == Seq(4L, 2L))
    // distinct composes over the computed projection
    val d = ZxSql.run(rows, "select distinct k, price / price as one order by k")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(d.toSeq == Seq(("a", 1.0), ("b", 1.0)))
    // windows partition/order over a computed column; qualify sees it
    val w = ZxSql.run(rows,
      "select k, id, price * (1 - disc) as net, " +
        "row_number() over (partition by k order by net desc, id) as rn " +
        "qualify rn = 1 order by k").collect().map(_.getLong(1))
    // partition b ties at net = 30.0 (30 × 1.0 vs 40 × 0.75) — the id
    // tiebreak makes the keep deterministic
    assert(w.toSeq == Seq(2L, 3L))
    // streaming: a computed projection is stateless and streams
    val sdir = java.nio.file.Files.createTempDirectory("graft-exprproj").toString
    rows.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(rows.schema).parquet(sdir)
    val outDf = ZxSql.runStream(st, "select id, price * 2 as dbl")
    val qx = outDf.writeStream.format("memory").queryName("exprproj_st")
      .outputMode("append").start()
    qx.processAllAvailable(); qx.stop()
    val stGot = spark.sql("select * from exprproj_st").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(stGot.toSeq == Seq((1L, 20.0), (2L, 40.0), (3L, 60.0), (4L, 80.0)))
    // loud guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select id, price * 2", "as <name>")
    bad("select price * 2 as x, sum(qty) as s group by k", "INSIDE the aggregate")
    bad("select price * 2 as id, id", "duplicate output column")
    bad("select price * 2 as __x", "engine-internal prefix")
  }

  test("semi/anti joins: composite keys, derived sides, composition, guards (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val spark = SparkFixture.spark
    val facts = Seq(
      (1L, "a", "x", 10.0), (2L, "a", "y", 20.0), (3L, "b", "x", 30.0),
      (4L, "b", "y", 40.0), (5L, null.asInstanceOf[String], "x", 50.0)).toSeq
      .toDF("id", "k1", "k2", "v")
      .withColumn("ts", timestamp_seconds(col("id")))
    val keys = Seq(("a", "x"), ("b", "y"), (null.asInstanceOf[String], "x")).toSeq
      .toDF("r1", "r2")
    val tabs = Map("keys" -> keys, "facts" -> facts)
    def ids(sql: String): Seq[Long] =
      ZxSql.run(facts, sql, tables = tabs).collect().map(_.getAs[Long]("id")).sorted.toSeq
    // composite-key semi: EXISTS null semantics — the null-keyed fact row
    // NEVER matches (dropped), even though the key set has a null pair
    assert(ids("select id, v from facts semi join keys on k1 = r1 and k2 = r2") ==
      Seq(1L, 4L))
    // anti keeps the null-keyed row (no match found — NOT EXISTS, not NOT IN)
    assert(ids("select id, v from facts anti join keys on k1 = r1 and k2 = r2") ==
      Seq(2L, 3L, 5L))
    // derived right side with its own gate; single key
    assert(ids("select id, v from facts semi join " +
      "(select r1 from keys where r2 = 'y') on k1 = r1") == Seq(3L, 4L))
    // composes with aggregates (the filter applies BEFORE the group)
    val agg = ZxSql.run(facts,
      "select sum(v) as s from facts semi join keys on k1 = r1 and k2 = r2 " +
        "group by k1 order by s desc", tables = tabs)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(agg.toSeq == Seq(("b", 40.0), ("a", 10.0)))
    // composes with distinct and with window functions
    assert(ZxSql.run(facts, "select distinct k2 from facts " +
      "semi join keys on k1 = r1 and k2 = r2", tables = tabs)
      .collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
    val win = ZxSql.run(facts,
      "select id, row_number() over (partition by k2 order by v desc, id) as rn " +
        "from facts anti join keys on k1 = r1 and k2 = r2 qualify rn = 1 " +
        "order by id", tables = tabs)
    assert(win.collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
    // streaming: stream-static semi/anti is stateless and streams
    val sdir = java.nio.file.Files.createTempDirectory("graft-fj-st").toString
    facts.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(facts.schema).parquet(sdir)
    val outDf = ZxSql.runStream(st,
      "select id, v from facts anti join keys on k1 = r1 and k2 = r2",
      tables = tabs)
    val qx = outDf.writeStream.format("memory").queryName("fj_st")
      .outputMode("append").start()
    qx.processAllAvailable(); qx.stop()
    assert(spark.sql("select id from fj_st").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(2L, 3L, 5L))
    // loud guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](
        ZxSql.run(facts, sql, tables = tabs).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select id from facts semi join nope on k1 = r1", "unknown join table")
    bad("select id from facts semi join (select count(r1) as c from keys) " +
      "on k1 = c", "bare ON")
    bad("select id from facts semi join (select r1 from keys order by r1) " +
      "on k1 = r1", "scan/filter")
    bad("select id from facts semi join (select r2 from keys) on k1 = r1",
      "must select ON key")
    // a streaming right side is rejected with words
    val eSt = intercept[ZxSql.ParseError](ZxSql.runStream(st,
      "select id from facts semi join facts2 on k1 = r1",
      tables = tabs + ("facts2" -> st)))
    assert(eSt.getMessage.contains("STATIC key set"))
  }

  test("aggregate/navigation window functions: running, totals, ntile, guards (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 5.0), (5L, "b", 15.0)).toSeq.toDF("id", "k", "v")
    // running sum (ordered = SQL default RANGE frame) next to the
    // whole-partition total (unordered) — same partition list
    val r = ZxSql.run(rows,
      "select id, sum(v) over (partition by k order by id) as running, " +
        "sum(v) over (partition by k) as total, " +
        "count(*) over (partition by k) as n, " +
        "mean(v) over (partition by k) as m order by id")
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2),
        x.getLong(3), x.getDouble(4)))
    assert(r.toSeq == Seq(
      (1L, 10.0, 60.0, 3L, 20.0), (2L, 30.0, 60.0, 3L, 20.0),
      (3L, 60.0, 60.0, 3L, 20.0), (4L, 5.0, 20.0, 2L, 10.0),
      (5L, 20.0, 20.0, 2L, 10.0)))
    // RANGE-frame tie semantics: peers aggregate together (SQL default)
    val ties = ZxSql.run(Seq((1L, "a", 7.0), (2L, "a", 8.0)).toSeq
        .toDF("id", "k", "v").withColumn("o", org.apache.spark.sql.functions.lit(0)),
      "select id, sum(v) over (partition by k order by o) as s order by id")
      .collect().map(_.getDouble(1))
    assert(ties.toSeq == Seq(15.0, 15.0))
    // first/last/ntile; last_value reads the FULL partition frame
    val nav = ZxSql.run(rows,
      "select id, first_value(v) over (partition by k order by id) as f, " +
        "last_value(v) over (partition by k order by id) as l, " +
        "ntile(2) over (partition by k order by id) as t order by id")
      .collect().map(x => (x.getDouble(1), x.getDouble(2), x.getInt(3)))
    assert(nav.toSeq == Seq((10.0, 30.0, 1), (10.0, 30.0, 1), (10.0, 30.0, 2),
      (5.0, 15.0, 1), (5.0, 15.0, 2)))
    // count(*) parity with count(col) on non-null data; min/max windows
    val mm = ZxSql.run(rows,
      "select id, min(v) over (partition by k) as lo, " +
        "max(v) over (partition by k) as hi, " +
        "count(v) over (partition by k) as c order by id limit 1")
      .collect().map(x => (x.getDouble(1), x.getDouble(2), x.getLong(3)))
    assert(mm.toSeq == Seq((10.0, 30.0, 3L)))
    // qualify composes over aggregate windows (rows above partition mean)
    // — the expression-predicate form: a bare `v > m` would keep the
    // reference's string-literal RHS semantics
    val q = ZxSql.run(rows,
      "select id, v, mean(v) over (partition by k) as m " +
        "qualify v - m > 0 order by id").collect().map(_.getLong(0))
    assert(q.toSeq == Seq(3L, 5L))
    // the GROUPED aggregate stays the grouped aggregate: sum(v) without
    // `over` still routes to the aggregation paths
    val g = ZxSql.run(rows.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.col("id"))),
      "select sum(v) as s group by k order by s desc")
      .collect().map(_.getDouble(1))
    assert(g.toSeq == Seq(60.0, 20.0))
    // loud guards: order-sensitive functions still demand order by
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select id, first_value(v) over (partition by k) as f", "order by")
    bad("select id, ntile(2) over (partition by k) as t", "order by")
    bad("select id, ntile(0) over (partition by k order by id) as t",
      "≥ 1 buckets")
    bad("select id, sum(v) over (order by id) as s", "partition by")
  }

  test("scalar functions: projections, predicates, inside aggregates, guards (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(
      (1L, "ab", -4.0, 2.0), (2L, "abc", 9.0, 3.0),
      (3L, "abcd", -16.0, 4.0), (4L, "x", 100.0, 0.5)).toSeq
      .toDF("id", "s", "v", "w")
    // projections: every function, hand-checked values
    val p = ZxSql.run(rows,
      "select id, abs(v) as av, sqrt(abs(v)) as sq, round(v / 3, 2) as r, " +
        "pow(w, 2) as p2, floor(w) as fl, ceil(w) as ce, length(s) as n " +
        "order by id")
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4), x.getDouble(5), x.getDouble(6),
        x.getLong(7)))
    assert(p.toSeq == Seq(
      (1L, 4.0, 2.0, -1.33, 4.0, 2.0, 2.0, 2L),
      (2L, 9.0, 3.0, 3.0, 9.0, 3.0, 3.0, 3L),
      (3L, 16.0, 4.0, -5.33, 16.0, 4.0, 4.0, 4L),
      (4L, 100.0, 10.0, 33.33, 0.25, 0.0, 1.0, 1L)))
    // ln/exp/log10 round-trips
    val le = ZxSql.run(rows,
      "select id, round(exp(ln(abs(v))), 6) as rt, log10(abs(v)) as lg " +
        "where id = 4").collect().head
    assert(le.getDouble(1) == 100.0 && le.getDouble(2) == 2.0)
    // WHERE/QUALIFY expression predicates with functions
    assert(ZxSql.run(rows, "select id where abs(v) - 10 > 0 order by id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
    assert(ZxSql.run(rows,
      "select id where length(s) >= 3 and length(s) <= 4 order by id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // group keys are COLUMNS — `group by length(s)` is a loud parse error
    assertThrows[ZxSql.ParseError](ZxSql.run(rows,
      "select sum(abs(v)) as s group by length(s) order by s desc"))
    // inside aggregates: sum/mean over function measures
    val ag2 = ZxSql.run(rows.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.col("id"))),
      "select sum(abs(v)) as s, mean(pow(w, 2)) as m order by s desc")
      .collect().head
    assert(ag2.getDouble(0) == 129.0 && ag2.getDouble(1) == (4.0 + 9.0 + 16.0 + 0.25) / 4)
    // loud guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select id, abs(v)", "as <name>")
    bad("select abs(v, 2) as a", "argument")
    bad("select round(v, w) as r", "integer literal")
    bad("select length(v + 1) as n", "string column")
    bad("select sum(v) * abs(v) as x", "INSIDE the aggregate")
  }

  test("case expression projections label rows on the raw path (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, 500L), (2L, 300L), (3L, 100L), (4L, 201L)).toSeq
      .toDF("id", "n")
    val r = ZxSql.run(rows,
      "select id, case when n > 400 then 2 when n > 200 then 1 else 0 end " +
        "as cls order by id")
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.toSeq == Seq((1L, 2.0), (2L, 1.0), (3L, 0.0), (4L, 1.0)))
    // no else → NULL; arithmetic composes around the case atom
    val r2 = ZxSql.run(rows,
      "select id, case when n > 400 then 1 end * 10 as flag10 order by id")
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) -1.0 else x.getDouble(1)))
    assert(r2.toSeq == Seq((1L, 10.0), (2L, -1.0), (3L, -1.0), (4L, -1.0)))
    // alias still required
    val e = intercept[ZxSql.ParseError](ZxSql.run(rows,
      "select id, case when n > 400 then 2 else 0 end"))
    assert(e.getMessage.contains("as <name>"))
  }

  test("string functions: projections, equality gates, case labels, guards (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(
      (1L, "EN", " src0 ", 500L), (2L, "en", "src11", 100L),
      (3L, "Fr", "src2", 300L)).toSeq.toDF("id", "lang", "src", "n")
    // lower/upper/trim/substr as projections; substr is 1-based
    val p = ZxSql.run(rows,
      "select id, lower(lang) as lo, upper(lang) as up, trim(src) as t, " +
        "substr(src, 2, 3) as mid order by id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getString(3), x.getString(4)))
    assert(p.toSeq == Seq((1L, "en", "EN", "src0", "src"),
      (2L, "en", "EN", "src11", "rc1"), (3L, "fr", "FR", "src2", "rc2")))
    // the case-insensitive gate; nesting composes (trim then lower)
    assert(ZxSql.run(rows, "select id where lower(lang) = 'en' order by id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(ZxSql.run(rows, "select id where lower(trim(src)) != 'src0' order by id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // string CASE labels; qualify/where over the label by equality
    val lbl = ZxSql.run(rows,
      "select id, case when n > 400 then 'long' else 'short' end as b order by id")
      .collect().map(_.getString(1))
    assert(lbl.toSeq == Seq("long", "short", "short"))
    // loud guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select id, lower(lang) + 1 as x", "do not enter arithmetic")
    bad("select id where lower(lang) > 'en'", "= / != only")
    bad("select sum(lower(lang)) as s", "numeric measure")
    bad("select id, lower(n + 1) as x", "string column or string expression")
    bad("select id, substr(src, 0, 2) as x", "1-based")
    bad("select id, substr(src, 1, n) as x", "integer literals")
    bad("select id, case when n > 1 then 'a' else 0 end as x", "mix string")
    bad("select id, sqrt(lower(lang)) as x", "numeric arguments")
  }

  test("dispersion aggregates, calendar extractors, null scalars (round 13)") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.{col => c, timestamp_seconds}
    val rows = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 4.0),
      (4L, "b", 7.0)).toSeq.toDF("id", "k", "v")
    // stddev/variance: SAMPLE forms; a singleton group is NULL (both
    // engines agree — the retired legacy behavior was NaN)
    val d = ZxSql.run(rows, "select stddev(v) as sd, variance(v) as vr " +
        "group by k order by sd desc")
      .collect().map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(math.round(x.getDouble(1) * 1e6) / 1e6),
        if (x.isNullAt(2)) None else Some(math.round(x.getDouble(2) * 1e6) / 1e6)))
    assert(d.toSeq == Seq(("a", Some(1.527525), Some(2.333333)),
      ("b", None, None)))
    // over an expression measure too
    val d2 = ZxSql.run(rows,
      "select variance(v * 2) as vr where k = 'a' order by vr desc")
      .collect().head.getDouble(0)
    assert(math.abs(d2 - 4 * 7.0 / 3) < 1e-9)
    // NOT salt-decomposable — rejected loudly like count_distinct
    val se = intercept[IllegalArgumentException](ZxSql.run(rows,
      "select stddev(v) as sd group by k order by sd desc salt 4").collect())
    assert(se.getMessage.contains("decomposable"))
    // NOT in the exact gap walk's aggregate set
    val ge = intercept[IllegalArgumentException](ZxSql.run(
      rows.withColumn("ts", timestamp_seconds(c("id"))),
      "select stddev(v) group by k granularity 10 exact").collect())
    assert(ge.getMessage.contains("unsupported agg"))

    // calendar extractors: 2024-01-05 13:45:31 UTC = epoch 1704462331
    val tsRows = Seq((1L, 1704462331L, 9.0)).toDF("id", "sec", "v")
      .withColumn("ts", timestamp_seconds(c("sec"))).drop("sec")
    val cal = ZxSql.run(tsRows,
      "select id, year(ts) as y, month(ts) as mo, day(ts) as d, " +
        "hour(ts) as h, minute(ts) as mi")
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).head
    assert(cal == ((2024L, 1L, 5L, 13L, 45L)))
    // fields are LONG → they enter arithmetic and predicates
    assert(ZxSql.run(tsRows, "select id where hour(ts) * 60 + minute(ts) > 820")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the argument must be a bare column — a computed timestamp has no
    // meaning in the measure grammar
    val te = intercept[ZxSql.ParseError](ZxSql.run(tsRows,
      "select id, year(v + 1) as y"))
    assert(te.getMessage.contains("timestamp (or date) column"))

    // null scalars: nullif manufactures NULL, coalesce pads it back,
    // greatest/least SKIP nulls (null only when all args are null)
    val ns = ZxSql.run(rows,
      "select id, nullif(v, 2) as nz, coalesce(nullif(v, 2), -1) as pad, " +
        "greatest(v, 3) as g, least(v, 3) as l order by id")
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) -99.0 else x.getDouble(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4)))
    assert(ns.toSeq == Seq((1L, 1.0, 1.0, 3.0, 1.0), (2L, -99.0, -1.0, 3.0, 2.0),
      (3L, 4.0, 4.0, 4.0, 3.0), (4L, 7.0, 7.0, 7.0, 3.0)))
    // greatest over a manufactured NULL skips it: greatest(nullif(2,2), v)
    // is v on row 2, not NULL
    val g2 = ZxSql.run(rows, "select id, greatest(nullif(v, 2), 0) as g " +
        "where id = 2").collect().head
    assert(g2.getDouble(1) == 0.0)
    // arity guards
    val ae = intercept[ZxSql.ParseError](ZxSql.run(rows,
      "select id, nullif(v) as x"))
    assert(ae.getMessage.contains("argument"))
    val ce2 = intercept[ZxSql.ParseError](ZxSql.run(rows,
      "select id, coalesce(v, 1, 2, 3, 4) as x"))
    assert(ce2.getMessage.contains("argument"))
  }

  test("explode generator: semantics, edges, guards (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, "a,b"), (2L, "c"), (3L, null: String), (4L, ""),
      (5L, "d,")).toSeq.toDF("id", "tag")
    // one row per element; NULL → zero rows; '' → one '' row; trailing
    // separator keeps the trailing '' (string_split parity)
    val r = ZxSql.run(rows, "select id, explode(tag, ',') as t order by id")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.toSeq == Seq((1L, "a"), (1L, "b"), (2L, "c"), (4L, ""),
      (5L, "d"), (5L, "")))
    // the separator is LITERAL, not a regex — '.' splits on dots only
    val dot = ZxSql.run(Seq((1L, "a.b")).toDF("id", "tag"),
      "select explode(tag, '.') as t order by t")
      .collect().map(_.getString(0))
    assert(dot.toSeq == Seq("a", "b"))
    // distinct composes after the explode (dedup elements)
    val d = ZxSql.run(rows, "select distinct explode(tag, ',') as t order by t")
      .collect().map(_.getString(0))
    assert(d.toSeq == Seq("", "a", "b", "c", "d"))
    // aggregation over a derived exploded table (the word-count shape)
    val wc = ZxSql.run(rows,
      "select count(*) as n from (select explode(tag, ',') as t) " +
        "group by t order by n desc limit 2")
      .collect().map(x => (x.getString(0), x.getDouble(1)))
    assert(wc.toSeq == Seq(("", 2.0), ("a", 1.0)))
    // guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select explode(tag, ',') as t, count(*) as n", "RAW frame")
    bad("select id, explode(tag, ',') as t, explode(tag, ',') as u",
      "one explode")
    bad("select explode(tag, ',') as t where t != ''", "cannot see")
    bad("select explode(tag, ',') as tag", "shadows")
    bad("select explode(tag, '') as t", "non-empty literal separator")
    bad("select explode(tag, ',') as t group by t", "derived exploded table")
    bad("select explode(tag, ',')", "as <name>")
  }

  test("json extraction and rows frames and sample per: guards (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, """{"k": 7, "s": "x"}""", 2.0),
      (2L, """{"s": "y"}""", 5.0), (3L, "not json", 1.0))
      .toSeq.toDF("id", "props", "v")
    // json_num: missing key → NULL, malformed → NULL (documented
    // divergence: DuckDB errors on malformed; our contract is
    // dirty-data-degrades); json_str strips quotes
    val j = ZxSql.run(rows,
      "select id, json_num(props, 'k') as k, json_str(props, 's') as s " +
        "order by id")
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) -1.0 else x.getDouble(1),
        if (x.isNullAt(2)) "∅" else x.getString(2)))
    assert(j.toSeq == Seq((1L, 7.0, "x"), (2L, -1.0, "y"), (3L, -1.0, "∅")))
    // json_num gates and aggregates; json_str counts distinct
    assert(ZxSql.run(rows, "select id where json_num(props, 'k') > 5")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    val cd = ZxSql.run(rows,
      "select count_distinct(json_str(props, 's')) as ds order by ds desc")
      .collect().head.getLong(0)
    assert(cd == 3L) // x, y + the +1-nil bucket for the malformed row
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select id, json_num(props, 'a.b') as x", "simple identifier")
    bad("select id, datediff(v, 1) as x", "timestamp")
    bad("select id, json_num(lower(props), 'k') as x", "JSON string column")
    bad("select id, json_str(props, v) as x", "string literal")
    // sum over the string form is still rejected; the numeric form sums
    bad("select sum(json_str(props, 's')) as x", "numeric measure")
    // rows frames: aggregate windows with order by only
    bad("select id, row_number() over (partition by id order by v " +
      "rows 3 preceding) as r", "aggregate windows")
    bad("select id, sum(v) over (partition by id rows 3 preceding) as r",
      "needs `order by`")
    bad("select id, sum(v) over (partition by id order by v rows 0 " +
      "preceding) as r", "≥ 1")
    // moving sum vs running sum on a tiny fixture
    val mv = ZxSql.run(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 4.0))
        .toDF("id", "k", "v"),
      "select id, sum(v) over (partition by k order by id rows 1 " +
        "preceding) as m2, sum(v) over (partition by k order by id) as run " +
        "order by id")
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
    assert(mv.toSeq == Seq((1L, 1.0, 1.0), (2L, 3.0, 3.0), (3L, 6.0, 7.0)))
    // sample exact per: nested across sizes per group, no global bound
    val docs = (1L to 40L).map(i => (i, s"t$i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val s5 = ZxSql.run(docs, "select sample exact 5 per source")
      .collect().map(_.getLong(0)).toSet
    val s10 = ZxSql.run(docs, "select sample exact 10 per source")
      .collect().map(_.getLong(0)).toSet
    assert(s5.size == 10 && s10.size == 20 && s5.subsetOf(s10))
    // the global form keeps its driver bound; the per form does not
    val ge = intercept[ZxSql.ParseError](ZxSql.run(docs,
      s"select sample exact ${1 << 23}"))
    assert(ge.getMessage.contains("driver-merged"))
    ZxSql.parse(s"select sample exact ${1 << 23} per source") // no throw
  }

  test("percent_rank and cume_dist complete the rank family (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 20.0),
      (4L, "a", 40.0), (5L, "b", 7.0)).toSeq.toDF("id", "k", "v")
    // percent_rank = (rank-1)/(n-1) with ties sharing a rank; cume_dist
    // counts peers-from-behind/n; a singleton partition is pr=0, cd=1
    val r = ZxSql.run(rows,
      "select id, percent_rank() over (partition by k order by v asc, " +
        "id asc) as pr, cume_dist() over (partition by k order by v asc) " +
        "as cd order by id")
      .collect().map(x => (x.getLong(0),
        math.round(x.getDouble(1) * 1e6) / 1e6,
        math.round(x.getDouble(2) * 1e6) / 1e6))
    assert(r.toSeq == Seq((1L, 0.0, 0.25), (2L, 0.333333, 0.75),
      (3L, 0.666667, 0.75), (4L, 1.0, 1.0), (5L, 0.0, 1.0)))
    // order-sensitive: order by stays required
    val e = intercept[ZxSql.ParseError](ZxSql.run(rows,
      "select id, percent_rank() over (partition by k) as pr"))
    assert(e.getMessage.contains("order by"))
  }

  test("corr and covar_samp: two-argument aggregates (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, "a", 1.0, 2.0), (2L, "a", 2.0, 4.0),
      (3L, "a", 3.0, 6.0), (4L, "b", 5.0, 1.0)).toSeq
      .toDF("id", "k", "x", "y")
    // exact linear relation → corr 1; covar_samp hand-checked; a
    // singleton group is NULL for both
    val r = ZxSql.run(rows,
      "select corr(x, y) as c, covar_samp(x, y) as cv group by k " +
        "order by c desc")
      .collect().map(z => (z.getString(0),
        if (z.isNullAt(1)) None else Some(math.round(z.getDouble(1) * 1e6) / 1e6),
        if (z.isNullAt(2)) None else Some(math.round(z.getDouble(2) * 1e6) / 1e6)))
    assert(r.toSeq == Seq(("a", Some(1.0), Some(2.0)), ("b", None, None)))
    // arguments ride the measure grammar (scalar funcs, arithmetic)
    val e2 = ZxSql.run(rows,
      "select corr(x * 2, y + 1) as c where k = 'a' order by c desc")
      .collect().head.getDouble(0)
    assert(math.abs(e2 - 1.0) < 1e-9)
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[Exception](ZxSql.run(rows, sql).collect())
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select corr(x, y) group by k order by corr(x, y) desc",
      "as <name>")
    bad("select corr(x, lower(k)) as c group by k order by c desc",
      "numeric measures")
    bad("select corr(x, y) as c group by k order by c desc salt 4",
      "decomposable")
    // the exact walk rejects corr upstream via its expression-measure
    // guard (a two-arg aggregate always carries expr)
    bad("select corr(x, y) as c group by k granularity 10 exact",
      "storage columns only")
    // regression: y = 2x exactly → slope 2, intercept 0
    val rg = ZxSql.run(rows,
      "select regr_slope(y, x) as sl, regr_intercept(y, x) as ic " +
        "where k = 'a' order by sl desc").collect().head
    assert(math.abs(rg.getDouble(0) - 2.0) < 1e-9 &&
      math.abs(rg.getDouble(1)) < 1e-9)
    // concat: NULL-propagating; literals interleave; distinct composes
    val cc = ZxSql.run(Seq((1L, "en", "s1"), (2L, null: String, "s2"))
        .toDF("id", "lang", "src"),
      "select id, concat(lang, '-', src) as tag order by id")
      .collect().map(z => if (z.isNullAt(1)) "∅" else z.getString(1))
    assert(cc.toSeq == Seq("en-s1", "∅"))
    // numeric literals stay out of concat (columns are untyped at parse —
    // the schemaless contract — but a bare number is knowably not a string)
    bad("select id, concat(k, 5) as t", "string columns")
  }

  test("post-aggregate arithmetic distinguishes two-arg calls by second argument (round 14)") {
    import SparkFixture.spark.implicits._
    // corr(x,a)=+1, corr(x,b)=-1 exactly — if the internal-alias dedup
    // keyed only on (agg, column, expr) both calls would collapse to one
    // __pa slot and the difference would be 0 (or an ambiguous-reference
    // AnalysisException); the correct answer is 2
    val rows = Seq((1L, "g", 1.0, 10.0, 30.0), (2L, "g", 2.0, 20.0, 20.0),
      (3L, "g", 3.0, 30.0, 10.0)).toDF("id", "k", "x", "a", "b")
    val d = ZxSql.run(rows,
      "select corr(x, a) - corr(x, b) as d group by k order by d desc")
      .collect().head.getDouble(1)
    assert(math.abs(d - 2.0) < 1e-9)
    // same second-arg shape IS still shared: one slot, no ambiguity
    val s = ZxSql.run(rows,
      "select corr(x, a) + corr(x, a) as s group by k order by s desc")
      .collect().head.getDouble(1)
    assert(math.abs(s - 2.0) < 1e-9)
  }

  test("integer parse sites reject values that overflow Int (round 14)") {
    // 2^32+1 wraps to 1 under a silent .toInt — must be a loud ParseError
    val e1 = intercept[ZxSql.ParseError](
      ZxSql.parse("select sample exact 4294967297 per source"))
    assert(e1.getMessage.contains("4294967297"))
    val e2 = intercept[ZxSql.ParseError](ZxSql.parse(
      "select sum(x) over (partition by k order by id rows 4294967297 preceding) as s"))
    assert(e2.getMessage.contains("32-bit"))
    val e3 = intercept[ZxSql.ParseError](
      ZxSql.parse("select count group by k order by count desc limit 4294967297"))
    assert(e3.getMessage.contains("32-bit"))
  }

  test("is null / is not null spell the presence comparators (round 13)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "v")
    assert(ZxSql.run(rows, "select id where v is null")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(ZxSql.run(rows, "select id where v is not null order by id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // same leaves as exists/notexists — boolean structure composes
    assert(ZxSql.run(rows, "select id where v is null or v = 'y' order by id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    val e = intercept[ZxSql.ParseError](ZxSql.run(rows,
      "select id where v is missing"))
    assert(e.getMessage.contains("null / not null"))
  }

  test("expression measures parse: precedence, parens, unary minus, aliases (round 12)") {
    import MeasureExpr._
    val q = ZxSql.parse(
      "select sum(a * (1 - b)) as revenue, mean(p / q) as upp, " +
        "count(*) as n, sum(foo) as total group by y")
    assert(q.selects(0) == Select(Agg.Sum, "",
      Some(Bin("*", Col("a"), Bin("-", Lit(1.0), Col("b")))), Some("revenue")))
    assert(q.selects(1) == Select(Agg.Mean, "",
      Some(Bin("/", Col("p"), Col("q"))), Some("upp")))
    assert(q.selects(2) == Select(Agg.Count, "*", None, Some("n")))
    assert(q.selects(3) == Select(Agg.Sum, "foo", None, Some("total")))
    assert(q.selects.map(_.key) == Seq("revenue", "upp", "n", "total"))
    // * / bind tighter than + -; subtraction with the lexer's negative-Num
    // folding (`c - 2` and `c -2` both subtract)
    assert(ZxSql.parse("select sum(a + b * c - 2) as k").selects.head.expr.contains(
      Bin("-", Bin("+", Col("a"), Bin("*", Col("b"), Col("c"))), Lit(2.0))))
    assert(ZxSql.parse("select sum(a -2) as k").selects.head.expr.contains(
      Bin("-", Col("a"), Lit(2.0))))
    // the folded negative still opens a full term: a - (3 * b)
    assert(ZxSql.parse("select sum(a -3 * b) as k").selects.head.expr.contains(
      Bin("-", Col("a"), Bin("*", Lit(3.0), Col("b")))))
    assert(ZxSql.parse("select sum(-a) as k").selects.head.expr.contains(
      Neg(Col("a"))))
    // a single parenthesized column is still an expression-free select?
    // no — wrapping parens collapse to the plain column, so the canonical
    // key scheme applies and no alias is needed
    assert(ZxSql.parse("select sum((foo))").selects.head == Select(Agg.Sum, "foo"))
  }

  test("expression measures execute: string storage parses on demand, div-by-zero drops the row") {
    import SparkFixture._
    // fixture storage is ALL STRINGS (the reference's model) — the
    // expression's numeric view parses on demand, exactly like plain
    // aggregates; x = "0" on row 10 makes foo/x null there (try_divide),
    // and a null expression contributes nothing to sum/mean
    val got = ZxSql.run(fixture,
      "select sum(foo * 2 + 1) as s2, mean(foo / x) as r " +
        "group by y granularity 300")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Number]("s2").doubleValue, Option(r.getAs[Number]("r"))
          .map(_.doubleValue)))).toMap
    assert(got.keySet == Set("1", "9", "__nil"))
    assert(got("1")._1 == 201.0 && math.abs(got("1")._2.get - 100.0 / 7) < 1e-9)
    // row 10 (foo=1000, x=0): 1000/0 is null → mean over row 4 alone
    assert(got("9")._1 == 2802.0 && got("9")._2.contains(200.0))
    assert(got("__nil")._1 == 8007.0 &&
      math.abs(got("__nil")._2.get -
        (200.0 + 100 + 125 + 120 + 700.0 / 6 + 800.0 / 9 + 112.5) / 7) < 1e-9)
  }

  test("aliases thread through having, order by, limit, and salt (round 12)") {
    import SparkFixture._
    // having + order by reference the ALIAS by bare name; the filter binds
    // the unrounded aggregate, the sort the output column
    val rows = ZxSql.run(fixture,
      "select sum(foo * 1) as s group by y having s > 300 order by s desc limit 2")
      .collect().map(r => r.getString(0) -> r.getAs[Number]("s").doubleValue)
    assert(rows.toSeq == Seq("__nil" -> 4000.0, "9" -> 1400.0))
    // salted two-phase decomposition reproduces the expression measure
    val salted = ZxSql.run(fixture,
      "select sum(foo * 2) as s group by y granularity 300 salt 4")
      .collect().map(r => r.getString(0) -> r.getAs[Number]("s").doubleValue).toMap
    val plain = ZxSql.run(fixture,
      "select sum(foo * 2) as s group by y granularity 300")
      .collect().map(r => r.getString(0) -> r.getAs[Number]("s").doubleValue).toMap
    assert(salted == plain && plain("__nil") == 8000.0)
    // plain-agg alias renames the output column everywhere
    val aliased = ZxSql.run(fixture, "select count(foo) as hits group by y granularity 300")
    assert(aliased.columns.contains("hits") && !aliased.columns.exists(_.contains("count_")))
  }

  test("expression predicates in WHERE: arithmetic left engages, legacy conds unchanged (round 12)") {
    import SparkFixture._
    import MeasureExpr._
    // an arithmetic LEFT side lands as an ExprLeaf in the boolean tree;
    // the sibling plain conjunct stays a pushable Condition leaf
    val q = ZxSql.parse("select count(foo) as n where x > 2 and foo * 2 > 300 granularity 300")
    assert(q.conditions == Seq(Condition(Cmp.Gt, "x", "2")),
      "the plain conjunct must stay a reference-shaped Condition")
    assert(q.where.contains(ConditionTree.ExprLeaf(
      Bin("*", Col("foo"), Lit(2.0)), Cmp.Gt, Lit(300.0))))
    // execution over the all-string fixture storage
    def n(whereSql: String): Long = ZxSql.run(fixture,
      s"select count(foo) as n where $whereSql granularity 300")
      .collect().map(_.getAs[Number]("n").doubleValue.toLong).sum
    assert(n("foo - x * 100 > 0") == 7,
      "precedence: x*100 binds before the subtraction")
    assert(n("foo - x > 0") == 10, "column-vs-column via subtraction")
    // three-valued logic: null y drops the row (y non-null on 1, 4, 10)
    assert(n("y - 0 >= 0") == 3)
    // right side is a full measure expression too
    assert(n("foo * 1 = x * 100") == 1, "only row 3: 300 = 3*100")
    // guards: non-numeric comparators refuse; time pseudo-columns cannot
    // ride arithmetic; boolean grouping keeps its precedence
    assertThrows[ZxSql.ParseError](ZxSql.parse("select count(foo) where a * b like 'x'"))
    assertThrows[ZxSql.ParseError](ZxSql.parse("select count(foo) where $t_start + 1 > 2"))
    val e = intercept[ZxSql.ParseError](ZxSql.parse("select count(foo) where (a + b) > 5"))
    assert(e.getMessage.contains("comparator"),
      "a parenthesized lhs opens boolean grouping — the error must say so usefully")
  }

  test("runCatalog resolves FROM; timestamp columns take date literals (round 12)") {
    import SparkFixture._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import spark.implicits._
    // runCatalog picks the base frame from the query's own FROM clause
    val viaCatalog = ZxSql.runCatalog(Map("fix" -> fixture),
      "select count(foo) as n from fix granularity 300")
      .collect().map(_.getAs[Number]("n").doubleValue).sum
    assert(viaCatalog == 10.0)
    val missing = intercept[ZxSql.ParseError](
      ZxSql.runCatalog(Map("fix" -> fixture), "select count(foo) as n"))
    assert(missing.getMessage.contains("from"))
    val unknown = intercept[ZxSql.ParseError](ZxSql.runCatalog(
      Map("fix" -> fixture), "select count(foo) as n from nope"))
    assert(unknown.getMessage.contains("fix"),
      "the error must list what the catalog has")
    // date literals: range comparators against a TIMESTAMP column convert
    // to UTC epoch seconds — rows at 2024-03-10 00:00, 2024-03-10 12:00,
    // 2024-03-11 00:00
    val df = Seq(1710028800L, 1710072000L, 1710115200L).toDF("sec")
      .select(col("sec").cast("long").as("id"),
        timestamp_seconds(col("sec")).as("ts"))
    assert(ZxSql.run(df, "select id where ts >= '2024-03-10' and ts < '2024-03-11'")
      .count() == 2, "whole-day slice via date literals")
    assert(ZxSql.run(df, "select id where ts > '2024-03-10 00:00:00'")
      .count() == 2, "datetime literal with a time part")
    // an unparseable literal against a timestamp keeps the
    // matches-nothing contract (no exception)
    assert(ZxSql.run(df, "select id where ts > 'not-a-date'").count() == 0)
  }

  test("expression-measure guards fail loudly (round 12)") {
    import SparkFixture._
    def err(sql: String): String =
      intercept[ZxSql.ParseError](ZxSql.parse(sql)).getMessage
    assert(err("select sum(a * b)").contains("as"),
      "expression measures need an alias")
    assert(err("select heatmap(a * b) as h").contains("heatmap"))
    assert(err("select foo as f").contains("raw"))
    assert(err("select sum(a * b) as s group by y exact").contains("exact"))
    assert(err("select sum(foo) group by y order by sum(a * b)")
      .contains("select list"))
    assert(err("select sum(foo) group by y having sum(a * b) > 5")
      .contains("select list"))
    assert(err("select sum(foo) group by y having bar > 5").contains("where"),
      "a raw having name that aliases nothing is a row condition")
    assert(err("select k, t trailing join d on k = dk at t >= dt within 60 " +
      "agg sum(v * 2) as s").contains("right-table"))
    // alias syntax is select-list-only in order by
    assert(err("select sum(foo) as s group by y order by sum(foo) as t desc")
      .contains("select list"))
    // streaming: tumbling windows DO support expression measures — the
    // same compile path as batch — while the exact gap walk refuses
    val sdir = java.nio.file.Files.createTempDirectory("graft-sql-expr").toString
    fixture.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(fixture.schema).parquet(sdir)
    val stream = ZxSql.runStream(st,
      "select sum(foo * 2) as s group by y granularity 300")
    assert(stream.isStreaming, "tumbling expression measures must plan on a stream")
    assertThrows[IllegalArgumentException](graft.streaming.GapWindowStream(
      st, ZxSql.parse("select sum(foo) as s group by y granularity 300")
        .copy(selects = Seq(Select(Agg.Sum, "",
          Some(MeasureExpr.Bin("*", MeasureExpr.Col("foo"), MeasureExpr.Lit(2.0))),
          Some("s"))))))
  }
  test("select * projects every column; composes with distinct/where/order/limit; guards (round 14)") {
    import SparkFixture.spark.implicits._
    val spark = SparkFixture.spark
    val rows = Seq((1L, "a", 10.0), (2L, "b", 20.0), (2L, "b", 20.0),
      (3L, "a", 30.0)).toDF("id", "k", "v")
    val all = ZxSql.run(rows, "select * order by id desc limit 2")
    assert(all.columns.toSeq == Seq("id", "k", "v"))
    assert(all.collect().map(_.getLong(0)).toSeq == Seq(3L, 2L))
    // distinct * dedups whole rows
    assert(ZxSql.run(rows, "select distinct *").count() == 3)
    // catalog face resolves the base by name; membership filters compose
    val dims = Seq(("a", 1L)).toDF("dk", "dv")
    val cat = ZxSql.runCatalog(Map("t" -> rows, "dims" -> dims),
      "select * from t where k in (select dk from dims) order by id")
    assert(cat.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // streams: same expansion, stateless raw tail
    val sdir = java.nio.file.Files.createTempDirectory("graft-star-st").toString
    rows.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(rows.schema).parquet(sdir)
    val outSt = ZxSql.runStream(st, "select * where v >= 20")
    val q = outSt.writeStream.format("memory").queryName("star_st").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("star_st").columns.toSeq == Seq("id", "k", "v"))
    assert(spark.table("star_st").count() == 3)
    // guards: column-reshaping clauses spell their columns
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[ZxSql.ParseError](ZxSql.parse(sql))
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("select * group by k", "spell their columns")
    bad("select * granularity 60", "spell their columns")
    bad("select * from (select id from t)", "named base table")
    bad("select *, id", "trailing input")
  }

  test("LIKE with positional wildcards compiles to real SQL LIKE (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, "src1"), (2L, "src10"), (3L, "srcX"),
      (4L, "abc1"), (5L, null: String)).toDF("id", "s")
    def ids(sql: String) = ZxSql.run(rows, sql).collect().map(_.getLong(0)).toSet
    // interior _ : positional
    assert(ids("select id where s like 'sr_1%'") == Set(1L, 2L))
    // NOT LIKE is three-valued — the null row drops on both polarities
    assert(ids("select id where s not like 'sr_1%'") == Set(3L, 4L))
    // _ as exact-one-char: 'src_' matches src1/srcX, not src10
    assert(ids("select id where s like 'src_'") == Set(1L, 3L))
    // edge-only patterns keep the desugared comparators (parse shape)
    val q = ZxSql.parse("select id where s like 'src%'")
    assert(q.conditions.head.cmp == graft.ir.Cmp.StartsWith)
    val q2 = ZxSql.parse("select id where s like '%rc_%'")
    assert(q2.conditions.head.cmp == graft.ir.Cmp.Like)
  }

  // ------------------------------------------------ round 14, second half

  private def parseErr(sql: String, frag: String): Unit = {
    val e = intercept[ZxSql.ParseError](ZxSql.parse(sql))
    assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
  }

  test("p101 string surgery: replace/split_part/lpad/rpad/reverse/strpos (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, "a-b-c"), (2L, "xy"), (3L, null: String))
      .toDF("id", "s")
    val got = ZxSql.run(rows,
      "select id, replace(s, '-', '_') as r, split_part(s, '-', 2) as p2, " +
        "split_part(s, '-', 9) as oob, lpad(s, 4, '0') as lp, " +
        "rpad(s, 4, 'z') as rp, reverse(s) as rev, strpos(s, 'b') as bp " +
        "order by id")
      .collect()
    assert(got(0).getString(1) == "a_b_c" && got(0).getString(2) == "b")
    assert(got(0).getString(3) == "", "out-of-range split_part index is ''")
    assert(got(0).getString(4) == "a-b-" && got(0).getString(5) == "a-b-",
      "lpad/rpad TRUNCATE when the input is already longer")
    assert(got(1).getString(4) == "00xy" && got(1).getString(5) == "xyzz")
    assert(got(0).getString(6) == "c-b-a")
    assert(got(0).getLong(7) == 3L, "strpos is 1-based")
    assert(got(1).getLong(7) == 0L, "strpos is 0 when absent")
    assert((1 to 7).forall(got(2).isNullAt), "NULL input propagates")
    // literal-argument guards: engine-specific empty-pattern conventions
    // never engage
    parseErr("select replace(s, '', 'x') as r", "non-empty string literal")
    parseErr("select split_part(s, '-', 0) as p", "integer literal ≥ 1")
    parseErr("select lpad(s, -1, 'x') as p", "integer literal ≥ 0")
    parseErr("select strpos(s, sub) as p", "strpos search")
    // strpos is numeric: it enters arithmetic and predicates
    val gated = ZxSql.run(rows, "select id where strpos(s, '-') > 0")
      .collect().map(_.getLong(0)).toSet
    assert(gated == Set(1L))
  }

  test("p108 `%` and mod(): sign of the dividend, null on zero divisor (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq((1L, 7.5, 2.0), (2L, -7.5, 2.0), (3L, 7.5, 0.0))
      .toDF("id", "a", "b")
    val got = ZxSql.run(rows,
      "select id, a % b as m, mod(a, b) as m2 order by id").collect()
    assert(got(0).getDouble(1) == 1.5 && got(0).getDouble(2) == 1.5)
    assert(got(1).getDouble(1) == -1.5, "sign of the DIVIDEND (C/Java/DuckDB %)")
    assert(got(2).isNullAt(1) && got(2).isNullAt(2), "zero divisor → null")
    // % binds at term level: 1 + 7 % 3 = 2, not (1+7)%3
    val prec = ZxSql.run(rows, "select id, 1 + a % 2 as p where id = 1").collect()
    assert(prec(0).getDouble(1) == 1 + 7.5 % 2)
  }

  test("p102 max_by/min_by: deterministic argmax aggregates (round 14)") {
    import SparkFixture.spark.implicits._
    def jd(v: Double): java.lang.Double = v
    val rows = Seq(
      ("g1", "a", jd(1.0)), ("g1", "b", jd(3.0)), ("g1", "c", jd(3.0)), // tie
      ("g2", "z", jd(5.0)), ("g2", null, jd(9.0)), // null x carried
      ("g3", "q", null: java.lang.Double))         // null ordering → skipped
      .toDF("k", "x", "v")
    val got = ZxSql.run(rows,
      "select max_by(x, v) as best, min_by(x, v) as worst group by k order by k")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got("g1") == (("c", "a")), "ties in v break toward the LARGER x")
    assert(got("g2")._1 == null, "a null x at the max v is carried, not skipped")
    assert(got("g3") == ((null, null)), "all ordering values null → null")
    // expression arguments ride the measure grammar
    val e = ZxSql.run(rows,
      "select max_by(v * 2, v) as m2 where k = 'g1' group by k order by k").collect()
    assert(e(0).getDouble(1) == 6.0)
    // guards
    parseErr("select max_by(x, v)", "need `as")
    parseErr("select max_by(x, lower(x)) as m group by k", "sortable measure")
    parseErr("select max_by(lower(x), v) + 1 as m group by k",
      "cannot appear in arithmetic")
  }

  test("p103 string_agg: sorted values, NULLs skipped, all-null group → NULL (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("g1", "b"), ("g1", "a"), ("g1", null), ("g2", null))
      .toDF("k", "x")
    val got = ZxSql.run(rows, "select string_agg(x, '|') as xs group by k order by k")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("g1") == "a|b", "values sort ascending — deterministic by contract")
    assert(got("g2") == null, "an all-null group is NULL (DuckDB parity), not ''")
    parseErr("select string_agg(x, sep) as xs group by k", "string literal")
    parseErr("select string_agg(x, ',') - 1 as xs group by k",
      "cannot appear in arithmetic")
  }

  test("p104 count(distinct x): ANSI — NULL not counted, unlike count_distinct (round 14)") {
    val got = ZxSql.run(fixture,
      "select count(distinct tag) as ansi, count_distinct(tag) as ref " +
      "order by ansi").collect()
    assert(got(0).getLong(0) == 4L, "t1 / t1,t2 / t3 / t2 — null NOT counted")
    assert(got(0).getLong(1) == 5L, "the reference convention counts the nil bucket")
    // string expressions are legitimate distinct keys
    val expr = ZxSql.run(fixture,
      "select count(distinct upper(tag)) as n order by n").collect()
    assert(expr(0).getLong(0) == 4L)
  }

  test("p105 offset: pagination over a total order, both paths (round 14)") {
    // raw path: rows m+1 … m+n
    val raw = ZxSql.run(fixture, "select id order by id limit 3 offset 2")
      .collect().map(_.getLong(0))
    assert(raw.toSeq == Seq(3L, 4L, 5L))
    // aggregate path: the middle group by sum
    val agg = ZxSql.run(fixture,
      "select sum(foo) as s group by y order by s limit 1 offset 1").collect()
    assert(agg(0).getDouble(1) == 1400.0)
    // offset alone (no limit) drops the first page
    val rest = ZxSql.run(fixture, "select id order by id offset 8")
      .collect().map(_.getLong(0))
    assert(rest.toSeq == Seq(9L, 10L))
    parseErr("select id offset 3", "offset needs order by")
    parseErr("select id, y order by id limit 2 per y offset 1",
      "does not compose with limit per")
  }

  test("p106 nulls first/last: explicit placement on both paths (round 14)") {
    // fixture y is null on 7 of 10 rows
    val last = ZxSql.run(fixture, "select id, y order by y desc nulls last, id")
      .collect().map(_.getString(1))
    assert(last.take(3).toSeq == Seq("9", "9", "1") && last.drop(3).forall(_ == null))
    val first = ZxSql.run(fixture, "select id, y order by y asc nulls first, id")
      .collect().map(_.getString(1))
    assert(first.take(7).forall(_ == null) && first.drop(7).toSeq == Seq("1", "9", "9"))
    parseErr("select id order by id nulls sometimes", "nulls first")
  }

  test("p116 runScript: statements see earlier writes; drop-ending and quoting guards (round 14)") {
    import SparkFixture.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-script").toString
    val base = Seq((1L, "a;b", 10L), (2L, "c", 20L)).toDF("id", "k", "v")
    // a ';' INSIDE a string literal is not a statement boundary
    val out = ZxSql.runScript(Map("t" -> base),
      "create table s1 as select id, k, v from t; " +
        "insert into s1 values (3, 'x;y', 30); " +
        "select id, v from s1 where k = 'x;y' order by id", wh)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // later statements read earlier writes through the warehouse catalog;
    // UPDATE and DELETE target their own store through the same overlay
    // carve-out INSERT uses
    val n = ZxSql.runScript(Map("t" -> base),
      "insert into s1 values (4, 'z', 40); " +
        "update s1 set v = v + 2 where id = 4; " +
        "delete from s1 where id = 1; " +
        "select id, v from s1 order by id", wh)
    val rows2 = n.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows2 == Map(2L -> 20L, 3L -> 30L, 4L -> 42L))
    // drop ends nothing — a script returns its last frame
    val e = intercept[ZxSql.ParseError](ZxSql.runScript(Map("t" -> base),
      "drop table s1", wh))
    assert(e.getMessage.contains("drop table"))
    intercept[ZxSql.ParseError](
      ZxSql.runScript(Map.empty, "select 'unterminated; select 1", wh))
  }

  test("p126 create view: re-reads base at use time; layering, read-only, no shadowing (round 14)") {
    import SparkFixture.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-view").toString
    val base = Seq((1L, "en", 500L), (2L, "de", 460L), (3L, "zh", 480L),
      (4L, "en", 420L)).toDF("id", "lang", "nc")
    // a view sees an insert committed AFTER its creation (re-read, not
    // snapshot), and a second view layers on the first
    val out = ZxSql.runScript(Map("t" -> base),
      "create table vb as select id, lang, nc from t; " +
        "create view west as select id, lang, nc from vb " +
        "where lang = 'en' or lang = 'de'; " +
        "create view west_big as select id, lang, nc from west " +
        "where nc >= 450; " +
        "insert into vb values (5, 'en', 470); " +
        "select count(*) as n from west_big group by lang order by lang", wh)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("en" -> 2.0, "de" -> 1.0),
      "the post-creation insert (5, en, 470) must be visible through both views")
    // views are read-only; names never shadow; drop view works and the
    // dangling-base case is loud
    val cat = Map("t" -> base)
    val ro = intercept[ZxSql.ParseError](ZxSql.runScript(cat,
      "create view w2 as select id from vb; " +
        "insert into w2 values (9); select id from vb", wh))
    assert(ro.getMessage.contains("read-only"))
    val shadow = intercept[ZxSql.ParseError](ZxSql.runScript(cat,
      "create view vb as select id from vb; select id from vb", wh))
    assert(shadow.getMessage.contains("never shadow"))
    val dropped = ZxSql.runScript(cat,
      "create view w3 as select id from vb; drop view w3; " +
        "create view w3 as select id, nc from vb; " +
        "select count(*) as n from w3 group by nc order by nc", wh)
    assert(dropped.count() >= 1)
    intercept[ZxSql.ParseError](ZxSql.runScript(cat,
      "drop view nope; select id from vb", wh))
    // a broken body fails AT CREATION, not N statements later
    intercept[Exception](ZxSql.runScript(cat,
      "create view bad as select id from no_such_table; select id from vb", wh))
    // ends-with-create-view returns nothing → loud
    intercept[ZxSql.ParseError](ZxSql.runScript(cat,
      "create view w4 as select id from vb", wh))
  }

  test("p129 show tables: stores + live views listed sorted, drops disappear (round 14)") {
    import SparkFixture.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-show").toString
    val base = Seq((1L, 10L)).toDF("id", "v")
    val names = ZxSql.runScript(Map("t" -> base),
      "create table s_a as select id, v from t; " +
        "create table s_b as select id from t; " +
        "create view v_a as select id from s_a; " +
        "create view v_b as select id from v_a; " +
        "drop table s_b; " +
        "show tables", wh)
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("s_a", "v_a", "v_b"))
    // caller frames ('t') are function arguments, not catalog objects
    assert(!names.contains("t"))
    parseErr2(Map("t" -> base),
      "show tables like 'x'; select id from t", wh, "no arguments")
  }

  private def parseErr2(cat: Map[String, org.apache.spark.sql.DataFrame],
                        sql: String, wh: String, frag: String): Unit = {
    val e = intercept[ZxSql.ParseError](ZxSql.runScript(cat, sql, wh))
    assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
  }

  test("order by ordinal: 1-based select-list position, parse-resolved (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("a", 1.0), ("a", 3.0), ("b", 9.0)).toDF("k", "v")
    // ordinal 1 = first select item (sum alias); identical to by-name
    val byOrd = ZxSql.run(rows,
      "select sum(v) as s, count(*) as n group by k order by 1 desc")
      .collect().map(_.getDouble(1)).toSeq
    val byName = ZxSql.run(rows,
      "select sum(v) as s, count(*) as n group by k order by s desc")
      .collect().map(_.getDouble(1)).toSeq
    assert(byOrd == Seq(9.0, 4.0) && byOrd == byName)
    // raw path + mixed ordinal/name + desc per key
    val raw = ZxSql.run(rows, "select k, v order by 2 desc, k")
      .collect().map(_.getDouble(1)).toSeq
    assert(raw == Seq(9.0, 3.0, 1.0))
    parseErr("select k, v order by 3", "exceeds the 2-item select list")
    parseErr("select k, v order by 0", "positive integer")
    parseErr("select * order by 1", "explicit select list")
  }

  test("p117 time travel: `from t version k` pins the manifest; two versions in one statement (round 14)") {
    import SparkFixture.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
    val diff = ZxSql.runScript(Map("t" -> base),
      "create table tt as select id, v from t; " +
        "delete from tt where v < 25; " +
        "select id, v from tt version 0 except select id, v from tt", wh)
      .collect().map(_.getLong(0)).toSet
    assert(diff == Set(1L, 2L), "v0 EXCEPT current = the deleted rows")
    // the bare name reads the CURRENT version
    assert(ZxSql.runScript(Map.empty, "select id from tt", wh).count() == 1)
    // a missing version dies in the manifest read, loudly
    intercept[Exception](ZxSql.runScript(Map.empty,
      "select id from tt version 9", wh))
    intercept[ZxSql.ParseError](ZxSql.runScript(Map.empty,
      "select id from tt version -1", wh))
  }

  test("round-14 edges: offset past the end, limit 0, all-null argmax, empty separator, null-ordered aggregates") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("g", null: String, 1.0), ("g", null, 2.0)).toDF("k", "x", "v")
    // offset past the end is an EMPTY page, never an error
    assert(ZxSql.run(fixture, "select id order by id offset 999").count() == 0)
    assert(ZxSql.run(fixture, "select id order by id limit 0").count() == 0)
    // max_by with every carried value NULL (ordering values present):
    // the max-v row is carried — its x is null
    val mb = ZxSql.run(rows,
      "select max_by(x, v) as b group by k order by k").collect()
    assert(mb(0).isNullAt(1))
    // string_agg with an empty separator concatenates bare
    val sa = ZxSql.run(Seq(("g", "b"), ("g", "a")).toDF("k", "x"),
      "select string_agg(x, '') as xs group by k order by k").collect()
    assert(sa(0).getString(1) == "ab")
    // nulls placement on the AGGREGATE path: corr of a constant is NULL
    // (zero variance) — `nulls last` puts those groups after real values
    val ordered = ZxSql.run(fixture,
      "select corr(foo, x) as c, count(*) as n group by y " +
        "having count(*) >= 1 order by c desc nulls last, n").collect()
    assert(!ordered.head.isNullAt(1) || ordered.forall(_.isNullAt(1)),
      "non-null correlations sort before null ones")
    assert(ordered.takeWhile(!_.isNullAt(1)).size +
      ordered.reverse.takeWhile(_.isNullAt(1)).size == ordered.length,
      "null correlations are contiguous at the END under nulls last")
  }

  test("time travel composes into write bodies: CTAS from a pinned version (round 14)") {
    import SparkFixture.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-tt2").toString
    val base = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    // snapshot-before-delete materialized AFTER the delete happened —
    // the archival shape: the CTAS body reads the pinned manifest
    val snap = ZxSql.runScript(Map("t" -> base),
      "create table tt2 as select id, v from t; " +
        "delete from tt2 where v < 15; " +
        "create table snap as select id, v from tt2 version 0; " +
        "select id from snap order by id", wh)
    assert(snap.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "the snapshot carries the pre-delete rows")
    // and the live table stays deleted
    assert(ZxSql.runScript(Map.empty, "select id from tt2", wh).count() == 1)
  }

  test("p114 nth_value + p115 two-sided frames (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("g", 1L, 10.0), ("g", 2L, 20.0), ("g", 3L, 30.0),
      ("g", 4L, 40.0)).toDF("k", "i", "v")
    // nth_value reads the FULL frame: every row of g sees the 2nd row
    val nth = ZxSql.run(rows,
      "select i, nth_value(v, 2) over (partition by k order by i) as second " +
        "order by i").collect()
    assert(nth.forall(_.getDouble(1) == 20.0))
    // two-sided frame: centered mean of [i-1, i+1]
    val ctr = ZxSql.run(rows,
      "select i, mean(v) over (partition by k order by i " +
        "rows between 1 preceding and 1 following) as c order by i")
      .collect().map(_.getDouble(1)).toSeq
    assert(ctr == Seq(15.0, 20.0, 30.0, 35.0))
    // guards
    parseErr("select i, nth_value(v, 0) over (partition by k order by i) as z",
      "1-based")
    parseErr("select i, nth_value(v, 2) over (partition by k) as z",
      "needs `order by`")
    parseErr("select i, row_number() over (partition by k order by i " +
      "rows between 1 preceding and 1 following) as z", "aggregate windows")
  }

  test("p113 max/min of string expressions is the lexical extreme; bare columns stay numeric (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("g", "beta"), ("g", "alpha"), ("g", null))
      .toDF("k", "s")
    val got = ZxSql.run(rows,
      "select max(upper(s)) as mx, min(lower(s)) as mn group by k order by k")
      .collect()
    assert(got(0).getString(1) == "BETA" && got(0).getString(2) == "alpha")
    // a BARE string column keeps the reference's numeric parse semantics:
    // non-numeric text parses to NULL, so the extreme is NULL (documented
    // divergence surface, lib.rs:566-572)
    val bare = ZxSql.run(rows, "select max(s) as mx group by k order by k").collect()
    assert(bare(0).isNullAt(1))
    // sums stay numeric-only
    parseErr("select sum(upper(s)) as z group by k", "numeric measure")
  }

  test("p112 insert values: literal rows cast to the STORED schema; arity and types loud (round 14)") {
    import SparkFixture.spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-values").toString
    val base = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v")
    ZxSql.runCreate(Map("t" -> base),
      "create table dim as select id, k, v from t", wh)
    val after = ZxSql.runInsert(Map.empty,
      "insert into dim values (3, 'c', 30), (4, null, -7)", wh)
    val got = after.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(got == Set((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, Some("c"), 30L), (4L, None, -7L)))
    // positional contract: wrong arity is loud
    val e = intercept[ZxSql.ParseError](ZxSql.runInsert(Map.empty,
      "insert into dim values (5, 'x')", wh))
    assert(e.getMessage.contains("3 columns"))
    // a mis-typed literal fails loudly (ANSI cast), never silently nulls
    intercept[Exception] { ZxSql.runInsert(Map.empty,
      "insert into dim values ('oops', 'x', 1)", wh).collect() }
    // a missing target store is loud (VALUES cannot create)
    intercept[Exception] { ZxSql.runInsert(Map.empty,
      "insert into nope values (1, 'x', 2)", wh) }
  }

  test("round-14 scalar surface STREAMS: string surgery, %, strpos gates — stateless row maps") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val rows = Seq((1L, "a-b"), (2L, "cd")).toDF("id", "s")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-p101-st").toString
    rows.write.mode("overwrite").parquet(dir2)
    val st = spark.readStream.schema(rows.schema).parquet(dir2)
    val out = ZxSql.runStream(st,
      "select id, split_part(s, '-', 2) as p, id % 2 as par " +
        "where strpos(s, '-') > 0")
    val q = out.writeStream.format("memory").queryName("p101_st").start()
    try q.processAllAvailable() finally q.stop()
    val r = spark.table("p101_st").collect()
    assert(r.length == 1 && r(0).getString(1) == "b" && r(0).getDouble(2) == 1.0)
  }

  test("boolean HAVING streams through the windowed aggregator (round 14)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val spark = SparkFixture.spark
    import spark.implicits._
    val rows = Seq((1L, "a", 5.0), (2L, "a", 6.0), (3L, "b", 1.0))
      .toDF("sec", "k", "v").withColumn("ts", timestamp_seconds(col("sec")))
      .drop("sec")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-hav-st").toString
    rows.write.mode("overwrite").parquet(dir2)
    val st = spark.readStream.schema(spark.read.parquet(dir2).schema).parquet(dir2)
    val out = ZxSql.runStream(st,
      "select sum(v) as sv group by k " +
        "having (sum(v) > 10 or count(v) > 5) and not min(v) < 0.5 " +
        "granularity 60")
    val q = out.writeStream.format("memory").outputMode("complete")
      .queryName("hav_st").start()
    try q.processAllAvailable() finally q.stop()
    val r = spark.table("hav_st").collect()
    assert(r.length == 1 && r(0).getAs[String]("k") == "a" &&
      r(0).getAs[Double]("sv") == 11.0,
      "only group a survives: b fails both OR branches")
  }

  test("compound trailing offset pages the COMPOSED result (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(1L, 2L, 3L, 4L).toDF("id")
    val got = ZxSql.runCatalog(Map("t" -> rows),
      "select id from t where id <= 2 union all " +
        "select id from t where id >= 2 order by id limit 3 offset 1")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 2L, 3L), "bag [1,2,2,3,4] paged to rows 2-4")
  }

  test("p110 boolean HAVING: or/not/parens with WHERE precedence; AND-chains stay legacy (round 14)") {
    // fixture sums by y: 1→100 (count 1), 9→1400 (count 2), __nil→4000
    // (count 7). The OR admits the extremes, the NOT evicts singletons.
    val got = ZxSql.run(fixture,
      "select sum(foo) as s group by y " +
        "having (sum(foo) > 3000 or sum(foo) < 200) and not count(foo) = 1 " +
        "order by s").collect()
    assert(got.map(_.getDouble(1)).toSeq == Seq(4000.0),
      "y=1 dies on NOT count=1, y=9 on both OR branches")
    // a pure AND-chain still parses to the legacy conjunct vector —
    // identical plans for every pre-p110 query
    val flat = ZxSql.parse("select sum(foo) as s group by y " +
      "having sum(foo) > 100 and count(foo) > 1")
    assert(flat.having.size == 2 && flat.havingTree.isEmpty)
    val tree = ZxSql.parse("select sum(foo) as s group by y " +
      "having sum(foo) > 100 or count(foo) > 1")
    assert(tree.having.isEmpty && tree.havingTree.nonEmpty)
    // filter-only aggregates (max here) are computed and pruned
    val cols = ZxSql.run(fixture,
      "select sum(foo) as s group by y " +
        "having max(foo) > 900 or count(foo) = 1 order by s").columns.toSeq
    assert(cols == Seq("y", "s"))
    // guards unchanged: having still needs an aggregate query
    parseErr("select foo having (foo > 1 or foo < 0)", "having filters aggregates")
  }

  test("p109 percentile(x, q): arbitrary exact quantile; alias + literal fraction enforced (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = (1 to 9).map(i => ("g", i.toDouble)).toDF("k", "v")
    val got = ZxSql.run(rows,
      "select percentile(v, 0.25) as q1, percentile(v, 0.5) as med, " +
        "percentile(v, 1) as mx group by k order by k").collect()
    assert(got(0).getDouble(1) == 3.0 && got(0).getDouble(2) == 5.0 &&
      got(0).getDouble(3) == 9.0)
    // interpolation between ranks — same contract as DuckDB quantile_cont
    val four = ZxSql.run(rows,
      "select percentile(v, 0.5) as med where v <= 4 group by k order by k")
      .collect()
    assert(four(0).getDouble(1) == 2.5)
    parseErr("select percentile(v, 1.5) as q group by k", "in [0, 1]")
    parseErr("select percentile(v, q) as q2 group by k", "numeric literal")
    parseErr("select percentile(v, 0.5) group by k", "need `as")
  }

  test("p107 date_trunc: timestamp-typed calendar truncation; grouping via derived table (round 14)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import SparkFixture.spark.implicits._
    // 2026-08-16 10:11:12 UTC (a Sunday) and 2026-07-16 05:00:00 UTC
    val rows = Seq((1L, 1786875072L), (2L, 1786875073L), (3L, 1784178000L))
      .toDF("id", "sec").withColumn("ts", timestamp_seconds(col("sec")))
    val got = ZxSql.run(rows,
      "select id, date_trunc('month', ts) as mo, date_trunc('week', ts) as wk " +
        "where id = 1")
      .collect()
    assert(got(0).getTimestamp(1).toInstant.toString == "2026-08-01T00:00:00Z")
    assert(got(0).getTimestamp(2).toInstant.toString == "2026-08-10T00:00:00Z",
      "ISO weeks start Monday")
    // the calendar-rollup shape: group by a derived-table truncation
    val monthly = ZxSql.runCatalog(Map("t" -> rows),
      "select count(*) as n from (select date_trunc('month', ts) as mo " +
        "from t) group by mo order by n desc")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(monthly == Map("2026-08-01 00:00:00" -> 2.0, "2026-07-01 00:00:00" -> 1.0))
    // aggregates: orderable/countable only
    val agg = ZxSql.run(rows,
      "select max(date_trunc('month', ts)) as last_mo, " +
        "count(distinct date_trunc('month', ts)) as months order by months").collect()
    assert(agg(0).getTimestamp(0).toInstant.toString == "2026-08-01T00:00:00Z")
    assert(agg(0).getLong(1) == 2L)
    // p111 extractors: isodow is ISO (2026-08-16 is a SUNDAY → 7;
    // Spark's raw dayofweek would say 1); second truncates the fraction
    val dw = ZxSql.run(rows,
      "select id, isodow(ts) as dw, second(ts) as sec where id <= 2 order by id")
      .collect()
    assert(dw(0).getLong(1) == 7L && dw(0).getLong(2) == 12L)
    assert(dw(1).getLong(2) == 13L)
    // guards: never arithmetic, never CASE labels, literal unit, bare column
    parseErr("select date_trunc('month', ts) + 1 as z", "do not enter arithmetic")
    parseErr("select sum(date_trunc('month', ts)) as z", "numeric measure")
    parseErr("select date_trunc('fortnight', ts) as z", "date_trunc unit")
    parseErr("select date_trunc('day', sec + 1) as z", "timestamp (or date) column")
    parseErr("select case when id = 1 then date_trunc('day', ts) end as z",
      "numeric or string")
  }

  test("p119 filter clause: ANSI filtered aggregation desugars to the CASE machinery (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("a", 10.0, 1L), ("a", 20.0, 2L), ("a", 30.0, 3L),
      ("b", 5.0, 4L), ("b", 50.0, 5L)).toDF("k", "v", "id")
    val got = ZxSql.run(rows,
      "select sum(v) filter (where v > 12) as hi, " +
        "count(*) filter (where id % 2 = 0) as even_n, " +
        "mean(v) filter (where v > 100) as none_mean, " +
        "count(distinct id) filter (where v >= 20) as big_ids, " +
        "max_by(id, v) filter (where v < 30) as mid_id, " +
        "count(*) as n group by k order by k").collect()
    // a: hi = 20+30, even ids {2}, no v>100 → NULL mean, big {2,3}, argmax v<30 → id 2
    assert(got(0).getString(0) == "a" && got(0).getDouble(1) == 50.0 &&
      got(0).getDouble(2) == 1.0 && got(0).isNullAt(3) &&
      got(0).getLong(4) == 2L && got(0).getLong(5) == 2L &&
      got(0).getDouble(6) == 3.0)
    // b: hi = 50, even {4}, big {5}, argmax v<30 → id 4
    assert(got(1).getString(0) == "b" && got(1).getDouble(1) == 50.0 &&
      got(1).getDouble(2) == 1.0 && got(1).isNullAt(3) &&
      got(1).getLong(4) == 1L && got(1).getLong(5) == 4L &&
      got(1).getDouble(6) == 2.0)
    // the rewrite IS the CASE form — same one-exchange plan, same results
    val byCase = ZxSql.run(rows,
      "select sum(case when v > 12 then v end) as hi " +
        "group by k order by k").collect().map(_.getDouble(1)).toSeq
    assert(byCase == Seq(50.0, 50.0))
    // sum over an empty filtered set keeps the engine's missing-as-zero
    val zero = ZxSql.run(rows,
      "select sum(v) filter (where v > 999) as z group by k order by k")
      .collect()
    assert(zero(0).getDouble(1) == 0.0)
    // refusals: raw, heatmap, +1-nil distinct, string_agg, and the
    // clause guards shared with CASE
    parseErr("select v filter (where v > 1)", "raw rows are filtered by WHERE")
    parseErr("select heatmap(v) filter (where v > 1) as h group by k",
      "filter rows in WHERE")
    parseErr("select count_distinct(id) filter (where v > 1) as c group by k",
      "+1-nil convention")
    parseErr("select string_agg(k, ',') filter (where v > 1) as s group by k",
      "raw string values")
    parseErr("select sum(v) filter (where $t_start = 1) as s group by k",
      "time range")
    parseErr("select sum(v) filter (where v > 12) group by k", "need `as")
  }

  test("p120 bool_and/bool_or: three-valued quantifiers over predicates (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("a", Some(10.0)), ("a", Some(20.0)), ("a", None),
      ("b", Some(-5.0)), ("b", Some(3.0))).toDF("k", "v")
    val got = ZxSql.run(rows,
      "select bool_and(v > 0) as all_pos, bool_or(v > 15) as any_big, " +
        "bool_and(v > 100) as none_such, count(*) as n " +
        "group by k order by k").collect()
    // a: the NULL v row is SKIPPED (unknown ≠ false) → all_pos true
    assert(got(0).getBoolean(1) && got(0).getBoolean(2) && !got(0).getBoolean(3))
    assert(!got(1).getBoolean(1) && !got(1).getBoolean(2) && !got(1).getBoolean(3))
    // quantifier over an empty filtered subset is NULL, not false
    val empty = ZxSql.run(rows,
      "select bool_or(v > 0) filter (where v > 999) as q group by k order by k")
      .collect()
    assert(empty(0).isNullAt(1) && empty(1).isNullAt(1))
    // ANSI spellings ride the same Aggs
    val sp = ZxSql.run(rows,
      "select every(v > 0) as e, any(v > 15) as o group by k order by k")
      .collect()
    assert(!sp(1).getBoolean(1) && !sp(1).getBoolean(2))
    parseErr("select bool_and(v > 0) / 2 as z group by k", "cannot appear in")
    parseErr("select bool_and(v > 0) group by k", "need `as")
  }

  test("p121 skewness/kurtosis: population/excess central-moment golden values (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(1.0, 2.0, 3.0, 4.0, 10.0).map(("g", _)).toDF("k", "v")
    val got = ZxSql.run(rows,
      "select skewness(v) as sk, kurtosis(v) as ku group by k order by k").collect()
    // mu=4, m2=10, m3=36, m4=278.8 → skew=36/10^1.5, kurt=278.8/100−3
    assert(math.abs(got(0).getDouble(1) - 36.0 / math.pow(10.0, 1.5)) < 1e-9)
    assert(math.abs(got(0).getDouble(2) - (278.8 / 100.0 - 3.0)) < 1e-9)
  }

  test("p122 count(distinct a, b): pair key, any-NULL row skipped (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("g", Some(1L), Some("x")), ("g", Some(1L), Some("x")),
      ("g", Some(2L), None), ("g", None, Some("y")), ("g", Some(3L), Some("z")))
      .toDF("k", "a", "b")
    val got = ZxSql.run(rows,
      "select count(distinct a, b) as pairs, count(*) as n " +
        "group by k order by k").collect()
    // (1,x) dedupes; any-null rows skipped → {(1,x),(3,z)}
    assert(got(0).getLong(1) == 2L && got(0).getDouble(2) == 5.0)
    parseErr("select count(distinct a, b) group by k", "need `as")
  }

  test("p123 pivot: conditional-aggregation desugar — K columns, one hash aggregate (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("u1", "click", 10.0), ("u1", "view", 5.0),
      ("u1", "click", 2.0), ("u2", "view", 7.0)).toDF("u", "t", "v")
    val got = ZxSql.run(rows,
      "select pivot sum(v) by t in ('click', 'view' as views), " +
        "count(*) as n group by u order by u")
    assert(got.columns.toSeq == Seq("u", "click", "views", "n"))
    val r = got.collect()
    assert(r(0).getDouble(1) == 12.0 && r(0).getDouble(2) == 5.0 &&
      r(0).getDouble(3) == 3.0)
    // a group with no matching rows keeps sum's missing-as-zero
    assert(r(1).getDouble(1) == 0.0 && r(1).getDouble(2) == 7.0)
    // count(*)/mean pivots and a pre-gated pivot compose
    val m = ZxSql.run(rows,
      "select pivot count(*) by t in ('click' as c_n, 'view' as v_n), " +
        "pivot mean(v) filter (where v > 4) by t in ('click' as big_click) " +
        "group by u order by u").collect()
    assert(m(0).getDouble(1) == 2.0 && m(0).getDouble(2) == 1.0 &&
      m(0).getDouble(3) == 10.0)
    assert(m(1).getDouble(1) == 0.0 && m(1).isNullAt(3))
    parseErr("select pivot u by t in ('click') group by u",
      "pivot takes an aggregate call")
    parseErr("select pivot sum(v) by t in ('a b c') group by u",
      "not a valid column name")
    parseErr("select pivot sum(v) by t in ('x', 'x') group by u",
      "columns collide")
  }

  test("p124 mode: deterministic most-frequent — ties toward the smallest value (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("g", Some(3.0), "b"), ("g", Some(3.0), "b"),
      ("g", Some(1.0), "a"), ("g", Some(1.0), "a"), ("g", Some(2.0), "c"),
      ("g", None, "c")).toDF("k", "v", "s")
    val got = ZxSql.run(rows,
      "select mode(v) as mv, mode(upper(s)) as ms, count(*) as n " +
        "group by k order by k").collect()
    // v: {3×2, 1×2, 2×1} tie → smallest (1.0); NULL v skipped
    assert(got(0).getDouble(1) == 1.0)
    // s: {b×2, a×2, c×2} all tie → 'A' after upper
    assert(got(0).getString(2) == "A")
    // all-null group → NULL mode
    val nulls = Seq(("h", Option.empty[Double])).toDF("k", "v")
    val ng = ZxSql.run(nulls, "select mode(v) as mv group by k order by k")
      .collect()
    assert(ng(0).isNullAt(1))
  }

  test("p125 regexp: portable-subset predicates and extraction (round 14)") {
    import SparkFixture.spark.implicits._
    val rows = Seq(("src12", "alpha beta 42"), ("src7", "gamma"),
      ("other", "beta 7"), ("src3", null)).toDF("s", "t")
    // substring-match semantics; NULL column drops under both polarities
    val got = ZxSql.run(rows,
      "select s, t where t regexp '[0-9]+' order by s").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("other", "src12"))
    val neg = ZxSql.run(rows,
      "select s, t where t not regexp '[0-9]+' order by s").collect()
    assert(neg.map(_.getString(0)).toSeq == Seq("src7"))
    // anchored full-match + alternation; extraction feeds distinct count
    val agg = ZxSql.run(rows,
      "select count(*) as n, " +
        "count(distinct regexp_extract(s, '^src([0-9]+)$', 1)) as ids " +
        "where s regexp '^src[0-9]+$' group by s order by s").collect()
    assert(agg.length == 3 && agg.forall(_.getLong(2) == 1L))
    // no-match extraction is '' (both engines), a countable value
    val e = ZxSql.run(rows,
      "select s, regexp_extract(t, '([0-9]+)', 1) as num where s = 'src7'")
      .collect()
    assert(e(0).getString(1) == "")
    // portable-subset guards: lookaround, backreference, bad syntax,
    // overflowing group index — all ParseErrors at the front door
    parseErr("select s where t regexp 'a(?=b)'", "lookaround")
    parseErr("select s where t regexp '(a)\\1'", "backreference")
    parseErr("select s where t regexp '[a-'", "bad regexp pattern")
    parseErr("select regexp_extract(t, '(a)', 2) as x where s = 'src7'",
      "exceeds the pattern's")
  }

}
