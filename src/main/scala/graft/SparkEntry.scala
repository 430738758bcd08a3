package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ir._
import graft.compile.{Aggregates, Compiler}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each [[QueryRow]] in [[rows]] exercises one operator row of SURVEY.md §2
  * (reference: /root/reference/src/lib.rs), compiled through the graft IR →
  * DataFrame pipeline, and carries the DuckDB-equivalent SQL.
  *
  * Oracle-parity conventions (driver hashes values after sorting columns by
  * name — BOTH sides must agree on names, types, and float bits):
  *  - money-magnitude sums go through DECIMAL casts (exact, engine-
  *    independent) and only then to DOUBLE;
  *  - small-magnitude double aggregates are rounded (3dp for sums/counts,
  *    6dp for means/percentiles) on both sides;
  *  - timestamps are emitted as epoch-second BIGINTs (`ts_sec`, `w_start`)
  *    to dodge ns-vs-us parquet precision mismatches between engines.
  */
object SparkEntry {

  // epoch seconds for 2024-01-05 / 2024-01-20 00:00:00 UTC (events ts domain)
  private val T0 = 1704412800L
  private val T1 = 1705708800L

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Windowed weighted aggregation over events — the reference's core
    * `run_unsorted` pipeline (lib.rs:191-218) end-to-end. */
  def entry(spark: SparkSession): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Mean, "value")),
      conditions = Seq(Condition(Cmp.Ne, "event_type", "view")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L)
    Compiler.runUnsorted(Tables.events(spark, "/root/testdata/sf0.001"), q)
  }

  private def round3(c: String): Column = round(col(c), 3).as(c)
  private def round6(c: String): Column = round(col(c), 6).as(c)

  /** Oracle-stable mean: computed from the ALREADY-ROUNDED sum and count,
    * which hash-match across engines bit-for-bit — so the division inputs
    * are identical and a rounding tie can never fall on different sides
    * (raw double means drift by engine-dependent summation order and DID
    * flake at a 6dp tie at sf0.1). Call after round3 on both columns. */
  private def stableMean(sumC: String, cntC: String): Column =
    round(col(sumC) / col(cntC), 6).as("mean_value")

  // ---------------------------------------------------------------- T1: scan

  /** T1 time-range scan + T3 projection (lib.rs:305-331, 502-536). */
  private def t1TimeScan(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_sec", col("ts").cast(LongType))
    val q = ZxQuery(
      selects = Seq("event_id", "user_id", "event_type", "value", "ts_sec")
        .map(Select(Agg.Raw, _)),
      tStart = Some(T0), tEnd = Some(T1))
    Compiler.runRaw(ev, q)
  }

  // ------------------------------------------------------------- F1: filters

  /** F1 numeric comparators + real `!=` (lib.rs:442-469; fixes expr.rs:66-74). */
  private def f1Cmp(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq("event_id", "user_id", "event_type", "value").map(Select(Agg.Raw, _)),
      conditions = Seq(
        Condition(Cmp.Gt, "value", "50"),
        Condition(Cmp.Lte, "value", "200"),
        Condition(Cmp.Gte, "user_id", "10"),
        Condition(Cmp.Lt, "user_id", "90"),
        Condition(Cmp.Ne, "event_type", "view")))
    Compiler.runRaw(Tables.events(s, dir), q)
  }

  /** F1 string comparators: STARTSWITH / CONTAINS / negations (lib.rs:476-495). */
  private def f1String(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq("event_id", "event_type", "props").map(Select(Agg.Raw, _)),
      conditions = Seq(
        Condition(Cmp.StartsWith, "event_type", "c"),
        Condition(Cmp.Contains, "props", "9"),
        Condition(Cmp.NotContains, "props", "98"),
        Condition(Cmp.NotStartsWith, "props", "{\"k\": 1")))
    Compiler.runRaw(Tables.events(s, dir), q)
  }

  /** F1 EXISTS / NOTEXISTS (lib.rs:414-422, 470-475) over a derived nullable
    * column (driver events are dense; reference rows are sparse). */
  private def f1Null(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("etype_nn", nullif(col("event_type"), lit("error")))
    val q = ZxQuery(
      selects = Seq("event_id", "user_id", "value").map(Select(Agg.Raw, _)),
      conditions = Seq(
        Condition(Cmp.NotExists, "etype_nn"),
        Condition(Cmp.Exists, "value")))
    Compiler.runRaw(ev, q)
  }

  // ------------------------------------------------- G1 + A1..A6: aggregates

  /** G1 nil-sentinel grouping (lib.rs:538-556) + A1 sum / A4 count / A6 mean
    * / A5 count_distinct, unweighted (sample_rate defaults to 1). */
  private def g1GroupNil(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("etype_n", nullif(col("event_type"), lit("view")))
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.CountDistinct, "user_id")),
      groupBy = Seq("etype_n"))
    Compiler.runSorted(ev, q)
      .select(col("etype_n"), round3("sum_value"), round3("count_value"),
        col("count_distinct_user_id"))
      .withColumn("mean_value", stableMean("sum_value", "count_value"))
  }

  /** A1/A4/A6 with a real per-row sample rate (lib.rs:563-573, 608-623,
    * 637-657) — weight extracted from the props payload. */
  private def a1Weighted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn(Aggregates.SampleRateCol,
      regexp_extract(col("props"), "[0-9]+", 0).try_cast(DoubleType))
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"))
    Compiler.runSorted(ev, q) // weighted by __sample_rate (lib.rs:563-573)
      .select(col("event_type"), round3("sum_value"), round3("count_value"))
      .withColumn("mean_value", stableMean("sum_value", "count_value"))
  }

  /** A2 max / A3 min (lib.rs:577-607) + A7 p50 (declared lib.rs:133-143,
    * unimplemented lib.rs:659-661 — we implement exact percentile). */
  private def a2Extremes(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Max, "value"), Select(Agg.Min, "value"),
        Select(Agg.P50, "value")),
      groupBy = Seq("event_type"))
    Compiler.runSorted(Tables.events(s, dir), q)
      .select(col("event_type"), col("max_value"), col("min_value"),
        round6("p50_value"))
  }

  /** A5 count_distinct with the reference's +1-for-nil bucket (lib.rs:626-635). */
  private def a5CountDistinctNil(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("etype_n", nullif(col("event_type"), lit("purchase")))
      .withColumn("bucket", col("user_id") % 10)
    val q = ZxQuery(
      selects = Seq(Select(Agg.CountDistinct, "etype_n"),
        Select(Agg.CountDistinct, "user_id")),
      groupBy = Seq("bucket"))
    Compiler.runSorted(ev, q)
  }

  /** G1 under skew: the salted two-phase aggregation, reached through the
    * main compiler via `ZxQuery.skewSalt` — same semantics as the plain
    * groupBy (the oracle IS the unsalted query), hot keys spread across 16
    * reducers. */
  private def g2SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Min, "value"), Select(Agg.Max, "value")),
      groupBy = Seq("event_type"),
      skewSalt = Some(16))
    Compiler.runSorted(Tables.events(s, dir), q)
      .select(col("event_type"), round3("sum_value"), round3("count_value"),
        col("min_value"), col("max_value"))
      .withColumn("mean_value", stableMean("sum_value", "count_value"))
  }

  /** g3: the OPEN-SCHEMA encoding from SURVEY §1.5(b) — the reference's
    * truly schemaless face: `props` parsed as map<string,string> (columns
    * spring into existence per row, no DDL), a dynamic key accessed by
    * name, its value numeric-parsed lazily AT OPERATOR TIME (the
    * reference's parse-on-demand, lib.rs:566-572), and a key absent from
    * every row grouping under the `__nil` sentinel exactly like sparse
    * reference rows (lib.rs:547-551). The map parse is a narrow codegen'd
    * projection; everything after is the ordinary one-exchange agg. */
  private def g3OpenSchema(s: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"), MapType(StringType, StringType))
    Tables.events(s, dir)
      .select(col("event_type"),
        coalesce(try_element_at(m, lit("region")), lit("__nil")).as("region"),
        try_element_at(m, lit("k")).cast(DoubleType).as("__k"))
      .groupBy(col("event_type"), col("region"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__k")), 3).as("sum_k"),
        round(avg(col("__k")), 6).as("mean_k"))
  }

  // ------------------------------------------------------- A7/A8: timeseries

  /** A7 heatmap — 2-D time×value histogram (declared lib.rs:133-143). */
  private def a7Heatmap(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(selects = Nil, granularitySec = 86400L)
    Compiler.heatmap(Tables.events(s, dir), q, "value", 0.0, 250.0, 10)
      .select(col("t_bucket"), col("v_bucket"), round3("weight"), col("n"))
  }

  /** A8 windowed aggregation (lib.rs:665-732) — calendar-aligned tumbling
    * 1h windows; one shuffle on (group, window) key. */
  private def a8Window(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L)
    Compiler.runUnsorted(Tables.events(s, dir), q)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("sum_value"), round3("count_value"))
      .withColumn("mean_value", stableMean("sum_value", "count_value"))
  }

  /** st_filter ≡ a8d through the streaming windowed aggregator —
    * filtered aggregates and bool_or fold per micro-batch exactly like
    * their batch forms (same CASE measures, same partial merge), so
    * batch == stream per finalized window, hash-checked via a8d's
    * oracle. */
  private def stFilter(s: SparkSession, dir: String): DataFrame = {
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-filter") {
      stream => graft.sql.ZxSql.runStream(stream,
        "select sum(value) filter (where value > 100) as hot_sv, " +
          "count(*) filter (where user_id % 2 = 0) as even_n, " +
          "bool_or(value > 300) as spiked, count(*) as n " +
          "group by event_type granularity 3600",
        watermark = "0 seconds")
    }
    notSentinel(out)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("hot_sv"), round3("even_n"), col("spiked"), round3("n"))
  }

  /** st_having ≡ a8c through the streaming windowed aggregator: the
    * boolean HAVING tree filters each micro-batch's FINALIZED windows
    * (append mode — a group emits once, after the watermark passes), so
    * batch == stream per window, hash-checked via a8c's oracle. */
  private def stHaving(s: SparkSession, dir: String): DataFrame = {
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-having") {
      stream => graft.sql.ZxSql.runStream(stream,
        "select sum(value) as sv, count(*) as n group by event_type " +
          "having (mean(value) > 55 or max(value) > 320) " +
          "and not min(value) < 1 granularity 3600",
        watermark = "0 seconds")
    }
    notSentinel(out)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("sv"), round3("n"))
  }

  // ----------------------------------------------------------- O1: top groups

  /** O1 aggregate-then-sort, the "top groups" path (lib.rs:222-246, 735-784)
    * — wired end-to-end (the reference's SQL path never reaches it). */
  private def o1TopGroups(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"),
      orderBy = Seq(OrderBy(Select(Agg.Sum, "value"), SortDir.Desc)))
    Compiler.runSorted(Tables.events(s, dir), q)
      .select(col("event_type"), round3("sum_value"), round3("count_value"))
  }

  /** A8 exact reference parity: data-anchored gap windows via the
    * [[graft.operators.GapWindows]] secondary-sort operator. Hard oracle:
    * [[gapWindowOracle]] replays the identical walk in DuckDB (recursive CTE
    * over per-group event lists) with bit-identical scalar arithmetic, so
    * the unrounded doubles hash-match; semantics are additionally pinned by
    * FixtureSpec golden tests on the reference fixture. */
  private def a8GapWindow(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Mean, "value")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L)
    graft.operators.GapWindows(Tables.events(s, dir), q, idCol = Some("event_id"))
  }

  /** a8b: the SAME gap windows as a8 through the run-decomposed PARALLEL
    * walk ([[graft.operators.GapWindows.parallel]]) — identical oracle
    * SQL, so a hash match proves the decomposition (restart the walk at
    * every predecessor-gap > granularity, a provable anchor) is exact.
    * This is the skew answer for the one remaining sequential stage in
    * the windowed family: the walk fans out across (group, run) instead
    * of serializing per group. */
  private def a8bGapRuns(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Mean, "value")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L)
    graft.operators.GapWindows.parallel(Tables.events(s, dir), q, idCol = Some("event_id"))
  }

  /** a9b: the SAME sessions through the two-level skew plan
    * (Compiler.runSessionTwoLevel via skewSalt) — level 1 sessionizes per
    * (group, salt) slice, level 2 merges partial-session INTERVALS with a
    * dynamic gap; window boundaries are provably identical to a9's.
    * Values are pre-quantized to 2^-20 fixed point so the re-associated
    * two-level sums stay exact integers (order-independent, engine-exact)
    * — the oracle replays plain sessionization over the same quantized
    * values, so a hash match proves the two plans agree window-for-window
    * AND value-for-value. */
  private def a9bSessionSalted(s: SparkSession, dir: String): DataFrame = {
    import graft.ir._
    val ev = Tables.events(s, dir)
      .withColumn("value", floor(col("value") * lit(1048576.0)) / lit(1048576.0))
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"), sessionGapSec = Some(300L), skewSalt = Some(16))
    Compiler.runSession(ev, q)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("sum_value"), round3("count_value"))
  }

  // ------------------------------------------- st: streaming oracle replays

  private def notSentinel(out: DataFrame): DataFrame =
    out.filter(col("event_type") =!= graft.streaming.StreamReplay.SentinelType)

  /** st: the streaming family's DRIVER-ORACLE rows. Until round 10 the
    * streaming operators were pinned only by batch-vs-stream parity specs —
    * a bug shared by both sides (say, in `Tables` normalization) would pass
    * parity while diverging from truth. Each st_* row replays the sf
    * events parquet as a file-source stream through the streaming operator
    * ([[graft.streaming.StreamReplay]]: stage + far-future sentinel → one
    * micro-batch → watermark-driven no-data finalization → parquet sink)
    * and hashes the sink against the SAME DuckDB oracle as the batch row.
    * st_tumbling ≡ a8_window's query through [[graft.streaming.EventStream
    * .windowedAgg]]. */
  private def stTumbling(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L)
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-tumbling") {
      stream => graft.streaming.EventStream.windowedAgg(stream, q, "0 seconds")
    }
    notSentinel(out)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("sum_value"), round3("count_value"))
      .withColumn("mean_value", stableMean("sum_value", "count_value"))
  }

  /** st_session ≡ a9_session's query through [[graft.streaming.EventStream
    * .sessionAgg]] (native `session_window` with merging state): closed
    * sessions hash against the batch row's lag/cumsum oracle. */
  private def stSession(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"), sessionGapSec = Some(300L))
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-session") {
      stream => graft.streaming.EventStream.sessionAgg(stream, q, "0 seconds")
    }
    notSentinel(out)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("sum_value"), round3("count_value"))
  }

  /** st_hopping ≡ a10_hopping's query through [[graft.streaming.EventStream
    * .hoppingAgg]] (sliding `window()` — Expand before one aggregation). */
  private def stHopping(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L, slideSec = Some(900L))
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-hopping") {
      stream => graft.streaming.EventStream.hoppingAgg(stream, q, "0 seconds")
    }
    notSentinel(out)
      .select(col("event_type"), col("w_start"), col("w_end"),
        round3("sum_value"), round3("count_value"))
  }

  /** st_heatmap ≡ a7_heatmap's query through [[graft.streaming.EventStream
    * .heatmapAgg]] — the FIXED-bounds streaming heatmap with a7's adaptive
    * bounds supplied explicitly ([0, 250) × 10, the values a7's oracle
    * hardcodes), so the one previously spec-only streaming aggregation
    * shape also hashes against the driver oracle. */
  private def stHeatmap(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(selects = Nil, granularitySec = 86400L)
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-heatmap") {
      stream => graft.streaming.EventStream.heatmapAgg(stream, q, "value",
        lo = 0.0, hi = 250.0, buckets = 10, watermark = "0 seconds")
    }
    // the sentinel's value is null → filtered by the heatmap's isNotNull;
    // its window never closes anyway. Same post-select as a7.
    out.select(col("t_bucket"), col("v_bucket"), round3("weight"), col("n"))
  }

  /** st_gap ≡ a8_gap_window's query through [[graft.streaming
    * .GapWindowStream]] — the custom flatMapGroupsWithState walk. The
    * whole replay lands in ONE micro-batch processed under the initial
    * watermark, so the no-data batch folds every group's events in a
    * single (ts, event_id)-ordered walk invocation: bit-for-bit the batch
    * serial walk, hashed UNROUNDED against the same recursive-CTE oracle.
    * The `idCol` tiebreak is load-bearing: same-second events must fold in
    * the exact order the oracle replays. */
  private def stGap(s: SparkSession, dir: String): DataFrame = {
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Mean, "value")),
      groupBy = Seq("event_type"),
      granularitySec = 3600L)
    val out = graft.streaming.StreamReplay.replayEvents(s, dir, "st-gap") {
      stream => graft.streaming.GapWindowStream(stream, q, "0 seconds",
        idCol = Some("event_id")).toDF()
    }
    notSentinel(
      out.select(element_at(col("key"), 1).as("event_type"),
        col("w_start"), col("w_end"),
        element_at(col("values"), 1).as("sum_value"),
        element_at(col("values"), 2).as("count_value"),
        element_at(col("values"), 3).as("mean_value")))
  }

  // ------------------------------------------------------- P1: SQL front door

  /** P1 + j2: the as-of join reached from the QUERY LANGUAGE — same
    * single-exchange AsofJoin plan as j2, same oracle shape (DuckDB native
    * ASOF LEFT JOIN), but driven by SQL text + a table catalog. */
  private def p4SqlAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_sec", col("ts").cast(LongType))
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey"),
        col("o_orderdate").cast(TimestampType).cast(LongType).as("od_sec"),
        col("o_orderkey"), col("o_totalprice"))
    graft.sql.ZxSql.run(ev,
      "select event_id, user_id, value, ts_sec " +
        "asof join orders on user_id = o_custkey at ts_sec >= od_sec " +
        "carry o_orderkey, o_totalprice",
      tables = Map("orders" -> ord))
  }

  /** P1 + j3: the trailing range join from SQL — activity over the trailing
    * hour per user, one range-frame window (no non-equi join). */
  private def p5SqlTrailing(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .withColumn("ts_sec", col("ts").cast(LongType))
    val act = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts").cast(LongType).as("ts_sec"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    graft.sql.ZxSql.run(ev,
      "select event_id, user_id, ts_sec " +
        "trailing join activity on user_id = user_id at ts_sec >= ts_sec " +
        "within 3600 agg count(r_event_id), sum(r_value)",
      tables = Map("activity" -> act))
      .withColumn("sum_r_value",
        coalesce(round(col("sum_r_value"), 3), lit(0.0)))
  }

  /** p61: COMPOSITE-key as-of join from SQL — `on user_id = r_user and
    * event_type = r_type`, the (user, device)-style pair key a real
    * events store sessionizes on. Both sides compile into ONE struct key
    * (single exchange kept); right-side versions are a derived per-
    * (user, type) mark table passed via the catalog, deduped by the
    * max-payload rule; DuckDB replays with its native multi-key ASOF
    * LEFT JOIN. */
  private def p61SqlAsofComposite(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_sec", col("ts").cast(LongType))
    val marks = Tables.events(s, dir).select(
      col("user_id").as("r_user"), col("event_type").as("r_type"),
      col("ts").cast(LongType).as("r_ts"), col("value").as("r_value"))
    graft.sql.ZxSql.run(ev,
      "select event_id, user_id, event_type, ts_sec " +
        "asof join marks on user_id = r_user and event_type = r_type " +
        "at ts_sec >= r_ts carry r_value",
      tables = Map("marks" -> marks))
  }

  /** st_asof: the COMPOSITE-key broadcast asof as a full hash-verified
    * STREAMING lifecycle (round 14 — the feature's spec-only parity gap
    * closed the way the st_* family closes everything: stage → stream →
    * sink → read back vs the batch oracle on the ORIGINAL data). The
    * dimension is one latest-version row per (user, type) pair bounded
    * by construction (user_id < 500 → ≤ 500 × |types| plan-resident
    * rows at EVERY SF); the probe is the stateless struct-keyed map, so
    * the whole stream is a narrow projection — no watermark, no state.
    * The `user_id >= 0` gate excludes the replay sentinel on the engine
    * side and is a no-op on the oracle's original data. */
  private def stAsof(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("r_user"), col("r_type"))
      .orderBy(col("r_ts").desc, col("r_value").desc_nulls_last)
    val marks = Tables.events(s, dir)
      .filter(col("user_id") < 500)
      .select(col("user_id").as("r_user"), col("event_type").as("r_type"),
        col("ts").cast(LongType).as("r_ts"), col("value").as("r_value"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    graft.streaming.StreamReplay.replayEvents(s, dir, "st-asof") { stream =>
      graft.sql.ZxSql.runStream(
        stream.withColumn("ts_sec", col("ts").cast(LongType)),
        "select event_id, user_id, event_type, ts_sec " +
          "asof join marks on user_id = r_user and event_type = r_type " +
          "at ts_sec >= r_ts carry r_value " +
          "where user_id >= 0",
        tables = Map("marks" -> marks))
    }
  }

  /** P1 + c13: one-pass profiling from SQL — columns classified
    * numeric/string/timestamp from the input schema at run time, WHERE
    * composing ahead of the single aggregation. */
  private def p15SqlProfile(s: SparkSession, dir: String): DataFrame =
    graft.sql.ZxSql.run(Tables.events(s, dir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts"),
      "select profile user_id, value, event_type, ts " +
        "from events where event_type = 'click'")

  /** o3: top-N per group — the grouped companion of top-k: the 3 longest
    * docs per source via a rank window whose rn ≤ 3 filter compiles to
    * per-partition WindowGroupLimit (each partition forwards ≤ N rows per
    * group to the single shuffle — plan shape shared with s6). */
  private def o3TopPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  // ------------------------------------------- beyond-reference: TPC-H-style

  /** TPC-H Q1-style pricing summary: codegen'd scan→filter→partial-agg→final
    * agg, one shuffle. DECIMAL sums for engine-exact results. */
  private def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        ).cast(DoubleType).as("sum_disc"),
        count(lit(1)).as("n"))
  }

  /** Broadcast-join chain: lineitem ⨝ orders (shuffle on the fact keys) ⨝
    * broadcast(customer) ⨝ broadcast(nation) — the 100 TB join shape: only
    * the two fact tables shuffle; dims ship to executors. */
  private def j1RevenueNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast(TimestampType))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"), count(lit(1)).as("n"))
  }

  /** TPC-H Q3 shape: the SELECTIVE fact-fact join — both fact sides carry
    * a date filter before the join, so the join input is a fraction of
    * either table and the strategy choice (sort-merge vs broadcast) is
    * exactly the call AQE exists to make at runtime: no join hints here,
    * the filtered orders side's ACTUAL post-filter size decides (PlanSpec
    * pins the decision). Revenue sums in DECIMAL for engine-exact totals;
    * top-10 by revenue compiles to TakeOrderedAndProject. */
  private def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast(TimestampType)
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue"), col("n_items"))
  }

  /** TPC-H Q4 shape: the EXISTS semi-join — orders in a 6-month window
    * that have at least one line item shipped after the order date,
    * counted by priority. The left-semi join is the 100 TB shape for
    * existence checks: lineitem contributes at most one match per order
    * (no fan-out, no dedup re-aggregation), and the mixed equi+range
    * condition stays inside the one hash join. */
  private def q4Priority(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast(TimestampType)
    val hi = lit("1997-07-01").cast(TimestampType)
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q21 shape (adapted to this schema: `l_returnflag = 'R'` stands
    * in for the missing receipt-past-commit lateness): per nation, the
    * late line items whose supplier was the ONLY late shipper in a
    * multi-supplier order — EXISTS and NOT EXISTS against the SAME fact,
    * the one TPC-H pattern that stacks a left-SEMI and a left-ANTI join
    * with mixed equi+non-equi conditions (`same order, different
    * supplier`) on one fact scan. Both subquery sides reduce to
    * (orderkey, suppkey) projections, so each hash-join side ships two
    * longs per row; the dimension chain (orders status filter, supplier,
    * nation) broadcasts. PlanSpec pins the semi+anti pair and that no
    * join degenerated into a cartesian. */
  private def q21Waiting(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val late = l.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey")
    val others = l.select(col("l_orderkey").as("o2_orderkey"),
      col("l_suppkey").as("o2_suppkey"))
    val lateOthers = l.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o3_orderkey"),
        col("l_suppkey").as("o3_suppkey"))
    late
      .join(others, col("o2_orderkey") === col("l_orderkey") &&
        col("o2_suppkey") =!= col("l_suppkey"), "left_semi")
      .join(lateOthers, col("o3_orderkey") === col("l_orderkey") &&
        col("o3_suppkey") =!= col("l_suppkey"), "left_anti")
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select("o_orderkey"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_nationkey")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numwait"),
        countDistinct(col("s_name")).as("n_suppliers"))
      .orderBy(col("numwait").desc, col("n_name"))
  }

  /** TPC-H Q13 shape: the LEFT OUTER distribution — how many customers
    * placed k orders, INCLUDING the zero-order customers only an outer
    * join can see. Two aggregations: per-customer order count (the outer
    * join's null o_orderkey counts as 0 — count(col) skips nulls), then
    * the count distribution. The right side is pre-filtered (equivalent to
    * the ON-clause filter for a left outer join); both shuffles carry only
    * keys+counts. Deterministic total order by (custdist, c_count) desc. */
  private def q13Custdist(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17 shape: the CORRELATED AGGREGATE — line items priced below
    * 20% of their own part's average order quantity, summed per brand.
    * The textbook decorrelation re-aggregates the fact table and joins it
    * back (two scans of the fact slice); here the correlated subquery
    * DISAPPEARS into a window over the same key instead — the dimension
    * filter broadcasts into one fact scan, the per-part average rides a
    * single l_partkey exchange, and the threshold filter is a narrow map
    * over that window's output. One scan, one wide shuffle, no self-join
    * (PlanSpec pins both). Quantity thresholds stay engine-exact
    * (integer-valued doubles sum exactly in any order); revenue sums in
    * DECIMAL before one deterministic double division. */
  private def q17AvgYearly(s: SparkSession, dir: String): DataFrame = {
    val pf = Tables.part(s, dir)
      .filter(col("p_size") <= 10)
      .select("p_partkey", "p_brand")
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val byPart = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    li.join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      .withColumn("__thr", avg(col("l_quantity")).over(byPart) * 0.2)
      .filter(col("l_quantity") < col("__thr"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType) / 7.0, 2).as("avg_yearly"))
  }

  /** TPC-H Q18 shape: the AGGREGATE-FILTERED semi join (large-volume
    * customers). The textbook plan scans lineitem twice — once under the
    * HAVING subquery, once re-joined for the final sum; here the
    * subquery's aggregate IS the final answer, so lineitem is scanned and
    * shuffled exactly once, the (tiny) hot-order set rides an AQE
    * broadcast into orders, and the top-10 compiles to
    * TakeOrderedAndProject. Quantity sums are integer-valued doubles
    * (exact in any order); ties break on the unique order key. */
  private def q18LargeVolume(s: SparkSession, dir: String): DataFrame = {
    val hot = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    ord.join(hot, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
  }

  /** TPC-H Q5 shape: the CYCLIC multi-way star — customer, orders,
    * lineitem, supplier, nation, region, with the join graph's one cycle
    * (`c_nationkey = s_nationkey`: revenue only counts when the supplier
    * sits in the customer's own nation). The 100 TB layout: the two fact
    * tables (lineitem, orders) meet in the one key shuffle; customer rides
    * the o_custkey exchange; supplier and the region-filtered nation chain
    * BROADCAST, and the cycle closes as a second equi-key pair
    * (`s_suppkey = l_suppkey AND s_nationkey = c_nationkey`) INSIDE the
    * broadcast hash join — composite equi-keys keep it a hash join, never
    * a nested loop (PlanSpec pins no cartesian and the broadcast count). */
  private def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast(TimestampType)
    val hi = lit("1997-01-01").cast(TimestampType)
    val natAsia = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q12 shape (l_linestatus stands in for the schema's missing
    * l_shipmode): CONDITIONAL aggregation over a fact-fact join — the
    * CASE moves the priority split INTO the aggregate instead of two
    * filtered scans, so orders⨝lineitem runs once and both counters ride
    * the same partial-agg. The join input is date-bounded on the lineitem
    * side only; at 100 TB the o_orderkey hash join is the single wide
    * exchange and the CASE costs nothing (codegen'd branch in the
    * partial-agg update). */
  private def q12PriorityClass(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast(TimestampType)
    val hi = lit("1998-01-01").cast(TimestampType)
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_returnflag") === "N")
      .select("l_orderkey", "l_linestatus")
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q14 shape: the conditional-aggregate RATIO (promo revenue
    * share) — one month of lineitem joined to the part dimension, both
    * the PROMO-only and total revenue summed in the same pass (CASE inside
    * the aggregate), one scalar row out. The dimension BROADCASTS; there
    * is no wide exchange at all beyond the final 1-row aggregate. Sums
    * are exact DECIMAL; the ratio is one double division at the end, so
    * both engines divide the same two exact values. */
  private def q14PromoRatio(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-03-01").cast(TimestampType)
    val hi = lit("1997-04-01").cast(TimestampType)
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          sum(when(col("p_type") === "PROMO", revenue)
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2)))).cast(DoubleType) /
          sum(revenue).cast(DoubleType)).as("promo_revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q15 shape: the SCALAR-MAX subquery equality (top supplier) —
    * per-supplier revenue for one quarter, keeping every supplier tied at
    * the maximum. The fact table is scanned and shuffled ONCE: the
    * supplier-level aggregate is `localCheckpoint`ed (supplier
    * cardinality, not fact cardinality — cheap executor-local
    * materialization), the global max is a proper partial/final aggregate
    * of that small result (never a single-partition window over the fact),
    * and the equality closes as a broadcast join of the 1-row max.
    * Both engines cast the same exact DECIMAL sum to double, so the
    * max-equality is engine-exact. */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast(TimestampType)
    val hi = lit("1997-04-01").cast(TimestampType)
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_suppkey"))
      .agg(sum(revenue).cast(DoubleType).as("total_rev"))
      .localCheckpoint()
    val mx = rev.agg(max(col("total_rev")).as("__mx"))
    rev.join(broadcast(mx), col("total_rev") === col("__mx"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  /** TPC-H Q7 shape: BIDIRECTIONAL nation-pair volume — supplier nation
    * and customer nation each resolve through their own copy of the
    * nation dimension, and the pair predicate is the classic disjunction
    * `(n1=A ∧ n2=B) ∨ (n1=B ∧ n2=A)`. Plan discipline: both nation
    * copies pre-filter to the TWO named nations and broadcast (2-row
    * dims), so the disjunction evaluates as a codegen'd filter after
    * equi hash joins — the OR never becomes a join condition, so no
    * nested loop can appear. Yearly grouping keys the output. */
  private def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_3", "NATION_7")
    val pair = Seq(na, nb)
    val supNat = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val custNat = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(supNat), col("s_nationkey") === col("sn_key"))
      .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(sum(revenue).cast(DoubleType).as("volume"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q11 shape: HAVING against a GLOBAL scalar — per-part revenue
    * kept only where it beats 1.3× the MEAN part revenue. (Textbook Q11
    * thresholds on a fixed fraction of the total, which degenerates as
    * part count scales — all-pass at sf0.001, empty at sf0.1; a
    * mean-multiple is the scale-free equivalent.) The fact is scanned
    * and shuffled ONCE: the per-part DECIMAL aggregate is
    * `localCheckpoint`ed, the global total and part count are
    * re-aggregated FROM those part sums (exact — decimal addition is
    * associative, so Σ_parts Σ_rows ≡ Σ_rows), and the threshold closes
    * as a 1-row broadcast. The compare stays in DECIMAL
    * (`10·part·n > 13·total`, division-free), so both engines decide
    * each part identically; doubles appear only in the output column. */
  private def q11PartConcentration(s: SparkSession, dir: String): DataFrame = {
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(revenue).as("__part_val"))
      .localCheckpoint()
    val total = perPart.agg(sum(col("__part_val")).as("__total"),
      count(lit(1)).as("__np"))
    perPart.join(broadcast(total),
        col("__part_val") * col("__np") * lit(10) > col("__total") * lit(13))
      .select(col("l_partkey"),
        col("__part_val").cast(DoubleType).as("part_value"))
  }

  /** TPC-H Q19 shape: the OR-of-ANDs predicate STRADDLING the join —
    * three (brand, size-range, quantity-range) baskets where each
    * disjunct mixes part columns with lineitem columns. The optimizer
    * lesson this pins: Catalyst extracts each side's implied disjunction
    * (`brand∈{...} ∧ size ranges` to the part scan, quantity ranges to
    * the fact scan) from the cross-table OR, so both scans prune BEFORE
    * the join even though no single conjunct is table-local. The
    * dimension broadcasts; the residual OR evaluates post-join in
    * codegen. */
  private def q19BrandBaskets(s: SparkSession, dir: String): DataFrame = {
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    val basket =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#17" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")),
        col("p_partkey") === col("l_partkey"))
      .filter(basket)
      .agg(sum(revenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q22 shape: ANTI JOIN + scalar threshold — customers whose
    * balance beats the positive-balance average and who have placed no
    * URGENT order, bucketed by market segment. (This testdata gives
    * every customer at least one order, so the textbook "no orders at
    * all" predicate is identically empty; anti-joining the filtered
    * subset keeps the same plan shape with live rows.) The average
    * compare is DIVISION-FREE: `bal·n > Σbal` in exact DECIMAL (a raw
    * double avg differs between engines by summation order and could
    * flip a boundary customer), so both engines admit identical
    * customer sets. NOT EXISTS compiles to a LeftAnti hash join on
    * o_custkey; the 1-row stats broadcast. At 100 TB the anti join is
    * the only wide exchange — and the priority filter prunes its build
    * side before the shuffle. */
  private def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val pos = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("__bal"))
      .filter(col("__bal") > lit(BigDecimal(0)).cast(DecimalType(18, 2)))
    val stats = pos.agg(sum(col("__bal")).as("__tot"), count(lit(1)).as("__n"))
    pos.join(broadcast(stats), col("__bal") * col("__n") > col("__tot"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("__bal")).cast(DoubleType).as("totacctbal"))
  }

  /** TPC-H Q6 shape: the ZERO-JOIN forecast — one fact scan, three
    * range predicates, one global sum. The whole query is a pushdown
    * test: every predicate reaches the parquet scan as a PushedFilter
    * (row groups outside the 1997 ship year never decompress), the
    * projection reads exactly four columns, and the only exchange is the
    * 1-row partial→final aggregate. At 100 TB this is the shape whose
    * cost is pure I/O — anything beyond a scan stage is a planner bug.
    * Discounts are 2-decimal multiples in this data, so the DECIMAL
    * cast is exact on both engines. */
  private def q6Forecast(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast(TimestampType)
    val hi = lit("1998-01-01").cast(TimestampType)
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q10 shape: returned-revenue TOP-20 — customers ranked by the
    * revenue they returned in one quarter. The group keys carry the
    * whole customer row (key + name + balance + nation), which is the
    * realistic reporting shape: wide keys ride the SAME single exchange
    * as the key alone because c_custkey determines the rest. Top-20 is
    * TakeOrderedAndProject (never a global sort), revenue ties broken by
    * c_custkey so both engines pick an identical row set. At 100 TB the
    * returnflag + quarter filters prune the fact before its only wide
    * shuffle; customer and nation broadcast. */
  private def q10Returned(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast(TimestampType)
    val hi = lit("1997-04-01").cast(TimestampType)
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q9 shape: product-line PROFIT by (nation, year) — the
    * contains-LIKE part filter plus a two-term money expression
    * (revenue MINUS cost, where `p_retailprice · l_quantity` stands in
    * for the schema's missing ps_supplycost). The `%gear%` predicate
    * cannot prune parquet row groups (no prefix), so the plan lesson is
    * that it still evaluates INSIDE the scan stage before the join, and
    * the filtered part dim broadcasts. Quantities are integral doubles,
    * so the DECIMAL cast of both money terms is exact and the subtraction
    * engine-independent. One wide exchange: the (nation, year) agg. */
  private def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val amount = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))) -
      (col("p_retailprice").cast(DecimalType(18, 2)) *
        col("l_quantity").cast(DecimalType(18, 2)))
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate")
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").contains("gear"))
          .select("p_partkey", "p_retailprice")),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast(LongType).as("o_year"))
      .agg(sum(amount).cast(DoubleType).as("profit"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q8 shape: MARKET SHARE — a 7-table join (both nation roles
    * plus region) feeding a conditional-aggregate RATIO: the focal
    * nation's volume over total volume per order year. The CASE rides
    * the same partial agg as the total (one exchange, two counters), so
    * the share costs nothing over the plain sum — the same lesson as
    * Q12/Q14 but over the full star. Division determinism follows the
    * stableMean discipline: both sums are DECIMAL-exact, rounded at 3dp
    * as doubles, and only then divided and rounded at 6dp, so a tie can
    * never fall on different sides per engine. */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast(TimestampType)
    val hi = lit("1998-01-01").cast(TimestampType)
    val focal = "NATION_3"
    val revenue = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
    val custEurope = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "STANDARD")
          .select("p_partkey")),
        col("p_partkey") === col("l_partkey"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(custEurope, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === focal, revenue)
          .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 2))))
          .cast(DoubleType), 3).as("nation_volume"),
        round(sum(revenue).cast(DoubleType), 3).as("total_volume"))
      .withColumn("mkt_share",
        round(col("nation_volume") / col("total_volume"), 6))
  }

  /** TPC-H Q2 shape: the CORRELATED MIN over a join tree — for each
    * sized part, the AMERICA suppliers whose unit cost ties the per-part
    * minimum (unit price over lineitem stands in for the schema's
    * missing ps_supplycost). Decorrelated the same way as Q17 but over
    * a JOIN, not a bare table: the supplier⨝nation⨝region chain
    * broadcasts into ONE fact scan, the per-part min rides a window
    * over the already-joined rows, and the tie filter is a narrow map —
    * the textbook form re-runs the whole join inside the subquery and
    * self-joins the results (two scans, two exchange trees). Unit cost
    * is one IEEE double division of identical operands per engine, and
    * min/equality over identical bit patterns — exact parity without
    * any rounding until the output column. */
  private def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    val supAmerica = Tables.supplier(s, dir)
      .select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name")
    val offers = Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(broadcast(Tables.part(s, dir).filter(col("p_size") === 15)
          .select("p_partkey")),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(supAmerica), col("l_suppkey") === col("s_suppkey"))
      .withColumn("unit_cost", col("l_extendedprice") / col("l_quantity"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
    offers
      .withColumn("__min_uc", min(col("unit_cost")).over(w))
      .filter(col("unit_cost") === col("__min_uc"))
      .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"))
      .agg(round(min(col("unit_cost")), 6).as("unit_cost"))
  }

  /** TPC-H Q16 shape: DISTINCT-COUNT over a join with a NOT-IN
    * exclusion — how many distinct suppliers serve each surviving
    * (brand, type, size) bucket, excluding "complaint" suppliers
    * (negative balance stands in for the schema's missing comment
    * column). The exclusion is a LeftAnti against a 6-row broadcast;
    * the distinct count plans as the two-level aggregate (partial
    * distinct on (bucket, supplier), then count) — never an Expand,
    * never a self-join. At 100 TB the anti probe costs nothing and the
    * only wide exchange is the bucket agg, keyed fine enough (25 brands
    * × 6 types × 8 sizes) to spread. Lineitem is the part-supplier
    * relationship, as in Q11. */
  private def q16SupplierCount(s: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 9, 14, 23, 36, 45, 49)
    val complainers = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#12" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(sizes: _*))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(complainers), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q20 shape: SEMI JOIN whose right side is an AGGREGATED
    * subquery — ASIA suppliers who moved serious volume (>45 units of
    * one promo part in 1997; the per-pair shipped sum stands in for the
    * schema's missing ps_availqty threshold). The HAVING aggregate runs
    * BEFORE the semi probe, so the probe side is already collapsed to
    * distinct supplier keys — the fact's only exchange is the
    * (supplier, part) agg, and the supplier table is probed with a
    * LeftSemi (each supplier emitted once, no fan-out, no dedup
    * re-agg). Quantity sums are integral doubles (< 2^53), so the
    * threshold is engine-exact without casts. */
  private def q20PromoVolume(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast(TimestampType)
    val hi = lit("1998-01-01").cast(TimestampType)
    val movers = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")
          .select("p_partkey")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("__qty"))
      .filter(col("__qty") > 45)
      .select("l_suppkey")
    Tables.supplier(s, dir)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(movers, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"),
        round(col("s_acctbal"), 3).as("s_acctbal"))
  }

  /** c2: the full training-shard pipeline in ONE declarative DAG —
    * benchmark decontamination (anti-join on the contaminated set), the c1
    * quality+language gate, canonical exact-dedup, token-budget packing
    * into ~2000-token shards, and per-shard stats. At 100 TB: the decon
    * probe is a broadcast, the gates fuse into the scan, and the only wide
    * shuffles are the dedup window, the packing window, and the final
    * stats agg. */
  private def c2Shards(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val docs = Tables.documents(s, dir)
    val bench = col("source").isin("src0", "src1")
    val contaminated = graft.operators.Decontaminate
      .overlapReport(docs, bench, shingleN = 5)
      .filter(col("contaminated")).select(col("doc_id"))
    val gated = docs.filter(!bench)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        tokens(col("text")).as("__toks"))
      .filter(qualityOk(col("text")) &&
        langIdFromTokens(col("__toks")) === col("lang"))
    val canonical = gated
      .withColumn("__minid", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(fingerprint(col("text")))))
      .filter(col("doc_id") === col("__minid"))
    graft.operators.Corpus.packByTokenBudget(canonical, 2000L,
        tokensCol = size(col("__toks")))
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Rows, value sum and distinct users per event date: the read-back
    * the store lifecycle rows hand their oracles. */
  private def dailyTally(df: DataFrame): DataFrame =
    df.groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 3).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** Bytes of the files the store's current manifest lists. */
  private def manifestedBytes(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    graft.sources.EventStore.manifestFiles(s, path).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** The lowest eighth of `ev`'s user_id range, as (uMin, uHi): the
    * selective user filter the layout rows gate on. */
  private def userSlice(ev: DataFrame): (Long, Long) = {
    val mm = ev.agg(min("user_id"), max("user_id")).head()
    val (uMin, uMax) = (mm.getLong(0), mm.getLong(1))
    (uMin, uMin + math.max(1L, (uMax - uMin) / 8))
  }

  /** Files the planned parquet scans of `df` read, after partition and
    * sidecar pruning (`inputFiles` lists every file a read binds). */
  private[graft] def scannedFiles(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collect {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
        scan.selectedPartitions.totalNumberOfFiles
    }.sum

  /** The pinned read of `path` under `filter`; fails unless its planned
    * scan reads fewer files than the manifest lists. */
  private def prunedRead(s: SparkSession, path: String, filter: Column,
                         what: String): DataFrame = {
    val pruned = graft.sources.EventStore.readPinned(s, path).filter(filter)
    val n = scannedFiles(pruned)
    require(n < graft.sources.EventStore.manifestFiles(s, path).size,
      s"$what pruning must scan fewer files, scanned $n")
    pruned
  }

  /** Per (event_type, day): the sum of `sign` and of `sign` times the
    * fixed-point value floor(value·2^20) — exact in LONG, so signed
    * partials merge in any order ([[mergeTallies]]). */
  private def signedTally(df: DataFrame, sign: Column): DataFrame = {
    val fp = floor(coalesce(col("value"), lit(0.0)) * lit(1048576.0)).cast(LongType)
    df.select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        fp.as("__fv"), sign.as("__s"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("__s")).as("n"), sum(col("__s") * col("__fv")).as("sum_fp"))
  }

  /** A change feed's signed tally: inserts count +1, deletes −1. */
  private def feedTally(feed: DataFrame): DataFrame =
    signedTally(feed, when(col("_change_type") === "insert", 1L).otherwise(-1L))

  /** Two signed tallies summed per (event_type, day). */
  private def mergeTallies(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("sum_fp")).as("sum_fp"))

  /** c3: ingest-then-compact round trip — commit a store copy fragmented
    * into four files per date (the micro-batch pattern that breeds small
    * files), run [[graft.sources.EventStore.compactInPlace]], and prove
    * content preservation by aggregating the COMPACTED store, through the
    * pinned read, against the original table's oracle. The require fails
    * the query loudly if compaction didn't actually reduce any
    * partition's file count — so the oracle row only goes green when the
    * maintenance op both rewrote files AND preserved every row. */
  private def c3Compact(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "compact", dir)
    // first 6 days only: enough partitions to prove the mechanics
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    // repartition(4) fragments every date dir into 4 files in ONE write —
    // the same layout 4 micro-batch appends produce, at a quarter of the
    // job count
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    val stats = graft.sources.EventStore.compactInPlace(s, path)
    require(stats.nonEmpty && stats.forall(p => p.filesAfter < p.filesBefore),
      s"compact must reduce file counts, got: $stats")
    dailyTally(graft.sources.EventStore.readPinned(s, path))
  }

  /** c5: the MANIFESTED maintenance cycle, oracle-checked end-to-end —
    * commit a fragmented store copy, compact in place (no live
    * file ever renamed away; the manifest swap is the commit point),
    * vacuum the replaced inputs, then aggregate via the PINNED read
    * against DuckDB on the original table. Requires fail the query loudly
    * if compaction didn't reduce files, if vacuum didn't reclaim exactly
    * the replaced inputs, or if debris survived — so the row is only green
    * when the whole protocol ran and preserved every byte. */
  private def c5ManifestCompact(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "manifest", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    val stats = graft.sources.EventStore.compactInPlace(s, path)
    require(stats.nonEmpty && stats.forall(p => p.filesAfter < p.filesBefore),
      s"compactInPlace must reduce file counts, got: $stats")
    val deleted = graft.sources.EventStore.vacuum(s, path)
    require(deleted.size == stats.map(_.filesBefore).sum,
      s"vacuum must reclaim exactly the replaced inputs, got ${deleted.size}")
    dailyTally(graft.sources.EventStore.readPinned(s, path))
  }

  /** c6: z-order clustered rewrite, oracle-checked end-to-end — fragment a
    * store copy in ingest order, manifest it, cluster on (user_id, ts) via
    * [[graft.sources.ZOrder]], vacuum the replaced files, then aggregate
    * through the PINNED read against DuckDB on the original table. The
    * requires fail the query loudly unless the clustered layout admits
    * strictly fewer row groups for a selective user filter than the
    * ingest-ordered layout did (parquet footer min/max stats — the actual
    * skipping mechanism at scan time), so the row is only green when the
    * layout op both improved skipping AND preserved every row. */
  private def c6ZOrder(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "zorder", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    // repartition(4): hash-random files, i.e. every file spans the whole
    // user space — the layout ingest naturally produces
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    val (uMin, uHi) = userSlice(ev)
    val linear = graft.sources.ZOrder.rowGroupStats(s,
      graft.sources.EventStore.manifestFiles(s, path), "user_id", uMin, uHi)
    // ~24 output files at every SF: enough z-granularity that the skip
    // requirement is meaningful at sf0.001 without a fixed-size guess
    val stats = graft.sources.EventStore.clusterInPlace(s, path, "user_id", "ts",
      targetBytes = math.max(1L, manifestedBytes(s, path) / 24))
    require(stats.filesAfter > 1, s"clustered layout must be multi-file: $stats")
    val zed = graft.sources.ZOrder.rowGroupStats(s,
      graft.sources.EventStore.manifestFiles(s, path), "user_id", uMin, uHi)
    require(zed.admittedRowGroups < linear.admittedRowGroups,
      s"z-order must admit strictly fewer row groups: $linear -> $zed")
    val deleted = graft.sources.EventStore.vacuum(s, path)
    require(deleted.nonEmpty, "the replaced ingest-order files must be reclaimed")
    dailyTally(graft.sources.EventStore.readPinned(s, path))
  }

  /** c6b: THREE-dimensional z-order (VERDICT r9 "what's missing" #4 — the
    * 100 TB observability case clusters (service, user, time), not a
    * pair). `svc` is a synthetic 16-value service id derived from
    * event_id (decorrelated from user_id, so neither filter's skip can
    * ride the other's clustering). After one 3-dim clustered rewrite,
    * BOTH a single-service filter AND a user-range filter admit strictly
    * fewer row groups than the ingest layout — require-gated separately.
    * Finer targetBytes than c6 (bytes/64): each added Morton dimension
    * halves per-dim resolution at a fixed file count, so a 3-dim layout
    * needs more files before every dimension's top bits differentiate —
    * the honest cost of the third dimension, stated in SURVEY. */
  private def c6b3dZOrder(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "zorder3", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("svc", pmod(col("event_id"), lit(16)))
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    val (uMin, uHi) = userSlice(ev)
    def audit(column: String, lo: Long, hi: Long) =
      graft.sources.ZOrder.rowGroupStats(s,
        graft.sources.EventStore.manifestFiles(s, path), column, lo, hi)
    val linU = audit("user_id", uMin, uHi)
    val linS = audit("svc", 3L, 3L)
    graft.sources.EventStore.clusterInPlace(s, path,
      Seq("svc", "user_id", "ts"), targetBytes = math.max(1L, manifestedBytes(s, path) / 64))
    val zedU = audit("user_id", uMin, uHi)
    val zedS = audit("svc", 3L, 3L)
    // gate on admitted ROWS, not row-group counts: the clustered layout
    // has many more (finer) row groups, so group counts aren't comparable
    // across layouts — the scan fraction is what the layout buys
    require(zedS.admittedRows < linS.admittedRows,
      s"3-dim z-order must improve the SERVICE slice: $linS -> $zedS")
    require(zedU.admittedRows < linU.admittedRows,
      s"3-dim z-order must improve the USER slice too: $linU -> $zedU")
    dailyTally(graft.sources.EventStore.readPinned(s, path))
  }

  /** c7: manifest time travel, oracle-checked end-to-end — commit a
    * 3-day snapshot, append 3 more days (second commit), compact (third
    * commit), vacuum WITH retention, then aggregate the FIRST snapshot via
    * `readPinned(version=v1)` against DuckDB on the original table
    * filtered to those days. The requires pin the retention contract:
    * every version commit is immutable, compaction does not disturb old
    * snapshots, and a retention-respecting vacuum reclaims nothing a
    * retained version still references — so the row is only green when
    * time travel reproduces the historical snapshot bit-for-bit. */
  private def c7TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "travel", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 3).repartition(2), path)
    val v1 = graft.sources.EventStore.manifestVersion(s, path)
    graft.sources.EventStore.insertInto(
      ev.filter(dayofmonth(col("ts")).between(4, 6)).repartition(2), path)
    val stats = graft.sources.EventStore.compactInPlace(s, path)
    require(stats.nonEmpty && stats.forall(p => p.filesAfter < p.filesBefore),
      s"compactInPlace must reduce file counts, got: $stats")
    // retention covers all three versions → vacuum must reclaim NOTHING
    val deleted = graft.sources.EventStore.vacuum(s, path, keepVersions = 3)
    require(deleted.isEmpty,
      s"retention must protect every retained version's files, deleted: $deleted")
    dailyTally(graft.sources.EventStore.readPinned(s, path, version = v1))
  }

  /** c8: the stats-carrying manifest, oracle-checked end-to-end — fragment
    * a store copy, manifest, z-order it (c6's layout), pin per-file
    * user_id ranges against the clustered version, then answer a
    * selective user-range aggregate through a plain filter on the pinned
    * read, whose file index prunes at PLANNING time from the pinned
    * stats. The require fails the query loudly unless the planned scan
    * reads strictly fewer files than the manifest lists — so the row is
    * only green when file-level skipping actually engaged AND the pruned
    * read still returns exactly the DuckDB answer (pruning is
    * conservative, never lossy). */
  private def c8StatsPrune(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "stats", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    graft.sources.EventStore.clusterInPlace(s, path, "user_id", "ts",
      targetBytes = math.max(1L, manifestedBytes(s, path) / 24))
    graft.sources.EventStore.writeFileStats(s, path, Seq("user_id"))
    val (uMin, uHi) = userSlice(ev)
    dailyTally(prunedRead(s, path, col("user_id").between(uMin, uHi), "stats"))
  }

  /** c8b: STRING file-stats pruning (VERDICT r9 "what's missing" #3 — c8
    * pins integral ranges only; `event_type`/`lang` equality is the other
    * half of real file skipping, and DuckDB/Iceberg both pin truncated
    * string bounds). The append co-locates event types per task so each
    * file's [min, max] covers 1-2 types; bounds are pinned TRUNCATED to 4
    * chars (exercising the increment-at-the-cut upper bound at
    * verification scale — 'purchase' pins as ['purc', 'purd']), and the
    * equality filter's scan reads a strict subset of the manifest
    * (require-gated) with results equal to the full filtered read. */
  private def c8bStringPrune(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "strstats", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6 && col("event_type").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // range partitioning, not hash: files must hold alphabetically
    // CONTIGUOUS event types for interval bounds to separate them
    graft.sources.EventStore.createTable(
      ev.repartitionByRange(4, col("event_type")), path)
    graft.sources.EventStore.writeFileStats(s, path, Seq("user_id"),
      stringColumns = Seq("event_type"), truncateTo = 4)
    dailyTally(prunedRead(s, path, col("event_type") === "click", "string stats"))
  }

  /** c11: schema evolution on the manifested store — a late batch lands
    * WITH a new column and history is never rewritten: absence at the old
    * parquet footers IS the null encoding, and the mergeSchema pinned
    * read unifies the store. At 100 TB this is the difference between an
    * online column add and a full-store rewrite. Both generations then
    * aggregate together (evolved column null-counted for the old rows). */
  private def c11SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "evolve", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 5).repartition(2), path)
    // generation 2: the same feed, now carrying a derived quality score.
    // Fixed-point floor(x·2^20) LONG (the a14/x17 form) instead of
    // round(x, 6): decimal-round-of-double can diverge on a 6dp tie
    // between Spark's BigDecimal HALF_UP and DuckDB's float rounding;
    // floor of an IEEE-exact division cannot. Null value ⇒ null score.
    graft.sources.EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")).between(6, 10))
        .withColumn("q_score",
          floor(col("value") / lit(250.0) * lit(1048576.0)).cast(LongType))
        .repartition(2), path, "evolve-q", 1L)
    val snap = graft.sources.EventStore.readPinned(s, path, mergeSchema = true)
    require(snap.columns.contains("q_score"),
      "merged read must surface the evolved column")
    snap.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("q_score")).as("n_scored"),
        round(sum(coalesce(col("q_score"), lit(0L))) / lit(1048576.0), 6)
          .as("sum_q"))
  }

  /** c12: point-lookup pruning — the membership sidecar complement to
    * c8's range stats: after z-order clustering, one user's events live
    * in a handful of files, and the exact per-file key sets prune the
    * point filter's scan to just those (require-gated), with results
    * equal to the full filtered read. */
  private def c12PointPrune(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "point", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6 && col("user_id").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    graft.sources.EventStore.clusterInPlace(s, path, "user_id", "ts",
      targetBytes = math.max(1L, manifestedBytes(s, path) / 24))
    graft.sources.EventStore.writeFileKeySets(s, path, "user_id")
    val uMin = ev.agg(min("user_id")).head().getLong(0)
    prunedRead(s, path, col("user_id") === uMin, "membership").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 3).as("sum_value"),
        countDistinct(col("event_id")).as("n_events"))
  }

  /** c8c: float/double file-stats pruning — the measure column (`value`)
    * becomes prunable under the pinned IEEE-comparison contract
    * ([[graft.sources.ZOrder.fileDoubleStats]]): primitive `<=`/`>=` on
    * both sides of the prune, -0.0 == 0.0, NaN-poisoned files admitted.
    * Files hold contiguous value ranges (range repartition — the layout
    * the bounds can separate); the narrow low slice's scan must read a
    * strict file subset and return exactly the plain filter's rows. */
  private def c8cDoublePrune(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "dblstats", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(
      ev.repartitionByRange(8, col("value")), path)
    graft.sources.EventStore.writeFileStats(s, path, Nil,
      doubleColumns = Seq("value"))
    val mm = ev.agg(min("value"), max("value")).head()
    val (vMin, vMax) = (mm.getDouble(0), mm.getDouble(1))
    val vHi = vMin + (vMax - vMin) / 8
    dailyTally(prunedRead(s, path, col("value").between(vMin, vHi), "double-stats"))
  }

  /** c12b: bloom-tier point pruning — the key column is `event_id`
    * (unique per row), so EVERY manifested file is far above the
    * exact-set cap and the whole store rides the per-file bloom sidecar.
    * The point filter's scan must still read a strict file subset (a
    * bloom miss proves absence; false positives only admit) and return
    * exactly the unpruned filter's rows — this is the membership pruning that works
    * on exactly the high-cardinality un-z-ordered files c12's exact tier
    * cannot pin. */
  private def c12bBloomPrune(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "bloom", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6 && col("user_id").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    graft.sources.EventStore.writeFileKeySets(s, path, "event_id",
      maxDistinct = 16)
    val kMin = ev.agg(min("event_id")).head().getLong(0)
    prunedRead(s, path, col("event_id") === kMin, "bloom").groupBy(col("event_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 3).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** c12c: STRING-key membership pruning — a synthetic string id
    * (`u<user_id>`) range-clustered so files hold disjoint key ranges;
    * the sidecar pins xxhash64 hashes (8 bytes/key whatever the string
    * length — the only sidecar a 100 TB doc-id column can afford), and
    * the plain string-equality filter probes them hashed. Its scan must
    * read a strict file subset and return exactly the unpruned read. */
  private def c12cStringPoint(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "strpoint", dir)
    val ev = Tables.events(s, dir)
      .filter(dayofmonth(col("ts")) <= 6 && col("user_id").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        concat(lit("u"), col("user_id").cast(StringType)).as("skey"))
    graft.sources.EventStore.createTable(
      ev.repartitionByRange(6, col("user_id")), path)
    graft.sources.EventStore.writeFileKeySets(s, path, "skey")
    val kMin = "u" + ev.agg(min("user_id")).head().getLong(0)
    prunedRead(s, path, col("skey") === kMin, "string membership").groupBy(col("skey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 3).as("sum_value"),
        countDistinct(col("event_id")).as("n_events"))
  }

  /** c9: incremental refresh off the manifest log — commit a 3-day
    * snapshot, append 3 more days (second commit), then refresh a
    * per-type aggregate by reading ONLY the files [[graft.sources
    * .EventStore.manifestDiff]] says the new version added (require-gated:
    * the plan binds exactly the added files, none removed). Partials are
    * fixed-point `floor(value·2^20)` LONG sums, so base + delta merges
    * exactly — the result is bit-identical to DuckDB's full 6-day
    * aggregate, which is the whole claim: an incremental tick computed
    * the full-scan answer without the full scan. */
  private def c9Incremental(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "incr", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 3).repartition(2), path)
    val vBase = graft.sources.EventStore.manifestVersion(s, path)
    graft.sources.EventStore.insertInto(
      ev.filter(dayofmonth(col("ts")).between(4, 6)).repartition(2), path)
    val vNew = graft.sources.EventStore.manifestVersion(s, path)
    val (added, removed) = graft.sources.EventStore.manifestDiff(s, path, vBase, vNew)
    require(removed.isEmpty && added.nonEmpty,
      s"append-only period must diff to (added, ∅), got +${added.size}/-${removed.size}")
    val delta = graft.sources.EventStore.readFiles(s, path, added)
    require(delta.inputFiles.length == added.size,
      "the delta plan must bind exactly the added files")
    val fp = floor(col("value") * lit(1048576.0)).cast(LongType)
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_type"), fp.as("fv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("fv")).as("sfv"))
    partial(graft.sources.EventStore.readPinned(s, path, vBase))
      .union(partial(delta))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
        round(sum(col("sfv")) / lit(1048576.0), 6).as("sum_value_q"))
  }

  /** c10: copy-on-write MERGE + DELETE on the manifested store, oracle-
    * checked end-to-end — fragment a 6-day store, manifest it, upsert a
    * deterministic correction set (doubled values for one user slice,
    * delete-then-insert on event_id) PLUS day-7 rows the store never held
    * (pure inserts, landing in a partition no append created), then
    * erase day 1 with [[graft.sources.EventStore.deleteWhere]] — a
    * whole-partition predicate, so the requires pin the METADATA-ONLY
    * fast path (files drop from the manifest, zero rewrites, the shape a
    * retention delete takes at 100 TB) — vacuum past retention, and
    * aggregate through the pinned read. DuckDB replays the merge
    * algebraically (anti-join on the update keys, union the updates,
    * drop day 1), so a green hash proves the row mutation exact:
    * untouched rows bit-identical, corrected rows doubled (exact in
    * IEEE), inserted rows present, erased rows gone. */
  private def c10MergeDelete(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "merge", dir)
    val all = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val ev = all.filter(dayofmonth(col("ts")) <= 6)
    graft.sources.EventStore.createTable(ev.repartition(4), path)
    val corrected = ev.filter(pmod(col("user_id"), lit(7)) === 0)
      .withColumn("value", col("value") * 2)
    val fresh = all.filter(dayofmonth(col("ts")) === 7)
    val m = graft.sources.EventStore.mergeInto(
      s, path, corrected.unionByName(fresh), Seq("event_id"))
    require(m.filesRewritten > 0 && m.filesInserted > 0 && m.rowsDeleted > 0
        && m.rowsInserted > m.rowsDeleted,
      s"merge must rewrite matched files and insert day-7 rows, got $m")
    val d = graft.sources.EventStore.deleteWhere(
      s, path, dayofmonth(col("ts")) === 1)
    require(d.rowsDeleted > 0 && d.filesDropped > 0 && d.filesRewritten == 0,
      s"a whole-partition erase must be metadata-only, got $d")
    val deleted = graft.sources.EventStore.vacuum(s, path, keepVersions = 1)
    require(deleted.nonEmpty, "replaced files must be reclaimable after retention")
    dailyTally(graft.sources.EventStore.readPinned(s, path))
  }

  /** c14: row-level change feed (CDC read) across a manifested-store
    * lifecycle: append v1 → append more → COMPACT (pure re-layout) →
    * copy-on-write delete. The feed from v1 to head must net out the
    * compaction entirely — only the true inserts (days 6-7) and deletes
    * (day 2) surface — because `changeFeed` multiset-diffs the changed
    * files' rows in both directions. */
  private def c14ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "cdf", dir)
    val all = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    graft.sources.EventStore.createTable(
      all.filter(dayofmonth(col("ts")) <= 5).repartition(4), path)
    val v1 = graft.sources.EventStore.manifestVersion(s, path)
    graft.sources.EventStore.insertInto(
      all.filter(dayofmonth(col("ts")).between(6, 7)).repartition(2), path)
    val comps = graft.sources.EventStore.compactInPlace(s, path)
    require(comps.nonEmpty, "compaction must rewrite at least one partition")
    val d = graft.sources.EventStore.deleteWhere(
      s, path, dayofmonth(col("ts")) === 2)
    require(d.rowsDeleted > 0 && d.filesDropped > 0,
      s"day-2 erase must be a metadata-only drop of the compacted file, got $d")
    val vN = graft.sources.EventStore.manifestVersion(s, path)
    graft.sources.EventStore.changeFeed(s, path, v1, vN)
      .groupBy(col("_change_type"),
        date_format(col("event_date"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** c15: incremental view maintenance from the change feed — the step
    * past c9 (file-level, append-only): maintain a (type, day) aggregate
    * through APPENDS, a COMPACTION, and a cross-cutting COPY-ON-WRITE
    * DELETE without ever recomputing the base. The feed's rows carry a
    * sign (+insert / −delete); the signed partial aggregate merges into
    * the v1 snapshot's aggregate with one union+groupBy, and compaction
    * contributes nothing (the feed nets pure re-layout to empty). The
    * oracle recomputes the FINAL state directly — a green hash proves the
    * delta algebra exact, including the subtraction path c9 cannot see. */
  private def c15IncrementalIvm(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "ivm", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 10).repartition(3), path)
    val v1 = graft.sources.EventStore.manifestVersion(s, path)
    // the materialized aggregate as of v1
    val base = signedTally(graft.sources.EventStore.readPinned(s, path, v1), lit(1L))
    // lifecycle: txn append (post-maintenance-safe), re-layout, COW delete
    graft.sources.EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")).between(11, 20)), path, "ivm-q", 1L)
    require(graft.sources.EventStore.compactInPlace(s, path).nonEmpty,
      "compaction must rewrite at least one partition")
    val d = graft.sources.EventStore.deleteWhere(s, path,
      pmod(col("user_id"), lit(5)) === 3 && dayofmonth(col("ts")) <= 10)
    require(d.rowsDeleted > 0 && d.filesRewritten > 0,
      s"the cross-cutting erase must partial-rewrite files, got $d")
    val vN = graft.sources.EventStore.manifestVersion(s, path)
    // signed delta aggregate from the row-level feed
    mergeTallies(base, feedTally(graft.sources.EventStore.changeFeed(s, path, v1, vN)))
      .filter(col("n") > 0)
  }

  /** c17: CONTINUOUS change-data capture — c15's lifecycle (txn append →
    * compaction → cross-cutting COW delete) with the maintained aggregate
    * advanced by a LIVE [[graft.streaming.ChangeFeedFollower]] tailing the
    * manifest log on its own thread, not by a hand-placed batch diff: the
    * "IVM that follows the store". Each delivered delta folds through the
    * same signed algebra as c15 (insert +1 / delete −1, fixed-point value
    * sums) into a localCheckpoint'd state frame; a barrier after each
    * maintenance step makes the row deterministic. The oracle recomputes
    * the FINAL view directly — if the follower missed, double-delivered,
    * or mis-ordered any delta, the hash diverges. Re-layout commits
    * arrive as empty feeds and fold as no-ops (correctness never
    * classifies commits). */
  private def c17CdcFollow(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "cdc", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 10).repartition(3), path)
    val v1 = graft.sources.EventStore.manifestVersion(s, path)
    // seed state from the pinned v1, then FOLLOW: every delivered delta
    // merges on the poller thread; localCheckpoint materializes each
    // state (bounded: |keys| rows) and cuts the merge lineage.
    // r15 MEASURED-AND-REVERTED (VERDICT r14 #3): deferring the folds —
    // lazy flat-merge with a 4-delta checkpoint cadence, the Funnel
    // lesson — read 5.3-6.1 s vs this form's 5.1-5.2 on the same box
    // (phase probe: the row's seconds are append 0.6 + appendCommitted
    // 0.6 + compact 0.7 + deleteWhere 0.9 of genuine store I/O plus
    // ~2.4 s of CDC feed reading + fold arithmetic that the per-delta
    // checkpoints already overlap with the poller barriers; the 4 tiny
    // localCheckpoint jobs WERE the fold work, not removable overhead).
    var state = signedTally(graft.sources.EventStore.readPinned(s, path, v1),
      lit(1L)).localCheckpoint()
    val follower = new graft.streaming.ChangeFeedFollower(s, path, v1,
      (_, _, feed) => { state = mergeTallies(state, feedTally(feed)).localCheckpoint() })
      .start()
    try {
      graft.sources.EventStore.appendCommitted(
        ev.filter(dayofmonth(col("ts")).between(11, 20)), path, "cdc-q", 1L)
      follower.processAllAvailable()
      require(graft.sources.EventStore.compactInPlace(s, path).nonEmpty,
        "compaction must rewrite at least one partition")
      follower.processAllAvailable()
      val d = graft.sources.EventStore.deleteWhere(s, path,
        pmod(col("user_id"), lit(5)) === 3 && dayofmonth(col("ts")) <= 10)
      require(d.rowsDeleted > 0 && d.filesRewritten > 0,
        s"the cross-cutting erase must partial-rewrite files, got $d")
      follower.processAllAvailable()
    } finally follower.stopQuietly()
    state.filter(col("n") > 0)
  }

  /** c17b: DURABLE change-data capture — c17's maintenance loop with the
    * (aggregate, seenVersion) pair committed atomically per delta
    * ([[graft.streaming.DurableAggregateFollower]]), exercised through a
    * CRASH: the first follower folds the txn append then is abandoned
    * without shutdown; a COW delete lands while it is down; a second
    * follower constructed on the same state directory must resume at the
    * COMMITTED version (re-folding from the original start would
    * double-count the append) and one poll catches up the down-window.
    * The oracle recomputes the final view directly — any re-delivery,
    * missed delta, or stale resume diverges the hash. */
  private def c17bDurableFollow(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "cdc-dur", dir)
    val stateDir = Scratch.fresh(s, "cdc-dur-state", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 10).repartition(3), path)
    def mk() = new graft.streaming.DurableAggregateFollower(s, path, stateDir,
      seed = v => signedTally(graft.sources.EventStore.readPinned(s, path, v), lit(1L)),
      fold = (st, feed) => mergeTallies(st, feedTally(feed)))
    val f1 = mk() // sync (unstarted) mode: deterministic single-steps
    graft.sources.EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")).between(11, 20)), path, "cdc-dur-q", 1L)
    require(f1.follower.pollOnce(), "append delta must deliver")
    val committed = f1.seenVersion
    // crash: no shutdown, no flush — the commit already happened per delta
    val d = graft.sources.EventStore.deleteWhere(s, path,
      pmod(col("user_id"), lit(5)) === 3 && dayofmonth(col("ts")) <= 10)
    require(d.rowsDeleted > 0 && d.filesRewritten > 0,
      s"the cross-cutting erase must partial-rewrite files, got $d")
    val f2 = mk()
    require(f2.seenVersion == committed,
      s"restart must resume at committed v$committed, got ${f2.seenVersion}")
    require(f2.follower.pollOnce(), "down-window delta must deliver")
    require(!f2.follower.pollOnce(), "caught-up follower must not re-deliver")
    f2.state.filter(col("n") > 0)
  }

  /** c16: deep snapshot clone — pin a version, copy exactly its files to
    * a fresh root, commit them as the clone's manifest v0, then ERASE the
    * source past recognition (delete + vacuum past the cloned version):
    * the clone must still read the original snapshot bit-for-bit. The
    * oracle recomputes that snapshot (days ≤ 8) directly. */
  private def c16SnapshotClone(s: SparkSession, dir: String): DataFrame = {
    val path = Scratch.fresh(s, "clone-src", dir)
    val clonePath = Scratch.fresh(s, "clone-dst", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    graft.sources.EventStore.createTable(
      ev.filter(dayofmonth(col("ts")) <= 8).repartition(2), path)
    val vSnap = graft.sources.EventStore.manifestVersion(s, path)
    graft.sources.EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")).between(9, 12)), path, "clone-q", 1L)
    val n = graft.sources.EventStore.cloneSnapshot(s, path, clonePath, vSnap)
    require(n > 0, "clone must copy at least one file")
    // mutate + vacuum the source past the cloned version — the clone
    // must not notice
    graft.sources.EventStore.deleteWhere(s, path,
      dayofmonth(col("ts")) <= 4)
    graft.sources.EventStore.vacuum(s, path, keepVersions = 1)
    graft.sources.EventStore.readPinned(s, clonePath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(coalesce(col("value"), lit(0.0)) * lit(1048576.0))
          .cast(LongType)).as("sum_fp"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** j2: as-of join — each event enriched with the user's most recent
    * order at-or-before the event (the time-series point-in-time lookup).
    * Orders are deduped to one version per (custkey, second) first, so the
    * carried row is deterministic; the asof itself is union + one window
    * (a single exchange), never a range-join explosion. */
  private def j2AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        col("ts").cast(LongType).as("ts_sec"))
    val ord = Tables.orders(s, dir)
      // parquet orders dates read as TIMESTAMP_NTZ — hop through TIMESTAMP
      // (session tz pinned UTC) since ANSI forbids the direct long cast
      .select(col("o_custkey"),
        col("o_orderdate").cast(TimestampType).cast(LongType).as("od_sec"),
        col("o_orderkey"), col("o_totalprice"))
    val latest = graft.operators.AsofJoin.latestPerKeyTime(
      ord, "o_custkey", "od_sec", "o_orderkey")
    graft.operators.AsofJoin.asof(ev, latest,
      keyL = "user_id", keyR = "o_custkey", timeL = "ts_sec", timeR = "od_sec",
      payload = Seq("o_orderkey", "o_totalprice"))
  }

  /** j4: the broadcast/streaming face of the asof family — j2's semantics,
    * but the deduped version history rides in the PLAN (asofBroadcast), so
    * the probe is an exchange-free narrow map valid on batch AND streaming
    * inputs. The dimension is the order history of customers < 100: the
    * bounded-dimension shape (catalog, deploy log) the operator exists
    * for; events of other users carry null payload (left-outer, like j2). */
  private def j4AsofBroadcast(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        col("ts").cast(LongType).as("ts_sec"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"),
        col("o_orderdate").cast(TimestampType).cast(LongType).as("od_sec"),
        col("o_orderkey"), col("o_totalprice"))
    val latest = graft.operators.AsofJoin.latestPerKeyTime(
      ord, "o_custkey", "od_sec", "o_orderkey")
    graft.operators.AsofJoin.asofBroadcast(ev, latest,
      keyL = "user_id", keyR = "o_custkey", timeL = "ts_sec", timeR = "od_sec",
      payload = Seq("o_orderkey", "o_totalprice"))
  }

  /** j3: trailing range join (self): each event + the same user's activity
    * over the trailing hour — the "errors in the last hour" shape. Window
    * form: one exchange + one range-frame sort; a non-equi join would
    * nested-loop per key and re-aggregate. Orders can't serve as the right
    * side here (their 1992-98 dates never fall inside a 2024 trailing
    * window), so the self-join variant is the meaningful one. */
  private def j3RangeJoin(s: SparkSession, dir: String): DataFrame = {
    // NULL keys are excluded EXPLICITLY on both sides: the oracle's inner
    // join drops them (NULL = NULL is false in SQL) while a window would
    // group them into one NULL partition — filter so both semantics agree
    val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts").cast(LongType).as("ts_sec"))
    val act = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts").cast(LongType).as("ts_sec"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    graft.operators.AsofJoin.trailingWindow(ev, act,
      keyL = "user_id", keyR = "user_id", timeL = "ts_sec", timeR = "ts_sec",
      windowLen = 3600L,
      aggs = Map(
        "n_events_1h" -> count(col("r_event_id")),
        "sum_value_1h" -> sum(col("r_value"))))
      .withColumn("sum_value_1h",
        coalesce(round(col("sum_value_1h"), 3), lit(0.0)))
  }

  /** Bucketed tables backing j6, built once per session and sf dir — the
    * co-location artifact a deployment lays down once and every join reads
    * forever. Bucket count 32 matches the session's shuffle parallelism.
    * Both are catalog tables whose files live in the row's scratch
    * directory: `saveAsTable` with a `path` keeps the bucketing, and
    * nothing lands in the warehouse. */
  private def ensureBucketedTables(s: SparkSession, dir: String): (String, String) =
    Scratch.once(s, "bucketed", dir) {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val evT = s"graft_ev_bucketed$key"
      val profT = s"graft_prof_bucketed$key"
      val files = Scratch.fresh(s, "bucketed", dir)
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").option("path", files + "/ev")
        .bucketBy(32, "user_id").sortBy("user_id").saveAsTable(evT)
      // the profile side derives FROM the bucketed table: the groupBy on
      // the bucket key is already exchange-free, so building the second
      // co-located artifact costs one narrow pass + one bucketed write
      val prof = s.table(evT).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      prof.write.mode("overwrite").option("path", files + "/prof")
        .bucketBy(32, "user_id").sortBy("user_id").saveAsTable(profT)
      (evT, profT)
    }

  /** j6b: the bucketed-layout BUILD — two bucketed writes into an emptied
    * scratch directory — timed separately from the j6 probe (the s4
    * build/probe precedent: rounds 9 and 10 both had to adjudicate whether
    * a slow j6 was the probe or the rebuild). Forces a rebuild every call;
    * output = an audit aggregation RE-READ from the built table, so the row
    * also proves the artifact is complete. */
  private def j6bBucketedBuild(s: SparkSession, dir: String): DataFrame = {
    Scratch.forget("bucketed", dir)
    val (evT, profT) = ensureBucketedTables(s, dir)
    s.table(evT).join(s.table(profT), "user_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("n_events")).as("max_user_events"))
  }

  /** j6: co-located join via bucketed tables — the lever that deletes the
    * fact-side shuffle entirely at 100 TB: both tables are bucketed (and
    * sorted) on the join key at WRITE time, so the sort-merge join reads
    * bucket i against bucket i with NO exchange on either side (PlanSpec
    * pins zero user_id exchanges; the only shuffle in the query is the
    * final tiny group-by). AQE would broadcast the profile side at test SF
    * and hide exactly the property under test, so the merge hint forces
    * the join shape the 100 TB regime would pick anyway. The oracle joins
    * the same relations layout-free — bucketing must never change results,
    * only plans. */
  private def j6BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (evT, profT) = ensureBucketedTables(s, dir)
    s.table(evT).hint("merge").join(s.table(profT), "user_id")
      .filter(col("n_events") >= 5)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(coalesce(col("value"), lit(0.0))), 3).as("sum_value"))
  }

  /** a12: journey mining — top per-(user, day) ordered event paths; the
    * sequence analytics a pure aggregation engine can't express. One
    * window exchange + one pattern-count shuffle + TakeOrdered. */
  private def a12Journeys(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.topJourneys(Tables.events(s, dir),
      maxSteps = 8, topK = 20)

  /** a13: funnel conversion — entity-days reaching each prefix of
    * view → click → purchase (loose containment, greedy matching). */
  private def a13Funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnelStages(Tables.events(s, dir),
      Seq("view", "click", "purchase"))

  /** a17: time-bounded funnel — view → click → purchase within 10 minutes
    * of the entity-day's FIRST view (first-touch anchor, never re-armed:
    * a deterministic fold both engines replay). The standard product
    * funnel form; a13 is its unbounded cousin. */
  private def a17FunnelWithin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnelStagesWithin(Tables.events(s, dir),
      Seq("view", "click", "purchase"), windowSec = 600L)

  /** a15: deterministic argmax — per group, the row at the MAXIMUM of an
    * ordering column. Spark's `max_by` is tie-nondeterministic (either
    * row may win, and a re-run may flip); `max(struct(value, id, …))` is
    * the deterministic form — struct comparison is lexicographic, so the
    * id column breaks value ties totally, and the whole thing stays one
    * codegen'd aggregate (map-side partial max, one tiny exchange — the
    * cheapest possible shape; a window row_number would shuffle EVERY
    * row to rank them all just to keep one). */
  private def a15Argmax(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
    ev.groupBy(col("event_type"))
      .agg(max(struct(col("value"), col("event_id"))).as("__m"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        col("__m.value").as("max_value"),
        col("__m.event_id").as("argmax_event_id"),
        col("n"))
  }

  /** a16: cohort retention — the product-analytics staple over events:
    * users grouped by their FIRST-seen day (cohort), activity counted per
    * (cohort, day-offset). Plan: the per-user first day rides a window
    * over the user exchange (no self-join back), then one (cohort,
    * offset) aggregation with exact distinct users — two exchanges
    * total at any scale. */
  private def a16Retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.cohortRetention(Tables.events(s, dir))

  /** a18: last-touch attribution — every purchase credits the most recent
    * preceding non-purchase event by the same user within a 1-hour
    * lookback (the marketing staple: funnels count reach, attribution
    * assigns credit). One running-window exchange + a tiny per-type
    * aggregation; credited value is fixed-point so the sum is an
    * order-free integer. */
  private def a18Attribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.lastTouchAttribution(Tables.events(s, dir),
      convType = "purchase", lookbackSec = 3600L)

  /** a19: seasonal anomaly counts — per-(type, hour-of-day) baselines from
    * days 1-20, events in days 21+ flagged when they exceed 2× the
    * seasonal mean. Exact integer cross-multiplication (no divided means),
    * broadcast baseline (≤ |types|·24 rows), two small shuffles total. */
  private def a19Anomaly(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.seasonalAnomalies(Tables.events(s, dir),
      splitDate = "2024-01-21")

  /** c13: one-pass table profile — per-column null/distinct counts and
    * typed bounds over events in a single aggregation job (multi-distinct
    * plans as one Expand + aggregate; the long format unpivots with a
    * zero-shuffle explode). */
  private def c13Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
      Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "props", "ts"),
      numeric = Seq("event_id", "user_id", "value"),
      strings = Seq("event_type", "props"), timestamps = Seq("ts"))

  /** c13b: sketch-mode profile — the 100 TB shape (HLL++ distinct state
    * per column instead of exact Expand state; Expand-free, plan-pinned).
    * The HLL estimate is deterministic but implementation-defined, so it
    * has no DuckDB mirror; this verification row therefore REQUIRE-GATES
    * every column's estimate inside a 5·rsd (+small-n slack) band of the
    * exact distinct — the audit recomputes the exact profile, a
    * verification-scale cost that production profileSketch callers never
    * pay — and emits only the engine-exact fields for the oracle hash. */
  private def c13bProfileSketch(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(s, dir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts")
    val numeric = Seq("event_id", "user_id", "value")
    val strings = Seq("event_type", "props")
    val tss = Seq("ts")
    val rsd = 0.05
    val sk = graft.operators.Profile.profileSketch(src, numeric, strings, tss, rsd)
    // r15: the sketch pass runs ONCE — its collected rows feed both the
    // audit (below) and the returned frame (as local rows, x15b's survivor
    // pattern). Previously `sk.drop(...)` re-executed the whole sketch DAG
    // at evaluation time, a third full profile job per call.
    val skRows = sk.collect().toSeq
    val approxIdx = sk.schema.fieldIndex("n_distinct_approx")
    val approx = skRows
      .map(r => r.getString(0) -> r.getLong(approxIdx)).toMap
    graft.operators.Profile.profile(src, numeric, strings, tss)
      .select("column", "n_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .foreach { case (c, nd) =>
        val est = approx(c)
        require(math.abs(est - nd) <= math.max(4.0, 5.0 * rsd * nd),
          s"c13b: HLL estimate for '$c' ($est) outside the audit band of exact $nd")
      }
    val keep = sk.schema.fields.zipWithIndex.filter(_._1.name != "n_distinct_approx")
    val outRows = skRows.map(r =>
      org.apache.spark.sql.Row(keep.map { case (_, i) => r.get(i) }: _*))
    s.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(outRows).asJava),
      StructType(keep.map(_._1)))
  }

  /** a20: Markov stationary distribution — transition counts distributed
    * (one window exchange + tiny agg), 20 fixed-point power iterations on
    * the collected ≤K² matrix driver-side; BIGINT `(p·cnt) div rowsum`
    * steps replay bit-for-bit on any engine. */
  private def a20Markov(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.stationaryDistribution(Tables.events(s, dir))

  /** a20b: the DISTRIBUTED Markov stationary path on a state space the
    * driver path refuses — step = event_type × (user_id mod 40), ~200
    * states: transition table and power iterations stay DataFrames
    * (3 bounded shuffles/iteration over transition rows, never events),
    * no K² driver matrix anywhere. Same BIGINT fixed point; the oracle
    * replays all 20 iterations as joins over the same derived step. */
  private def a20bMarkovDistributed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("step",
      concat(col("event_type"), lit("#"),
        pmod(col("user_id"), lit(40)).cast(StringType)))
    graft.operators.Funnel.stationaryDistributionDistributed(
      ev, iters = 20, stepCol = "step")
  }

  /** x18: TF-IDF similar-pairs retrieval — inverted-index self-join with
    * the df-cap pigeonhole (terms in over 20% of docs never join — the
    * cap scales with the corpus so it can't go vacuous at a denser SF),
    * integer `2^20 div df` weights, exact BIGINT scores, total-order
    * top-K. */
  private def x18TfidfPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.similarDocPairs(Tables.documents(s, dir),
      topK = 50, minDf = 2L, maxDfPct = Some(20))

  /** a21: exact linear trend — [[graft.operators.Funnel.linearTrend]]'s
    * integer slope-pair aggregation (doc there). */
  private def a21Trend(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.linearTrend(Tables.events(s, dir))

  /** P1 + j1: the general equi-join roll-up from SQL — the fact table
    * chains three plain joins (orders → customer → nation, the j1
    * snowflake), WHERE lands on a DIM column post-join so Catalyst pushes
    * it under the join into the orders scan, and the aggregation groups
    * by the far dim's key. Aggregates are order-independent-exact (sums
    * of integral doubles, counts, max) so the roll-up hashes identically
    * however AQE schedules the joins. */
  private def p25SqlEquiJoin(s: SparkSession, dir: String): DataFrame = {
    val sql = "select sum(l_quantity), count(*), count_distinct(o_custkey), " +
      "max(o_totalprice) from lineitem " +
      "join orders on l_orderkey = o_orderkey " +
      "join customer on o_custkey = c_custkey " +
      "join nation on c_nationkey = n_nationkey " +
      "where o_orderstatus = 'O' " +
      "group by n_name order by sum(l_quantity) desc"
    graft.sql.ZxSql.run(Tables.lineitem(s, dir), sql, tables = Map(
      "orders" -> Tables.orders(s, dir),
      "customer" -> Tables.customer(s, dir),
      "nation" -> Tables.nation(s, dir)))
      .select(col("n_name"), round3("sum_l_quantity"), round3("count_star"),
        col("count_distinct_o_custkey"), col("max_o_totalprice"))
  }

  /** P1 + expression measures THROUGH the equi-join chain: revenue by
    * nation (the q5 volume shape) with the computed measure aggregated
    * over the joined frame, HAVING referencing the measure's alias. */
  private def p29SqlExprJoin(s: SparkSession, dir: String): DataFrame = {
    val sql = "select sum(l_extendedprice * (1 - l_discount)) as revenue, " +
      "count(*) as n_items from lineitem " +
      "join orders on l_orderkey = o_orderkey " +
      "join customer on o_custkey = c_custkey " +
      "join nation on c_nationkey = n_nationkey " +
      "where o_orderstatus != 'P' " +
      "group by n_name having revenue > 0 order by revenue desc"
    graft.sql.ZxSql.run(Tables.lineitem(s, dir), sql, tables = Map(
      "orders" -> Tables.orders(s, dir),
      "customer" -> Tables.customer(s, dir),
      "nation" -> Tables.nation(s, dir)))
      .select(col("n_name"), round3("revenue"), round3("n_items"))
  }

  /** One SQL string, two engines (the st_tumbling pattern, now THROUGH a
    * join): enrich events with the customer dimension, then tumbling
    * windows (slide == granularity). The windowed-equi-join composition
    * the join grammar previously rejected. */
  private val enrichSql = "select sum(value) as sum_value, count(*) as n " +
    "from events join customer on user_id = c_custkey " +
    "where event_type <> 'error' " +
    "group by c_mktsegment granularity 3600 slide 3600"

  /** p34: the windowed enrich, batch — dimension broadcasts, WHERE pushes
    * below the join, ONE aggregation exchange on (dim key, window). */
  private def p34SqlEnrichWindowed(s: SparkSession, dir: String): DataFrame =
    graft.sql.ZxSql.run(Tables.events(s, dir), enrichSql,
      tables = Map("customer" -> Tables.customer(s, dir)))
      .select(col("c_mktsegment"), col("w_start"), col("w_end"),
        round3("sum_value"), round3("n"))

  /** st_enrich: the SAME SQL through runStream — the stream-static join
    * is STATELESS (each micro-batch probes the static dimension; no join
    * state, no extra watermark contract), windows close via the
    * watermark's no-data finalization. Hashed against the same DuckDB
    * oracle as p34; the sentinel row never matches a customer, so the
    * inner join drops it before any window opens. */
  private def stEnrich(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayEvents(s, dir, "st-enrich") { stream =>
      graft.sql.ZxSql.runStream(stream, enrichSql, watermark = "0 seconds",
        tables = Map("customer" -> Tables.customer(s, dir)))
    }.select(col("c_mktsegment"), col("w_start"), col("w_end"),
      round3("sum_value"), round3("n"))

  /** s13: MMR diverse re-rank — one exact-kNN corpus pass builds the
    * shortlist, the greedy diversity loop runs on the bounded collected
    * artifact; the full trajectory replays in DuckDB as unrolled
    * argmax-per-step CTEs (same left-fold dots, same weight literals). */
  private def s13MmrRerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.mmrRerank(Tables.embeddings(s, dir),
      queryId = 0L, k = 10, shortlist = 50)

  /** s13b: batched MMR — EVERY query's shortlist from ONE corpus pass
    * (broadcast queries + WindowGroupLimit), then the per-query greedy on
    * the bounded collected block; each query's trajectory is bit-identical
    * to its solo s13 run (spec-pinned), and the oracle replays each
    * query's unrolled walk, unioned. */
  private def s13bMmrBatch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.mmrRerankBatch(Tables.embeddings(s, dir),
      queryIds = Seq(1L, 5L, 9L), k = 6, shortlist = 25)

  /** a14: recency-biased smoothing — per (user, day) half-life fold over
    * the event sequence; day emitted as a string for engine-safe compare. */
  private def a14Decay(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.decayedValues(Tables.events(s, dir))
      .select(col("user_id"), date_format(col("__d"), "yyyy-MM-dd").as("day"),
        col("decayed_fp"), col("n_events"))

  // --------------------------------------- training-data pipeline: text

  /** Language-ID: stopword-hit argmax heuristic vs the labeled lang. Tokens
    * materialize in their own projection so the text splits once, not once
    * per language score. */
  private def x1LangId(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("lang"),
        langIdFromTokens(col("__toks")).as("lang_pred"))
      .withColumn("agree", col("lang_pred") === col("lang"))
  }

  /** Quality scoring: exact int-ratio metrics + a C4-style boolean gate. */
  private def x2Quality(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir).select(col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      punctRatio(col("text")).as("punct_ratio"),
      stopwordRatio(col("text")).as("stop_ratio"),
      qualityOk(col("text")).as("quality_ok"))
  }

  /** Per-source token statistics (map-side combine → tiny shuffle). The
    * token count materializes in its own projection so the text splits once
    * per row, not once per referencing aggregate. */
  private def x3TokenStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir)
      .select(col("source"), tokenCount(col("text")).as("__tc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tc").cast(LongType)).as("sum_tokens"),
        max(col("__tc")).as("max_tokens"))
      // mean from the exact integer sum — engine-order-proof
      .withColumn("mean_tokens",
        round(col("sum_tokens").cast(DoubleType) / col("n_docs"), 6))
  }

  /** Document fingerprinting: md5-64 content key + 16-bit SimHash. */
  private def x4Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir).select(col("doc_id"),
      fingerprint(col("text")).as("fp"),
      simhash16(col("text")).as("simhash16"))
  }

  /** Custom codegen'd Catalyst expression: Karp-Rabin rolling hash
    * (graft.expressions.RollingHash) — fused into whole-stage codegen. */
  private def x5RollingHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      graft.expressions.RollingHash.rolling_hash(col("text")).as("rhash"))

  /** Deterministic 20% hash-sample — reproducible corpus downsampling (a
    * narrow filter; disjoint pct ranges give train/val/test in one pass). */
  private def x6Sample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sampleByHash(Tables.documents(s, dir), "doc_id", 20)
      .select(col("doc_id"), col("source"))

  /** Token-budget sequence packing: contiguous ~2000-token chunks per
    * source via one window — no sequential driver loop. */
  private def x7Pack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.packByTokenBudget(Tables.documents(s, dir), 2000L)

  /** x19: token-budget MIXTURE — the data-mixing step of a training run:
    * per-source TOKEN budgets (not row rates), whole documents selected
    * in deterministic hash order until each source's budget is met.
    * src3's budget exceeds its corpus at small SFs (admit-all regime);
    * src1/src2 cut mid-source (greedy regime) — both paths exercised. */
  private def x19Mixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.mixtureByTokenBudget(Tables.documents(s, dir),
      budgets = Map("src1" -> 800L, "src2" -> 500L, "src3" -> 2000L))

  /** x21: bigram-LM fluency scoring — the CCNet-style quality probe.
    * Tables train on the `lang = 'en'` reference slice (top-300 unigrams
    * + top-500 bigrams, deterministic tie rule); EVERY document then
    * scores against them via one broadcast-map fold per row. Per-position
    * fixed-point quantization (floor(p·2^30)) keeps every sum integer —
    * engine-exact at any partitioning. mean_p is the one 6dp ratio, an
    * exact-integer division guarded against zero-bigram docs. */
  private def x21LmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ref = docs.filter(col("lang") === "en")
    val uni = graft.operators.Corpus.topUnigrams(ref, k = 300)
    val big = graft.operators.Corpus.topBigrams(ref, k = 500)
    graft.operators.Corpus.lmScore(docs, uni, big)
      .select(col("doc_id"), col("lang"), col("lm_sum_fp"), col("lm_hits"),
        col("n_bigrams"),
        when(col("n_bigrams") > 0,
          round(col("lm_sum_fp").cast(DoubleType) /
            (col("n_bigrams") * lit(1073741824L)), 6)).as("mean_p"))
  }

  /** p49: COMPOSITE-key equi-join — `on l_partkey = ps_partkey and
    * l_suppkey = ps_suppkey`, the TPC-H q9 join shape. The offer dim is
    * a per-(part, supplier) price floor built from history and passed
    * via the catalog (at 100 TB it is the bounded dim a broadcast or
    * AQE-chosen strategy handles); the roll-up reads the fact once. */
  private def p49SqlCompositeJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val offer = li.groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice")).as("ps_min_price"))
    val sql = "select sum(l_quantity) as sum_qty, count(*) as n " +
      "from lineitem " +
      "join offer on l_partkey = ps_partkey and l_suppkey = ps_suppkey " +
      "where ps_min_price < 20000 " +
      "group by l_returnflag order by l_returnflag"
    graft.sql.ZxSql.run(li, sql, tables = Map("offer" -> offer))
      .select(col("l_returnflag"), round3("sum_qty"), col("n"))
  }

  /** st_lmscore: LIVE quality scoring — the documents table replayed as
    * a stream through `lmscore train ref` with the reference model
    * trained once on a static en slice; stateless fold, so append mode
    * emits every score in the first micro-batch. Shares x21's oracle
    * verbatim (same model: en-trained 300/500 tables, full corpus
    * scored). */
  private def stLmScore(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-lmscore") { stream =>
      graft.sql.ZxSql.runStream(stream, "select lmscore train ref",
        tables = Map("ref" -> Tables.documents(s, dir).filter(col("lang") === "en")))
    }

  /** st_langid / st_redact: the remaining stateless faces replayed as
    * STREAMS, sharing p56's / p54's oracles verbatim — the full
    * runStream-accepted set is now hash-verified on the streaming path. */
  private def stLangId(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-langid") { stream =>
      graft.sql.ZxSql.runStream(stream, "select langid where source != 'src5'")
    }

  private def stRedact(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-redact") { stream =>
      graft.sql.ZxSql.runStream(stream,
        "select redact spark, data where source != 'src0'")
    }

  /** st_filter_join: p72's composite-key SEMI JOIN replayed as a STREAM —
    * the stream-static probe of a static key set is stateless, so append
    * mode emits every surviving row in its arrival micro-batch; the key
    * set builds ONCE from the static catalog table at stream
    * construction. Shares p72's oracle verbatim, so the streaming
    * filter-join path is hash-verified end to end. */
  private def stFilterJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-filter-join") { stream =>
      graft.sql.ZxSql.runStream(stream,
        "select doc_id, lang, source " +
          "semi join (select lang, source from docs_ref where n_chars > 450) " +
          "on lang = lang and source = source " +
          "where n_chars < 150",
        tables = Map("docs_ref" -> Tables.documents(s, dir)))
    }

  /** st_quality: p53's quality metrics replayed as a STREAM — the "score
    * documents as they arrive" stage, sharing p53's oracle verbatim. */
  private def stQuality(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-quality") { stream =>
      graft.sql.ZxSql.runStream(stream, "select quality where lang = 'en'")
    }

  /** st_sample: p45's weighted sampling replayed as a STREAM (the
    * stateless md5-coin filter in append mode) — shares p45's oracle
    * verbatim, so the whole streaming path is hash-verified. */
  private def stSample(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-sample") { stream =>
      graft.sql.ZxSql.runStream(stream,
        "select sample weight n_chars scale 1500 where lang != 'zh'")
    }

  /** st_chunks: p47's context-window chunking replayed as a STREAM (the
    * stateless explode in append mode) — shares p47's oracle verbatim. */
  private def stChunks(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-chunks") { stream =>
      graft.sql.ZxSql.runStream(stream,
        "select chunks size 24 stride 12 where lang = 'en'")
    }

  /** st_explode: p86b replayed as a STREAM — the explode generator is a
    * stateless narrow row-multiplier, legal in append mode; shares
    * p86b's oracle verbatim, so the streaming generator path is
    * hash-verified, not just spec-asserted. */
  private def stExplode(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayDocs(s, dir, "st-explode") { stream =>
      graft.sql.ZxSql.runStream(stream,
        "select doc_id, explode(text, ' ') as w " +
          "where lang = 'zh' and n_chars < 150")
    }

  /** p87: MOVING window frame — `rows 6 preceding` turns the running
    * aggregate window into the 7-row moving average, the smoothing
    * staple. The ORDER BY is total (ts_sec, then the unique event_id),
    * so the frame contents are deterministic on both engines; same
    * ROWS BETWEEN spelling in DuckDB. One window exchange on user_id. */
  private def p87SqlMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_sec", col("ts").cast(LongType))
    graft.sql.ZxSql.run(ev,
      "select user_id, event_id, " +
        "mean(value) over (partition by user_id order by ts_sec asc, " +
        "event_id asc rows 6 preceding) as mv7 " +
        "where user_id < 20 order by user_id asc, event_id asc limit 500")
      .select(col("user_id"), col("event_id"), round6("mv7"))
  }

  /** p115: the TWO-SIDED moving frame — `rows between 2 preceding and 2
    * following`, the centered 5-row smoother (p87's trailing frame looks
    * back only). Same one-exchange window plan, same unique-tiebreak
    * discipline. */
  private def p115SqlCenteredAvg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_sec", col("ts").cast(LongType))
    graft.sql.ZxSql.run(ev,
      "select user_id, event_id, " +
        "mean(value) over (partition by user_id order by ts_sec asc, " +
        "event_id asc rows between 2 preceding and 2 following) as ctr5 " +
        "where user_id < 20 order by user_id asc, event_id asc limit 500")
      .select(col("user_id"), col("event_id"), round6("ctr5"))
  }

  /** st_json: p85b replayed as a STREAM — JSON extraction is stateless
    * row arithmetic, so the live-enrichment path ("parse props as events
    * arrive") is hash-verified against the same DuckDB oracle. */
  private def stJson(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.replayEvents(s, dir, "st-json") { stream =>
      graft.sql.ZxSql.runStream(stream,
        "select event_id, json_num(props, 'k') as k, " +
          "json_str(props, 'k') as ks " +
          "where json_num(props, 'k') >= 95")
    }

  /** p90: DATE ARITHMETIC across a join — `datediff(l_shipdate,
    * o_orderdate)` inside aggregate measures is the shipping-delay
    * report (the TPC-H q12 family's primitive). Both engines count
    * whole day-boundary crossings under the UTC contract; the measure
    * codegens row-wise like any other, so the join + aggregate plan is
    * unchanged (AQE picks the join strategy from post-filter sizes). */
  private def p90SqlDateDiff(s: SparkSession, dir: String): DataFrame =
    graft.sql.ZxSql.run(Tables.lineitem(s, dir),
      "select mean(datediff(l_shipdate, o_orderdate)) as avg_delay, " +
        "max(datediff(l_shipdate, o_orderdate)) as mx, count(*) as n " +
        "from lineitem join orders on l_orderkey = o_orderkey " +
        "where o_orderstatus = 'F' " +
        "group by o_orderpriority order by avg_delay desc",
      tables = Map("orders" -> Tables.orders(s, dir)))
      .select(col("o_orderpriority"), round6("avg_delay"), col("mx"),
        round3("n"))

  // the CTAS slice every p94 face materializes: two OVERLAPPING gates
  // composed with distinct-union (the dedup is load-bearing in the
  // oracle compare), so the written table is a genuine front-door
  // composition, not a pass-through copy
  private val CtasSliceSql =
    "create table corpus_slice as " +
      "select doc_id, lang, source, n_chars from documents " +
      "where lang = 'en' and n_chars >= 300 " +
      "union " +
      "select doc_id, lang, source, n_chars from documents " +
      "where source = 'src1' and n_chars >= 100"

  /** p94: CTAS at the front door — S1's SQL WRITE face (the reference's
    * `ZX.I` third command, lib.rs:846-856, generalized to any compound
    * statement). Full lifecycle per call: reset → `create table … as
    * <union of two gated slices>` through EventStore.createTable's
    * staged-move + manifest-v0 commit → return the manifest-PINNED
    * read-back, so the oracle compare verifies what durably landed on
    * disk, not what the plan produced. */
  private def p94SqlCtas(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas", dir)
    graft.sql.ZxSql.runCreate(
      Map("documents" -> Tables.documents(s, dir)), CtasSliceSql, wh)
  }

  /** The shared CTAS store p94b and p99 read back, built once per
    * session and sf dir. */
  private def ensureCtasSlice(s: SparkSession, dir: String): String =
    Scratch.once(s, "ctas-shared", dir) {
      val wh = Scratch.fresh(s, "ctas-shared", dir)
      graft.sql.ZxSql.runCreate(
        Map("documents" -> Tables.documents(s, dir)), CtasSliceSql, wh)
      wh + "/corpus_slice"
    }

  /** p94b: the round trip's second half — an aggregate over the
    * COMMITTED store (pinned read of the p94-shaped table), proving the
    * CTAS output serves downstream queries; DuckDB replays the same
    * aggregate over the slice's defining SELECT. */
  private def p94bSqlCtasReadback(s: SparkSession, dir: String): DataFrame =
    graft.sources.EventStore.readPinned(s, ensureCtasSlice(s, dir))
      .groupBy(col("lang"))
      .agg(round(count(lit(1)).cast(DoubleType), 3).as("n"),
        round(sum(col("n_chars")).cast(DoubleType), 3).as("total"))

  /** p95: the write lifecycle COMPOSED — `create table … as` then
    * `insert into` the same store (the reference's literal `ZX.I` append
    * shape, lib.rs:846-856), returning the post-insert pinned read-back.
    * Bag semantics are load-bearing: the two gates OVERLAP, and INSERT
    * appends — the oracle is UNION ALL, where p94's CTAS oracle is the
    * deduping UNION. Each call is a full reset → create (manifest v0) →
    * insert (v1) → pinned read lifecycle. */
  private def p95SqlInsert(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-insert", dir)
    val cat = Map("documents" -> Tables.documents(s, dir))
    graft.sql.ZxSql.runCreate(cat,
      "create table slice2 as select doc_id, lang, source, n_chars " +
        "from documents where lang = 'en' and n_chars >= 300", wh)
    graft.sql.ZxSql.runInsert(cat,
      "insert into slice2 select doc_id, lang, source, n_chars " +
        "from documents where source = 'src1' and n_chars >= 100", wh)
  }

  /** p112: `insert into … values (…), (…)` — literal rows, the small-
    * dimension/backfill staple that closes the write face (p95's INSERT
    * only takes SELECT bodies). Cells are positional against the STORED
    * schema and each casts to its column's stored type (ANSI — a
    * mis-typed literal fails loudly); a NULL literal spells null.
    * Lifecycle per call: reset → create → insert values → pinned
    * read-back; the oracle UNION ALLs the same literal rows. */
  private def p112SqlInsertValues(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-values", dir)
    val cat = Map("documents" -> Tables.documents(s, dir))
    graft.sql.ZxSql.runCreate(cat,
      "create table slice5 as select doc_id, lang, source, n_chars " +
        "from documents where lang = 'de' and n_chars >= 400", wh)
    graft.sql.ZxSql.runInsert(cat,
      "insert into slice5 values (9000001, 'xx', 'manual', 42), " +
        "(9000002, null, 'manual', 7)", wh)
  }

  /** p116: the SCRIPT face — create → delete → insert values → aggregate
    * read, four statements in ONE call (`ZxSql.runScript`), the catalog
    * re-derived from the warehouse before each so later statements see
    * earlier writes. The oracle replays the same pipeline as relational
    * algebra (slice AND NOT deleted, UNION ALL the literal row,
    * aggregate). */
  private def p116SqlScript(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-script", dir)
    graft.sql.ZxSql.runScript(Map("documents" -> Tables.documents(s, dir)),
      "create table slice6 as select doc_id, lang, source, n_chars " +
        "from documents where n_chars >= 350; " +
        "delete from slice6 where lang = 'zh'; " +
        "insert into slice6 values (9000005, 'xx', 'manual', 11); " +
        "select count(*) as n, max(n_chars) as mx from slice6 " +
        "group by source order by source", wh)
      .select(col("source"), round3("n"), round3("mx"))
  }

  /** p126: script-scoped VIEWS — `create view` registers a named
    * statement (nothing materializes); the body re-compiles against
    * each later statement's catalog, so the view RE-READS its base
    * store at use time: the insert committed after creation is visible
    * through it (the oracle replays the same algebra with the insert
    * inside). A second view layers on the first. */
  private def p126SqlView(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-view", dir)
    graft.sql.ZxSql.runScript(Map("documents" -> Tables.documents(s, dir)),
      "create table vbase as select doc_id, lang, n_chars from documents " +
        "where n_chars >= 400; " +
        "create view west as select doc_id, lang, n_chars from vbase " +
        "where lang = 'en' or lang = 'de'; " +
        "create view west_big as select doc_id, lang, n_chars from west " +
        "where n_chars >= 450; " +
        "insert into vbase values (9000001, 'en', 999); " +
        "select count(*) as n, max(n_chars) as mx from west_big " +
        "group by lang order by lang", wh)
      .select(col("lang"), round3("n"), round3("mx"))
  }

  /** p129: `show tables` — the script's catalog objects (committed
    * warehouse stores + live views), one sorted name per row; a
    * dropped table and a dropped view disappear from the listing. The
    * oracle is the literal expected catalog. */
  private def p129SqlShowTables(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-show", dir)
    graft.sql.ZxSql.runScript(Map("documents" -> Tables.documents(s, dir)),
      "create table sh1 as select doc_id, n_chars from documents " +
        "where n_chars >= 450; " +
        "create table sh2 as select doc_id from documents " +
        "where n_chars < 100; " +
        "create view shv as select doc_id from sh1; " +
        "drop table sh2; " +
        "show tables", wh)
  }

  /** p117: TIME TRAVEL at the front door — `from <name> version <k>`
    * pins a read to manifest version k (create = v0, every commit +1),
    * rewritten to a pinned catalog entry so ONE statement reads TWO
    * versions of the same store: `… from ttl version 0 except … from
    * ttl` is exactly "what did the delete remove". The c7 API machinery
    * (manifest-pinned file lists — no data is ever copied for history)
    * behind a SQL spelling. */
  private def p117SqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-timetravel", dir)
    graft.sql.ZxSql.runScript(Map("documents" -> Tables.documents(s, dir)),
      "create table ttl as select doc_id, lang, n_chars from documents " +
        "where n_chars >= 450; " +
        "delete from ttl where n_chars < 470; " +
        "select doc_id, lang, n_chars from ttl version 0 " +
        "except select doc_id, lang, n_chars from ttl", wh)
  }

  /** p96: `delete from … where` — the destructive third of the SQL
    * write face, through the COW deleteWhere (detection pass → drop
    * fully-matching files unread → rewrite partial files → one atomic
    * manifest commit; c10's machinery behind a SQL spelling, here on a
    * FLAT store). Lifecycle per call: reset → create → delete → pinned
    * read-back; the oracle is the slice gate AND NOT the delete
    * predicate. */
  private def p96SqlDelete(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-delete", dir)
    val cat = Map("documents" -> Tables.documents(s, dir))
    graft.sql.ZxSql.runCreate(cat,
      "create table slice3 as select doc_id, lang, source, n_chars " +
        "from documents where n_chars >= 200", wh)
    graft.sql.ZxSql.runDelete(cat,
      "delete from slice3 where lang = 'de' or n_chars < 250", wh)
  }

  /** p97: `update … set … where` — the fourth verb of the SQL write
    * face, through the COW updateWhere (detection pass → rewrite ONLY
    * the files holding matches with when(pred, new).otherwise(old) →
    * one atomic manifest commit). Measure-grammar assignments cast back
    * to the column's stored type; the oracle replays the update as a
    * CASE projection over the defining slice. Lifecycle per call. */
  private def p97SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.fresh(s, "ctas-update", dir)
    val cat = Map("documents" -> Tables.documents(s, dir))
    graft.sql.ZxSql.runCreate(cat,
      "create table slice4 as select doc_id, lang, source, n_chars " +
        "from documents where n_chars >= 200", wh)
    graft.sql.ZxSql.runUpdate(cat,
      "update slice4 set n_chars = n_chars * 2 + 1, " +
        "source = upper(source) where lang = 'en'", wh)
  }

  /** p99: the warehouse round trip CLOSED in SQL — `select … from
    * corpus_slice` resolves the p94-created store BY NAME through
    * EventStore.warehouseCatalog (manifest-pinned lazy frames, half-
    * created debris invisible), so a user who just CTAS'd can query the
    * result without leaving the dialect. Shares p94b's ensured store;
    * different aggregate so the rows are independent evidence. */
  private def p99SqlWarehouse(s: SparkSession, dir: String): DataFrame = {
    val store = ensureCtasSlice(s, dir) // <wh>/corpus_slice
    val wh = store.stripSuffix("/corpus_slice")
    graft.sql.ZxSql.runCatalog(
      graft.sources.EventStore.warehouseCatalog(s, wh),
      "select max(n_chars) as mx, count(*) as n " +
        "from corpus_slice group by source order by mx desc, n desc")
  }

  /** p62: FULL-OUTER equi-join — the reconciliation audit ("which side
    * matched nothing"): a per-user activity rollup FULL JOIN customer,
    * per segment. Unmatched users surface under the `__nil` segment via
    * the standard group-key rendering; unmatched customers show up as
    * n_rows − n_matched. DuckDB replays with its native FULL JOIN. */
  private def p62SqlFullOuter(s: SparkSession, dir: String): DataFrame = {
    val prof = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    graft.sql.ZxSql.run(prof,
      "select count(*) as n_rows, sum(n_events) as sum_ev, " +
        "count(n_events) as n_matched " +
        "full join customer on user_id = c_custkey " +
        "group by c_mktsegment order by c_mktsegment",
      tables = Map("customer" -> Tables.customer(s, dir)))
      .select(col("c_mktsegment"), round3("n_rows"), round3("sum_ev"),
        round3("n_matched"))
  }

  /** x21b: the LARGE-MODEL LM-scoring formulation — explode + broadcast
    * hash joins + order-free integer regroup, for models where the
    * literal map's O(tableSize) linear probe would dominate. Identical
    * results by construction; SHARES x21's oracle verbatim, so the claim
    * is hash-checked, and the mean_p projection matches x21's. */
  private def x21bLmScoreJoined(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ref = docs.filter(col("lang") === "en")
    val uni = graft.operators.Corpus.topUnigrams(ref, k = 300)
    val big = graft.operators.Corpus.topBigrams(ref, k = 500)
    graft.operators.Corpus.lmScoreJoined(docs, uni, big)
      .select(col("doc_id"), col("lang"), col("lm_sum_fp"), col("lm_hits"),
        col("n_bigrams"),
        when(col("n_bigrams") > 0,
          round(col("lm_sum_fp").cast(DoubleType) /
            (col("n_bigrams") * lit(1073741824L)), 6)).as("mean_p"))
  }

  /** x22: curriculum sharding — exact global rank under a length-based
    * quality score, cut into 8 ordered shards, WITHOUT a corpus-wide
    * sort: bounded score-bucket histogram → broadcast cumulative bases →
    * per-bucket rank windows. */
  private def x22Curriculum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.curriculumShards(Tables.documents(s, dir),
      col("n_chars").cast(DoubleType) / lit(2000.0), nShards = 8)

  /** x20: WEIGHTED deterministic sampling — keep each document with
    * probability proportional to its own length (n_chars/2000, clamped
    * to 1), so a uniform-over-TOKENS sample falls out of one narrow
    * filter. Same md5-coin determinism as x6: reruns, audits, and the
    * DuckDB oracle see the identical subset. */
  private def x20WeightSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sampleByWeight(Tables.documents(s, dir),
        col("n_chars").cast("double") / lit(2000.0))
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** Within-doc repetition metrics (the Gopher repetition-filter family):
    * duplicate 2-/3-gram fractions + most-frequent-token fraction, all
    * exact int-ratio arithmetic. Tokens and token hashes materialize once
    * each; the two shingle arrays derive from the shared hash pass. */
  private def x8Repetition(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"), tokenHashes(col("__toks")).as("__th"))
      .select(col("doc_id"), col("__toks"),
        hashedShingles(col("__th"), 2).as("__h2"),
        hashedShingles(col("__th"), 3).as("__h3"))
      .select(col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        dupRatioFromShingles(col("__h2")).as("dup2_ratio"),
        dupRatioFromShingles(col("__h3")).as("dup3_ratio"),
        topTokenRatio(col("__toks")).as("top_token_ratio"))
      .withColumn("repetitive",
        col("dup3_ratio") > 0.2 || col("top_token_ratio") > 0.3)
  }

  /** Corpus vocabulary (tokenizer-training precursor): top-50 tokens by
    * collection frequency with document frequencies. */
  private def x9Vocab(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.vocabStats(Tables.documents(s, dir), topK = 50)

  /** x10: stratified rebalancing — downsample src2 to 5%, upweight src3 to
    * 60%, 20% elsewhere; deterministic md5 bucketing, zero shuffles. */
  private def x10Stratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sampleStratified(Tables.documents(s, dir), "source",
        rates = Map("src2" -> 5, "src3" -> 60), defaultPct = 20)
      .select(col("doc_id"), col("source"))

  /** x11: denylist scrubbing — word-boundary term redaction with per-term
    * hit counts and a fingerprint of the scrubbed text (pins the exact
    * replacement output without shipping it). Pure narrow regexp map. */
  private def x11Redact(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir).select(col("doc_id"),
      termCount(col("text"), "customer").as("n_customer"),
      termCount(col("text"), "key").as("n_key"),
      substring(md5(redactTerms(col("text"), Seq("customer", "key"))), 1, 16)
        .as("redacted_fp"))
  }

  /** x12: overlapping context-window chunking (32-token windows, stride 8)
    * — the sequence-packing precursor; narrow explode, zero shuffles. */
  private def x12Chunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.chunkByWindow(Tables.documents(s, dir),
      chunkTokens = 32, stride = 8)

  /** x13: BPE-ish token counting — the budget-planning estimate next to
    * x3's whitespace counts: per source, both sums (exact integer folds)
    * and their ratio (pieces per word — the subword expansion factor a
    * budget planner multiplies by). One codegen'd regexp scan per row; the
    * pattern is the lookahead-free GPT-2 pre-tokenizer rule, match-count
    * identical under Java regex and RE2. */
  private def x13BpeTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir)
      .select(col("source"), bpeTokenCount(col("text")).cast(LongType).as("__bt"),
        tokenCount(col("text")).cast(LongType).as("__wt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__bt")).as("sum_bpe"),
        sum(col("__wt")).as("sum_ws"))
      .withColumn("bpe_per_word",
        round(col("sum_bpe").cast(DoubleType) / col("sum_ws"), 6))
  }

  /** x14: CCNet-style familiarity scoring — per-source stats of each doc's
    * summed corpus frequency over the top-200 bigram table. Train = one
    * count shuffle + TakeOrdered; score = a broadcast-map fold inside the
    * scan stage (no explode, no join). All-integer sums keep the 6dp means
    * engine-exact. The low-familiarity tail is what a quality pipeline
    * drops or down-weights. */
  private def x14Familiarity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val table = graft.operators.Corpus.topBigrams(docs, k = 200)
    graft.operators.Corpus.familiarity(docs, table)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fam_sum")).as("sum_fam"),
        sum(col("fam_hits")).as("sum_hits"),
        sum(col("n_bigrams")).as("sum_bigrams"))
      .withColumn("mean_fam_per_bigram",
        round(col("sum_fam").cast(DoubleType) / col("sum_bigrams"), 6))
      .withColumn("hit_rate",
        round(col("sum_hits").cast(DoubleType) / col("sum_bigrams"), 6))
  }

  /** x15: cross-document repeated n-gram spans — the substring-level dedup
    * signal (document-level dedup is d1/d2; repeated boilerplate INSIDE
    * distinct documents is what substring dedup removes). One explode +
    * one count shuffle + TakeOrderedAndProject. */
  private def x15RepeatedSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.repeatedSpans(Tables.documents(s, dir), n = 5, topK = 40)

  /** x15b: the HASH-KEYED span miner — the count shuffle carries 8-byte
    * RollingHash keys instead of 5-token strings; surviving top hashes
    * recover their text in a second broadcast-filtered pass. The oracle
    * replays the polynomial hash (the x5 fold) span-by-span, so a hash
    * match proves the hashed plan finds the same spans with the same
    * counts. */
  private def x15bRepeatedSpansHashed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.repeatedSpansHashed(Tables.documents(s, dir), n = 5, topK = 40)

  /** x17: quality-classifier training — a linear probe over the x2 quality
    * signals, trained distributed (20 full-batch GD iterations, one
    * k-sum aggregation job each) with fixed-point gradient accumulation so
    * the learned weights are engine-exact. Output: per-source scoring
    * stats under the trained probe, with the weights pinned as columns. */
  private def x17QualityProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val docs = Tables.documents(s, dir)
    def feats: Seq[Column] = Seq(lit(1.0),
      least(tokenCount(col("text")), lit(500)) / lit(500.0),
      punctRatio(col("text")), stopwordRatio(col("text")))
    // label = long-document tier from a column OUTSIDE the feature set —
    // a learnable, imperfectly-correlated target (the C4 gate is
    // degenerate on this corpus: every doc passes; lang carries no
    // stopword signal in the synthetic text). 20 iterations at lr 1.8
    // reach ~98% train accuracy — and each iteration is ONE tiny
    // aggregation job at any corpus size
    val w = graft.operators.Corpus.trainLinearProbe(docs, feats,
      (col("n_chars") >= 300).cast(DoubleType), iters = 20, lr = 1.8)
    val score = w.zip(feats).map { case (wj, x) => lit(wj) * x }.reduce(_ + _)
    docs.select(col("lang"), score.as("__s"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(floor(col("__s") * lit(1048576.0)).cast(LongType)).as("sum_score_fp"),
        sum(when(col("__s") >= 0.5, 1L).otherwise(0L)).as("n_flagged"))
      .select(col("lang") +: col("n_docs") +: col("sum_score_fp") +:
        col("n_flagged") +:
        w.zipWithIndex.map { case (wj, j) => round(lit(wj), 6).as(s"w$j") }: _*)
  }

  /** x16: substring-dedup excision — x15's top spans, scrubbed from every
    * document. Span table trained once at the driver (bounded topK, the
    * x14 artifact pattern); the scrub itself is a zero-shuffle narrow
    * fold of replaces in the table's deterministic order. */
  private def x16SpanExcise(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // 3-token spans: short enough to recur across the corpus (sf0.01:
    // 1410 occurrences over 162 docs vs 360/3 at n=5), long enough to be
    // boilerplate rather than collocations
    val spans = graft.operators.Corpus.repeatedSpans(docs, n = 3, topK = 40)
      .select("span").collect().map(_.getString(0)).toSeq
    graft.operators.Corpus.exciseSpans(docs, spans)
  }

  /** c4: familiarity-GATED curation — the x14 signal deployed as a filter:
    * keep documents whose bigram hit rate against the corpus top-200 table
    * is ≥ 20%, report the surviving corpus per (source, lang). The
    * threshold compares exact integers (`hits·5 ≥ n_bigrams`), never a
    * float ratio, so the gate is bit-identical across engines; scoring
    * stays the broadcast-map fold (no join), so the whole gate runs in the
    * scan stage before the one stats shuffle. */
  private def c4FamiliarityGate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val docs = Tables.documents(s, dir)
    val table = graft.operators.Corpus.topBigrams(docs, k = 200)
    graft.operators.Corpus.familiarity(docs, table)
      .filter(col("fam_hits") * 5 >= col("n_bigrams") && col("n_bigrams") > 0)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(tokenCount(col("text")).cast(LongType)).as("sum_tokens"))
  }

  // -------------------------------------- training-data pipeline: dedup

  private def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exactGroups(Tables.documents(s, dir))

  private def d2MinhashSig(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashSignatures(Tables.documents(s, dir))

  private def d2bMinhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashPairs(Tables.documents(s, dir), threshold = 0.5)

  private def d3SimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 1)

  private def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.4)

  /** d6: transitive near-dup clusters (connected components over the
    * MinHash pair graph) — the canonical-document step of a dedup pipeline:
    * keep cluster_id (= min doc id), drop the rest. */
  private def d6DupClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupClusters(
      graft.operators.Dedup.minhashPairs(Tables.documents(s, dir), threshold = 0.5))

  /** d6b: the same transitive clustering over ARBITRARY id types — the
    * real-corpus shape (string/UUID document keys): the pair graph re-keyed
    * as zero-padded strings runs through [[graft.operators.Dedup.dupClusters]]'s
    * surrogate-dictionary path; cluster_id = the component's lexicographic
    * min, which the 12-digit zero-padding keeps equal to the numeric min
    * for every id below 10^12 (the fixture generator's ids are dense from
    * zero, far under that). */
  private def d6bClustersStr(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup
      .minhashPairs(Tables.documents(s, dir), threshold = 0.5)
      .select(format_string("doc_%012d", col("id_a")).as("id_a"),
        format_string("doc_%012d", col("id_b")).as("id_b"))
    graft.operators.Dedup.dupClusters(pairs)
  }

  /** d9: the shippable corpus after NEAR-dup removal — MinHash pairs →
    * transitive clusters → drop every non-canonical member (keep the min-id
    * copy of each cluster plus all unclustered docs). The end-to-end form
    * of the d-family: what a training pipeline actually writes out. One
    * anti-join against the (tiny) non-canonical id set. */
  private def d9NeardupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = graft.operators.Dedup.dupClusters(
      graft.operators.Dedup.minhashPairs(docs, threshold = 0.5))
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
  }

  private def d5EmbedPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.embeddingPairs(Tables.embeddings(s, dir), threshold = 0.42)
      .withColumn("cos", round(col("cos"), 6))

  /** d8: incremental dedup — a 20% id-slice as the arriving batch checked
    * against the rest of the corpus (ingest-time LSH, cross-side band
    * join; production persists the corpus signatures once). */
  private def d8IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Dedup.minhashPairsAcross(
      corpus = docs.filter(col("doc_id") % 5 =!= 3),
      fresh = docs.filter(col("doc_id") % 5 === 3),
      threshold = 0.5)
  }

  /** d7: benchmark decontamination — per-corpus-doc 5-gram overlap vs the
    * src0/src1 slice standing in for an eval suite. One corpus pass +
    * a broadcast of the benchmark's shingle set. */
  private def d7Decontaminate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decontaminate.overlapReport(Tables.documents(s, dir),
      benchPred = col("source").isin("src0", "src1"), shingleN = 5)

  // --------------------------------- training-data pipeline: similarity

  /** d10: SemDeDup — semantic near-dup removal over LEARNED k-means cells
    * (reuses the s4 IVF centroids, so the oracle's coarse-train replay is
    * already proven). Deterministic keep-lowest-id rule; full verdict
    * table out. */
  private def d10SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val (_, cents) = ensureIvfIndex(s, dir)
    graft.operators.Dedup.semanticDedup(Tables.embeddings(s, dir), cents,
      threshold = 0.35)
  }

  private def s1Knn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.bruteForceKnn(Tables.embeddings(s, dir), queryId = 0L, k = 10)
      .withColumn("cos", round(col("cos"), 6))

  private def s2AnnLsh(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.annSignLsh(Tables.embeddings(s, dir), queryId = 0L,
        k = 5, bits = 4)
      .withColumn("cos", round(col("cos"), 6))

  /** Materialized IVF index shared by s4_ivf_build / s4_ivf_knn — the
    * deployable ANN shape: a deployment trains + writes the cell-partitioned
    * index ONCE, then serves every query from it (round 3 benched a path
    * that re-ran Lloyd training per query — 2 full corpus passes each call).
    * Built once per session and sf dir, in the session's scratch root. */
  private def ensureIvfIndex(s: SparkSession, dir: String): (String, Seq[(Int, Seq[Double])]) =
    Scratch.once(s, "ivf-index", dir) {
      val emb = Tables.embeddings(s, dir)
      val cents = graft.operators.Similarity.ivfTrain(emb, nlist = 16, iters = 2)
      val path = Scratch.fresh(s, "ivf-index", dir)
      graft.operators.Similarity.ivfWriteIndex(emb, cents, path)
      (path, cents)
    }

  /** s4a: the IVF index BUILD (train + write), timed separately from probes.
    * Output = per-cell occupancy RE-READ from the written index, so the
    * oracle checks the materialized artifact, not just the plan. Forces a
    * rebuild every call. */
  private def s4IvfBuild(s: SparkSession, dir: String): DataFrame = {
    Scratch.forget("ivf-index", dir)
    val (path, _) = ensureIvfIndex(s, dir)
    s.read.parquet(path)
      .groupBy(col("cell").cast(IntegerType).as("cell"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"))
  }

  /** s4: IVF probe against the MATERIALIZED cell-partitioned index —
    * planning-time partition pruning (PartitionFilters) reads nProbe/nlist
    * of storage; centroid ranking and the query vector are driver-side
    * (KBs), no training in the query path. */
  private def s4IvfKnn(s: SparkSession, dir: String): DataFrame = {
    val (path, cents) = ensureIvfIndex(s, dir)
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0L)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .head().getSeq[Double](0).toIndexedSeq
    graft.operators.Similarity.ivfProbeIndex(s, path, cents, qv, k = 10)
      .withColumn("cos", round(col("cos"), 6))
  }

  /** p58: INDEX-BACKED kNN at the FRONT DOOR — `knn using <index>` probes
    * the s4-built cell-partitioned artifact resolved from the catalog
    * (read-only: nProbe/nlist of storage via planning-time partition
    * pruning, PlanSpec-pinned; a missing or un-built index fails loudly).
    * Closes the r12 verdict gap where the SQL face silently brute-forced.
    * Same probe parameters as s4_ivf_knn, so the rows share one oracle. */
  private def p58SqlKnnIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (path, cents) = ensureIvfIndex(s, dir)
    graft.sql.ZxSql.runCatalog(Map(
      "embeddings" -> Tables.embeddings(s, dir),
      "emb_index" -> s.read.parquet(path),
      "emb_index_centroids" -> cents.toDF("cid", "centroid")),
      "select knn using emb_index top 10 query 0 probe 2 from embeddings")
  }

  /** p70: the IVF-PQ index probed from the FRONT DOOR — `knn using` a
    * catalog-resolved index whose rows carry PQ residual codes: the face
    * detects the codes column, resolves the codebook table
    * (`<index>_books`, the booksToDF artifact) next to the centroids,
    * and runs the ADC scan (LUT lookups inside the cell-pruned read, no
    * dot products) + exact re-rank of the 100-row shortlist. Same
    * parameters as s9_ivfpq_knn, so the rows share the full-replay
    * oracle verbatim — billion-scale ANN reads, no training, no silent
    * brute-force. */
  private def p70SqlKnnPqIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (path, cents, books) = ensureIvfPqIndex(s, dir)
    graft.sql.ZxSql.runCatalog(Map(
      "embeddings" -> Tables.embeddings(s, dir),
      "pq_index" -> s.read.parquet(path),
      "pq_index_centroids" -> cents.toDF("cid", "centroid"),
      "pq_index_books" -> graft.operators.Similarity.booksToDF(s, books)),
      "select knn using pq_index top 10 query 0 probe 2 shortlist 100 " +
        "from embeddings")
      .select(col("vec_id"), col("label"),
        col("cell").cast(IntegerType).as("cell"), col("adc"), col("cos"))
  }

  /** p65: INDEX-BACKED MMR — `mmr using <index>`: the diverse re-rank's
    * shortlist from the cell-pruned probe (nProbe/nlist of storage)
    * instead of the brute corpus pass; the greedy walk is s13's exact
    * loop on that shortlist. Same read-only resolution rules as p58. */
  private def p65SqlMmrIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (path, cents) = ensureIvfIndex(s, dir)
    graft.sql.ZxSql.runCatalog(Map(
      "embeddings" -> Tables.embeddings(s, dir),
      "emb_index" -> s.read.parquet(path),
      "emb_index_centroids" -> cents.toDF("cid", "centroid")),
      "select mmr using emb_index top 8 query 0 shortlist 30 probe 2 from embeddings")
  }

  private def s3LshStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.lshBucketStats(Tables.embeddings(s, dir))

  /** s6: batched kNN — exact top-5 for three queries in one corpus pass;
    * the per-query rank filter compiles to WindowGroupLimit. */
  private def s6BatchKnn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.batchKnn(Tables.embeddings(s, dir),
        queryIds = Seq(0L, 1L, 2L), k = 5)
      .withColumn("cos", round(col("cos"), 6))

  /** s5: top-k by int8-quantized cosine — the 4×-smaller-index rung of the
    * ANN ladder (quantization codes bit-identical across engines). */
  private def s5QuantKnn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.quantizedKnn(Tables.embeddings(s, dir), queryId = 0L, k = 10)
      .withColumn("qcos", round(col("qcos"), 6))

  /** s7: embedding data-quality stats — the gate before any ANN build:
    * per-label counts and norm extremes/means, plus degenerate (near-zero)
    * vector counts. Norms are quantized to 2^-20 fixed point BEFORE
    * aggregating so the cross-row sums are exact integers (order-
    * independent ⇒ bit-identical across partitionings AND engines —
    * the IVF training trick applied to analytics); one narrow map + one
    * shuffle on the group key. */
  private def s7EmbedStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val nq = floor(norm(col("embedding")) * lit(1048576.0)).cast(LongType)
    Tables.embeddings(s, dir)
      .select(col("label"), nq.as("__nq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("__nq")) / lit(1048576.0) / count(lit(1)), 6).as("mean_norm"),
        round(min(col("__nq")) / lit(1048576.0), 6).as("min_norm"),
        round(max(col("__nq")) / lit(1048576.0), 6).as("max_norm"),
        sum(when(col("__nq") === 0L, 1L).otherwise(0L)).as("n_near_zero"))
  }

  /** s8: product-quantization ANN — the compression rung above int8
    * ([[s5QuantKnn]]): one-pass Lloyd codebooks over 16 subspaces of 4 dims
    * (16-byte codes, 16× smaller than float32), an ADC scan whose per-row
    * work is 16 LUT lookups + 15 adds (no dot products), then exact cosine
    * re-rank of the 100-row shortlist — the standard recall recovery,
    * which on this data returns the exact top-10. Training, encoding, ADC
    * and re-rank are all fixed-point/left-fold deterministic, so the
    * DuckDB oracle replays the entire pipeline bit-for-bit. */
  private def s8PqKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val books = graft.operators.Similarity.pqTrain(emb, m = 16, ksub = 16, iters = 1)
    graft.operators.Similarity.pqKnn(emb, books, queryId = 0L, k = 10, shortlist = 100)
      .select(col("vec_id"), col("label"), round(col("adc"), 6).as("adc"),
        round(col("cos"), 6).as("cos"))
  }

  private def ensureIvfPqIndex(s: SparkSession, dir: String)
      : (String, Seq[(Int, Seq[Double])], Seq[Seq[(Int, Seq[Double])]]) =
    Scratch.once(s, "ivfpq-index", dir) {
      val emb = Tables.embeddings(s, dir)
      val cents = graft.operators.Similarity.ivfTrain(emb, nlist = 16, iters = 2)
      val books = graft.operators.Similarity.ivfPqTrain(emb, cents,
        m = 16, ksub = 16, iters = 1)
      val path = Scratch.fresh(s, "ivfpq-index", dir)
      graft.operators.Similarity.ivfPqWriteIndex(emb, cents, books, path)
      (path, cents, books)
    }

  /** s9: the composed billion-scale ANN layout — IVF-PQ. Coarse k-means
    * cells partition the index table; each row stores the PQ codes of its
    * RESIDUAL (v − centroid[cell]); a probe prunes to nProbe cells at
    * planning time, ADC-scores them with per-cell query-residual lookup
    * tables (no dot products), and exact-cosine re-ranks the 100-row
    * shortlist from the stored vectors. Every stage (coarse train,
    * residuals, PQ train, encode, ADC, re-rank) is fixed-point/left-fold
    * deterministic, so the DuckDB oracle replays the full pipeline. */
  private def s9IvfPqKnn(s: SparkSession, dir: String): DataFrame = {
    val (path, cents, books) = ensureIvfPqIndex(s, dir)
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0L)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .head().getSeq[Double](0).toIndexedSeq
    graft.operators.Similarity.ivfPqProbe(s, path, cents, books, qv,
        k = 10, nProbe = 2, shortlist = 100)
      .select(col("vec_id"), col("label"), col("cell").cast(IntegerType).as("cell"),
        round(col("adc"), 6).as("adc"), round(col("cos"), 6).as("cos"))
  }

  /** s8b: the PQ code-distribution audit — per (subspace, code) occupancy
    * of the encoded corpus. Where s8's oracle checks the ADC top-100, this
    * one pins EVERY row's code assignment against the DuckDB-replayed
    * trainer+encoder (≤ m × ksub rows out), the strongest cross-engine
    * check on the compression itself. */
  private def s8bPqBuild(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val books = graft.operators.Similarity.pqTrain(emb, m = 16, ksub = 16, iters = 1)
    graft.operators.Similarity.pqEncode(emb, books)
      .select(posexplode(col("codes")).as(Seq("j", "code")))
      .groupBy(col("j"), col("code"))
      .agg(count(lit(1)).as("n"))
  }

  /** Raw-vector PQ codebooks shared by the recall audit — trained once per
    * sf dir (the deployable shape: codebooks are build artifacts, not
    * per-query work; s8/s8b deliberately keep training in their own timed
    * calls to price the build). */
  private def ensurePqBooks(s: SparkSession, dir: String): Seq[Seq[(Int, Seq[Double])]] =
    Scratch.once(s, "pq-books", dir) {
      graft.operators.Similarity.pqTrain(
        Tables.embeddings(s, dir), m = 16, ksub = 16, iters = 1)
    }

  /** s10: the ANN recall audit — the quality gate over the whole
    * approximate stack. For each approximate probe (s2 sign-LSH, s4 IVF,
    * s8 pure-ADC PQ, s9 IVF-PQ) and each of three fixed query ids, the
    * overlap count between the probe's top-10 and the exact top-10 —
    * deterministic integers the DuckDB oracle replays end-to-end, so a
    * silently degrading index flips a hash instead of hiding. s8 is scored
    * WITHOUT its exact re-rank (shortlist=0): that is the honest
    * compression-quality number — with the re-rank it recovers the exact
    * top-10 on this data, which would audit the rescue, not the codes.
    * All probe results are k-row frames, so the audit's joins move a few
    * dozen rows regardless of corpus size; the corpus-scale work is the
    * probes themselves, each already plan-pinned (PlanSpec) to its pruned/
    * join-free shape. */
  private def s10RecallAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Sim = graft.operators.Similarity
    val emb = Tables.embeddings(s, dir)
    val qids = Seq(0L, 1L, 2L)
    val (ivfPath, cents) = ensureIvfIndex(s, dir)
    val (pqPath, pqCents, resBooks) = ensureIvfPqIndex(s, dir)
    val rawBooks = ensurePqBooks(s, dir)
    // the corpus-scale sides run BATCHED — one exact pass (batchKnn), one
    // bucket-pruned LSH pass, one PQ-encode pass scoring all queries
    // (pqBatchKnn) — instead of 3 passes each; only the index probes
    // (already partition-pruned) run per query, as they would in production
    val exactDf = Sim.batchKnn(emb, qids, k = 10).select("query_id", "vec_id")
    val qvs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), graft.functions.VectorFunctions.toDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    def tagged(method: String, qid: Long, df: DataFrame): DataFrame =
      df.select(lit(method).as("method"), lit(qid).as("query_id"), col("vec_id"))
    val batched = Seq(
      Sim.batchAnnSignLsh(emb, qids, k = 10, bits = 4)
        .select(lit("s2_lsh").as("method"), col("query_id"), col("vec_id")),
      // the probe-width lever, measured: hamming-1 widening (all 4 flip
      // buckets + the query's own) should roughly triple 1-probe recall
      Sim.batchAnnSignLsh(emb, qids, k = 10, bits = 4, probes = 5)
        .select(lit("s2_lsh5").as("method"), col("query_id"), col("vec_id")),
      Sim.pqBatchKnn(emb, rawBooks, qids, k = 10)
        .select(lit("s8_pq").as("method"), col("query_id"), col("vec_id")),
      // s11's JL projection as a retrieval space: exact top-10 by cosine
      // over the 8-dim projected vectors — the audit row that prices the
      // 8× compression in recall terms
      Sim.batchKnn(emb.select(col("vec_id"),
          graft.functions.VectorFunctions
            .randomProject(col("embedding"), projMatrix).as("embedding")),
          qids, k = 10)
        .select(lit("s11_proj").as("method"), col("query_id"), col("vec_id")))
    val probed = qids.flatMap { qid =>
      Seq(
        tagged("s4_ivf", qid, Sim.ivfProbeIndex(s, ivfPath, cents, qvs(qid), k = 10, nProbe = 2)),
        tagged("s9_ivfpq", qid,
          Sim.ivfPqProbe(s, pqPath, pqCents, resBooks, qvs(qid), k = 10, nProbe = 2, shortlist = 100)))
    }
    // r15: every branch is ≤ |qids|·k rows BY CONSTRUCTION, yet unioned
    // lazily they planned as ONE ~190 KB mega-plan whose shared subtrees
    // (the exact frame fed both the overlap join and the n_exact spine)
    // re-executed inside a single serial action. Collect each bounded
    // branch as its own job from a small thread pool instead (opt guide
    // §2.6: overlap independent jobs — one branch's straggler tail
    // back-fills with the next branch's tasks), then assemble the audit
    // arithmetic over the collected local rows. Values are identical;
    // corpus-scale work still happens in the branches, per call.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val (exactRows, approxRows) =
      try {
        val fExact = scala.concurrent.Future(exactDf.collect())
        val fApprox = (batched ++ probed).map(df =>
          scala.concurrent.Future(df.collect()))
        val allF = scala.concurrent.Future.sequence(fApprox)
        (scala.concurrent.Await.result(fExact,
           scala.concurrent.duration.Duration.Inf),
         scala.concurrent.Await.result(allF,
           scala.concurrent.duration.Duration.Inf).flatten)
      } finally pool.shutdown()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("query_id", "vec_id")
    val approx = approxRows
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .toDF("method", "query_id", "vec_id")
    // static spine so a probe that returns ZERO overlapping (or zero total)
    // rows still reports its 0 instead of vanishing from the audit
    val spine = Seq("s2_lsh", "s2_lsh5", "s4_ivf", "s8_pq", "s9_ivfpq", "s11_proj")
      .flatMap(m => qids.map(q => (m, q))).toDF("method", "query_id")
    val nExact = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val overlap = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy("method", "query_id").agg(count(lit(1)).as("n"))
    spine.join(nExact, Seq("query_id"))
      .join(overlap, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"), col("n_exact"),
        coalesce(col("n"), lit(0L)).as("n_overlap"))
  }

  /** s12: FILTERED ANN — the modern vector-search shape (metadata
    * predicate + similarity): probe the s4 IVF index with `label = 3`
    * applied INSIDE the cell-pruned scan, BEFORE the top-k (post-filtering
    * a k-list would under-fill and lose recall). nProbe widened 2 → 4:
    * a selective filter decimates each probed cell's candidates — the
    * recall lever, priced explicitly. */
  private def s12FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val (path, cents) = ensureIvfIndex(s, dir)
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0L)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .head().getSeq[Double](0).toIndexedSeq
    graft.operators.Similarity.ivfProbeIndex(s, path, cents, qv,
        k = 10, nProbe = 4, where = col("label") === 3)
      .withColumn("cos", round(col("cos"), 6))
  }

  /** s11: Johnson-Lindenstrauss sign random projection 64→8 — the
    * dimensionality-reduction step ahead of ANN indexing (index bytes and
    * probe arithmetic both shrink 8×; JL preserves relative distances).
    * The ±1 matrix is a deterministic integer avalanche shared with the
    * oracle as plan literals; the whole query is one narrow codegen'd map,
    * no shuffle — it composes with streams and rides the scan stage at any
    * scale. Projected values are exact left-folds (bit-identical across
    * engines), rounded 6dp for the compare. */
  private val projDim = 8
  private lazy val projMatrix =
    graft.functions.VectorFunctions.projSigns(dim = 64, p = projDim)
  private def s11Project(s: SparkSession, dir: String): DataFrame = {
    val proj = graft.functions.VectorFunctions
      .randomProject(col("embedding"), projMatrix)
    Tables.embeddings(s, dir)
      .select(col("vec_id") +: (0 until projDim).map(j =>
        round(element_at(proj, j + 1), 6).as(s"p$j")): _*)
  }

  // ---------------------------------- training-data pipeline: multimodal

  private def m1MmBytes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.packBinary(Tables.documents(s, dir))
      .select("doc_id", "media_type", "n_bytes")

  /** Real in-container codec round-trip: pack each document as a canonical
    * RIFF/WAVE PCM file, then decode by parsing the actual byte layout —
    * header fields, LE 16-bit samples, peak/RMS fold. The synthesis rule
    * (rate = 8000·(1 + id%3), sample = (ascii−96)·256) is integer
    * arithmetic DuckDB replays exactly; RMS is sqrt over an exactly-
    * representable integer sum (< 2^53) so the doubles match bit-for-bit. */
  private def m2MmDecode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeWav(
      graft.operators.Multimodal.packWav(Tables.documents(s, dir)))

  /** Frame-sampling plumbing over the packed payload (every 4th 64-byte
    * frame) — one row per sampled frame with a digest, blob pruned out. */
  private def m3MmFrames(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.packBinary(Tables.documents(s, dir)))

  /** m9: scene-change detection — per document, sampled-frame digest
    * transitions (count + first change index): the temporal-structure
    * face of the m-family (m3 samples, m8 blocks on digests; m9 reads the
    * SEQUENCE). Digests only, blob stays pruned; one window exchange
    * shared with the same-key aggregation. */
  private def m9SceneChanges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sceneChanges(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.packBinary(Tables.documents(s, dir))))

  /** m4: the image-side codec round-trip — canonical 24bpp BMP containers
    * (bottom-up padded rows) packed then decoded by parsing the real byte
    * layout; channel means are exact integer sums over doubles, and the
    * top-left pixel pins the bottom-up row order (means alone are
    * order-blind). */
  private def m4BmpDecode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeBmp(
      graft.operators.Multimodal.packBmp(Tables.documents(s, dir)))

  /** m5: image RESIZE over the real codec — nearest-neighbor ×2 downsample
    * re-encoded as a new canonical BMP, then decoded; the oracle replays
    * the sampled pixel grid (out (x,y) = in (2x, 2y)) arithmetically. */
  private def m5BmpResize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.decodeBmp(
      graft.operators.Multimodal.resizeBmp(
        graft.operators.Multimodal.packBmp(Tables.documents(s, dir)), 2))

  /** m6: IMAGE near-dup pairs — the multimodal face of the dedup family.
    * Documents pack as real BMP containers, the perceptual difference-hash
    * samples the DECODED pixel grid (9×8 integer luma, 64 bits), and
    * near-dups surface through a banded Hamming join (guaranteed recall at
    * distance ≤ 3 by pigeonhole over four 16-bit bands, exact popcount
    * filter at ≤ 8). The oracle replays hash, bands, candidate join and
    * popcount from the synthesis rule — a hash match proves the whole
    * pipeline decode-accurate. */
  private def m6ImageNearDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.imageNearDupPairs(
      graft.operators.Multimodal.imageDHash(
        graft.operators.Multimodal.packBmp(Tables.documents(s, dir))),
      maxHamming = 8)

  /** m7: AUDIO near-dup pairs — m6's pattern on the second modality.
    * Documents pack as real RIFF/PCM WAV containers, the energy-envelope
    * fingerprint hashes the DECODED sample stream (65 windows, integer
    * |amplitude| sums, louder-than-previous contour bits), and the same
    * banded Hamming join surfaces similar audio. The threshold is 16/64
    * (75% contour agreement): length-relative windows make the contour
    * alignment-sensitive, so even MinHash-near texts churn more bits
    * than their image dHash does — 16 keeps the row non-trivial at every
    * SF while the ≤3 pigeonhole recall guarantee is unconditional. The
    * oracle replays window sums, contour bits, bands and popcount from
    * the synthesis rule. */
  private def m7AudioNearDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.bandedHammingPairs(
      graft.operators.Multimodal.audioFingerprint(
        graft.operators.Multimodal.packWav(Tables.documents(s, dir))),
      maxHamming = 16)

  /** m8: frame-set near-dup — the video-shaped dedup face: docs whose
    * sampled-frame digest sets overlap in ≥2 frames. Frame digest =
    * blocking key; ubiquitous frames capped out. */
  private def m8FrameNearDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.frameNearDupPairs(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.packBinary(Tables.documents(s, dir))),
      minShared = 2)

  /** c1: the training-data pipeline end-to-end in ONE declarative DAG —
    * language gate (predicted == labeled) ∧ quality gate, exact-dedup to
    * the min-id canonical copy, then per-source corpus stats. Catalyst
    * pipelines the gates into the scan (one pass), the dedup groupBy is the
    * first shuffle, the stats agg the second — at 100 TB this whole curate
    * step is two exchanges over pruned columns. */
  private def c1Curate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val gated = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        tokens(col("text")).as("__toks"))
      .filter(qualityOk(col("text")) &&
        langIdFromTokens(col("__toks")) === col("lang"))
    // canonical copy via window-min over the fingerprint: ONE scan + one
    // shuffle (a groupBy-keepers + self-join shape would re-read and
    // re-gate the whole corpus for the second branch)
    val canonical = gated
      .withColumn("__minid", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(fingerprint(col("text")))))
      .filter(col("doc_id") === col("__minid"))
    canonical
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__toks")).cast(LongType)).as("sum_tokens"),
        countDistinct(col("lang")).as("n_langs"))
  }

  // ---------------------------------------------- oracle SQL fragments

  private val duckToks = "string_split(text, ' ')"
  /** 32-bit base hash: first 8 md5 hex nibbles, positionally weighted. */
  private def duckShingleHash(sExpr: String): String =
    (1 to 8).map { p =>
      val mult = 1L << (4 * (8 - p))
      s"(instr('0123456789abcdef', substr(md5($sExpr), $p, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
  /** token-hash list `th` → Horner-combined 3-gram shingle hashes. */
  private val duckTokenHashes =
    s"list_transform($duckToks, t -> ${duckShingleHash("t")})"
  /** Horner-combined n-gram shingle hashes over a token-hash list `th` —
    * DuckDB rendering of TextFunctions.hashedShingles for any n. */
  private def duckHashedShinglesN(n: Int): String = {
    import graft.functions.TextFunctions.{MinhashP, ShingleB}
    val horner = (1 until n).foldLeft("th[i]")((acc, j) =>
      s"($acc * $ShingleB + th[i+$j]) % $MinhashP")
    s"list_transform(range(1, greatest(len(th) - ${n - 2}, 1)), i -> $horner)"
  }
  private val duckHashedShingles: String = duckHashedShinglesN(3)
  private def duckMinhash(i: Int): String = {
    val (a, b) = graft.functions.TextFunctions.minhashCoeffs(i)
    s"list_min(list_transform(hs, h -> (h * $a + $b) % ${graft.functions.TextFunctions.MinhashP}))"
  }
  private val duckJaccard =
    "len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE"

  /** DuckDB list dot product over the 64-dim embedding columns. */
  private def duckIvfDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  /** DuckDB replay of Similarity.ivfTrain + final assignment: 2 Lloyd
    * iterations with fixed-point (floor(v*2^20) BIGINT) component sums —
    * exact and order-independent, so trained centroids and therefore
    * assignments and scores match Spark bit-for-bit; argmax ties break to
    * lowest cid on both sides (row_number ORDER BY s DESC, cid ≡
    * struct(s,-cid) max). Yields CTEs `e` (doubled vectors), `cent2`
    * (trained centroids), `as2` (vec_id → cell). */
  private def duckIvfTrainCtes: String = {
    def iterSql(i: Int): String =
      s"""sc$i AS (SELECT e.vec_id, c.cid, ${duckIvfDot("e.v", "c.cv")} AS s FROM e CROSS JOIN cent$i c),
         |as$i AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc$i) WHERE rn = 1),
         |ex$i AS (SELECT a.cell, unnest(range(1, 65)) AS dim, unnest(e.v) AS val
         |  FROM e JOIN as$i a USING (vec_id)),
         |cent${i + 1} AS (SELECT cell AS cid, list(sq / qn ORDER BY dim) AS cv FROM (
         |  SELECT cell, dim, sum(CAST(floor(val * 1048576.0) AS BIGINT))::DOUBLE AS sq,
         |         (count(*) * 1048576.0) AS qn
         |  FROM ex$i GROUP BY cell, dim) GROUP BY cell)""".stripMargin
    s"""e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings),
       |cent0 AS (SELECT vec_id::INT AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${iterSql(0)},
       |${iterSql(1)},
       |sc2 AS (SELECT e.vec_id, c.cid, ${duckIvfDot("e.v", "c.cv")} AS s FROM e CROSS JOIN cent2 c),
       |as2 AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc2) WHERE rn = 1)""".stripMargin
  }

  /** 4-dim sub-vector dot for the PQ replays — same left fold as dotSql. */
  private def duckPqDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 5), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  /** DuckDB replay of Similarity.pqTrain(m=16, ksub=16, iters=1) + pqEncode
    * over `$src.$vcol` (any CTE exposing vec_id + a 64-dim DOUBLE list):
    * per-subspace L2 assignment is argmax(⟨sv,c⟩ − ‖c‖²/2) with ties to
    * the lowest code (row_number ORDER BY s DESC, cid ≡ the struct max);
    * centroid updates use the same floor(v·2^20) BIGINT sums. Yields CTEs
    * `${p}sub` (vec_id × subspace → sub-vector), `${p}cb1` (trained
    * codebooks), `${p}as1` (vec_id × subspace → final code). */
  private def duckPqTrainCtes(src: String, vcol: String, p: String): String = {
    def l2(s: String, c: String): String =
      s"${duckPqDot(s, c)} - ${duckPqDot(c, c)} / 2"
    def assign(from: String): String =
      s"""(SELECT vec_id, j, cid AS code FROM (
         |  SELECT s.vec_id, s.j, c.cid,
         |    row_number() OVER (PARTITION BY s.vec_id, s.j
         |      ORDER BY ${l2("s.sv", "c.cv")} DESC, c.cid) AS rn
         |  FROM ${p}sub s JOIN $from c ON s.j = c.j) WHERE rn = 1)""".stripMargin
    s"""${p}sub AS (SELECT vec_id, j, list_slice($vcol, j*4 + 1, j*4 + 4) AS sv
       |  FROM $src CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
       |${p}cb0 AS (SELECT j, vec_id::INT AS cid, sv AS cv FROM ${p}sub WHERE vec_id < 16),
       |${p}as0 AS ${assign(s"${p}cb0")},
       |${p}ex0 AS (SELECT a.j, a.code, unnest(range(1, 5)) AS dim, unnest(s.sv) AS val
       |  FROM ${p}sub s JOIN ${p}as0 a ON s.vec_id = a.vec_id AND s.j = a.j),
       |${p}cb1 AS (SELECT j, code AS cid, list(sq / qn ORDER BY dim) AS cv FROM (
       |  SELECT j, code, dim, sum(CAST(floor(val * 1048576.0) AS BIGINT))::DOUBLE AS sq,
       |         (count(*) * 1048576.0) AS qn
       |  FROM ${p}ex0 GROUP BY j, code, dim) GROUP BY j, code),
       |${p}as1 AS ${assign(s"${p}cb1")}""".stripMargin
  }

  /** Raw-vector PQ pipeline for s8: train+encode over `e.v`, then the ADC
    * scan — each row's total folds its 16 subspace LUT scores in subspace
    * order via list_reduce, matching Spark's left-assoc `reduce(_ + _)` —
    * and the top-100 shortlist. */
  private def duckPqCtes: String =
    s"""e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |${duckPqTrainCtes("e", "v", "")},
       |qs AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
       |adc AS (SELECT vec_id, list_reduce(list(s ORDER BY j), (acc, x) -> acc + x) AS adc
       |  FROM (SELECT a.vec_id, a.j, ${duckPqDot("q.qv", "c.cv")} AS s
       |    FROM as1 a JOIN cb1 c ON a.j = c.j AND a.code = c.cid
       |    JOIN qs q ON q.j = a.j)
       |  GROUP BY vec_id),
       |sl AS (SELECT vec_id, adc FROM (
       |  SELECT vec_id, adc, row_number() OVER (ORDER BY adc DESC, vec_id) AS rn
       |  FROM adc) WHERE rn <= 100)""".stripMargin

  /** Shared replay of Corpus.topBigrams' training side: `b` = (doc_id,
    * source, bigram) via the zipped-tail transform, `top` = the top-200
    * table with the engine-deterministic (count DESC, bigram ASC) tie
    * rule. Used by the x14 stats oracle and the c4 gate oracle. */
  private def duckFamiliarityCtes: String =
    """b AS (
      |  SELECT doc_id, source, unnest(list_transform(
      |    range(1, greatest(len(string_split(text, ' ')), 1)),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]))
      |    AS bg
      |  FROM documents
      |),
      |top AS (
      |  SELECT bg, n FROM (
      |    SELECT bg, count(*)::BIGINT AS n,
      |      row_number() OVER (ORDER BY count(*) DESC, bg ASC) AS rn
      |    FROM b GROUP BY bg) WHERE rn <= 200
      |)""".stripMargin

  /** Shared CTE prelude replicating minhashPairs' candidate generation:
    * token hashes → shingle hashes → 8 minhash sigs → 4 band keys →
    * band-equality candidates + distinct shingle sets for the verify.
    * `extraWhere` carries a SQL-face filter onto the documents scan. */
  private def duckMinhashPairCtes(extraWhere: String = ""): String = {
    val sigs = (0 until 8).map(i => s" ${duckMinhash(i)} AS s$i").mkString(",\n")
    s"""th0 AS (SELECT doc_id, $duckTokenHashes AS th FROM documents
       |  WHERE 1=1 $extraWhere),
       |hsrc AS (SELECT doc_id, $duckHashedShingles AS hs FROM th0),
       |sig AS (SELECT doc_id,
       |$sigs
       | FROM hsrc),
       |band AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS band_idx,
       |  unnest([md5(s0::VARCHAR || '|' || s1::VARCHAR), md5(s2::VARCHAR || '|' || s3::VARCHAR),
       |          md5(s4::VARCHAR || '|' || s5::VARCHAR), md5(s6::VARCHAR || '|' || s7::VARCHAR)]) AS bkey FROM sig),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM band l JOIN band r ON l.band_idx = r.band_idx AND l.bkey = r.bkey
       |   AND l.doc_id < r.doc_id
       |  WHERE l.bkey IS NOT NULL),
       |shd AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsrc)""".stripMargin
  }

  /** DuckDB replay of the data-anchored gap walk (reference lib.rs:689-726,
    * our GapWindows operator): each group's events are packed once into a
    * ts-then-id-ordered list (MATERIALIZED — aggregated a single time), then
    * a recursive CTE advances every group one event per step by list index,
    * applying the identical branch logic and the identical scalar arithmetic
    * (fold-in-order sum, incremental mean) — so the unrounded doubles match
    * Spark's bit-for-bit. Iterations = max events per group (~2k at sf0.01);
    * the per-step join is group-count × group-count, not × table size. */
  private def gapWindowOracle(gran: Long): String = {
    val X = "list_extract(l.evs, w.rn + 1)"
    val first = "(NOT w.has AND w.anch < 0)"
    val reopen = s"(NOT w.has AND w.anch >= 0 AND $X.ets - w.anch <= $gran)"
    val rean = s"(NOT w.has AND w.anch >= 0 AND $X.ets - w.anch > $gran)"
    val admit = s"(w.has AND $X.ets - w.ws <= $gran)"
    val breach = s"(w.has AND $X.ets - w.ws > $gran)"
    s"""WITH RECURSIVE evl AS MATERIALIZED (
       |  SELECT coalesce(event_type, '__nil') AS g,
       |         list(struct_pack(
       |                ets := CAST(floor(epoch(ts)) AS BIGINT),
       |                v := value,
       |                present := (value IS NOT NULL))
       |              ORDER BY floor(epoch(ts)), event_id) AS evs,
       |         count(*) AS n
       |  FROM events
       |  GROUP BY 1
       |),
       |walk AS (
       |  SELECT g, 0::BIGINT AS rn,
       |         (-1)::BIGINT AS ws, (-1)::BIGINT AS we, (-1)::BIGINT AS anch, FALSE AS has,
       |         0.0::DOUBLE AS s, 0.0::DOUBLE AS c, 0.0::DOUBLE AS m, 0::BIGINT AS mn,
       |         FALSE AS emitted,
       |         CAST(NULL AS BIGINT) AS e_ws, CAST(NULL AS BIGINT) AS e_we,
       |         CAST(NULL AS DOUBLE) AS e_s, CAST(NULL AS DOUBLE) AS e_c, CAST(NULL AS DOUBLE) AS e_m
       |  FROM evl
       |  UNION ALL
       |  SELECT w.g, w.rn + 1,
       |    CASE WHEN $first THEN $X.ets WHEN $reopen THEN w.anch
       |         WHEN $admit THEN w.ws ELSE -1 END,
       |    CASE WHEN $first OR $reopen OR $admit THEN $X.ets ELSE -1 END,
       |    CASE WHEN $rean OR $breach THEN $X.ets ELSE -1 END,
       |    ($first OR $reopen OR $admit),
       |    CASE WHEN $first OR $reopen THEN coalesce($X.v, 0.0)
       |         WHEN $admit THEN w.s + coalesce($X.v, 0.0) ELSE 0.0 END,
       |    CASE WHEN $first OR $reopen THEN (CASE WHEN $X.present THEN 1.0 ELSE 0.0 END)
       |         WHEN $admit THEN w.c + (CASE WHEN $X.present THEN 1.0 ELSE 0.0 END) ELSE 0.0 END,
       |    CASE WHEN $first OR $reopen THEN (CASE WHEN $X.present THEN $X.v ELSE 0.0 END)
       |         WHEN $admit AND $X.present THEN w.m + ($X.v - w.m) / (w.mn + 1)
       |         WHEN $admit THEN w.m ELSE 0.0 END,
       |    CASE WHEN $first OR $reopen THEN (CASE WHEN $X.present THEN 1 ELSE 0 END)
       |         WHEN $admit THEN w.mn + (CASE WHEN $X.present THEN 1 ELSE 0 END) ELSE 0 END,
       |    $breach,
       |    CASE WHEN $breach THEN w.ws END,
       |    CASE WHEN $breach THEN w.we END,
       |    CASE WHEN $breach THEN w.s END,
       |    CASE WHEN $breach THEN w.c END,
       |    CASE WHEN $breach THEN w.m END
       |  FROM walk w JOIN evl l USING (g)
       |  WHERE w.rn < l.n
       |)
       |SELECT g AS event_type, e_ws AS w_start, e_we AS w_end,
       |       e_s AS sum_value, e_c AS count_value, e_m AS mean_value
       |FROM walk WHERE emitted
       |UNION ALL
       |SELECT w.g, w.ws, w.we, w.s, w.c, w.m
       |FROM walk w JOIN evl l USING (g)
       |WHERE w.has AND w.rn = l.n""".stripMargin
  }

  /** a20/p13 oracle: full trajectory replay — the lag-window transitions,
    * then `iters` fixed-point power iterations as chained CTEs (the x17
    * unrolled-iteration pattern). Per-edge BIGINT floor division, so every
    * p_k matches the driver math bit-for-bit. */
  private def markovOracle(iters: Int, extraWhere: String,
                           stepSql: String = "event_type"): String = {
    val pre =
      s"""WITH e AS (SELECT user_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
         |    $stepSql AS event_type
         |  FROM events WHERE user_id IS NOT NULL $extraWhere),
         |l AS (SELECT event_type AS nxt, lag(event_type) OVER (
         |    PARTITION BY user_id ORDER BY t, event_id) AS prv FROM e),
         |tr AS (SELECT prv, nxt, count(*)::BIGINT AS c FROM l
         |  WHERE prv IS NOT NULL GROUP BY 1, 2),
         |rs AS (SELECT prv, sum(c)::BIGINT AS rc FROM tr GROUP BY 1),
         |states AS (SELECT DISTINCT st FROM
         |  (SELECT prv AS st FROM tr UNION SELECT nxt FROM tr)),
         |p0 AS (SELECT st, (1::BIGINT << 36) AS p FROM states)""".stripMargin
    val its = (1 to iters).map(k =>
      s"p$k AS (SELECT tr.nxt AS st, sum((p${k - 1}.p * tr.c) // rs.rc)::BIGINT AS p" +
        s" FROM p${k - 1} JOIN tr ON tr.prv = p${k - 1}.st" +
        s" JOIN rs ON rs.prv = p${k - 1}.st GROUP BY 1)").mkString(",\n")
    pre + ",\n" + its +
      s"""
         |SELECT states.st AS event_type, coalesce(p$iters.p, 0)::BIGINT AS p_fp,
         |  coalesce(rs.rc, 0)::BIGINT AS n_out
         |FROM states LEFT JOIN p$iters ON p$iters.st = states.st
         |LEFT JOIN rs ON rs.prv = states.st""".stripMargin
  }

  /** a19/p14 oracle: exact replay — same fixed-point values, same integer
    * cross-multiplied threshold, LEFT join so an unseen (type, hour)
    * counts as "no baseline" on both engines. */
  private def anomalyOracle(split: String, factor: Long, support: Long,
                            extraWhere: String): String =
    s"""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d, hour(ts) AS h,
       |    (floor(value * 1048576.0))::BIGINT AS vfp
       |  FROM events WHERE value IS NOT NULL $extraWhere),
       |b AS (SELECT event_type, h, count(*)::BIGINT AS bn,
       |    sum(vfp)::BIGINT AS bs
       |  FROM e WHERE d < DATE '$split' GROUP BY 1, 2)
       |SELECT e.event_type, strftime(e.d, '%Y-%m-%d') AS day,
       |  count(*)::BIGINT AS n_events,
       |  sum(CASE WHEN b.bn >= $support AND e.vfp * b.bn > $factor * b.bs
       |    THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
       |FROM e LEFT JOIN b USING (event_type, h)
       |WHERE e.d >= DATE '$split' GROUP BY 1, 2""".stripMargin

  /** c13/p15 oracle: one UNION ALL branch per profiled column, same long
    * format — numeric bounds fixed-point, timestamp bounds formatted,
    * string bounds raw (ASCII columns — binary and collation order
    * agree). `from` carries any WHERE the face applied. */
  private def profileOracle(numeric: Seq[String], strings: Seq[String],
                            tsCols: Seq[String], from: String,
                            withDistinct: Boolean = true): String = {
    // c13b (sketch mode) emits no distinct field — the HLL estimate has no
    // cross-engine mirror and is require-gated inside the query instead
    def nd(c: String) =
      if (withDistinct) s"count(DISTINCT $c)::BIGINT AS n_distinct," else ""
    def num(c: String) =
      s"""SELECT '$c' AS "column", count($c)::BIGINT AS n_nonnull,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  ${nd(c)}
         |  NULL::VARCHAR AS min_s, NULL::VARCHAR AS max_s,
         |  (floor(min($c) * 1048576.0))::BIGINT AS min_fp,
         |  (floor(max($c) * 1048576.0))::BIGINT AS max_fp FROM $from""".stripMargin
    def str(c: String) =
      s"""SELECT '$c', count($c)::BIGINT,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT,
         |  ${nd(c)} min($c), max($c),
         |  NULL::BIGINT, NULL::BIGINT FROM $from""".stripMargin
    def tsb(c: String) =
      s"""SELECT '$c', count($c)::BIGINT,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT,
         |  ${nd(c)}
         |  strftime(min($c), '%Y-%m-%d %H:%M:%S'),
         |  strftime(max($c), '%Y-%m-%d %H:%M:%S'),
         |  NULL::BIGINT, NULL::BIGINT FROM $from""".stripMargin
    (numeric.map(num) ++ strings.map(str) ++ tsCols.map(tsb))
      .mkString("\n UNION ALL\n")
  }

  /** x18/p16 oracle: identical inverted index — same tokenizer, integer
    * `//` IDF weights, BIGINT scores, same (score DESC, doc_a, doc_b)
    * total order at the K boundary. `maxDfPct` replays the fractional cap
    * as the same integer `n_docs·pct // 100` the engine computes. */
  private def similarOracle(topK: Int, minDf: Long, maxDf: Long,
                            extraWhere: String,
                            maxDfPct: Option[Int] = None): String = {
    val capSql = maxDfPct match {
      case Some(p) => s"greatest($minDf, (SELECT count(*) FROM documents" +
        s" WHERE 1=1 $extraWhere) * $p // 100)"
      case None => maxDf.toString
    }
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents WHERE 1=1 $extraWhere),
       |p AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
       |  GROUP BY 1, 2),
       |w AS (SELECT term, (1048576 // count(*))::BIGINT AS w FROM p
       |  GROUP BY term HAVING count(*) BETWEEN $minDf AND $capSql),
       |wp AS (SELECT p.doc_id, p.term, p.tf, w.w FROM p JOIN w USING (term))
       |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |  sum(l.tf * r.tf * l.w)::BIGINT AS sim_fp,
       |  count(*)::BIGINT AS n_shared
       |FROM wp l JOIN wp r ON l.term = r.term AND l.doc_id < r.doc_id
       |GROUP BY 1, 2 ORDER BY sim_fp DESC, doc_a, doc_b LIMIT $topK""".stripMargin
  }

  /** s13 oracle: the greedy MMR walk unrolled — step i picks the
    * argmax of `relW·rel − divW·max(sim to picked)` over the not-yet-
    * picked shortlist (ties by vec_id), exactly the driver loop. The
    * shortlist and the pairwise sim table are MATERIALIZED: default CTE
    * inlining re-expands the parquet scan per reference and exhausts
    * file handles.
    *
    * `withPrefix` prepends extra CTEs (p65 passes the IVF train/assign
    * replay), `embFrom` overrides the candidate relation (p65 restricts
    * it to the probed cells); the query vector still resolves from the
    * candidate relation — equivalent to the engine's base-frame lookup
    * whenever the query row survives the restriction (p65's does by
    * construction: a vector's own cell is its top-ranked probe). */
  private def mmrOracle(queryId: Long, k: Int, shortlist: Int,
                        relW: Double, divW: Double,
                        extraWhere: String = "",
                        withPrefix: String = "",
                        embFrom: String = "embeddings"): String = {
    import graft.functions.VectorFunctions.cosineSql
    val cosq = cosineSql("embedding", "qe", 64)
    val pwCos = cosineSql("a.embedding", "b.embedding", 64)
    val head =
      s"""WITH $withPrefix emb AS (SELECT * FROM $embFrom WHERE 1=1 $extraWhere),
         |q AS (SELECT embedding AS qe FROM emb WHERE vec_id = $queryId),
         |sl AS MATERIALIZED (SELECT vec_id, label, embedding, $cosq AS rel
         |  FROM emb, q ORDER BY $cosq DESC, vec_id LIMIT $shortlist),
         |pw AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  $pwCos AS sim FROM sl a, sl b),
         |s1 AS (SELECT vec_id FROM sl ORDER BY rel DESC, vec_id LIMIT 1),
         |p1 AS MATERIALIZED (SELECT vec_id FROM s1)""".stripMargin
    val steps = (2 to k).flatMap { i =>
      Seq(
        s"s$i AS (SELECT s.vec_id FROM sl s WHERE s.vec_id NOT IN " +
          s"(SELECT vec_id FROM p${i - 1}) ORDER BY $relW*s.rel - $divW*" +
          s"(SELECT max(pw.sim) FROM pw WHERE pw.ia = s.vec_id AND pw.ib IN " +
          s"(SELECT vec_id FROM p${i - 1})) DESC, s.vec_id LIMIT 1)",
        s"p$i AS MATERIALIZED (SELECT vec_id FROM p${i - 1} " +
          s"UNION ALL SELECT vec_id FROM s$i)")
    }.mkString(",\n")
    val ranks = (1 to k)
      .map(i => s"SELECT $i AS rank, vec_id FROM s$i").mkString(" UNION ALL ")
    s"""$head,
       |$steps
       |SELECT r.rank::BIGINT AS rank, r.vec_id, sl.label,
       |  round(sl.rel, 6) AS rel
       |FROM ($ranks) r JOIN sl ON sl.vec_id = r.vec_id""".stripMargin
  }

  /** m6/p21 oracle: the dHash pipeline replayed in DuckDB at the
    * given Hamming radius (band join + exact popcount filter). */
  private def imageNeardupOracle(maxHamming: Int): String = {
      // replay of the dHash pipeline from the synthesis rule: grid cell
      // (gx, gy) samples image pixel (gx*w//9, gy*h//8), whose bytes are
      // text positions 3*(sy*w+sx)+c (1-based; zero past the text — the
      // packBmp padding). Bit i = 8*gy + gx compares the cell to its right
      // neighbor; band b packs bits [16b, 16b+16) with local weights, so
      // gx = j%8, gy = 2b + j//8 for in-band bit j — all integer, no sign
      // games. Candidates share a band (the same join the Spark side
      // buckets on), then the exact popcount filter at <= 8.
      def grayAt(sx: String, sy: String): String =
        s"list_sum(list_transform(range(1, 4), c -> " +
          s"CASE WHEN 3 * (($sy) * w + ($sx)) + c <= n " +
          s"THEN ascii(substr(text, (3 * (($sy) * w + ($sx)) + c)::INT, 1))::BIGINT " +
          s"ELSE 0 END))"
      def band(b: Int): String =
        s"list_sum(list_transform(range(0, 16), j -> CASE WHEN " +
          s"grays[((${2 * b} + j // 8) * 9 + (j % 8) + 2)::INT] > " +
          s"grays[((${2 * b} + j // 8) * 9 + (j % 8) + 1)::INT] " +
          s"THEN (1::BIGINT << j::INT) ELSE 0 END)) AS band$b"
      s"""WITH s AS (
         |  SELECT doc_id, text, CAST(6 + (doc_id % 5) * 2 AS INT) AS w,
         |    strlen(text)::BIGINT AS n,
         |    CAST(greatest(1, ceil(strlen(text) /
         |      (3.0 * (6 + (doc_id % 5) * 2)))) AS INT) AS h
         |  FROM documents
         |), g AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 72), gg ->
         |      ${grayAt("(gg % 9) * w // 9", "(gg // 9) * h // 8")}) AS grays
         |  FROM s
         |), hsh AS (
         |  SELECT doc_id, ${band(0)}, ${band(1)}, ${band(2)}, ${band(3)}
         |  FROM g
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  (bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1)) +
         |   bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)))::BIGINT
         |    AS hamming
         |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id AND
         |  (a.band0 = b.band0 OR a.band1 = b.band1 OR
         |   a.band2 = b.band2 OR a.band3 = b.band3)
         |WHERE (bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1)) +
         |   bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))) <= $maxHamming""".stripMargin
  }

  /** a21/p20 oracle: same integer sums, same cross-multiplied slope
    * pair — DuckDB's hugeint sums cast back to BIGINT where the engine's
    * Longs live. */
  private def trendOracle(extraWhere: String): String =
    s"""WITH e AS (SELECT event_type, day(ts)::BIGINT AS x,
       |    (floor(value * 1024.0))::BIGINT AS y
       |  FROM events WHERE value IS NOT NULL $extraWhere),
       |s AS (SELECT event_type, count(*)::BIGINT AS n,
       |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
       |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
       |  FROM e GROUP BY 1)
       |SELECT event_type, n, (n * sxy - sx * sy)::BIGINT AS slope_num,
       |  (n * sxx - sx * sx)::BIGINT AS slope_den
       |FROM s""".stripMargin

  /** m7/p23 oracle: the energy-envelope fingerprint replayed in DuckDB
    * at the given Hamming radius (band join + exact popcount filter). */
  private def audioNeardupOracle(maxHamming: Int): String = {
      // replay of the energy-envelope fingerprint from the WAV synthesis
      // rule: sample j (1-based) = (ascii - 96) * 256, window w sums
      // |sample| over positions (w*n//65, (w+1)*n//65] (the 0-based
      // [w*n//65, (w+1)*n//65) range shifted to 1-based), contour bit i =
      // energy(i+1) > energy(i), bands pack bits [16b, 16b+16) with local
      // weights — all integer, then the same band join + popcount as m6.
      def band(b: Int): String =
        s"list_sum(list_transform(range(0, 16), j -> CASE WHEN " +
          s"energies[(${16 * b} + j + 2)::INT] > energies[(${16 * b} + j + 1)::INT] " +
          s"THEN (1::BIGINT << j::INT) ELSE 0 END)) AS band$b"
      s"""WITH s AS (
         |  SELECT doc_id, text, strlen(text)::BIGINT AS n FROM documents
         |), g AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 65), w ->
         |      coalesce(list_sum(list_transform(
         |        range(w * n // 65 + 1, (w + 1) * n // 65 + 1),
         |        j -> abs(ascii(substr(text, j::INT, 1)) - 96)::BIGINT * 256)), 0))
         |      AS energies
         |  FROM s
         |), hsh AS (
         |  SELECT doc_id, ${band(0)}, ${band(1)}, ${band(2)}, ${band(3)}
         |  FROM g
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  (bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1)) +
         |   bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)))::BIGINT
         |    AS hamming
         |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id AND
         |  (a.band0 = b.band0 OR a.band1 = b.band1 OR
         |   a.band2 = b.band2 OR a.band3 = b.band3)
         |WHERE (bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1)) +
         |   bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))) <= $maxHamming""".stripMargin
  }

  /** p45's oracle, shared verbatim by the streaming replay row
    * `st_sample` (the StreamReplay contract: the batch oracle verifies
    * the streaming path against the ORIGINAL testdata). */
  private val p45OracleSql: String =
    // gate-then-weighted-sample: x20's coin rule at scale 1500
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE lang != 'zh' AND
       |  CAST(${duckShingleHash("doc_id::VARCHAR")} % 1048576 AS DOUBLE) <
       |  least(greatest(CAST(n_chars AS DOUBLE) / 1500.0, 0.0), 1.0) * 1048576""".stripMargin

  /** p54's / p56's oracles, shared verbatim by `st_redact` / `st_langid`. */
  private val p54OracleSql: String =
      // x11's \b-literal rule with the face's terms and gate
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\bspark\b')) AS INT) AS n_spark,
        | CAST(len(regexp_extract_all(text, '\bdata\b')) AS INT) AS n_data,
        | substr(md5(regexp_replace(regexp_replace(text,
        |   '\bspark\b', '<PII>', 'g'), '\bdata\b', '<PII>', 'g')), 1, 16)
        |   AS redacted_fp
        |FROM documents WHERE source != 'src0'""".stripMargin

  private val p56OracleSql: String = {
    val pred = graft.functions.TextFunctions.langIdSql("text")
    s"""SELECT doc_id, lang, lang_pred, (lang_pred = lang) AS agree
       |FROM (SELECT doc_id, lang, $pred AS lang_pred FROM documents
       |  WHERE source != 'src5') t""".stripMargin
  }

  /** p72 + st_filter_join (batch ≡ stream): EXISTS, not IN — the face's
    * null semantics are EXISTS's. The stream replay emits no ORDER BY
    * but the compare canonicalizes row order. */
  private val p72OracleSql: String =
    """SELECT doc_id, lang, source FROM documents d
      |WHERE n_chars < 150 AND EXISTS (
      |  SELECT 1 FROM documents r
      |  WHERE r.n_chars > 450 AND r.lang = d.lang AND r.source = d.source)
      |ORDER BY doc_id""".stripMargin

  /** p53's oracle, shared verbatim by `st_quality`. */
  private val p53OracleSql: String = {
    // x2's metric rules behind the lang gate
    val en = graft.functions.TextFunctions.langStopwords.head._2
      .map(w => s"'$w'").mkString(",")
    val pc = graft.functions.TextFunctions.punctChars
    s"""SELECT doc_id,
       | CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       | (length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE
       |   / length(text)::DOUBLE AS punct_ratio,
       | len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE
       |   / len(string_split(text, ' '))::DOUBLE AS stop_ratio,
       | (length(text) >= 100 AND len(string_split(text, ' ')) >= 20
       |   AND (length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE / length(text)::DOUBLE <= 0.1
       |   AND len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE / len(string_split(text, ' '))::DOUBLE >= 0.01) AS quality_ok
       |FROM documents WHERE lang = 'en'""".stripMargin
  }

  /** s4_ivf_knn's oracle — the full DuckDB replay of centroid training,
    * probe-cell ranking (nProbe=2) and in-cell exact cosine. Shared
    * verbatim by `p58_sql_knn_index` (same index, same parameters through
    * the SQL front door). */
  private lazy val s4KnnOracleSql: String = {
    val cos = s"${duckIvfDot("e.v", "q.qv")} / (sqrt(${duckIvfDot("e.v", "e.v")}) * sqrt(${duckIvfDot("q.qv", "q.qv")}))"
    s"""WITH $duckIvfTrainCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |qsel AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${duckIvfDot("c.cv", "q.qv")} DESC, c.cid) AS rn
       |  FROM cent2 c, q) WHERE rn <= 2)
       |SELECT e.vec_id, e.label, a.cell, round($cos, 6) AS cos
       |FROM e JOIN as2 a USING (vec_id) JOIN qsel ON a.cell = qsel.cid, q
       |ORDER BY $cos DESC, e.vec_id
       |LIMIT 10""".stripMargin
  }

  /** s9's oracle — the full IVF-PQ replay: coarse train (duckIvfTrainCtes:
    * e/cent2/as2) → per-row residuals → PQ train+encode over them
    * (p-prefixed CTEs) → probe-cell selection (same dot-ranked rule as
    * s4) → per-cell query-residual ADC, folded in subspace order →
    * top-100 shortlist → exact re-rank. Every stage mirrors the Spark
    * arithmetic exactly. Shared verbatim by `p70_sql_knn_pq_index` (the
    * SQL face probing the same materialized index). */
  private lazy val s9IvfPqOracleSql: String = {
    val cos = s"${duckIvfDot("e.v", "q.qv")} / (sqrt(${duckIvfDot("e.v", "e.v")}) * sqrt(${duckIvfDot("q.qv", "q.qv")}))"
    s"""WITH $duckIvfTrainCtes,
       |res AS (SELECT e.vec_id, list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS rv
       |  FROM e JOIN as2 a USING (vec_id) JOIN cent2 c ON a.cell = c.cid),
       |${duckPqTrainCtes("res", "rv", "p")},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |qsel AS (SELECT cid FROM (SELECT c.cid,
       |    row_number() OVER (ORDER BY ${duckIvfDot("c.cv", "q.qv")} DESC, c.cid) AS rn
       |  FROM cent2 c, q) WHERE rn <= 2),
       |qr AS (SELECT c.cid AS cell, list_transform(range(1, 65), i -> q.qv[i] - c.cv[i]) AS rv
       |  FROM cent2 c JOIN qsel ON c.cid = qsel.cid, q),
       |qrs AS (SELECT cell, j, list_slice(rv, j*4 + 1, j*4 + 4) AS qsv
       |  FROM qr CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
       |padc AS (SELECT vec_id, list_reduce(list(s ORDER BY j), (acc, x) -> acc + x) AS adc
       |  FROM (SELECT a.vec_id, a.j, ${duckPqDot("r.qsv", "c.cv")} AS s
       |    FROM pas1 a
       |    JOIN as2 o ON a.vec_id = o.vec_id
       |    JOIN qrs r ON r.cell = o.cell AND r.j = a.j
       |    JOIN pcb1 c ON c.j = a.j AND c.cid = a.code)
       |  GROUP BY vec_id),
       |sl AS (SELECT vec_id, adc FROM (
       |  SELECT vec_id, adc, row_number() OVER (ORDER BY adc DESC, vec_id) AS rn
       |  FROM padc) WHERE rn <= 100)
       |SELECT e.vec_id, e.label, o.cell::INT AS cell,
       |  round(sl.adc, 6) AS adc, round($cos, 6) AS cos
       |FROM sl JOIN e USING (vec_id) JOIN as2 o USING (vec_id), q
       |ORDER BY $cos DESC, e.vec_id
       |LIMIT 10""".stripMargin
  }

  /** p85b's oracle, shared verbatim by `st_json`: the raw extract-and-
    * gate enrichment — k values are integer-valued, so no rounding is
    * needed on either engine. */
  private val p85bOracleSql: String =
    """SELECT event_id,
      |  TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k,
      |  json_extract_string(props, '$.k') AS ks
      |FROM events
      |WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 95""".stripMargin

  /** p86b's oracle, shared verbatim by `st_explode`: the raw exploded
    * (doc_id, element) pairs — both engines agree on the edges (NULL
    * input → zero rows, '' → one ''-element row, trailing separator → a
    * trailing '' element; the separator is literal on both). */
  private val p86bOracleSql: String =
    """SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |FROM documents WHERE lang = 'zh' AND n_chars < 150""".stripMargin

  /** p47's oracle, shared verbatim by `st_chunks`. */
  private val p47OracleSql: String =
    // x12's window arithmetic at size 24 / stride 12 behind a lang gate
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE lang = 'en'
      |), k AS (
      |  SELECT doc_id, toks, len(toks)::INT AS n,
      |    CAST(greatest(0, ceil((len(toks) - 24) / 12.0)) AS INT) AS kmax
      |  FROM t
      |), e AS (
      |  SELECT doc_id, toks, n,
      |    unnest(range(0, kmax + 1)) AS chunk_idx FROM k
      |)
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
      |  CAST(chunk_idx * 12 AS INT) AS start_tok,
      |  CAST(least(24, n - chunk_idx * 12) AS INT) AS n_tok,
      |  array_to_string(list_slice(toks, chunk_idx * 12 + 1,
      |    least(chunk_idx * 12 + 24, n)), ' ') AS chunk_text
      |FROM e""".stripMargin

  /** x21's oracle, shared verbatim by the streaming replay row
    * `st_lmscore` (the StreamReplay contract: the batch oracle verifies
    * the streaming path against the ORIGINAL testdata). */
  private val x21OracleSql: String =
      // full replay: en-slice unigram/bigram tables with the count-DESC/
      // key-ASC tie rule, per-position floor(2^30*(c2+1)/(c1+V)) terms
      // via LEFT joins (misses contribute the smoothed floor), integer
      // per-doc sums, and the one 6dp exact-integer ratio
      """WITH ref AS (SELECT text FROM documents WHERE lang = 'en'),
        |rt AS (SELECT unnest(string_split(text, ' ')) AS tk FROM ref),
        |uni AS (SELECT tk, n FROM (
        |    SELECT tk, count(*)::BIGINT AS n,
        |      row_number() OVER (ORDER BY count(*) DESC, tk ASC) AS rn
        |    FROM rt GROUP BY tk) WHERE rn <= 300),
        |rb AS (SELECT unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')), 1)),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
        |  FROM ref),
        |big AS (SELECT bg, n FROM (
        |    SELECT bg, count(*)::BIGINT AS n,
        |      row_number() OVER (ORDER BY count(*) DESC, bg ASC) AS rn
        |    FROM rb GROUP BY bg) WHERE rn <= 500),
        |b AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')), 1)),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
        |  FROM documents),
        |p AS (SELECT b.doc_id,
        |    CAST(floor(1073741824.0 * (coalesce(big.n, 0) + 1)
        |      / (coalesce(uni.n, 0) + (SELECT count(*) FROM uni))) AS BIGINT) AS term,
        |    CASE WHEN big.n IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM b LEFT JOIN big USING (bg)
        |    LEFT JOIN uni ON string_split(b.bg, ' ')[1] = uni.tk),
        |perdoc AS (SELECT doc_id, sum(term)::BIGINT AS lm_sum_fp,
        |    sum(hit)::BIGINT AS lm_hits, count(*)::BIGINT AS n_bigrams
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  coalesce(pd.lm_sum_fp, 0) AS lm_sum_fp,
        |  coalesce(pd.lm_hits, 0) AS lm_hits,
        |  coalesce(pd.n_bigrams, 0) AS n_bigrams,
        |  CASE WHEN coalesce(pd.n_bigrams, 0) > 0
        |    THEN round(pd.lm_sum_fp::DOUBLE / (pd.n_bigrams * 1073741824), 6)
        |  END AS mean_p
        |FROM documents d LEFT JOIN perdoc pd USING (doc_id)""".stripMargin

  /** a8_window's oracle, shared verbatim by `st_tumbling`. */
  private val a8OracleSql: String =
    """SELECT event_type,
      | CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
      | CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS w_end,
      | round(sum(coalesce(value, 0)), 3) AS sum_value,
      | round(CAST(count(value) AS DOUBLE), 3) AS count_value,
      | round(round(sum(coalesce(value, 0)), 3)
      |   / round(CAST(count(value) AS DOUBLE), 3), 6) AS mean_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** a9_session's oracle, shared verbatim by `st_session`. */
  private val a9OracleSql: String =
    // lag/cumsum session assignment over BIGINT seconds: new session when
    // the gap to the previous event is STRICTLY > 300 — Spark merges two
    // sessions when next.start <= current.end (= last + gap), so a gap of
    // exactly 300 still merges (pinned at sf0.01, where the >= variant
    // split 5 equality-gap sessions Spark merged).
    // Sessions are assigned over DISTINCT (g, t) pairs — a total order,
    // so the ROWS-framed cumulative sum is deterministic. Running it on
    // raw events flaked at sf0.1: when a break lands inside a tie block
    // of equal t, ROWS framing gives tie rows sorted BEFORE the flagged
    // row the previous session's id, and DuckDB's tie order varies run
    // to run. Same-t events are one session by definition on both
    // engines; the join fans membership back out to every event.
    """WITH e AS (SELECT coalesce(event_type, '__nil') AS g,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t, value FROM events),
      |dt AS (SELECT DISTINCT g, t FROM e),
      |m AS (SELECT g, t,
      |    CASE WHEN lag(t) OVER (PARTITION BY g ORDER BY t) IS NULL
      |         OR t - lag(t) OVER (PARTITION BY g ORDER BY t) > 300
      |         THEN 1 ELSE 0 END AS brk
      |  FROM dt),
      |sid AS (SELECT g, t, sum(brk) OVER (PARTITION BY g ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM m)
      |SELECT e.g AS event_type, min(e.t) AS w_start, max(e.t) + 300 AS w_end,
      |  round(sum(coalesce(e.value, 0)), 3) AS sum_value,
      |  round(CAST(count(e.value) AS DOUBLE), 3) AS count_value
      |FROM e JOIN sid ON e.g = sid.g AND e.t = sid.t
      |GROUP BY e.g, sid.s""".stripMargin

  /** a10_hopping's oracle, shared verbatim by `st_hopping`. */
  private val a10OracleSql: String =
    // per-event expansion to its covering windows: [w, w+3600) ∋ t iff
    // t-3600 < w <= t with w ≡ 0 (mod 900) — range() is end-exclusive,
    // operands always positive so // floor == truncate
    """WITH e AS (SELECT coalesce(event_type, '__nil') AS g,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t, value FROM events),
      |x AS (SELECT g, value,
      |    unnest(range((t - 3600) // 900 + 1, t // 900 + 1)) * 900 AS w
      |  FROM e)
      |SELECT g AS event_type, w AS w_start, w + 3600 AS w_end,
      |  round(sum(coalesce(value, 0)), 3) AS sum_value,
      |  round(CAST(count(value) AS DOUBLE), 3) AS count_value
      |FROM x GROUP BY g, w""".stripMargin

  /** a7_heatmap's oracle, shared verbatim by `st_heatmap`. */
  private val a7OracleSql: String =
    """SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS t_bucket,
      | CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 9) AS BIGINT) AS v_bucket,
      | round(CAST(count(*) AS DOUBLE), 3) AS weight,
      | CAST(count(*) AS BIGINT) AS n
      |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** p34_sql_enrich_windowed's oracle, shared verbatim by `st_enrich`. */
  private val p34OracleSql: String =
    // enrich-then-window: the join fans each event to its customer's
    // segment, tumbling buckets floor to the hour; group key surfaces
    // __nil-coalesced like every dialect dimension
    """WITH e AS (SELECT coalesce(c_mktsegment, '__nil') AS g,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t, value
      |  FROM events JOIN customer ON user_id = c_custkey
      |  WHERE event_type <> 'error')
      |SELECT g AS c_mktsegment,
      |  (t // 3600) * 3600 AS w_start,
      |  (t // 3600) * 3600 + 3600 AS w_end,
      |  round(sum(coalesce(value, 0)), 3) AS sum_value,
      |  round(CAST(count(*) AS DOUBLE), 3) AS n
      |FROM e GROUP BY 1, 2, 3""".stripMargin

  /** a8c_window_having's oracle, shared verbatim by `st_having`. */
  private val a8cOracleSql: String =
    // boolean HAVING on the windowed path — mean/max/min computed for
    // the filter only; st_having shares this oracle verbatim
    """SELECT event_type,
      | CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
      | CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS w_end,
      | round(sum(coalesce(value, 0)), 3) AS sv,
      | round(CAST(count(*) AS DOUBLE), 3) AS n
      |FROM events GROUP BY 1, 2, 3
      |HAVING (avg(value) > 55 OR max(value) > 320)
      |  AND NOT min(value) < 1""".stripMargin

  /** a8d_window_filter's oracle, shared verbatim by `st_filter`. */
  private val a8dOracleSql: String =
    // FILTER + bool_or on the windowed path; st_filter shares this
    // oracle verbatim (sum keeps missing-as-zero → coalesce)
    """SELECT event_type,
      | CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
      | CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS w_end,
      | round(coalesce(sum(value) FILTER (WHERE value > 100), 0), 3)
      |   AS hot_sv,
      | round(CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS DOUBLE),
      |   3) AS even_n,
      | bool_or(value > 300) AS spiked,
      | round(CAST(count(*) AS DOUBLE), 3) AS n
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  // ----------------------------------------------------------------- contract

  /** One registry row: the builder Verify dumps and Bench times, its DuckDB
    * oracle (parity conventions at the top of this file), and whether Bench
    * reports it in the build class — rows that train an index, codebook or
    * frequency table, or run a whole store-maintenance or streaming
    * lifecycle inside the timed call. In production those are one-off jobs,
    * not query-path work, so regression budgets can hold probe rows tight
    * without penalizing honest build cost. */
  final case class QueryRow(name: String,
      build: (SparkSession, String) => DataFrame,
      oracleSql: String, buildClass: Boolean = false)

  /** Rows that are one dialect statement over unmodified test tables,
    * declared as data. `post` runs after the statement (a rounding
    * projection where the oracle rounds). The two entry points bind FROM
    * differently, so each row names its own. A table name is resolved when
    * the row is declared: an unknown one fails the registry, not a run. */
  object QueryRow {
    /** Positional [[graft.sql.ZxSql.run]]: the named table is the base frame. */
    def sql(name: String, table: String, stmt: String, oracleSql: String,
        post: DataFrame => DataFrame = identity): QueryRow = {
      val open = Tables.open(table)
      QueryRow(name, (s, dir) => post(graft.sql.ZxSql.run(open(s, dir), stmt)),
        oracleSql)
    }

    /** [[graft.sql.ZxSql.runCatalog]]: FROM clauses resolve against the
      * named tables. */
    def catalog(name: String, tables: Seq[String], stmt: String,
        oracleSql: String, post: DataFrame => DataFrame = identity): QueryRow = {
      val opens = tables.map(t => t -> Tables.open(t))
      QueryRow(name, (s, dir) => post(graft.sql.ZxSql.runCatalog(
        opens.map { case (t, open) => t -> open(s, dir) }.toMap, stmt)), oracleSql)
    }
  }

  /** name → builder, in registry order. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap.from(rows.map(r => r.name -> r.build))

  /** name → DuckDB SQL. */
  lazy val oracleSql: Map[String, String] =
    rows.map(r => r.name -> r.oracleSql).toMap

  // A row that is one dialect statement over unmodified test tables is
  // declared here as data (QueryRow.sql / QueryRow.catalog); every other
  // row names its builder above. Registry order is the order Verify and
  // Bench walk. Every row that reads a fixture (an index, bucketed tables,
  // a CTAS slice) builds it on demand, so any subset runs alone or in any
  // order (HermeticSpec); the order only decides which row's timing
  // carries a shared fixture's one-off build. The streaming replays (st_*)
  // share the batch rows' oracles verbatim: the streaming path must
  // reproduce the answer DuckDB computes from the original parquet.
  lazy val rows: Seq[QueryRow] = Seq(
    QueryRow("t1_time_scan", t1TimeScan,
      s"""SELECT event_id, user_id, event_type, value,
         | CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
         |FROM events
         |WHERE epoch(ts) >= $T0 AND epoch(ts) <= $T1""".stripMargin),
    QueryRow("f1_cmp", f1Cmp,
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE value > 50 AND value <= 200 AND user_id >= 10 AND user_id < 90
        |  AND event_type != 'view'""".stripMargin),
    QueryRow("f1_string", f1String,
      """SELECT event_id, event_type, props FROM events
        |WHERE event_type LIKE 'c%' AND props LIKE '%9%'
        |  AND props NOT LIKE '%98%' AND props NOT LIKE '{"k": 1%'""".stripMargin),
    QueryRow("f1_null", f1Null,
      """SELECT event_id, user_id, value FROM events
        |WHERE nullif(event_type, 'error') IS NULL AND value IS NOT NULL""".stripMargin),
    // F2 boolean WHERE (extension — the reference is AND-only, expr.rs:99):
    // disjunction + nested negation through the SQL front door. NOT follows
    // three-valued logic on both engines (value NULL → NOT(NULL) → dropped).
    QueryRow.sql("f2_bool", "events",
      "select event_id, user_id, event_type, value from events " +
        "where event_type = error or (event_type = click and not (value >= 100))",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'error'
        |   OR (event_type = 'click' AND NOT (value >= 100))""".stripMargin),
    QueryRow("g1_group_nil", g1GroupNil,
      """SELECT coalesce(nullif(event_type, 'view'), '__nil') AS etype_n,
        | round(sum(coalesce(value, 0)), 3) AS sum_value,
        | round(CAST(count(value) AS DOUBLE), 3) AS count_value,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS count_distinct_user_id,
        | round(round(sum(coalesce(value, 0)), 3)
        |   / round(CAST(count(value) AS DOUBLE), 3), 6) AS mean_value
        |FROM events GROUP BY 1""".stripMargin),
    QueryRow("g2_salted_agg", g2SaltedAgg,
      """SELECT event_type,
        | round(sum(coalesce(value, 0)), 3) AS sum_value,
        | round(CAST(count(value) AS DOUBLE), 3) AS count_value,
        | min(value) AS min_value, max(value) AS max_value,
        | round(round(sum(coalesce(value, 0)), 3)
        |   / round(CAST(count(value) AS DOUBLE), 3), 6) AS mean_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryRow("g3_open_schema", g3OpenSchema,
      // json_extract_string mirrors the map<string,string> parse: scalars
      // stringify, missing keys are NULL → '__nil'; k is integral so the
      // double sums are exact on both engines before the shared rounding
      """SELECT event_type,
        | coalesce(json_extract_string(props, '$.region'), '__nil') AS region,
        | count(*)::BIGINT AS n,
        | round(sum(json_extract_string(props, '$.k')::DOUBLE), 3) AS sum_k,
        | round(avg(json_extract_string(props, '$.k')::DOUBLE), 6) AS mean_k
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryRow("a1_weighted", a1Weighted,
      // weight mirrors Aggregates.weight exactly: coalesce(TRY_CAST(...), 1.0)
      // — a props row without digits must default to 1.0 on BOTH sides
      """SELECT event_type,
        | round(sum(coalesce(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE), 1.0) * coalesce(value, 0)), 3) AS sum_value,
        | round(sum(CASE WHEN value IS NOT NULL THEN coalesce(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE), 1.0) ELSE 0 END), 3) AS count_value,
        | round(round(sum(coalesce(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE), 1.0) * coalesce(value, 0)), 3)
        |   / round(sum(CASE WHEN value IS NOT NULL THEN coalesce(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE), 1.0) ELSE 0 END), 3), 6) AS mean_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryRow("a2_extremes", a2Extremes,
      """SELECT event_type, max(value) AS max_value, min(value) AS min_value,
        | round(quantile_cont(value, 0.5), 6) AS p50_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryRow("a5_count_distinct_nil", a5CountDistinctNil,
      """SELECT CAST(user_id % 10 AS VARCHAR) AS bucket,
        | CAST(count(DISTINCT nullif(event_type, 'purchase'))
        |   + max(CASE WHEN nullif(event_type, 'purchase') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS count_distinct_etype_n,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS count_distinct_user_id
        |FROM events GROUP BY 1""".stripMargin),
    QueryRow("a7_heatmap", a7Heatmap, a7OracleSql),
    QueryRow("a8_window", a8Window, a8OracleSql),
    QueryRow("a8_gap_window", a8GapWindow, gapWindowOracle(3600L)),
    // a8b replays the SAME serial walk in DuckDB — a hash match proves the
    // run-decomposed parallel plan computes exactly what the serial walk does
    QueryRow("a8b_gap_runs", a8bGapRuns, gapWindowOracle(3600L)),
    // A9 session windows (extension): gap-based sessionization via Spark's
    // native `session_window` — w_start = first event, w_end = last + gap.
    // Oracle replays the identical rule as lag/cumsum over BIGINT seconds
    // (Spark merges when next.start <= current.end, so split only when the
    // gap is STRICTLY greater than 300).
    QueryRow.sql("a9_session", "events",
      "select sum(value), count(value) from events " +
        "group by event_type session 300",
      a9OracleSql,
      _.select(col("event_type"), col("w_start"), col("w_end"),
          round3("sum_value"), round3("count_value"))),
    QueryRow("a9b_session_salted", a9bSessionSalted,
      // the a9 replay over 2^-20-quantized values: windows must equal the
      // plain plan's (the two-level merge is exact), and quantized sums are
      // exact integers on both engines, so the hash pins plan equivalence
      """WITH e AS (SELECT coalesce(event_type, '__nil') AS g,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    floor(value * 1048576.0) / 1048576.0 AS value FROM events),
        |dt AS (SELECT DISTINCT g, t FROM e),
        |m AS (SELECT g, t,
        |    CASE WHEN lag(t) OVER (PARTITION BY g ORDER BY t) IS NULL
        |         OR t - lag(t) OVER (PARTITION BY g ORDER BY t) > 300
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dt),
        |sid AS (SELECT g, t, sum(brk) OVER (PARTITION BY g ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM m)
        |SELECT e.g AS event_type, min(e.t) AS w_start, max(e.t) + 300 AS w_end,
        |  round(sum(coalesce(e.value, 0)), 3) AS sum_value,
        |  round(CAST(count(e.value) AS DOUBLE), 3) AS count_value
        |FROM e JOIN sid ON e.g = sid.g AND e.t = sid.t
        |GROUP BY e.g, sid.s""".stripMargin),
    // A10 hopping windows (extension): 1h windows sliding every 15 min —
    // each event lands in 4 windows (Spark Expand → one aggregation).
    // Oracle: per-event unnest of the covering window starts.
    QueryRow.sql("a10_hopping", "events",
      "select sum(value), count(value) from events " +
        "group by event_type granularity 3600 slide 900",
      a10OracleSql,
      _.select(col("event_type"), col("w_start"), col("w_end"),
          round3("sum_value"), round3("count_value"))),
    // A11 tail percentiles (extension): p50/p90/p99 — the latency-SLO
    // staples — via the same exact interpolated percentile as A7's p50
    // (Spark `percentile` ≡ DuckDB `quantile_cont`).
    QueryRow.sql("a11_percentiles", "events",
      "select p50(value), p90(value), p99(value) from events " +
        "group by event_type order by p50(value) desc",
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50_value,
        | round(quantile_cont(value, 0.9), 6) AS p90_value,
        | round(quantile_cont(value, 0.99), 6) AS p99_value
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round6("p50_value"),
          round6("p90_value"), round6("p99_value"))),
    // P1 `ZX.SQL` surface (lib.rs:815-844): SQL text → IR → windowed pipeline,
    // with `$t_start`/`$t_end` pseudo-conditions (expr.rs:170-186).
    QueryRow.sql("p1_sql", "events",
      s"select sum(value), count(value) " +
        s"where event_type = click and $$t_start = $T0 and $$t_end = $T1 " +
        "group by user_id granularity 86400",
      s"""SELECT CAST(user_id AS VARCHAR) AS user_id,
         | CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS w_start,
         | CAST(floor(epoch(ts) / 86400) * 86400 + 86400 AS BIGINT) AS w_end,
         | round(sum(coalesce(value, 0)), 3) AS sum_value,
         | round(CAST(count(value) AS DOUBLE), 3) AS count_value,
         | round(round(sum(coalesce(value, 0)), 3)
         |   / round(CAST(count(value) AS DOUBLE), 3), 6) AS mean_value
         |FROM events
         |WHERE event_type = 'click' AND epoch(ts) >= $T0 AND epoch(ts) <= $T1
         |GROUP BY 1, 2, 3""".stripMargin,
      _.select(col("user_id"), col("w_start"), col("w_end"),
          round3("sum_value"), round3("count_value"))
        .withColumn("mean_value", stableMean("sum_value", "count_value"))),
    // P1+O1: ORDER BY on an aggregate routed to the sorted path — dead code in
    // the reference (lib.rs:840), wired here.
    QueryRow.sql("p2_sql_sorted", "events",
      "select sum(value), count_distinct(user_id) from events " +
        "where props like '%7%' group by event_type order by sum(value) desc",
      """SELECT event_type, round(sum(coalesce(value, 0)), 3) AS sum_value,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS count_distinct_user_id
        |FROM events WHERE props LIKE '%7%'
        |GROUP BY event_type
        |ORDER BY sum(coalesce(value, 0)) DESC, event_type""".stripMargin,
      _.select(col("event_type"), round3("sum_value"), col("count_distinct_user_id"))),
    // P1 + count(*): the README's own example shape through the windowed SQL
    // path — `*` counts every (weighted) row, a named column only presence.
    QueryRow.sql("p3_sql_star", "events",
      s"select count(*), count(value) from events " +
        s"where $$t_start = $T0 and $$t_end = $T1 " +
        "group by event_type granularity 86400",
      s"""SELECT event_type,
         | CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS w_start,
         | CAST(floor(epoch(ts) / 86400) * 86400 + 86400 AS BIGINT) AS w_end,
         | round(CAST(count(*) AS DOUBLE), 3) AS count_star,
         | round(CAST(count(value) AS DOUBLE), 3) AS count_value
         |FROM events
         |WHERE epoch(ts) >= $T0 AND epoch(ts) <= $T1
         |GROUP BY 1, 2, 3""".stripMargin,
      _.select(col("event_type"), col("w_start"), col("w_end"),
          round3("count_star"), round3("count_value"))),
    QueryRow("p4_sql_asof", p4SqlAsof,
      // identical independent encoding to j2's (DuckDB native ASOF LEFT
      // JOIN) minus the left `value`-independent column set difference
      """WITH o0 AS (SELECT o_custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_sec,
        |    o_orderkey, o_totalprice FROM orders),
        |o AS (SELECT *, row_number() OVER (PARTITION BY o_custkey, od_sec
        |    ORDER BY o_orderkey DESC) AS rn FROM o0),
        |ol AS (SELECT o_custkey, od_sec, o_orderkey, o_totalprice FROM o WHERE rn = 1),
        |e AS (SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
        |SELECT e.event_id, e.user_id, e.value, e.ts_sec,
        |  ol.o_orderkey, ol.o_totalprice
        |FROM e ASOF LEFT JOIN ol
        |  ON e.user_id = ol.o_custkey AND e.ts_sec >= ol.od_sec""".stripMargin),
    QueryRow("p5_sql_trailing", p5SqlTrailing,
      // independent non-equi join + group-by encoding (j3's oracle shape)
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value FROM events
        |    WHERE user_id IS NOT NULL)
        |SELECT l.event_id, l.user_id, l.ts_sec,
        |  CAST(count(r.event_id) AS BIGINT) AS count_r_event_id,
        |  round(coalesce(sum(r.value), 0), 3) AS sum_r_value
        |FROM e l JOIN e r ON l.user_id = r.user_id
        |  AND r.ts_sec BETWEEN l.ts_sec - 3600 AND l.ts_sec
        |GROUP BY l.event_id, l.user_id, l.ts_sec""".stripMargin),
    // P1 + a12: journey mining through the SQL front door (VERDICT r9 #3 —
    // the reference surface is SQL-first, lib.rs:815-844). The WHERE rides
    // the shared scan/filter front half, so sequence mining over a filtered
    // slice is one narrow filter ahead of the same two-shuffle plan.
    QueryRow.sql("p6_sql_journeys", "events",
      "select journeys top 15 steps 6 from events where event_type != 'error'",
      // a12's replay behind the SQL front door's WHERE: != drops NULL
      // event_type on both engines (three-valued logic), depth 6, top 15
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND event_type != 'error'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, d
        |    ORDER BY ts, event_id) AS rn FROM e),
        |p AS (SELECT user_id, d,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM r WHERE rn <= 6 GROUP BY user_id, d)
        |SELECT path, count(*)::BIGINT AS n_journeys FROM p
        |GROUP BY path ORDER BY n_journeys DESC, path LIMIT 15""".stripMargin),
    // o5: ROLLUP subtotals over the top-groups path (VERDICT r9 "what's
    // missing" #5 — absent in the reference too, but the one staple of the
    // "top groups" observability UI family O1 couldn't express without N
    // passes). One Expand + one hash aggregate computes (type, user),
    // (type), and the grand total together; data-missing keys stay `__nil`,
    // rolled-up levels render `__all` (distinguishable by construction —
    // keys coalesce BEFORE the rollup).
    QueryRow.sql("o5_rollup", "events",
      "select sum(value), count(value) from events " +
        "group by rollup event_type, user_id order by sum(value) desc",
      // the engine's exact trick mirrored: keys coalesce to __nil BEFORE
      // the rollup, so a null after it can only mean a rolled-up level →
      // __all; GROUP BY ROLLUP computes all three levels in one statement
      """WITH e AS (SELECT coalesce(event_type, '__nil') AS et,
        |    coalesce(CAST(user_id AS VARCHAR), '__nil') AS uid, value
        |  FROM events)
        |SELECT coalesce(et, '__all') AS event_type,
        |  coalesce(uid, '__all') AS user_id,
        |  round(sum(coalesce(value, 0)), 3) AS sum_value,
        |  round(CAST(count(value) AS DOUBLE), 3) AS count_value
        |FROM e GROUP BY ROLLUP (et, uid)""".stripMargin,
      _.select(col("event_type"), col("user_id"),
          round3("sum_value"), round3("count_value"))),
    // o6: CUBE — every key SUBSET {(type, user), (type), (user), ()} in the
    // same one-Expand-pass plan as o5's rollup; the per-user margin rows
    // are what cube adds over rollup. Key count capped at 4 in the dialect
    // (2^n level blowup is the documented cost).
    QueryRow.sql("o6_cube", "events",
      "select sum(value), count(value) from events " +
        "group by cube event_type, user_id order by sum(value) desc",
      // same null-free-input trick, all four key subsets
      """WITH e AS (SELECT coalesce(event_type, '__nil') AS et,
        |    coalesce(CAST(user_id AS VARCHAR), '__nil') AS uid, value
        |  FROM events)
        |SELECT coalesce(et, '__all') AS event_type,
        |  coalesce(uid, '__all') AS user_id,
        |  round(sum(coalesce(value, 0)), 3) AS sum_value,
        |  round(CAST(count(value) AS DOUBLE), 3) AS count_value
        |FROM e GROUP BY CUBE (et, uid)""".stripMargin,
      _.select(col("event_type"), col("user_id"),
          round3("sum_value"), round3("count_value"))),
    // o7: GROUPING SETS — caller-chosen subtotal levels {(type, user),
    // (user), ()}: rollup's prefix rule can't produce a user-only margin
    // and cube would add the unwanted type-only level; sets is the general
    // form, same one-Expand-pass plan and __nil/__all sentinels.
    QueryRow.sql("o7_grouping_sets", "events",
      "select sum(value), count(value) from events " +
        "group by sets (event_type, user_id), (user_id), () " +
        "order by sum(value) desc",
      // the same __nil-then-__all sentinel trick over caller-chosen levels
      """WITH e AS (SELECT coalesce(event_type, '__nil') AS et,
        |    coalesce(CAST(user_id AS VARCHAR), '__nil') AS uid, value
        |  FROM events)
        |SELECT coalesce(et, '__all') AS event_type,
        |  coalesce(uid, '__all') AS user_id,
        |  round(sum(coalesce(value, 0)), 3) AS sum_value,
        |  round(CAST(count(value) AS DOUBLE), 3) AS count_value
        |FROM e GROUP BY GROUPING SETS ((et, uid), (uid), ())""".stripMargin,
      _.select(col("event_type"), col("user_id"),
          round3("sum_value"), round3("count_value"))),
    QueryRow.sql("p7_sql_funnel", "events",
      "select funnel view, click, purchase from events where user_id <= 800",
      // a13's greedy k1/k2/k3 walk over the WHERE-filtered slice
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND user_id <= 800
        |    AND event_type IN ('view', 'click', 'purchase')),
        |g AS (SELECT user_id, d, list(event_type ORDER BY ts, event_id) AS evs
        |  FROM e GROUP BY user_id, d),
        |k AS (SELECT user_id, d, evs,
        |    coalesce(list_position(evs, 'view'), 0) AS k1 FROM g),
        |k2t AS (SELECT *, CASE WHEN k1 > 0 THEN
        |    coalesce(list_position(list_slice(evs, k1 + 1, len(evs)), 'click'), 0)
        |  ELSE 0 END AS k2 FROM k),
        |k3t AS (SELECT *, CASE WHEN k2 > 0 THEN
        |    coalesce(list_position(list_slice(evs, k1 + k2 + 1, len(evs)), 'purchase'), 0)
        |  ELSE 0 END AS k3 FROM k2t)
        |SELECT CASE WHEN k1 = 0 THEN 0 WHEN k2 = 0 THEN 1
        |  WHEN k3 = 0 THEN 2 ELSE 3 END AS stage,
        |  count(*)::BIGINT AS n_entity_days
        |FROM k3t GROUP BY 1""".stripMargin),
    // P1 + a14: half-life decay from SQL — `decay(value) last 32` over one
    // event type; fixed-point output, same engine-exact fold as a14.
    QueryRow.sql("p8_sql_decay", "events",
      "select decay(value) last 32 from events where event_type = 'click'",
      // a14's fold over the click slice, last-32 truncation
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id,
        |    coalesce(value, 0.0) AS v
        |  FROM events WHERE user_id IS NOT NULL AND event_type = 'click'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, d
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |g AS (SELECT user_id, d, list(v ORDER BY ts, event_id) AS vs
        |  FROM r WHERE rn <= 32 GROUP BY user_id, d)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
        |  (floor(list_reduce(list_prepend(0.0, vs),
        |    (acc, x) -> acc * 0.5 + x) * 1048576.0))::BIGINT AS decayed_fp,
        |  len(vs)::BIGINT AS n_events
        |FROM g""".stripMargin),
    // P1 + a15: deterministic argmax from SQL — `argmax(value, event_id)`
    // group-by with the dialect's `__nil` sentinel keys (unlike a15's raw
    // grouping, so the null-type group shows up as a row).
    QueryRow.sql("p9_sql_argmax", "events",
      "select argmax(value, event_id) from events where value exists " +
        "group by event_type",
      // a15's lexicographic tiebreak, but grouped through the dialect's
      // __nil sentinel keys (groupKeys casts + coalesces)
      """WITH e AS (SELECT coalesce(event_type, '__nil') AS event_type,
        |    event_id, value FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id DESC) AS rn FROM e),
        |n AS (SELECT event_type, count(*)::BIGINT AS n FROM e GROUP BY 1)
        |SELECT r.event_type, r.value AS max_value,
        |  r.event_id AS argmax_event_id, n.n
        |FROM r JOIN n USING (event_type) WHERE r.rn = 1""".stripMargin),
    // P1 + x15: span mining through the SQL front door, over the DOCUMENTS
    // table — the dialect reaching the pipeline-operator family: WHERE
    // gates (lang) compose ahead of the same explode → one-count-shuffle →
    // TakeOrdered plan.
    QueryRow.sql("p10_sql_spans", "documents",
      "select spans top 30 size 4 from documents where lang = 'en'",
      // x15's window walk over the lang-gated slice, size 4, top 30
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE lang = 'en'),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 4 + 2, 1)),
        |      i -> array_to_string(t[i:i+3], ' '))) AS span
        |  FROM toks)
        |SELECT span, CAST(count(*) AS BIGINT) AS n_occur,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM spans GROUP BY span
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occur DESC, span LIMIT 30""".stripMargin),
    // P1 + a16: cohort retention through the SQL front door — WHERE
    // composes ahead of the same two-exchange window + aggregation plan
    // (cohorts computed over the FILTERED population, by design).
    QueryRow.sql("p11_sql_retention", "events",
      "select retention from events where user_id <= 120",
      // a16's replay over the WHERE-filtered population (cohort = first
      // day WITHIN the filter, both engines)
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND user_id <= 120),
        |c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
        |  date_diff('day', c.cohort, e.d)::INT AS day_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_users,
        |  count(*)::BIGINT AS n_events
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    QueryRow.sql("p12_sql_attribution", "events",
      "select attribution purchase within 1800 from events where user_id <= 120",
      // a18's replay with the SQL face's filter and 1800 s lookback
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id, event_type,
        |    (floor(coalesce(value, 0.0) * 1048576.0))::BIGINT AS vfp
        |  FROM events WHERE user_id IS NOT NULL AND user_id <= 120),
        |w AS (SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN t END
        |      IGNORE NULLS) OVER win AS touch_t,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER win AS touch_tp
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN touch_t IS NOT NULL AND t - touch_t <= 1800
        |    THEN touch_tp ELSE '__none' END AS touch_type,
        |  count(*)::BIGINT AS n_conversions,
        |  sum(vfp)::BIGINT AS credited_fp
        |FROM w WHERE event_type = 'purchase' GROUP BY 1""".stripMargin),
    QueryRow.sql("p13_sql_markov", "events",
      "select markov iters 10 from events where event_type != 'error'",
      markovOracle(iters = 10, extraWhere = "AND event_type <> 'error'")),
    QueryRow.sql("p14_sql_anomaly", "events",
      "select anomaly split '2024-01-21' factor 3 support 20 " +
        "from events where event_type != 'error'",
      anomalyOracle("2024-01-21", 3L, 20L,
      extraWhere = "AND event_type <> 'error'")),
    QueryRow("p15_sql_profile", p15SqlProfile, profileOracle(Seq("user_id", "value"),
      Seq("event_type"), Seq("ts"),
      from = "events WHERE event_type = 'click'")),
    QueryRow.sql("p16_sql_similar", "documents",
      "select similar top 40 maxdfpct 10 from documents where lang = 'en'",
      similarOracle(40, 2L, 0L,
      extraWhere = "AND lang = 'en'", maxDfPct = Some(10))),
    QueryRow.sql("p17_sql_neardup", "documents",
      "select neardup threshold 50 from documents where n_chars >= 200",
      // d2b's replay over the SQL face's length-gated slice — the filter
      // applies BEFORE signatures, so band keys and candidates match the
      // engine's filtered scan
      s"""WITH ${duckMinhashPairCtes("AND n_chars >= 200")}
         |SELECT id_a, id_b, $duckJaccard AS jac
         |FROM cand JOIN shd a ON cand.id_a = a.doc_id JOIN shd b ON cand.id_b = b.doc_id
         |WHERE $duckJaccard >= 0.5""".stripMargin),
    QueryRow.sql("p18_sql_knn", "embeddings",
      "select knn top 8 query 42 from embeddings where vec_id < 400",
      {
      // s1's replay with the face's query id, k, and corpus filter
      val cos = graft.functions.VectorFunctions.cosineSql("embedding", "qe", 64)
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
         |e AS (SELECT * FROM embeddings WHERE vec_id < 400)
         |SELECT vec_id, label, round($cos, 6) AS cos
         |FROM e, q
         |ORDER BY $cos DESC, vec_id
         |LIMIT 8""".stripMargin
    }),
    // P1 + s13: MMR diverse re-rank from SQL, non-default query/k/
    // shortlist and a corpus filter (the query row satisfies it).
    QueryRow.sql("p19_sql_mmr", "embeddings",
      "select mmr top 8 query 7 shortlist 30 from embeddings where vec_id < 450",
      mmrOracle(queryId = 7L, k = 8, shortlist = 30,
      relW = 0.7, divW = 0.3, extraWhere = "AND vec_id < 450")),
    QueryRow.sql("p20_sql_trend", "events",
      "select trend from events where event_type != 'error'",
      trendOracle(extraWhere = "AND event_type <> 'error'")),
    QueryRow.sql("p21_sql_neardup_images", "documents",
      "select neardup images hamming 6 from documents",
      imageNeardupOracle(6)),
    // P1 + s13b: batched MMR from SQL — `queries` takes the id list, one
    // corpus pass re-ranks them all; WHERE composes into the pass.
    QueryRow.sql("p22_sql_mmr_batch", "embeddings",
      "select mmr top 5 queries 2, 8 shortlist 20 from embeddings where vec_id < 450",
      Seq(2L, 8L).map { qid =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, * FROM (
         |${mmrOracle(queryId = qid, k = 5, shortlist = 20, relW = 0.7,
             divW = 0.3, extraWhere = "AND vec_id < 450")}
         |)""".stripMargin
    }.mkString("\n UNION ALL \n")),
    QueryRow.sql("p23_sql_neardup_audio", "documents",
      "select neardup audio hamming 20 from documents",
      audioNeardupOracle(20)),
    QueryRow.sql("p24_sql_markov_distributed", "events",
      "select markov iters 10 distributed from events where event_type != 'error'",
      markovOracle(iters = 10, extraWhere = "AND event_type <> 'error'")),
    QueryRow("p25_sql_equi_join", p25SqlEquiJoin,
      // the j1 snowflake replayed through the dialect's plain-join face;
      // count(*) is the engine's weighted (DOUBLE) count, count_distinct
      // carries the +1-nil convention (a no-op here: inner-joined keys
      // are never null)
      """SELECT n_name,
        | round(sum(coalesce(l_quantity, 0)), 3) AS sum_l_quantity,
        | round(CAST(count(*) AS DOUBLE), 3) AS count_star,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS count_distinct_o_custkey,
        | max(o_totalprice) AS max_o_totalprice
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY n_name
        |ORDER BY sum(coalesce(l_quantity, 0)) DESC, n_name""".stripMargin),
    QueryRow.sql("p26_sql_neardup_video", "documents",
      "select neardup video shared 2 from documents where n_chars >= 256",
      // m8's oracle with the dialect's WHERE folded into the frame walk
      """WITH fr AS (SELECT DISTINCT doc_id,
        |    md5(substr(text, fi::INT * 64 + 1, 64)) AS f
        |  FROM (SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 1), 4)) AS fi
        |    FROM documents WHERE n_chars >= 256)),
        |kept AS (SELECT doc_id, f FROM fr
        |  QUALIFY count(*) OVER (PARTITION BY f) <= 1000)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  count(*)::BIGINT AS n_shared
        |FROM kept l JOIN kept r ON l.f = r.f AND l.doc_id < r.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    QueryRow.sql("p27_sql_scenes", "documents",
      "select scenes from documents where lang = 'en'",
      // m9's oracle with the dialect's WHERE folded into the frame walk
      """WITH f AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  md5(substr(text, fi::INT * 64 + 1, 64)) AS frame_md5
        |  FROM (SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 1), 4)) AS fi
        |    FROM documents WHERE lang = 'en')),
        |l AS (SELECT doc_id, frame_idx, frame_md5,
        |  lag(frame_md5) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |  FROM f)
        |SELECT doc_id, count(*)::BIGINT AS n_sampled,
        |  sum(CASE WHEN prev IS NOT NULL AND prev != frame_md5
        |    THEN 1 ELSE 0 END)::BIGINT AS n_changes,
        |  min(CASE WHEN prev IS NOT NULL AND prev != frame_md5
        |    THEN frame_idx END)::INT AS first_change_idx
        |FROM l GROUP BY doc_id""".stripMargin),
    // P1 + expression measures: the TPC-H q1 pricing-summary shape spelled
    // ENTIRELY at the SQL front door — computed measures
    // (`sum(l_extendedprice * (1 - l_discount)) as sum_disc_price`) with
    // `as` aliases, a per-row ratio under the weighted mean, and ORDER BY
    // referencing an alias. All columns are native doubles, so the
    // arithmetic is bit-identical IEEE on both engines; expression
    // measures evaluate row-wise and partial-aggregate map-side exactly
    // like plain columns (one exchange, whole-stage codegen).
    QueryRow.sql("p28_sql_expr_measures", "lineitem",
      "select sum(l_quantity) as sum_qty, " +
        "sum(l_extendedprice) as sum_base_price, " +
        "sum(l_extendedprice * (1 - l_discount)) as sum_disc_price, " +
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) as sum_charge, " +
        "mean(l_quantity) as avg_qty, " +
        "mean(l_extendedprice / l_quantity) as avg_unit_price, " +
        "count(*) as count_order " +
        "from lineitem where l_quantity >= 5 " +
        "group by l_returnflag, l_linestatus order by sum_qty desc",
      // the q1 pricing-summary shape through the dialect's expression
      // measures — every column is a native double, so the row-wise
      // arithmetic is bit-identical IEEE on both engines; sum = weighted
      // Σ coalesce(expr, 0), mean excludes null exprs (DuckDB avg skips
      // NULLs natively), count(*) is the engine's weighted DOUBLE count
      """SELECT l_returnflag, l_linestatus,
        | round(sum(coalesce(l_quantity, 0)), 3) AS sum_qty,
        | round(sum(coalesce(l_extendedprice, 0)), 3) AS sum_base_price,
        | round(sum(coalesce(l_extendedprice * (1 - l_discount), 0)), 3) AS sum_disc_price,
        | round(sum(coalesce(l_extendedprice * (1 - l_discount) * (1 + l_tax), 0)), 3) AS sum_charge,
        | round(avg(l_quantity), 3) AS avg_qty,
        | round(avg(l_extendedprice / l_quantity), 3) AS avg_unit_price,
        | round(CAST(count(*) AS DOUBLE), 3) AS count_order
        |FROM lineitem WHERE l_quantity >= 5
        |GROUP BY 1, 2""".stripMargin,
      _.select(col("l_returnflag"), col("l_linestatus"), round3("sum_qty"),
          round3("sum_base_price"), round3("sum_disc_price"),
          round3("sum_charge"), round3("avg_qty"), round3("avg_unit_price"),
          round3("count_order"))),
    QueryRow("p29_sql_expr_join", p29SqlExprJoin,
      // computed revenue aggregated over the joined frame; HAVING binds
      // the UNROUNDED aggregate on both engines
      """SELECT n_name,
        | round(sum(coalesce(l_extendedprice * (1 - l_discount), 0)), 3) AS revenue,
        | round(CAST(count(*) AS DOUBLE), 3) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus <> 'P'
        |GROUP BY n_name
        |HAVING sum(coalesce(l_extendedprice * (1 - l_discount), 0)) > 0""".stripMargin),
    // P1 + expression predicates: the q6-forecast flavor with a COMPUTED
    // measure in WHERE — `l_extendedprice * (1 - l_discount) > 1000`
    // engages the numeric expression predicate (post-scan evaluation),
    // while the plain discount/quantity conjuncts still push into the
    // Parquet scan; the revenue measure aggregates over the surviving
    // rows. All doubles — IEEE-identical on both engines.
    QueryRow.sql("p30_sql_expr_where", "lineitem",
      "select sum(l_extendedprice * l_discount) as revenue, " +
        "count(*) as n from lineitem " +
        "where l_discount >= 0.05 and l_discount <= 0.07 and l_quantity < 24 " +
        "and l_extendedprice * (1 - l_discount) > 1000 " +
        "group by l_returnflag order by revenue desc",
      // the expression predicate replays literally — doubles only, so
      // the comparison boundary is the same IEEE value on both engines
      """SELECT l_returnflag,
        | round(sum(coalesce(l_extendedprice * l_discount, 0)), 3) AS revenue,
        | round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |  AND l_extendedprice * (1 - l_discount) > 1000
        |GROUP BY 1""".stripMargin,
      _.select(col("l_returnflag"), round3("revenue"), round3("n"))),
    // P1, the full q3 shape at the front door: `ZxSql.runCatalog`
    // resolves the BASE frame from the query's own `from lineitem` (no
    // DataFrame in hand), DATE literals compare against the timestamp
    // columns (`o_orderdate < '1998-01-01'` — UTC epoch seconds on both
    // engines), the computed revenue aggregates over the chained joins,
    // and the top-10 cut rides the deterministic sorted path (revenue
    // desc, then the string group keys asc — mirrored in the oracle).
    QueryRow.catalog("p31_sql_q3_catalog", Seq("lineitem", "orders", "customer"),
      "select sum(l_extendedprice * (1 - l_discount)) as revenue, " +
        "count(*) as n from lineitem " +
        "join orders on l_orderkey = o_orderkey " +
        "join customer on o_custkey = c_custkey " +
        "where c_mktsegment = 'BUILDING' and o_orderdate < '1998-01-01' " +
        "and l_shipdate > '1998-01-01' " +
        "group by l_orderkey, o_orderdate order by revenue desc limit 10",
      // the dialect's group keys surface as __nil-coalesced STRINGS and
      // its top-10 cut tiebreaks on them ascending — the oracle renders
      // and orders identically (rev cut on the UNROUNDED sum)
      """WITH g AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |    sum(coalesce(l_extendedprice * (1 - l_discount), 0)) AS rev,
        |    CAST(count(*) AS DOUBLE) AS nn
        |  FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT l_orderkey, o_orderdate, round(rev, 3) AS revenue,
        |  round(nn, 3) AS n
        |FROM g ORDER BY rev DESC, l_orderkey, o_orderdate LIMIT 10""".stripMargin,
      _.select(col("l_orderkey"), col("o_orderdate"),
          round3("revenue"), round3("n"))),
    // p32: TPC-H q14 (promo revenue share) THROUGH the dialect — the
    // round's two new layers composed: a conditional measure (`case when …
    // then … else 0 end` INSIDE the aggregate) and a post-aggregate ratio
    // (`100 * sum(a) / sum(b) as …`) over the broadcast equi-join, with no
    // group by (the global roll-up shape the join grammar now takes). Both
    // component sums ride ONE hash aggregate — the ratio is a scalar
    // projection after the exchange, zero extra shuffles.
    QueryRow.catalog("p32_sql_case_ratio", Seq("lineitem", "part"),
      "select 100 * sum(case when p_type = 'PROMO' then " +
        "l_extendedprice * (1 - l_discount) else 0 end) / " +
        "sum(l_extendedprice * (1 - l_discount)) as promo_revenue, " +
        "count(*) as n " +
        "from lineitem join part on l_partkey = p_partkey " +
        "where l_shipdate >= '1997-03-01' and l_shipdate < '1997-04-01'",
      // both engines sum doubles and divide the two totals — the ratio is
      // scale-free, so 3dp rounding is far inside the float-sum parity band
      """SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 3) AS promo_revenue,
        | round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,
      _.select(round3("promo_revenue"), round3("n"))),
    // p33: TPC-H q12 (priority class counts) THROUGH the dialect — two
    // conditional measures whose branch predicates are IN-lists over the
    // joined frame, grouped on the deterministic sorted path. The CASE
    // values are exact small integers, so the double sums are
    // bit-identical on both engines.
    QueryRow.catalog("p33_sql_case_group", Seq("lineitem", "orders"),
      "select sum(case when o_orderpriority in ('1-URGENT', '2-HIGH') " +
        "then 1 else 0 end) as high_line_count, " +
        "sum(case when o_orderpriority in ('1-URGENT', '2-HIGH') " +
        "then 0 else 1 end) as low_line_count " +
        "from lineitem join orders on l_orderkey = o_orderkey " +
        "where l_shipdate >= '1997-01-01' and l_shipdate < '1998-01-01' " +
        "and l_returnflag = 'N' group by l_linestatus",
      // CASE values are exact small integers — double sums bit-identical
      """SELECT l_linestatus,
        | round(CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 1 ELSE 0 END) AS DOUBLE), 3) AS high_line_count,
        | round(CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 0 ELSE 1 END) AS DOUBLE), 3) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_returnflag = 'N'
        |GROUP BY l_linestatus""".stripMargin,
      _.select(col("l_linestatus"),
          round3("high_line_count"), round3("low_line_count"))),
    QueryRow("p34_sql_enrich_windowed", p34SqlEnrichWindowed, p34OracleSql),
    // p35: top-k groups PER parent dimension at the SQL front door —
    // `limit 2 per event_type` ranks each event_type's user groups by the
    // aggregate and keeps two; the rank-filter compiles to per-partition
    // WindowGroupLimit (plan-pinned), so each task forwards ≤ k rows per
    // partition to the one window exchange.
    QueryRow.sql("p35_sql_top_per_group", "events",
      "select sum(value) as s from events " +
        "group by event_type, user_id order by s desc limit 2 per event_type",
      // the engine ranks by (s DESC, group keys ASC) — partition key
      // constant within a partition, so the user-key STRING tiebreak
      // makes the cut total; replay identically
      """WITH g AS (SELECT coalesce(event_type, '__nil') AS et,
        |    coalesce(CAST(user_id AS VARCHAR), '__nil') AS uid,
        |    sum(coalesce(value, 0)) AS s
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT et, uid, s, row_number() OVER (
        |    PARTITION BY et ORDER BY s DESC, et, uid) AS rn FROM g)
        |SELECT et AS event_type, uid AS user_id, round(s, 3) AS s
        |FROM r WHERE rn <= 2""".stripMargin,
      _.select(col("event_type"), col("user_id"), round3("s"))),
    // p36: the RAW top-per-group (the o3 shape through the dialect) — the
    // 3 longest docs per source, total-ordered by the explicit doc_id
    // tiebreak in the ORDER BY.
    QueryRow.sql("p36_sql_top_raw_per", "documents",
      "select doc_id, source, n_chars " +
        "order by n_chars desc, doc_id limit 3 per source",
      """WITH r AS (SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 3""".stripMargin),
    // p37: membership subquery (the TPC-H q18 semi-join shape) THROUGH
    // the dialect — `where l_orderkey in (select l_orderkey … group by …
    // having sum(l_quantity) > 250)` compiles to a LEFT SEMI join of the
    // fact scan against the subquery's native-typed key frame; the outer
    // roll-up re-aggregates the surviving orders.
    QueryRow.catalog("p37_sql_in_subquery", Seq("lineitem"),
      "select sum(l_quantity) as total_qty, count(*) as n " +
        "from lineitem where l_orderkey in (select l_orderkey from lineitem " +
        "group by l_orderkey having sum(l_quantity) > 250) " +
        "group by l_orderkey order by total_qty desc",
      // the engine's semi join keeps every lineitem of a hot order; the
      // outer group key surfaces as the dialect's string rendering
      """WITH hot AS (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(coalesce(l_quantity, 0)) > 250)
        |SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
        |  round(sum(coalesce(l_quantity, 0)), 3) AS total_qty,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM hot)
        |GROUP BY 1""".stripMargin,
      _.select(col("l_orderkey"), round3("total_qty"), round3("n"))),
    // p38: `not in (select …)` — the ANTI join (decontamination shape):
    // orders from customers OUTSIDE a segment. Anti-join ("not matched")
    // semantics, spec-pinned divergence from ANSI NOT IN null-veto; the
    // oracle replays with NOT EXISTS accordingly.
    QueryRow.catalog("p38_sql_not_in", Seq("orders", "customer"),
      "select count(*) as n from orders " +
        "where o_custkey not in (select c_custkey from customer " +
        "where c_mktsegment = 'BUILDING') order by n desc",
      // NOT EXISTS, not NOT IN: the engine's `not in (select …)` is the
      // anti join (subquery nulls ignored), documented divergence from
      // ANSI three-valued NOT IN
      """SELECT round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM orders o WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey)""".stripMargin,
      _.select(round3("n"))),
    // p39: SCALAR subquery THROUGH the dialect — the "above corpus
    // average" gate. The threshold is ONE tiny aggregation at plan-build,
    // then inlined as a LITERAL that pushes into the fact scan's parquet
    // PushedFilters (plan-pinned) — at 100 TB the alternative (a join
    // carrying the scalar) would ride every row of the big side.
    QueryRow.catalog("p39_sql_scalar_sub", Seq("lineitem"),
      "select count(*) as n, sum(l_extendedprice) as rev " +
        "from lineitem where l_quantity > (select mean(l_quantity) from lineitem) " +
        "group by l_returnflag order by rev desc",
      // the engine inlines mean(l_quantity) as a double literal; DuckDB's
      // avg is the same double sum/count — quantities are integral, so
      // the threshold never lands on a row value
      """SELECT l_returnflag,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(sum(coalesce(l_extendedprice, 0)), 3) AS rev
        |FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
        |GROUP BY 1""".stripMargin,
      _.select(col("l_returnflag"), round3("n"), round3("rev"))),
    // p40: DERIVED TABLE (the TPC-H q13 custdist shape) THROUGH the
    // dialect — `from (select …)` two-level aggregation: inner counts
    // orders per customer, outer histograms customers by order count.
    // The outer runs the non-windowed sorted path over the inner frame;
    // Catalyst's EliminateSorts drops the inner ORDER BY under the outer
    // aggregate, so the plan is two back-to-back hash aggregations.
    QueryRow.catalog("p40_sql_custdist", Seq("orders"),
      "select count(*) as custdist from (select count(*) as n " +
        "from orders group by o_custkey order by n) " +
        "group by n order by custdist desc, n desc",
      // outer group key is the dialect's string rendering of the inner
      // DOUBLE count — CAST through DOUBLE to match "5.0"
      """WITH po AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
        |SELECT CAST(CAST(n AS DOUBLE) AS VARCHAR) AS n,
        |  round(CAST(count(*) AS DOUBLE), 3) AS custdist
        |FROM po GROUP BY 1""".stripMargin,
      _.select(col("n"), round3("custdist"))),
    // p41: derived-table stats with an outer WHERE gate — mean/max of
    // per-user spend over users whose total is positive ("HAVING at the
    // front door" via the derived frame).
    QueryRow.catalog("p41_sql_derived_stats", Seq("events"),
      "select mean(s) as avg_spend, max(s) as max_spend, " +
        "count(*) as n_users from (select sum(value) as s " +
        "from events group by user_id order by s) where s > 0",
      """WITH pu AS (SELECT user_id, sum(coalesce(value, 0)) AS s
        |  FROM events GROUP BY 1)
        |SELECT round(avg(s), 3) AS avg_spend, round(max(s), 3) AS max_spend,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n_users
        |FROM pu WHERE s > 0""".stripMargin,
      _.select(round3("avg_spend"), round3("max_spend"), round3("n_users"))),
    // p42: DERIVED JOIN SIDE (the TPC-H q17 correlated-threshold shape)
    // THROUGH the dialect — `join (select mean(…) group by key)` builds
    // per-part quantity averages in ONE aggregation pass, the self-join
    // carries them onto each lineitem row, and the expression predicate
    // compares row vs own-group threshold. AQE broadcasts the aggregate
    // side (|parts| rows, not |lineitem|).
    QueryRow.catalog("p42_sql_q17_shape", Seq("lineitem"),
      "select sum(l_extendedprice) as total_price, count(*) as n " +
        "from lineitem " +
        "join (select mean(l_quantity) as avg_qty from lineitem group by l_partkey) " +
        "on l_partkey = l_partkey " +
        "where l_quantity - 0.5 * avg_qty < 0 " +
        "group by l_returnflag order by total_price desc",
      // engine mean = exact-integral double sum / count, identical to
      // DuckDB avg; the predicate replays the same IEEE op order
      """WITH pa AS (SELECT l_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, round(sum(l.l_extendedprice), 3) AS total_price,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
        |WHERE l.l_quantity - 0.5 * pa.avg_qty < 0
        |GROUP BY 1""".stripMargin,
      _.select(col("l_returnflag"), round3("total_price"), round3("n"))),
    QueryRow("o1_top_groups", o1TopGroups,
      """SELECT event_type, round(sum(coalesce(value, 0)), 3) AS sum_value,
        | round(CAST(count(value) AS DOUBLE), 3) AS count_value
        |FROM events GROUP BY event_type
        |ORDER BY sum(coalesce(value, 0)) DESC, event_type""".stripMargin),
    // O1 + LIMIT through SQL: sort+limit compiles to TakeOrderedAndProject
    // (per-partition top-k, no global sort) — the scalable "top-k services"
    // query the reference's observability UI wants.
    QueryRow.sql("o2_topk_limit", "events",
      "select sum(value) from events group by user_id " +
        "order by sum(value) desc limit 5",
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        | round(sum(coalesce(value, 0)), 3) AS sum_value
        |FROM events GROUP BY 1
        |ORDER BY sum(coalesce(value, 0)) DESC, CAST(user_id AS VARCHAR)
        |LIMIT 5""".stripMargin,
      _.select(col("user_id"), round3("sum_value"))),
    QueryRow("o3_top_per_group", o3TopPerGroup,
      """SELECT doc_id, source, n_chars, CAST(rn AS INT) AS rank
        |FROM (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin),
    // O1 + HAVING: post-aggregation group filtering (extension — the
    // reference cannot filter aggregates at all), including a HAVING-only
    // aggregate computed for the filter and dropped from output. Runs on
    // UNROUNDED aggregates; output rounding follows the parity rules.
    QueryRow.sql("o4_having", "events",
      "select sum(value), count(value) from events group by user_id " +
        "having sum(value) > 1000 and max(value) <= 249 " +
        "order by sum(value) desc",
      // HAVING on the raw (unrounded) aggregates, like the engine side;
      // user_id renders as the group key string
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        | round(sum(coalesce(value, 0)), 3) AS sum_value,
        | round(CAST(count(value) AS DOUBLE), 3) AS count_value
        |FROM events GROUP BY 1
        |HAVING sum(coalesce(value, 0)) > 1000 AND max(value) <= 249
        |ORDER BY sum(coalesce(value, 0)) DESC, CAST(user_id AS VARCHAR)""".stripMargin,
      _.select(col("user_id"), round3("sum_value"), round3("count_value"))),
    QueryRow("q1_pricing", q1Pricing,
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryRow("q3_shipping", q3Shipping,
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),
    QueryRow("q4_priority", q4Priority,
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),
    QueryRow("q13_custdist", q13Custdist,
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN (
        |    SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |  ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    QueryRow("q21_waiting", q21Waiting,
      """SELECT n_name, CAST(count(*) AS BIGINT) AS numwait,
        | CAST(count(DISTINCT s_name) AS BIGINT) AS n_suppliers
        |FROM lineitem l1, orders, supplier, nation
        |WHERE l1.l_returnflag = 'R'
        |  AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |  AND s_suppkey = l1.l_suppkey AND s_nationkey = n_nationkey
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY n_name
        |ORDER BY numwait DESC, n_name""".stripMargin),
    QueryRow("q17_avg_yearly", q17AvgYearly,
      // same decorrelation-by-window: avg OVER (PARTITION BY l_partkey)
      // — both engines compute the threshold from exact integer sums, so
      // the < comparison is engine-exact
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM (
        |  SELECT p_brand, l_quantity, l_extendedprice,
        |    0.2 * avg(l_quantity) OVER (PARTITION BY l_partkey) AS thr
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 10)
        |WHERE l_quantity < thr
        |GROUP BY p_brand""".stripMargin),
    QueryRow("q18_large_volume", q18LargeVolume,
      """WITH hot AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders
        | JOIN hot ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    QueryRow("q5_local_supplier", q5LocalSupplier,
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin),
    QueryRow("q12_priority_class", q12PriorityClass,
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_returnflag = 'N'
        |GROUP BY l_linestatus""".stripMargin),
    QueryRow("q14_promo_ratio", q14PromoRatio,
      """SELECT 100.0
        |  * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS promo_revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin),
    QueryRow("q15_top_supplier", q15TopSupplier,
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)""".stripMargin),
    QueryRow("q7_nation_volume", q7NationVolume,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryRow("q11_part_concentration", q11PartConcentration,
      """WITH pv AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS part_val
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, CAST(part_val AS DOUBLE) AS part_value
        |FROM pv, (SELECT sum(part_val) AS tot, count(*) AS np FROM pv) st
        |WHERE part_val * np * 10 > tot * 13""".stripMargin),
    QueryRow("q19_brand_baskets", q19BrandBaskets,
      """SELECT
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    QueryRow("q22_idle_balance", q22IdleBalance,
      """WITH pos AS (
        |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer
        |  WHERE CAST(c_acctbal AS DECIMAL(18,2)) > CAST(0 AS DECIMAL(18,2))),
        | st AS (SELECT sum(bal) AS tot, count(*) AS n FROM pos)
        |SELECT c_mktsegment,
        | CAST(count(*) AS BIGINT) AS numcust,
        | CAST(sum(bal) AS DOUBLE) AS totacctbal
        |FROM pos, st
        |WHERE bal * n > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin),
    QueryRow("q6_forecast", q6Forecast,
      """SELECT
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin),
    QueryRow("q10_returned", q10Returned,
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),
    QueryRow("q9_profit", q9Profit,
      """SELECT n_name AS nation,
        | CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |   - CAST(p_retailprice AS DECIMAL(18,2))
        |     * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        | JOIN part ON p_partkey = l_partkey
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin),
    QueryRow("q8_market_share", q8MarketShare,
      """WITH vol AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |    round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 3) AS nation_volume,
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 3) AS total_volume
        |  FROM lineitem
        |   JOIN part ON p_partkey = l_partkey
        |   JOIN orders ON l_orderkey = o_orderkey
        |   JOIN supplier ON s_suppkey = l_suppkey
        |   JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'STANDARD'
        |    AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        |    AND o_custkey IN (
        |      SELECT c_custkey FROM customer
        |       JOIN nation cn ON c_nationkey = cn.n_nationkey
        |       JOIN region ON cn.n_regionkey = r_regionkey
        |      WHERE r_name = 'EUROPE')
        |  GROUP BY 1)
        |SELECT o_year, nation_volume, total_volume,
        | round(nation_volume / total_volume, 6) AS mkt_share
        |FROM vol""".stripMargin),
    QueryRow("q2_min_cost", q2MinCost,
      """WITH offers AS (
        |  SELECT p_partkey, s_suppkey, s_name,
        |    l_extendedprice / l_quantity AS uc,
        |    min(l_extendedprice / l_quantity) OVER (PARTITION BY p_partkey) AS min_uc
        |  FROM lineitem
        |   JOIN part ON p_partkey = l_partkey
        |   JOIN supplier ON s_suppkey = l_suppkey
        |   JOIN nation ON s_nationkey = n_nationkey
        |   JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size = 15 AND r_name = 'AMERICA')
        |SELECT p_partkey, s_suppkey, s_name,
        | round(min(uc), 6) AS unit_cost
        |FROM offers WHERE uc = min_uc
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryRow("q16_supplier_cnt", q16SupplierCount,
      """SELECT p_brand, p_type, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryRow("q20_promo_volume", q20PromoVolume,
      """SELECT s_suppkey, s_name, round(s_acctbal, 3) AS s_acctbal
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_type = 'PROMO'
        |      AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(l_quantity) > 45)""".stripMargin),
    QueryRow("j1_revenue_nation", j1RevenueNation,
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin),
    QueryRow("j2_asof_join", j2AsofJoin,
      // independent as-of implementation: DuckDB's native ASOF LEFT JOIN
      // over the same deterministically-deduped order versions
      """WITH o0 AS (SELECT o_custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_sec,
        |    o_orderkey, o_totalprice FROM orders),
        |o AS (SELECT *, row_number() OVER (PARTITION BY o_custkey, od_sec
        |    ORDER BY o_orderkey DESC) AS rn FROM o0),
        |ol AS (SELECT o_custkey, od_sec, o_orderkey, o_totalprice FROM o WHERE rn = 1),
        |e AS (SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
        |SELECT e.event_id, e.user_id, e.value, e.ts_sec,
        |  ol.o_orderkey, ol.o_totalprice
        |FROM e ASOF LEFT JOIN ol
        |  ON e.user_id = ol.o_custkey AND e.ts_sec >= ol.od_sec""".stripMargin),
    QueryRow("j4_asof_broadcast", j4AsofBroadcast,
      // same independent DuckDB ASOF LEFT JOIN as j2, over the
      // broadcast-sized dimension (custkey < 100)
      """WITH o0 AS (SELECT o_custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_sec,
        |    o_orderkey, o_totalprice FROM orders WHERE o_custkey < 100),
        |o AS (SELECT *, row_number() OVER (PARTITION BY o_custkey, od_sec
        |    ORDER BY o_orderkey DESC) AS rn FROM o0),
        |ol AS (SELECT o_custkey, od_sec, o_orderkey, o_totalprice FROM o WHERE rn = 1),
        |e AS (SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
        |SELECT e.event_id, e.user_id, e.value, e.ts_sec,
        |  ol.o_orderkey, ol.o_totalprice
        |FROM e ASOF LEFT JOIN ol
        |  ON e.user_id = ol.o_custkey AND e.ts_sec >= ol.od_sec""".stripMargin),
    QueryRow("j3_range_join", j3RangeJoin,
      // independent encoding: non-equi self-join + group-by (fine at oracle
      // scale; the engine side uses the single-exchange window form)
      """WITH e AS (SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
        |SELECT l.event_id, l.user_id, l.ts_sec,
        |  CAST(count(r.event_id) AS BIGINT) AS n_events_1h,
        |  round(coalesce(sum(r.value), 0), 3) AS sum_value_1h
        |FROM e l JOIN e r ON l.user_id = r.user_id
        |  AND r.ts_sec BETWEEN l.ts_sec - 3600 AND l.ts_sec
        |GROUP BY l.event_id, l.user_id, l.ts_sec""".stripMargin),
    QueryRow("j6_bucketed_join", j6BucketedJoin,
      // layout-free replay: bucketing is a physical-plan property only —
      // the oracle computes the identical join + gate over the raw table
      """WITH ev AS (SELECT event_id, user_id, event_type, value
        |  FROM events WHERE user_id IS NOT NULL),
        |prof AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM ev GROUP BY user_id)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  round(sum(coalesce(e.value, 0)), 3) AS sum_value
        |FROM ev e JOIN prof USING (user_id)
        |WHERE prof.n_events >= 5
        |GROUP BY e.event_type""".stripMargin),
    QueryRow("j6b_bucketed_build", j6bBucketedBuild, buildClass = true, oracleSql =
      // layout-free replay of the audit aggregation over the raw table
      """WITH ev AS (SELECT event_id, user_id, event_type, value
        |  FROM events WHERE user_id IS NOT NULL),
        |prof AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM ev GROUP BY user_id)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  max(prof.n_events) AS max_user_events
        |FROM ev e JOIN prof USING (user_id)
        |GROUP BY e.event_type""".stripMargin),
    QueryRow("a12_journeys", a12Journeys,
      // same total order (ts, event_id) drives both engines' paths, so
      // the pattern strings — and their counts — match exactly
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, d
        |    ORDER BY ts, event_id) AS rn FROM e),
        |p AS (SELECT user_id, d,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM r WHERE rn <= 8 GROUP BY user_id, d)
        |SELECT path, count(*)::BIGINT AS n_journeys FROM p
        |GROUP BY path ORDER BY n_journeys DESC, path LIMIT 20""".stripMargin),
    QueryRow("a13_funnel", a13Funnel,
      // greedy first-occurrence subsequence matching == the engine's fold:
      // k1/k2/k3 walk the same (ts, id)-ordered list via list_position
      // over the not-yet-consumed suffix
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |g AS (SELECT user_id, d, list(event_type ORDER BY ts, event_id) AS evs
        |  FROM e GROUP BY user_id, d),
        |k AS (SELECT user_id, d, evs,
        |    coalesce(list_position(evs, 'view'), 0) AS k1 FROM g),
        |k2t AS (SELECT *, CASE WHEN k1 > 0 THEN
        |    coalesce(list_position(list_slice(evs, k1 + 1, len(evs)), 'click'), 0)
        |  ELSE 0 END AS k2 FROM k),
        |k3t AS (SELECT *, CASE WHEN k2 > 0 THEN
        |    coalesce(list_position(list_slice(evs, k1 + k2 + 1, len(evs)), 'purchase'), 0)
        |  ELSE 0 END AS k3 FROM k2t)
        |SELECT CASE WHEN k1 = 0 THEN 0 WHEN k2 = 0 THEN 1
        |  WHEN k3 = 0 THEN 2 ELSE 3 END AS stage,
        |  count(*)::BIGINT AS n_entity_days
        |FROM k3t GROUP BY 1""".stripMargin),
    QueryRow("a17_funnel_within", a17FunnelWithin,
      // INDEPENDENT order-insensitive encoding of the greedy first-touch
      // walk (deliberately NOT a list fold: DuckDB 1.0's ordered list()
      // aggregate mis-orders under PARALLEL grouped aggregation — caught
      // at sf0.1, threads=1 agreed with the engine, threads=N flipped two
      // groups — so the oracle uses only min/exists aggregations):
      //   anchor  = min (t, id) among views (tv, then idv at tv);
      //   click*  = min (t, id) among clicks AFTER the anchor in
      //             (t, id) order and within 600 of tv;
      //   stage 3 iff any purchase after click* in order, within 600 of tv
      // — provably the fold's outcome: the fold advances at exactly the
      // first qualifying event in (t, id) order at each stage.
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |base AS (SELECT DISTINCT user_id, d FROM e),
        |v1 AS (SELECT user_id, d, min(t) AS tv FROM e
        |  WHERE event_type = 'view' GROUP BY user_id, d),
        |v AS (SELECT v1.user_id, v1.d, v1.tv, min(e.event_id) AS idv
        |  FROM v1 JOIN e USING (user_id, d)
        |  WHERE e.event_type = 'view' AND e.t = v1.tv
        |  GROUP BY v1.user_id, v1.d, v1.tv),
        |c1 AS (SELECT v.user_id, v.d, v.tv, v.idv, min(e.t) AS tc
        |  FROM v JOIN e USING (user_id, d)
        |  WHERE e.event_type = 'click' AND e.t - v.tv <= 600
        |    AND (e.t > v.tv OR (e.t = v.tv AND e.event_id > v.idv))
        |  GROUP BY v.user_id, v.d, v.tv, v.idv),
        |c AS (SELECT c1.user_id, c1.d, c1.tv, c1.tc, min(e.event_id) AS idc
        |  FROM c1 JOIN e USING (user_id, d)
        |  WHERE e.event_type = 'click' AND e.t = c1.tc
        |    AND (e.t > c1.tv OR (e.t = c1.tv AND e.event_id > c1.idv))
        |  GROUP BY c1.user_id, c1.d, c1.tv, c1.tc),
        |p AS (SELECT DISTINCT c.user_id, c.d
        |  FROM c JOIN e USING (user_id, d)
        |  WHERE e.event_type = 'purchase' AND e.t - c.tv <= 600
        |    AND (e.t > c.tc OR (e.t = c.tc AND e.event_id > c.idc)))
        |SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2
        |            WHEN v.user_id IS NOT NULL THEN 1
        |            ELSE 0 END AS stage,
        |  count(*)::BIGINT AS n_entity_days
        |FROM base
        |LEFT JOIN v USING (user_id, d)
        |LEFT JOIN c USING (user_id, d)
        |LEFT JOIN p USING (user_id, d)
        |GROUP BY 1""".stripMargin),
    QueryRow("a14_decay", a14Decay,
      // same fold, same truncation: last-64 filter via a DESC rank, then
      // acc·0.5 + v over the ASC order, seeded by list_prepend(0.0, …)
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id,
        |    coalesce(value, 0.0) AS v
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, d
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |g AS (SELECT user_id, d, list(v ORDER BY ts, event_id) AS vs
        |  FROM r WHERE rn <= 64 GROUP BY user_id, d)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
        |  (floor(list_reduce(list_prepend(0.0, vs),
        |    (acc, x) -> acc * 0.5 + x) * 1048576.0))::BIGINT AS decayed_fp,
        |  len(vs)::BIGINT AS n_events
        |FROM g""".stripMargin),
    QueryRow("a16_retention", a16Retention,
      // cohort = per-user min day; engine computes it via a window over
      // the user exchange, the replay via a grouped join — same table
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL),
        |c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
        |  date_diff('day', c.cohort, e.d)::INT AS day_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_users,
        |  count(*)::BIGINT AS n_events
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    QueryRow("a18_attribution", a18Attribution,
      // same running window, replayed with DuckDB's IGNORE NULLS
      // last_value over the identical (t, id) frame; touch_t/touch_type
      // come from the SAME (last non-purchase) row because both CASE
      // columns are non-null on exactly the non-purchase rows
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id, event_type,
        |    (floor(coalesce(value, 0.0) * 1048576.0))::BIGINT AS vfp
        |  FROM events WHERE user_id IS NOT NULL),
        |w AS (SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN t END
        |      IGNORE NULLS) OVER win AS touch_t,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER win AS touch_tp
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN touch_t IS NOT NULL AND t - touch_t <= 3600
        |    THEN touch_tp ELSE '__none' END AS touch_type,
        |  count(*)::BIGINT AS n_conversions,
        |  sum(vfp)::BIGINT AS credited_fp
        |FROM w WHERE event_type = 'purchase' GROUP BY 1""".stripMargin),
    QueryRow("a19_anomaly", a19Anomaly, anomalyOracle("2024-01-21", 2L, 30L, extraWhere = "")),
    QueryRow("a20_markov", a20Markov, markovOracle(iters = 20, extraWhere = "")),
    QueryRow("a20b_markov_distributed", a20bMarkovDistributed, markovOracle(iters = 20, extraWhere = "",
      stepSql = "concat(event_type, '#', CAST(user_id % 40 AS VARCHAR))")),
    QueryRow("a21_trend", a21Trend, trendOracle(extraWhere = "")),
    QueryRow("a15_argmax", a15Argmax,
      // the deterministic tiebreak replayed as a lexicographic window
      // rank: ORDER BY value DESC, event_id DESC == max(struct(value, id))
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id DESC) AS rn FROM e),
        |n AS (SELECT event_type, count(*)::BIGINT AS n FROM e GROUP BY 1)
        |SELECT r.event_type, r.value AS max_value,
        |  r.event_id AS argmax_event_id, n.n
        |FROM r JOIN n USING (event_type) WHERE r.rn = 1""".stripMargin),
    QueryRow("x1_lang_id", x1LangId, {
      val pred = graft.functions.TextFunctions.langIdSql("text")
      s"""SELECT doc_id, lang, lang_pred, (lang_pred = lang) AS agree
         |FROM (SELECT doc_id, lang, $pred AS lang_pred FROM documents) t""".stripMargin
    }),
    QueryRow("x2_quality", x2Quality, {
      val en = graft.functions.TextFunctions.langStopwords.head._2
        .map(w => s"'$w'").mkString(",")
      val pc = graft.functions.TextFunctions.punctChars
      s"""SELECT doc_id,
         | CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         | (length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE
         |   / length(text)::DOUBLE AS punct_ratio,
         | len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE
         |   / len(string_split(text, ' '))::DOUBLE AS stop_ratio,
         | (length(text) >= 100 AND len(string_split(text, ' ')) >= 20
         |   AND (length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE / length(text)::DOUBLE <= 0.1
         |   AND len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE / len(string_split(text, ' '))::DOUBLE >= 0.01) AS quality_ok
         |FROM documents""".stripMargin
    }),
    QueryRow("x3_token_stats", x3TokenStats,
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        | CAST(max(len(string_split(text, ' '))) AS INT) AS max_tokens,
        | round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
        |   / count(*), 6) AS mean_tokens
        |FROM documents GROUP BY source""".stripMargin),
    QueryRow("x4_fingerprint", x4Fingerprint, {
      import graft.functions.TextFunctions._
      s"""WITH nib AS (SELECT doc_id, md5(text) AS m,
         |  ${simhashNibblesSql("text")} AS nibs FROM documents)
         |SELECT doc_id, substr(m, 1, 16) AS fp,
         | CAST(${simhashBitsSql("nibs")} AS BIGINT) AS simhash16
         |FROM nib""".stripMargin
    }),
    QueryRow("x5_rolling_hash", x5RollingHash,
      // same polynomial over the (ASCII) bytes, HUGEINT-safe modular steps
      s"""SELECT doc_id,
         | list_reduce(list_prepend(0::BIGINT,
         |   list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i::INT, 1))::BIGINT)),
         |  (acc, x) -> ((acc::HUGEINT * ${graft.expressions.RollingHash.Base} + x)
         |    % ${graft.expressions.RollingHash.Mod})::BIGINT) AS rhash
         |FROM documents""".stripMargin),
    QueryRow("x6_sample", x6Sample,
      // same md5-hex-to-int trick as the shingle hash, over the id's
      // decimal string; % 100 < 20 keeps the same deterministic fifth
      s"""SELECT doc_id, source FROM documents
         |WHERE ${duckShingleHash("doc_id::VARCHAR")} % 100 < 20""".stripMargin),
    QueryRow("x7_pack", x7Pack,
      """SELECT doc_id, source,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(floor(coalesce(sum(len(string_split(text, ' ')))
        |   OVER (PARTITION BY source ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)
        |   AS BIGINT) AS chunk_id
        |FROM documents""".stripMargin),
    QueryRow("x8_repetition", x8Repetition, {
      def dup(h: String): String =
        s"CASE WHEN len($h) > 0 THEN (len($h) - len(list_distinct($h)))::DOUBLE" +
          s" / len($h)::DOUBLE ELSE 0.0 END"
      val top =
        """CASE WHEN len(toks) > 0 THEN
          |   list_max(list_transform(list_distinct(toks),
          |     t -> len(list_filter(toks, x -> x = t))))::DOUBLE / len(toks)::DOUBLE
          |  ELSE 0.0 END""".stripMargin
      s"""WITH t0 AS (SELECT doc_id, $duckToks AS toks, $duckTokenHashes AS th
         |  FROM documents),
         |g AS (SELECT doc_id, toks, ${duckHashedShinglesN(2)} AS h2,
         |  ${duckHashedShinglesN(3)} AS h3 FROM t0)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         | ${dup("h2")} AS dup2_ratio,
         | ${dup("h3")} AS dup3_ratio,
         | $top AS top_token_ratio,
         | (${dup("h3")} > 0.2 OR $top > 0.3) AS repetitive
         |FROM g""".stripMargin
    }),
    QueryRow("x9_vocab", x9Vocab,
      """SELECT token, CAST(count(*) AS BIGINT) AS tf,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin),
    QueryRow("x10_stratified", x10Stratified,
      s"""SELECT doc_id, source FROM documents
         |WHERE ${duckShingleHash("doc_id::VARCHAR")} % 100 <
         |  CASE source WHEN 'src2' THEN 5 WHEN 'src3' THEN 60 ELSE 20 END""".stripMargin),
    QueryRow("x11_redact", x11Redact,
      // same \b-wrapped literal-word patterns; Java and RE2 agree on ASCII
      // word boundaries, and the scrubbed text is pinned via md5 prefix
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS INT) AS n_customer,
        | CAST(len(regexp_extract_all(text, '\bkey\b')) AS INT) AS n_key,
        | substr(md5(regexp_replace(regexp_replace(text,
        |   '\bcustomer\b', '<PII>', 'g'), '\bkey\b', '<PII>', 'g')), 1, 16)
        |   AS redacted_fp
        |FROM documents""".stripMargin),
    QueryRow("x12_chunks", x12Chunks,
      // window k covers tokens [k*8, k*8+32); kmax = ceil((n-32)/8) floored
      // at 0 — list_slice's inclusive 1-based ends mirror slice()'s
      // (start, length) with the length clamp at the array end
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), k AS (
        |  SELECT doc_id, toks, len(toks)::INT AS n,
        |    CAST(greatest(0, ceil((len(toks) - 32) / 8.0)) AS INT) AS kmax
        |  FROM t
        |), e AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, kmax + 1)) AS chunk_idx FROM k
        |)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(chunk_idx * 8 AS INT) AS start_tok,
        |  CAST(least(32, n - chunk_idx * 8) AS INT) AS n_tok,
        |  array_to_string(list_slice(toks, chunk_idx * 8 + 1,
        |    least(chunk_idx * 8 + 32, n)), ' ') AS chunk_text
        |FROM e""".stripMargin),
    QueryRow("x13_bpe_tokens", x13BpeTokens, {
      val pat = graft.functions.TextFunctions.BpePattern.replace("'", "''")
      // leftmost-first alternation counts are engine-identical for this
      // lookahead-free pattern (probed: Java regex == RE2 on the fixture)
      s"""WITH t AS (
         |  SELECT source,
         |    len(regexp_extract_all(text, '$pat'))::BIGINT AS bt,
         |    len(string_split(text, ' '))::BIGINT AS wt
         |  FROM documents
         |)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(bt)::BIGINT AS sum_bpe, sum(wt)::BIGINT AS sum_ws,
         |  round(sum(bt)::DOUBLE / sum(wt), 6) AS bpe_per_word
         |FROM t GROUP BY source""".stripMargin
    }),
    QueryRow("x14_familiarity", x14Familiarity, buildClass = true, oracleSql =
      // full replay: bigrams via the zipped-tail transform, top-200 table
      // (count DESC, bigram ASC — the deterministic tie rule), per-doc
      // integer sums via an unnest + LEFT join (misses contribute 0),
      // then the same per-source integer folds and 6dp ratios
      s"""WITH $duckFamiliarityCtes,
        |perdoc AS (
        |  SELECT b.doc_id,
        |    sum(coalesce(top.n, 0))::BIGINT AS fam_sum,
        |    sum(CASE WHEN top.n IS NULL THEN 0 ELSE 1 END)::BIGINT AS fam_hits,
        |    count(*)::BIGINT AS n_bigrams
        |  FROM b LEFT JOIN top USING (bg)
        |  GROUP BY b.doc_id
        |)
        |SELECT d.source, count(*)::BIGINT AS n_docs,
        |  sum(coalesce(p.fam_sum, 0))::BIGINT AS sum_fam,
        |  sum(coalesce(p.fam_hits, 0))::BIGINT AS sum_hits,
        |  sum(coalesce(p.n_bigrams, 0))::BIGINT AS sum_bigrams,
        |  round(sum(coalesce(p.fam_sum, 0))::DOUBLE
        |    / sum(coalesce(p.n_bigrams, 0)), 6) AS mean_fam_per_bigram,
        |  round(sum(coalesce(p.fam_hits, 0))::DOUBLE
        |    / sum(coalesce(p.n_bigrams, 0)), 6) AS hit_rate
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |GROUP BY d.source""".stripMargin),
    QueryRow("x15_repeated_ngrams", x15RepeatedSpans,
      // same window walk: 5-token spans via list_transform over start
      // positions (range is end-exclusive; list slicing is stop-inclusive —
      // both offset to match Spark's sequence + slice exactly), count
      // grouped by span text, ≥2 distinct docs, count DESC / span ASC top-40
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 5 + 2, 1)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS span
        |  FROM toks)
        |SELECT span, CAST(count(*) AS BIGINT) AS n_occur,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM spans GROUP BY span
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occur DESC, span LIMIT 40""".stripMargin),
    QueryRow("x15b_spans_hashed", x15bRepeatedSpansHashed,
      // the hash-keyed plan replayed: same window walk, then the x5
      // Karp-Rabin fold per span, count by HASH (ties at the top-K
      // boundary break by hash — the engine selects before strings
      // exist), text recovered per surviving hash via min(span)
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 5 + 2, 1)),
        |      i -> array_to_string(t[i:i+4], ' '))) AS span
        |  FROM toks),
        |h AS (SELECT doc_id, span,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, length(span) + 1),
        |      i -> ascii(substr(span, i::INT, 1))::BIGINT)),
        |   (acc, x) -> ((acc::HUGEINT * ${graft.expressions.RollingHash.Base} + x)
        |     % ${graft.expressions.RollingHash.Mod})::BIGINT) AS span_h
        |  FROM spans),
        |c AS (SELECT span_h, count(*)::BIGINT AS n_occur,
        |    count(DISTINCT doc_id)::BIGINT AS n_docs
        |  FROM h GROUP BY span_h
        |  HAVING count(DISTINCT doc_id) >= 2
        |  ORDER BY n_occur DESC, span_h LIMIT 40),
        |r AS (SELECT span_h, min(span) AS span FROM h
        |  WHERE span_h IN (SELECT span_h FROM c) GROUP BY span_h)
        |SELECT r.span, c.span_h, c.n_occur, c.n_docs
        |FROM c JOIN r USING (span_h)
        |ORDER BY c.n_occur DESC, c.span_h""".stripMargin),
    QueryRow("x16_span_excise", x16SpanExcise, buildClass = true, oracleSql =
      // full replay: x15's span selection, then the SAME ordered fold —
      // list_prepend seeds list_reduce with the document text, each span
      // replaced in (n_occur DESC, span ASC) order exactly like the
      // engine's literal fold
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 3 + 2, 1)),
        |      i -> array_to_string(t[i:i+2], ' '))) AS span
        |  FROM toks),
        |top AS (
        |  SELECT span, count(*) AS n_occur
        |  FROM sp GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2
        |  ORDER BY n_occur DESC, span LIMIT 40),
        |sl AS (SELECT list(span ORDER BY n_occur DESC, span) AS spans FROM top),
        |cl AS (SELECT doc_id, text,
        |    list_reduce(list_prepend(text, sl.spans),
        |      (acc, x) -> replace(acc, x, '')) AS cleaned
        |  FROM documents CROSS JOIN sl)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_before,
        |  CAST(length(cleaned) AS BIGINT) AS n_chars_after,
        |  substring(md5(cleaned), 1, 16) AS clean_fp
        |FROM cl""".stripMargin),
    QueryRow("x18_tfidf_pairs", x18TfidfPairs, similarOracle(50, 2L, 0L, extraWhere = "",
      maxDfPct = Some(20))),
    QueryRow("x19_mixture", x19Mixture,
      // replay of the mixture cut rule with a full window — the engine's
      // bucket-prefix pre-filter is semantically invisible (see
      // Corpus.mixtureByTokenBudget), so the plain formulation matches
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${duckShingleHash("doc_id::VARCHAR")} % 4096 AS bkt
         |  FROM documents WHERE source IN ('src1', 'src2', 'src3')),
         |p AS (SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY bkt, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |  FROM d)
         |SELECT doc_id, source, n_tokens FROM p
         |WHERE prefix < CASE source WHEN 'src1' THEN 800
         |  WHEN 'src2' THEN 500 ELSE 2000 END""".stripMargin),
    QueryRow("x20_weight_sample", x20WeightSample,
      // the same md5 coin as x6 at 2^20 resolution, compared to the
      // row's own clamped acceptance probability; ×2^20 is exact in
      // IEEE doubles, so both engines evaluate the identical predicate
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE CAST(${duckShingleHash("doc_id::VARCHAR")} % 1048576 AS DOUBLE) <
         |  least(greatest(CAST(n_chars AS DOUBLE) / 2000.0, 0.0), 1.0) * 1048576""".stripMargin),
    QueryRow("x21_lm_score", x21LmScore, buildClass = true, oracleSql = x21OracleSql),
    QueryRow("x21b_lm_score_joined", x21bLmScoreJoined, buildClass = true, oracleSql = x21OracleSql),
    QueryRow("x22_curriculum", x22Curriculum,
      // the whole point of the bounded-histogram plan is that it equals
      // the naive global row_number — which IS the oracle formulation
      """WITH s AS (SELECT doc_id,
        |  CAST(floor(least(greatest(n_chars / 2000.0, 0.0), 1.0) * 1048576)
        |    AS BIGINT) AS qs FROM documents),
        |r AS (SELECT doc_id, qs,
        |  row_number() OVER (ORDER BY qs, doc_id) - 1 AS rank0 FROM s)
        |SELECT doc_id, qs, rank0::BIGINT AS rank0,
        |  CAST((rank0 * 8) // (SELECT count(*) FROM s) AS BIGINT) AS shard
        |FROM r""".stripMargin),
    // x23: QUALITY-ordered mixture — each source's token budget fills
    // best-first (length score at scale 2000) from the gated survivors;
    // the curation counterpart of x19's fair sample, exercised through
    // the SQL face.
    QueryRow.sql("x23_mixture_scored", "documents",
      "select mixture score n_chars scale 2000 " +
        "src1=600, src2=400, src3=1500 where n_chars > 120",
      // the scored greedy rule replayed with a full window: quality
      // bucket = 4095 - floor(clamped(n_chars/2000)·4096) (best first,
      // ×4096 exact), prefix token sums in (bucket, id) order < budget
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    4095 - CAST(least(floor(least(greatest(n_chars / 2000.0, 0.0), 1.0)
        |      * 4096), 4095) AS BIGINT) AS bkt
        |  FROM documents
        |  WHERE source IN ('src1', 'src2', 'src3') AND n_chars > 120),
        |p AS (SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY bkt, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |  FROM d)
        |SELECT doc_id, source, n_tokens FROM p
        |WHERE prefix < CASE source WHEN 'src1' THEN 600
        |  WHEN 'src2' THEN 400 ELSE 1500 END""".stripMargin),
    // p50: the curriculum SQL face — gate, rank by the scaled length
    // score, cut 6 ordered shards over the SURVIVORS (ranks re-pack after
    // the gate, which the oracle replays).
    QueryRow.sql("p50_sql_curriculum", "documents",
      "select curriculum score n_chars scale 2000 shards 6 where lang != 'fr'",
      // x22's naive-global-row_number oracle over the gated survivors
      """WITH s AS (SELECT doc_id,
        |  CAST(floor(least(greatest(n_chars / 2000.0, 0.0), 1.0) * 1048576)
        |    AS BIGINT) AS qs FROM documents WHERE lang != 'fr'),
        |r AS (SELECT doc_id, qs,
        |  row_number() OVER (ORDER BY qs, doc_id) - 1 AS rank0 FROM s)
        |SELECT doc_id, qs, rank0::BIGINT AS rank0,
        |  CAST((rank0 * 6) // (SELECT count(*) FROM s) AS BIGINT) AS shard
        |FROM r""".stripMargin),
    // d1b: NORMALIZED exact dedup — case/punctuation/whitespace variants
    // of the same content land in one group (lower → strip non-[a-z0-9 ]
    // → collapse runs → trim, the engine-portable canonicalization);
    // exercised through the SQL face so the grammar path is the tested
    // path.
    QueryRow.sql("d1b_dedup_normalized", "documents",
      "select dedup normalized",
      // the same canonicalization, spelled in DuckDB's regex dialect
      """SELECT substr(md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))), 1, 16) AS fp,
        |  min(doc_id) AS keeper_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    // p51: the exact-dedup SQL face — fingerprint groups over a gated
    // corpus; the count shuffle carries 16-hex fingerprints, never text.
    QueryRow.sql("p51_sql_dedup", "documents",
      "select dedup where n_chars > 150",
      // d1's grouping rule behind the gate
      """SELECT substr(md5(text), 1, 16) AS fp, min(doc_id) AS keeper_id,
        | CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents WHERE n_chars > 150 GROUP BY 1""".stripMargin),
    // p52: the decontamination SQL face — shingle-overlap report of the
    // gated corpus against its src2/src3 slice at shingle 4 / hits 2
    // (deliberately different from d7's 5/1 defaults).
    QueryRow.sql("p52_sql_decontaminate", "documents",
      "select decontaminate src2, src3 shingle 4 hits 2 where n_chars > 120",
      // d7's overlap rule with the face's sources/shingle/hits and the
      // WHERE gate applied to BOTH the benchmark slice and the corpus
      s"""WITH th0 AS (SELECT doc_id, source, $duckTokenHashes AS th
         |  FROM documents WHERE n_chars > 120),
         |shd AS (SELECT doc_id, source,
         |  list_distinct(${duckHashedShinglesN(4)}) AS sh FROM th0),
         |bsh AS (SELECT DISTINCT unnest(sh) AS h FROM shd
         |  WHERE source IN ('src2', 'src3')),
         |corp AS (SELECT doc_id, sh FROM shd
         |  WHERE source NOT IN ('src2', 'src3')),
         |hits AS (SELECT c.doc_id, count(*) AS n_hits
         |  FROM (SELECT doc_id, unnest(sh) AS h FROM corp) c
         |  JOIN bsh USING (h) GROUP BY c.doc_id)
         |SELECT corp.doc_id, CAST(len(corp.sh) AS INT) AS n_shingles,
         | CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
         | (coalesce(hits.n_hits, 0) >= 2) AS contaminated
         |FROM corp LEFT JOIN hits USING (doc_id)""".stripMargin),
    // p53: the quality SQL face — per-doc C4-style metrics behind a lang
    // gate; a stateless narrow map (the face also streams).
    QueryRow.sql("p53_sql_quality", "documents",
      "select quality where lang = 'en'",
      p53OracleSql),
    // p54: the redaction SQL face — \b-literal counts + scrubbed-text
    // fingerprint for caller-chosen terms (not x11's fixture terms).
    QueryRow.sql("p54_sql_redact", "documents",
      "select redact spark, data where source != 'src0'",
      p54OracleSql),
    // p55: the embedding near-dup SQL face — d5's label-blocked cosine
    // pairs at a caller threshold, behind a label gate (the WHERE prunes
    // blocks BEFORE the quadratic).
    QueryRow.sql("p55_sql_neardup_embed", "embeddings",
      "select neardup embeddings threshold 35 where label != 3",
      {
      // d5's pair rule at threshold 0.35 with the gate applied before
      // blocking (both the block-size count and the join see survivors)
      val cos = graft.functions.VectorFunctions.cosineSql("a.embedding", "b.embedding", 64)
      s"""WITH g AS (SELECT * FROM embeddings WHERE label != 3),
         |e AS (SELECT *, count(*) OVER (PARTITION BY label) AS bn FROM g)
         |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         | round($cos, 6) AS cos
         |FROM e a JOIN e b
         | ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $cos >= 0.35 AND a.bn <= 4096""".stripMargin
    }),
    // p56: the language-ID SQL face — x1's stopword-profile heuristic
    // behind a source gate; stateless (the face also streams).
    QueryRow.sql("p56_sql_langid", "documents",
      "select langid where source != 'src5'",
      p56OracleSql),
    // p57: the sampling face on a NON-document table — `key event_id`
    // points the md5 coin at the events table's stable id, so
    // deterministic trace-sampling ("keep 10% of events, reproducibly")
    // is the same one-liner as corpus sampling.
    QueryRow.sql("p57_sql_sample_events", "events",
      "select sample pct 10 key event_id where value >= 1",
      // the same md5 coin pointed at event_id, behind the value gate
      s"""SELECT event_id, event_type, value FROM events
         |WHERE value >= 1 AND
         |  ${duckShingleHash("event_id::VARCHAR")} % 100 < 10""".stripMargin,
      _.select(col("event_id"), col("event_type"), col("value"))),
    // p66: EXACT-count deterministic sampling — `sample exact <n>`: the
    // n smallest hash coins of the gated frame, key-tiebroken; nested
    // across sizes (exact-100 ⊆ exact-300, spec-pinned) and rerun-stable.
    // One per-partition TakeOrderedAndProject over the gated scan.
    QueryRow.sql("p66_sql_sample_exact", "documents",
      "select sample exact 300 where lang != 'zh'",
      // the same md5-prefix coin, globally smallest-300 with id tiebreak
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE lang != 'zh'
         |ORDER BY ${duckShingleHash("doc_id::VARCHAR")}, doc_id
         |LIMIT 300""".stripMargin),
    // p59: `select distinct` — the raw-projection dedup primitive: one
    // shuffle on the (narrow, already-projected) columns, ORDER BY after.
    // Closes the r12 "set operations at the front door" gap with p60.
    QueryRow.sql("p59_sql_distinct", "documents",
      "select distinct lang, source where n_chars > 200",
      "SELECT DISTINCT lang, source FROM documents WHERE n_chars > 200"),
    // p71: row-wise EXPRESSION PROJECTIONS on the raw path —
    // `select price * (1 - discount) as net` without an aggregate. The
    // measure compiler evaluates the arithmetic (same try_divide
    // null-on-zero contract as filters and aggregate measures), so a
    // computed column codegens like a plain one and column pruning sees
    // through it (the scan reads only the referenced storage columns —
    // PlanSpec-pinned). ORDER BY binds the alias; the tiebreak keys make
    // the LIMIT cut a total order.
    QueryRow.sql("p71_sql_expr_project", "lineitem",
      "select l_orderkey, l_linenumber, " +
        "l_extendedprice * (1 - l_discount) as net, " +
        "l_extendedprice / l_quantity as unit_price " +
        "where l_quantity > 45 " +
        "order by net desc, l_orderkey, l_linenumber limit 200",
      // row-wise IEEE arithmetic is order-free per row, so exact equality
      // holds without rounding; the ORDER BY tiebreaks make the cut total
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS net,
        |  l_extendedprice / l_quantity AS unit_price
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY net DESC, l_orderkey, l_linenumber LIMIT 200""".stripMargin),
    // p72: COMPOSITE-KEY SEMI JOIN — EXISTS at the front door: short docs
    // whose (lang, source) pair also occurs among long docs. The right
    // side is a gated derived key set over the SAME table (self-join:
    // the internal key rename keeps resolution unambiguous); duplicate
    // right pairs never multiply rows, and the filter applies BEFORE the
    // projection, so everything downstream composes. Oracle = DuckDB
    // EXISTS (NOT IN's three-valued null trap is exactly what this face
    // avoids).
    QueryRow.catalog("p72_sql_semi_join", Seq("documents"),
      "select doc_id, lang, source from documents " +
        "semi join (select lang, source from documents where n_chars > 450) " +
        "on lang = lang and source = source " +
        "where n_chars < 150 order by doc_id",
      p72OracleSql),
    // p73: ANTI JOIN — NOT EXISTS reconciliation: per-segment counts of
    // customers with no large order. The right side is a gated key set
    // (every customer has SOME order in this testdata — the gate makes
    // the anti join load-bearing); the aggregate runs on the filtered
    // frame.
    QueryRow.catalog("p73_sql_anti_join", Seq("customer", "orders"),
      "select count(*) as n from customer " +
        "anti join (select o_custkey from orders where o_totalprice > 300000) " +
        "on c_custkey = o_custkey " +
        "group by c_mktsegment order by n desc",
      """SELECT coalesce(CAST(c_mktsegment AS VARCHAR), '__nil') AS c_mktsegment,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_totalprice > 300000 AND o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,
      _.select(col("c_mktsegment"), round3("n"))),
    // p74: AGGREGATE window functions — the running-total primitive:
    // per-customer cumulative revenue in order-date order (SQL default
    // RANGE frame on both engines) next to a whole-partition count (no
    // ORDER BY = partition total). Both items partition on o_custkey, so
    // they share ONE exchange (PlanSpec-pinned); window aggregates are
    // plain SQL row semantics (unweighted — the reference's weighted
    // forms are the grouped aggregates).
    QueryRow.sql("p74_sql_window_agg", "orders",
      "select o_orderkey, o_custkey, " +
        "sum(o_totalprice) over (partition by o_custkey " +
        "order by o_orderdate, o_orderkey) as running, " +
        "count(*) over (partition by o_custkey) as n_orders " +
        "where o_custkey < 50 order by o_custkey, o_orderkey",
      // both engines' DEFAULT ordered frame is RANGE UNBOUNDED
      // PRECEDING..CURRENT ROW — the running form; the (date, key) order
      // is total, so the prefix accumulation order is identical and the
      // round(…, 3) only hides display noise
      """SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), 3) AS running,
        |  count(*) OVER (PARTITION BY o_custkey) AS n_orders
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
      _.select(col("o_orderkey"), col("o_custkey"), round3("running"),
          col("n_orders"))),
    // p75: navigation + bucketing windows — first/last value per user in
    // event-time order (last_value over the FULL partition frame, or it
    // would be the current row) and the ntile quartile. The (ts,
    // event_id) order is total, so every item is deterministic.
    QueryRow.sql("p75_sql_window_nav", "events",
      "select event_id, user_id, " +
        "first_value(value) over (partition by user_id order by ts, event_id) as first_v, " +
        "last_value(value) over (partition by user_id order by ts, event_id) as last_v, " +
        "ntile(4) over (partition by user_id order by ts, event_id) as quartile " +
        "where value >= 1 order by user_id, event_id limit 400",
      // last_value needs the full-partition frame spelled on both engines;
      // Spark ntile is INT (DuckDB's is BIGINT)
      """SELECT event_id, user_id,
        |  first_value(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS first_v,
        |  last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
        |  CAST(ntile(4) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS INT) AS quartile
        |FROM events WHERE value >= 1
        |ORDER BY user_id, event_id LIMIT 400""".stripMargin),
    // p76: SCALAR FUNCTIONS in the measure grammar — abs/sqrt as WHERE
    // expression predicates, round/length as expression projections. All
    // row-wise with identical IEEE semantics on both engines; length reads
    // the raw string (and BIGINTs like DuckDB), round's digit count is a
    // plan constant. The non-function conjunct still pushes into the
    // scan.
    QueryRow.sql("p76_sql_scalar_funcs", "documents",
      "select doc_id, round(n_chars / 100, 2) as hundreds, " +
        "length(text) as len " +
        "where abs(n_chars - 300) < 150 and sqrt(n_chars) > 12 " +
        "and lang = 'en' order by doc_id limit 300",
      // identical IEEE row-wise functions; length is chars on both
      """SELECT doc_id, round(n_chars / 100, 2) AS hundreds,
        |  length(text) AS len
        |FROM documents
        |WHERE abs(n_chars - 300) < 150 AND sqrt(n_chars) > 12
        |  AND lang = 'en'
        |ORDER BY doc_id LIMIT 300""".stripMargin),
    // p77: CASE expression projections — the row-labeling primitive
    // (`case when … then … end as size_class`) on the raw path, same
    // conditional-measure machinery as inside aggregates (first true
    // branch wins, no else → NULL, three-valued predicates). Values are
    // numeric (the measure grammar); the oracle CASTs DuckDB's integer
    // literals to DOUBLE for type parity.
    QueryRow.sql("p77_sql_case_project", "documents",
      "select doc_id, n_chars, " +
        "case when n_chars > 400 then 2 when n_chars > 200 then 1 else 0 end " +
        "as size_class " +
        "where lang = 'en' order by doc_id limit 400",
      """SELECT doc_id, n_chars,
        |  CAST(CASE WHEN n_chars > 400 THEN 2 WHEN n_chars > 200 THEN 1
        |    ELSE 0 END AS DOUBLE) AS size_class
        |FROM documents WHERE lang = 'en'
        |ORDER BY doc_id LIMIT 400""".stripMargin),
    // p78: COMPUTED GROUP KEYS — bucket-then-aggregate through a derived
    // table: the p77 CASE labels rows, the outer groups by the label.
    // Catalyst collapses the composition into ONE scan+aggregate pass —
    // the label becomes a direct grouping expression and the read schema
    // shrinks to n_chars alone (doc_id pruned through the derived table;
    // PlanSpec-pinned). The shape every curriculum/mixture bucketing
    // starts from.
    QueryRow.catalog("p78_sql_bucket_agg", Seq("documents"),
      "select count(*) as c, mean(n_chars) as m from " +
        "(select doc_id, n_chars, case when n_chars > 400 then 2 " +
        "when n_chars > 200 then 1 else 0 end as cls from documents) " +
        "group by cls order by c desc",
      // the engine renders group keys as strings (the __nil convention's
      // carrier type); DuckDB CASTs the double label to match
      """SELECT CAST(cls AS VARCHAR) AS cls,
        |  round(CAST(count(*) AS DOUBLE), 3) AS c,
        |  round(CAST(avg(n_chars) AS DOUBLE), 3) AS m
        |FROM (SELECT doc_id, n_chars,
        |  CAST(CASE WHEN n_chars > 400 THEN 2 WHEN n_chars > 200 THEN 1
        |    ELSE 0 END AS DOUBLE) AS cls
        |  FROM documents)
        |GROUP BY cls""".stripMargin,
      _.select(col("cls"), round3("c"), round3("m"))),
    // p79: STRING functions — lower/upper/trim/substr as projections and
    // the case-insensitive gate (`where lower(lang) = 'en'`). String
    // expressions compare for EQUALITY only (order would ride collation);
    // arithmetic over strings is a parse error. substr is 1-based on both
    // engines.
    QueryRow.sql("p79_sql_string_funcs", "documents",
      "select doc_id, upper(lang) as lang_u, substr(source, 1, 4) as src4 " +
        "where lower(lang) = 'en' and length(text) > 100 " +
        "order by doc_id limit 300",
      """SELECT doc_id, upper(lang) AS lang_u, substr(source, 1, 4) AS src4
        |FROM documents
        |WHERE lower(lang) = 'en' AND length(text) > 100
        |ORDER BY doc_id LIMIT 300""".stripMargin),
    // p80: STRING CASE LABELS feeding a computed group key — the
    // human-readable bucket-then-aggregate: label rows 'long'/'mid'/
    // 'short' in a derived table, group by the label. Same one-pass
    // collapsed plan as p78; the group key is natively a string, so the
    // rendering needs no cast on either engine.
    QueryRow.catalog("p80_sql_case_label", Seq("documents"),
      "select count(*) as c, mean(n_chars) as m from " +
        "(select doc_id, n_chars, case when n_chars > 400 then 'long' " +
        "when n_chars > 200 then 'mid' else 'short' end as bucket " +
        "from documents) " +
        "group by bucket order by c desc",
      // the label is natively VARCHAR — no cast needed on either engine
      """SELECT bucket, round(CAST(count(*) AS DOUBLE), 3) AS c,
        |  round(CAST(avg(n_chars) AS DOUBLE), 3) AS m
        |FROM (SELECT doc_id, n_chars,
        |  CASE WHEN n_chars > 400 THEN 'long' WHEN n_chars > 200 THEN 'mid'
        |    ELSE 'short' END AS bucket
        |  FROM documents)
        |GROUP BY bucket""".stripMargin,
      _.select(col("bucket"), round3("c"), round3("m"))),
    // p81: DISPERSION aggregates — `stddev`/`variance` (SAMPLE forms,
    // plain ANSI semantics: unweighted like the percentile family, NULL
    // when a group has < 2 values) ride the same hash-aggregate plan as
    // every other measure, including over a computed expression. Oracle =
    // DuckDB's native stddev_samp/var_samp; 3dp rounding absorbs the
    // engines' different partial-merge orders (~1e-12 relative).
    QueryRow.sql("p81_sql_stddev", "events",
      "select stddev(value) as sd, variance(value) as vr, " +
        "stddev(value / 10) as sd10, count(*) as n " +
        "group by event_type order by sd desc",
      // SAMPLE dispersion — both engines NULL a singleton group; 3dp
      // absorbs partial-merge order differences
      """SELECT event_type, round(stddev_samp(value), 3) AS sd,
        |  round(var_samp(value), 3) AS vr,
        |  round(stddev_samp(value / 10), 3) AS sd10,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round3("sd"), round3("vr"),
          round3("sd10"), round3("n"))),
    // p82: CALENDAR ROLLUP — `year(o_orderdate)` labels rows in a derived
    // table, the outer groups by the year: the "orders per year" staple
    // the granularity windows cannot spell (they bucket epoch seconds, not
    // calendar fields). Catalyst collapses the composition into ONE
    // scan+aggregate pass like p78. Every aggregate here is
    // order-independent-EXACT (counts, distinct count, max), so the row
    // carries zero float-summation risk.
    QueryRow.catalog("p82_sql_calendar", Seq("orders"),
      "select count(*) as n, count_distinct(o_custkey) as custs, " +
        "max(o_totalprice) as mx from " +
        "(select o_orderkey, o_custkey, o_totalprice, " +
        "year(o_orderdate) as yr from orders) " +
        "group by yr order by yr asc",
      // the engine renders group keys as strings; year() is BIGINT on
      // both engines under the UTC contract
      """SELECT CAST(yr AS VARCHAR) AS yr,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS custs,
        |  max(o_totalprice) AS mx
        |FROM (SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        |  FROM orders)
        |GROUP BY yr""".stripMargin,
      _.select(col("yr"), round3("n"), col("custs"), col("mx"))),
    // p83: HOUR-OF-DAY PROFILE over the events table — `hour(ts)` under
    // the engine-wide UTC timestamp contract (Tables.events normalizes
    // every historical parquet encoding to one session-zoned ts; DuckDB
    // reads the same file as a naive timestamp — identical wall-clock
    // fields). The diurnal-activity shape every observability UI draws.
    QueryRow.catalog("p83_sql_hour_profile", Seq("events"),
      "select count(*) as n, sum(value) as sv, max(value) as mx from " +
        "(select value, hour(ts) as hr from events " +
        "where event_type = 'click') " +
        "group by hr order by hr asc",
      """SELECT CAST(hr AS VARCHAR) AS hr,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(sum(value), 3) AS sv, max(value) AS mx
        |FROM (SELECT value, hour(ts) AS hr FROM events
        |  WHERE event_type = 'click')
        |GROUP BY hr""".stripMargin,
      _.select(col("hr"), round3("n"), round3("sv"), col("mx"))),
    // p84: NULL-HANDLING scalars — `nullif` manufactures SQL NULLs from a
    // sentinel (here: the sub-100 value band), `coalesce` pads them back,
    // `greatest`/`least` clamp while SKIPPING nulls (null only when every
    // argument is null — both engines agree). Exercises the aggregates'
    // null discipline end-to-end: mean skips the manufactured nulls, sum
    // treats them as zero-contribution.
    QueryRow.sql("p84_sql_null_safe", "events",
      "select count(*) as n, " +
        "mean(nullif(floor(value / 100), 0)) as m_nz, " +
        "sum(coalesce(nullif(floor(value / 100), 0), -1)) as s_pad, " +
        "sum(least(value, 100)) as s_cap, " +
        "max(greatest(value, 400)) as mx " +
        "group by event_type order by n desc",
      // nullif manufactures NULLs (sub-100 band → floor() = 0 → NULL);
      // avg skips them, the engine's sum treats them as 0-contribution —
      // same value; greatest/least skip NULLs on both engines
      """SELECT event_type, round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(avg(nullif(floor(value / 100), 0)), 6) AS m_nz,
        |  round(sum(coalesce(nullif(floor(value / 100), 0), -1)), 3) AS s_pad,
        |  round(sum(least(value, 100)), 3) AS s_cap,
        |  round(max(greatest(value, 400)), 3) AS mx
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round3("n"), round6("m_nz"),
          round3("s_pad"), round3("s_cap"), round3("mx"))),
    // p85: JSON PROPS EXTRACTION — the schemaless-event staple the
    // reference's observability store implies but cannot spell.
    // `json_num(props, 'k')` gates, aggregates (integer-valued sums are
    // order-independent-exact), and `json_str` feeds count_distinct (the
    // relaxed set-semantics guard). Missing keys are NULL on both engines;
    // a simple-identifier key is parse-enforced so path-syntax differences
    // never engage.
    QueryRow.sql("p85_sql_json", "events",
      "select sum(json_num(props, 'k')) as sk, " +
        "count_distinct(json_str(props, 'k')) as dk " +
        "where json_num(props, 'k') >= 10 " +
        "group by event_type order by sk desc",
      // json_extract_string strips quotes like get_json_object; the k
      // values are integers, so the double sum is order-independent-exact
      """SELECT event_type,
        |  round(sum(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 3) AS sk,
        |  CAST(count(DISTINCT json_extract_string(props, '$.k')) AS BIGINT) AS dk
        |FROM events
        |WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 10
        |GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round3("sk"), col("dk"))),
    // p85b: the RAW JSON projection — extract-and-gate as a plain
    // row-wise enrichment (no aggregate), the form that STREAMS;
    // st_json replays this row's oracle verbatim.
    QueryRow.sql("p85b_sql_json_raw", "events",
      "select event_id, json_num(props, 'k') as k, " +
        "json_str(props, 'k') as ks " +
        "where json_num(props, 'k') >= 95",
      p85bOracleSql),
    QueryRow("st_json", stJson, buildClass = true, oracleSql = p85bOracleSql),
    // p89: RELATIVE-POSITION ranks — percent_rank/cume_dist complete the
    // rank family (the "where does this doc sit in its source's length
    // distribution" normalizer feeding curriculum-style ordering).
    // Identical definitions on both engines; the ORDER BY is total
    // (n_chars, then unique doc_id), one window exchange.
    QueryRow.sql("p89_sql_percent_rank", "documents",
      "select doc_id, n_chars, " +
        "percent_rank() over (partition by source order by n_chars asc, " +
        "doc_id asc) as pr, " +
        "cume_dist() over (partition by source order by n_chars asc, " +
        "doc_id asc) as cd " +
        "where lang = 'en' order by doc_id asc limit 400",
      """SELECT doc_id, n_chars,
        |  round(percent_rank() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id), 6) AS pr,
        |  round(cume_dist() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id), 6) AS cd
        |FROM documents WHERE lang = 'en'
        |ORDER BY doc_id LIMIT 400""".stripMargin,
      _.select(col("doc_id"), col("n_chars"), round6("pr"), round6("cd"))),
    QueryRow("p90_sql_datediff", p90SqlDateDiff,
      // date_diff('day', start, end) boundary-counts exactly like
      // Spark's datediff(end, start) under UTC; the max is exact BIGINT
      """SELECT o_orderpriority,
        |  round(avg(date_diff('day', o_orderdate, l_shipdate)), 6) AS avg_delay,
        |  CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS mx,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin),
    // p91: TWO-ARGUMENT dispersion — Pearson correlation and sample
    // covariance, arguments riding the full measure grammar
    // (`length(text)` is a scalar-function measure): n_chars vs the
    // actual text length correlate ≈ 1 (the data-quality sanity check —
    // "does the metadata column actually describe the blob"), doc_id vs
    // n_chars ≈ 0 (the null hypothesis). Pairs with either side NULL are
    // skipped on both engines; unweighted like stddev.
    QueryRow.sql("p91_sql_corr", "documents",
      "select corr(n_chars, length(text)) as c, " +
        "covar_samp(n_chars, length(text)) as cv, " +
        "corr(doc_id, n_chars) as c0, count(*) as n " +
        "group by lang order by n desc",
      """SELECT lang, round(corr(n_chars, length(text)), 6) AS c,
        |  round(covar_samp(n_chars, length(text)), 3) AS cv,
        |  round(corr(doc_id, n_chars), 6) AS c0,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM documents GROUP BY lang""".stripMargin,
      _.select(col("lang"), round6("c"), round3("cv"), round6("c0"),
          round3("n"))),
    // p92: LEAST-SQUARES REGRESSION — regr_slope/regr_intercept(y, x)
    // with measure-grammar arguments (the x here is a JSON-extracted
    // field): the front-door form of the a21 trend operator. Identical
    // argument order and NULL-pair skipping on both engines.
    QueryRow.sql("p92_sql_regr", "events",
      "select regr_slope(value, json_num(props, 'k')) as sl, " +
        "regr_intercept(value, json_num(props, 'k')) as ic, " +
        "count(*) as n group by event_type order by n desc",
      """SELECT event_type,
        |  round(regr_slope(value, TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS sl,
        |  round(regr_intercept(value, TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 3) AS ic,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round6("sl"), round3("ic"), round3("n"))),
    // p93: CONCAT — NULL-propagating string concatenation building
    // composite labels (`lang-source`), feeding distinct/group-by like
    // any string expression; the oracle spells `||` (DuckDB's own
    // concat() SKIPS nulls — documented trap, never used).
    QueryRow.sql("p93_sql_concat", "documents",
      "select distinct concat(lang, '-', source) as tag " +
        "where n_chars > 450 order by tag asc",
      // `||` NULL-propagates on both engines (DuckDB's concat() skips
      // NULLs — never use it in an oracle)
      """SELECT DISTINCT lang || '-' || source AS tag
        |FROM documents WHERE n_chars > 450
        |ORDER BY tag""".stripMargin),
    QueryRow("p94_sql_ctas", p94SqlCtas, buildClass = true, oracleSql =
      // the oracle replays the CTAS body's SELECT — the engine row is the
      // committed store's pinned READ-BACK, so a hash match proves the
      // write+read round trip, not just the plan
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars >= 300
        |UNION
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE source = 'src1' AND n_chars >= 100""".stripMargin),
    QueryRow("p94b_sql_ctas_readback", p94bSqlCtasReadback,
      """SELECT lang, round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(CAST(sum(n_chars) AS DOUBLE), 3) AS total
        |FROM (SELECT doc_id, lang, source, n_chars FROM documents
        |  WHERE lang = 'en' AND n_chars >= 300
        |  UNION
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |  WHERE source = 'src1' AND n_chars >= 100)
        |GROUP BY lang""".stripMargin),
    QueryRow("p95_sql_insert", p95SqlInsert, buildClass = true, oracleSql =
      // create-then-insert with OVERLAPPING gates: UNION ALL (bag) — the
      // dup rows prove INSERT appended rather than merged
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars >= 300
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE source = 'src1' AND n_chars >= 100""".stripMargin),
    QueryRow("p96_sql_delete", p96SqlDelete, buildClass = true, oracleSql =
      // create gate AND NOT delete predicate = the surviving rows
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE n_chars >= 200 AND NOT (lang = 'de' OR n_chars < 250)""".stripMargin),
    QueryRow("p97_sql_update", p97SqlUpdate, buildClass = true, oracleSql =
      // the update replayed as a CASE projection; integer-exact arithmetic
      """SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN upper(source) ELSE source END AS source,
        |  CASE WHEN lang = 'en' THEN n_chars * 2 + 1 ELSE n_chars END AS n_chars
        |FROM documents WHERE n_chars >= 200""".stripMargin),
    // p98: `select *` — the whole-row projection every SQL user types
    // first, expanded at compile against the base frame's columns (order
    // preserved); composes with where/order/limit like any raw
    // projection, and the scan still prunes NOTHING here by design — the
    // projection is the whole row.
    QueryRow.catalog("p98_sql_star", Seq("documents"),
      "select * from documents where lang = 'en' and n_chars >= 300 " +
        "order by doc_id limit 50",
      """SELECT * FROM documents WHERE lang = 'en' AND n_chars >= 300
        |ORDER BY doc_id LIMIT 50""".stripMargin),
    QueryRow("p99_sql_warehouse", p99SqlWarehouse,
      // group keys render as strings through the engine's __nil carrier;
      // source is already VARCHAR — aggregate over the slice's SELECT
      """SELECT source, round(CAST(max(n_chars) AS DOUBLE), 3) AS mx,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM (SELECT doc_id, lang, source, n_chars FROM documents
        |  WHERE lang = 'en' AND n_chars >= 300
        |  UNION
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |  WHERE source = 'src1' AND n_chars >= 100)
        |GROUP BY source ORDER BY mx DESC, n DESC""".stripMargin),
    // p100: positional LIKE — `_`/interior-`%` patterns compile to real
    // SQL LIKE (edge-only patterns keep the tighter Contains/StartsWith
    // desugar; the reference treats every pattern as raw contains,
    // expr.rs:81-98 — documented fix). `sr_1%` matches src1 and
    // src10-src19; NOT LIKE composes three-valued.
    QueryRow.sql("p100_sql_like", "documents",
      "select doc_id, source, n_chars where source like 'sr_1%' " +
        "and source not like '%_9' and n_chars >= 400 order by doc_id",
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE source LIKE 'sr_1%' AND source NOT LIKE '%_9'
        |  AND n_chars >= 400 ORDER BY doc_id""".stripMargin),
    // p101: STRING SURGERY at the front door — literal replace, 1-based
    // field extraction (out-of-range → '' on both engines), padding with
    // truncation, reversal, and strpos (1-based, 0 when absent — BIGINT,
    // so it gates rows in WHERE). All compile to codegen'd Catalyst
    // string expressions; search/separator/pad arguments are
    // parse-enforced non-empty literals so engine-specific empty-pattern
    // conventions never engage.
    QueryRow.sql("p101_sql_strings", "orders",
      "select o_orderkey, replace(o_orderpriority, '-', '_') as pri, " +
        "split_part(o_orderpriority, '-', 2) as word, " +
        "split_part(o_orderpriority, '-', 3) as oob, " +
        "lpad(o_orderstatus, 3, '.') as padded, " +
        "reverse(o_orderpriority) as rev, " +
        "strpos(o_orderpriority, 'E') as ep " +
        "where o_orderkey < 500 and strpos(o_orderpriority, 'I') > 0 " +
        "order by o_orderkey",
      // literal search/replace and 1-based field ops — identical edge
      // semantics (out-of-range split_part → '', lpad truncates)
      """SELECT o_orderkey, replace(o_orderpriority, '-', '_') AS pri,
        |  split_part(o_orderpriority, '-', 2) AS word,
        |  split_part(o_orderpriority, '-', 3) AS oob,
        |  lpad(o_orderstatus, 3, '.') AS padded,
        |  reverse(o_orderpriority) AS rev,
        |  strpos(o_orderpriority, 'E') AS ep
        |FROM orders
        |WHERE o_orderkey < 500 AND strpos(o_orderpriority, 'I') > 0
        |ORDER BY o_orderkey""".stripMargin),
    // p102: max_by/min_by — argmax as an AGGREGATE, DETERMINISTIC by
    // contract (ties in the ordering value break toward the larger/
    // smaller carried value — ANSI leaves ties undefined, which no oracle
    // can verify). Compiled to ONE struct-ordered max/min: one hash
    // aggregate with map-side partials, no window, no second pass — at
    // 100 TB this is "latest value per key" without a sort. The carried
    // value keeps its RAW type (l_linestatus is a string); the oracle
    // mirrors the tie contract with DuckDB's own struct_pack max/min.
    QueryRow.sql("p102_sql_max_by", "lineitem",
      "select max_by(l_linestatus, l_extendedprice) as top_status, " +
        "min_by(l_suppkey, l_quantity) as cheap_supp, " +
        "max_by(l_extendedprice, l_quantity) as heavy_price " +
        "group by l_returnflag order by l_returnflag",
      // DuckDB's max_by leaves ties undefined — the struct-ordered
      // max/min spells the SAME deterministic tie contract as the engine
      // (ties in o break toward the larger/smaller v)
      """SELECT l_returnflag,
        |  (max(struct_pack(o := l_extendedprice, v := l_linestatus))).v
        |    AS top_status,
        |  (min(struct_pack(o := l_quantity, v := l_suppkey))).v
        |    AS cheap_supp,
        |  round((max(struct_pack(o := l_quantity, v := l_extendedprice))).v,
        |    3) AS heavy_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
      _.select(col("l_returnflag"), col("top_status"), col("cheap_supp"),
          round3("heavy_price"))),
    // p103: string_agg — a group's values joined by a literal separator,
    // SORTED ascending by value (deterministic contract: ANSI's undefined
    // order has no oracle; DuckDB spells the same contract with
    // `ORDER BY` inside the call). NULLs are skipped; an all-null group
    // is NULL, not ''. The one collect_list in the SQL registry — output
    // size is the group's value payload, the same scale class as the
    // result row itself.
    QueryRow.sql("p103_sql_string_agg", "nation",
      "select string_agg(n_name, ',') as nations, count(*) as n " +
        "group by n_regionkey order by n_regionkey",
      // ORDER BY inside the call = the engine's sorted-ascending contract
      """SELECT CAST(n_regionkey AS VARCHAR) AS n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM nation GROUP BY n_regionkey""".stripMargin,
      _.select(col("n_regionkey"), col("nations"), round3("n"))),
    // p104: count(distinct x) — the ANSI spelling next to the reference's
    // +1-nil count_distinct (a5): NULL is NOT counted, so a CASE-gated
    // argument counts only the rows that satisfy the gate ("distinct
    // heavy users") — the conditional-distinct staple. Compiles to
    // Spark's count_distinct (expand + two-phase aggregate).
    QueryRow.sql("p104_sql_count_distinct", "events",
      "select count(distinct case when value > 90 then user_id end) " +
        "as heavy_users, count(distinct event_type) as kinds, " +
        "count(*) as n group by event_type order by event_type",
      // ANSI distinct: NULL (the CASE fall-through) is NOT counted
      """SELECT event_type,
        |  CAST(count(DISTINCT CASE WHEN value > 90 THEN user_id END)
        |    AS BIGINT) AS heavy_users,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS kinds,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), col("heavy_users"), col("kinds"), round3("n"))),
    // p105: LIMIT/OFFSET pagination — rows m+1 … m+n of a TOTAL order
    // (doc_id breaks n_chars ties). Spark folds offset+limit into one
    // TakeOrdered boundary: the page costs what the first m+n rows cost,
    // never a global materialization — the 100 TB-safe page fetch.
    QueryRow.sql("p105_sql_offset", "documents",
      "select doc_id, source, n_chars where n_chars >= 200 " +
        "order by n_chars desc, doc_id limit 25 offset 40",
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars >= 200
        |ORDER BY n_chars DESC, doc_id LIMIT 25 OFFSET 40""".stripMargin),
    // p106: explicit `nulls first/last` — the engines' DEFAULTS DIFFER
    // (Spark ASC puts nulls first, DuckDB last), so a nullable sort key
    // must spell the placement to be portable; here a CASE-gated measure
    // is null on ~half the rows and the spelled `nulls last` makes both
    // engines agree on the page.
    QueryRow.sql("p106_sql_nulls_order", "events",
      "select event_id, case when value > 50 then value end as v " +
        "where event_id < 160 order by v desc nulls last, event_id limit 150",
      // the spelled placement is what makes the two engines agree —
      // their ASC/DESC defaults for NULLs are opposite
      """SELECT event_id,
        |  round(CASE WHEN value > 50 THEN value END, 3) AS v
        |FROM events WHERE event_id < 160
        |ORDER BY v DESC NULLS LAST, event_id LIMIT 150""".stripMargin,
      _.select(col("event_id"), round3("v"))),
    // p107: date_trunc — the CALENDAR ROLLUP key (p82's field extractors
    // label rows with numbers; this yields the real month TIMESTAMP, so
    // the rollup keeps calendar identity). The truncation projects in a
    // derived table and the outer groups by it — Catalyst collapses the
    // composition into one scan+aggregate pass, and the group key renders
    // through the engine's string carrier like every key. DuckDB returns
    // DATE for day-and-coarser units, so the oracle casts to TIMESTAMP
    // first.
    QueryRow.catalog("p107_sql_date_trunc", Seq("orders"),
      "select count(*) as n, max(o_totalprice) as mx from " +
        "(select date_trunc('month', o_orderdate) as mo, o_totalprice " +
        "from orders where o_orderkey < 3000) group by mo order by mo",
      // DuckDB date_trunc returns DATE for day-and-coarser units — cast
      // to TIMESTAMP to match the engine's timestamp contract; the group
      // key then renders through the string carrier like every key
      """SELECT CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |    AS VARCHAR) AS mo,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(max(o_totalprice), 3) AS mx
        |FROM orders WHERE o_orderkey < 3000
        |GROUP BY 1""".stripMargin,
      _.select(col("mo"), round3("n"), round3("mx"))),
    // p108: `%` and sign() — modulo bucketing (the poor man's hash
    // partition key) and signum. The remainder is C-style (sign of the
    // DIVIDEND, null on a zero divisor) computed in double like every
    // measure; DuckDB's `%` agrees exactly — its fmod() is the FLOORED
    // variant and never appears in an oracle. sign() is DOUBLE here,
    // integer-typed in DuckDB (the oracle casts).
    QueryRow.catalog("p108_sql_mod_sign", Seq("lineitem"),
      "select count(*) as n, sum(sign(l_extendedprice - 30000)) as bal from " +
        "(select l_orderkey % 7 as b, l_extendedprice from lineitem) " +
        "group by b order by b",
      // `%` (NOT fmod — DuckDB's fmod is floored): sign-of-dividend
      // remainder, double like the engine's measures; sign() casts to
      // DOUBLE (DuckDB's is integer-typed)
      """SELECT CAST(CAST(l_orderkey AS DOUBLE) % 7 AS VARCHAR) AS b,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(sum(CAST(sign(l_extendedprice - 30000) AS DOUBLE)), 3)
        |    AS bal
        |FROM lineitem GROUP BY 1""".stripMargin,
      _.select(col("b"), round3("n"), round3("bal"))),
    // p109: percentile(x, q) — the ARBITRARY exact interpolated quantile
    // (p50/p90/p99 generalize to any literal q; DuckDB: quantile_cont);
    // expression measures quantile too. Alias required — two quantiles of
    // one column must not collide on a default name.
    QueryRow.sql("p109_sql_percentile", "lineitem",
      "select percentile(l_extendedprice, 0.25) as q1, " +
        "percentile(l_extendedprice, 0.75) as q3, " +
        "percentile(l_quantity * (1 - l_discount), 0.9) as eff90 " +
        "group by l_returnflag order by l_returnflag",
      // exact interpolated quantiles — quantile_cont is DuckDB's
      // spelling of the same interpolation; 6dp like a11
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS q3,
        |  round(quantile_cont(l_quantity * (1 - l_discount), 0.9), 6)
        |    AS eff90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
      _.select(col("l_returnflag"), round6("q1"), round6("q3"), round6("eff90"))),
    // p110: boolean HAVING — `(… or …) and not …` over aggregate
    // comparisons, the same OR/AND/NOT/parens structure WHERE has (the
    // legacy HAVING was AND-only). Filter-only aggregates (max/min here)
    // ride the same hash aggregate and are pruned from the output; the
    // whole filter runs post-aggregation, so at scale it prunes groups
    // before any sort stage. NOT is three-valued like SQL.
    QueryRow.sql("p110_sql_having_bool", "events",
      "select count(*) as n, mean(value) as m group by user_id " +
        "having (mean(value) > 52 or max(value) > 300) " +
        "and not min(value) < 0.5 order by user_id",
      // boolean HAVING over aggregate comparisons — the group key
      // renders through the engine's string carrier
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(avg(value), 6) AS m
        |FROM events GROUP BY user_id
        |HAVING (avg(value) > 52 OR max(value) > 300)
        |  AND NOT min(value) < 0.5""".stripMargin,
      _.select(col("user_id"), round3("n"), round6("m"))),
    // p111: isodow/second — the day-of-week profile (p83's hour profile
    // by calendar DAY instead): isodow is ISO 1=Monday…7=Sunday on both
    // engines (Spark spells it weekday()+1), second truncates the
    // fraction on both. Same one-pass derived-key collapse as p107.
    QueryRow.catalog("p111_sql_dow", Seq("events"),
      "select count(*) as n, mean(value) as m, count(distinct sec) as secs " +
        "from (select isodow(ts) as dw, second(ts) as sec, value " +
        "from events) group by dw order by dw",
      // isodow is 1=Monday on both engines; second truncates fractions
      """SELECT CAST(isodow(ts) AS VARCHAR) AS dw,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(avg(value), 6) AS m,
        |  CAST(count(DISTINCT second(ts)) AS BIGINT) AS secs
        |FROM events GROUP BY 1""".stripMargin,
      _.select(col("dw"), round3("n"), round6("m"), col("secs"))),
    QueryRow("p112_sql_insert_values", p112SqlInsertValues,
      // the created slice plus the literal rows, as a bag — DuckDB types
      // VALUES per column, the casts pin BIGINT/VARCHAR parity
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'de' AND n_chars >= 400
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(9000001 AS BIGINT), CAST('xx' AS VARCHAR),
        |   CAST('manual' AS VARCHAR), CAST(42 AS BIGINT)),
        |  (CAST(9000002 AS BIGINT), NULL, 'manual', CAST(7 AS BIGINT)))
        |  v(doc_id, lang, source, n_chars)""".stripMargin),
    // p113: max/min of STRING EXPRESSIONS — the lexical extreme ("last
    // language seen", "first tag"). A bare string column keeps the
    // reference's parse-on-demand NUMERIC aggregate semantics
    // (lib.rs:566-572); a typed string expression aggregates in its type.
    // Binary/UTF8 order agrees across engines for the ASCII corpus.
    QueryRow.sql("p113_sql_str_extremes", "documents",
      "select max(upper(lang)) as last_lang, " +
        "min(concat(lang, '-', source)) as first_tag, " +
        "count(*) as n group by source order by source",
      // lexical max/min of string EXPRESSIONS — `||` NULL-propagates
      // like the engine's concat; binary order on ASCII data
      """SELECT source, max(upper(lang)) AS last_lang,
        |  min(lang || '-' || source) AS first_tag,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM documents GROUP BY source""".stripMargin,
      _.select(col("source"), col("last_lang"), col("first_tag"), round3("n"))),
    // p114: nth_value — the partition's n-th row in ORDER BY order over
    // the FULL frame ("who is the runner-up in each source"), composed
    // with row_number + QUALIFY for the keep-best-with-context shape.
    // Both windows share the one partition exchange.
    QueryRow.sql("p114_sql_nth_value", "documents",
      "select source, doc_id, n_chars, " +
        "nth_value(doc_id, 2) over (partition by source " +
        "order by n_chars desc, doc_id) as runner_up, " +
        "row_number() over (partition by source " +
        "order by n_chars desc, doc_id) as rn " +
        "qualify rn = 1 order by source",
      // nth_value needs the FULL frame spelled in DuckDB (its default
      // running frame nulls the result until the n-th row arrives)
      """SELECT source, doc_id, n_chars, runner_up, rn FROM (
        |  SELECT source, doc_id, n_chars,
        |    nth_value(doc_id, 2) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS runner_up,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin),
    QueryRow("p115_sql_centered_avg", p115SqlCenteredAvg,
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS ctr5
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id LIMIT 500""".stripMargin),
    QueryRow("p116_sql_script", p116SqlScript,
      // the script pipeline as one relational expression: slice AND NOT
      // deleted, UNION ALL the literal row, aggregate per source
      """SELECT source, round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(CAST(max(n_chars) AS DOUBLE), 3) AS mx
        |FROM (
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |  WHERE n_chars >= 350 AND NOT lang = 'zh'
        |  UNION ALL
        |  SELECT CAST(9000005 AS BIGINT), CAST('xx' AS VARCHAR),
        |    CAST('manual' AS VARCHAR), CAST(11 AS BIGINT))
        |GROUP BY source""".stripMargin),
    QueryRow("p117_sql_time_travel", p117SqlTimeTravel,
      // version-0 EXCEPT current = exactly the deleted rows
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars >= 450 AND n_chars < 470""".stripMargin),
    // p118: ifnull/nvl — the two-argument coalesce spellings users type;
    // a CASE-gated measure is null on the fall-through, ifnull turns the
    // fall-through into the default so the sum counts every row.
    QueryRow.sql("p118_sql_ifnull", "events",
      "select sum(ifnull(case when value > 50 then value end, 0)) as s1, " +
        "mean(nvl(case when value > 50 then 1 end, 0)) as heavy_rate, " +
        "count(*) as n group by event_type order by event_type",
      // ifnull is DuckDB-native; both engines take the first non-null
      """SELECT event_type,
        |  round(sum(ifnull(CASE WHEN value > 50 THEN value END, 0)), 3)
        |    AS s1,
        |  round(avg(ifnull(CASE WHEN value > 50 THEN 1 END, 0)), 6)
        |    AS heavy_rate,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round3("s1"), round6("heavy_rate"),
          round3("n"))),
    // p119: ANSI FILTER clause — five differently-gated aggregates in ONE
    // hash aggregate (the parser rewrites each `filter (where c)` into a
    // CASE measure, so the plan keeps a single exchange; DuckDB runs its
    // native FILTER). Contracts under filter: sum keeps missing-as-zero
    // (the oracle coalesces), mean/max/min of an empty filtered set are
    // NULL on both engines, count(distinct …) skips gated-out rows, and
    // max_by gates its ORDERING value (a NULL ordering key skips the row
    // by the p102 contract — the oracle gates the whole struct).
    QueryRow.sql("p119_sql_filter_agg", "events",
      "select sum(value) filter (where value > 120) as hi_sum, " +
        "count(*) filter (where user_id % 2 = 0) as even_n, " +
        "mean(value) filter (where value <= 40) as lo_mean, " +
        "count(distinct user_id) filter (where value > 150) as hot_users, " +
        "max_by(event_id, value) filter (where value < 100) as mid_peak, " +
        "count(*) as n group by event_type order by event_type",
      // native DuckDB FILTER; sum coalesced (engine missing-as-zero
      // contract), max_by via the p102 struct trick with FILTER on the
      // struct max (NULL gate = row skipped, same as the engine's gated
      // ordering key). The distinct count spells its gate as the p104
      // CASE (ANSI-identical) — DuckDB 1.x crashes on count(DISTINCT)
      // FILTER next to a struct aggregate (internal shared_ptr error,
      // reproduced in isolation)
      """SELECT event_type,
        |  round(coalesce(sum(value) FILTER (WHERE value > 120), 0), 3)
        |    AS hi_sum,
        |  round(CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS DOUBLE),
        |    3) AS even_n,
        |  round(avg(value) FILTER (WHERE value <= 40), 6) AS lo_mean,
        |  CAST(count(DISTINCT CASE WHEN value > 150 THEN user_id END)
        |    AS BIGINT) AS hot_users,
        |  round(CAST((max(struct_pack(o := value, v := event_id))
        |    FILTER (WHERE value < 100)).v AS DOUBLE), 3) AS mid_peak,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), round3("hi_sum"), round3("even_n"),
          round6("lo_mean"), col("hot_users"),
          round(col("mid_peak").cast("double"), 3).as("mid_peak"),
          round3("n"))),
    // p120: bool_and/bool_or — boolean quantifiers over a full
    // WHERE-grammar predicate ("every row satisfies" / "some row does"),
    // desugared to a three-valued 1/0/NULL indicator so NULL predicates
    // are SKIPPED exactly like DuckDB's native bool_and/bool_or. One
    // codegen'd hash aggregate; BOOLEAN outputs hash-compare directly.
    QueryRow.sql("p120_sql_bool_agg", "events",
      "select bool_and(value > 0.02) as all_above, " +
        "bool_or(value > 360) as has_spike, " +
        "bool_or(value > 120 and user_id % 2 = 0) as even_heavy, " +
        "bool_and(value > 500) filter (where value > 400) as spikes_hot, " +
        "count(*) as n group by event_type order by event_type",
      // DuckDB-native quantifiers: NULL predicates skipped on both
      // engines (our 1/0/NULL indicator ≡ its native skip); the
      // filtered quantifier over an empty subset is NULL on both
      """SELECT event_type,
        |  bool_and(value > 0.02) AS all_above,
        |  bool_or(value > 360) AS has_spike,
        |  bool_or(value > 120 AND user_id % 2 = 0) AS even_heavy,
        |  bool_and(value > 500) FILTER (WHERE value > 400) AS spikes_hot,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY event_type""".stripMargin,
      _.select(col("event_type"), col("all_above"), col("has_spike"),
          col("even_heavy"), col("spikes_hot"), round3("n"))),
    // p121: skewness/kurtosis — POPULATION skewness and EXCESS kurtosis
    // (Spark's native central-moment formulas). DuckDB's own skewness()/
    // kurtosis() are the bias-corrected SAMPLE forms — a real semantic
    // difference — so the oracle spells the population formula explicitly
    // via a two-pass central-moment computation (stable, no raw-moment
    // cancellation).
    QueryRow.sql("p121_sql_moments", "events",
      "select skewness(value) as skew, kurtosis(value) as kurt, " +
        "stddev(value) as sd, count(*) as n " +
        "group by event_type order by event_type",
      // POPULATION skewness / EXCESS kurtosis spelled as explicit
      // central moments (DuckDB's own skewness/kurtosis are the
      // bias-corrected SAMPLE forms — different statistics); two-pass
      // about the group mean, so no raw-moment cancellation
      """WITH m AS (SELECT event_type, avg(value) AS mu FROM events
        |  WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_type,
        |  round(avg(pow(e.value - m.mu, 3))
        |    / pow(avg(pow(e.value - m.mu, 2)), 1.5), 6) AS skew,
        |  round(avg(pow(e.value - m.mu, 4))
        |    / pow(avg(pow(e.value - m.mu, 2)), 2) - 3, 6) AS kurt,
        |  round(stddev_samp(e.value), 6) AS sd,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events e JOIN m ON e.event_type = m.event_type
        |GROUP BY e.event_type""".stripMargin,
      _.select(col("event_type"), round6("skew"), round6("kurt"),
          round6("sd"), round3("n"))),
    // p122: count(distinct a, b) — multi-key distinct counting in ONE
    // pass; the distinct key is the pair, and rows where EITHER side is
    // NULL are skipped (ANSI; lineitem has no NULLs, so the spec pins
    // the skip semantics on a null-bearing fixture instead).
    QueryRow.sql("p122_sql_multi_distinct", "lineitem",
      "select count(distinct l_orderkey, l_partkey) as order_parts, " +
        "count(distinct l_suppkey, l_linestatus) as supp_status, " +
        "count(*) as n group by l_returnflag order by l_returnflag",
      // the pair-struct distinct — equal to Spark's multi-arg
      // countDistinct on null-free keys (the ANSI any-null skip is
      // spec-pinned on a null-bearing fixture)
      """SELECT l_returnflag,
        |  count(DISTINCT (l_orderkey, l_partkey)) AS order_parts,
        |  count(DISTINCT (l_suppkey, l_linestatus)) AS supp_status,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
      _.select(col("l_returnflag"), col("order_parts"), col("supp_status"),
          round3("n"))),
    // p123: conditional-aggregation pivot — `pivot <agg>(<m>) by <col>
    // in (…)` desugars each value to a filtered aggregate, so the whole
    // K-column pivot is ONE hash aggregate (the plan conditional
    // aggregation would hand-write; no pivot physical operator, no
    // second pass). Value list explicit and literal by design: dynamic
    // pivot's output schema would be data-dependent — two passes and a
    // 100 TB anti-pattern.
    QueryRow.sql("p123_sql_pivot", "events",
      "select pivot sum(value) by event_type in " +
        "('click', 'view' as views, 'purchase'), " +
        "pivot count(*) by event_type in ('error' as err_n, 'signup' as signup_n), " +
        "count(*) as n group by user_id order by user_id",
      // the pivot IS conditional aggregation — the oracle writes the
      // desugared form directly; sum cells keep missing-as-zero
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  round(coalesce(sum(value) FILTER (WHERE event_type = 'click'),
        |    0), 3) AS click,
        |  round(coalesce(sum(value) FILTER (WHERE event_type = 'view'),
        |    0), 3) AS views,
        |  round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'),
        |    0), 3) AS purchase,
        |  round(CAST(count(*) FILTER (WHERE event_type = 'error')
        |    AS DOUBLE), 3) AS err_n,
        |  round(CAST(count(*) FILTER (WHERE event_type = 'signup')
        |    AS DOUBLE), 3) AS signup_n,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY user_id""".stripMargin,
      _.select(col("user_id"), round3("click"), round3("views"),
          round3("purchase"), round3("err_n"), round3("signup_n"), round3("n"))),
    // p124: deterministic mode — most frequent value per group, ties
    // toward the SMALLEST value (Spark mode(expr, deterministic=true);
    // ANSI/DuckDB leave ties undefined, so the oracle spells the same
    // contract as ORDER BY count DESC, value ASC). Carriers: numeric
    // measure, string expression, calendar field.
    QueryRow.sql("p124_sql_mode", "lineitem",
      "select mode(l_quantity) as common_qty, " +
        "mode(upper(l_linestatus)) as common_status, " +
        "mode(month(l_shipdate)) as common_month, " +
        "count(*) as n group by l_returnflag order by l_returnflag",
      // deterministic mode = ORDER BY count DESC, value ASC, rank 1 —
      // one two-level block per carrier, joined on the group
      """WITH q AS (SELECT l_returnflag g, l_quantity v, count(*) c
        |    FROM lineitem GROUP BY 1, 2),
        |  qm AS (SELECT g, v FROM (SELECT g, v, row_number() OVER
        |    (PARTITION BY g ORDER BY c DESC, v ASC) rn FROM q)
        |    WHERE rn = 1),
        |  s AS (SELECT l_returnflag g, upper(l_linestatus) v, count(*) c
        |    FROM lineitem GROUP BY 1, 2),
        |  sm AS (SELECT g, v FROM (SELECT g, v, row_number() OVER
        |    (PARTITION BY g ORDER BY c DESC, v ASC) rn FROM s)
        |    WHERE rn = 1),
        |  mo AS (SELECT l_returnflag g, month(l_shipdate) v, count(*) c
        |    FROM lineitem GROUP BY 1, 2),
        |  mm AS (SELECT g, v FROM (SELECT g, v, row_number() OVER
        |    (PARTITION BY g ORDER BY c DESC, v ASC) rn FROM mo)
        |    WHERE rn = 1),
        |  base AS (SELECT l_returnflag g, count(*) n FROM lineitem
        |    GROUP BY 1)
        |SELECT base.g AS l_returnflag,
        |  round(qm.v, 3) AS common_qty,
        |  sm.v AS common_status,
        |  CAST(mm.v AS BIGINT) AS common_month,
        |  round(CAST(base.n AS DOUBLE), 3) AS n
        |FROM base JOIN qm ON base.g = qm.g JOIN sm ON base.g = sm.g
        |  JOIN mm ON base.g = mm.g""".stripMargin,
      _.select(col("l_returnflag"), round3("common_qty"),
          col("common_status"), col("common_month"), round3("n"))),
    // p125: regexp at the front door — `col [not] regexp 'pat'`
    // predicates (WHERE and inside bool_or), and regexp_extract as a
    // string function feeding distinct counting. Patterns are parse-
    // restricted to the java.regex ∩ RE2 portable subset (no lookaround/
    // backreferences) so the two engines can never disagree; regex never
    // pushes into the scan — the sibling LIKE/equality conjuncts still
    // do.
    QueryRow.sql("p125_sql_regexp", "documents",
      "select count(*) as n, " +
        "count(distinct regexp_extract(source, '^src([0-9]+)$', 1)) " +
        "as src_ids, " +
        "bool_or(text regexp 'vector (join|batch)') as has_vec_pair, " +
        "mean(n_chars) as mc " +
        "where text regexp 'spark' and lang not regexp '^(zh|ko)$' " +
        "group by lang order by lang",
      // regexp_matches = regexp_like; both engines '' -extract on no
      // match; the portable-subset pattern means RE2 and java.regex
      // read it identically
      """SELECT lang,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  CAST(count(DISTINCT regexp_extract(source, '^src([0-9]+)$', 1))
        |    AS BIGINT) AS src_ids,
        |  bool_or(regexp_matches(text, 'vector (join|batch)'))
        |    AS has_vec_pair,
        |  round(avg(n_chars), 6) AS mc
        |FROM documents
        |WHERE regexp_matches(text, 'spark')
        |  AND NOT regexp_matches(lang, '^(zh|ko)$')
        |GROUP BY lang""".stripMargin,
      _.select(col("lang"), round3("n"), col("src_ids"),
          col("has_vec_pair"), round6("mc"))),
    QueryRow("p126_sql_view", p126SqlView,
      // the script as one relational expression: the view layers are
      // plain CTEs with the post-view insert INSIDE the base — exactly
      // the "views re-read at use time" contract
      """WITH vbase AS (
        |    SELECT doc_id, lang, n_chars FROM documents
        |    WHERE n_chars >= 400
        |    UNION ALL SELECT 9000001, 'en', 999),
        |  west AS (SELECT doc_id, lang, n_chars FROM vbase
        |    WHERE lang = 'en' OR lang = 'de'),
        |  west_big AS (SELECT doc_id, lang, n_chars FROM west
        |    WHERE n_chars >= 450)
        |SELECT lang, round(CAST(count(*) AS DOUBLE), 3) AS n,
        |  round(CAST(max(n_chars) AS DOUBLE), 3) AS mx
        |FROM west_big GROUP BY lang""".stripMargin),
    // p127: filtered aggregates INSIDE post-aggregate arithmetic — the
    // "share of X" shape every dashboard needs: `sum(v) filter (where c)
    // / sum(v)`. The gated and ungated sums ride ONE hash aggregate
    // (internal __pa aliases, deduped by shape including the gate), and
    // the ratio is a scalar projection after the exchange.
    QueryRow.sql("p127_sql_filter_share", "events",
      "select sum(value) filter (where event_type = 'purchase') / " +
        "sum(value) as purchase_share, " +
        "count(*) filter (where value > 150) / count(*) as heavy_rate, " +
        "count(*) as n group by user_id order by user_id",
      // the engine's sum keeps missing-as-zero, so the numerator
      // coalesces; division by the never-zero denominator matches the
      // null-on-zero-divisor contract on both engines
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  round(coalesce(sum(value) FILTER (WHERE event_type =
        |    'purchase'), 0) / sum(value), 6) AS purchase_share,
        |  round(CAST(count(*) FILTER (WHERE value > 150) AS DOUBLE)
        |    / count(*), 6) AS heavy_rate,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM events GROUP BY user_id""".stripMargin,
      _.select(col("user_id"), round6("purchase_share"),
          round6("heavy_rate"), round3("n"))),
    // p128: the features compose — a calendar rollup pivoted by event
    // type: derived-table day-of-month extraction (p82) under a pivot (p123)
    // with a gated branch (p119), still ONE hash aggregate over the
    // derived projection.
    QueryRow.catalog("p128_sql_monthly_pivot", Seq("events"),
      "select pivot count(*) by event_type in " +
        "('click', 'view' as views, 'purchase'), " +
        "pivot sum(value) filter (where value > 100) by event_type in " +
        "('purchase' as hot_purchase), " +
        "count(*) as n from (select event_type, value, day(ts) as d " +
        "from events) group by d order by d",
      // month() under a pivot — conditional aggregation over the
      // derived calendar key; sum cells keep missing-as-zero
      """SELECT CAST(d AS VARCHAR) AS d,
        |  round(CAST(count(*) FILTER (WHERE event_type = 'click')
        |    AS DOUBLE), 3) AS click,
        |  round(CAST(count(*) FILTER (WHERE event_type = 'view')
        |    AS DOUBLE), 3) AS views,
        |  round(CAST(count(*) FILTER (WHERE event_type = 'purchase')
        |    AS DOUBLE), 3) AS purchase,
        |  round(coalesce(sum(value) FILTER (WHERE event_type =
        |    'purchase' AND value > 100), 0), 3) AS hot_purchase,
        |  round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM (SELECT event_type, value, day(ts) AS d FROM events)
        |GROUP BY d""".stripMargin,
      _.select(col("d"), round3("click"), round3("views"),
          round3("purchase"), round3("hot_purchase"), round3("n"))),
    QueryRow("p129_sql_show_tables", p129SqlShowTables,
      // the literal expected catalog: sh2 dropped, sh1 + the view live
      """SELECT 'sh1' AS table_name UNION ALL SELECT 'shv'"""),
    QueryRow("st_asof", stAsof, buildClass = true, oracleSql =
      // the streaming composite asof vs DuckDB's native multi-key ASOF
      // LEFT JOIN on the original data; NULLS LAST spelled on both sides
      """WITH m0 AS (SELECT user_id AS r_user, event_type AS r_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS r_ts, value AS r_value
        |  FROM events WHERE user_id < 500),
        |m1 AS (SELECT *, row_number() OVER (PARTITION BY r_user, r_type
        |    ORDER BY r_ts DESC, r_value DESC NULLS LAST) AS rn FROM m0),
        |m AS (SELECT r_user, r_type, r_ts, r_value FROM m1 WHERE rn = 1),
        |e AS (SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events
        |  WHERE user_id >= 0)
        |SELECT e.event_id, e.user_id, e.event_type, e.ts_sec, m.r_value
        |FROM e ASOF LEFT JOIN m
        |  ON e.user_id = m.r_user AND e.event_type = m.r_type
        |  AND e.ts_sec >= m.r_ts""".stripMargin),
    // p86: EXPLODE + aggregate — the word/tag-count shape: unnest a
    // delimited string column in a derived table, count elements in the
    // outer (the reference stores "t1,t2" tag lists it can only
    // CONTAINS-probe, lib.rs:486-495 — this is their relational form).
    // The explode is ONE stateless narrow row-multiplier (zero shuffles)
    // feeding the count's single hash exchange; top-k is
    // group-key-tiebroken (deterministic).
    QueryRow.catalog("p86_sql_explode", Seq("documents"),
      "select count(*) as n from " +
        "(select explode(text, ' ') as w from documents where lang = 'en') " +
        "group by w order by n desc limit 25",
      // engine top-k appends the group key ascending as the tiebreak
      """SELECT w, round(CAST(count(*) AS DOUBLE), 3) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE lang = 'en')
        |GROUP BY w ORDER BY count(*) DESC, w ASC LIMIT 25""".stripMargin,
      _.select(col("w"), round3("n"))),
    // p86b: the RAW exploded projection — (doc_id, element) pairs with
    // the gate pushed into the scan; the stream-facing form (st_explode
    // replays this row's oracle verbatim).
    QueryRow.sql("p86b_sql_explode_raw", "documents",
      "select doc_id, explode(text, ' ') as w " +
        "where lang = 'zh' and n_chars < 150",
      p86bOracleSql),
    QueryRow("st_explode", stExplode, buildClass = true, oracleSql = p86bOracleSql),
    QueryRow("p87_sql_moving_avg", p87SqlMovingAvg,
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS mv7
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id LIMIT 500""".stripMargin),
    // p88: EXACT-count sample PER GROUP — `sample exact 50 per source`:
    // exactly 50 docs from every source, rerun-stable (the p66 md5 coin,
    // key-tiebroken, now ranked within each group). Unlike the global
    // form the cut is never driver-resident: the rank window's rn <= n
    // compiles to per-partition WindowGroupLimit — each input partition
    // forwards ≤ 50 rows per source to one hash exchange — so the
    // stratified split holds at 100 TB with NO bound on n.
    QueryRow.catalog("p88_sql_sample_per", Seq("documents"),
      "select sample exact 50 per source from documents where n_chars > 100",
      // the p66 md5 coin ranked WITHIN each source; QUALIFY is DuckDB's
      // native per-group cut; the sample faces prune the text blob
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE n_chars > 100
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ${duckShingleHash("doc_id::VARCHAR")}, doc_id) <= 50""".stripMargin),
    // p60: `union` between two gated sub-queries — the corpus-slice
    // composition shape ("the long docs plus everything from src1, as one
    // deduped slice"). Plain `union` is SQL-standard distinct; the gates
    // OVERLAP by construction so the dedup is load-bearing in the oracle
    // compare. Each branch keeps its own pushed-down gate.
    QueryRow.catalog("p60_sql_union", Seq("documents"),
      "select doc_id, source from documents where n_chars > 300 " +
        "union select doc_id, source from documents where source = 'src1'",
      // overlapping gates, so the UNION's dedup is load-bearing
      """SELECT doc_id, source FROM documents WHERE n_chars > 300
        |UNION
        |SELECT doc_id, source FROM documents WHERE source = 'src1'""".stripMargin),
    // p63: `except` — subtract a slice from a slice (the "drop the
    // contaminated sources from the long-docs cut" shape). SQL-standard
    // DISTINCT set semantics, like p60's union.
    QueryRow.catalog("p63_sql_except", Seq("documents"),
      "select doc_id, source from documents where n_chars > 300 " +
        "except select doc_id, source from documents where source = 'src1'",
      """SELECT doc_id, source FROM documents WHERE n_chars > 300
        |EXCEPT
        |SELECT doc_id, source FROM documents WHERE source = 'src1'""".stripMargin),
    QueryRow.catalog("p64_sql_intersect", Seq("documents"),
      "select doc_id, lang from documents where n_chars > 300 " +
        "intersect select doc_id, lang from documents where lang = 'en'",
      """SELECT doc_id, lang FROM documents WHERE n_chars > 300
        |INTERSECT
        |SELECT doc_id, lang FROM documents WHERE lang = 'en'""".stripMargin),
    QueryRow("p61_sql_asof_composite", p61SqlAsofComposite,
      // DuckDB's native multi-key ASOF LEFT JOIN over the same
      // deterministically-deduped (user, type, ts) mark versions
      """WITH m0 AS (SELECT user_id AS r_user, event_type AS r_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS r_ts, value AS r_value
        |  FROM events),
        |m1 AS (SELECT *, row_number() OVER (PARTITION BY r_user, r_type, r_ts
        |    ORDER BY r_value DESC) AS rn FROM m0),
        |m AS (SELECT r_user, r_type, r_ts, r_value FROM m1 WHERE rn = 1),
        |e AS (SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
        |SELECT e.event_id, e.user_id, e.event_type, e.ts_sec, m.r_value
        |FROM e ASOF LEFT JOIN m
        |  ON e.user_id = m.r_user AND e.event_type = m.r_type
        |  AND e.ts_sec >= m.r_ts""".stripMargin),
    QueryRow("p62_sql_full_outer", p62SqlFullOuter,
      // native FULL JOIN; the engine's weighted DOUBLE counts,
      // null-as-zero sum, and '__nil' group-key rendering
      """WITH prof AS (SELECT user_id, count(*) AS n_events FROM events
        |  WHERE user_id IS NOT NULL GROUP BY user_id)
        |SELECT coalesce(CAST(c_mktsegment AS VARCHAR), '__nil') AS c_mktsegment,
        |  CAST(count(*) AS DOUBLE) AS n_rows,
        |  round(CAST(sum(coalesce(n_events, 0)) AS DOUBLE), 3) AS sum_ev,
        |  CAST(count(n_events) AS DOUBLE) AS n_matched
        |FROM prof FULL JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin),
    // p67: CTEs at the front door — `with` names two statement-level
    // frames: a set-op UNION body (a compound INSIDE the CTE, which a
    // derived table cannot spell) and an aggregate body reading the
    // first CTE (per-key totals via the derived-table-inner rule); the
    // main statement gates the second CTE's output. DuckDB replays the
    // WITH natively.
    QueryRow.catalog("p67_sql_cte", Seq("documents"),
      "with merged as (" +
        "select doc_id, source, n_chars from documents where n_chars > 300 " +
        "union " +
        "select doc_id, source, n_chars from documents where source = 'src1'), " +
        "per_src as (select count(*) as n, sum(n_chars) as chars " +
        "from merged group by source) " +
        "select source, n, chars from per_src where n > 5 order by source",
      // the same WITH, replayed natively; engine counts/sums are weighted
      // DOUBLEs and the group key renders as the output column
      """WITH merged AS (
        |  SELECT doc_id, source, n_chars FROM documents WHERE n_chars > 300
        |  UNION
        |  SELECT doc_id, source, n_chars FROM documents WHERE source = 'src1'),
        |per_src AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(coalesce(n_chars, 0)) AS DOUBLE) AS chars
        |  FROM merged GROUP BY source)
        |SELECT source, round(n, 3) AS n, round(chars, 3) AS chars
        |FROM per_src WHERE n > 5 ORDER BY source""".stripMargin,
      _.select(col("source"), round3("n"), round3("chars"))),
    // p68: analytic window functions + QUALIFY — the dedup-keep-best
    // primitive: top-2 longest docs per (lang, source), ranked by a
    // row_number with a unique tiebreak (total order ⇒ deterministic
    // cut), filtered by `qualify rn <= 2`, which Spark rewrites to
    // per-partition WindowGroupLimit (each input partition forwards ≤ k
    // rows per group to the ONE window exchange — the 100 TB-safe
    // top-N-per-group). DuckDB replays with native QUALIFY.
    QueryRow.sql("p68_sql_window_qualify", "documents",
      "select doc_id, lang, source, n_chars, " +
        "row_number() over (partition by lang, source " +
        "order by n_chars desc, doc_id) as rn " +
        "where n_chars > 100 qualify rn <= 2 order by lang, source, rn",
      // native QUALIFY; Spark row_number is INT (DuckDB's is BIGINT)
      """SELECT doc_id, lang, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY lang, source
        |    ORDER BY n_chars DESC, doc_id) AS INT) AS rn
        |FROM documents WHERE n_chars > 100
        |QUALIFY rn <= 2 ORDER BY lang, source, rn""".stripMargin),
    // p69: lag/lead offsets — previous/next value per user in event-time
    // order (the session-delta primitive). Both items share one window
    // spec, so Catalyst collapses them into ONE Window operator behind
    // ONE exchange on user_id (PlanSpec-pinned).
    QueryRow.sql("p69_sql_lag_lead", "events",
      "select event_id, user_id, value, " +
        "lag(value) over (partition by user_id order by ts, event_id) as prev_value, " +
        "lead(value) over (partition by user_id order by ts, event_id) as next_value " +
        "where value >= 1 order by user_id, event_id limit 500",
      // one shared window spec; ts order replays identically on the raw
      // parquet timestamp (same total order under the UTC normalization)
      """SELECT event_id, user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        |FROM events WHERE value >= 1
        |ORDER BY user_id, event_id LIMIT 500""".stripMargin),
    // p48: the LM-scoring SQL face — gate the corpus, train the bigram
    // tables on its en slice, rank every gated document by fluency, all
    // in one statement. Training slices and scoring set both live behind
    // the WHERE, unlike x21 (which trains ungated) — the two rows pin
    // both contracts.
    QueryRow.sql("p48_sql_lmscore", "documents",
      "select lmscore ref lang = 'en' vocab 200 table 400 where n_chars > 100",
      // x21's replay with the WHERE gate applied to BOTH the training
      // slice and the scoring set, at the face's vocab/table sizes
      """WITH g AS (SELECT doc_id, lang, text FROM documents WHERE n_chars > 100),
        |ref AS (SELECT text FROM g WHERE lang = 'en'),
        |rt AS (SELECT unnest(string_split(text, ' ')) AS tk FROM ref),
        |uni AS (SELECT tk, n FROM (
        |    SELECT tk, count(*)::BIGINT AS n,
        |      row_number() OVER (ORDER BY count(*) DESC, tk ASC) AS rn
        |    FROM rt GROUP BY tk) WHERE rn <= 200),
        |rb AS (SELECT unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')), 1)),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
        |  FROM ref),
        |big AS (SELECT bg, n FROM (
        |    SELECT bg, count(*)::BIGINT AS n,
        |      row_number() OVER (ORDER BY count(*) DESC, bg ASC) AS rn
        |    FROM rb GROUP BY bg) WHERE rn <= 400),
        |b AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')), 1)),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
        |  FROM g),
        |p AS (SELECT b.doc_id,
        |    CAST(floor(1073741824.0 * (coalesce(big.n, 0) + 1)
        |      / (coalesce(uni.n, 0) + (SELECT count(*) FROM uni))) AS BIGINT) AS term,
        |    CASE WHEN big.n IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM b LEFT JOIN big USING (bg)
        |    LEFT JOIN uni ON string_split(b.bg, ' ')[1] = uni.tk),
        |perdoc AS (SELECT doc_id, sum(term)::BIGINT AS lm_sum_fp,
        |    sum(hit)::BIGINT AS lm_hits, count(*)::BIGINT AS n_bigrams
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  coalesce(pd.lm_sum_fp, 0) AS lm_sum_fp,
        |  coalesce(pd.lm_hits, 0) AS lm_hits,
        |  coalesce(pd.n_bigrams, 0) AS n_bigrams,
        |  CASE WHEN coalesce(pd.n_bigrams, 0) > 0
        |    THEN round(pd.lm_sum_fp::DOUBLE / (pd.n_bigrams * 1073741824), 6)
        |  END AS mean_p
        |FROM g d LEFT JOIN perdoc pd USING (doc_id)""".stripMargin).copy(buildClass = true),
    QueryRow("st_lmscore", stLmScore, buildClass = true, oracleSql = x21OracleSql),
    QueryRow("st_sample", stSample, buildClass = true, oracleSql = p45OracleSql),
    QueryRow("st_chunks", stChunks, buildClass = true, oracleSql = p47OracleSql),
    QueryRow("st_quality", stQuality, buildClass = true, oracleSql = p53OracleSql),
    QueryRow("st_filter_join", stFilterJoin, buildClass = true, oracleSql = p72OracleSql),
    QueryRow("st_langid", stLangId, buildClass = true, oracleSql = p56OracleSql),
    QueryRow("st_redact", stRedact, buildClass = true, oracleSql = p54OracleSql),
    QueryRow("p49_sql_composite_join", p49SqlCompositeJoin,
      // the q9-shaped composite-key join: the offer dim is the
      // per-(part, supplier) price floor; count(*) is the engine's
      // weighted DOUBLE count
      """WITH offer AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    min(l_extendedprice) AS ps_min_price
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        | round(sum(coalesce(l_quantity, 0)), 3) AS sum_qty,
        | CAST(count(*) AS DOUBLE) AS n
        |FROM lineitem JOIN offer
        |  ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |WHERE ps_min_price < 20000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    // p44: the sampling SQL face, stratified mode — per-source keep
    // percentages behind a WHERE quality gate; gate and sample are both
    // narrow filters, so the whole statement rides the scan stage.
    QueryRow.sql("p44_sql_sample", "documents",
      "select sample pct 25 by src1=70, src4=5 where n_chars > 120",
      // gate-then-stratified-sample: x10's hash rule with p44's rates
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE n_chars > 120 AND ${duckShingleHash("doc_id::VARCHAR")} % 100 <
         |  CASE source WHEN 'src1' THEN 70 WHEN 'src4' THEN 5 ELSE 25 END""".stripMargin),
    // p45: the sampling SQL face, weighted mode — acceptance probability
    // n_chars/1500 clamped to [0,1] (longer docs kept proportionally more
    // often: a token-level-unbiased sample from one narrow filter).
    QueryRow.sql("p45_sql_sample_weight", "documents",
      "select sample weight n_chars scale 1500 where lang != 'zh'",
      p45OracleSql),
    // p46: the packing SQL face — x7's token-budget sequence packing
    // behind a WHERE gate; one window per source, batch-only (prefix sums
    // are stateful).
    QueryRow.sql("p46_sql_pack", "documents",
      "select pack budget 1500 where n_chars > 100",
      // x7's packing rule behind the gate — SQL's WHERE applies before
      // window functions, matching the engine's gate-then-pack order
      """SELECT doc_id, source,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(floor(coalesce(sum(len(string_split(text, ' ')))
        |   OVER (PARTITION BY source ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 1500)
        |   AS BIGINT) AS chunk_id
        |FROM documents WHERE n_chars > 100""".stripMargin),
    // p47: the chunking SQL face — x12's overlapping context windows
    // (24-token windows, stride 12) behind a lang gate; a stateless
    // narrow explode, so the same statement also runs on streams.
    QueryRow.sql("p47_sql_chunks", "documents",
      "select chunks size 24 stride 12 where lang = 'en'",
      p47OracleSql),
    // p43: the mixture SQL face — `select mixture src=tokens, …` with a
    // WHERE quality gate applied BEFORE budgeting, so each source's budget
    // fills from the surviving documents (gate-then-mix in one statement).
    QueryRow.sql("p43_sql_mixture", "documents",
      "select mixture src1=600, src2=400, src3=1500 where n_chars > 150",
      // x19's replay with the WHERE gate applied pre-budget and the
      // dialect row's budgets
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${duckShingleHash("doc_id::VARCHAR")} % 4096 AS bkt
         |  FROM documents
         |  WHERE source IN ('src1', 'src2', 'src3') AND n_chars > 150),
         |p AS (SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY bkt, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |  FROM d)
         |SELECT doc_id, source, n_tokens FROM p
         |WHERE prefix < CASE source WHEN 'src1' THEN 600
         |  WHEN 'src2' THEN 400 ELSE 1500 END""".stripMargin),
    QueryRow("x17_quality_probe", x17QualityProbe, buildClass = true, oracleSql = {
      // full training replay: the x2 feature mirrors feed 20 chained
      // scalar-CTE GD iterations — gradient sums are per-row-floored
      // BIGINTs (order-free), weight updates the same IEEE expression over
      // them, so the learned weights match the engine bit-for-bit
      val en = graft.functions.TextFunctions.langStopwords.head._2
        .map(w => s"'$w'").mkString(",")
      val pc = graft.functions.TextFunctions.punctChars
      val x1 = "least(len(string_split(text, ' ')), 500) / 500.0"
      val x2e = s"(length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE / length(text)::DOUBLE"
      val x3e = s"len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE / len(string_split(text, ' '))::DOUBLE"
      val yE = "(n_chars >= 300)"
      def pred(w: String) = s"($w.w0*x0 + $w.w1*x1 + $w.w2*x2 + $w.w3*x3)"
      def iter(i: Int): String = {
        val gs = (0 until 4).map(j =>
          s"sum((floor((${pred("w")} - y) * x$j * 1048576.0))::BIGINT)::BIGINT AS g$j")
          .mkString(", ")
        val ws = (0 until 4).map(j =>
          s"w.w$j - 1.8 * (g.g$j / 1048576.0) / g.n AS w$j").mkString(", ")
        // MATERIALIZED is load-bearing: w(i) references w(i-1) twice
        // (directly and through g(i-1)), so default CTE inlining expands
        // the chain EXPONENTIALLY — 2^20 scans of `f` at 20 iterations
        s"""g$i AS MATERIALIZED (SELECT $gs, count(*)::BIGINT AS n FROM f CROSS JOIN w$i w),
           |w${i + 1} AS MATERIALIZED (SELECT $ws FROM w$i w CROSS JOIN g$i g)""".stripMargin
      }
      s"""WITH f AS MATERIALIZED (SELECT source, lang, 1.0 AS x0, $x1 AS x1, $x2e AS x2, $x3e AS x3,
         |  CASE WHEN $yE THEN 1.0 ELSE 0.0 END AS y FROM documents),
         |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
         |${(0 until 20).map(iter).mkString(",\n")},
         |sc AS (SELECT lang, ${pred("w")} AS s,
         |  w.w0 AS w0, w.w1 AS w1, w.w2 AS w2, w.w3 AS w3
         |  FROM f CROSS JOIN w20 w)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum((floor(s * 1048576.0))::BIGINT)::BIGINT AS sum_score_fp,
         |  sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
         |  round(w0, 6) AS w0, round(w1, 6) AS w1,
         |  round(w2, 6) AS w2, round(w3, 6) AS w3
         |FROM sc GROUP BY lang, w0, w1, w2, w3""".stripMargin
    }),
    QueryRow("c4_familiarity_gate", c4FamiliarityGate, buildClass = true, oracleSql =
      // the gate replays x14's train + per-doc score, then the integer
      // threshold (hits*5 >= n_bigrams, n_bigrams > 0) and kept-corpus
      // stats — an inner join suffices: bigram-less docs can't pass
      s"""WITH $duckFamiliarityCtes,
        |perdoc AS (
        |  SELECT b.doc_id,
        |    sum(CASE WHEN top.n IS NULL THEN 0 ELSE 1 END)::BIGINT AS fam_hits,
        |    count(*)::BIGINT AS n_bigrams
        |  FROM b LEFT JOIN top USING (bg)
        |  GROUP BY b.doc_id
        |)
        |SELECT d.source, d.lang, count(*)::BIGINT AS n_kept,
        |  sum(len(string_split(d.text, ' ')))::BIGINT AS sum_tokens
        |FROM documents d JOIN perdoc p USING (doc_id)
        |WHERE p.fam_hits * 5 >= p.n_bigrams AND p.n_bigrams > 0
        |GROUP BY 1, 2""".stripMargin),
    QueryRow("d1_dedup_exact", d1DedupExact,
      """SELECT substr(md5(text), 1, 16) AS fp, min(doc_id) AS keeper_id,
        | CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    QueryRow("d2_minhash_sig", d2MinhashSig, {
      val sigs = (0 until 8).map(i => s" ${duckMinhash(i)} AS sig_$i").mkString(",\n")
      val bands = (0 until 4).map(b =>
        s" md5(sig_${2 * b}::VARCHAR || '|' || sig_${2 * b + 1}::VARCHAR) AS band_$b").mkString(",\n")
      s"""WITH th0 AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
         |hsrc AS (SELECT doc_id, $duckHashedShingles AS hs FROM th0)
         |SELECT doc_id,
         |$sigs,
         |$bands
         |FROM hsrc""".stripMargin
    }),
    QueryRow("d2b_minhash_pairs", d2bMinhashPairs,
      s"""WITH ${duckMinhashPairCtes()}
         |SELECT id_a, id_b, $duckJaccard AS jac
         |FROM cand JOIN shd a ON cand.id_a = a.doc_id JOIN shd b ON cand.id_b = b.doc_id
         |WHERE $duckJaccard >= 0.5""".stripMargin),
    QueryRow("d3_simhash_pairs", d3SimhashPairs, {
      import graft.functions.TextFunctions._
      s"""WITH nib AS (SELECT doc_id, ${simhashNibblesSql("text")} AS nibs FROM documents),
         |sim AS (SELECT doc_id, CAST(${simhashBitsSql("nibs")} AS BIGINT) AS h FROM nib)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.h, b.h)) <= 1""".stripMargin
    }),
    QueryRow("d4_ngram_jaccard", d4NgramJaccard,
      // mirrors the maxBlock=256 hot-block cap (inert at this sf — max
      // block is ~21 — but part of the operator's contract)
      s"""WITH th0 AS (SELECT doc_id, source, CAST(floor(n_chars / 20) AS BIGINT) AS len_b,
         |  $duckTokenHashes AS th FROM documents),
         |shd0 AS (SELECT doc_id, source, len_b, list_distinct($duckHashedShingles) AS sh FROM th0),
         |shd AS (SELECT *, count(*) OVER (PARTITION BY source, len_b) AS bn FROM shd0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, $duckJaccard AS jac
         |FROM shd a JOIN shd b ON a.source = b.source AND a.len_b = b.len_b
         | AND a.doc_id < b.doc_id
         |WHERE $duckJaccard >= 0.4 AND a.bn <= 256""".stripMargin),
    QueryRow("d5_embed_pairs", d5EmbedPairs, {
      // mirrors the maxBlock=4096 hot-label cap (inert at this sf)
      val cos = graft.functions.VectorFunctions.cosineSql("a.embedding", "b.embedding", 64)
      s"""WITH e AS (SELECT *, count(*) OVER (PARTITION BY label) AS bn FROM embeddings)
         |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         | round($cos, 6) AS cos
         |FROM e a JOIN e b
         | ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $cos >= 0.42 AND a.bn <= 4096""".stripMargin
    }),
    QueryRow("d6_dup_clusters", d6DupClusters,
      // transitive closure over the verified pair graph: (id, lbl) ∈ reach
      // iff a path from lbl's origin reaches id; UNION dedups so the
      // recursion terminates; min(lbl) per id = the component's min doc id
      s"""WITH RECURSIVE ${duckMinhashPairCtes()},
         |p AS (SELECT id_a, id_b
         |  FROM cand JOIN shd a ON cand.id_a = a.doc_id JOIN shd b ON cand.id_b = b.doc_id
         |  WHERE $duckJaccard >= 0.5),
         |edges AS (SELECT id_a AS ea, id_b AS eb FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT ea AS id, ea AS lbl FROM edges
         |  UNION
         |  SELECT e.eb AS id, r.lbl FROM reach r JOIN edges e ON r.id = e.ea
         |),
         |lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id,
         | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM lab""".stripMargin),
    QueryRow("d6b_clusters_str", d6bClustersStr,
      // d6's transitive closure re-keyed as zero-padded strings: printf on
      // the way out replays the Spark side's format_string re-keying, and
      // min over the padded VARCHARs == min over the numeric ids
      s"""WITH RECURSIVE ${duckMinhashPairCtes()},
         |p AS (SELECT id_a, id_b
         |  FROM cand JOIN shd a ON cand.id_a = a.doc_id JOIN shd b ON cand.id_b = b.doc_id
         |  WHERE $duckJaccard >= 0.5),
         |edges AS (SELECT id_a AS ea, id_b AS eb FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT ea AS id, ea AS lbl FROM edges
         |  UNION
         |  SELECT e.eb AS id, r.lbl FROM reach r JOIN edges e ON r.id = e.ea
         |),
         |lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT printf('doc_%012d', id) AS doc_id,
         | printf('doc_%012d', cluster_id) AS cluster_id,
         | CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM lab""".stripMargin),
    QueryRow("d7_decontaminate", d7Decontaminate,
      s"""WITH th0 AS (SELECT doc_id, source, $duckTokenHashes AS th FROM documents),
         |shd AS (SELECT doc_id, source,
         |  list_distinct(${duckHashedShinglesN(5)}) AS sh FROM th0),
         |bsh AS (SELECT DISTINCT unnest(sh) AS h FROM shd
         |  WHERE source IN ('src0', 'src1')),
         |corp AS (SELECT doc_id, sh FROM shd
         |  WHERE source NOT IN ('src0', 'src1')),
         |hits AS (SELECT c.doc_id, count(*) AS n_hits
         |  FROM (SELECT doc_id, unnest(sh) AS h FROM corp) c
         |  JOIN bsh USING (h) GROUP BY c.doc_id)
         |SELECT corp.doc_id, CAST(len(corp.sh) AS INT) AS n_shingles,
         | CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
         | (coalesce(hits.n_hits, 0) >= 1) AS contaminated
         |FROM corp LEFT JOIN hits USING (doc_id)""".stripMargin),
    QueryRow("d9_neardup_survivors", d9NeardupSurvivors,
      // d6's transitive-closure CTEs; survivors = docs minus non-canonical
      // cluster members (cluster label <> own id)
      s"""WITH RECURSIVE ${duckMinhashPairCtes()},
         |p AS (SELECT id_a, id_b
         |  FROM cand JOIN shd a ON cand.id_a = a.doc_id JOIN shd b ON cand.id_b = b.doc_id
         |  WHERE $duckJaccard >= 0.5),
         |edges AS (SELECT id_a AS ea, id_b AS eb FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT ea AS id, ea AS lbl FROM edges
         |  UNION
         |  SELECT e.eb AS id, r.lbl FROM reach r JOIN edges e ON r.id = e.ea
         |),
         |lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, source, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster_id <> id)""".stripMargin),
    QueryRow("d10_semantic_dedup", d10SemanticDedup, {
      // coarse-train replay (e/cent2/as2 — the proven s4 CTEs), then the
      // within-cell pair predicate and the keep-lowest-id verdict; dot and
      // norm folds are bit-identical, so the >= 0.35 set matches exactly.
      // bc mirrors the engine's maxCell cap (cells >65536 skip the pair
      // scan, members stay is_dup=false) so a verification scale that
      // overflows a cell diverges on NEITHER side
      s"""WITH $duckIvfTrainCtes,
         |b AS (SELECT a.vec_id, a.cell, e.v, sqrt(${duckIvfDot("e.v", "e.v")}) AS nrm
         |  FROM e JOIN as2 a USING (vec_id)),
         |bc AS (SELECT * FROM b
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 65536),
         |drp AS (SELECT DISTINCT r.vec_id
         |  FROM bc l JOIN bc r ON l.cell = r.cell AND l.vec_id < r.vec_id
         |  WHERE ${duckIvfDot("l.v", "r.v")} / (l.nrm * r.nrm) >= 0.35)
         |SELECT b.vec_id, b.cell, (d.vec_id IS NOT NULL) AS is_dup
         |FROM b LEFT JOIN drp d ON b.vec_id = d.vec_id""".stripMargin
    }),
    QueryRow("d8_incremental_dedup", d8IncrementalDedup, {
      val sigs = (0 until 8).map(i => s" ${duckMinhash(i)} AS s$i").mkString(",\n")
      s"""WITH th0 AS (SELECT doc_id, source, $duckTokenHashes AS th FROM documents),
         |hsrc AS (SELECT doc_id, source, $duckHashedShingles AS hs FROM th0),
         |sig AS (SELECT doc_id, source,
         |$sigs
         | FROM hsrc),
         |band AS (SELECT doc_id, source, unnest([0, 1, 2, 3]) AS band_idx,
         |  unnest([md5(s0::VARCHAR || '|' || s1::VARCHAR), md5(s2::VARCHAR || '|' || s3::VARCHAR),
         |          md5(s4::VARCHAR || '|' || s5::VARCHAR), md5(s6::VARCHAR || '|' || s7::VARCHAR)]) AS bkey FROM sig),
         |cand AS (SELECT DISTINCT f.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM band f JOIN band c ON f.band_idx = c.band_idx AND f.bkey = c.bkey
         |  WHERE f.doc_id % 5 = 3 AND c.doc_id % 5 <> 3 AND f.bkey IS NOT NULL),
         |shd AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsrc)
         |SELECT cand.new_id, cand.corpus_id, $duckJaccard AS jac
         |FROM cand JOIN shd a ON cand.new_id = a.doc_id
         |          JOIN shd b ON cand.corpus_id = b.doc_id
         |WHERE $duckJaccard >= 0.5""".stripMargin
    }),
    QueryRow("s1_knn", s1Knn, {
      val cos = graft.functions.VectorFunctions.cosineSql("embedding", "qe", 64)
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round($cos, 6) AS cos
         |FROM embeddings, q
         |ORDER BY $cos DESC, vec_id
         |LIMIT 10""".stripMargin
    }),
    QueryRow("s2_ann_lsh", s2AnnLsh, {
      import graft.functions.VectorFunctions._
      val cos = cosineSql("e.embedding", "q.qe", 64)
      s"""WITH q AS (SELECT CAST(${signBucketSql("embedding", 4)} AS BIGINT) AS bucket,
         |  embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT q.bucket AS bucket, e.vec_id, e.label, round($cos, 6) AS cos
         |FROM embeddings e JOIN q ON CAST(${signBucketSql("e.embedding", 4)} AS BIGINT) = q.bucket
         |ORDER BY $cos DESC, e.vec_id
         |LIMIT 5""".stripMargin
    }),
    QueryRow("s3_lsh_stats", s3LshStats, {
      val b = graft.functions.VectorFunctions.signBucketSql("embedding", 8)
      s"""SELECT CAST($b AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
         | min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM embeddings GROUP BY 1""".stripMargin
    }),
    QueryRow("s4_ivf_build", s4IvfBuild, buildClass = true, oracleSql =
      // per-cell occupancy of the materialized index == final Lloyd
      // assignment replayed in DuckDB ([[duckIvfTrainCtes]])
      s"""WITH $duckIvfTrainCtes
         |SELECT CAST(cell AS INT) AS cell, CAST(count(*) AS BIGINT) AS n,
         | min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM as2 GROUP BY 1""".stripMargin),
    QueryRow("s4_ivf_knn", s4IvfKnn, s4KnnOracleSql),
    // p58 probes the SAME index with the same (k=10, nProbe=2, query 0)
    // through the SQL front door — one oracle serves both rows
    QueryRow("p58_sql_knn_index", p58SqlKnnIndex, s4KnnOracleSql),
    // p70 probes the SAME materialized IVF-PQ index with the same
    // parameters through the SQL face, so the identity claim is
    // hash-checked against the full replay verbatim
    QueryRow("p70_sql_knn_pq_index", p70SqlKnnPqIndex, s9IvfPqOracleSql),
    QueryRow("p65_sql_mmr_index", p65SqlMmrIndex, {
      // s13's greedy replay with the shortlist restricted to the probed
      // cells: the IVF train/assign CTEs + the s4 probe-cell selection
      // prefix the standard MMR oracle, whose candidate relation becomes
      // the probed-cell slice of embeddings
      val prefix =
        s"""$duckIvfTrainCtes,
           |qv AS (SELECT v FROM e WHERE vec_id = 0),
           |qsel AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${duckIvfDot("c.cv", "qv.v")} DESC, c.cid) AS rn
           |  FROM cent2 c, qv) WHERE rn <= 2),
           |""".stripMargin
      mmrOracle(queryId = 0L, k = 8, shortlist = 30, relW = 0.7, divW = 0.3,
        withPrefix = prefix,
        embFrom = "(SELECT em.* FROM embeddings em JOIN as2 ON em.vec_id = as2.vec_id JOIN qsel ON as2.cell = qsel.cid)")
    }),
    QueryRow("s5_quant_knn", s5QuantKnn, {
      def dotL(a: String, b: String): String =
        s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"
      val cos = s"${dotL("e.qv", "q.qq")} / (sqrt(${dotL("e.qv", "e.qv")}) * sqrt(${dotL("q.qq", "q.qq")}))"
      s"""WITH e AS (SELECT vec_id, label,
         |  list_transform(embedding, x ->
         |    least(greatest(round(x::DOUBLE * 127), -127.0), 127.0)) AS qv
         |  FROM embeddings),
         |q AS (SELECT qv AS qq FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round($cos, 6) AS qcos
         |FROM e, q
         |ORDER BY $cos DESC, e.vec_id
         |LIMIT 10""".stripMargin
    }),
    QueryRow("s6_batch_knn", s6BatchKnn, {
      val cos = graft.functions.VectorFunctions.cosineSql("e.embedding", "q.qe", 64)
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id IN (0, 1, 2))
         |SELECT qid AS query_id, vec_id, label, CAST(rn AS INT) AS rank,
         |  round(c, 6) AS cos
         |FROM (SELECT q.qid, e.vec_id, e.label, $cos AS c,
         |  row_number() OVER (PARTITION BY q.qid ORDER BY $cos DESC, e.vec_id) AS rn
         |  FROM embeddings e, q)
         |WHERE rn <= 5""".stripMargin
    }),
    QueryRow("s7_embed_stats", s7EmbedStats, {
      // same fixed-point trick as the s4 training replay: norms quantized
      // to floor(norm * 2^20) BIGINTs before any cross-row fold, so the
      // sums are exact integers and the left-assoc double divisions match
      // Spark's bit-for-bit; per-row norm = the same dotSql left-fold
      val n = graft.functions.VectorFunctions.dotSql("embedding", "embedding", 64)
      s"""WITH e AS (
         |  SELECT label,
         |    CAST(floor(sqrt($n) * 1048576.0) AS BIGINT) AS nq
         |  FROM embeddings
         |)
         |SELECT label, count(*)::BIGINT AS n_vecs,
         |  round(sum(nq)::DOUBLE / 1048576.0 / count(*), 6) AS mean_norm,
         |  round(min(nq) / 1048576.0, 6) AS min_norm,
         |  round(max(nq) / 1048576.0, 6) AS max_norm,
         |  sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END)::BIGINT AS n_near_zero
         |FROM e GROUP BY label""".stripMargin
    }),
    QueryRow("s8_pq_knn", s8PqKnn, buildClass = true, oracleSql = {
      // exact re-rank of the replayed ADC shortlist — same cosine mirror
      // as s1_knn, over the pre-doubled `e.v` vectors
      val cos = s"${duckIvfDot("e.v", "q.qv")} / (sqrt(${duckIvfDot("e.v", "e.v")}) * sqrt(${duckIvfDot("q.qv", "q.qv")}))"
      s"""WITH $duckPqCtes,
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(sl.adc, 6) AS adc, round($cos, 6) AS cos
         |FROM sl JOIN e USING (vec_id), q
         |ORDER BY $cos DESC, e.vec_id
         |LIMIT 10""".stripMargin
    }),
    QueryRow("s8b_pq_build", s8bPqBuild, buildClass = true, oracleSql =
      // every row's final code, grouped — as1 is the replayed encoder
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |${duckPqTrainCtes("e", "v", "")}
         |SELECT j::INT AS j, code::INT AS code, count(*)::BIGINT AS n
         |FROM as1 GROUP BY 1, 2""".stripMargin),
    QueryRow("s9_ivfpq_knn", s9IvfPqKnn, s9IvfPqOracleSql),
    QueryRow("s10_recall_audit", s10RecallAudit, buildClass = true, oracleSql = {
      // full-stack recall replay: ONE statement re-derives every index
      // (IVF train, raw-PQ train 'r', residual-PQ train 'p' — the same
      // CTE generators the s4/s8/s9 oracles pin individually), runs all
      // four approximate probes plus the exact scan for query ids 0/1/2,
      // and intersects each probe's top-10 id set with the exact top-10.
      // Integer overlap counts only — no floats cross the compare.
      val cosEQ = s"${duckIvfDot("e.v", "q.qv")} / (sqrt(${duckIvfDot("e.v", "e.v")}) * sqrt(${duckIvfDot("q.qv", "q.qv")}))"
      def d8(a: String, b: String) =
        s"list_reduce(list_transform(range(1, 9), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"
      val duckProjCos = s"${d8("pe.pv", "qp.qpv")} / (sqrt(${d8("pe.pv", "pe.pv")}) * sqrt(${d8("qp.qpv", "qp.qpv")}))"
      s"""WITH $duckIvfTrainCtes,
         |res AS (SELECT e.vec_id, list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS rv
         |  FROM e JOIN as2 a USING (vec_id) JOIN cent2 c ON a.cell = c.cid),
         |${duckPqTrainCtes("res", "rv", "p")},
         |${duckPqTrainCtes("e", "v", "r")},
         |bkt AS (SELECT vec_id, CAST(${graft.functions.VectorFunctions.signBucketSql("embedding", 4)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
         |qsel AS (SELECT qid, cid FROM (SELECT q.qid, c.cid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${duckIvfDot("c.cv", "q.qv")} DESC, c.cid) AS rn
         |  FROM cent2 c CROSS JOIN q) WHERE rn <= 2),
         |ex10 AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY $cosEQ DESC, e.vec_id) AS rn
         |  FROM e CROSS JOIN q) WHERE rn <= 10),
         |lsh10 AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY $cosEQ DESC, e.vec_id) AS rn
         |  FROM e JOIN bkt ON e.vec_id = bkt.vec_id
         |  CROSS JOIN q
         |  JOIN bkt qb ON qb.vec_id = q.qid AND bkt.bucket = qb.bucket) WHERE rn <= 10),
         |pb5 AS (SELECT q.qid, xor(qb.bucket, f.flip) AS bucket
         |  FROM q JOIN bkt qb ON qb.vec_id = q.qid
         |  CROSS JOIN (SELECT CAST(unnest([0, 1, 2, 4, 8]) AS BIGINT) AS flip) f),
         |lsh5 AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY $cosEQ DESC, e.vec_id) AS rn
         |  FROM e JOIN bkt ON e.vec_id = bkt.vec_id
         |  JOIN pb5 ON bkt.bucket = pb5.bucket
         |  JOIN q ON q.qid = pb5.qid) WHERE rn <= 10),
         |ivf10 AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY $cosEQ DESC, e.vec_id) AS rn
         |  FROM e JOIN as2 a USING (vec_id)
         |  CROSS JOIN q
         |  JOIN qsel ON qsel.qid = q.qid AND a.cell = qsel.cid) WHERE rn <= 10),
         |qs8 AS (SELECT q.qid, s.j, s.sv AS qv FROM rsub s JOIN q ON s.vec_id = q.qid),
         |adc8 AS (SELECT qid, vec_id, list_reduce(list(s ORDER BY j), (acc, x) -> acc + x) AS adc
         |  FROM (SELECT qs.qid, a.vec_id, a.j, ${duckPqDot("qs.qv", "c.cv")} AS s
         |    FROM ras1 a JOIN rcb1 c ON a.j = c.j AND a.code = c.cid
         |    JOIN qs8 qs ON qs.j = a.j)
         |  GROUP BY qid, vec_id),
         |pq10 AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
         |  FROM adc8) WHERE rn <= 10),
         |qr AS (SELECT qs2.qid, c.cid AS cell,
         |    list_transform(range(1, 65), i -> q.qv[i] - c.cv[i]) AS rv
         |  FROM qsel qs2 JOIN cent2 c ON c.cid = qs2.cid JOIN q ON q.qid = qs2.qid),
         |qrs AS (SELECT qid, cell, j, list_slice(rv, j*4 + 1, j*4 + 4) AS qsv
         |  FROM qr CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
         |padc AS (SELECT qid, vec_id, list_reduce(list(s ORDER BY j), (acc, x) -> acc + x) AS adc
         |  FROM (SELECT r.qid, a.vec_id, a.j, ${duckPqDot("r.qsv", "c.cv")} AS s
         |    FROM pas1 a
         |    JOIN as2 o ON a.vec_id = o.vec_id
         |    JOIN qrs r ON r.cell = o.cell AND r.j = a.j
         |    JOIN pcb1 c ON c.j = a.j AND c.cid = a.code)
         |  GROUP BY qid, vec_id),
         |sl9 AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
         |  FROM padc) WHERE rn <= 100),
         |ipq10 AS (SELECT qid, vec_id FROM (
         |  SELECT sl9.qid, sl9.vec_id,
         |    row_number() OVER (PARTITION BY sl9.qid ORDER BY $cosEQ DESC, sl9.vec_id) AS rn
         |  FROM sl9 JOIN e ON e.vec_id = sl9.vec_id JOIN q ON q.qid = sl9.qid) WHERE rn <= 10),
         |pe AS (SELECT vec_id, [${graft.functions.VectorFunctions
                  .projectSql("e.v", projMatrix).mkString(", ")}] AS pv FROM e),
         |qp AS (SELECT q.qid, pe.pv AS qpv FROM pe JOIN q ON pe.vec_id = q.qid),
         |proj10 AS (SELECT qid, vec_id FROM (
         |  SELECT qp.qid, pe.vec_id,
         |    row_number() OVER (PARTITION BY qp.qid
         |      ORDER BY $duckProjCos DESC, pe.vec_id) AS rn
         |  FROM pe CROSS JOIN qp) WHERE rn <= 10),
         |un AS (SELECT 's2_lsh' AS method, qid, vec_id FROM lsh10
         |  UNION ALL SELECT 's2_lsh5', qid, vec_id FROM lsh5
         |  UNION ALL SELECT 's4_ivf', qid, vec_id FROM ivf10
         |  UNION ALL SELECT 's8_pq', qid, vec_id FROM pq10
         |  UNION ALL SELECT 's9_ivfpq', qid, vec_id FROM ipq10
         |  UNION ALL SELECT 's11_proj', qid, vec_id FROM proj10),
         |ovl AS (SELECT method, qid, count(*)::BIGINT AS n
         |  FROM un JOIN ex10 USING (qid, vec_id) GROUP BY 1, 2),
         |exn AS (SELECT qid, count(*)::BIGINT AS n_exact FROM ex10 GROUP BY qid),
         |spn AS (SELECT m.method, e2.qid
         |  FROM (SELECT unnest(['s2_lsh', 's2_lsh5', 's4_ivf', 's8_pq', 's9_ivfpq', 's11_proj']) AS method) m
         |  CROSS JOIN (SELECT DISTINCT qid FROM q) e2)
         |SELECT spn.method, spn.qid AS query_id, exn.n_exact,
         |  coalesce(ovl.n, 0)::BIGINT AS n_overlap
         |FROM spn JOIN exn ON spn.qid = exn.qid
         |LEFT JOIN ovl ON ovl.method = spn.method AND ovl.qid = spn.qid""".stripMargin
    }),
    QueryRow("s11_project", s11Project, {
      val exprs = graft.functions.VectorFunctions
        .projectSql("embedding", projMatrix)
        .zipWithIndex.map { case (e, j) => s"round($e, 6) AS p$j" }
      s"SELECT vec_id, ${exprs.mkString(", ")} FROM embeddings"
    }),
    QueryRow("s12_filtered_ann", s12FilteredAnn, {
      // s4's probe replay with the metadata predicate applied BEFORE the
      // top-k (the engine's in-scan filter) and the widened 4-cell probe
      val cos = s"${duckIvfDot("e.v", "q.qv")} / (sqrt(${duckIvfDot("e.v", "e.v")}) * sqrt(${duckIvfDot("q.qv", "q.qv")}))"
      s"""WITH $duckIvfTrainCtes,
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |qsel AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${duckIvfDot("c.cv", "q.qv")} DESC, c.cid) AS rn
         |  FROM cent2 c, q) WHERE rn <= 4)
         |SELECT e.vec_id, e.label, a.cell, round($cos, 6) AS cos
         |FROM e JOIN as2 a USING (vec_id) JOIN qsel ON a.cell = qsel.cid, q
         |WHERE e.label = 3
         |ORDER BY $cos DESC, e.vec_id
         |LIMIT 10""".stripMargin
    }),
    QueryRow("s13_mmr_rerank", s13MmrRerank,
      mmrOracle(queryId = 0L, k = 10, shortlist = 50, relW = 0.7, divW = 0.3)),
    QueryRow("s13b_mmr_batch", s13bMmrBatch, Seq(1L, 5L, 9L).map { qid =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, * FROM (
         |${mmrOracle(queryId = qid, k = 6, shortlist = 25, relW = 0.7, divW = 0.3)}
         |)""".stripMargin
    }.mkString("\n UNION ALL \n")),
    QueryRow("m1_mm_bytes", m1MmBytes,
      """SELECT doc_id, 'text/plain' AS media_type,
        | CAST(strlen(text) AS INT) AS n_bytes
        |FROM documents""".stripMargin),
    QueryRow("m2_mm_decode", m2MmDecode,
      // replay of the WAV synthesis rule (Multimodal.wavSampleRate /
      // wavSample) + decodeWav's PCM fold: sample s_j = (ascii_j - 96)*256,
      // rate = 8000*(1 + doc_id % 3). peak/duration are exact integer
      // arithmetic; RMS = sqrt(sum(s^2)/n) over an exactly-representable
      // integer sum (|s| <= 2^15, n < 2^22 => sum < 2^53), so the IEEE
      // doubles match Spark's bit-for-bit before the shared 6dp rounding.
      // Docs are ASCII, so 1-based char positions == byte offsets + 1.
      """WITH s AS (
        |  SELECT doc_id,
        |    list_transform(range(1, strlen(text)::BIGINT + 1),
        |      j -> ((ascii(substr(text, j::INT, 1)) - 96) * 256)::BIGINT)
        |      AS samples
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  len(samples)::BIGINT AS n_samples,
        |  (len(samples)::BIGINT * 1000) // (8000 * (1 + doc_id % 3))::BIGINT
        |    AS duration_ms,
        |  CAST(coalesce(list_max(list_transform(samples, x -> abs(x))), 0)
        |    AS INT) AS peak,
        |  round(CASE WHEN len(samples) = 0 THEN 0.0
        |    ELSE sqrt(list_sum(list_transform(samples, x -> (x * x)::DOUBLE))
        |              / len(samples)) END, 6) AS rms
        |FROM s""".stripMargin),
    QueryRow("m3_mm_frames", m3MmFrames,
      // frames = 64-byte slices, every 4th sampled; docs are ASCII so text
      // substr positions == payload byte offsets; md5 hex matches across
      // engines. range() is end-exclusive like sequence(0, n-1, 4) inclusive
      """SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        | CAST(ceil(strlen(text) / 64.0) AS INT) AS n_frames,
        | md5(substr(text, fi::INT * 64 + 1, 64)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |  unnest(range(0, greatest(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 1), 4)) AS fi
        |  FROM documents)""".stripMargin),
    QueryRow("m4_bmp_decode", m4BmpDecode,
      // replay of the BMP synthesis rule (Multimodal.bmpWidth + BGR byte
      // triples) + decodeBmp's pixel fold: width = 6 + (id%5)*2, pixel p =
      // text bytes (3p, 3p+1, 3p+2) as (B,G,R), zero-padded to w*h pixels.
      // Channel sums are exact BIGINTs (< 2^53) divided in DOUBLE, so the
      // IEEE results match Spark's bit-for-bit before the 6dp rounding;
      // the top-left pixel is text bytes 0..2 (docs are >= 48 ASCII chars)
      """WITH s AS (
        |  SELECT doc_id, text, CAST(6 + (doc_id % 5) * 2 AS INT) AS w,
        |    strlen(text)::BIGINT AS n
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, text, w, n,
        |    CAST(greatest(1, ceil(n / (3.0 * w))) AS INT) AS h
        |  FROM s
        |)
        |SELECT doc_id, w AS width, h AS height,
        |  (w::BIGINT * h) AS n_px,
        |  round(coalesce(list_sum(list_transform(range(1, n + 1, 3),
        |    j -> ascii(substr(text, j::INT, 1))::BIGINT)), 0)::DOUBLE
        |    / (w::BIGINT * h), 6) AS mean_b,
        |  round(coalesce(list_sum(list_transform(range(2, n + 1, 3),
        |    j -> ascii(substr(text, j::INT, 1))::BIGINT)), 0)::DOUBLE
        |    / (w::BIGINT * h), 6) AS mean_g,
        |  round(coalesce(list_sum(list_transform(range(3, n + 1, 3),
        |    j -> ascii(substr(text, j::INT, 1))::BIGINT)), 0)::DOUBLE
        |    / (w::BIGINT * h), 6) AS mean_r,
        |  ascii(substr(text, 1, 1)) AS tl_b,
        |  ascii(substr(text, 2, 1)) AS tl_g,
        |  ascii(substr(text, 3, 1)) AS tl_r
        |FROM d""".stripMargin),
    QueryRow("m5_bmp_resize", m5BmpResize, {
      // replay of the x2 nearest-neighbor grid: out pixel p2 = (x2, y2)
      // with x2 = p2 % w2, y2 = p2 // w2 samples in pixel (2*x2, 2*y2) =
      // text bytes 3*((2*y2)*w + 2*x2) + c (0-based; zero past the text,
      // exactly the packBmp padding bytes the resampler reads). Top-left
      // is invariant under resize: in pixel (0,0) = text bytes 0..2.
      def chanSum(c: Int): String =
        "coalesce(list_sum(list_transform(range(0, w2::BIGINT * h2), p -> " +
          s"CASE WHEN 3 * (((p // w2) * 2) * w + (p % w2) * 2) + ${c + 1} <= n " +
          s"THEN ascii(substr(text, (3 * (((p // w2) * 2) * w + (p % w2) * 2) " +
          s"+ ${c + 1})::INT, 1))::BIGINT ELSE 0 END)), 0)"
      s"""WITH s AS (
         |  SELECT doc_id, text, CAST(6 + (doc_id % 5) * 2 AS INT) AS w,
         |    strlen(text)::BIGINT AS n
         |  FROM documents
         |), z AS (
         |  SELECT doc_id, text, w, n,
         |    CAST(greatest(1, ceil(n / (3.0 * w))) AS INT) AS h,
         |    CAST(ceil(w / 2.0) AS INT) AS w2,
         |    CAST(ceil(greatest(1, ceil(n / (3.0 * w))) / 2.0) AS INT) AS h2
         |  FROM s
         |)
         |SELECT doc_id, w2 AS width, h2 AS height,
         |  (w2::BIGINT * h2) AS n_px,
         |  round(${chanSum(0)}::DOUBLE / (w2::BIGINT * h2), 6) AS mean_b,
         |  round(${chanSum(1)}::DOUBLE / (w2::BIGINT * h2), 6) AS mean_g,
         |  round(${chanSum(2)}::DOUBLE / (w2::BIGINT * h2), 6) AS mean_r,
         |  ascii(substr(text, 1, 1)) AS tl_b,
         |  ascii(substr(text, 2, 1)) AS tl_g,
         |  ascii(substr(text, 3, 1)) AS tl_r
         |FROM z""".stripMargin
    }),
    QueryRow("m6_image_neardup", m6ImageNearDup, imageNeardupOracle(8)),
    QueryRow("m7_audio_neardup", m7AudioNearDup, audioNeardupOracle(16)),
    QueryRow("m8_frame_neardup", m8FrameNearDup,
      // m3's frame walk, deduped per doc, capped per digest, then the
      // digest-equality pair join with the distinct-shared count
      """WITH fr AS (SELECT DISTINCT doc_id,
        |    md5(substr(text, fi::INT * 64 + 1, 64)) AS f
        |  FROM (SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 1), 4)) AS fi
        |    FROM documents)),
        |kept AS (SELECT doc_id, f FROM fr
        |  QUALIFY count(*) OVER (PARTITION BY f) <= 1000)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  count(*)::BIGINT AS n_shared
        |FROM kept l JOIN kept r ON l.f = r.f AND l.doc_id < r.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    QueryRow("m9_scene_changes", m9SceneChanges,
      // m3's frame walk + a lag over the sampled sequence: digest
      // transitions count scene cuts, min change index pins the first
      """WITH f AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  md5(substr(text, fi::INT * 64 + 1, 64)) AS frame_md5
        |  FROM (SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 1), 4)) AS fi
        |    FROM documents)),
        |l AS (SELECT doc_id, frame_idx, frame_md5,
        |  lag(frame_md5) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |  FROM f)
        |SELECT doc_id, count(*)::BIGINT AS n_sampled,
        |  sum(CASE WHEN prev IS NOT NULL AND prev != frame_md5
        |    THEN 1 ELSE 0 END)::BIGINT AS n_changes,
        |  min(CASE WHEN prev IS NOT NULL AND prev != frame_md5
        |    THEN frame_idx END)::INT AS first_change_idx
        |FROM l GROUP BY doc_id""".stripMargin),
    QueryRow("c1_curate", c1Curate, {
      val en = graft.functions.TextFunctions.langStopwords.head._2
        .map(w => s"'$w'").mkString(",")
      val pc = graft.functions.TextFunctions.punctChars
      val quality =
        s"""(length(text) >= 100 AND len(string_split(text, ' ')) >= 20
           |   AND (length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE / length(text)::DOUBLE <= 0.1
           |   AND len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE / len(string_split(text, ' '))::DOUBLE >= 0.01)""".stripMargin
      s"""WITH f AS (
         |  SELECT doc_id, source, lang, text FROM documents
         |  WHERE $quality AND ${graft.functions.TextFunctions.langIdSql("text")} = lang
         |),
         |k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY substr(md5(text), 1, 16))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
         | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM f JOIN k USING (doc_id)
         |GROUP BY source""".stripMargin
    }),
    QueryRow("c2_shards", c2Shards, {
      val en = graft.functions.TextFunctions.langStopwords.head._2
        .map(w => s"'$w'").mkString(",")
      val pc = graft.functions.TextFunctions.punctChars
      val quality =
        s"""(length(text) >= 100 AND len(string_split(text, ' ')) >= 20
           |   AND (length(text) - length(regexp_replace(text, '[$pc]', '', 'g')))::DOUBLE / length(text)::DOUBLE <= 0.1
           |   AND len(list_filter(string_split(text, ' '), t -> list_contains([$en], t)))::DOUBLE / len(string_split(text, ' '))::DOUBLE >= 0.01)""".stripMargin
      s"""WITH th0 AS (SELECT doc_id, source, $duckTokenHashes AS th FROM documents),
         |shd AS (SELECT doc_id, source,
         |  list_distinct(${duckHashedShinglesN(5)}) AS sh FROM th0),
         |bsh AS (SELECT DISTINCT unnest(sh) AS h FROM shd
         |  WHERE source IN ('src0', 'src1')),
         |cont AS (SELECT DISTINCT c.doc_id
         |  FROM (SELECT doc_id, unnest(sh) AS h FROM shd
         |        WHERE source NOT IN ('src0', 'src1')) c
         |  JOIN bsh USING (h)),
         |f AS (SELECT doc_id, source, lang, text FROM documents
         |  WHERE source NOT IN ('src0', 'src1')
         |    AND doc_id NOT IN (SELECT doc_id FROM cont)
         |    AND $quality
         |    AND ${graft.functions.TextFunctions.langIdSql("text")} = lang),
         |k AS (SELECT min(doc_id) AS doc_id FROM f
         |      GROUP BY substr(md5(text), 1, 16)),
         |kept AS (SELECT f.doc_id, f.source, f.text FROM f JOIN k USING (doc_id)),
         |packed AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(floor(coalesce(sum(len(string_split(text, ' ')))
         |    OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)
         |    AS BIGINT) AS chunk_id
         |  FROM kept)
         |SELECT source, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM packed GROUP BY source, chunk_id""".stripMargin
    }),
    QueryRow("c3_compact", c3Compact, buildClass = true, oracleSql =
      // content preservation: the compacted store must aggregate exactly
      // like the ORIGINAL events table (session tz is UTC on both sides)
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE date_part('day', ts) <= 6 GROUP BY 1""".stripMargin),
    QueryRow("c5_manifest_compact", c5ManifestCompact, buildClass = true, oracleSql =
      // identical preservation contract as c3, through the manifested
      // (pin/compactInPlace/vacuum) protocol instead of the rename swap
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE date_part('day', ts) <= 6 GROUP BY 1""".stripMargin),
    QueryRow("c6_zorder", c6ZOrder, buildClass = true, oracleSql =
      // identical preservation contract as c3/c5, through the z-order
      // clustered rewrite (the skip-improvement audit is require-gated
      // inside the query; the oracle proves the rewrite lost no row)
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE date_part('day', ts) <= 6 GROUP BY 1""".stripMargin),
    QueryRow("c7_time_travel", c7TimeTravel, buildClass = true, oracleSql =
      // the HISTORICAL snapshot: days 1-3 only — the store's current state
      // has six days, so a green hash proves readPinned(version=v1)
      // reproduced the first commit, not the latest one
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE date_part('day', ts) <= 3 GROUP BY 1""".stripMargin),
    QueryRow("c6b_zorder3", c6b3dZOrder, buildClass = true, oracleSql =
      // same preservation contract as c6 through the 3-dim rewrite (the
      // two per-dimension skip audits are require-gated inside the query;
      // the derived svc column does not change any aggregated value)
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE date_part('day', ts) <= 6 GROUP BY 1""".stripMargin),
    QueryRow("c8_stats_prune", c8StatsPrune, buildClass = true, oracleSql =
      // the selective user-range slice: bounds mirror the Spark side's
      // min + max(1, span/8) long arithmetic (// is floor division and
      // the span is non-negative, matching Scala's long /)
      """WITH b AS (SELECT min(user_id) AS lo,
        |  min(user_id) + greatest(1, (max(user_id) - min(user_id)) // 8) AS hi
        |  FROM events WHERE date_part('day', ts) <= 6)
        |SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events, b
        |WHERE date_part('day', ts) <= 6 AND user_id BETWEEN b.lo AND b.hi
        |GROUP BY 1""".stripMargin),
    QueryRow("c8c_double_prune", c8cDoublePrune, buildClass = true, oracleSql =
      // the double-pruned slice equals the plain filtered slice; bounds
      // mirror the Spark side's vMin + (vMax - vMin)/8 — identical IEEE
      // double ops in both engines, so the literals agree bit-for-bit
      """WITH b AS (SELECT min(value) AS lo,
        |  min(value) + (max(value) - min(value)) / 8 AS hi
        |  FROM events WHERE date_part('day', ts) <= 6)
        |SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events, b
        |WHERE date_part('day', ts) <= 6 AND value >= b.lo AND value <= b.hi
        |GROUP BY 1""".stripMargin),
    QueryRow("c8b_string_prune", c8bStringPrune, buildClass = true, oracleSql =
      // the string-pruned point read equals the plain filtered slice —
      // truncated bounds are conservative, so pruning changes WHICH files
      // open, never which rows come back
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events
        |WHERE date_part('day', ts) <= 6 AND event_type = 'click'
        |GROUP BY 1""".stripMargin),
    QueryRow("c9_incremental", c9Incremental, buildClass = true, oracleSql =
      // the FULL-SCAN answer the incremental tick must reproduce exactly:
      // fixed-point floor(value·2^20) partials make base+delta merge
      // associativity-free on both engines
      """SELECT event_type, count(*)::BIGINT AS n,
        | round(sum(floor(value * 1048576)) / 1048576, 6) AS sum_value_q
        |FROM events WHERE date_part('day', ts) <= 6
        |GROUP BY 1""".stripMargin),
    QueryRow("c10_merge_delete", c10MergeDelete, buildClass = true, oracleSql =
      // the merge replayed algebraically: delete-then-insert on event_id
      // (matched base rows leave, every update row enters), then the
      // whole-day erase — value*2 is exact in IEEE, so the corrected
      // slice hashes bit-for-bit
      """WITH base AS (SELECT event_id, ts, user_id, value FROM events
        |  WHERE date_part('day', ts) <= 6),
        |upd AS (
        |  SELECT event_id, ts, user_id, value * 2 AS value FROM events
        |  WHERE date_part('day', ts) <= 6 AND user_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id, ts, user_id, value FROM events
        |  WHERE date_part('day', ts) = 7),
        |merged AS (
        |  SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM merged WHERE date_part('day', ts) <> 1
        |GROUP BY 1""".stripMargin),
    QueryRow("c11_schema_evolution", c11SchemaEvolution, buildClass = true, oracleSql =
      // store-free replay: generation 1 (days ≤5) contributes null scores,
      // generation 2 (days 6-10) the derived column — exactly what the
      // merged pinned read reconstructs from the two file generations.
      // n_scored counts NON-NULL scores (null value ⇒ null score) and the
      // score is the fixed-point floor(x·2^20) form, so parity survives a
      // testdata regeneration that introduces null values or a 6dp tie
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        | count(CASE WHEN date_part('day', ts) BETWEEN 6 AND 10
        |   AND value IS NOT NULL THEN 1 END)::BIGINT AS n_scored,
        | round(sum(CASE WHEN date_part('day', ts) BETWEEN 6 AND 10
        |   THEN floor(value / 250.0 * 1048576) ELSE 0 END) / 1048576.0,
        |   6) AS sum_q
        |FROM events WHERE date_part('day', ts) <= 10
        |GROUP BY 1""".stripMargin),
    QueryRow("c12_point_prune", c12PointPrune, buildClass = true, oracleSql =
      // store-free replay of the point lookup the membership-pruned read
      // must reproduce exactly
      """SELECT user_id, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT event_id)::BIGINT AS n_events
        |FROM events
        |WHERE date_part('day', ts) <= 6 AND user_id IS NOT NULL
        |  AND user_id = (SELECT min(user_id) FROM events
        |    WHERE date_part('day', ts) <= 6 AND user_id IS NOT NULL)
        |GROUP BY user_id""".stripMargin),
    QueryRow("c12b_bloom_prune", c12bBloomPrune, buildClass = true, oracleSql =
      // store-free replay of the bloom-tier point lookup — the pruning is
      // probabilistic (admit-only), the RESULT must be exact
      """SELECT event_id, count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events
        |WHERE date_part('day', ts) <= 6 AND user_id IS NOT NULL
        |  AND event_id = (SELECT min(event_id) FROM events
        |    WHERE date_part('day', ts) <= 6 AND user_id IS NOT NULL)
        |GROUP BY event_id""".stripMargin),
    QueryRow("c12c_string_point", c12cStringPoint, buildClass = true, oracleSql =
      // store-free replay of the string-key point lookup — the hashed
      // sidecar tiers only change WHICH files the plan binds, never rows
      """SELECT 'u' || CAST(user_id AS VARCHAR) AS skey,
        | count(*)::BIGINT AS n,
        | round(sum(value), 3) AS sum_value,
        | count(DISTINCT event_id)::BIGINT AS n_events
        |FROM events
        |WHERE date_part('day', ts) <= 6 AND user_id IS NOT NULL
        |  AND user_id = (SELECT min(user_id) FROM events
        |    WHERE date_part('day', ts) <= 6 AND user_id IS NOT NULL)
        |GROUP BY 1""".stripMargin),
    QueryRow("c13_profile", c13Profile, profileOracle(Seq("event_id", "user_id", "value"),
      Seq("event_type", "props"), Seq("ts"), from = "events")),
    QueryRow("c13b_profile_sketch", c13bProfileSketch, profileOracle(Seq("event_id", "user_id", "value"),
      Seq("event_type", "props"), Seq("ts"), from = "events",
      withDistinct = false)),
    QueryRow("c14_change_feed", c14ChangeFeed, buildClass = true, oracleSql =
      // the lifecycle's net row changes: inserts = the post-v1 appends
      // (days 6-7), deletes = the erased day 2 — compaction's rewrites
      // cancel in the multiset diff and must not surface
      """WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id, value,
        |    day(ts) AS dm FROM events)
        |SELECT 'insert' AS _change_type, strftime(d, '%Y-%m-%d') AS day,
        |  count(*)::BIGINT AS n, round(sum(value), 3) AS sum_value,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM e WHERE dm BETWEEN 6 AND 7 GROUP BY 2
        |UNION ALL
        |SELECT 'delete', strftime(d, '%Y-%m-%d'), count(*)::BIGINT,
        |  round(sum(value), 3), count(DISTINCT user_id)::BIGINT
        |FROM e WHERE dm = 2 GROUP BY 2""".stripMargin),
    QueryRow("c15_incremental_ivm", c15IncrementalIvm, buildClass = true, oracleSql =
      // the maintained view's FINAL state recomputed directly: all 20
      // days minus the erased (user%5==3, day≤10) slice — if the signed
      // delta algebra dropped or double-counted anything, this diverges
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  count(*)::BIGINT AS n,
        |  sum((floor(coalesce(value, 0.0) * 1048576.0))::BIGINT)::BIGINT AS sum_fp
        |FROM events
        |WHERE day(ts) <= 20
        |  AND NOT coalesce(user_id % 5 = 3 AND day(ts) <= 10, FALSE)
        |GROUP BY 1, 2""".stripMargin),
    QueryRow("c17_cdc_follow", c17CdcFollow, buildClass = true, oracleSql =
      // the continuously-maintained view's FINAL state recomputed
      // directly — identical contract to c15's oracle (same lifecycle,
      // different maintenance loop)
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  count(*)::BIGINT AS n,
        |  sum((floor(coalesce(value, 0.0) * 1048576.0))::BIGINT)::BIGINT AS sum_fp
        |FROM events
        |WHERE day(ts) <= 20
        |  AND NOT coalesce(user_id % 5 = 3 AND day(ts) <= 10, FALSE)
        |GROUP BY 1, 2""".stripMargin),
    QueryRow("c17b_durable_follow", c17bDurableFollow, buildClass = true, oracleSql =
      // the crash-resumed maintained view's FINAL state — same final
      // lifecycle truth as c17 (append 11-20, erase user%5==3 ∩ day≤10);
      // a double-folded append or stale resume diverges here
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  count(*)::BIGINT AS n,
        |  sum((floor(coalesce(value, 0.0) * 1048576.0))::BIGINT)::BIGINT AS sum_fp
        |FROM events
        |WHERE day(ts) <= 20
        |  AND NOT coalesce(user_id % 5 = 3 AND day(ts) <= 10, FALSE)
        |GROUP BY 1, 2""".stripMargin),
    QueryRow("c16_snapshot_clone", c16SnapshotClone, buildClass = true, oracleSql =
      // the cloned snapshot recomputed directly: days ≤ 8, regardless of
      // what the source did afterwards
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum((floor(coalesce(value, 0.0) * 1048576.0))::BIGINT)::BIGINT AS sum_fp,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE day(ts) <= 8 GROUP BY 1""".stripMargin),
    QueryRow("st_tumbling", stTumbling, buildClass = true, oracleSql = a8OracleSql),
    // a8c: windowed aggregation + BOOLEAN HAVING (p110's tree on the
    // windowed path): the or/not filter runs post-aggregation per
    // (key, window) group; mean/max/min are computed for the filter and
    // pruned from the output. st_having replays the same query through
    // the streaming aggregator and shares this oracle verbatim.
    QueryRow.sql("a8c_window_having", "events",
      "select sum(value) as sv, count(*) as n group by event_type " +
        "having (mean(value) > 55 or max(value) > 320) " +
        "and not min(value) < 1 granularity 3600",
      a8cOracleSql,
      _.select(col("event_type"), col("w_start"), col("w_end"),
          round3("sv"), round3("n"))),
    QueryRow("st_having", stHaving, buildClass = true, oracleSql = a8cOracleSql),
    // a8d: the round-14 aggregate surface on the WINDOWED path —
    // filtered sums/counts and a boolean quantifier per tumbling window.
    // The FILTER desugar is a parse-level CASE, so the windowed
    // aggregator (and its streaming twin below) runs it with zero new
    // code.
    QueryRow.sql("a8d_window_filter", "events",
      "select sum(value) filter (where value > 100) as hot_sv, " +
        "count(*) filter (where user_id % 2 = 0) as even_n, " +
        "bool_or(value > 300) as spiked, count(*) as n " +
        "group by event_type granularity 3600",
      a8dOracleSql,
      _.select(col("event_type"), col("w_start"), col("w_end"),
          round3("hot_sv"), round3("even_n"), col("spiked"), round3("n"))),
    QueryRow("st_filter", stFilter, buildClass = true, oracleSql = a8dOracleSql),
    QueryRow("st_session", stSession, buildClass = true, oracleSql = a9OracleSql),
    QueryRow("st_hopping", stHopping, buildClass = true, oracleSql = a10OracleSql),
    QueryRow("st_gap", stGap, buildClass = true, oracleSql = gapWindowOracle(3600L)),
    QueryRow("st_heatmap", stHeatmap, buildClass = true, oracleSql = a7OracleSql),
    QueryRow("st_enrich", stEnrich, buildClass = true, oracleSql = p34OracleSql),
  )
}
