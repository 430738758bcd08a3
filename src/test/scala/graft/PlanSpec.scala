package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that matter at 100 TB,
  * asserted so a refactor can't silently lose them. */
class PlanSpec extends AnyFunSuite {
  import SparkFixture.spark

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("driver contract: every declared query ships a DuckDB oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${q -- o}; orphan oracles: ${o -- q}")
    // the registry is a Seq: a repeated name would silently shadow a row
    val names = SparkEntry.rows.map(_.name)
    assert(names.distinct == names,
      s"duplicate row names: ${names.diff(names.distinct)}")
    // a forward reference during object initialisation reads as null
    val blank = SparkEntry.rows.filter(r => r.oracleSql == null || r.oracleSql.trim.isEmpty)
    assert(blank.isEmpty, s"null or blank oracles: ${blank.map(_.name)}")
    // every streaming replay runs a full lifecycle per call
    val stProbe = SparkEntry.rows.filter(r => r.name.startsWith("st_") && !r.buildClass)
    assert(stProbe.isEmpty, s"st_* rows outside the build class: ${stProbe.map(_.name)}")
    // a row declared as data resolves its table names through the by-name
    // open when the registry is built, and that open runs no job
    val bogus = intercept[IllegalArgumentException](
      SparkEntry.QueryRow.catalog("x", Seq("events", "evnts"), "select 1", "SELECT 1"))
    assert(bogus.getMessage.contains("evnts"))
    val tables = graft.sources.Tables
    val opened = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    val jobs = org.apache.spark.JobCount(spark.sparkContext)(
      tables.names.foreach(n => opened(n) = tables.open(n)(spark, dir)))
    assert(jobs == 0, s"opening the ${opened.size} tables by name ran $jobs jobs")
    // events goes through Tables.events: a zoned ts, whatever the encoding
    assert(opened("events").schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("tools harness: time runs a registry row, sql a catalog statement") {
    val t = graft.tools.Harness.time(spark, dir, Seq("t1_time_scan"), runs = 1)
    assert(t.errors.isEmpty, t.errors)
    assert(t.rows.keys.toSeq == Seq("t1_time_scan") && t.rows("t1_time_scan")._1 > 0)
    val good = "select sum(value), count(value) from events group by event_type"
    val q = graft.tools.Harness.sql(spark, dir, Seq(good, "select x from no_such_table"),
      runs = 1)
    assert(q.rows.keys.toSeq == Seq("q0", "q1"))
    // a failing statement is reported per run, not thrown
    assert(q.errors.keys.toSeq == Seq("q1#run1"), q.errors)
  }

  test("time-range scan pushes the ns range into the parquet reader") {
    val p = plan("t1_time_scan")
    assert(p.contains("PushedFilters:"))
    // the raw-column mirror renders per the testdata's physical ts encoding:
    // epoch-nanos LONG (17044128…) or TIMESTAMP_NTZ (2024-01-05T00:00)
    assert(p.contains("GreaterThanOrEqual(ts,17044128") ||
        p.contains("GreaterThanOrEqual(ts,2024-01-05T00:00"),
      s"ts range not pushed down:\n$p")
  }

  test("raw projection prunes the read schema to selected columns") {
    val p = plan("t1_time_scan")
    assert(!p.contains("props"), "unprojected column 'props' reached the scan")
  }

  test("boolean OR/NOT WHERE pushes as one disjunction into the parquet scan") {
    val p = plan("f2_bool")
    assert(p.contains("PushedFilters: [Or(EqualTo(event_type,error)"),
      s"disjunction not pushed to the scan:\n$p")
    // Catalyst simplifies not(value >= 100) to a pushable range predicate
    assert(p.contains("LessThan(value,100.0)"), s"NOT not simplified:\n$p")
  }

  test("repeated-span mining is one explode + count aggregation + TakeOrderedAndProject, join-free") {
    val p = plan("x15_repeated_ngrams")
    assert(p.contains("Generate explode"), s"expected the window explode:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(!p.contains("Join"), s"span mining must not self-join:\n$p")
  }

  test("random projection is a pure narrow map: matrix rides as literals, zero exchanges") {
    val p = plan("s11_project")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"projection must stay narrow:\n$p")
  }

  test("journey mining: path builds inside the window's exchange, pattern count adds one") {
    val p = plan("a12_journeys")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // (user, day) window + same-key groupBy share ONE exchange; the
    // pattern count on path is the second; top-k never global-sorts
    assert(exchanges == 2, s"expected exactly 2 shuffles, got $exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not sort globally:\n$p")
  }

  test("decayed smoothing reuses the window's partitioning: one exchange total") {
    val p = plan("a14_decay")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$p")
  }

  test("attribution: one running-window exchange + the tiny touch-type count, join-free") {
    val p = plan("a18_attribution")
    assert(!p.contains("Join"), s"attribution must not self-join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected exactly 2 shuffles, got $exchanges:\n$p")
  }

  test("seasonal anomaly scores through a broadcast baseline, never a sort-merge join") {
    val p = plan("a19_anomaly")
    assert(p.contains("BroadcastHashJoin"), s"baseline must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"events must not shuffle to join:\n$p")
  }

  test("tfidf pairs: inverted-index equi-joins only, top-k never global-sorts") {
    val p = plan("x18_tfidf_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation must stay term-keyed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not sort globally:\n$p")
  }

  test("trend: one hash aggregate with map-side partials, no window, no join") {
    val p = plan("a21_trend")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the slope pair must come from plain aggregation:\n$p")
  }

  test("profile: exact multi-distinct plans NO Expand — per-column sub-aggregations") {
    val p = plan("c13_profile")
    assert(!p.contains("Expand"),
      s"exact profile must not replay every row |columns|× through an Expand:\n$p")
    // one non-distinct pass + one pruned scan per profiled column (6)
    assert("FileScan parquet".r.findAllIn(p).length == 7,
      s"profile should read one pass + one pruned single-column scan per distinct:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"the unpivot must stay shuffle-free:\n$p")
  }

  test("same-measure exact quantiles fuse into ONE percentile buffer (array fractions)") {
    // a11's p50/p90/p99 over `value` must plan one percentile function
    // (each select reads its fraction via element_at), not three counts-map
    // buffers of the whole column; p109 keeps 2 (two distinct measures)
    val pa = plan("a11_percentiles")
    assert("partial_percentile".r.findAllIn(pa).length == 1,
      s"a11 must carry ONE fused percentile aggregate:\n$pa")
    val pp = plan("p109_sql_percentile")
    assert("partial_percentile".r.findAllIn(pp).length == 2,
      s"p109 must fuse the two l_extendedprice quantiles into one buffer:\n$pp")
  }

  test("sketch profile plans NO Expand: HLL state replaces per-column distinct fan-out") {
    val src = graft.sources.Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts")
    val p = graft.operators.Profile.profileSketch(src,
      Seq("event_id", "user_id", "value"), Seq("event_type", "props"),
      Seq("ts")).queryExecution.executedPlan.toString
    assert(!p.contains("Expand"),
      s"sketch mode must not plan the multi-distinct Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"sketch profile must read the table once:\n$p")
  }

  test("rollup/cube levels ride ONE Expand into one aggregation — no per-level re-scan") {
    Seq("o5_rollup", "o6_cube").foreach { q =>
      val p = plan(q)
      assert(p.contains("Expand"), s"$q must plan an Expand:\n$p")
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$q must read the table once, saw $scans scans:\n$p")
    }
  }

  test("SQL argmax stays one codegen'd aggregate: partial max map-side, no window shuffle-all") {
    val p = plan("p9_sql_argmax")
    assert(!p.contains("Window"), s"argmax must not rank every row:\n$p")
    assert("partial_max|partial.*max".r.findFirstIn(p).isDefined,
      s"expected a map-side partial max:\n$p")
  }

  test("hash-keyed span mining: counts shuffle 8-byte keys; recovery joins are broadcast-only") {
    // r14: the count pass (native window hashes, 8-byte count shuffle,
    // TakeOrderedAndProject top-k) executes during construction and its
    // ≤topK survivors ride the RETURNED plan as local rows + a literal
    // filter — so the returned plan shows the recovery shape: the native
    // hash expression, a LocalTableScan for the survivor table, and
    // broadcast-only joins. No span string ever shuffles.
    val p = plan("x15b_spans_hashed")
    assert(p.contains("rolling_hash_ngrams"),
      s"recovery must hash token windows natively, no span-string churn:\n$p")
    assert(p.contains("LocalTableScan"),
      s"the survivor table must ride as local rows, not re-run the count DAG:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"span-text recovery must broadcast the tiny tables, never shuffle-join:\n$p")
  }

  test("bucketed join is exchange-free on the join key: co-location replaces the shuffle") {
    val p = plan("j6_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected the merge join shape:\n$p")
    assert(!p.contains("Exchange hashpartitioning(user_id"),
      s"bucketed sides must not re-shuffle on the join key:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan must be bucket-aware:\n$p")
  }

  test("equi-join SQL face: the dim predicate reaches the orders scan; small dims broadcast") {
    val p = plan("p25_sql_equi_join")
    // WHERE names a JOINED table's column — Catalyst must push it under
    // the join into that table's parquet scan, not filter the join output
    assert(p.contains("EqualTo(o_orderstatus,O)"),
      s"o_orderstatus predicate not pushed to the orders scan:\n$p")
    // nation/customer are small — at least one side must broadcast
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$p")
  }

  test("case + post-aggregate ratio: CASE partial-aggregates map-side, ratio adds no exchange") {
    val p = plan("p32_sql_case_ratio")
    // the time cut reaches the fact scan as a typed range
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-03-01"),
      s"shipdate range not pushed into the lineitem scan:\n$p")
    // the conditional measure rides INSIDE map-side partial aggregation
    assert(p.contains("partial_sum") && p.contains("CASE WHEN"),
      s"CASE must partial-aggregate map-side:\n$p")
    // the dim broadcasts; the post-aggregate ratio is a scalar projection —
    // exactly ONE aggregation exchange in the whole plan
    assert(p.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    val exchanges = "Exchange SinglePartition".r.findAllIn(finalPlan).length +
      "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges == 1, s"ratio of sums must reuse the one aggregate exchange:\n$p")
  }

  test("limit-per compiles to partial+final WindowGroupLimit around the one window exchange") {
    val p = plan("p35_sql_top_per_group")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"rank-filter must pre-cut per task before the exchange:\n$p")
    assert(p.contains("row_number()"), s"expected the rank window:\n$p")
  }

  test("membership subquery compiles to a semi join; small match sets broadcast") {
    val p = plan("p37_sql_in_subquery")
    assert(p.contains("LeftSemi"), s"in (select …) must be a semi join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"AQE should pick a hash/merge strategy:\n$p")
    // the fact scan reads only the key + measure, never the whole row
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"fact scan not pruned to the two needed columns:\n$p")
  }

  test("scalar subquery inlines as a literal pushed into the fact scan — no join") {
    val p = plan("p39_sql_scalar_sub")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity,"),
      s"inlined threshold must reach the parquet reader:\n$p")
    assert(!p.contains("Join"), s"a scalar threshold must not ride a join:\n$p")
  }

  test("derived table: inner sort stripped under outer aggregate — two hash aggs, one final sort") {
    val p = plan("p40_sql_custdist")
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).length
    assert(rangeEx == 1, s"only the OUTER order may range-shuffle:\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    assert(hashAggs == 4, s"expected partial+final × two levels:\n$p")
  }

  test("derived join side: the aggregate frame broadcasts onto the fact scan") {
    val p = plan("p42_sql_q17_shape")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast exchange") ||
      p.contains("BroadcastExchange"),
      s"the per-key aggregate (|parts| rows) must broadcast, not shuffle the fact:\n$p")
    // both sides scan only the columns they need
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"),
      s"subquery scan not pruned:\n$p")
  }

  test("knn and top-k limit compile to per-partition TakeOrderedAndProject") {
    assert(plan("s1_knn").contains("TakeOrderedAndProject"))
    assert(plan("o2_topk_limit").contains("TakeOrderedAndProject"))
  }

  test("PQ ADC scan is join-free: codes + LUT sum compile to one TakeOrderedAndProject pipeline") {
    val p = plan("s8_pq_knn")
    // encode + ADC are narrow row-local expressions; the only plan-level
    // structure is the shortlist/re-rank TakeOrdered pair — training's
    // groupBy jobs already ran at plan-build time and don't appear here
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(!p.contains("Join"), s"ADC must not join codebooks:\n$p")
    assert(!p.contains("Exchange"), s"ADC scan must not shuffle:\n$p")
  }

  test("p58 knn using <index>: the SQL face's probe prunes cell partitions too (round 13)") {
    val p = plan("p58_sql_knn_index")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"the front-door index probe must prune at planning time:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must stay per-partition TakeOrdered, no global sort:\n$p")
    assert(!p.contains("Join"),
      s"a read-only probe never joins — centroids are driver-held:\n$p")
  }

  test("p70 knn using <pq-index>: front-door ADC probe prunes cells, join-free (round 13)") {
    val p = plan("p70_sql_knn_pq_index")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"the front-door PQ probe must prune at planning time:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"shortlist/re-rank must stay per-partition TakeOrdered:\n$p")
    assert(!p.contains("Join"),
      s"ADC never joins — codebooks and centroids are plan literals:\n$p")
  }

  test("p66 sample exact: per-partition TakeOrdered, no global sort or shuffle (round 13)") {
    val p = plan("p66_sql_sample_exact")
    assert(p.contains("TakeOrderedAndProject"),
      s"the exact cut must be per-partition top-n, never a global sort:\n$p")
    assert(!p.contains("Exchange") && !"(?<!TakeOrdered)Sort".r.findFirstIn(p).isDefined,
      s"exact sampling must stay scan-stage work:\n$p")
  }

  test("IVF-PQ probe prunes cell partitions and stays exchange-free") {
    val p = plan("s9_ivfpq_knn")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"probe must prune at planning time:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"probe must be a pruned scan + narrow ADC + TakeOrdered:\n$p")
  }

  test("p61 composite-key asof: the struct key adds ZERO exchanges vs single-key (round 13)") {
    def exchanges(name: String) =
      "Exchange hashpartitioning".r.findAllIn(plan(name)).length
    // same operator shape as the single-key asof face (p4): one exchange
    // for the right side's (key, time) version dedup, one for the asof
    // union-window — a composite key that shuffled a third time would be
    // paying for its struct
    assert(exchanges("p61_sql_asof_composite") == exchanges("p4_sql_asof"),
      s"composite=${exchanges("p61_sql_asof_composite")} " +
        s"single=${exchanges("p4_sql_asof")}")
    // and the internal struct key never reaches the output schema
    assert(!SparkEntry.queries("p61_sql_asof_composite")(spark, dir)
      .columns.contains("__ckl"),
      "composite key column leaked into the output schema")
  }

  test("broadcast asof probe is shuffle- and window-free (hash join, round 14)") {
    // the probe is a BroadcastHashJoin against the plan-resident history
    // relation (round 14 — the earlier map-literal probe linear-scanned
    // all keys per row); no shuffle, no window sort anywhere
    val p = plan("j4_asof_broadcast")
    assert(!p.contains("ShuffleExchange") && !p.contains("Window") &&
      p.contains("BroadcastHashJoin"),
      s"broadcast asof must be a broadcast hash probe:\n$p")
  }

  test("familiarity scoring is join-free: the bigram table rides as a map literal") {
    val p = plan("x14_familiarity")
    assert(!p.contains("Join"), s"scoring must fold a broadcast map, not join:\n$p")
  }

  test("dimension joins broadcast (no shuffle on the dim side)") {
    val p = plan("j1_revenue_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("q3: AQE picks the join strategy for the filtered fact-fact join; top-10 is TakeOrdered") {
    val df = SparkEntry.queries("q3_shipping")(spark, dir)
    df.collect() // materialize so AQE's runtime re-plan is final
    val p = df.queryExecution.executedPlan.toString
    // no hints in the query: at this sf the date-filtered orders side
    // shrinks below the broadcast threshold, so AQE must have converted
    // the fact-fact join — a 100 TB run with a fat filtered side would
    // legitimately keep sort-merge, which is exactly the point of leaving
    // the decision to AQE
    assert(p.contains("BroadcastHashJoin"), s"AQE should broadcast the shrunken side:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
  }

  test("q4: EXISTS compiles to a left-semi hash join carrying the range condition") {
    val df = SparkEntry.queries("q4_priority")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"existence check must be a semi join (no fan-out):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the range condition must ride the equi join, not explode:\n$p")
  }

  test("q21: EXISTS + NOT EXISTS stack as a semi join and an anti join on one fact") {
    val df = SparkEntry.queries("q21_waiting")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"multi-supplier check must be a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"sole-late check must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the <> condition must ride the orderkey equi join, not explode:\n$p")
  }

  test("q13: zero-order customers survive the outer join; plan is a hash join, not a loop") {
    val df = SparkEntry.queries("q13_custdist")(spark, dir)
    val rows = df.collect()
    // the outer join's invariant: EVERY customer lands in exactly one
    // bucket (sum of the distribution == customer count) — an inner join
    // would drop zero-order customers and break this whenever they exist
    // (they do at sf0.01+; this fixture sf has none, the invariant still
    // pins the preserved-side semantics)
    assert(rows.map(_.getAs[Long]("custdist")).sum ==
      graft.sources.Tables.customer(spark, dir).count(),
      "distribution must cover every customer exactly once")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"expected an outer hash join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q17: the correlated aggregate decorrelates into a window, not a self-join") {
    val df = SparkEntry.queries("q17_avg_yearly")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // one broadcast for the dimension filter, NO join for the threshold:
    // the per-part average must ride a window over the fact's own
    // l_partkey exchange (textbook decorrelation would scan the fact
    // slice twice and join it back to itself)
    assert(p.contains("BroadcastHashJoin"), s"dimension filter must broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).isEmpty &&
      "ShuffledHashJoin".r.findAllIn(p).isEmpty,
      s"threshold must be a window, never a self-join:\n$p")
    assert(p.contains("Window"), s"expected the decorrelating window:\n$p")
    // the executed AQE plan prints Final AND Initial sections — count the
    // materialized shuffle stages, which exist only in the final plan
    val wide = "ShuffleQueryStage".r.findAllIn(p).length
    assert(wide <= 2, s"expected at most the window + brand-agg exchanges, got $wide:\n$p")
  }

  test("shuffle joins get a runtime bloom filter from the selective side") {
    // at test SFs AQE broadcasts everything, so no bloom filter is needed
    // or injected — the 100 TB regime is a SHUFFLE join, where Spark's
    // InjectRuntimeFilter builds a bloom filter from the filtered
    // (creation) side and plants might_contain on the fact scan, cutting
    // the shuffle to rows that can actually match. Pin the lever by
    // forcing the shuffle-join regime and dropping the size thresholds.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val ord = graft.sources.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = graft.sources.Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"probe must exercise the shuffle-join regime:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q18: single lineitem scan; hot-order set broadcasts; top-10 is TakeOrdered") {
    val df = SparkEntry.queries("q18_large_volume")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the HAVING subquery's aggregate IS the final answer — lineitem must
    // appear exactly once (textbook Q18 scans it twice and re-joins)
    val liScans = "lineitem".r.findAllIn(p).length
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the hot-order set should broadcast:\n$p")
    // Final + Initial AQE sections each print the scan once
    assert(liScans <= 2, s"lineitem must be scanned once (saw $liScans mentions):\n$p")
  }

  test("q5: the join cycle closes as composite-key hash joins — never a nested loop") {
    val df = SparkEntry.queries("q5_local_supplier")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // supplier + the region-filtered nation chain must broadcast; the
    // cyclic c_nationkey = s_nationkey edge rides the supplier hash join
    // as a second equi-key, so no plan node may degenerate to a loop
    assert(p.contains("BroadcastHashJoin"), s"dimensions must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the cycle must stay inside equi hash joins:\n$p")
  }

  test("q12: both priority counters ride ONE fact-fact join (no Union of filtered scans)") {
    val df = SparkEntry.queries("q12_priority_class")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Union"),
      s"the CASE split must live in the aggregate, not duplicate the join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // Final + Initial AQE sections each print the scan once
    val ordScans = "orders".r.findAllIn(p).length
    assert(ordScans <= 2, s"orders must be scanned once (saw $ordScans mentions):\n$p")
  }

  test("q14: ratio query has no wide exchange — broadcast dim + single scalar agg") {
    val p = plan("q14_promo_ratio")
    assert(p.contains("BroadcastHashJoin"), s"part dimension must broadcast:\n$p")
    val wide = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(wide == 0,
      s"both sums ride one pass; only the 1-row final agg may exchange:\n$p")
  }

  test("q15: scalar-max closes over the checkpointed aggregate — fact scanned once") {
    val df = SparkEntry.queries("q15_top_supplier")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the supplier-level aggregate is localCheckpointed: both the max
    // branch and the equality probe read the materialized RDD, so the
    // parquet fact must not appear in the final plan at all
    assert(!p.contains("lineitem"),
      s"fact must be materialized once, not re-scanned per branch:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the 1-row max must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no wide join may appear over supplier-cardinality data:\n$p")
  }

  test("q7: the nation-pair disjunction evaluates post-join — never a join condition") {
    val df = SparkEntry.queries("q7_nation_volume")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"the 2-row nation dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the OR must stay a codegen'd filter, not become a loop join:\n$p")
  }

  test("q11: threshold closes over the checkpointed part aggregate — fact scanned once") {
    val df = SparkEntry.queries("q11_part_concentration")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // both the total and the filter read the localCheckpointed part sums;
    // the parquet fact must not appear in the final plan at all
    assert(!p.contains("lineitem"),
      s"fact must be materialized once, not re-scanned per branch:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row threshold must broadcast, never shuffle part sums:\n$p")
  }

  test("q19: the cross-table OR pushes derived disjunctions into BOTH scans") {
    val p = plan("q19_brand_baskets")
    // Catalyst extracts each side's implied filter from the OR-of-ANDs:
    // quantity ranges reach the fact scan, brand/size baskets the dim scan
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity disjunction not pushed to the fact scan:\n$p")
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand/size disjunction not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dimension must broadcast:\n$p")
  }

  test("q22: NOT EXISTS is a LeftAnti hash join with the priority filter pushed") {
    val df = SparkEntry.queries("q22_idle_balance")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"NOT EXISTS must compile to an anti join:\n$p")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the anti join's build side must prune at the scan:\n$p")
    // the scalar threshold is a 1-row IdentityBroadcast nested loop — the
    // correct scalar-subquery execution; the anti join itself must hash
    assert(!p.contains("CartesianProduct"))
  }

  test("q6: the zero-join forecast is one pushed-down scan + one 1-row exchange") {
    val df = SparkEntry.queries("q6_forecast")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the PushedFilters list prints truncated — pin the shipdate prefix
    // there and the discount/quantity ranges in the codegen'd Filter node
    assert(p.contains("GreaterThanOrEqual(l_shipda"),
      s"ship-year range not pushed to the parquet scan:\n$p")
    assert(p.contains(">= 0.02)") && p.contains("< 24.0)"),
      s"discount/quantity ranges missing from the scan-stage filter:\n$p")
    assert(!p.contains("Join"), s"Q6 must not join anything:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the 1-row final-agg exchange, got $exchanges:\n$p")
  }

  test("q10: top-20 is TakeOrderedAndProject over one fact exchange; dims broadcast") {
    val df = SparkEntry.queries("q10_returned")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must prune the fact scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"customer/nation must broadcast:\n$p")
  }

  test("q9: the contains-LIKE filter evaluates before the broadcast join") {
    val df = SparkEntry.queries("q9_profit")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Contains(p_name") && p.contains(", gear)"),
      s"the %gear% filter must prune the part dim before its broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the whole dim chain must broadcast:\n$p")
  }

  test("q8: the region IN-subquery is a LeftSemi; share rides one agg exchange") {
    val df = SparkEntry.queries("q8_market_share")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("LeftSemi"), s"the Europe-customer probe must be a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no loop join may appear:\n$p")
    // both CASE counters live in ONE aggregate over ONE exchange (the
    // year key prints as Catalyst's _groupingexpression alias)
    val aggEx = "Exchange hashpartitioning\\(_groupingexpression".r.findAllIn(p).length
    assert(aggEx == 1, s"share must ride a single year-keyed exchange, got $aggEx:\n$p")
    assert(p.contains("CASE WHEN (supp_nation"),
      s"the share split must live inside the aggregate:\n$p")
  }

  test("q2: correlated min decorrelates to a window over ONE joined scan") {
    val df = SparkEntry.queries("q2_min_cost")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Window [min(unit_cost"),
      s"per-part min must be a window, not a re-aggregate self-join:\n$p")
    val liScans = "lineitem".r.findAllIn(p).length
    assert(liScans == 1, s"the textbook form scans the join twice; we must scan once (saw $liScans):\n$p")
    assert(!p.contains("SortMergeJoin"), s"supplier chain and part dim must broadcast:\n$p")
  }

  test("q16: distinct count plans as layered HashAggregates, exclusion as broadcast anti") {
    val df = SparkEntry.queries("q16_supplier_cnt")(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    // at this fixture SF the complainer set is EMPTY, and AQE's
    // empty-relation propagation elides the anti join from the final
    // plan entirely — itself the right call; the shape lives in the
    // initial plan, so pin it on the full string
    assert(full.contains("LeftAnti"), s"the complainer exclusion must be an anti join:\n$full")
    assert(p.contains("partial_count(distinct l_suppkey"),
      s"distinct count must partial-aggregate, never collect rows:\n$p")
    assert(!p.contains("Expand"),
      s"a single distinct column must not plan an Expand:\n$p")
  }

  test("q20: the aggregated subquery collapses BEFORE its LeftSemi probe") {
    val df = SparkEntry.queries("q20_promo_volume")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("LeftSemi"), s"the mover set must probe via semi join:\n$p")
    assert(p.contains("sum(l_quantity"),
      s"the HAVING aggregate must appear below the semi probe:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("AQE splits the skewed partition of a shuffle join (skew=true in the final plan)") {
    // the join-side complement of the aggregation-skew story (SURVEY §9:
    // AQE skew handling is JOIN-only — two-level sessions exist because
    // of that): force the shuffle-join regime, drop the skew thresholds
    // to fixture scale, and verify OptimizeSkewedJoin actually split the
    // hot key's partition instead of leaving one straggler task
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      // 90% of rows share one hot user → one shuffle partition dwarfs the
      // rest. Both join children must be bare shuffle stages (an agg in
      // between defeats OptimizeSkewedJoin's pattern — which is itself
      // worth knowing: pre-aggregated sides don't get skew splitting)
      // many map tasks (repartition 16): skew splitting regroups MAP
      // outputs, so a hot partition fed by a single mapper is unsplittable
      // no matter the thresholds — at scale the map side is always wide,
      // the fixture must make it so explicitly
      val ev = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(10)) < 9, lit(7L)).otherwise(col("user_id")))
        .repartition(16, col("event_id"))
      val right = ev.select(col("user_id").as("u"), col("value").as("v"))
      val joined = ev.join(right, col("user_id") === col("u"))
        .agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected OptimizeSkewedJoin to split the hot partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("windowed aggregation is a single exchange (partial agg map-side)") {
    val p = plan("a8_window")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$p")
  }

  test("session and hopping windows are each a single exchange") {
    for (name <- Seq("a9_session", "a10_hopping")) {
      val p = plan(name)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$name: expected exactly one shuffle, got $exchanges:\n$p")
    }
    // hopping expands each event to its covering windows BEFORE the shuffle
    assert(plan("a10_hopping").contains("Expand"))
  }

  test("IVF cell assignment is shuffle-free (row-local argmax over broadcast centroids)") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val cents = graft.operators.Similarity.ivfTrain(emb, nlist = 16, iters = 1)
    val p = graft.operators.Similarity.assignCells(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
  }

  test("redaction, chunking, and both media codecs are shuffle-free narrow maps") {
    for (q <- Seq("x11_redact", "x12_chunks", "m2_mm_decode", "m4_bmp_decode")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
    }
  }

  test("bigram LM scoring rides the scan stage: broadcast-map fold, no join, no keyed exchange") {
    // r14: the scoring fold is behind Tables.fanOut, so a single-row-group
    // source gains ONE round-robin exchange (scale-adaptive: a no-op once
    // the scan has >= parallelism splits). The scale claims stay pinned:
    // no join, no KEYED exchange — tables ride as map literals and the
    // fold itself is a narrow per-row map wherever its input lives.
    val df = SparkEntry.queries("x21_lm_score")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"x21 scoring must be one narrow fold — tables ride as " +
        s"map literals, never as join sides:\n$p")
    // the fan-out exchange makes the plan adaptive, and an unexecuted AQE
    // plan hides codegen membership — materialize THIS queryExecution
    // (collect, not a fresh write plan), then read the FINAL `*(n)` markers
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*("), s"fold fell out of codegen:\n$finalPlan")
  }

  test("fanOut is scale-adaptive: exchanges a below-parallelism source, no-op otherwise") {
    val docs = graft.sources.Tables.documents(spark, dir)
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "precondition: the testdata scan must be narrower than the session")
    val fanned = graft.sources.Tables.fanOut(docs)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "a single-row-group scan must spread to the session's parallelism")
    assert(fanned.queryExecution.executedPlan.toString
      .contains("Exchange RoundRobinPartitioning"))
    // already-wide input: identical frame back, no exchange added
    val wide = docs.repartition(spark.sparkContext.defaultParallelism + 1)
    assert(graft.sources.Tables.fanOut(wide) eq wide,
      "an input at/above parallelism must pass through untouched")
    // streams pass through (fanOut is a batch-side helper)
    val st = spark.readStream.schema(docs.schema)
      .parquet(dir + "/documents.parquet")
    assert(graft.sources.Tables.fanOut(st) eq st)
    // off switch for plan-shape tests
    spark.conf.set("spark.graft.fanout", "false")
    try assert(graft.sources.Tables.fanOut(docs) eq docs)
    finally spark.conf.unset("spark.graft.fanout")
  }

  test("grouping sets is one Expand pass, like rollup/cube") {
    val p = plan("o7_grouping_sets")
    val expands = "Expand".r.findAllIn(p).size
    assert(expands == 1,
      s"sets must compute all levels in ONE Expand, got $expands:\n$p")
    assert("HashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("large-model LM scoring joins both tables as broadcasts") {
    val p = plan("x21b_lm_score_joined")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj == 2, s"expected 2 broadcast joins (bigram + unigram), got $bhj:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a bounded model table must never sort-merge against the corpus:\n$p")
  }

  test("curriculum sharding never sorts the corpus in one partition") {
    val p = plan("x22_curriculum")
    // the corpus-side rank window is PARTITIONED by the score bucket; the
    // only unpartitioned window (cumulative bases) rides the bounded
    // histogram behind a broadcast — so the single-partition exchange that
    // a naive global row_number() would need must not touch the doc scan
    assert(p.contains("BroadcastExchange"),
      s"histogram bases must broadcast:\n$p")
    val winSpecs = "Window \\[.*?\\], \\[".r.findAllIn(p).size
    assert(p.contains("windowspecdefinition(qs#") ||
        p.contains(", [qs#"),
      s"corpus rank window must be partitioned by the score bucket:\n$p")
    assert(winSpecs >= 1, s"expected window operators in:\n$p")
  }

  test("asof join is union + one window: no join operator, no explosion") {
    val p = plan("j2_asof_join")
    assert(!p.contains("Join"), s"asof must not plan a join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // one exchange dedupes order versions, one feeds the asof window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected at most 2 shuffles, got $exchanges:\n$p")
  }

  test("batched kNN pushes the per-query rank limit into WindowGroupLimit") {
    val p = plan("s6_batch_knn")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must group-limit before the shuffle:\n$p")
  }

  test("trailing range join is union + one window: no join operator") {
    val p = plan("j3_range_join")
    assert(!p.contains("Join"), s"range join must not plan a join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected at most 2 shuffles, got $exchanges:\n$p")
  }

  test("decontamination probes a broadcast benchmark set (corpus side never shuffles to join)") {
    val p = plan("d7_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("two-level salted sessions equal plain sessions exactly, for any salt count") {
    import graft.ir._
    val ev = graft.sources.Tables.events(spark, dir)
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Mean, "value"), Select(Agg.Max, "value"), Select(Agg.Min, "value")),
      groupBy = Seq("event_type"), sessionGapSec = Some(300L))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (3 until 8).map(i => math.round(r.getDouble(i) * 1e6)).toSeq).toMap
    val plain = canon(graft.compile.Compiler.runSession(ev, q))
    assert(plain.nonEmpty)
    // window boundaries must match EXACTLY (interval-union connectivity is
    // the proof obligation); aggregate values to 1e-6 (double re-association
    // across the two levels)
    for (salts <- Seq(1, 7, 16))
      assert(canon(graft.compile.Compiler.runSession(
        ev, q.copy(skewSalt = Some(salts)))) == plain, s"salts=$salts diverged")
    // the hot-group shape: every event in ONE group must still be exact
    val hot = ev.withColumn("event_type", org.apache.spark.sql.functions.lit("hot"))
    assert(canon(graft.compile.Compiler.runSession(ev.withColumn("event_type",
        org.apache.spark.sql.functions.lit("hot")), q.copy(skewSalt = Some(16))))
      == canon(graft.compile.Compiler.runSession(hot, q)))
    // non-decomposable aggregates are rejected loudly
    val e = intercept[IllegalArgumentException] {
      graft.compile.Compiler.runSession(ev,
        q.copy(selects = Seq(Select(Agg.CountDistinct, "value")), skewSalt = Some(8)))
    }
    assert(e.getMessage.contains("decomposable"))
  }

  test("skewSalt aggregation equals the plain aggregate and adds one salted exchange") {
    import graft.ir._
    val ev = graft.sources.Tables.events(spark, dir)
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value"),
        Select(Agg.Mean, "value")),
      groupBy = Seq("event_type"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (math.round(r.getDouble(1) * 1000),
        math.round(r.getDouble(2) * 1000), math.round(r.getDouble(3) * 1e6))).toMap
    val plain = graft.compile.Compiler.runSorted(ev, q)
    // salts = 1 (degenerate), a non-power-of-two, and the real setting
    for (salts <- Seq(1, 7, 16))
      assert(canon(graft.compile.Compiler.runSorted(ev, q.copy(skewSalt = Some(salts))))
        == canon(plain), s"salts=$salts diverged")
    val salted = graft.compile.Compiler.runSorted(ev, q.copy(skewSalt = Some(16)))
    // two-phase shape: partial on (keys, pmod(hash(...))), final on keys —
    // read the AQE final plan only (the Initial Plan section repeats it)
    val p = salted.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("pmod(hash("), s"expected the salt key in the plan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected partial+final exchanges, got $exchanges:\n$p")
    // non-decomposable aggregates are rejected loudly
    val e = intercept[IllegalArgumentException] {
      graft.compile.Compiler.runSorted(ev,
        q.copy(selects = Seq(Select(Agg.CountDistinct, "value")), skewSalt = Some(16)))
    }
    assert(e.getMessage.contains("decomposable"))
  }

  test("expression measures plan identically to plain columns: one exchange, map-side partials, codegen") {
    val df = SparkEntry.queries("p28_sql_expr_measures")(spark, dir)
    df.collect() // finalize AQE so codegen spans render
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the computed measure partial-aggregates MAP-SIDE, inline in the
    // partial HashAggregate — the plan property that makes an expression
    // measure cost exactly what the plain column costs at 100 TB
    assert(p.contains("partial_sum((1.0 * coalesce((l_extendedprice"),
      s"computed measure must partial-aggregate map-side:\n$p")
    // exactly one aggregation exchange (the second Exchange is the
    // ORDER BY's range partitioning, not an extra aggregation pass)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected the single aggregation exchange, got $exchanges:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
    // codegen'd operators print with the `*(n)` whole-stage marker; the
    // partial aggregate carrying the expression must be inside a span
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"),
      s"expression fell out of codegen:\n$p")
    // the filter on the measured column still reaches the scan
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_quantity,5.0)"),
      s"where on the measure's table must push down:\n$p")
  }

  test("date literals push into the parquet scans under the join (p31)") {
    val df = SparkEntry.queries("p31_sql_q3_catalog")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the WHERE is written over the JOINED frame, but each temporal bound
    // must land in ITS OWN table's scan — typed-literal comparison keeps
    // them pushable (NTZ prints wall clock, TIMESTAMP prints the instant)
    assert(p.contains("LessThan(o_orderdate,1998-01-01"),
      s"orders date bound must push into the orders scan:\n$p")
    assert(p.contains("GreaterThan(l_shipdate,1998-01-01"),
      s"lineitem date bound must push into the lineitem scan:\n$p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"dim predicate must push into the customer scan:\n$p")
  }

  test("qualify rn <= k rewrites to WindowGroupLimit; WHERE still pushes (p68)") {
    val p = plan("p68_sql_window_qualify")
    // Spark's InferWindowGroupLimit turns the post-window rank filter into
    // the per-partition top-k forward — each input partition sends ≤ k
    // rows per group to the one window exchange (the limit-per plan)
    assert(p.contains("WindowGroupLimit"),
      s"qualify rank filter must become WindowGroupLimit:\n$p")
    assert(p.contains("GreaterThan(n_chars,100)"),
      s"the WHERE gate must still push into the parquet scan:\n$p")
  }

  test("lag+lead sharing one window spec collapse into ONE Window, one exchange (p69)") {
    val df = SparkEntry.queries("p69_sql_lag_lead")(spark, dir)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.split("\\bWindow\\b").length - 1 == 1,
      s"two same-spec window items must share one Window operator:\n$p")
    val exchanges = p.split("\n").count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly one hash exchange (user_id), got $exchanges:\n$p")
  }

  test("semi/anti joins push both gates into their scans; key set broadcasts (p72/p73)") {
    val p72 = plan("p72_sql_semi_join")
    assert(p72.contains("LeftSemi"), s"semi join type missing:\n$p72")
    assert(p72.contains("LessThan(n_chars,150)") &&
      p72.contains("GreaterThan(n_chars,450)"),
      s"both sides' gates must push into their parquet scans:\n$p72")
    val p73 = plan("p73_sql_anti_join")
    assert(p73.contains("LeftAnti"), s"anti join type missing:\n$p73")
    assert(p73.contains("GreaterThan(o_totalprice,300000"),
      s"the key-set gate must push into the orders scan:\n$p73")
    assert(p73.contains("BroadcastHashJoin") || p73.contains("broadcast"),
      s"a gated key set this small should broadcast:\n$p73")
  }

  test("window aggregates sharing a partition list share ONE exchange (p74)") {
    val df = SparkEntry.queries("p74_sql_window_agg")(spark, dir)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // running (ordered frame) + total (whole partition) are different
    // Window operators, but both partition on o_custkey — one shuffle
    val exchanges = p.split("\n").count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly one hash exchange (o_custkey), got $exchanges:\n$p")
    assert(p.contains("LessThan(o_custkey,50)"),
      s"the WHERE gate must push into the parquet scan:\n$p")
  }

  test("bucket-then-aggregate collapses the derived table into one pass (p78)") {
    val df = SparkEntry.queries("p78_sql_bucket_agg")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the CASE label becomes a direct grouping expression; the derived
    // table's unused doc_id is pruned THROUGH the projection
    assert(p.contains("ReadSchema: struct<n_chars:bigint>"),
      s"the scan must read n_chars alone (doc_id pruned through the derived table):\n$p")
    val exchanges = p.split("== Initial Plan ==").head.split("\n")
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"one aggregation exchange expected, got $exchanges:\n$p")
  }

  test("expression projections prune the scan to referenced columns; WHERE pushes (p71)") {
    val df = SparkEntry.queries("p71_sql_expr_project")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // column pruning sees THROUGH the arithmetic: only the five referenced
    // storage columns reach the parquet reader
    assert(!p.contains("l_shipdate") && !p.contains("l_returnflag"),
      s"unreferenced columns reached the scan:\n$p")
    assert(p.contains("GreaterThan(l_quantity,45.0)"),
      s"the WHERE gate must push into the parquet scan:\n$p")
    // top-k over the computed column is a TakeOrderedAndProject, not a
    // global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"order+limit must compile to per-partition top-k:\n$p")
  }

  test("per-group exact sample compiles to WindowGroupLimit; gate pushes (p88)") {
    val df = SparkEntry.queries("p88_sql_sample_per")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the rn <= n filter becomes the per-partition top-k forward — each
    // input partition sends ≤ n rows per source to the one exchange, so
    // the stratified cut needs no driver bound (unlike the global form)
    assert(p.contains("WindowGroupLimit"),
      s"per-group cut must compile to WindowGroupLimit:\n$p")
    assert(p.contains("GreaterThan(n_chars,100)"),
      s"the WHERE gate must push into the parquet scan:\n$p")
  }

  test("explode word count: gate pushes, scan reads text alone, one exchange (p86)") {
    val df = SparkEntry.queries("p86_sql_explode")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"),
      s"the generator must be a native Generate (codegen'd explode):\n$p")
    assert(p.contains("EqualTo(lang,en)"),
      s"the WHERE gate must push into the parquet scan:\n$p")
    // pruning sees through the derived table: only text and the gated
    // lang column reach the reader — doc_id and friends never load
    assert(!p.contains("doc_id") && !p.contains("n_chars:"),
      s"unreferenced columns reached the scan:\n$p")
    val exchanges = p.split("== Initial Plan ==").head.split("\n")
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"one aggregation exchange expected (the explode is narrow), got $exchanges:\n$p")
  }

  test("moving frame rides the same single window exchange (p87)") {
    val df = SparkEntry.queries("p87_sql_moving_avg")(spark, dir)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("RowFrame, -6, currentrow"),
      s"the moving ROWS frame must appear in the Window spec:\n$p")
    val exchanges = p.split("\n").count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly one hash exchange (user_id), got $exchanges:\n$p")
  }
  test("offset pagination folds into ONE TakeOrdered boundary (p105, round 14)") {
    val p = plan("p105_sql_offset")
    // offset+limit ride the same per-partition top-(m+n) operator — the
    // page costs what the first 65 rows cost; a global range sort here
    // would be the 100 TB regression
    assert(p.contains("TakeOrderedAndProject(limit=65, offset=40"),
      s"offset must fold into TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"pagination must not global-sort:\n$p")
    assert(p.contains("GreaterThanOrEqual(n_chars,200)"),
      s"the WHERE gate must push into the parquet scan:\n$p")
  }

  test("max_by/min_by: one struct-ordered aggregate — no window, no join (p102, round 14)") {
    val p = plan("p102_sql_max_by")
    val fin = p.split("== Initial Plan ==").head
    assert(!fin.contains("Window") && !fin.contains("Join"),
      s"argmax aggregates must not plan a window or join:\n$fin")
    // struct max/min is sort-aggregated (structs don't hash-aggregate) —
    // still ONE exchange with map-side partials
    assert(fin.contains("partial_max(CASE WHEN isnotnull"),
      s"map-side partials expected for the struct max:\n$fin")
    val exchanges = fin.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"one aggregation exchange expected, got $exchanges:\n$fin")
  }

  test("date_trunc derived-table rollup collapses to one scan+aggregate pass (p107, round 14)") {
    val p = plan("p107_sql_date_trunc")
    val fin = p.split("== Initial Plan ==").head
    // the truncation computes BELOW the partial aggregate (one pass) and
    // the derived table's gate reaches the parquet reader
    assert(fin.contains("date_trunc(month"),
      s"truncation must compute under the aggregate:\n$fin")
    assert(fin.contains("LessThan(o_orderkey,3000)"),
      s"the inner WHERE must push into the parquet scan:\n$fin")
    val exchanges = fin.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"one aggregation exchange expected, got $exchanges:\n$fin")
    assert(!fin.contains("o_custkey"),
      s"unreferenced columns reached the scan:\n$fin")
  }

  test("CTE multi-reference: shuffles compute once (ReusedExchange), pure scans keep per-reference pushdown (round 14)") {
    import spark.implicits._
    val docs = (1 to 2000).map(i => (i.toLong, s"t$i",
      if (i % 3 == 0) "en" else "de", s"src${i % 5}", (i % 400).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Contract (grammar doc, ZxSql WITH scaladoc): a CTE referenced N
    // times repeats its LOGICAL subtree — nothing is eagerly cached —
    // and Spark's physical planner dedupes the identical exchange
    // subtrees, so everything at or below a shuffle inside the body
    // (scan, partial agg, the exchange itself) is computed ONCE. An
    // eager cache/localCheckpoint would pin this at the cost of
    // destroying per-reference filter pushdown and materializing the
    // full body — the wrong trade at 100 TB.
    val agg = graft.sql.ZxSql.runCatalog(Map("documents" -> docs),
      "with totals as (select sum(n_chars) as total from documents group by lang) " +
        "select total from totals where total >= 0 " +
        "union all select total from totals where total >= 1")
    agg.collect() // AQE finalizes stage reuse at execution
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(aggPlan.contains("ReusedExchange"),
      s"twice-referenced aggregating CTE did not reuse its shuffle:\n$aggPlan")
    // a PURE-SCAN CTE re-plans per reference — and each reference keeps
    // its OWN pushed-down gate (the reason recompute beats caching)
    val dir = java.nio.file.Files.createTempDirectory("graft-cte-scan").toString
    docs.write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    val scan = graft.sql.ZxSql.runCatalog(Map("documents" -> pq),
      "with base as (select doc_id, lang, n_chars from documents) " +
        "select doc_id, lang, n_chars from base where lang = 'en' " +
        "union all select doc_id, lang, n_chars from base where n_chars >= 350")
    scan.collect()
    val scanPlan = scan.queryExecution.executedPlan.toString
    assert(scanPlan.contains("EqualTo(lang,en)") &&
      scanPlan.contains("GreaterThanOrEqual(n_chars,350)"),
      s"per-reference gates not pushed into the parquet scans:\n$scanPlan")
    assert(!scanPlan.contains("text"),
      s"CTE projection did not prune the scan:\n$scanPlan")
  }

  test("pivot desugar: a 5-column pivot is ONE hash aggregate — single exchange, no second pass (round 14)") {
    val p = plan("p123_sql_pivot")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"pivot should cost one aggregation exchange, found $exchanges:\n$p")
    assert(!p.toLowerCase.contains("pivotfirst"),
      s"pivot compiled through a pivot physical operator instead of the " +
        s"conditional-aggregation desugar:\n$p")
    // filtered aggregates in one list likewise share one aggregation;
    // the second exchange is Spark's exact-distinct expansion (the
    // count(distinct …) partial on (group, key)) — intrinsic to exact
    // distinct counting, not the filter desugar (the pivot row above,
    // distinct-free, holds the single-exchange bound)
    val f = plan("p119_sql_filter_agg")
    val fex = "Exchange hashpartitioning".r.findAllIn(f).length
    assert(fex == 2,
      s"five differently-filtered aggregates should cost one aggregation " +
        s"+ one distinct expansion, found $fex:\n$f")
  }

}
