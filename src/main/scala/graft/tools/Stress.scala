package graft.tools

import org.apache.spark.sql.functions._

/** Scale-stress harness: re-runs the dedup family on a dup-concentrated
  * 10× corpus (every document gains 10 exact copies under fresh ids — the
  * adversarial case for LSH bucket sizes and for connected-components edge
  * counts). Prints one `[stress]` line per case; SURVEY §9 records the
  * round's numbers. Run AFTER any bench (never concurrently — CPU
  * contention garbles both). */
object Stress {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus)
    val docs = graft.sources.Tables.documents(spark, dir)
    def rep(k: Int) = (0 until k)
      .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L)))
      .reduce(_ union _)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[stress] $name rows=$rows time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time("d2b_pairs_1x") {
      graft.operators.Dedup.minhashPairs(docs, 0.5).count()
    }
    time("d2b_pairs_10x") {
      graft.operators.Dedup.minhashPairs(rep(10), 0.5).count()
    }
    time("d6_clusters_1x") {
      graft.operators.Dedup.dupClusters(
        graft.operators.Dedup.minhashPairs(docs, 0.5)).count()
    }
    time("d6_clusters_10x") {
      graft.operators.Dedup.dupClusters(
        graft.operators.Dedup.minhashPairs(rep(10), 0.5)).count()
    }
    // the distributed label-propagation loop on the same 10× graph — the
    // above routes to driver union-find (edge count ≪ threshold); this pins
    // the >threshold path's behavior at the same scale
    time("d6_clusters_10x_distributed") {
      graft.operators.Dedup.dupClusters(
        graft.operators.Dedup.minhashPairs(rep(10), 0.5),
        maxDriverEdges = 0L).count()
    }
    // the arbitrary-id (surrogate dictionary) path on the same 10× graph:
    // global sort + zipWithIndex over paired ids + two dictionary joins on
    // top of d6 — the overhead band to watch is ~1.2-1.5× plain d6
    time("d6b_clusters_str_10x") {
      val p = graft.operators.Dedup.minhashPairs(rep(10), 0.5)
        .select(format_string("doc_%012d", col("id_a")).as("id_a"),
          format_string("doc_%012d", col("id_b")).as("id_b"))
      graft.operators.Dedup.dupClusters(p).count()
    }
    // value-space-bounded simhash pairs: candidates over ≤2^16 distinct
    // hashes; the 10× dup corpus multiplies same-hash groups ×10 (output-
    // bound growth), not the candidate quadratic
    time("d3_simhash_10x") {
      graft.operators.Dedup.simhashPairs(rep(10), maxHamming = 1).count()
    }
    // r15: the span-miner recovery probe at topK=1024 — every window
    // position of the 10× corpus probes the survivor set. A/B of the two
    // probe forms over identical survivors: the sorted-array binary
    // search (InSortedLongSet, O(log K)/position) vs the r14
    // array_contains literal scan (O(K)/position). Same outputs by
    // construction (equality spec-pinned); this measures the probe tax.
    locally {
      import graft.expressions.RollingHashNgrams.rolling_hash_ngrams
      val docs10 = rep(10)
      val n = 5
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val surv = docs10
        .select(explode(rolling_hash_ngrams(toks, n)).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("h").asc).limit(1024)
        .collect().map(_.getLong(0)).toSeq
      val d = docs10.select(toks.as("__tk"))
        .select(col("__tk"), rolling_hash_ngrams(col("__tk"), n).as("__hs"))
      val idx = when(size(col("__hs")) > 0, sequence(lit(1), size(col("__hs"))))
        .otherwise(array().cast("array<int>"))
      def positions(probe: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        d.select(explode(filter(idx,
          i => probe(element_at(col("__hs"), i)))).as("i"))
      time("x15b_probe1024_binsearch_10x") {
        positions(h => graft.expressions.InSortedLongSet
          .in_sorted_long_set(h, surv)).count()
      }
      time("x15b_probe1024_arraycontains_10x") {
        positions(h => array_contains(typedLit(surv), h)).count()
      }
    }
    // IVF-PQ at 10× embeddings (fresh ids; seeds stay ids 0..15): train +
    // encode + partitioned index write, then the probe alone — the probe
    // should stay milliseconds-flat (it reads nProbe/nlist partitions and
    // ADC is per-row constant work), while build scales linearly
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val emb10 = (0 until 10)
      .map(i => emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
      .reduce(_ union _)
    val pqPath = graft.Scratch.fresh(spark, "stress-ivfpq", dir)
    var cents: Seq[(Int, Seq[Double])] = null
    var books: Seq[Seq[(Int, Seq[Double])]] = null
    time("s9_ivfpq_build_10x") {
      cents = graft.operators.Similarity.ivfTrain(emb10, nlist = 16, iters = 2)
      books = graft.operators.Similarity.ivfPqTrain(emb10, cents, m = 16, ksub = 16)
      graft.operators.Similarity.ivfPqWriteIndex(emb10, cents, books, pqPath)
      spark.read.parquet(pqPath).count()
    }
    time("s9_ivfpq_probe_10x") {
      val q = emb.filter(col("vec_id") === 0L)
        .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
        .head().getSeq[Double](0).toIndexedSeq
      graft.operators.Similarity.ivfPqProbe(spark, pqPath, cents, books, q, k = 10).count()
    }
    // compaction at 10× events fragmented 8 ways: the driver metadata pass
    // + one rewrite job for all partitions; watch for linear scaling in
    // bytes, flat in partition count
    val evPath = graft.Scratch.fresh(spark, "stress-compact", dir)
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val ev10 = (0 until 10)
      .map(i => ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
      .reduce(_ union _)
    time("c3_compact_10x") {
      graft.sources.EventStore.createTable(ev10.repartition(8), evPath)
      val stats = graft.sources.EventStore.compactInPlace(spark, evPath)
      require(stats.nonEmpty && stats.forall(p => p.filesAfter < p.filesBefore))
      graft.sources.EventStore.readPinned(spark, evPath).count()
    }
    // -------- windowed-family skew: ONE group holding all 10^6 events
    // (every event of the 10× corpus remapped to a single event_type) vs
    // the same volume spread over the natural types. Tumbling keys on
    // (group, w_start), so the hot group still splits across windows and
    // the shuffle stays balanced; session windows and the exact gap walk
    // partition by the group alone — the hot group's whole timeline lands
    // in ONE task and its walk is sequential, the straggler this measures.
    // (AQE skew handling splits JOIN partitions, not aggregation groups —
    // the mitigations are structural: two-level merge for sessions,
    // per-group time-slicing for the gap walk; SURVEY §9 records numbers.)
    import graft.ir._
    val evw = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val evw10 = (0 until 10)
      .map(i => evw.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
      .reduce(_ union _)
    val evwHot = evw10.withColumn("event_type", lit("hot"))
    val qW = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"), granularitySec = 3600L)
    time("a8_tumbling_spread_10x") {
      graft.compile.Compiler.runUnsorted(evw10, qW).count()
    }
    time("a8_tumbling_hot_10x") {
      graft.compile.Compiler.runUnsorted(evwHot, qW).count()
    }
    time("a8_gap_spread_10x") {
      graft.operators.GapWindows(evw10, qW, idCol = Some("event_id")).count()
    }
    time("a8_gap_hot_10x") {
      graft.operators.GapWindows(evwHot, qW, idCol = Some("event_id")).count()
    }
    // the run-decomposed parallel walk on the SAME hot group: the lag/
    // cumsum prepass stays per-key sequential (O(1)/row streaming scan),
    // but the window walk fans out across gap runs
    time("a8_gap_hot_10x_parallel") {
      graft.operators.GapWindows.parallel(evwHot, qW, idCol = Some("event_id")).count()
    }
    val sessionSql = "select sum(value), count(value) from events " +
      "group by event_type session 300"
    time("a9_session_spread_10x") {
      graft.sql.ZxSql.run(evw10, sessionSql).count()
    }
    time("a9_session_hot_10x") {
      graft.sql.ZxSql.run(evwHot, sessionSql).count()
    }
    // the BALANCED baseline groups by user_id (1500 groups at sf0.1 — real
    // parallelism) vs the one-group walk at the same 10^7-row volume: the
    // per-group-sequential bound only shows once one group's rows dwarf a
    // task's comfortable sort size, so this pair is the straggler exhibit.
    // PERSISTED so the timings measure the aggregation, not the 100-way
    // union re-scan (which confounded the first measurement of this case).
    val evw100 = (0 until 100)
      .map(i => evw.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
      .reduce(_ union _).persist()
    val evwHot100 = evw100.withColumn("event_type", lit("hot")).persist()
    evw100.count(); evwHot100.count()
    val qUser = qW.copy(groupBy = Seq("user_id"))
    time("a8_gap_user_100x") {
      graft.operators.GapWindows(evw100, qUser, idCol = Some("event_id")).count()
    }
    time("a8_gap_hot_100x") {
      graft.operators.GapWindows(evwHot100, qW, idCol = Some("event_id")).count()
    }
    // run-decomposed walk A/B at 10^7 rows in ONE group. Two regimes:
    // with cheap streaming aggregates (sum/count/mean) the serial walk is
    // already O(1)/row, so the parallel plan's extra exchange + per-key
    // lag/cumsum prepass costs about what the fan-out saves — use the
    // serial walk there. With HEAVY per-window work (p50 sorts its window
    // buffer, count_distinct builds a set) the walk dominates and fanning
    // it out across gap runs is the win the `salt ... exact` SQL face
    // buys. SURVEY §9 records both numbers.
    time("a8_gap_hot_100x_parallel") {
      graft.operators.GapWindows.parallel(evwHot100, qW, idCol = Some("event_id")).count()
    }
    val qWHeavy = ZxQuery(
      selects = Seq(Select(Agg.P50, "value"), Select(Agg.CountDistinct, "user_id")),
      groupBy = Seq("event_type"), granularitySec = 3600L)
    time("a8_gap_hot_heavy_100x") {
      graft.operators.GapWindows(evwHot100, qWHeavy, idCol = Some("event_id")).count()
    }
    time("a8_gap_hot_heavy_100x_parallel") {
      graft.operators.GapWindows.parallel(evwHot100, qWHeavy, idCol = Some("event_id")).count()
    }
    // BURSTY hot group: the same 10^7 rows remapped into 1200 activity
    // bursts separated by > granularity — the realistic per-entity shape
    // (sessions of activity, idle between) and the one the run
    // decomposition exists for. The dense-uniform timeline above is the
    // honest worst case: zero gaps ⇒ ONE run ⇒ the parallel plan is pure
    // overhead; here every burst is an independent run and the window
    // work (p50 sorts, distinct sets) fans out across them.
    val evwBursty = evwHot100.withColumn("ts",
      (pmod(col("event_id"), lit(1200L)) * lit(7200L) +
        pmod(col("ts").cast("long"), lit(3600L)) + lit(1704067200L))).persist()
    evwBursty.count()
    time("a8_gap_bursty_heavy_100x") {
      graft.operators.GapWindows(evwBursty, qWHeavy, idCol = Some("event_id")).count()
    }
    time("a8_gap_bursty_heavy_100x_parallel") {
      graft.operators.GapWindows.parallel(evwBursty, qWHeavy, idCol = Some("event_id")).count()
    }
    evwBursty.unpersist()
    // session mitigation A/B at the same 10^7-row one-group volume: the
    // plain plan sessionizes the whole group in one reducer; the two-level
    // plan (skewSalt routes runSession → runSessionTwoLevel) spreads level
    // 1 over 32 salts and merges partial-session intervals — the win
    // scales with avg events/partial-session
    val qS = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"), sessionGapSec = Some(300L))
    time("a9_session_hot_plain_100x") {
      graft.compile.Compiler.runSession(evwHot100, qS).count()
    }
    time("a9_session_hot_2level_100x") {
      graft.compile.Compiler.runSession(evwHot100, qS.copy(skewSalt = Some(32))).count()
    }
    evw100.unpersist(); evwHot100.unpersist()
    // -------- z-order layout at 10× (10^6 rows): the admitted-rows
    // fraction for a selective (1/8-space) user filter, ingest-ordered vs
    // z-ordered, and the filtered-scan wall time over each layout. The
    // fraction is the scale-invariant signal (it IS the scan cost at
    // 100 TB, where row groups are 128 MB instead of KBs); local NVMe
    // makes the wall-time delta a floor, not the headline.
    val zPath = graft.Scratch.fresh(spark, "stress-zorder", dir)
    time("c6_zorder_ingest_write_10x") {
      graft.sources.EventStore.createTable(
        ev10.repartitionByRange(64, col("ts")).sortWithinPartitions("ts"), zPath)
      graft.sources.EventStore.readPinned(spark, zPath).count()
    }
    val uRow = ev.agg(min("user_id"), max("user_id")).head()
    val (uMin, uHi) = (uRow.getLong(0),
      uRow.getLong(0) + math.max(1L, (uRow.getLong(1) - uRow.getLong(0)) / 8))
    def zAudit(tag: String): Unit = {
      val st = graft.sources.ZOrder.rowGroupStats(spark,
        graft.sources.EventStore.manifestFiles(spark, zPath), "user_id", uMin, uHi)
      println(f"[stress] c6_audit_$tag admitted=${st.admittedRowGroups}/${st.totalRowGroups} " +
        f"rows=${st.admittedRows}/${st.totalRows} (${100.0 * st.admittedRows / st.totalRows}%.1f%%)")
    }
    def zScan(tag: String): Unit = time(s"c6_scan_${tag}_10x") {
      graft.sources.EventStore.readPinned(spark, zPath)
        .filter(col("user_id").between(uMin, uHi))
        .agg(sum(col("value"))).collect(); 1L
    }
    zAudit("linear"); zScan("linear")
    time("c6_cluster_10x") {
      val st = graft.sources.EventStore.clusterInPlace(spark, zPath, "user_id", "ts",
        targetBytes = math.max(1L,
          graft.sources.EventStore.manifestFiles(spark, zPath).map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
          }.sum / 64))
      st.filesAfter.toLong
    }
    zAudit("zorder"); zScan("zorder")

    // ---- sequence family at 10×: span mining's explode volume scales
    // with corpus size; journeys/decay with a HOT entity test the
    // per-(entity, day) stages the same way the gap-walk stress does.
    time("x15_spans_10x") {
      graft.operators.Corpus.repeatedSpans(rep(10), n = 5, topK = 40).count()
    }
    // string vs hash span key at 10×: the x15b claim is SHUFFLE BYTES, so
    // measure them — a listener sums shuffle writes across the job's
    // stages (async bus: allow a drain margin before reading)
    def withShuffleBytes(name: String)(f: => Long): Unit = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val rows = try f finally ()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[stress] $name rows=$rows time=$dt%.2f s " +
        f"shuffle_bytes=${acc.get()} (${acc.get() / 1048576.0}%.1f MiB)")
    }
    withShuffleBytes("x15_spans_10x_stringkey") {
      graft.operators.Corpus.repeatedSpans(rep(10), n = 5, topK = 40).count()
    }
    withShuffleBytes("x15b_spans_10x_hashkey") {
      graft.operators.Corpus.repeatedSpansHashed(rep(10), n = 5, topK = 40).count()
    }
    val ev1 = graft.sources.Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
    val evSeq10 = (0 until 10).map(i =>
      ev1.withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L)))
      .reduce(_ union _)
    val evHot = evSeq10.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) < 9, lit(7L)).otherwise(col("user_id")))
    time("a12_journeys_10x") {
      graft.operators.Funnel.topJourneys(evSeq10).count()
    }
    // hot entity: 90% of events in ONE user — rank caps at maxSteps per
    // day, so the hot group's collect stays bounded and the skew lands on
    // the rank window, not the path build
    time("a12_journeys_10x_hot") {
      graft.operators.Funnel.topJourneys(evHot).count()
    }
    time("a14_decay_10x") {
      graft.operators.Funnel.decayedValues(evSeq10).count()
    }
    // decay's last-64 truncation is the hot-entity guard: the fold only
    // ever sees 64 values per (entity, day) no matter how hot
    time("a14_decay_10x_hot") {
      graft.operators.Funnel.decayedValues(evHot).count()
    }
    // attribution at 10×, then with 90% of events on ONE user: the
    // running window is O(1)/row so the hot partition costs linear time,
    // not blowup — the band to watch is ≤2× the uniform 10× run
    time("a18_attribution_10x") {
      graft.operators.Funnel.lastTouchAttribution(evSeq10, "purchase", 3600L).count()
    }
    time("a18_attribution_10x_hot") {
      graft.operators.Funnel.lastTouchAttribution(evHot, "purchase", 3600L).count()
    }
    // markov at 10×: the distributed transition count grows linearly, the
    // driver matrix stays |types|² regardless of corpus size
    time("a20_markov_10x") {
      graft.operators.Funnel.stationaryDistribution(evSeq10).count()
    }
    // distributed markov on a WIDE state space (event_type × user_id mod
    // 1000, ~5000 states → up to 25M potential transitions): the driver
    // path refuses at any sane maxStates; the distributed path's cost is
    // the transition-row joins, never a K² driver matrix. Band to watch:
    // within ~3-6× of a20_markov_10x despite ~1000× the states (sf0.1
    // observed: 6.1 s vs 1.2 s = 5.2× — iteration scheduling, not data)
    time("a20b_markov_wide_10x") {
      graft.operators.Funnel.stationaryDistributionDistributed(
        evSeq10.withColumn("__step", concat(col("event_type"), lit("#"),
          pmod(col("user_id"), lit(1000)).cast("string"))),
        iters = 20, stepCol = "__step").count()
    }
    // tfidf df-cap pigeonhole: a FIXED absolute cap prunes ever-harder on
    // a denser corpus (at this SF it already prunes everything — the
    // vacuity that moved the shipped rows to the FRACTIONAL cap), while
    // maxDfPct keeps the same corpus-relative candidate envelope at any
    // scale. The per-term fan-out stays ≤ cap² either way; no uncapped
    // run exists to measure because the operator refuses to build one.
    time("x18_tfidf_1x_pct20") {
      graft.operators.Corpus.similarDocPairs(docs, topK = 50,
        maxDfPct = Some(20)).count()
    }
    time("x18_tfidf_10x_cap100") {
      graft.operators.Corpus.similarDocPairs(rep(10), topK = 50, maxDf = 100L).count()
    }
    time("x18_tfidf_10x_pct20") {
      graft.operators.Corpus.similarDocPairs(rep(10), topK = 50,
        maxDfPct = Some(20)).count()
    }
    // curriculum at 10×: two slim scans + bounded-histogram window +
    // bucket-partitioned rank windows — the cost that scales is the
    // partitioned window, never a corpus-wide sort
    time("x22_curriculum_10x") {
      graft.operators.Corpus.curriculumShards(rep(10),
        col("n_chars").cast("double") / 2000.0, nShards = 64).count()
    }
    // the adversarial case: EVERY document shares one score — one bucket
    // holds the whole corpus, so the per-bucket rank window runs in a
    // single task (this is exactly what the maxBucket audit exists to
    // refuse at real scale; at 50k rows it passes and shows the cost)
    time("x22_curriculum_10x_hot") {
      graft.operators.Corpus.curriculumShards(rep(10), lit(0.5),
        nShards = 64).count()
    }
    // LM scoring at 10×, fold (literal-map probe) vs broadcast-join —
    // the two formulations' cost crossover is the thing to watch as the
    // model table grows
    locally {
      val en = docs.filter(col("lang") === "en")
      val uni = graft.operators.Corpus.topUnigrams(en, 300)
      val big = graft.operators.Corpus.topBigrams(en, 500)
      time("x21_lmscore_fold_10x") {
        graft.operators.Corpus.lmScore(rep(10), uni, big)
          .filter(col("lm_sum_fp") > 0).count()
      }
      time("x21b_lmscore_joined_10x") {
        graft.operators.Corpus.lmScoreJoined(rep(10), uni, big)
          .filter(col("lm_sum_fp") > 0).count()
      }
    }
    // pivot width at 10×: a K-column pivot is K gated aggregates in ONE
    // hash aggregate, so widening K must grow cost sublinearly (more
    // codegen'd update terms per row, never more passes/shuffles) — the
    // number to watch is pivot_w12 / pivot_w3 staying far under 4×
    locally {
      val ev = graft.sources.Tables.events(spark, dir)
      val ev10 = (0 until 10)
        .map(i => ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
        .reduce(_ union _)
      def pivotSql(k: Int): String = {
        val vals = Seq("click", "view", "purchase", "error", "signup")
        val branches = (0 until k).map { i =>
          val v = vals(i % vals.length)
          s"pivot sum(value) filter (where user_id % ${i + 2} = 0) " +
            s"by event_type in ('$v' as c$i)"
        }
        s"select ${branches.mkString(", ")}, count(*) as n " +
          "group by user_id order by user_id"
      }
      time("pivot_w3_10x") {
        graft.sql.ZxSql.run(ev10, pivotSql(3)).count()
      }
      time("pivot_w12_10x") {
        graft.sql.ZxSql.run(ev10, pivotSql(12)).count()
      }
    }
    spark.stop()
  }
}
