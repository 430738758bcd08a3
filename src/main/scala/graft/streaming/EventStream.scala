package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ir._
import graft.compile.{Aggregates, Compiler}

/** Structured Streaming face of the engine.
  *
  * The reference's ingest is a synchronous per-row insert (`ZX.I`,
  * lib.rs:263-303) and its "streaming" is only the windowed output shape of
  * A8. Spark-natively both become one thing: a streaming DataFrame flowing
  * through the SAME query compiler as batch — `readStream` on the event
  * directory, the [[Compiler]]'s filters/groups/window aggregates, watermarks
  * for bounded state, and any sink. Batch/stream parity falls out of sharing
  * the Column-building code instead of maintaining two operator sets.
  */
object EventStream {

  /** Driver-testdata events schema (streams need an explicit schema). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Open a streaming scan over a directory of event parquet/json files. */
  def read(spark: SparkSession, path: String, format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventsSchema).format(format).load(path)

  /** Shared pre-aggregation filter — exactly the batch compiler's
    * [[Compiler.scanFilter]]: time bounds (`tStart`/`tEnd` as event-time
    * bounds — on an unbounded source they select the events whose
    * timestamps fall in the range, a plain stateless filter), the flat
    * conjunct list AND the boolean `where` tree. Sharing the one
    * filter-building function is what makes batch == stream true by
    * construction — a query carrying a `where` tree or time bounds must
    * not silently lose them on the streaming path.
    *
    * Callers apply `withWatermark` BEFORE this filter. Catalyst then
    * splits the conjuncts around the watermark node: predicates that
    * reference the watermarked `ts` column (the tStart/tEnd bounds)
    * cannot push through it and stay above, so events past `tEnd` still
    * advance the stream clock and a tEnd-bounded query closes its final
    * windows; all other predicates push below, i.e. the clock advances on
    * exactly the events that satisfy the query's non-time filters —
    * Spark's standard semantics. (Exception: [[sessionAgg]] watermarks a
    * derived seconds column, so there the ts bounds sit below the
    * watermark too — see its scaladoc.) */
  private[streaming] def preFilter(stream: DataFrame, q: ZxQuery,
                                   tsCol: String = Compiler.DefaultTsCol): DataFrame =
    Compiler.scanFilter(stream, q, tsCol)

  /** HAVING aggregates that must be computed for the post-agg filter but
    * are not part of the declared output (same mechanism as the batch
    * compilers' extraSels — incl. the Raw/Heatmap exclusion: those are not
    * scalar aggregates a HAVING can compare against). */
  private def havingExtras(q: ZxQuery): Seq[Select] =
    (Compiler.havingSelects(q) ++ Compiler.postComponents(q))
      .filterNot(s => q.selects.contains(s) || s.agg == Agg.Raw || s.agg == Agg.Heatmap)
      .distinct

  /** Exact distinct needs the full value set in state — unsupported on
    * streams. Checked over the FULL computed aggregate list (declared
    * selects plus HAVING- and post-select-injected extras), so
    * `having count_distinct(x) > 2` and `count_distinct(x) / count(*)`
    * fail with this message too, not a raw Spark planner error. */
  private def requireStreamable(q: ZxQuery): Unit =
    require(!(q.selects ++ havingExtras(q)).exists(_.agg == Agg.CountDistinct),
      "exact count_distinct is unsupported on streams; use approx_count_distinct")

  /** Streaming version of the windowed pipeline (A8): same predicate and
    * aggregate compilers as batch, tumbling `window()` on event time, a
    * watermark bounding state for late data. One shuffle on (keys, window) —
    * partial aggregation happens map-side per micro-batch. HAVING is a
    * plain post-aggregation filter (streaming-safe: it runs on each
    * micro-batch's updated groups), with filter-only aggregates computed
    * and then pruned, exactly like batch. */
  def windowedAgg(stream: DataFrame, q: ZxQuery, watermark: String = "10 minutes",
                  tsCol: String = Compiler.DefaultTsCol): DataFrame = {
    requireStreamable(q)
    val schema = stream.schema
    val filtered = preFilter(stream.withWatermark(tsCol, watermark), q, tsCol)
    val keys = Compiler.groupKeys(q, schema) :+
      window(col(tsCol), s"${q.granularitySec} seconds").as("window")
    val aggs = Aggregates.compileAll(q.selects ++ havingExtras(q), schema)
    val grouped = Compiler.withPostSelects(
      filtered.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), q)
    Compiler.havingFilter(grouped, q.having, q.havingTree)
      .select((q.groupBy.map(graft.compile.Compiler.colRef) :+
        col("window.start").cast(LongType).as("w_start") :+
        col("window.end").cast(LongType).as("w_end")) ++
        q.selects.map(s => graft.compile.Compiler.colRef(s.key)) ++
        q.postSelects.map(p => graft.compile.Compiler.colRef(p.alias)): _*)
  }

  /** Streaming heatmap (A7) with CALLER-SUPPLIED value bounds: the batch
    * heatmap's bounds adapt to the full value range — unknowable on an
    * unbounded stream, which is why `ZxSql.runStream` rejects `heatmap(x)`.
    * With explicit [lo, hi) the 2-D histogram is an ordinary windowed
    * aggregation: tumbling event-time window × clamped value bucket, one
    * shuffle, watermark-bounded state. Same output shape as
    * [[graft.compile.Compiler.heatmap]] (t_bucket = the window start),
    * spec-pinned equal on the same data. */
  def heatmapAgg(stream: DataFrame, q: ZxQuery, valueCol: String,
                 lo: Double, hi: Double, buckets: Int,
                 watermark: String = "10 minutes",
                 tsCol: String = Compiler.DefaultTsCol): DataFrame = {
    require(hi > lo && buckets > 0,
      s"heatmapAgg: need hi > lo and buckets > 0, got [$lo, $hi) x $buckets")
    val schema = stream.schema
    val filtered = preFilter(stream.withWatermark(tsCol, watermark), q, tsCol)
    val v = Aggregates.numeric(valueCol, schema)
    val w = Aggregates.weight(schema)
    val width = (hi - lo) / buckets
    val vBucket = least(greatest(floor((v - lo) / width), lit(0.0)),
      lit((buckets - 1).toDouble)).cast(LongType).as("v_bucket")
    filtered
      .filter(v.isNotNull)
      .groupBy(window(col(tsCol), s"${q.granularitySec} seconds").as("__w"), vBucket)
      .agg(sum(w).as("weight"), count(lit(1)).as("n"))
      .select(col("__w.start").cast(LongType).as("t_bucket"),
        col("v_bucket"), col("weight"), col("n"))
  }

  /** Streaming HOPPING windows: like [[windowedAgg]] but each event lands
    * in every (granularity-length, slide-spaced) window covering it — the
    * streaming face of [[Compiler.runHopping]], same epoch-aligned
    * whole-second window starts, so batch == stream per window. */
  def hoppingAgg(stream: DataFrame, q: ZxQuery, watermark: String = "10 minutes",
                 tsCol: String = Compiler.DefaultTsCol,
                 preWatermarked: Boolean = false): DataFrame = {
    val slide = q.slideSec.getOrElse(
      throw new IllegalArgumentException("hoppingAgg needs slideSec"))
    requireStreamable(q)
    val schema = stream.schema
    // preWatermarked: the caller placed the watermark UPSTREAM (e.g.
    // before a stream-static join, so rows the join drops still advance
    // the clock — a second watermark node here would lag behind under the
    // min-across-watermarks policy and stall window finalization)
    val filtered = preFilter(
      if (preWatermarked) stream else stream.withWatermark(tsCol, watermark),
      q, tsCol)
    val keys = Compiler.groupKeys(q, schema) :+
      window(col(tsCol), s"${q.granularitySec} seconds", s"$slide seconds").as("window")
    val aggs = Aggregates.compileAll(q.selects ++ havingExtras(q), schema)
    val grouped = Compiler.withPostSelects(
      filtered.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), q)
    Compiler.havingFilter(grouped, q.having, q.havingTree)
      .select((q.groupBy.map(graft.compile.Compiler.colRef) :+
        col("window.start").cast(LongType).as("w_start") :+
        col("window.end").cast(LongType).as("w_end")) ++
        q.selects.map(s => graft.compile.Compiler.colRef(s.key)) ++
        q.postSelects.map(p => graft.compile.Compiler.colRef(p.alias)): _*)
  }

  /** Streaming SESSION windows: Spark-native `session_window` with
    * watermark-bounded merging state — the streaming face of
    * [[Compiler.runSession]]. Times are truncated to whole seconds exactly
    * like the batch path, so closed sessions match batch bit-for-bit; open
    * sessions finalize once the watermark passes their gap.
    *
    * Caveat: the watermark rides the derived whole-seconds column, so ALL
    * of the query's predicates (including tStart/tEnd) end up below the
    * watermark node — a tEnd-bounded session stream needs in-range events
    * to advance the clock that closes the final sessions. */
  def sessionAgg(stream: DataFrame, q: ZxQuery, watermark: String = "10 minutes",
                 tsCol: String = Compiler.DefaultTsCol,
                 preWatermarked: Boolean = false): DataFrame = {
    val gap = q.sessionGapSec.getOrElse(
      throw new IllegalArgumentException("sessionAgg needs sessionGapSec"))
    requireStreamable(q)
    val schema = stream.schema
    // preWatermarked: caller already derived `__sec` and watermarked it
    // upstream (see hoppingAgg — the stream-static join contract)
    require(!preWatermarked || stream.columns.contains("__sec"),
      "preWatermarked session streams must carry the watermarked __sec column")
    val filtered = preFilter(
      if (preWatermarked) stream
      else stream.withColumn("__sec", timestamp_seconds(col(tsCol).cast(LongType)))
        .withWatermark("__sec", watermark), q, tsCol)
    val keys = Compiler.groupKeys(q, schema) :+
      session_window(col("__sec"), s"$gap seconds").as("__sw")
    val aggs = Aggregates.compileAll(q.selects ++ havingExtras(q), schema)
    val grouped = Compiler.withPostSelects(
      filtered.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), q)
    Compiler.havingFilter(grouped, q.having, q.havingTree)
      .select((q.groupBy.map(graft.compile.Compiler.colRef) :+
        col("__sw.start").cast(LongType).as("w_start") :+
        col("__sw.end").cast(LongType).as("w_end")) ++
        q.selects.map(s => graft.compile.Compiler.colRef(s.key)) ++
        q.postSelects.map(p => graft.compile.Compiler.colRef(p.alias)): _*)
  }

  /** Streaming Raw projection — the observability `tail -f`: the
    * reference's Raw select (expr.rs:120-125) as a continuous filtered
    * projection. Stateless (filter + select only), so any sink/output mode
    * works and there is no watermark to configure. `limit` is rejected —
    * a global LIMIT has no meaning on an unbounded stream; use
    * [[tailConsole]]'s per-batch `numRows` for a bounded live view. */
  def rawStream(stream: DataFrame, q: ZxQuery,
                tsCol: String = Compiler.DefaultTsCol): DataFrame = {
    require(q.selects.forall(_.agg == Agg.Raw) && q.postSelects.isEmpty,
      "rawStream takes Raw selects only — use windowedAgg for aggregates")
    require(q.limit.isEmpty,
      "LIMIT is undefined on an unbounded stream; use tailConsole(numRows = ...)")
    val filtered = preFilter(stream, q, tsCol)
    // expression projections (p71) are stateless row arithmetic — they
    // stream exactly like plain columns; the explode generator (p85) is
    // a stateless narrow row-multiplier, legal in append mode
    val based = q.explodeCol match {
      case Some((src, sep, alias)) =>
        import org.apache.spark.sql.functions.{explode, split}
        filtered.withColumn(alias,
          explode(split(graft.compile.Compiler.colRef(src),
            java.util.regex.Pattern.quote(sep))))
      case None => filtered
    }
    val cols = graft.compile.Compiler.rawProjection(q.selects, based.schema)
    if (cols.nonEmpty) based.select(cols: _*) else based
  }

  /** Live bounded view of a raw stream: append-mode console sink printing
    * at most `numRows` rows per micro-batch — `tail -f | head` semantics. */
  def tailConsole(stream: DataFrame, q: ZxQuery, numRows: Int = 20,
                  tsCol: String = Compiler.DefaultTsCol) =
    rawStream(stream, q, tsCol).writeStream
      .format("console")
      .option("numRows", numRows)
      .outputMode("append")

  /** Streaming exact dedup at ingest: drop re-deliveries and content
    * duplicates by fingerprint while the stream flows, keeping state only
    * one watermark-delay deep (`dropDuplicatesWithinWatermark` evicts keys
    * once the watermark passes them — unbounded-state `dropDuplicates`
    * would grow forever on an infinite stream). The streaming face of
    * [[graft.operators.Dedup.exactDedup]]: at 100 TB/day ingest this is
    * the difference between deduping at write time and a daily batch
    * re-shuffle of the whole store. State shuffles on the key column only. */
  def dedupByKey(stream: DataFrame, keyCols: Seq[String],
                 watermark: String = "10 minutes",
                 tsCol: String = Compiler.DefaultTsCol): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: pair each left event with every right
    * event of the same key whose time falls in `[l.ts − windowLenSec,
    * l.ts]` — the streaming face of [[graft.operators.AsofJoin
    * .trailingWindow]]'s correlation shape when BOTH sides flow (clicks ×
    * impressions, spans × logs). Inner join in append mode: each matched
    * pair emits exactly once.
    *
    * State stays bounded because BOTH sides carry a watermark AND the join
    * condition bounds event-time distance in BOTH directions (r.ts ≤ l.ts
    * ≤ r.ts + window): Spark derives the state-eviction watermark from the
    * interval, so a right row is dropped from state once the left
    * watermark passes `r.ts + window`, and symmetrically — without the
    * interval bound a stream-stream join must keep EVERY row forever. At
    * 100 TB/day the state store holds ~(window + watermark delay) of data
    * per side, shuffled on the key — the same partitioning both inputs
    * already have if they come from a keyed source, and AQE-free (state
    * partitioning is fixed by `spark.sql.shuffle.partitions` at the first
    * run of the checkpoint, so set it for peak load up front).
    *
    * Output columns: left's prefixed `l_`, right's prefixed `r_` — a
    * stream-stream join cannot disambiguate same-named columns after the
    * fact, so the rename is part of the operator contract. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         key: String, windowLenSec: Long,
                         watermark: String = "10 minutes",
                         tsCol: String = Compiler.DefaultTsCol): DataFrame = {
    require(left.isStreaming && right.isStreaming,
      "intervalJoinStream joins two STREAMS — for a static side use " +
        "trailingWindow (batch) or asofBroadcast (stream × small dim)")
    require(windowLenSec > 0, s"window must be positive, got $windowLenSec")
    def side(df: DataFrame, p: String) = df.select(
      df.columns.map(c => col(c).as(p + c)): _*)
      .withWatermark(p + tsCol, watermark)
    val l = side(left, "l_")
    val r = side(right, "r_")
    l.join(r, col(s"l_$key") === col(s"r_$key") &&
      col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $windowLenSec SECONDS") &&
      col(s"r_$tsCol") <= col(s"l_$tsCol"))
  }

  /** Continuous ingest: stream → parquet event store (the scalable
    * replacement for the reference's fsync-per-column insert, lib.rs:295-296).
    * Checkpointed, exactly-once into the store directory. */
  def ingest(stream: DataFrame, storePath: String, checkpoint: String) =
    stream.writeStream
      .format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Continuous ingest into a MANIFESTED store: each micro-batch's files
    * and its batch id commit as ONE manifest version ([[graft.sources
    * .EventStore.appendCommitted]] — Delta's txn action), so the batch
    * becomes visible to [[graft.sources.EventStore.readPinned]] readers
    * atomically — and, unlike [[ingest]], the store carries no
    * `_spark_metadata` log, so compaction, z-order clustering, stats
    * pinning and vacuum all compose with live ingest (the exact
    * combination the plain streaming sink forbids: its log is the batch
    * readers' source of truth and cannot survive a rewrite).
    *
    * Exactly-once across RESTARTS (closing round 8's documented trade):
    * the txn id is durable in the same atomic rename that publishes the
    * files, so a batch replayed after a crash-before-checkpoint is
    * detected via [[graft.sources.EventStore.lastTxn]] and skipped — and a
    * crash BEFORE the commit leaves only unmanifested files, which no
    * pinned read lists and [[graft.sources.EventStore.vacuum]] reclaims.
    * No duplicate can
    * become visible in either window. ([[graft.sources.EventStore.vacuum]]
    * retention must keep ≥1 version between checkpoints — any sane
    * retention does: the latest ingest commit is by definition recent.)
    *
    * Empty micro-batches (restart replays, idle sources, an upstream
    * filter dropping everything) commit NOTHING: appending zero rows
    * writes no files, and committing a manifest anyway would burn a
    * redundant version out of `keepVersions` time-travel retention. */
  def ingestManifested(stream: DataFrame, storePath: String, checkpoint: String,
                       tsCol: String = Compiler.DefaultTsCol) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, storePath, "ingest:" + checkpoint, batchId, tsCol)
        ()
      }

  /** One [[ingestManifested]] micro-batch, factored out so the
    * exactly-once guard is directly testable: skip if `app` already
    * committed `batchId` (post-crash replay of a published batch),
    * otherwise transactionally append. Returns true when the batch
    * committed, false when skipped/empty. An empty batch is not checked
    * for up front (that is a job of its own that re-reads the batch):
    * appending it writes no files, and `appendCommitted` commits nothing
    * then. */
  def ingestBatch(batch: DataFrame, storePath: String, app: String,
                  batchId: Long, tsCol: String = Compiler.DefaultTsCol): Boolean = {
    val spark = batch.sparkSession
    val replayed = graft.sources.EventStore
      .lastTxn(spark, storePath, app).exists(_ >= batchId)
    if (replayed) false
    else graft.sources.EventStore
      .appendCommitted(batch, storePath, app, batchId, tsCol).nonEmpty
  }
}
