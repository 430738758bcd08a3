package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Finite replay of an event table through the STREAMING operators, for
  * driver-oracle verification (VERDICT r9 "what's missing" #1): the
  * streaming family was pinned only by batch-vs-stream parity specs, which
  * a bug shared by both sides would pass. Running the same parquet through
  * `readStream` → the streaming aggregation → a parquet sink and hashing
  * the result against the SAME DuckDB oracle the batch row uses closes
  * that asymmetry — DuckDB reads the ORIGINAL testdata, so any divergence
  * anywhere on the streaming path (source normalization, watermark
  * placement, state folding, sink commit) flips the hash.
  *
  * Mechanics of a complete finite replay in append mode:
  *  - the table is staged to a fresh directory (normalized through
  *    [[graft.sources.Tables.events]], so the stream sees the engine-wide
  *    `ts` contract) plus ONE far-future `__sentinel` row 30 days past the
  *    real maximum. All files exist before the stream starts, so the file
  *    source folds them into a single micro-batch processed under the
  *    initial watermark.
  *  - at that batch's end the watermark advances to the sentinel, and
  *    Spark's no-data micro-batch finalizes every REAL window/session/gap
  *    walk (their ends all precede the sentinel); the sentinel's own
  *    window can never close, so it simply never emits — and is filtered
  *    out defensively anyway.
  *  - `watermark = "0 seconds"` is sound here because the single batch is
  *    processed under the initial watermark — nothing is ever late.
  *
  * This makes a streaming lifecycle expressible as an ordinary
  * `SparkEntry.queries` entry: stage → stream → sink → read back, with the
  * batch row's `oracleSql` unchanged.
  */
object StreamReplay {

  val SentinelType = "__sentinel"

  /** Per-micro-batch `triggerExecution` durations (ms) of each name's LAST
    * replay — the st_* lifecycles' wall times are dominated by lifecycle
    * I/O (staging, checkpoint commits, sink writes), so a wall-time swing
    * alone cannot distinguish a slow box from a slow OPERATOR. These are
    * the engine's actual per-trigger processing times, captured from
    * `query.recentProgress` before `stop()`; Bench surfaces them per st_*
    * row (`stream_ms`), which makes a lifecycle outlier attributable:
    * batch times flat while wall time grows ⇒ box I/O, batch times
    * growing ⇒ a real operator regression. */
  val lastBatchMs = new scala.collection.concurrent.TrieMap[String, Seq[Long]]()

  private def recordProgress(name: String,
      query: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    lastBatchMs(name) = query.recentProgress.toSeq
      .map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L))

  /** Staged events-file count — the replays' map-side parallelism (file
    * stream source = 1 partition/file). r15 TimeN A/B on st_tumbling/
    * st_session/st_gap/st_having at 1/4/8 files (A/B/A, 32 cpus, sf0.1):
    * 1 file 2.2/2.5/3.0/2.0 s; 4 files 2.4/3.0/5.0/4.3; 8 files
    * 3.0/2.8/3.0/2.0 — one file stays the winner (stateful aggs have a
    * trivial map side; extra files only add source tracking and task
    * overhead), confirming r14's 33-file result from the other end. */
  private[graft] val EventStagingFiles = 1

  /** The staged (data + sentinel) input is IMMUTABLE per source dir, so
    * it is built once per session, in the session's scratch root
    * ([[graft.Scratch]]), and shared by every st_* query and every bench
    * re-run — only the checkpoint and sink are per-call lifecycle. */
  private def ensureStagedInput(s: SparkSession, dir: String): String =
    graft.Scratch.once(s, "stream-in", dir) {
      val in = graft.Scratch.fresh(s, "stream-in", dir)
      val ev = graft.sources.Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      // staged data file COUNT (file stream source = 1 partition/file):
      // r14 measured parallelism-many (33) files SLOWER for the stateful
      // events replays (per-file open + 33-way-to-few shuffle) and kept
      // ONE file; r15 A/B'd the middle ground — see EventStagingFiles
      ev.repartition(EventStagingFiles).write.parquet(in)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinelTs =
        new java.sql.Timestamp(maxTs.getTime + 30L * 86400 * 1000L)
      // the sentinel carries a NON-NULL value: predicates that don't
      // reference the watermarked ts column push BELOW the watermark
      // node (EventStream.preFilter scaladoc), so a query filtering on
      // `value` (the heatmap's isNotNull) only advances its clock on
      // rows that SURVIVE the filter — a null-valued sentinel would
      // leave the final window open. Its own group/window still never
      // emits (nothing ever closes it), and callers filter the
      // SentinelType group besides.
      // user_id is -1, NOT null: an INNER equi-join on user_id infers
      // `isnotnull(user_id)` and Catalyst pushes it BELOW the watermark
      // into the scan (user_id is not the event-time column, so the
      // push is legal) — a null-keyed sentinel would be filtered before
      // ever advancing the clock and the stream's final window would
      // stay open (caught by st_enrich, off-by-one-window vs its
      // oracle). -1 matches no dimension row, so the join itself still
      // drops the sentinel — AFTER the watermark has seen it.
      val sentinel = s.createDataFrame(
        java.util.Collections.singletonList(
          Row(-1L, sentinelTs, -1L, SentinelType, 0.0, null)),
        EventStream.eventsSchema)
      sentinel.write.mode("append").parquet(in)
      in
    }

  private def ensureStagedDocs(s: SparkSession, dir: String): String =
    graft.Scratch.once(s, "stream-docs", dir) {
      val in = graft.Scratch.fresh(s, "stream-docs", dir)
      // parallelism-many staged files — see ensureStagedInput
      graft.sources.Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .write.parquet(in)
      in
    }

  /** Scale-ADAPTIVE shuffle/state partitioning for one replay (opt guide
    * §2: derive partitioning from the input, never a constant): a
    * streaming aggregation creates `spark.sql.shuffle.partitions` state
    * stores, and EACH commits a delta file per micro-batch — at the
    * session default (sized for batch work across the machine) a
    * megabyte-scale replay pays 32 state-store commits per batch per
    * stateful operator, pure checkpoint I/O. Derive the partition count
    * from the staged input's bytes (1 per 16 MB, capped at the session's
    * parallelism — a production-scale stream hits the cap and behaves as
    * before), set it for the duration of ONE replay, restore after.
    * Results are partition-count-independent (aggregations; pinned by the
    * rows' own oracle hashes). */
  private def withAdaptiveShuffle[T](s: SparkSession, stagedDir: String)
                                    (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = s.conf.get(key)
    val p = new org.apache.hadoop.fs.Path(stagedDir)
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val target = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, bytes / (16L << 20) + 1))
    s.conf.set(key, target.toString)
    try body finally s.conf.set(key, before)
  }

  /** Finite replay of the `documents` table through a STATELESS streaming
    * transform — the docs-frame counterpart of [[replayEvents]] with none
    * of its event-time machinery: no watermark, no sentinel, because a
    * stateless operator emits every row inside the first micro-batch, so
    * the sink holds the complete result after `processAllAvailable`. Same
    * per-(session, dir) staging; same driver-oracle purpose —
    * the batch row's DuckDB SQL verifies the streaming path verbatim. */
  def replayDocs(s: SparkSession, dir: String, name: String)
                (build: DataFrame => DataFrame): DataFrame = {
    val in = ensureStagedDocs(s, dir)
    val stage = graft.Scratch.fresh(s, "stream/" + name, dir)
    val schema = graft.sources.Tables.documents(s, dir).schema
    withAdaptiveShuffle(s, in) {
      val out = build(s.readStream.schema(schema).parquet(in))
      val query = out.writeStream.format("parquet")
        .option("path", stage + "/out")
        .option("checkpointLocation", stage + "/ckpt")
        .outputMode("append")
        .start()
      try { query.processAllAvailable(); recordProgress(name, query) }
      finally query.stop()
    }
    s.read.parquet(stage + "/out")
  }

  /** Stage `events` (once per session and dir — data + sentinel), run
    * `build(stream)` to a parquet sink with `processAllAvailable`, and
    * return the sink contents. Callers filter out the sentinel's own group
    * (its window can never close, so it should never emit — the filter is
    * defense in depth, not load-bearing). */
  def replayEvents(s: SparkSession, dir: String, name: String)
                  (build: DataFrame => DataFrame): DataFrame = {
    val in = ensureStagedInput(s, dir)
    val stage = graft.Scratch.fresh(s, "stream/" + name, dir)
    withAdaptiveShuffle(s, in) {
      val out = build(EventStream.read(s, in))
      val query = out.writeStream.format("parquet")
        .option("path", stage + "/out")
        .option("checkpointLocation", stage + "/ckpt")
        .outputMode("append")
        .start()
      try { query.processAllAvailable(); recordProgress(name, query) }
      finally query.stop()
    }
    s.read.parquet(stage + "/out")
  }
}
