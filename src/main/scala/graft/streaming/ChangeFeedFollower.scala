package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.EventStore

/** Continuous change-data capture: FOLLOW a store's manifest log and
  * deliver each committed version range's row-level
  * [[graft.sources.EventStore.changeFeed]] to a consumer — the "IVM that
  * follows the store" loop, packaged. The batch `changeFeed(vOld, vNew)`
  * answers one range on demand; this follower turns the manifest log into
  * a live delta stream: a poller thread watches the head version and, on
  * every advance, hands the consumer the signed row delta since the last
  * delivered version (the foreachBatch shape — the consumer typically
  * merges the delta into a maintained aggregate, c15's algebra).
  *
  * Delivery contract:
  *  - deltas are delivered IN ORDER, each covering a contiguous version
  *    range `(seenVersion, head]`, starting from `startVersion`;
  *  - commits landing between polls COALESCE into one delta. That is
  *    semantics-free for any consumer folding signed rows: the multiset
  *    delta of `v1→v3` equals `v1→v2 ⊎ v2→v3` by construction of the
  *    manifest diff (spec-pinned), so coarser deliveries just fold more
  *    per call — exactly what a consumer wants when the store commits
  *    faster than it merges;
  *  - pure re-layout commits (compaction, z-order) still bump the head
  *    and are delivered; their feed nets to zero rows, and the consumer's
  *    fold is a no-op — correctness never depends on classifying commits;
  *  - the consumer runs ON the poller thread: a slow merge backpressures
  *    polling naturally (no unbounded delta queue on the driver);
  *  - a consumer/feed failure stops the follower and is rethrown from
  *    [[processAllAvailable]]/[[stop]] — silent feed death would let a
  *    "maintained" aggregate drift stale, the one unforgivable IVM bug.
  *
  * Scale shape: the poll itself is one manifest-directory listing
  * (driver metadata, O(versions)); each delta's cost scales with the
  * CHANGED files only (the changeFeed contract), so following a 100 TB
  * store costs what its churn costs, never what the store costs. The
  * same retention contract as any pinned reader applies: [[
  * graft.sources.EventStore.vacuum]] must not outrun `seenVersion`.
  *
  * Synchronous use: construct (don't `start()`), commit, [[pollOnce]] —
  * the deterministic single-step mode the specs drive. Async use:
  * `start()`, commit freely, [[processAllAvailable]] to barrier, then
  * [[stop]].
  */
final class ChangeFeedFollower(spark: SparkSession, path: String,
                               startVersion: Long,
                               consume: (Long, Long, DataFrame) => Unit,
                               pollMs: Long = 50L) {
  require(startVersion >= 0, s"startVersion must be ≥ 0, got $startVersion")
  require(pollMs >= 1, s"pollMs must be ≥ 1, got $pollMs")

  @volatile private var seen = startVersion
  @volatile private var stopped = false
  @volatile private var failure: Option[Throwable] = None

  /** Highest version whose delta has been delivered. */
  def seenVersion: Long = seen

  /** One poll step: if the head advanced past [[seenVersion]], deliver
    * ONE coalesced delta for the whole gap and advance. Returns true iff
    * a delta was delivered. Thread-safe with the poller (synchronized),
    * so a manual poke during async operation cannot double-deliver. */
  def pollOnce(): Boolean = synchronized {
    val head = EventStore.manifestVersion(spark, path)
    if (head > seen) {
      consume(seen, head, EventStore.changeFeed(spark, path, seen, head))
      seen = head
      true
    } else false
  }

  private val thread = new Thread(() => {
    while (!stopped) {
      try { if (!pollOnce()) Thread.sleep(pollMs) }
      catch {
        case _: InterruptedException => ()
        // an interrupt landing mid-pollOnce surfaces WRAPPED (e.g.
        // InterruptedIOException inside a manifest listing, or a
        // SparkException around the consumer's action) — once stop() has
        // requested shutdown, any such failure is the shutdown itself,
        // and recording it would make a clean stop() spuriously rethrow
        // "poller failed" (worse: mask the primary exception when stop()
        // runs in a finally block)
        case t: Throwable =>
          if (!stopped) failure = Some(t)
          stopped = true
      }
    }
  }, s"graft-cdc-follower")

  /** Begin tailing on a daemon poller thread. */
  def start(): this.type = {
    thread.setDaemon(true)
    thread.start()
    this
  }

  /** Block until every commit visible at CALL time has been delivered —
    * this follower's `processAllAvailable()`. Returns as soon as the
    * poller fails or its thread ends, rethrowing the failure; no wall-clock
    * deadline, since how long a delta takes depends on its data. */
  def processAllAvailable(): Unit = {
    val target = EventStore.manifestVersion(spark, path)
    while (seen < target && failure.isEmpty && thread.isAlive) Thread.sleep(5)
    failure.foreach(t => throw new IllegalStateException(
      "ChangeFeedFollower: poller failed", t))
    if (seen < target)
      throw new IllegalStateException(
        "ChangeFeedFollower: poller thread died before catching up")
  }

  /** Stop tailing; rethrows a pending poller failure so a crashed feed
    * can't be mistaken for a clean shutdown. In a `finally` block prefer
    * [[stopQuietly]], which cannot mask the try body's primary
    * exception. */
  def stop(): Unit = {
    stopQuietly()
    failure.foreach(t => throw new IllegalStateException(
      "ChangeFeedFollower: poller failed", t))
  }

  /** Stop tailing WITHOUT rethrowing a pending poller failure — the
    * finally-block form. The failure (if any) stays readable via
    * [[pollerFailure]]; callers that used [[processAllAvailable]] as
    * their barrier have already observed it there. */
  def stopQuietly(): Unit = {
    stopped = true
    thread.interrupt()
    thread.join(10000)
  }

  /** A pending poller failure, for post-[[stopQuietly]] inspection. */
  def pollerFailure: Option[Throwable] = failure
}
