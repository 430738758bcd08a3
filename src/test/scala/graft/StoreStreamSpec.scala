package graft

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ir._
import graft.compile.Compiler
import graft.sources.{EventStore, JsonResult}
import graft.streaming.EventStream

/** Write path (S1/S2), streaming ingest + windowed agg, and the S4 JSON
  * result shaper. */
class StoreStreamSpec extends AnyFunSuite {
  import SparkFixture._

  test("S1/S2: append is date-partitioned and re-readable; reset clears") {
    val dir = Files.createTempDirectory("graft-store").toString + "/events"
    // testdata events use TIMESTAMP(NANOS) → must go through Tables
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    EventStore.createTable(src, dir)
    val back = EventStore.readPinned(spark, dir)
    assert(back.count() == src.count())
    assert(back.columns.contains("event_date")) // partition column
    // partition pruning: a one-day filter must prune input files
    val pruned = back.filter(col("event_date") === lit("2024-01-05"))
    assert(pruned.count() > 0 && pruned.count() < src.count())
    EventStore.reset(spark, dir)
    assert(!new java.io.File(dir).exists())
  }

  test("manifest store: pinned readers survive a full compaction cycle; vacuum reclaims exactly the replaced files") {
    val dir = Files.createTempDirectory("graft-manifest").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value")
    commitStore(dir, (0 until 5).map(i => src.filter(pmod(col("event_id"), lit(5)) === i)): _*)
    // five committed batches: manifest == files on disk; pinned == listing
    assert(EventStore.manifestFiles(spark, dir).size >= 5)
    val fullRows = spark.read.parquet(dir).collect().toSet
    assert(EventStore.readPinned(spark, dir).collect().toSet == fullRows)
    // a reader pinned BEFORE compaction (plan bound to the old file set)
    val pinnedOld = EventStore.readPinned(spark, dir)
    val stats = EventStore.compactInPlace(spark, dir)
    assert(stats.nonEmpty && stats.forall(p => p.filesAfter < p.filesBefore))
    // ...still reads the complete store: compactInPlace never deletes
    assert(pinnedOld.collect().toSet == fullRows,
      "a pre-compaction pin must survive the whole cycle")
    // a reader pinned AFTER sees exactly the compacted set
    assert(EventStore.readPinned(spark, dir).collect().toSet == fullRows)
    assert(EventStore.readPinned(spark, dir).inputFiles.length == stats.map(_.filesAfter).sum)
    // the failure mode pinning exists for: a LISTING read in the
    // compact→vacuum window sees old+new files and double-counts
    assert(spark.read.parquet(dir).count() > fullRows.size,
      "listing reads double-count during the grace window — use readPinned")
    // vacuum reclaims exactly the replaced inputs; everything still reads
    val deleted = EventStore.vacuum(spark, dir)
    assert(deleted.size == stats.map(_.filesBefore).sum,
      s"vacuum should delete the ${stats.map(_.filesBefore).sum} replaced files, got $deleted")
    assert(spark.read.parquet(dir).collect().toSet == fullRows)
    assert(EventStore.readPinned(spark, dir).collect().toSet == fullRows)
    // idempotent: nothing left to compact or vacuum
    assert(EventStore.compactInPlace(spark, dir).isEmpty)
    assert(EventStore.vacuum(spark, dir).isEmpty)
    // a grace window protects unmanifested (e.g. moved in, commit still
    // to come) files
    src.limit(10).withColumn("event_date", to_date(col("ts")))
      .write.mode("append").partitionBy("event_date").parquet(dir)
    assert(EventStore.vacuum(spark, dir, olderThanMs = 3600000L).isEmpty,
      "files younger than the grace window must survive vacuum")
    // pinning must not cost partition pruning: a one-day filter over the
    // pinned read still prunes to that partition's files at planning time
    val oneDay = EventStore.readPinned(spark, dir)
      .filter(col("event_date") === lit("2024-01-05"))
    assert(oneDay.count() > 0 && oneDay.count() < fullRows.size)
    // (inputFiles reports the relation pre-pruning; the PartitionFilters
    // entry in the scan node is the planning-time pruning evidence)
    val pinnedPlan = oneDay.queryExecution.executedPlan.toString
    assert(pinnedPlan.contains("PartitionFilters: [isnotnull(event_date"),
      s"pinned reads must keep planning-time partition pruning:\n$pinnedPlan")
  }

  test("copy-on-write merge + delete: keys upsert, full-match files drop rewrite-free, old pins survive") {
    val dir = Files.createTempDirectory("graft-merge").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 6)
      .select("event_id", "ts", "user_id", "value")
    commitStore(dir, (0 until 3).map(i => src.filter(pmod(col("event_id"), lit(3)) === i)): _*)
    val nFiles = EventStore.manifestFiles(spark, dir).size
    val v0 = EventStore.manifestVersion(spark, dir)
    val baseline = EventStore.readPinned(spark, dir)
      .select("event_id", "ts", "user_id", "value").collect().toSet
    // MERGE: corrected values for an existing key slice + brand-new rows
    val corrected = src.filter(pmod(col("user_id"), lit(7)) === 0)
      .withColumn("value", col("value") + 1000.0)
    val fresh = src.orderBy("event_id").limit(5)
      .withColumn("event_id", col("event_id") + 10000000L)
    val updates = corrected.unionByName(fresh)
    val nMatched = corrected.count()
    val nUpdates = updates.count()
    val m = EventStore.mergeInto(spark, dir, updates, Seq("event_id"))
    assert(m.rowsDeleted == nMatched, s"every matched key's rows leave: $m")
    assert(m.rowsInserted == nUpdates, s"every update row inserts: $m")
    assert(m.filesUntouched + m.filesRewritten == nFiles,
      s"accounting covers the whole manifest: $m (manifest had $nFiles)")
    assert(m.filesDropped == 0 && m.filesInserted > 0)
    val keysMatched = corrected.select("event_id").collect().map(_.getLong(0)).toSet
    val expectMerged = baseline.filterNot(r => keysMatched(r.getLong(0))) ++
      updates.select("event_id", "ts", "user_id", "value").collect()
    assert(EventStore.readPinned(spark, dir)
      .select("event_id", "ts", "user_id", "value").collect().toSet == expectMerged,
      "merged state = old rows minus matched keys, plus every update row")
    // the pre-merge snapshot is untouched: copy-on-write never deletes
    assert(EventStore.readPinned(spark, dir, version = v0)
      .select("event_id", "ts", "user_id", "value").collect().toSet == baseline,
      "a pre-merge pin must still read the original store")
    // DELETE, full-match fast path: one whole day — its partition's files
    // match completely, so they drop from the manifest with NO rewrite
    val d1 = EventStore.deleteWhere(spark, dir, dayofmonth(col("ts")) === 1)
    assert(d1.filesDropped > 0 && d1.filesRewritten == 0,
      s"a whole-partition delete must be metadata-only: $d1")
    assert(d1.rowsDeleted == expectMerged.count(r =>
      r.getTimestamp(1).toLocalDateTime.getDayOfMonth == 1))
    // DELETE, partial path: a user slice cuts across every file
    val d2 = EventStore.deleteWhere(spark, dir, pmod(col("user_id"), lit(3)) === 1)
    assert(d2.filesRewritten > 0, s"a cross-cutting delete rewrites: $d2")
    val expectFinal = expectMerged.filter { r =>
      r.getTimestamp(1).toLocalDateTime.getDayOfMonth != 1 && r.getLong(2) % 3 != 1
    }
    assert(EventStore.readPinned(spark, dir)
      .select("event_id", "ts", "user_id", "value").collect().toSet == expectFinal)
    // a delete that matches nothing is a no-op commit-wise: all untouched
    val d3 = EventStore.deleteWhere(spark, dir, col("user_id") < 0)
    assert(d3.rowsDeleted == 0 && d3.filesRewritten == 0 && d3.filesDropped == 0)
    // driver-budget guard (round 13): an over-budget manifest fails BEFORE
    // the detection job materializes its per-file map — and before any
    // state changes (both ops re-run fine right after, proven below by d4)
    for (msg <- Seq(
        intercept[IllegalArgumentException](EventStore.deleteWhere(spark, dir,
          col("user_id") < 0, driverBudgetBytes = 16L)).getMessage,
        intercept[IllegalArgumentException](EventStore.mergeInto(spark, dir,
          updates, Seq("event_id"), driverBudgetBytes = 16L)).getMessage))
      assert(msg.contains("driverBudgetBytes") && msg.contains("detection"))
    val d4 = EventStore.deleteWhere(spark, dir, col("user_id") < 0)
    assert(d4.rowsDeleted == 0 && d4.filesRewritten == 0 && d4.filesDropped == 0)
    // emptying the store via delete is refused loudly — that's reset()'s job
    val boom = intercept[IllegalArgumentException] {
      EventStore.deleteWhere(spark, dir, lit(true))
    }
    assert(boom.getMessage.contains("reset()"))
    // vacuum past retention: replaced files go, the final state survives,
    // and the pre-merge version stops being travelable LOUDLY
    val deleted = EventStore.vacuum(spark, dir, keepVersions = 1)
    assert(deleted.nonEmpty, "merge/delete replaced files must be reclaimable")
    assert(EventStore.readPinned(spark, dir)
      .select("event_id", "ts", "user_id", "value").collect().toSet == expectFinal)
    intercept[IllegalArgumentException] {
      EventStore.readPinned(spark, dir, version = v0).collect()
    }
    // no staging debris outlives the operations
    val debris = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && (f.getName.contains("merge-") || f.getName.contains("delete-")))
    assert(debris.isEmpty, s"staging debris left behind: ${debris.mkString(",")}")
  }

  test("change feed: pure re-layout nets to empty, true inserts and deletes surface") {
    val dir = Files.createTempDirectory("graft-cdf").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.filter(dayofmonth(col("ts")) <= 5).repartition(3), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    // a feed across nothing is empty; a backwards range refuses
    assert(EventStore.changeFeed(spark, dir, v1, v1).count() == 0)
    intercept[IllegalArgumentException](EventStore.changeFeed(spark, dir, v1, v1 - 1))
    // compaction rewrites every (3-file) partition — but moves no rows,
    // so the feed across the maintenance commit cancels to EMPTY
    assert(EventStore.compactInPlace(spark, dir).nonEmpty)
    val v2 = EventStore.manifestVersion(spark, dir)
    assert(EventStore.changeFeed(spark, dir, v1, v2).count() == 0,
      "pure re-layout must produce an empty feed")
    // real changes: append days 6-7, erase day 2
    EventStore.appendCommitted(
      src.filter(dayofmonth(col("ts")).between(6, 7)), dir, "cdf-spec", 1L)
    EventStore.deleteWhere(spark, dir, dayofmonth(col("ts")) === 2)
    val vN = EventStore.manifestVersion(spark, dir)
    val feed = EventStore.changeFeed(spark, dir, v1, vN)
      .select(col("_change_type"), col("event_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val inserted = src.filter(dayofmonth(col("ts")).between(6, 7))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val erased = src.filter(dayofmonth(col("ts")) === 2)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(feed.collect { case ("insert", id) => id }.toSet == inserted)
    assert(feed.collect { case ("delete", id) => id }.toSet == erased)
    assert(feed.length == inserted.size + erased.size, "no duplicate feed rows")
  }

  test("change feed property: across random lifecycles, v1 state + signed feed = vN state") {
    // the algebraic contract the c15 IVM row relies on, pinned over
    // randomized op sequences: for ANY mix of txn appends, compactions,
    // and copy-on-write deletes, multiset(vN) == multiset(v1) ⊎ inserts
    // ∖ deletes. Seeded, so a failure reproduces.
    val rnd = new scala.util.Random(42)
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("event_id").collect().map(_.getLong(0))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    for (round <- 1 to 3) {
      val dir = Files.createTempDirectory(s"graft-cdfprop$round").toString + "/events"
      EventStore.createTable(
        src.filter(pmod(col("event_id"), lit(3)) === 0).repartition(2), dir)
      val v1 = EventStore.manifestVersion(spark, dir)
      val before = rows(EventStore.readPinned(spark, dir, v1))
      var batch = 0L
      (1 to 4).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 =>
            batch += 1
            EventStore.appendCommitted(src.filter(
              pmod(col("event_id"), lit(5)) === rnd.nextInt(5).toLong),
              dir, "cdf-prop", batch)
          case 1 => EventStore.compactInPlace(spark, dir)
          case 2 =>
            val k = rnd.nextInt(7).toLong
            // a delete may match nothing or refuse to empty the store —
            // both are legal lifecycle outcomes; skip the refusal case
            try EventStore.deleteWhere(spark, dir,
              pmod(col("user_id"), lit(7)) === k)
            catch { case e: IllegalArgumentException
              if e.getMessage.contains("reset()") => () }
        }
      }
      val vN = EventStore.manifestVersion(spark, dir)
      val after = rows(EventStore.readPinned(spark, dir, vN))
      val feed = EventStore.changeFeed(spark, dir, v1, vN)
        .select("_change_type", "event_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val applied = feed.foldLeft(before) { case (m, (ct, id)) =>
        val d = if (ct == "insert") 1 else -1
        val n = m.getOrElse(id, 0) + d
        if (n == 0) m - id else m.updated(id, n)
      }
      assert(applied == after,
        s"round $round: v1+feed diverged from vN (|v1|=${before.size}, " +
          s"|vN|=${after.size}, feed=${feed.length})")
    }
  }

  test("snapshot clone: bit-equal to the pinned version, independent of source mutation and vacuum") {
    val base = Files.createTempDirectory("graft-clone").toString
    val srcDir = base + "/src"
    val dstDir = base + "/dst"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.filter(dayofmonth(col("ts")) <= 4).repartition(2), srcDir)
    val v1 = EventStore.manifestVersion(spark, srcDir)
    val want = EventStore.readPinned(spark, srcDir, v1)
      .select("event_id", "ts", "user_id", "value").collect().toSet
    EventStore.appendCommitted(
      src.filter(dayofmonth(col("ts")) === 5), srcDir, "clone-spec", 1L)
    val n = EventStore.cloneSnapshot(spark, srcDir, dstDir, v1)
    assert(n > 0)
    assert(EventStore.readPinned(spark, dstDir)
      .select("event_id", "ts", "user_id", "value").collect().toSet == want,
      "clone must read exactly the pinned snapshot (not the newer source head)")
    // refuse to clobber a non-empty destination
    intercept[IllegalArgumentException](
      EventStore.cloneSnapshot(spark, srcDir, dstDir, v1))
    // erase the source past the cloned version: the clone must not notice
    EventStore.deleteWhere(spark, srcDir, dayofmonth(col("ts")) <= 2)
    EventStore.vacuum(spark, srcDir, keepVersions = 1)
    assert(EventStore.readPinned(spark, dstDir)
      .select("event_id", "ts", "user_id", "value").collect().toSet == want,
      "a vacuumed source must not affect the clone")
    // and the clone is a full citizen: it can maintain itself
    EventStore.compactInPlace(spark, dstDir)
    assert(EventStore.readPinned(spark, dstDir)
      .select("event_id", "ts", "user_id", "value").collect().toSet == want)
  }

  test("mergeInto evaluates the updates plan exactly once (internal persist)") {
    // VERDICT r9 "what's wrong" #3: the merge feeds three jobs (detection
    // semi join, rewrite anti join, count+insert) — without the internal
    // persist an expensive or non-deterministic update plan re-evaluated
    // per job, risking a delete set that disagrees with the insert set.
    // A row-counting accumulator in the update plan is the witness.
    val dir = Files.createTempDirectory("graft-merge1x").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 3)
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.repartition(2), dir)
    val acc = spark.sparkContext.longAccumulator("updEvals")
    import spark.implicits._
    val updates = src.orderBy("event_id").limit(20)
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .map { r => acc.add(1L); r }
      .toDF("event_id", "ts", "user_id", "value")
    val m = EventStore.mergeInto(spark, dir, updates, Seq("event_id"))
    assert(m.rowsInserted == 20 && m.rowsDeleted == 20)
    assert(acc.value == 20L,
      s"updates plan materialized ${acc.value}/20 rows — must evaluate once")
  }

  test("manifest commit race: N threads hammering commits lose nothing, versions stay unique and monotone") {
    // The property the no-overwrite publish exists for (EventStore.commit
    // scaladoc): POSIX rename-to-destination OVERWRITES, so without an
    // arbiter two racing committers can both "succeed" at the same
    // version and one commit is silently lost. Witness: after T threads ×
    // K commits each (every commit adds one unique data file, copied in
    // first and committed with a job-free rebasing commit), the number of
    // manifest versions equals the number of successful commits (no
    // overwrite collapsed two), and the final version lists EVERY copied
    // file (no commit lost). No caller retries: the engine rebases a lost
    // commit itself. Run on the local scheme (hard-link publish) and on
    // `renamehook:` (HDFS-style rename publish).
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) === 1)
      .select("event_id", "ts", "user_id", "value")
    val conf = spark.sparkContext.hadoopConfiguration
    for (scheme <- Seq("file", "renamehook")) {
      val local = Files.createTempDirectory("graft-race").toString + "/events"
      val dir = if (scheme == "file") local else RenameHookFs.path(conf, local)
      EventStore.createTable(src.coalesce(1), dir)
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      // template data file to clone under fresh names (content irrelevant)
      val template = EventStore.manifestFiles(spark, dir).head
      val partDir = new org.apache.hadoop.fs.Path(template).getParent
      val threads = 8; val perThread = 12
      val committed = new java.util.concurrent.atomic.AtomicInteger(0)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = (0 until threads).map { t =>
        new Thread(() => {
          try (0 until perThread).foreach { i =>
            val name = s"part-race-$t-$i.parquet"
            org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(template),
              fs, new org.apache.hadoop.fs.Path(partDir, name), false, conf)
            EventStore.commitRebased(fs, root, "race", Set.empty, Seq(s"${partDir.getName}/$name"))
            committed.incrementAndGet()
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      val v0 = EventStore.manifestVersion(spark, dir)
      pool.foreach(_.start()); pool.foreach(_.join())
      assert(failures.isEmpty, s"$scheme: thread failures: ${failures.toArray.mkString(", ")}")
      assert(committed.get() == threads * perThread)
      // every successful commit produced its OWN version — none overwritten
      val vFinal = EventStore.manifestVersion(spark, dir)
      assert(vFinal == v0 + committed.get(),
        s"$scheme: expected ${v0 + committed.get()} as final version, got $vFinal — a commit was lost")
      // no commit lost: the final version lists every copied file
      val finalFiles = EventStore.manifestFiles(spark, dir)
      val raceFiles = finalFiles.count(_.contains("part-race-"))
      assert(raceFiles == threads * perThread,
        s"$scheme: committed $raceFiles of ${threads * perThread} race files")
      // and the monotone version chain is fully readable (no corrupt writes)
      ((v0 + 1) to vFinal).foreach { v =>
        assert(EventStore.manifestFiles(spark, dir, v).nonEmpty)
      }
    }
  }

  test("versioned manifests: time travel reaches every retained snapshot; vacuum bounds it loudly") {
    val dir = Files.createTempDirectory("graft-travel").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value")
    val batch1 = src.filter(dayofmonth(col("ts")) <= 2)
    val batch2 = src.filter(dayofmonth(col("ts")).between(3, 4))
    EventStore.createTable(batch1.repartition(2), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    val rows1 = EventStore.readPinned(spark, dir).collect().toSet
    EventStore.insertInto(batch2.repartition(2), dir)
    val v2 = EventStore.manifestVersion(spark, dir)
    assert(v2 == v1 + 1, "every commit bumps the version by one")
    val fullRows = EventStore.readPinned(spark, dir).collect().toSet
    assert(fullRows.size > rows1.size)
    // time travel: the v1 snapshot is exactly what a v1 reader saw
    assert(EventStore.readPinned(spark, dir, v1).collect().toSet == rows1)
    // ...and compaction (a new version) does not disturb it
    val stats = EventStore.compactInPlace(spark, dir)
    assert(stats.nonEmpty)
    val v3 = EventStore.manifestVersion(spark, dir)
    assert(v3 == v2 + 1)
    assert(EventStore.readPinned(spark, dir, v1).collect().toSet == rows1)
    assert(EventStore.readPinned(spark, dir, v2).collect().toSet == fullRows)
    // the manifest log doubles as a change feed: an append-only period
    // diffs to (added, ∅) and the delta files hold exactly batch2; the
    // maintenance commit diffs with a NONEMPTY removed set — the signal
    // incremental consumers re-base on
    val (added, removed) = EventStore.manifestDiff(spark, dir, v1, v2)
    assert(removed.isEmpty && added.nonEmpty)
    assert(EventStore.readFiles(spark, dir, added).collect().toSet ==
      (fullRows -- rows1))
    val (mAdded, mRemoved) = EventStore.manifestDiff(spark, dir, v2, v3)
    assert(mAdded.nonEmpty && mRemoved.nonEmpty,
      "a compaction commit must be visible as rewrite, not append")
    // both sidecars of a version live and die with it
    def sidecars(v: Long) = Seq("stats", "keys")
      .map(k => new java.io.File(dir, s"_graft_manifest.v$v.$k.jsonl"))
    Seq(v1, v2).foreach { v =>
      EventStore.writeFileStats(spark, dir, Seq("user_id"), version = v)
      EventStore.writeFileKeySets(spark, dir, "user_id", version = v)
      assert(sidecars(v).forall(_.exists))
    }
    // retention: keep 2 versions → v1 falls out and FAILS LOUDLY, v2
    // (whose files the compaction replaced but retention protects) and
    // v3 both still read whole
    EventStore.vacuum(spark, dir, keepVersions = 2)
    assert(!sidecars(v1).exists(_.exists), "a dropped version's sidecars must go")
    assert(sidecars(v2).forall(_.exists), "a retained version's sidecars must stay")
    val e = intercept[IllegalArgumentException] {
      EventStore.readPinned(spark, dir, v1)
    }
    assert(e.getMessage.contains("retention"), s"got: ${e.getMessage}")
    assert(EventStore.readPinned(spark, dir, v2).collect().toSet == fullRows)
    assert(EventStore.readPinned(spark, dir).collect().toSet == fullRows)
    // tightening retention to 1 reclaims the replaced pre-compaction
    // files; the current snapshot is untouched
    val deleted = EventStore.vacuum(spark, dir, keepVersions = 1)
    assert(deleted.size == stats.map(_.filesBefore).sum,
      s"expected the ${stats.map(_.filesBefore).sum} replaced inputs, got $deleted")
    assert(!sidecars(v2).exists(_.exists))
    assert(EventStore.readPinned(spark, dir).collect().toSet == fullRows)
  }

  test("ingestManifested: every micro-batch commits a manifest version; maintenance composes with streamed stores") {
    val base = Files.createTempDirectory("graft-ingestman").toString
    val (srcDir, store, ckpt) = (base + "/src", base + "/store", base + "/ckpt")
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 4)
      .select("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    // three source files + maxFilesPerTrigger=1 → three micro-batches
    (0 until 3).foreach { i =>
      src.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = EventStream.ingestManifested(stream, store, ckpt).start()
    try q.processAllAvailable() finally q.stop()
    // one version per batch (first commit on a fresh store is v0)
    assert(EventStore.manifestVersion(spark, store) == 2,
      s"expected v2 after three batch commits, got v${EventStore.manifestVersion(spark, store)}")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("event_id", "user_id", "value").collect().toSet
    assert(key(EventStore.readPinned(spark, store)) == key(src))
    // no _spark_metadata log — the whole point: maintenance composes
    assert(!new java.io.File(store, "_spark_metadata").exists())
    // ...so the per-batch fragmentation compacts in place under pins
    val stats = EventStore.compactInPlace(spark, store)
    assert(stats.nonEmpty && stats.forall(p => p.filesAfter < p.filesBefore))
    assert(key(EventStore.readPinned(spark, store)) == key(src))
    assert(EventStore.vacuum(spark, store).nonEmpty)
    assert(key(EventStore.readPinned(spark, store)) == key(src))
  }

  test("manifest commits need no lock; crashed-maintenance debris is quarantined, then vacuumed") {
    val base = Files.createTempDirectory("graft-manlock").toString
    val store = base + "/store"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 2)
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src, store)
    val rows = src.count()
    def later(n: Int, batch: Long) = EventStore.appendCommitted(
      src.orderBy("event_id").limit(n), store, "debris-spec", batch)

    // 1) a `.manifest.lock` that a crashed committer left behind (stores
    // once serialised commits on one) blocks nothing: the version file's
    // name is the only arbiter
    val lockF = new java.io.File(store, ".manifest.lock")
    assert(lockF.createNewFile())
    val vLocked = EventStore.manifestVersion(spark, store)
    later(5, 0L)
    assert(EventStore.manifestVersion(spark, store) == vLocked + 1)
    assert(EventStore.readPinned(spark, store).count() == rows + 5)
    assert(lockF.delete())

    // 2) simulate a crashed compaction: a compaction-named file moved into
    // a live partition dir but never committed, plus its hidden staging
    // dir, whose partition dir LOOKS like the store's own
    val storeDir = new java.io.File(store)
    val partDir = storeDir.listFiles().filter(f =>
      f.isDirectory && f.getName.contains("=")).minBy(_.getName)
    val dataFile = partDir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    val debris = new java.io.File(partDir, "compact-9999-debris.parquet")
    java.nio.file.Files.copy(dataFile.toPath, debris.toPath)
    val staging = new java.io.File(storeDir, ".compact-staging-9999")
    val stagedPart = new java.io.File(staging, "event_date=2099-01-01")
    assert(stagedPart.mkdirs())
    java.nio.file.Files.copy(dataFile.toPath, new java.io.File(stagedPart, "junk.parquet").toPath)
    // a later commit lists NONE of it — else readers double-count the
    // debris copy next to its original
    later(3, 1L)
    val manifested = EventStore.manifestFiles(spark, store)
    assert(!manifested.exists(_.contains("compact-9999")), "debris committed!")
    assert(!manifested.exists(_.contains("2099")), "staging listed as a partition!")
    assert(EventStore.readPinned(spark, store).count() == rows + 8)

    // 3) vacuum reclaims the debris file and the staging dir
    val deleted = EventStore.vacuum(spark, store)
    assert(deleted.exists(_.contains("compact-9999-debris")), s"debris not reclaimed: $deleted")
    assert(!staging.exists(), "crashed staging must be reclaimed")
    assert(EventStore.readPinned(spark, store).count() == rows + 8)
  }

  test("ingestBatch: a replayed batch lands exactly once; crashed pre-commit files never become visible") {
    // round 8 documented the restart trade ("exactly-once leans on the
    // checkpoint alone"); the txn-carrying commit closes it. Two crash
    // windows, both witnessed here:
    //  (a) crash AFTER the commit, BEFORE the checkpoint → the batch
    //      replays with the same id → lastTxn detects it → skip;
    //  (b) crash BEFORE the commit → moved-in ingest-named files are
    //      unmanifested → no later commit lists them and vacuum reclaims
    //      them.
    val base = Files.createTempDirectory("graft-ing1x").toString
    val store = base + "/store"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 2)
      .select("event_id", "ts", "user_id", "value")
    val app = "ingest:" + base + "/ckpt"
    import graft.streaming.EventStream
    // a commit is one Spark job, the write: no emptiness check runs first
    var committed = false
    val jobs = JobCount(spark.sparkContext) {
      committed = EventStream.ingestBatch(src, store, app, 0L)
    }
    assert(committed)
    assert(jobs == 1, s"a non-empty ingestBatch launched $jobs jobs")
    val rows = src.count()
    assert(EventStore.readPinned(spark, store).count() == rows)
    assert(EventStore.lastTxn(spark, store, app).contains(0L))
    // (a) same batch id replayed → skipped, nothing changes
    assert(!EventStream.ingestBatch(src, store, app, 0L))
    assert(EventStore.readPinned(spark, store).count() == rows)
    assert(EventStore.manifestVersion(spark, store) == 0L)
    // a NEW batch id commits normally, txn advances with it
    assert(EventStream.ingestBatch(src.limit(5), store, app, 1L))
    assert(EventStore.readPinned(spark, store).count() == rows + 5)
    assert(EventStore.lastTxn(spark, store, app).contains(1L))
    // an empty batch commits nothing: no manifest version, no txn
    assert(!EventStream.ingestBatch(src.limit(0), store, app, 2L))
    assert(EventStore.manifestVersion(spark, store) == 1L)
    assert(EventStore.lastTxn(spark, store, app).contains(1L))
    // a second app's txns are independent
    assert(EventStore.lastTxn(spark, store, "ingest:other").isEmpty)
    assert(EventStream.ingestBatch(src.limit(3), store, "ingest:other", 0L))
    assert(EventStore.lastTxn(spark, store, "ingest:other").contains(0L))
    assert(EventStore.lastTxn(spark, store, app).contains(1L),
      "another app's commit must not clobber this app's txn high-water mark")
    // (b) crashed pre-commit attempt: ingest-named files moved in but
    // never committed — invisible to later commits, reclaimed by vacuum
    val visible = EventStore.readPinned(spark, store).count()
    val partDir = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.contains("=")).minBy(_.getName)
    val donor = partDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(partDir, "ingest-99999-crashed.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    assert(EventStream.ingestBatch(src.limit(2), store, app, 3L))
    assert(EventStore.readPinned(spark, store).count() == visible + 2,
      "a later commit must not resurrect a crashed ingest attempt's files")
    assert(EventStore.vacuum(spark, store).exists(_.contains("ingest-99999")),
      "vacuum must reclaim the crashed attempt")
  }

  test("ingestManifested skips empty micro-batches instead of dying or burning retention versions") {
    val base = Files.createTempDirectory("graft-emptybatch").toString
    val (srcDir, store, ckpt) = (base + "/src", base + "/store", base + "/ckpt")
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 2)
      .select("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    // batch 0 is EMPTY (a zero-row file): on a fresh store this used to
    // throw inside foreachBatch ('no data files') and kill the stream
    src.limit(0).coalesce(1).write.mode("append").parquet(srcDir)
    def drain(): Unit = {
      val stream = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EventStream.ingestManifested(stream, store, ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(!new java.io.File(store).exists() ||
      intercept[IllegalArgumentException](
        EventStore.manifestVersion(spark, store)).getMessage.contains("no manifest"),
      "an empty batch must commit nothing")
    // real data → v0; a trailing empty batch must not bump the version
    // (every redundant version erodes vacuum(keepVersions) retention)
    src.coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    assert(EventStore.manifestVersion(spark, store) == 0)
    src.limit(0).coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    assert(EventStore.manifestVersion(spark, store) == 0,
      "an empty batch burned a manifest version")
    assert(EventStore.readPinned(spark, store).count() == src.count())
  }

  test("trailingWindowStream: two-batch feed equals the batch trailing join row-for-row") {
    import org.apache.spark.sql.functions.sum
    val spark2 = spark; import spark2.implicits._
    val dir = Files.createTempDirectory("graft-trailstream").toString + "/left"
    val right = Seq((1L, 89L, 5.0), (1L, 90L, 1.0), (1L, 100L, 2.0),
      (1L, 110L, 4.0), (2L, 100L, 8.0)).toDF("k", "t", "v")
    val batchA = Seq((1L, 100L), (2L, 100L))
    val batchB = Seq((1L, 115L), (3L, 100L))
    def mk(rows: Seq[(Long, Long)]) = rows.toDF("k", "t")
      .withColumn("eid", col("k") * 1000 + col("t"))
    mk(batchA).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(mk(batchA).schema).parquet(dir)
    val aggs = Map("v_sum" -> sum(col("v")))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    val query = graft.operators.AsofJoin.trailingWindowStream(
        stream, right, "k", "k", "t", "t", windowLen = 10L, aggs) { out =>
      got.synchronized {
        got ++= out.collect().map(r =>
          r.getAs[Long]("eid") -> Option(r.get(r.fieldIndex("v_sum"))).map(_.asInstanceOf[Double]))
      }
    }.start()
    try {
      query.processAllAvailable()
      mk(batchB).coalesce(1).write.mode("append").parquet(dir)
      query.processAllAvailable()
    } finally query.stop()
    val batch = graft.operators.AsofJoin.trailingWindow(
        mk(batchA ++ batchB), right, "k", "k", "t", "t", windowLen = 10L, aggs)
      .collect().map(r =>
        r.getAs[Long]("eid") -> Option(r.get(r.fieldIndex("v_sum"))).map(_.asInstanceOf[Double]))
      .toSet
    assert(got.toSet == batch,
      s"streamed ${got.toSet} != batch $batch — chopping the feed must not change totals")
    assert(batch.size == 4 && batch.nonEmpty)
    // the guards: batch left / streaming right are loud errors
    assert(intercept[IllegalArgumentException](
      graft.operators.AsofJoin.trailingWindowStream(
        mk(batchA), right, "k", "k", "t", "t", 10L, aggs)(_ => ()))
      .getMessage.contains("must be a stream"))
    assert(intercept[IllegalArgumentException](
      graft.operators.AsofJoin.trailingWindowStream(
        stream, stream, "k", "k", "t", "t", 10L, aggs)(_ => ()))
      .getMessage.contains("static"))
  }

  test("bucketed table: self-join and aggregation on the bucket key skip the shuffle") {
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value") // ns-mirror col not needed here
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    // bucketing pre-shuffles once at write time, so joins and aggregations
    // on the bucket key read co-located buckets (as ensureBucketedTables
    // writes the registry's bucketed tables)
    src.write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable("ev_bucketed")
    // at this toy scale the planner would just broadcast the table — turn
    // that off so the plan shows what bucketing buys on two FACT-sized sides
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("ev_bucketed")
      // equi-join on the bucket key: both sides read pre-bucketed files —
      // no Exchange anywhere in the plan
      val joined = t.as("a").join(t.as("b"), "user_id")
      val jp = joined.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange"), s"bucketed join must not shuffle:\n$jp")
      assert(joined.count() > 0)
      // aggregation on the bucket key: partial == final, zero exchanges
      val agg = t.groupBy(col("user_id")).agg(sum(col("value")))
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange"), s"bucketed agg must not shuffle:\n$ap")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    }
  }

  test("streaming windowed agg matches the batch compiler on the same data") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"), granularitySec = 86400L)

    val stream = EventStream.read(spark, dir)
    val agg = EventStream.windowedAgg(stream, q, watermark = "0 seconds")
    val query = agg.writeStream.format("memory").queryName("ss_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("ss_out")
        .select("event_type", "w_start", "sum_value", "count_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1000), r.getDouble(3))).toSet
      val batch = Compiler.runUnsorted(src, q)
        .select("event_type", "w_start", "sum_value", "count_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1000), r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("streaming fixed-bounds heatmap matches the batch heatmap bucket-for-bucket") {
    val dir = Files.createTempDirectory("graft-heat").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = ZxQuery(selects = Nil, granularitySec = 86400L)
    val streamed = EventStream.heatmapAgg(EventStream.read(spark, dir), q,
      "value", lo = 0.0, hi = 250.0, buckets = 10, watermark = "0 seconds")
    val query = streamed.writeStream.format("memory").queryName("heat_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("t_bucket", "v_bucket", "weight", "n").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1000), r.getLong(3))).toSet
      val batch = canon(Compiler.heatmap(src, q, "value", 0.0, 250.0, 10))
      assert(canon(spark.table("heat_out")) == batch && batch.size > 5)
    } finally query.stop()
  }

  test("streaming rejects exact count_distinct with a clear message") {
    val stream = EventStream.read(spark, "/root/testdata/sf0.001")
    val q = ZxQuery(selects = Seq(Select(Agg.CountDistinct, "user_id")))
    val e = intercept[IllegalArgumentException](EventStream.windowedAgg(stream, q))
    assert(e.getMessage.contains("approx_count_distinct"))
  }

  test("streaming approx_count_distinct (the suggested replacement) works") {
    val dir = Files.createTempDirectory("graft-acd").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = ZxQuery(
      selects = Seq(Select(Agg.ApproxCountDistinct, "user_id")),
      granularitySec = 86400L * 365) // one window over the whole testdata span
    val agg = EventStream.windowedAgg(EventStream.read(spark, dir), q,
      watermark = "0 seconds")
    val query = agg.writeStream.format("memory").queryName("acd_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.table("acd_out").count() == 1)
      val approx = spark.table("acd_out")
        .agg(sum(col("approx_count_distinct_user_id"))).head().getLong(0)
      val exact = src.select(countDistinct(col("user_id"))).head().getLong(0)
      assert(math.abs(approx - exact).toDouble / exact <= 0.1)
    } finally query.stop()
  }

  test("streaming p50_approx (the sketch percentile) works where exact p50 is batch-only") {
    val dir = Files.createTempDirectory("graft-sp50").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = ZxQuery(selects = Seq(Select(Agg.P50Approx, "value")),
      granularitySec = 86400L * 365) // one window over the whole span
    val agg = EventStream.windowedAgg(EventStream.read(spark, dir), q,
      watermark = "0 seconds")
    val query = agg.writeStream.format("memory").queryName("sp50_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.table("sp50_out").count() == 1)
      val approx = spark.table("sp50_out")
        .select("p50_approx_value").head().getDouble(0)
      val exact = src.selectExpr("percentile(value, 0.5)").head().getDouble(0)
      // at 10k sketch accuracy over ~6k events the sketch is near-exact
      assert(math.abs(approx - exact) / math.max(math.abs(exact), 1e-9) <= 0.05,
        s"approx=$approx exact=$exact")
    } finally query.stop()
  }

  test("streaming hopping windows match the batch compiler on the same data") {
    val dir = Files.createTempDirectory("graft-hop").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value"), Select(Agg.Count, "value")),
      groupBy = Seq("event_type"), granularitySec = 86400L,
      slideSec = Some(43200L))
    val agg = graft.streaming.EventStream.hoppingAgg(
      graft.streaming.EventStream.read(spark, dir), q, watermark = "0 seconds")
    val query = agg.writeStream.format("memory").queryName("hop_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("event_type", "w_start", "w_end", "sum_value", "count_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1000), r.getDouble(4))).toSet
      val streamed = canon(spark.table("hop_out"))
      val batch = canon(graft.compile.Compiler.runUnsorted(src, q))
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // every event lands in exactly size/slide = 2 windows: hopping total
      // count is 2x the tumbling total
      val tumbling = graft.compile.Compiler
        .runUnsorted(src, q.copy(slideSec = None))
        .agg(sum(col("count_value"))).head().getDouble(0)
      val hopping = spark.table("hop_out")
        .agg(sum(col("count_value"))).head().getDouble(0)
      assert(hopping == 2 * tumbling)
    } finally query.stop()
  }

  test("streaming session windows match the batch compiler on closed sessions") {
    val dir = Files.createTempDirectory("graft-sess").toString
    def writeBatch(rows: Seq[(Long, Long, String, String, String, String)]): Unit = {
      val data = rows.map { case (id, sec, foo, x, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("append").parquet(dir)
    }
    val base = 1704067200L
    val batch1 = Seq(
      (1L, base + 0L, "100", "7", "1", "t1"), (2L, base + 1L, "200", "1", null, "t1,t2"),
      (3L, base + 2L, "300", "3", null, "t3"), (4L, base + 3L, "400", "2", "9", "t2"),
      (5L, base + 4L, "500", "4", null, null), (6L, base + 5L, "600", "5", null, "t3"),
      (7L, base + 6L, "700", "6", null, null), (8L, base + 7L, "800", "9", null, null),
      (9L, base + 8L, "900", "8", null, null), (10L, base + 9L, "1000", "0", "9", null))
    writeBatch(batch1)
    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "foo"), Select(Agg.Count, "foo")),
      groupBy = Seq("y"), sessionGapSec = Some(5L))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.EventStream.sessionAgg(stream, q, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // far-future events advance the watermark past every open session
      writeBatch(Seq((11L, base + 5000L, "1", "1", "1", null),
        (12L, base + 5000L, "1", "1", "9", null),
        (13L, base + 5000L, "1", "1", null, null)))
      query.processAllAvailable()
      def canon(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1000), r.getDouble(4))).toSet
      val streamed = canon(spark.table("sess_out")
        .select("y", "w_start", "w_end", "sum_foo", "count_foo").collect())
      val batch1Df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch1.map { case (id, sec, foo, x, y, tag) =>
          org.apache.spark.sql.Row(id,
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
        }, 2), schema)
      val batch = canon(graft.compile.Compiler.runSession(batch1Df, q)
        .select("y", "w_start", "w_end", "sum_foo", "count_foo").collect())
      assert(streamed == batch)
      // sessions: y=1 {0}; y=9 {3}, {9} (gap 6 > 5 splits); __nil {1..8}
      assert(streamed.map(t => (t._1, t._2 - base, t._3 - base)) ==
        Set(("1", 0L, 5L), ("9", 3L, 8L), ("9", 9L, 14L),
          (graft.compile.Compiler.NilSentinel, 1L, 13L)))
    } finally query.stop()
  }

  test("stateful streaming gap windows match the batch operator on closed windows") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-gws").toString
    def writeBatch(rows: Seq[(Long, Long, String, String, String, String)]): Unit = {
      val data = rows.map { case (id, sec, foo, x, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("append").parquet(dir)
    }
    // batch 1: the canonical fixture rows, shifted to a realistic epoch —
    // an event at ts == the initial watermark (epoch 0) is filtered as late
    // by Spark's stateful-operator late-row filter, a degenerate boundary
    // no real stream hits
    val base = 1704067200L
    val batch1 = Seq(
      (1L, 0L, "100", "7", "1", "t1"), (2L, 1L, "200", "1", null, "t1,t2"),
      (3L, 2L, "300", "3", null, "t3"), (4L, 3L, "400", "2", "9", "t2"),
      (5L, 4L, "500", "4", null, null), (6L, 5L, "600", "5", null, "t3"),
      (7L, 6L, "700", "6", null, null), (8L, 7L, "800", "9", null, null),
      (9L, 8L, "900", "8", null, null), (10L, 9L, "1000", "0", "9", null))
      .map { case (id, sec, foo, x, y, tag) => (id, base + sec, foo, x, y, tag) }
    writeBatch(batch1)

    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "foo"), Select(Agg.Count, "foo")),
      groupBy = Seq("y"), granularitySec = 15L)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.GapWindowStream(stream, q, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("gws_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(spark.table("gws_out").count() == 0) // all windows still open
      // batch 2: one far-future event per group closes the first windows
      writeBatch(Seq((11L, base + 1000L, "1", "1", "1", null),
        (12L, base + 1000L, "1", "1", "9", null),
        (13L, base + 1000L, "1", "1", null, null)))
      query.processAllAvailable()
      val streamed = spark.table("gws_out")
        .collect().map(r => (r.getSeq[String](0).head, r.getLong(1), r.getLong(2),
          r.getSeq[Double](3).head)).toSet
      // batch operator over the same batch-1 rows is the semantics oracle
      val batch1Df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch1.map { case (id, sec, foo, x, y, tag) =>
          org.apache.spark.sql.Row(id,
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
        }, 2), schema)
      val batch = graft.operators.GapWindows(batch1Df, q, idCol = Some("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(streamed.map(_._4) == Set(100.0, 1400.0, 4000.0))
    } finally query.stop()
  }

  test("gap windows: cross-batch out-of-order events match the batch operator") {
    val dir = Files.createTempDirectory("graft-gwo").toString
    def mkRows(t: Seq[(Long, Long, String)]) = t.map { case (id, sec, foo) =>
      org.apache.spark.sql.Row(id,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, "9", null)
    }
    def write(t: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(mkRows(t), 1), schema)
        .write.mode("append").parquet(dir)
    val base = 1704067200L
    // batch A sees ts 0, 9, 30; batch B delivers 3 and 7 AFTER them — above
    // the 50s watermark, so they must be buffered and folded in ts order,
    // not walked in arrival order (the round-1 corruption case)
    val a = Seq((1L, base + 0L, "100"), (2L, base + 9L, "200"), (5L, base + 30L, "500"))
    val b = Seq((3L, base + 3L, "300"), (4L, base + 7L, "400"))
    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "foo")),
      groupBy = Seq("y"), granularitySec = 15L)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.GapWindowStream(stream, q, watermark = "50 seconds")
    val query = out.writeStream.format("memory").queryName("gwo_out")
      .outputMode("append").start()
    try {
      write(a); query.processAllAvailable()
      write(b); query.processAllAvailable()
      // far-future event advances the watermark past every deadline
      write(Seq((6L, base + 5000L, "1"))); query.processAllAvailable()
      val streamed = spark.table("gwo_out").collect()
        .map(r => (r.getSeq[String](0).head, r.getLong(1), r.getLong(2),
          r.getSeq[Double](3).head)).toSet
      val union = spark.createDataFrame(
        spark.sparkContext.parallelize(mkRows(a ++ b), 2), schema)
      val batch = graft.operators.GapWindows(union, q, idCol = Some("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(streamed == Set(("9", base + 0L, base + 9L, 1000.0)))
    } finally query.stop()
  }

  test("streaming dedup drops within-watermark re-deliveries across batches") {
    val dir = Files.createTempDirectory("graft-sdd").toString
    def mkRows(t: Seq[(Long, Long, String)]) = t.map { case (id, sec, foo) =>
      org.apache.spark.sql.Row(id,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, "9", null)
    }
    def write(t: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(mkRows(t), 1), schema)
        .write.mode("append").parquet(dir)
    val base = 1704067200L
    // batch B re-delivers id 1 and 2 (same key) within the 60s watermark —
    // both must be dropped by state carried across the batch boundary
    val a = Seq((1L, base + 0L, "100"), (2L, base + 9L, "200"))
    val b = Seq((1L, base + 1L, "100"), (2L, base + 9L, "200"), (3L, base + 30L, "300"))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.EventStream.dedupByKey(stream, Seq("id"),
      watermark = "60 seconds", tsCol = "ts")
    val query = out.writeStream.format("memory").queryName("sdd_out")
      .outputMode("append").start()
    try {
      write(a); query.processAllAvailable()
      write(b); query.processAllAvailable()
      val ids = spark.table("sdd_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), "one survivor per key")
    } finally query.stop()
  }

  test("curation gates run unchanged on a document stream (batch == stream)") {
    import graft.functions.TextFunctions._
    val dir = Files.createTempDirectory("graft-docstream").toString
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    def gates(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      qualityOk(col("text")).as("ok"),
      langId(col("text")).as("lid"))
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val query = gates(stream).writeStream.format("memory")
      .queryName("docs_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("docs_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getString(3))).toSet
      val batch = gates(docs).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getString(3))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally query.stop()
  }

  test("image perceptual hashing runs unchanged on a document stream (batch == stream)") {
    // packBmp -> imageDHash is a stateless narrow map: the ingest-time
    // face of m6 — hash at the edge, band-join near-dups downstream
    // against the accumulated index (the d8 incremental-dedup shape)
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("graft-imgstream").toString
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    def hash(df: org.apache.spark.sql.DataFrame) =
      Multimodal.imageDHash(Multimodal.packBmp(df))
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val query = hash(stream).writeStream.format("memory")
      .queryName("dhash_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val canon = (rows: Array[org.apache.spark.sql.Row]) => rows.map(r =>
        (r.getLong(0), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toSet
      val streamed = canon(spark.table("dhash_out").collect())
      assert(streamed == canon(hash(docs).collect()) && streamed.nonEmpty)
    } finally query.stop()
  }

  test("streaming windowed agg applies where-tree, HAVING and time bounds like batch") {
    val dir = Files.createTempDirectory("graft-whv").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    import ConditionTree._
    // every clause is mutation-checked below: OR-tree keeps click/error,
    // the flat conjunct drops value<=5 rows, the time bounds drop the first/
    // last weeks, HAVING count>40 drops about half the remaining windows
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value")),
      groupBy = Seq("event_type"), granularitySec = 604800L,
      conditions = Seq(Condition(Cmp.Gt, "value", "5")),
      where = Some(Or(Seq(Leaf(Condition(Cmp.Eq, "event_type", "click")),
        Leaf(Condition(Cmp.Eq, "event_type", "error"))))),
      tStart = Some(1704500000L), tEnd = Some(1706000000L),
      having = Seq(Having(Select(Agg.Count, "value"), Cmp.Gt, "40")))
    val agg = EventStream.windowedAgg(EventStream.read(spark, dir), q,
      watermark = "0 seconds")
    // the HAVING-only count aggregate is computed for the filter, then pruned
    assert(!agg.columns.contains("count_value"))
    val query = agg.writeStream.format("memory").queryName("whv_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("event_type", "w_start", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1000))).toSet
      val streamed = canon(spark.table("whv_out"))
      val batch = canon(Compiler.runUnsorted(src, q))
      assert(streamed == batch && streamed.nonEmpty)
      // mutation sensitivity: dropping any clause changes the batch result,
      // so a streaming path that ignored it could not have matched above
      assert(streamed != canon(Compiler.runUnsorted(src, q.copy(where = None))))
      assert(streamed != canon(Compiler.runUnsorted(src, q.copy(having = Nil))))
      assert(streamed != canon(Compiler.runUnsorted(src, q.copy(conditions = Nil))))
      assert(streamed != canon(Compiler.runUnsorted(src,
        q.copy(tStart = None, tEnd = None))))
    } finally query.stop()
  }

  test("streaming hopping agg applies where-tree and HAVING like batch") {
    val dir = Files.createTempDirectory("graft-hwh").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    import ConditionTree._
    val q = ZxQuery(
      selects = Seq(Select(Agg.Sum, "value")),
      groupBy = Seq("event_type"), granularitySec = 604800L,
      slideSec = Some(302400L),
      where = Some(Not(Leaf(Condition(Cmp.Eq, "event_type", "view")))),
      having = Seq(Having(Select(Agg.Count, "value"), Cmp.Gt, "40")))
    val agg = EventStream.hoppingAgg(EventStream.read(spark, dir), q,
      watermark = "0 seconds")
    assert(!agg.columns.contains("count_value"))
    val query = agg.writeStream.format("memory").queryName("hwh_out")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("event_type", "w_start", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1000))).toSet
      val streamed = canon(spark.table("hwh_out"))
      assert(streamed == canon(Compiler.runHopping(src, q)) && streamed.nonEmpty)
      assert(streamed != canon(Compiler.runHopping(src, q.copy(where = None))))
      assert(streamed != canon(Compiler.runHopping(src, q.copy(having = Nil))))
    } finally query.stop()
  }

  test("streaming session agg applies the where-tree like batch") {
    val dir = Files.createTempDirectory("graft-swh").toString
    def writeBatch(rows: Seq[(Long, Long, String, String, String, String)]): Unit = {
      val data = rows.map { case (id, sec, foo, x, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("append").parquet(dir)
    }
    val base = 1704067200L
    val batch1 = Seq(
      (1L, base + 0L, "100", "7", "1", "t1"), (2L, base + 1L, "200", "1", null, "t1,t2"),
      (3L, base + 2L, "300", "3", null, "t3"), (4L, base + 3L, "400", "2", "9", "t2"),
      (5L, base + 4L, "500", "4", null, null), (6L, base + 5L, "600", "5", null, "t3"),
      (7L, base + 6L, "700", "6", null, null), (8L, base + 7L, "800", "9", null, null),
      (9L, base + 8L, "900", "8", null, null), (10L, base + 9L, "1000", "0", "9", null))
    writeBatch(batch1)
    import ConditionTree._
    // OR-tree keeps y∈{1,9} rows (1, 4, 10) — the null-y rows must not open
    // sessions on either engine
    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "foo")),
      groupBy = Seq("y"), sessionGapSec = Some(5L),
      where = Some(Or(Seq(Leaf(Condition(Cmp.Eq, "y", "1")),
        Leaf(Condition(Cmp.Eq, "y", "9"))))))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.EventStream.sessionAgg(stream, q, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("swh_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // a far-future row advances the watermark past every open session; it
      // must satisfy the where-tree (predicates push below the watermark
      // node) — its own far-future session stays open and never appears
      writeBatch(Seq((11L, base + 5000L, "1", "1", "1", null)))
      query.processAllAvailable()
      val streamed = spark.table("swh_out")
        .select("y", "w_start", "w_end", "sum_foo")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1000))).toSet
      val batch1Df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch1.map { case (id, sec, foo, x, y, tag) =>
          org.apache.spark.sql.Row(id,
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
        }, 2), schema)
      val batch = graft.compile.Compiler.runSession(batch1Df, q)
        .select("y", "w_start", "w_end", "sum_foo")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1000))).toSet
      assert(streamed == batch)
      // y=1 session {row 1}; y=9 sessions {row 4} and {row 10} (gap 6 > 5)
      assert(streamed == Set(("1", base + 0L, base + 5L, 100000L),
        ("9", base + 3L, base + 8L, 400000L), ("9", base + 9L, base + 14L, 1000000L)))
    } finally query.stop()
  }

  test("streaming gap windows apply filters and time bounds like the batch walk") {
    val dir = Files.createTempDirectory("graft-gwf").toString
    def writeBatch(rows: Seq[(Long, Long, String, String, String, String)]): Unit = {
      val data = rows.map { case (id, sec, foo, x, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("append").parquet(dir)
    }
    val base = 1704067200L
    val batch1 = Seq(
      (1L, base + 0L, "100", "7", "1", "t1"), (2L, base + 1L, "200", "1", null, "t1,t2"),
      (3L, base + 2L, "300", "3", null, "t3"), (4L, base + 3L, "400", "2", "9", "t2"),
      (5L, base + 4L, "500", "4", null, null), (6L, base + 5L, "600", "5", null, "t3"),
      (7L, base + 6L, "700", "6", null, null), (8L, base + 7L, "800", "9", null, null),
      (9L, base + 8L, "900", "8", null, null), (10L, base + 9L, "1000", "0", "9", null))
    writeBatch(batch1)
    import ConditionTree._
    // where-tree keeps y∈{1,9} (rows 1, 4, 10); the flat conjunct foo>200
    // drops row 1; tEnd = base+5 drops row 10 — survivor: row 4 only
    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "foo")),
      groupBy = Seq("y"), granularitySec = 15L,
      conditions = Seq(Condition(Cmp.Gt, "foo", "200")),
      where = Some(Or(Seq(Leaf(Condition(Cmp.Eq, "y", "1")),
        Leaf(Condition(Cmp.Eq, "y", "9"))))),
      tEnd = Some(base + 5L))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.GapWindowStream(stream, q, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("gwf_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // the closer satisfies the non-time predicates (those push below the
      // watermark node) but lies PAST tEnd: the ts bounds stay above the
      // watermark, so an out-of-range event still advances the stream clock
      // — a tEnd-bounded query must be able to close its final windows
      writeBatch(Seq((11L, base + 5000L, "300", "1", "9", null)))
      query.processAllAvailable()
      val streamed = spark.table("gwf_out")
        .collect().map(r => (r.getSeq[String](0).head, r.getLong(1), r.getLong(2),
          r.getSeq[Double](3).head)).toSet
      val batch1Df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch1.map { case (id, sec, foo, x, y, tag) =>
          org.apache.spark.sql.Row(id,
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
        }, 2), schema)
      // the batch walk self-filters through the same Compiler.scanFilter
      val batch = graft.operators.GapWindows(batch1Df, q, idCol = Some("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(streamed == Set(("9", base + 3L, base + 3L, 400.0)))
    } finally query.stop()
  }

  test("streaming rejects exact count_distinct injected via HAVING too") {
    val stream = EventStream.read(spark, "/root/testdata/sf0.001")
    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "value")),
      having = Seq(Having(Select(Agg.CountDistinct, "user_id"), Cmp.Gt, "2")))
    val e = intercept[IllegalArgumentException](EventStream.windowedAgg(stream, q))
    assert(e.getMessage.contains("approx_count_distinct"))
    val e2 = intercept[IllegalArgumentException](EventStream.sessionAgg(stream,
      q.copy(sessionGapSec = Some(60L))))
    assert(e2.getMessage.contains("approx_count_distinct"))
  }

  test("streaming raw projection (tail -f) filters and projects like batch") {
    val dir = Files.createTempDirectory("graft-raw").toString
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    import ConditionTree._
    val q = ZxQuery(
      selects = Seq(Select(Agg.Raw, "event_id"), Select(Agg.Raw, "event_type")),
      where = Some(Or(Seq(Leaf(Condition(Cmp.Eq, "event_type", "signup")),
        Leaf(Condition(Cmp.Eq, "event_type", "purchase"))))),
      tStart = Some(1704500000L), tEnd = Some(1706000000L))
    val raw = EventStream.rawStream(EventStream.read(spark, dir), q)
    assert(raw.columns.toSeq == Seq("event_id", "event_type"))
    val query = raw.writeStream.format("memory").queryName("raw_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("raw_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = Compiler.runRaw(src, q).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed.forall(t => t._2 == "signup" || t._2 == "purchase"))
    } finally query.stop()
    // LIMIT has no meaning on an unbounded stream — rejected loudly
    val e = intercept[IllegalArgumentException](
      EventStream.rawStream(EventStream.read(spark, dir), q.copy(limit = Some(5))))
    assert(e.getMessage.contains("tailConsole"))
  }

  test("SQL runStream routes session/slide/exact/raw onto the streaming operators") {
    import graft.sql.ZxSql
    val dir = Files.createTempDirectory("graft-sqlstream").toString
    def writeBatch(rows: Seq[(Long, Long, String, String, String, String)]): Unit = {
      val data = rows.map { case (id, sec, foo, x, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("append").parquet(dir)
    }
    val base = 1704067200L
    val batch1 = Seq(
      (1L, base + 0L, "100", "7", "1", "t1"), (2L, base + 1L, "200", "1", null, "t1,t2"),
      (3L, base + 2L, "300", "3", null, "t3"), (4L, base + 3L, "400", "2", "9", "t2"),
      (5L, base + 4L, "500", "4", null, null), (6L, base + 5L, "600", "5", null, "t3"),
      (7L, base + 6L, "700", "6", null, null), (8L, base + 7L, "800", "9", null, null),
      (9L, base + 8L, "900", "8", null, null), (10L, base + 9L, "1000", "0", "9", null))
    writeBatch(batch1)
    val batch1Df = spark.createDataFrame(
      spark.sparkContext.parallelize(batch1.map { case (id, sec, foo, x, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
      }, 2), schema)
    def stream() = spark.readStream.schema(schema).parquet(dir)

    // one SQL string, both engines: the filtered exact gap walk
    val gapSql = "select sum(foo) where (y = 1 or y = 9) and foo > 200 group by y granularity 15 exact"
    val gq = stream()
    val gOut = ZxSql.runStream(gq, gapSql, watermark = "0 seconds")
    val gQuery = gOut.writeStream.format("memory").queryName("sqlgap_out")
      .outputMode("append").start()
    try {
      gQuery.processAllAvailable()
      // the closer passes the SQL WHERE clause and breaches the open window
      writeBatch(Seq((11L, base + 5000L, "300", "1", "9", null)))
      gQuery.processAllAvailable()
      // runStream reshapes GwOut to the batch GapWindows schema
      assert(gOut.columns.toSeq == Seq("y", "w_start", "w_end", "sum_foo"))
      val streamed = spark.table("sqlgap_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = ZxSql.run(batch1Df, gapSql, idCol = Some("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally gQuery.stop()

    // session windows from SQL, batch == stream on closed sessions
    val sessSql = "select sum(foo) where y = 9 group by y session 5"
    val sOut = ZxSql.runStream(stream(), sessSql, watermark = "0 seconds")
    val sQuery = sOut.writeStream.format("memory").queryName("sqlsess_out")
      .outputMode("append").start()
    try {
      sQuery.processAllAvailable()
      val streamed = spark.table("sqlsess_out")
        .select("y", "w_start", "w_end", "sum_foo")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1000))).toSet
      val batch = ZxSql.run(batch1Df, sessSql)
        .select("y", "w_start", "w_end", "sum_foo")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1000))).toSet
      // the base+5000 closer written in the gap case above is y=9: every
      // batch1 session closes under it; its own session stays open
      assert(streamed == batch && streamed.nonEmpty)
    } finally sQuery.stop()

    // raw tail and hopping windows route; batch-only constructs are rejected
    assert(ZxSql.runStream(stream(), "select foo, y where y = 9").isStreaming)
    assert(ZxSql.runStream(stream(),
      "select sum(foo) group by y granularity 10 slide 5").isStreaming)
    import graft.sql.ZxSql.ParseError
    intercept[ParseError](ZxSql.runStream(stream(),
      "select sum(foo) group by y order by sum(foo) desc"))
    intercept[ParseError](ZxSql.runStream(stream(), "select foo limit 5"))
    intercept[ParseError](ZxSql.runStream(stream(), "select heatmap(foo)"))
  }

  test("SQL runStream routes asof join onto the broadcast formulation, matching batch") {
    import graft.sql.ZxSql
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqlasof").toString
    val base = 1704067200L
    val rows = Seq(
      (1L, base + 0L, "100", "7", "1", "t1"), (2L, base + 1L, "200", "1", null, "t1,t2"),
      (3L, base + 2L, "300", "3", null, "t3"), (4L, base + 3L, "400", "2", "9", "t2"),
      (8L, base + 7L, "800", "9", null, null), (10L, base + 9L, "1000", "0", "9", null))
    val data = rows.map { case (id, sec, foo, x, y, tag) =>
      org.apache.spark.sql.Row(id,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, x, y, tag)
    }
    val batchDf = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    batchDf.write.mode("append").parquet(dir)
    // x="1" has a version from id 1 (matches id 2), x="9" only from id 9
    // (row id 8 predates it → null), every other key is unknown → null
    val dim = Seq(("1", 1L, "v1"), ("9", 9L, "v9")).toDF("dkey", "dt", "ver")
    val sql = "select id, foo, x asof join dim on x = dkey at id >= dt carry ver"
    val out = ZxSql.runStream(spark.readStream.schema(schema).parquet(dir), sql,
      tables = Map("dim" -> dim))
    val query = out.writeStream.format("memory").queryName("sqlasof_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "foo", "x", "ver").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), Option(r.getString(3)))).toSet
      val streamed = canon(spark.table("sqlasof_out"))
      val batch = canon(ZxSql.run(batchDf, sql, tables = Map("dim" -> dim)))
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed.exists(_._4.contains("v1")) && streamed.exists(_._4.isEmpty))
    } finally query.stop()
    // trailing joins still need state — rejected with guidance
    import graft.sql.ZxSql.ParseError
    val e = intercept[ParseError](ZxSql.runStream(
      spark.readStream.schema(schema).parquet(dir),
      "select id, x trailing join dim on x = dkey at id >= dt within 60 agg count(ver)",
      tables = Map("dim" -> dim)))
    assert(e.getMessage.contains("foreachBatch"))
  }

  test("streaming multi-col group keys with spaces round-trip losslessly (NUL separator)") {
    import graft.sql.ZxSql
    val dir = Files.createTempDirectory("graft-nulkey").toString
    def write(rows: Seq[(Long, Long, String, String, String)]): Unit = {
      val data = rows.map { case (id, sec, foo, y, tag) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, y, tag)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("append").parquet(dir)
    }
    val base = 1704067200L
    // adversarial pair: ANY joined-string key with separator byte S renders
    // ("a b","c") and ("a","b c") as the same key when a value contains S
    // (here: space) — merging two distinct groups AND mis-splitting the
    // columns on output. The structural array<string> key (GapWindowStream
    // keyExpr / ZxSql.runStream element_at reshape) has no separator at
    // all; this spec fails if a joined-string encoding ever returns.
    val rows = Seq(
      (1L, base + 0L, "100", "a b", "c"), (2L, base + 2L, "200", "a b", "c"),
      (3L, base + 1L, "1000", "a", "b c"), (4L, base + 3L, "4000", "a", "b c"))
    write(rows)
    val sql = "select sum(foo) group by y, tag granularity 15 exact"
    val out = ZxSql.runStream(spark.readStream.schema(schema).parquet(dir),
      sql, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("nulkey_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // one far-future closer advances the global watermark; every other
      // group's open window flushes via its event-time timeout
      write(Seq((9L, base + 5000L, "1", "zz", "zz")))
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("y", "tag", "w_start", "w_end", "sum_foo")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val streamed = canon(spark.table("nulkey_out"))
      val batchDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, sec, foo, y, tag) =>
          org.apache.spark.sql.Row(id,
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, y, tag)
        }, 2), schema)
      val batch = canon(ZxSql.run(batchDf, sql, idCol = Some("id")))
      assert(streamed == batch)
      // the two space-laden groups stayed distinct with intact values
      assert(streamed.map(t => (t._1, t._2, t._5)) ==
        Set(("a b", "c", 300.0), ("a", "b c", 5000.0)))
    } finally query.stop()
  }

  /** tStart/tEnd on streams (ADVICE r6 #7): the bounds ride
    * Compiler.scanFilter via EventStream.preFilter and — because they
    * reference the watermarked ts column — stay ABOVE the watermark node,
    * so an out-of-range event still advances the stream clock and a
    * tEnd-bounded query CLOSES its final windows. Each case below runs in
    * append mode with watermark 0s and a single PAST-tEnd closer, so it
    * fails under either mutation: drop the bounds and the closer's rows
    * leak into the output (batch-bounded mismatch); push the bounds below
    * the watermark and the excluded closer never advances the clock — zero
    * rows emit. */
  test("tumbling/hopping/gap streams apply tStart/tEnd; a past-tEnd event still closes final windows") {
    import graft.sql.ZxSql
    val base = 1704067200L // multiple of 15 — calendar windows align at +0
    val rows = Seq(
      (1L, base + 0L, "50"),   // before tStart — excluded
      (2L, base + 5L, "100"), (3L, base + 10L, "200"), // window [base, base+15)
      (4L, base + 18L, "400"), // window [base+15, base+30)
      (5L, base + 25L, "800")) // after tEnd — excluded
    val closer = Seq((9L, base + 5000L, "999")) // past tEnd: clock only
    val bounds = s"$$t_start = ${base + 3} and $$t_end = ${base + 20}"
    val cases = Seq( // (name, bounded sql, unbounded sql, expected total)
      ("tumble", s"select sum(foo) where $bounds group by y granularity 15",
        "select sum(foo) group by y granularity 15", 700.0),
      // hopping: every event lands in gran/slide = 2 windows -> total 2x
      ("hop", s"select sum(foo) where $bounds group by y granularity 10 slide 5",
        "select sum(foo) group by y granularity 10 slide 5", 1400.0),
      ("gap", s"select sum(foo) where $bounds group by y granularity 15 exact",
        "select sum(foo) group by y granularity 15 exact", 700.0))
    for ((name, sql, sqlNoBounds, expectedTotal) <- cases) {
      val dir = Files.createTempDirectory(s"graft-tb-$name").toString
      def mkRows(t: Seq[(Long, Long, String)]) = t.map { case (id, sec, foo) =>
        org.apache.spark.sql.Row(id,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, "9", null)
      }
      def write(t: Seq[(Long, Long, String)]): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(mkRows(t), 1), schema)
          .write.mode("append").parquet(dir)
      write(rows)
      val out = ZxSql.runStream(spark.readStream.schema(schema).parquet(dir),
        sql, watermark = "0 seconds")
      val query = out.writeStream.format("memory").queryName(s"tb_${name}_out")
        .outputMode("append").start()
      try {
        query.processAllAvailable()
        write(closer) // excluded by tEnd, but MUST advance the watermark
        query.processAllAvailable()
        def canon(df: org.apache.spark.sql.DataFrame) = df
          .select("y", "w_start", "w_end", "sum_foo")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
        val streamed = canon(spark.table(s"tb_${name}_out"))
        val all = spark.createDataFrame(
          spark.sparkContext.parallelize(mkRows(rows ++ closer), 2), schema)
        val batchBounded = canon(ZxSql.run(all, sql, idCol = Some("id")))
        val batchUnbounded = canon(ZxSql.run(all, sqlNoBounds, idCol = Some("id")))
        // final-window close happened: everything in bounds emitted
        assert(streamed == batchBounded && streamed.nonEmpty, s"case $name")
        // mutation check: dropping the bounds visibly changes the result
        assert(streamed != batchUnbounded, s"case $name: bounds had no effect")
        // only the in-bounds rows contribute: 100+200+400, x windows/event
        assert(streamed.map(_._4).sum == expectedTotal, s"case $name")
      } finally query.stop()
    }
  }

  /** The one documented divergence from the claim above: sessionAgg
    * watermarks a DERIVED `__sec` column, so the ts bounds push BELOW its
    * watermark node — a past-tEnd event is filtered before it can advance
    * the clock, and the final sessions stay open forever. Pinned both ways:
    * a past-tEnd closer emits nothing; an in-range closer flushes sessions
    * that match the batch compiler under the same bounds. */
  test("session streams apply tStart/tEnd but need an IN-range closer (documented caveat)") {
    import graft.sql.ZxSql
    val base = 1704067200L
    def mkRows(t: Seq[(Long, Long, String)]) = t.map { case (id, sec, foo) =>
      org.apache.spark.sql.Row(id,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, "9", null)
    }
    val rows = Seq(
      (1L, base + 0L, "50"),  // before tStart — excluded
      (2L, base + 5L, "100"), (3L, base + 6L, "200"), (4L, base + 8L, "400"))
    def runCase(qname: String, tEnd: Long, closer: (Long, Long, String)) = {
      val dir = Files.createTempDirectory(s"graft-tbsess-$qname").toString
      def write(t: Seq[(Long, Long, String)]): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(mkRows(t), 1), schema)
          .write.mode("append").parquet(dir)
      write(rows)
      val sql = s"select sum(foo) where $$t_start = ${base + 3} " +
        s"and $$t_end = $tEnd group by y session 5"
      val out = ZxSql.runStream(spark.readStream.schema(schema).parquet(dir),
        sql, watermark = "0 seconds")
      val query = out.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        query.processAllAvailable()
        write(Seq(closer))
        query.processAllAvailable()
        spark.table(qname).select("y", "w_start", "w_end", "sum_foo")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
      } finally query.stop()
    }
    // caveat: the closer sits past tEnd -> filtered below the watermark ->
    // the clock never advances -> the final sessions CANNOT close
    val stuck = runCase("tbsess_stuck", base + 20L, (9L, base + 5000L, "999"))
    assert(stuck.isEmpty)
    // in-range closer: sessions flush and match the batch compiler under
    // the same bounds (the closer's own session is still open -> absent)
    val ok = runCase("tbsess_ok", base + 4000L, (9L, base + 3000L, "999"))
    val sqlB = s"select sum(foo) where $$t_start = ${base + 3} " +
      s"and $$t_end = ${base + 4000} group by y session 5"
    val boundedRows = spark.createDataFrame(
      spark.sparkContext.parallelize(mkRows(rows), 2), schema)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("y", "w_start", "w_end", "sum_foo")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(ok == canon(ZxSql.run(boundedRows, sqlB)) && ok.nonEmpty)
    // mutation check: without the bounds the excluded base+0 row would
    // merge into the first session (gap 5 reaches it) and change the sum
    assert(ok != canon(ZxSql.run(boundedRows,
      "select sum(foo) group by y session 5")))
  }

  test("runStreamJson: one SQL string, batch or stream, same reference JSON document") {
    import graft.sql.ZxSql
    val dir = Files.createTempDirectory("graft-sjson").toString
    def mkRows(t: Seq[(Long, Long, String, String)]) = t.map { case (id, sec, foo, y) =>
      org.apache.spark.sql.Row(id,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), foo, null, y, null)
    }
    def write(t: Seq[(Long, Long, String, String)]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(mkRows(t), 1), schema)
        .write.mode("append").parquet(dir)
    val base = 1704067200L // multiple of 15
    // all inside [base, base+15): the 0s watermark reaches base+12 < window
    // end, so NOTHING closes until the far-future closer arrives
    val rows = Seq(
      (1L, base + 0L, "100", "1"), (2L, base + 5L, "200", "1"),
      (3L, base + 2L, "400", "9"), (4L, base + 12L, "800", "9"))
    write(rows)
    val sql = "select sum(foo), count(foo) group by y granularity 15"
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    val query = ZxSql.runStreamJson(
      spark.readStream.schema(schema).parquet(dir), sql,
      watermark = "0 seconds")(docs += _).start()
    try {
      query.processAllAvailable()
      assert(docs.isEmpty) // nothing finalized yet
      // far-future closer: every batch-1 window closes in ONE trigger ->
      // exactly one reference-shaped delta document
      write(Seq((9L, base + 5000L, "1", "zz")))
      query.processAllAvailable()
      assert(docs.size == 1)
      // batch engine over the same closed rows, same shaper, same document
      val q = ZxSql.parse(sql)
      val batchJson = JsonResult.toReferenceJson(
        ZxSql.run(spark.createDataFrame(
          spark.sparkContext.parallelize(mkRows(rows), 2), schema), sql),
        q.groupBy, q.selects)
      assert(docs.head == batchJson)
      assert(docs.head.contains("$$sum(foo)") && docs.head.contains(""""{\"y\":\"1\"}"""))
    } finally query.stop()
    // raw projections have no window arrays to shape — loud rejection
    import graft.sql.ZxSql.ParseError
    intercept[ParseError](ZxSql.runStreamJson(
      spark.readStream.schema(schema).parquet(dir), "select foo")(_ => ()))
  }

  test("IVF cell assignment runs unchanged on a stream (stateless ingest-time routing)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-scell").toString
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(
      org.apache.spark.sql.Row(0L, Seq(1f, 0f)), org.apache.spark.sql.Row(1L, Seq(0.9f, 0.1f)),
      org.apache.spark.sql.Row(2L, Seq(0f, 1f)), org.apache.spark.sql.Row(3L, Seq(0.2f, 0.8f)))
    val batchDf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), embSchema)
    batchDf.write.mode("overwrite").parquet(dir)
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    // the same narrow argmax projection accepts an unbounded source: this
    // is how a 100 TB/day embedding feed gets routed to its index cell at
    // WRITE time (no batch re-assignment pass), e.g. before a partitioned
    // parquet sink on `cell`
    val assigned = Similarity.assignCells(
      spark.readStream.schema(embSchema).parquet(dir), cents)
    assert(assigned.isStreaming)
    val query = assigned.select("vec_id", "cell").writeStream
      .format("memory").queryName("scell_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("scell_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = Similarity.assignCells(batchDf, cents).select("vec_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == batch)
      assert(streamed == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
    } finally query.stop()
  }

  test("ivfIngest maintains the cell-partitioned index across micro-batches; probes prune it") {
    import graft.operators.Similarity
    import org.apache.spark.sql.types._
    val src = Files.createTempDirectory("graft-ivfsrc").toString
    val idx = Files.createTempDirectory("graft-ivfidx").toString + "/index"
    val ckp = Files.createTempDirectory("graft-ivfckp").toString
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    def write(rows: Seq[(Long, Seq[Float])]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, v) => org.apache.spark.sql.Row(id, v) }, 1), embSchema)
        .write.mode("append").parquet(src)
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    write(Seq(0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f)))
    val query = Similarity.ivfIngest(
      spark.readStream.schema(embSchema).parquet(src), cents, idx, ckp).start()
    try {
      query.processAllAvailable()
      // second micro-batch appends into the SAME cell partitions
      write(Seq(2L -> Seq(0.95f, 0.05f), 3L -> Seq(0f, 1f)))
      query.processAllAvailable()
    } finally query.stop()
    val probed = Similarity.ivfProbeIndex(spark, idx, cents,
      queryVec = Seq(1.0, 0.0), k = 3, nProbe = 1)
    // planning-time pruning to the probed cell, not a post-scan filter
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"probe must prune cell partitions:\n$p")
    // rows from BOTH micro-batches, ranked by exact cosine within the cell
    assert(probed.select("vec_id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 2L, 1L))
  }

  test("ivfPqIngest streams cell+codes; compact refuses the metadata-logged index") {
    import graft.operators.Similarity
    import org.apache.spark.sql.types._
    val src = Files.createTempDirectory("graft-ivfpqsrc").toString
    val idx = Files.createTempDirectory("graft-ivfpqidx").toString + "/index"
    val ckp = Files.createTempDirectory("graft-ivfpqckp").toString
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    def write(rows: Seq[(Long, Seq[Float])]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, v) => org.apache.spark.sql.Row(id, v) }, 1), embSchema)
        .write.mode("append").parquet(src)
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    // one subspace of the full dim: codebook == residual-space anchors
    val books = Seq(Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(-0.5, 0.5)))
    write(Seq(0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f)))
    val query = Similarity.ivfPqIngest(
      spark.readStream.schema(embSchema).parquet(src), cents, books, idx, ckp).start()
    try {
      query.processAllAvailable()
      write(Seq(2L -> Seq(0.95f, 0.05f), 3L -> Seq(0f, 1f)))
      query.processAllAvailable()
    } finally query.stop()
    // the streamed index carries the compressed layout across both batches
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.columns.toSet == Set("vec_id", "embedding", "cell", "codes"))
    assert(idxDf.count() == 4)
    val probed = Similarity.ivfPqProbe(spark, idx, cents, books,
      queryVec = Seq(1.0, 0.0), k = 3, nProbe = 1)
    assert(probed.select("vec_id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 2L, 1L), "probe must rank both micro-batches' rows by exact cosine")
    // compaction under a _spark_metadata log would desync batch readers —
    // the guard must fire instead of silently corrupting the index
    val e = intercept[IllegalArgumentException](EventStore.compactInPlace(spark, idx))
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("ingest-time decontamination matches the batch report doc-for-doc") {
    import graft.operators.Decontaminate
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-decon").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("source", StringType)))
    // bench doc shares its full 3-gram set with doc 10 (contaminated),
    // one 3-gram with doc 11 (also >= 1 hit), none with doc 12; doc 13 is
    // too short to have any 3-gram (0 shingles, 0 hits)
    val docs = Seq(
      (1L, "the quick brown fox jumps", "bench"),
      (10L, "the quick brown fox jumps again and again", "web"),
      (11L, "look the quick brown dog runs", "web"),
      (12L, "entirely different words everywhere here", "web"),
      (13L, "too short", "web"))
    val rows = docs.map { case (id, t, s) => org.apache.spark.sql.Row(id, t, s) }
    val batchDf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSchema)
    val bench = Decontaminate.benchShingleSet(batchDf, col("source") === "bench", shingleN = 3)
    assert(bench.size == 3) // 5 tokens -> 3 distinct 3-grams
    // corpus-only rows flow as the stream (the bench slice is NOT ingest)
    val corpusRows = rows.filter(_.getString(2) != "bench")
    spark.createDataFrame(spark.sparkContext.parallelize(corpusRows, 1), docSchema)
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val rep = Decontaminate.overlapStream(stream, bench, shingleN = 3)
    assert(rep.isStreaming)
    val query = rep.writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("decon_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
      val batch = Decontaminate.overlapReport(batchDf, col("source") === "bench", shingleN = 3)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
      assert(streamed == batch)
      assert(streamed.map(t => t._1 -> t._4).toMap ==
        Map(10L -> true, 11L -> true, 12L -> false, 13L -> false))
    } finally query.stop()
    // cleanStream ships exactly the un-contaminated rows, columns untouched
    val cleanQ = Decontaminate.cleanStream(stream, bench, shingleN = 3)
      .writeStream.format("memory").queryName("decon_clean").outputMode("append").start()
    try {
      cleanQ.processAllAvailable()
      assert(spark.table("decon_clean").columns.toSeq == Seq("doc_id", "text", "source"))
      assert(spark.table("decon_clean").collect().map(_.getLong(0)).toSet == Set(12L, 13L))
    } finally cleanQ.stop()
    // a mis-scoped benchmark fails before any collect
    val big = (0L until 3000000L) // 3M > 2^20
    intercept[IllegalArgumentException](
      Decontaminate.overlapStream(stream, big.toSeq, shingleN = 3))
  }

  test("stream-stream interval join equals the batch interval self-join, pairs emitted once") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    // bounded slice so the state store stays tiny: 8 users, 2 days
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("user_id").isNotNull && col("user_id") < 8 &&
        col("ts") < lit("2024-01-07"))
      .select("event_id", "user_id", "ts", "value")
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    // EventStream.read applies the canonical events schema — project to the
    // written slice so the prefixed-output contract is checkable exactly
    def readSlim() = EventStream.read(spark, dir)
      .select("event_id", "user_id", "ts", "value")
    val joined = EventStream.intervalJoinStream(readSlim(), readSlim(),
      key = "user_id", windowLenSec = 3600L, watermark = "0 seconds")
    // contract: both sides prefixed, nothing ambiguous
    assert(joined.columns.toSet ==
      Set("l_event_id", "l_user_id", "l_ts", "l_value",
        "r_event_id", "r_user_id", "r_ts", "r_value"))
    val query = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("l_event_id", "r_event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val streamed = canon(spark.table("ssj_out"))
      val lb = src.select(src.columns.map(c => col(c).as("l_" + c)): _*)
      val rb = src.select(src.columns.map(c => col(c).as("r_" + c)): _*)
      val batch = canon(lb.join(rb, col("l_user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 3600 SECONDS") &&
        col("r_ts") <= col("l_ts")))
      // set equality AND size equality: a re-emitted pair (at-least-once
      // leak into append output) would pass a set compare but not this
      assert(streamed.sorted == batch.sorted && streamed.nonEmpty)
      // every event self-pairs (r.ts == l.ts is inside the interval), so
      // the join can't have silently dropped rows either
      assert(streamed.count(p => p._1 == p._2) == src.count())
    } finally query.stop()
  }

  test("membership sidecar: point reads bind only key-holding files; absent keys read empty") {
    val dir = Files.createTempDirectory("graft-keys").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id").isNotNull)
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.repartition(4), dir)
    // cluster on the key so per-file key sets are small and disjoint
    val bytes = EventStore.manifestFiles(spark, dir).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    EventStore.clusterInPlace(spark, dir, "user_id", "ts",
      targetBytes = math.max(1L, bytes / 12))
    val pinned = EventStore.writeFileKeySets(spark, dir, "user_id")
    assert(pinned > 0, "clustered files must pin their key sets")
    val key = src.agg(min("user_id")).head().getLong(0)
    def point(k: Long) = EventStore.readPinned(spark, dir).filter(col("user_id") === k)
    val full = unpruned(dir).filter(col("user_id") === key)
    // exact key sets keep exactly the files holding the key (the clustered
    // layout comes from a sampled range partitioner, so count them)
    val holders = full.select(input_file_name()).distinct().count()
    assert(holders < EventStore.manifestFiles(spark, dir).size)
    assert(scanned(point(key)) == holders,
      "point scan must read only the files holding the key")
    // result equality with the unpruned filtered read, row for row
    assert(point(key).collect().toSet == full.collect().toSet && full.count() > 0)
    // a key no file holds → provably empty, no file scanned
    assert(scanned(point(-12345L)) == 0 && point(-12345L).count() == 0)

    // driver-bounded streaming write: a budget so small every sidecar row
    // lands in its own shuffle partition must stream the same sidecar the
    // generous default produced (byte-identical modulo row order) and keep
    // point reads exact — the write path never holds more than one
    // partition on the driver, whatever the manifest's file count
    def sidecarLines() = {
      val kp = new org.apache.hadoop.fs.Path(dir, s"_graft_manifest.v${EventStore.manifestVersion(spark, dir)}.keys.jsonl")
      val fs = kp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(kp)
      val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      txt.linesIterator.toVector
    }
    val generous = sidecarLines()
    val rePinned = EventStore.writeFileKeySets(spark, dir, "user_id",
      driverBudgetBytes = 1L)
    assert(rePinned == pinned, "tiny-budget rewrite must pin the same files")
    assert(sidecarLines().sorted == generous.sorted,
      "streamed sidecar must equal the collected-era content")
    assert(scanned(point(key)) == holders)
    assert(point(key).collect().toSet == full.collect().toSet)
  }

  test("bloom membership tier: above-cap files prune point reads, both tiers compose, results exact") {
    val dir = Files.createTempDirectory("graft-bloom").toString + "/events"
    // file A: 3 distinct keys (exact tier at cap 10); file B: 2000
    // distinct keys (bloom tier) — one date each, so one file per append
    val a = spark.range(300).selectExpr("id AS event_id",
      "timestamp_seconds(1704067200 + id) AS ts",
      "CAST(id % 3 AS LONG) AS user_id", "1.0 AS value").repartition(1)
    val b = spark.range(2000).selectExpr("id + 10000 AS event_id",
      "timestamp_seconds(1704153700 + id) AS ts",
      "id + 1000 AS user_id", "2.0 AS value").repartition(1)
    commitStore(dir, a, b)
    val nFiles = EventStore.manifestFiles(spark, dir).size
    assert(nFiles == 2, s"fixture should land exactly 2 files, got $nFiles")
    val pinned = EventStore.writeFileKeySets(spark, dir, "user_id",
      maxDistinct = 10)
    assert(pinned == 2, "both tiers must pin: one exact set, one bloom")
    def point(k: Long) = EventStore.readPinned(spark, dir).filter(col("user_id") === k)
    def full(k: Long) = unpruned(dir).filter(col("user_id") === k).collect().toSet
    // exact-tier key: file B's bloom must reject it (deterministic given
    // fixed data; a false positive would only admit, never corrupt)
    val pa = point(1L)
    assert(pa.collect().toSet == full(1L) && pa.count() == 100)
    assert(scanned(pa) == 1, "bloom tier must prune file B")
    // bloom-tier key: file A's exact set rejects, file B's bloom admits
    val pb = point(1500L)
    assert(pb.collect().toSet == full(1500L) && pb.count() == 1)
    assert(scanned(pb) == 1, "exact tier must prune file A")
    // absent key: exact tier proves absence; bloom tier (deterministic)
    // rejects too → provably empty
    assert(scanned(point(999983L)) == 0 && point(999983L).count() == 0)
    // geometry guard: an impossible (fpp, cardinality, byte-cap) triple
    // fails loudly BEFORE any bloom materializes
    val e = intercept[IllegalArgumentException](EventStore.writeFileKeySets(
      spark, dir, "user_id", maxDistinct = 10, maxBloomBytes = 1L))
    assert(e.getMessage.contains("bloom"))
  }

  test("string-key membership (c12c): hashed tiers prune point reads, results exact, readers don't cross") {
    val dir = Files.createTempDirectory("graft-strkey").toString + "/events"
    // file A: 3 distinct string keys (exact-hash tier at cap 10);
    // file B: 2000 distinct keys (hashed-bloom tier)
    val a = spark.range(300).selectExpr("id AS event_id",
      "timestamp_seconds(1704067200 + id) AS ts",
      "concat('u', CAST(id % 3 AS STRING)) AS skey", "1.0 AS value")
      .repartition(1)
    val b = spark.range(2000).selectExpr("id + 10000 AS event_id",
      "timestamp_seconds(1704153700 + id) AS ts",
      "concat('doc-', CAST(id AS STRING)) AS skey", "2.0 AS value")
      .repartition(1)
    commitStore(dir, a, b)
    val pinned = EventStore.writeFileKeySets(spark, dir, "skey", maxDistinct = 10)
    assert(pinned == 2, "both hashed tiers must pin")
    def read(f: org.apache.spark.sql.Column) = EventStore.readPinned(spark, dir).filter(f)
    def full(f: org.apache.spark.sql.Column) = unpruned(dir).filter(f).collect().toSet
    // exact-hash-tier key: file B's bloom rejects it (deterministic data)
    val pa = read(col("skey") === "u1")
    assert(pa.collect().toSet == full(col("skey") === "u1") && pa.count() == 100)
    assert(scanned(pa) == 1, "hashed bloom must prune file B")
    // bloom-tier key: file A's exact hash set rejects, file B admits
    val pb = read(col("skey") === "doc-1500")
    assert(pb.collect().toSet == full(col("skey") === "doc-1500") && pb.count() == 1)
    assert(scanned(pb) == 1, "exact hash set must prune file A")
    // absent key: both tiers reject (deterministic given fixed data)
    val absent = read(col("skey") === "no-such-key-xyz")
    assert(scanned(absent) == 0 && absent.count() == 0)
    // an INTEGRAL filter sees no raw-key entries in a hashed sidecar, so
    // it must keep every file (conservative) — a hash set is never misread
    // as raw keys to wrongly prune
    val viaInt = read(col("event_id") === 5L)
    assert(scanned(viaInt) == 2,
      "an integral filter must keep everything under a hashed-only sidecar")
    assert(viaInt.count() == 1)
    // a null among the probed keys decides nothing: every file is kept
    val withNull = read(col("skey").isin("u1", null))
    assert(scanned(withNull) == 2)
    assert(withNull.collect().toSet == full(col("skey").isin("u1", null)))
    assert(withNull.count() == 100)
  }

  test("manifested schema evolution: merged read unifies generations, old pins predate the column") {
    val dir = Files.createTempDirectory("graft-evolve").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value")
    val gen1 = src.filter(col("event_id") % 2 === 0)
    val gen2 = src.filter(col("event_id") % 2 === 1)
      .withColumn("q_score", round(col("value") / 250.0, 6))
    EventStore.createTable(gen1, dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    // insertInto refuses a schema change; a committed append takes it
    EventStore.appendCommitted(gen2, dir, "evolve-spec", 1L)
    val merged = EventStore.readPinned(spark, dir, mergeSchema = true)
    assert(merged.columns.contains("q_score"))
    // the evolved column is null exactly for generation-1 rows
    assert(merged.filter(col("q_score").isNotNull).count() == gen2.count())
    assert(merged.count() == src.count())
    // a pre-evolution pin reproduces the OLD schema — history unrewritten
    val pinned = EventStore.readPinned(spark, dir, v1, mergeSchema = true)
    assert(!pinned.columns.contains("q_score"))
    assert(pinned.count() == gen1.count())
  }

  test("S4: JSON result shaper reproduces the reference's nested shape") {
    val q = ZxQuery(selects = Seq(Select(Agg.Sum, "foo")),
      groupBy = Seq("y"), granularitySec = 15L)
    val windowed = Compiler.runUnsorted(fixture, q)
    val json = JsonResult.toReferenceJson(windowed, Seq("y"), q.selects)
    // group key serialized as a JSON-object *string*; $$agg(col) keys;
    // parallel data/window_starts/window_ends arrays (lib.rs:74-79, 102-109)
    assert(json.contains(""""{\"y\":\"9\"}""""))
    assert(json.contains("$$sum(foo)"))
    assert(json.contains("\"window_starts\":[0]"))
    assert(json.contains("\"data\":[1400.0]"))
  }

  test("snapshot clone copies run as executor tasks, not a driver loop") {
    val base = Files.createTempDirectory("graft-clone-dist").toString
    val srcDir = base + "/src"
    val dstDir = base + "/dst"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 6)
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.repartition(8), srcDir)
    val nFiles = EventStore.manifestFiles(spark, srcDir).size
    assert(nFiles >= 8, s"want a many-file store, got $nFiles files")
    // the ONLY Spark job cloneSnapshot runs is the distributed copy
    // (manifest reads are driver FS metadata) — so task completions
    // observed across the call are the copy's tasks
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = EventStore.cloneSnapshot(spark, srcDir, dstDir)
      assert(n == nFiles)
      // listener bus is async — poll until the copy's task events land.
      // tasks = job PARTITIONS (min(files, defaultParallelism)), each
      // copying a slice of the 48 files; >= 2 witnesses a distributed job
      // (a driver loop runs zero tasks), and cloneSnapshot's internal
      // accumulator already cross-checked all copies ran task-side
      val want = math.min(nFiles, spark.sparkContext.defaultParallelism)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (tasks.get() < want && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(tasks.get() >= math.max(2, want),
        s"expected >= ${math.max(2, want)} copy tasks, saw ${tasks.get()} — " +
          "the copy ran on the driver")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(EventStore.readPinned(spark, dstDir).count() == src.count())
  }

  test("cdc follower: live IVM equals full recompute at every lifecycle step") {
    import graft.streaming.ChangeFeedFollower
    val dir = Files.createTempDirectory("graft-cdc-follow").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) <= 6).repartition(2), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    val fp = floor(coalesce(col("value"), lit(0.0)) * lit(1048576.0))
      .cast(org.apache.spark.sql.types.LongType)
    def agg(df: org.apache.spark.sql.DataFrame, sign: org.apache.spark.sql.Column) =
      df.select(col("event_type"), fp.as("__fv"), sign.as("__s"))
        .groupBy(col("event_type"))
        .agg(sum(col("__s")).as("n"), sum(col("__s") * col("__fv")).as("sum_fp"))
    @volatile var state = agg(EventStore.readPinned(spark, dir, v1), lit(1L))
      .localCheckpoint()
    @volatile var deliveries = 0
    val f = new ChangeFeedFollower(spark, dir, v1, (_, _, feed) => {
      deliveries += 1
      state = state.unionByName(agg(feed,
          when(col("_change_type") === "insert", 1L).otherwise(-1L)))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sum_fp")).as("sum_fp"))
        .localCheckpoint()
    }).start()
    def stateMap = state.filter(col("n") > 0).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def truthMap = agg(EventStore.readPinned(spark, dir), lit(1L)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      // step 1: append
      EventStore.appendCommitted(
        ev.filter(dayofmonth(col("ts")) === 7), dir, "cdc-spec", 1L)
      f.processAllAvailable()
      assert(stateMap == truthMap, "maintained state diverged after append")
      // step 2: pure re-layout — delivered, nets to a no-op
      EventStore.compactInPlace(spark, dir)
      f.processAllAvailable()
      assert(stateMap == truthMap, "maintained state diverged after compaction")
      // step 3: cross-cutting COW delete
      val d = EventStore.deleteWhere(spark, dir,
        pmod(col("user_id"), lit(3)) === 1 && dayofmonth(col("ts")) <= 4)
      assert(d.rowsDeleted > 0)
      f.processAllAvailable()
      assert(stateMap == truthMap, "maintained state diverged after COW delete")
      assert(deliveries >= 3, s"expected >= 3 deliveries, saw $deliveries")
    } finally f.stop()
  }

  test("cdc follower: commits between polls coalesce into one order-safe delta; failures surface") {
    import graft.streaming.ChangeFeedFollower
    val dir = Files.createTempDirectory("graft-cdc-coal").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) <= 3).repartition(2), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    // UNSTARTED follower = deterministic synchronous mode
    var feeds = List.empty[(Long, Long, Map[(String, Long), Int])]
    val f = new ChangeFeedFollower(spark, dir, v1, (a, b, feed) => {
      feeds ::= ((a, b, feed.select("_change_type", "event_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).groupBy(identity)
        .map { case (k, v) => k -> v.length }))
    })
    // two commits land before the single poll
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 4), dir, "cdc-coal", 1L)
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 5), dir, "cdc-coal", 2L)
    val vN = EventStore.manifestVersion(spark, dir)
    assert(f.pollOnce(), "a poll over two pending commits must deliver")
    assert(!f.pollOnce(), "a second poll with no new commit must not deliver")
    assert(f.seenVersion == vN)
    // the ONE coalesced delta equals the multiset union of the per-step
    // feeds — recomputed here via the batch API
    val d45 = EventStore.changeFeed(spark, dir, v1, vN)
      .select("_change_type", "event_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(identity)
      .map { case (k, v) => k -> v.length }
    assert(feeds.size == 1 && feeds.head._1 == v1 && feeds.head._2 == vN)
    assert(feeds.head._3 == d45, "coalesced delivery diverged from the batch range feed")
    // a consumer failure must surface, not die silently
    val boom = new ChangeFeedFollower(spark, dir, v1,
      (_, _, _) => throw new RuntimeException("merge exploded")).start()
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 6), dir, "cdc-coal", 3L)
    val e = intercept[IllegalStateException](boom.processAllAvailable())
    assert(e.getMessage.contains("poller failed"))
    intercept[IllegalStateException](boom.stop())
  }

  test("cdc follower: vacuum outrunning seenVersion breaks the feed LOUDLY, not silently") {
    import graft.streaming.ChangeFeedFollower
    val dir = Files.createTempDirectory("graft-cdc-vac").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) <= 3).repartition(2), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    val f = new ChangeFeedFollower(spark, dir, v1,
      (_, _, feed) => { feed.count(); () })
    // a COW delete replaces files, then vacuum reclaims v1's originals
    // before the follower has polled — the pinned-reader retention
    // contract is violated, and the delta for (v1, head] must fail, not
    // deliver a partial feed that silently corrupts the maintained view
    val d = EventStore.deleteWhere(spark, dir, dayofmonth(col("ts")) <= 1)
    assert(d.rowsDeleted > 0)
    EventStore.vacuum(spark, dir, keepVersions = 1)
    intercept[Throwable](f.pollOnce())
    assert(f.seenVersion == v1, "a failed delivery must not advance seenVersion")
  }

  test("cdc follower: stop() mid-consume is a clean shutdown, not a spurious poller failure") {
    import graft.streaming.ChangeFeedFollower
    val dir = Files.createTempDirectory("graft-cdc-stop").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) <= 3).repartition(2), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    val consuming = new java.util.concurrent.CountDownLatch(1)
    // the consumer WRAPS the interrupt the way a Spark action or Hadoop
    // IO would (SparkException / InterruptedIOException) — a bare
    // InterruptedException never reaches the poller's catch in the wild
    val f = new ChangeFeedFollower(spark, dir, v1, (_, _, _) => {
      consuming.countDown()
      try Thread.sleep(60000)
      catch { case e: InterruptedException =>
        throw new RuntimeException("action interrupted mid-flight", e) }
    }).start()
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 4), dir, "cdc-stop", 1L)
    assert(consuming.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "consumer never began")
    f.stop() // must NOT throw: the wrapped interrupt IS the shutdown
    assert(f.pollerFailure.isEmpty,
      "a stop()-induced interrupt must not be recorded as a poller failure")
    // a GENUINE pre-stop failure still surfaces through stop()
    val boom = new ChangeFeedFollower(spark, dir, v1,
      (_, _, _) => throw new RuntimeException("merge exploded")).start()
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 5), dir, "cdc-stop", 2L)
    intercept[IllegalStateException](boom.processAllAvailable())
    intercept[IllegalStateException](boom.stop())
    // …but stopQuietly never rethrows — the finally-block form — while
    // keeping the failure inspectable
    assert(boom.pollerFailure.exists(_.getMessage.contains("merge exploded")))
    boom.stopQuietly()
  }

  test("durable cdc follower: crash + restart resumes at the committed version, never double-folds") {
    import graft.streaming.DurableAggregateFollower
    val dir = Files.createTempDirectory("graft-cdc-dur").toString + "/events"
    val stateDir = Files.createTempDirectory("graft-cdc-dur-state").toString + "/agg"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) <= 6).repartition(2), dir)
    val fp = floor(coalesce(col("value"), lit(0.0)) * lit(1048576.0))
      .cast(org.apache.spark.sql.types.LongType)
    def agg(df: org.apache.spark.sql.DataFrame, sign: org.apache.spark.sql.Column) =
      df.select(col("event_type"), fp.as("__fv"), sign.as("__s"))
        .groupBy(col("event_type"))
        .agg(sum(col("__s")).as("n"), sum(col("__s") * col("__fv")).as("sum_fp"))
    def mk() = new DurableAggregateFollower(spark, dir, stateDir,
      seed = v => agg(EventStore.readPinned(spark, dir, v), lit(1L)),
      fold = (st, feed) => st.unionByName(agg(feed,
          when(col("_change_type") === "insert", 1L).otherwise(-1L)))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sum_fp")).as("sum_fp")))
    def snap(df: org.apache.spark.sql.DataFrame) = df.filter(col("n") > 0)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def truth = snap(agg(EventStore.readPinned(spark, dir), lit(1L)))
    // epoch 1: seed persists, one delta folds + commits (sync mode)
    val f1 = mk()
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 7), dir, "cdc-dur", 1L)
    assert(f1.follower.pollOnce())
    assert(snap(f1.state) == truth)
    val folded = f1.seenVersion
    // CRASH: abandon f1 without any shutdown; litter a partial staging
    // write (crash mid-commit) that recovery must ignore
    val junk = new org.apache.hadoop.fs.Path(stateDir, ".state.v999.g42")
    val jfs = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    jfs.mkdirs(junk)
    // commits land while the follower is down
    EventStore.appendCommitted(
      ev.filter(dayofmonth(col("ts")) === 8), dir, "cdc-dur", 2L)
    val d = EventStore.deleteWhere(spark, dir,
      pmod(col("user_id"), lit(3)) === 1 && dayofmonth(col("ts")) <= 4)
    assert(d.rowsDeleted > 0)
    // epoch 2: restart resumes at the COMMITTED version (not the
    // original start — resuming there would double-fold day 7) and one
    // poll catches up the whole down-window
    val f2 = mk()
    assert(f2.seenVersion == folded,
      s"restart must resume at committed v$folded, got ${f2.seenVersion}")
    assert(snap(f2.state) == snap(f1.state), "restart must reload the committed aggregate")
    assert(f2.follower.pollOnce())
    assert(snap(f2.state) == truth,
      "resumed fold diverged from the full recompute")
    assert(!f2.follower.pollOnce(), "caught-up follower must not re-deliver")
    // epoch 3: a THIRD restart with nothing pending starts exactly where
    // epoch 2 committed and still matches truth — pure idempotence
    val f3 = mk()
    assert(f3.seenVersion == f2.seenVersion && snap(f3.state) == truth)
  }

  test("cdc follower: live IVM stays exact under concurrent committer threads") {
    import graft.streaming.ChangeFeedFollower
    val dir = Files.createTempDirectory("graft-cdc-race").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) === 1).repartition(2), dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    @volatile var n = EventStore.readPinned(spark, dir, v1).count()
    val f = new ChangeFeedFollower(spark, dir, v1, (_, _, feed) => {
      val ins = feed.filter(col("_change_type") === "insert").count()
      val del = feed.filter(col("_change_type") === "delete").count()
      n = n + ins - del
    }).start()
    // 3 committer threads × 3 racing txn appends each (no caller retries:
    // a lost commit rebases inside the engine), racing the live poller;
    // day ranges are disjoint so the final truth is clean
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        try (1 to 3).foreach { b =>
          EventStore.appendCommitted(ev.filter(dayofmonth(col("ts")) === 2 + t * 3 + (b - 1)),
            dir, s"cdc-race-$t", b.toLong)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"committers failed: ${errs.peek()}")
    try {
      f.processAllAvailable()
      val truth = EventStore.readPinned(spark, dir).count()
      assert(n == truth,
        s"maintained count $n diverged from store count $truth after 9 racing commits")
    } finally f.stop()
  }

  test("compaction races appenders: optimistic rebase keeps every committed row, all versions readable") {
    val dir = Files.createTempDirectory("graft-compact-race").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
    EventStore.createTable(ev.filter(dayofmonth(col("ts")) === 1).repartition(4), dir)
    val v0 = EventStore.manifestVersion(spark, dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (0 until 2).map { t =>
      new Thread(() => {
        try (1 to 4).foreach { b =>
          EventStore.appendCommitted(
            ev.filter(dayofmonth(col("ts")) === (2 + t * 4 + (b - 1))
              ).repartition(2), dir, s"cr-app-$t", b.toLong)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val compactor = new Thread(() => {
      try (1 to 3).foreach { _ =>
        // tiny target → every multi-file partition rewrites each pass;
        // appends never remove files, so the rebase must always apply
        EventStore.compactInPlace(spark, dir, targetBytes = 1L << 30)
        Thread.sleep(20)
      } catch { case e: Throwable => errs.add(e) }
    })
    (appenders :+ compactor).foreach(_.start())
    (appenders :+ compactor).foreach(_.join(180000))
    assert(errs.isEmpty, s"race failures: ${errs.peek()}")
    val truth = ev.filter(dayofmonth(col("ts")) <= 9).count()
    assert(EventStore.readPinned(spark, dir).count() == truth,
      "rows lost or duplicated under compaction racing appends")
    val vN = EventStore.manifestVersion(spark, dir)
    ((v0 + 1) to vN).foreach { v =>
      assert(EventStore.manifestFiles(spark, dir, v).nonEmpty, s"version $v unreadable")
    }
  }
  test("a compaction committing mid-z-order fails the rewrite loudly instead of double-counting") {
    val local = Files.createTempDirectory("graft-cluster-race").toString + "/events"
    // 300 events over three days, up to four files per day
    val ev = spark.range(300).selectExpr("id AS event_id",
      "timestamp_seconds(1704067200 + id * 600) AS ts", "id % 7 AS user_id",
      "CAST(id AS DOUBLE) AS value")
    EventStore.createTable(ev.repartition(4), local)
    val rows = ev.count()
    val v0 = EventStore.manifestVersion(spark, local)
    // the rewrite's first move-in runs one compaction: it commits the
    // compacted copies of the very files the rewrite is replacing
    val dir = RenameHookFs.path(spark.sparkContext.hadoopConfiguration, local)
    var compacted = Seq.empty[EventStore.PartitionCompaction]
    RenameHookFs.armOnce(_.startsWith("zorder-")) {
      compacted = EventStore.compactInPlace(spark, dir)
    }
    val e = intercept[IllegalArgumentException](
      EventStore.clusterInPlace(spark, dir, "user_id", "ts"))
    assert(e.getMessage.contains("clusterInPlace") && e.getMessage.contains("left the manifest"),
      e.getMessage)
    assert(compacted.nonEmpty, "the injected compaction must have run")
    assert(EventStore.manifestVersion(spark, local) == v0 + 1)
    assert(EventStore.readPinned(spark, local).count() == rows,
      "rows counted twice: the rewrite kept the compacted copies too")

    // the shared commit itself: a replaced file the manifest no longer
    // lists fails, and no version is committed
    val root = new org.apache.hadoop.fs.Path(local)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = intercept[IllegalArgumentException](EventStore.commitRebased(fs, root,
      "spec", Set("event_date=2024-01-01/gone.parquet"), Seq.empty))
    assert(stale.getMessage.contains("left the manifest"), stale.getMessage)
    assert(EventStore.manifestVersion(spark, local) == v0 + 1)
    assert(EventStore.readPinned(spark, local).count() == rows)
  }

  test("createTable / runCreate: CTAS lifecycle, layouts, collisions (round 14)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-ctas").toString
    val docs = Seq(
      (1L, "aa bb", "en", "web", 5L), (2L, "cc", "de", "web", 2L),
      (3L, "dd ee ff", "en", "book", 8L), (4L, "gg", "en", "web", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // FLAT layout: no timestamp column → data files at the store root,
    // manifest-pinned read-back returns exactly the gated slice
    val out = graft.sql.ZxSql.runCreate(Map("documents" -> docs),
      "create table en_slice as select doc_id, lang, n_chars " +
        "from documents where lang = 'en'", wh)
    assert(out.columns.toSeq == Seq("doc_id", "lang", "n_chars"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    // the store is durable + manifested: a fresh pinned read agrees, and
    // the create is the store's first committed version
    assert(EventStore.readPinned(spark, s"$wh/en_slice").count() == 3)
    assert(EventStore.manifestVersion(spark, s"$wh/en_slice") == 0L)
    // CTE body + aggregate body: per-key totals (the table rule, never
    // default tumbling windows), and the read-back hash-equals the plan
    val agg = graft.sql.ZxSql.runCreate(Map("documents" -> docs),
      "create table by_lang as with en as (select doc_id, lang, n_chars " +
        "from documents where n_chars >= 2) " +
        "select sum(n_chars) as total from en group by lang", wh)
    assert(agg.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("en" -> 15.0, "de" -> 2.0))
    // PARTITIONED layout: a ts-carrying result lands date-partitioned and
    // the read-back gains the store's event_date partition column
    val ev = Seq((1L, 100L), (2L, 200L)).toDF("event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec") + 1704412800L)).drop("sec")
    val evOut = graft.sql.ZxSql.runCreate(Map("events" -> ev),
      "create table ev_copy as select event_id, ts from events", wh)
    assert(evOut.columns.contains("event_date"))
    assert(evOut.count() == 2)
    // collisions are loud: existing store, catalog name, CTE name, bad name
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[Exception](
        graft.sql.ZxSql.runCreate(Map("documents" -> docs), sql, wh))
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("create table en_slice as select doc_id from documents", "reset")
    bad("create table documents as select doc_id from documents", "catalog")
    bad("create table t as with t as (select doc_id from documents) " +
      "select doc_id from t", "fresh name")
    bad("create table a.b as select doc_id from documents", "valid table name")
    // read-only faces reject the write shape loudly
    val eCat = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.runCatalog(
      Map("documents" -> docs), "create table x as select doc_id from documents"))
    assert(eCat.getMessage.contains("runCreate"))
    val eRun = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.run(
      docs, "create table x as select doc_id"))
    assert(eRun.getMessage.contains("runCreate"))
    val sdir = Files.createTempDirectory("graft-ctas-st").toString
    docs.write.mode("overwrite").parquet(sdir)
    val st = spark.readStream.schema(docs.schema).parquet(sdir)
    val eSt = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.runStream(
      st, "create table x as select doc_id"))
    assert(eSt.getMessage.contains("batch shape"))
  }

  test("insertInto / runInsert: append commit, schema contract, guards (round 14)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-insert").toString
    val docs = Seq(
      (1L, "aa", "en", "web", 5L), (2L, "cc", "de", "web", 2L),
      (3L, "dd", "en", "book", 8L), (4L, "gg", "fr", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cat = Map("documents" -> docs)
    graft.sql.ZxSql.runCreate(cat,
      "create table slice as select doc_id, lang, n_chars " +
        "from documents where lang = 'en'", wh)
    val v0 = EventStore.manifestVersion(spark, s"$wh/slice")
    // INSERT appends with bag semantics (doc 3 lands twice) and returns
    // the whole table's pinned read-back after the commit
    val after = graft.sql.ZxSql.runInsert(cat,
      "insert into slice select doc_id, lang, n_chars " +
        "from documents where n_chars >= 3", wh)
    assert(after.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 1L, 3L, 3L, 4L))
    // one new manifest version; the OLD version still time-travels to
    // the pre-insert table (commit is additive, never a rewrite)
    assert(EventStore.manifestVersion(spark, s"$wh/slice") == v0 + 1)
    assert(EventStore.readPinned(spark, s"$wh/slice", v0).count() == 2)
    // schema contract: wrong column set / order / type fails loudly
    val eSchema = intercept[IllegalArgumentException](graft.sql.ZxSql.runInsert(
      cat, "insert into slice select doc_id, n_chars from documents", wh))
    assert(eSchema.getMessage.contains("does not match"))
    val eOrder = intercept[IllegalArgumentException](graft.sql.ZxSql.runInsert(
      cat, "insert into slice select lang, doc_id, n_chars from documents", wh))
    assert(eOrder.getMessage.contains("does not match"))
    // target must exist as a manifested store
    val eMissing = intercept[IllegalArgumentException](graft.sql.ZxSql.runInsert(
      cat, "insert into nope select doc_id, lang, n_chars from documents", wh))
    assert(eMissing.getMessage.contains("not a manifested store"))
    // catalog names are not insert targets
    val eCat2 = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.runInsert(
      cat, "insert into documents select doc_id, lang, n_chars from documents", wh))
    assert(eCat2.getMessage.contains("CATALOG"))
    // read-only faces reject the insert shape loudly
    val eRead = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.runCatalog(
      cat, "insert into slice select doc_id, lang, n_chars from documents"))
    assert(eRead.getMessage.contains("runInsert"))
    // a DATE-PARTITIONED store inserts through the same face: partition
    // derivation from ts, read-back carries event_date
    val ev = Seq((1L, 100L), (2L, 200L)).toDF("event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec") + 1704412800L)).drop("sec")
    graft.sql.ZxSql.runCreate(Map("events" -> ev),
      "create table evs as select event_id, ts from events", wh)
    val afterEv = graft.sql.ZxSql.runInsert(Map("events" -> ev),
      "insert into evs select event_id, ts from events where event_id = 2", wh)
    assert(afterEv.count() == 3 && afterEv.columns.contains("event_date"))
  }

  test("runDelete: COW delete from SQL — flat and partitioned, time travel, guards (round 14)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-delete").toString
    val docs = Seq(
      (1L, "aa", "en", "web", 5L), (2L, "cc", "de", "web", 2L),
      (3L, "dd", "en", "book", 8L), (4L, "gg", "fr", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cat = Map("documents" -> docs)
    graft.sql.ZxSql.runCreate(cat,
      "create table d as select doc_id, lang, n_chars from documents", wh)
    val v0 = EventStore.manifestVersion(spark, s"$wh/d")
    // boolean-tree predicate on a FLAT store; read-back is post-commit
    val after = graft.sql.ZxSql.runDelete(cat,
      "delete from d where lang = 'en' or n_chars < 3", wh)
    assert(after.collect().map(_.getLong(0)).toSeq == Seq(4L))
    // additive commit: the pre-delete version still time-travels
    assert(EventStore.manifestVersion(spark, s"$wh/d") > v0)
    assert(EventStore.readPinned(spark, s"$wh/d", v0).count() == 4)
    // a DATE-PARTITIONED store deletes through the same face
    val ev = Seq((1L, 100L), (2L, 200L), (3L, 90000L))
      .toDF("event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec") + 1704412800L)).drop("sec")
    graft.sql.ZxSql.runCreate(Map("events" -> ev),
      "create table evd as select event_id, ts from events", wh)
    val afterEv = graft.sql.ZxSql.runDelete(Map("events" -> ev),
      "delete from evd where event_id = 2", wh)
    assert(afterEv.select("event_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // guards: WHERE required, no trailing clauses, catalog names rejected
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[Exception](graft.sql.ZxSql.runDelete(cat, sql, wh))
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("delete from d", "WHERE")
    bad("delete from d where doc_id = 1 order by doc_id", "ONLY a WHERE")
    bad("delete from documents where doc_id = 1", "CATALOG")
    val eRead = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.runCatalog(
      cat, "delete from d where doc_id = 1"))
    assert(eRead.getMessage.contains("runDelete"))
  }

  test("runUpdate: COW update from SQL — old-row semantics, types, guards (round 14)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-update").toString
    val docs = Seq(
      (1L, "aa", "en", "web", 10L), (2L, "cc", "de", "web", 20L),
      (3L, "dd", "en", "book", 30L), (4L, "gg", "fr", "web", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cat = Map("documents" -> docs)
    graft.sql.ZxSql.runCreate(cat,
      "create table u as select doc_id, lang, source, n_chars " +
        "from documents", wh)
    val v0 = EventStore.manifestVersion(spark, s"$wh/u")
    // measure-grammar RHS, cast back to the column's LONG type; swap
    // assignment (a = b, b = a shape) proves OLD-row evaluation: both
    // RHS see the pre-update values
    val after = graft.sql.ZxSql.runUpdate(cat,
      "update u set n_chars = n_chars * 2 + doc_id, " +
        "source = upper(source) where lang = 'en'", wh)
    val got = after.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(got == Map(1L -> ("WEB", 21L), 2L -> ("web", 20L),
      3L -> ("BOOK", 63L), 4L -> ("web", 40L)))
    // additive commit: pre-update version still time-travels
    assert(EventStore.readPinned(spark, s"$wh/u", v0)
      .filter(col("doc_id") === 1L).head().getLong(3) == 10L)
    // bare-column RHS copies the RAW column — strings survive
    val after2 = graft.sql.ZxSql.runUpdate(cat,
      "update u set source = lang where doc_id = 2", wh)
    assert(after2.filter(col("doc_id") === 2L).head().getString(2) == "de")
    // guards
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[Exception](graft.sql.ZxSql.runUpdate(cat, sql, wh))
      assert(e.getMessage.contains(frag), s"'$sql' → ${e.getMessage}")
    }
    bad("update u set n_chars = n_chars + 1", "WHERE")
    bad("update u set n_chars = 1, n_chars = 2 where doc_id = 1", "twice")
    bad("update u set nope = 1 where doc_id = 1", "does not exist")
    bad("update documents set n_chars = 1 where doc_id = 1", "CATALOG")
    val eRead = intercept[graft.sql.ZxSql.ParseError](graft.sql.ZxSql.runCatalog(
      cat, "update u set n_chars = 1 where doc_id = 1"))
    assert(eRead.getMessage.contains("runUpdate"))
  }

  test("runDrop: drop table [if exists] (round 14)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-drop").toString
    val docs = Seq((1L, "en", 5L)).toDF("doc_id", "lang", "n_chars")
    graft.sql.ZxSql.runCreate(Map("documents" -> docs),
      "create table dz as select doc_id, lang, n_chars from documents", wh)
    assert(EventStore.readPinned(spark, s"$wh/dz").count() == 1)
    graft.sql.ZxSql.runDrop("drop table dz", wh)
    assert(!new java.io.File(s"$wh/dz").exists())
    // missing: loud without the guard, no-op with it
    val e = intercept[graft.sql.ZxSql.ParseError](
      graft.sql.ZxSql.runDrop("drop table dz", wh))
    assert(e.getMessage.contains("if exists"))
    graft.sql.ZxSql.runDrop("drop table if exists dz", wh)
    val e2 = intercept[graft.sql.ZxSql.ParseError](
      graft.sql.ZxSql.runDrop("drop table dz extra", wh))
    assert(e2.getMessage.contains("trailing"))
  }

  test("avg and median spell mean and p50 (round 14)") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 6.0),
      (4L, "b", 4.0)).toDF("id", "k", "v")
    val a = graft.sql.ZxSql.run(rows,
      "select avg(v) as m, median(v) as p group by k order by m desc")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val b = graft.sql.ZxSql.run(rows,
      "select mean(v) as m, p50(v) as p group by k order by m desc")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(a.toSeq == b.toSeq && a.head == ("b", 4.0, 4.0))
  }

  test("warehouseCatalog: SELECT from created tables by name; debris invisible; pin time-travels (round 14)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-whcat").toString
    val docs = Seq((1L, "en", 5L), (2L, "de", 9L)).toDF("doc_id", "lang", "n_chars")
    val cat0 = Map("documents" -> docs)
    graft.sql.ZxSql.runCreate(cat0,
      "create table a as select doc_id, lang, n_chars from documents", wh)
    graft.sql.ZxSql.runCreate(cat0,
      "create table b as select doc_id from documents where lang = 'en'", wh)
    // a non-store dir (debris / foreign) must not list
    new java.io.File(s"$wh/junk").mkdirs()
    val cat = EventStore.warehouseCatalog(spark, wh)
    assert(cat.keySet == Set("a", "b"))
    val out = graft.sql.ZxSql.runCatalog(cat,
      "select sum(n_chars) as t from a group by lang order by t desc")
    assert(out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("de" -> 9.0, "en" -> 5.0))
    // pin: v0 view of a table after an insert
    graft.sql.ZxSql.runInsert(cat0,
      "insert into b select doc_id from documents where lang = 'de'", wh)
    assert(EventStore.warehouseCatalog(spark, wh)("b").count() == 2)
    assert(EventStore.warehouseCatalog(spark, wh,
      pin = Map("b" -> 0L))("b").count() == 1)
    val e = intercept[IllegalArgumentException](
      EventStore.warehouseCatalog(spark, wh, pin = Map("zz" -> 0L)))
    assert(e.getMessage.contains("zz"))
    // an empty / missing warehouse is an empty catalog, not an error
    assert(EventStore.warehouseCatalog(spark, wh + "/nope").isEmpty)
  }

  test("round-14 aggregates stream: filter/bool_and/bool_or in a tumbling window, batch == stream") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import SparkFixture.spark.implicits._
    val dir = Files.createTempDirectory("graft-r14stream").toString
    val base = 1704067200L
    val rows = Seq(
      ("a", base + 1L, 10.0), ("a", base + 2L, 200.0), ("a", base + 3L, 50.0),
      ("b", base + 4L, 5.0), ("b", base + 400L, 500.0))
    val df = rows.toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    df.write.mode("overwrite").parquet(dir)
    // the new aggregate surface rides the SAME groupedAgg compile in the
    // windowed path, so runStream accepts it with zero new code — pin
    // batch == stream on one SQL string
    val sql = "select sum(v) filter (where v > 40) as hi, " +
      "bool_or(v > 400) as spiked, bool_and(v > 1) as all_pos, " +
      "count(*) as n group by k granularity 300"
    def canon(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("k"), r.getAs[Long]("w_start"),
        r.getAs[Double]("hi"), r.getAs[Boolean]("spiked"),
        r.getAs[Boolean]("all_pos"), r.getAs[Double]("n"))
    val batch = graft.sql.ZxSql.run(spark.read.parquet(dir), sql)
      .collect().map(canon).toSet
    val out = graft.sql.ZxSql.runStream(
      spark.readStream.schema(df.schema).parquet(dir), sql,
      watermark = "0 seconds")
    // complete mode: append would hold back the newest window (the
    // watermark never passes its end on a finite replay)
    val q = out.writeStream.format("memory").queryName("r14agg_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("r14agg_out")
      .collect().map(canon).toSet
    assert(streamed == batch && batch.nonEmpty,
      s"stream $streamed != batch $batch")
  }

}
