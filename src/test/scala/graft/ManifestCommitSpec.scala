package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EventStore
import graft.streaming.EventStream

/** The manifested store's commit protocol: the version file's name is the
  * only arbiter between committers, a lost commit rebases inside the
  * engine, and every crash point leaves a store that reads one whole
  * version, takes the next commit and vacuums clean. */
class ManifestCommitSpec extends AnyFunSuite {
  import SparkFixture._

  private lazy val conf = spark.sparkContext.hadoopConfiguration

  /** `n` hourly events from id `from` (id 0 at 2024-01-01T00:00Z):
    * user_id = id % 7, value = id. */
  private def events(from: Long, n: Int): DataFrame =
    spark.range(from, from + n).selectExpr("id AS event_id",
      "timestamp_seconds(1704067200 + id * 3600) AS ts", "id % 7 AS user_id",
      "CAST(id AS DOUBLE) AS value")

  private def ids(df: DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  private def pinnedIds(dir: String, version: Long = -1L): Seq[Long] =
    ids(EventStore.readPinned(spark, dir, version))

  private val baseIds = 0L until 48L

  /** A store of ids 0..47 over two days, two files a day, created at v0,
    * under `renamehook:` (or the local scheme); (local path, store). */
  private def baseStore(scheme: String = "renamehook"): (String, String) = {
    val local = Files.createTempDirectory("graft-commit").toString + "/store"
    val dir = if (scheme == "file") local else RenameHookFs.path(conf, local)
    EventStore.createTable(events(0, 48).repartition(2), dir)
    (local, dir)
  }

  test("a micro-batch committing inside a compaction's publish window: both land, no caller retries") {
    val (_, dir) = baseStore()
    val n = EventStore.manifestVersion(spark, dir) + 1
    // the compaction's publish of v<n> first runs a whole ingest commit,
    // which takes v<n>; the compaction loses the name and rebases onto it
    var ingested = false
    RenameHookFs.armOnce(_ == s"_graft_manifest.v$n.json") {
      ingested = EventStream.ingestBatch(events(500, 10), dir, "spec-app", 3L)
    }
    val compacted = EventStore.compactInPlace(spark, dir)
    assert(ingested, "the injected micro-batch must have committed")
    assert(compacted.nonEmpty)
    assert(EventStore.manifestVersion(spark, dir) == n + 1)
    val diffs = Seq(n, n + 1).map(v => EventStore.manifestDiff(spark, dir, v - 1, v))
    assert(diffs.count { case (added, removed) => removed.isEmpty && added.nonEmpty } == 1,
      s"one of v$n, v${n + 1} must be the batch's append: $diffs")
    assert(diffs.count { case (_, removed) => removed.nonEmpty } == 1,
      s"one of v$n, v${n + 1} must be the compaction: $diffs")
    assert(pinnedIds(dir) == (baseIds ++ (500L until 510L)).sorted)
    assert(EventStore.lastTxn(spark, dir, "spec-app").contains(3L))
  }

  test("racing appenders and a looping compactor: every batch lands exactly once, on both publish paths") {
    for (scheme <- Seq("file", "renamehook")) {
      val local = Files.createTempDirectory("graft-commit").toString + "/store"
      val dir = if (scheme == "file") local else RenameHookFs.path(conf, local)
      EventStore.createTable(events(0, 48).repartition(2), dir)
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val appenders = (0 until 4).map { t =>
        new Thread(() => {
          try (1 to 5).foreach { b =>
            EventStore.appendCommitted(events(1000 + t * 100 + b * 10, 10), dir, s"race-$t", b.toLong)
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      @volatile var appending = true
      val compactions = new AtomicInteger()
      val compactor = new Thread(() => {
        try while (appending) {
          EventStore.compactInPlace(spark, dir)
          compactions.incrementAndGet()
          Thread.sleep(50)
        } catch { case e: Throwable => errs.add(e) }
      })
      // commits with no Spark job in them (each repeats the file set), so
      // one is nearly always in flight when an appender publishes: an
      // overwriting publish loses that appender's batch
      val manifests = new AtomicInteger()
      val manifester = new Thread(() => {
        try while (appending) {
          EventStore.commitRebased(fs, root, "race", Set.empty, Seq.empty)
          manifests.incrementAndGet()
        } catch { case e: Throwable => errs.add(e) }
      })
      compactor.start(); manifester.start(); appenders.foreach(_.start())
      appenders.foreach(_.join()); appending = false; compactor.join(); manifester.join()
      assert(errs.isEmpty, s"$scheme: ${errs.peek()}")
      assert(compactions.get() > 0 && manifests.get() > 0)
      info(s"$scheme: ${compactions.get()} compactions, ${manifests.get()} manifest commits")
      val all = pinnedIds(dir)
      assert(all.size == baseIds.size + 4 * 5 * 10, s"$scheme: ${all.size} rows")
      assert(all.distinct.size == all.size, s"$scheme: a batch landed twice")
      (0 until 4).foreach { t =>
        assert(EventStore.lastTxn(spark, dir, s"race-$t").contains(5L), s"$scheme: race-$t")
      }
      // every version reads whole, and no commit ever lost rows
      val counts = (0L to EventStore.manifestVersion(spark, dir))
        .map(v => EventStore.readPinned(spark, dir, v).count())
      assert(counts.zip(counts.tail).forall { case (a, b) => a <= b }, s"$scheme: $counts")
    }
  }

  test("version files and sidecars keep their names and bytes") {
    val local = Files.createTempDirectory("graft-format").toString + "/store"
    val moved = EventStore.appendCommitted(events(0, 10).coalesce(1), local, "fmt \"app\"", 4L)
    val file = moved.head
    assert(moved == Seq(file) && file.startsWith("event_date=2024-01-01/ingest-"))
    def text(name: String) = new String(Files.readAllBytes(Paths.get(local, name)), "UTF-8")
    assert(text("_graft_manifest.v0.json") ==
      s"""{"txn": {"app": "fmt \\"app\\"", "batch": 4}, "files": ["$file"]}""")
    EventStore.insertInto(events(24, 2).coalesce(1), local)
    val files = EventStore.manifestFiles(spark, local).map(_.stripPrefix(local + "/"))
    assert(files.size == 2)
    assert(text("_graft_manifest.v1.json") ==
      files.sorted.map("\"" + _ + "\"").mkString("{\"files\": [", ",\n", "]}"))
    EventStore.writeFileStats(spark, local, Seq("user_id"), version = 0L)
    assert(text("_graft_manifest.v0.stats.jsonl") ==
      s"""{"f":"$file","c":"user_id","mn":0,"mx":6}""" + "\n")
    EventStore.writeFileKeySets(spark, local, "user_id", version = 0L)
    assert(text("_graft_manifest.v0.keys.jsonl") ==
      s"""{"f":"$file","c":"user_id","k":[0,1,2,3,4,5,6]}""" + "\n")
  }

  test("a compaction with nothing to compact commits no version") {
    val (_, dir) = baseStore("file")
    assert(EventStore.compactInPlace(spark, dir).nonEmpty)
    val v = EventStore.manifestVersion(spark, dir)
    assert(EventStore.compactInPlace(spark, dir).isEmpty)
    assert(EventStore.manifestVersion(spark, dir) == v)
  }

  test("a commit lists the store root once, and vacuum's listings do not grow with retention") {
    val (local, dir) = baseStore()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def rootListings(body: => Unit): Int =
      RenameHookFs.tally(_.toUri.getPath == local)(body)("listStatus")
    assert(rootListings(EventStore.commitRebased(fs, root, "spec", Set.empty, Seq.empty)) == 1)
    EventStore.commitRebased(fs, root, "spec", Set.empty, Seq.empty)
    assert(EventStore.manifestVersion(spark, dir) == 2L)
    assert(rootListings(EventStore.manifestDiff(spark, dir, 0L, 2L)) == 1)
    val keepAll = rootListings(EventStore.vacuum(spark, dir, keepVersions = 3))
    val keepOne = rootListings(EventStore.vacuum(spark, dir, keepVersions = 1))
    assert(keepAll == keepOne, s"keepVersions 3: $keepAll root listings, 1: $keepOne")
    assert(pinnedIds(dir) == baseIds)
  }

  test("vacuum reclaims manifest and sidecar temp files past the grace window") {
    val (local, dir) = baseStore("file")
    val temps = Seq(".manifest-v9-1-2.tmp", ".stats-v0.tmp", ".keys-v0.tmp")
    def plant(): Unit = temps.foreach(t => Files.write(Paths.get(local, t), Array[Byte](1)))
    def left = temps.filter(t => Files.exists(Paths.get(local, t)))
    plant()
    EventStore.vacuum(spark, dir, olderThanMs = 3600000L)
    assert(left == temps, "a temp file within the grace window must survive")
    EventStore.vacuum(spark, dir, olderThanMs = 0L)
    assert(left.isEmpty, s"vacuum left $left")
    assert(pinnedIds(dir) == baseIds)
  }

  test("re-pinning stats with an added column replaces the sidecar where rename refuses to overwrite") {
    val (_, dir) = baseStore()
    EventStore.writeFileStats(spark, dir, Seq("user_id"))
    EventStore.writeFileStats(spark, dir, Seq("user_id", "event_id"))
    val pruned = EventStore.readPinned(spark, dir).filter(col("event_id").between(30L, 33L))
    assert(ids(pruned) == (30L to 33L))
    // the new bounds prune the first day's two files: ids 30..33 live in
    // both of the second day's
    assert(scanned(pruned) == 2)
  }

  // ------------------------------------------------------ crash injection

  /** An operation under crash injection. `prepare` readies a fresh copy of
    * the base store, unfaulted; `run` is the operation; `before`/`after`
    * are the ids a pinned read may show when its commit did not / did land
    * (None: no store yet); `probe` checks a pruned read. */
  private final class Op(val run: String => Unit, val before: Option[Seq[Long]],
                         val after: Seq[Long], val prepare: String => Unit = _ => (),
                         val probe: String => Unit = _ => ())

  private lazy val template: String = baseStore()._1

  /** A fresh copy of the base store: (local path, store). */
  private def fresh(op: Op): (String, String) = {
    val local = Files.createTempDirectory("graft-crash").toString + "/store"
    Using.resource(Files.walk(Paths.get(template))) { walk =>
      walk.forEach { p =>
        val to = Paths.get(local).resolve(Paths.get(template).relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
    }
    val dir = RenameHookFs.path(conf, local)
    op.prepare(dir)
    (local, dir)
  }

  /** The store's own steps: Spark's output committer is Spark's to make
    * crash-safe, so nothing inside a write's `_temporary` tree counts. */
  private def ours(local: String)(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.startsWith(local) && !s.contains("/_temporary")
  }

  /** Entries vacuum must not leave: unmanifested data files and
    * dot-named (staging, temp) entries. */
  private def debris(local: String, dir: String): Seq[String] = {
    val manifested = EventStore.manifestFiles(spark, dir).map(_.stripPrefix(dir + "/")).toSet
    val top = new java.io.File(local).listFiles().toSeq
    val parts = top.filter(d => d.isDirectory && !d.getName.startsWith("."))
    val dotted = (top ++ parts.flatMap(_.listFiles())).filter(_.getName.startsWith("."))
    val data = parts.flatMap(d => d.listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(d.getName + "/" + _.getName))
    dotted.map(_.getName) ++ data.filterNot(manifested)
  }

  test("a compaction failing mid-rewrite leaves nothing moving once it returns") {
    val (local, dir) = baseStore()
    def listing(): Set[String] = Using.resource(Files.walk(Paths.get(local))) { walk =>
      walk.iterator().asScala.map(_.toString).toSet
    }
    // the rewrite's second move-in fails: one partition's output is
    // already in its live dir, the other's still in staging
    RenameHookFs.failAt("rename", 2, after = false)(ours(local))
    intercept[java.io.IOException](EventStore.compactInPlace(spark, dir))
    assert(RenameHookFs.disarm())
    val atReturn = listing()
    Thread.sleep(3000)
    assert(listing() == atReturn, "the store kept changing after compactInPlace failed")
    EventStore.vacuum(spark, dir)
    assert(debris(local, dir).isEmpty)
    assert(pinnedIds(dir) == baseIds)
  }

  /** The pinned read filtered by `f` returns `want`, whichever sidecar,
    * if any, the fault left in place. */
  private def prunedRead(f: Column, want: Seq[Long])(dir: String): Unit =
    assert(ids(EventStore.readPinned(spark, dir).filter(f)) == want)

  /** The names a staged write moves its files in under. */
  private val StagedName = """(?:ingest|ctas|compact|zorder|merge|delete)-\d+-.+""".r

  private val ops: Seq[(String, Op)] = Seq(
    "appendCommitted" -> new Op(
      dir => EventStore.appendCommitted(events(100, 10), dir, "matrix", 1L),
      Some(baseIds), baseIds ++ (100L until 110L)),
    "insertInto" -> new Op(
      dir => EventStore.insertInto(events(200, 5).coalesce(1), dir),
      Some(baseIds), baseIds ++ (200L until 205L)),
    // ids 40..47 replaced, 48..55 new (one of them on a new date)
    "mergeInto" -> new Op(
      dir => EventStore.mergeInto(spark, dir, events(40, 16), Seq("event_id")),
      Some(baseIds), 0L until 56L),
    // the first day matches whole (dropped), the second in part (rewritten)
    "deleteWhere" -> new Op(
      dir => EventStore.deleteWhere(spark, dir, col("event_id") < 24L || col("event_id") % 3L === 0L),
      Some(baseIds), baseIds.filter(i => i >= 24L && i % 3L != 0L)),
    "updateWhere" -> new Op(
      dir => EventStore.updateWhere(spark, dir, col("event_id") < 10L,
        Map("event_id" -> (col("event_id") + 2000L))),
      Some(baseIds), (10L until 48L) ++ (2000L until 2010L)),
    "createTable" -> new Op(
      dir => EventStore.createTable(events(300, 10), dir),
      None, 300L until 310L,
      prepare = dir => EventStore.reset(spark, dir)),
    "compactInPlace" -> new Op(
      dir => EventStore.compactInPlace(spark, dir), Some(baseIds), baseIds),
    "clusterInPlace" -> new Op(
      dir => EventStore.clusterInPlace(spark, dir, "user_id", "event_id"),
      Some(baseIds), baseIds),
    "writeFileStats" -> new Op(
      dir => EventStore.writeFileStats(spark, dir, Seq("user_id", "event_id")),
      Some(baseIds), baseIds,
      prepare = dir => EventStore.writeFileStats(spark, dir, Seq("user_id")),
      probe = prunedRead(col("event_id").between(5L, 10L), 5L to 10L)),
    "writeFileKeySets" -> new Op(
      dir => EventStore.writeFileKeySets(spark, dir, "event_id"),
      Some(baseIds), baseIds,
      prepare = dir => EventStore.writeFileKeySets(spark, dir, "user_id"),
      probe = prunedRead(col("event_id") === 7L, Seq(7L))),
    "vacuum" -> new Op(
      dir => EventStore.vacuum(spark, dir), Some(baseIds), baseIds,
      prepare = { dir =>
        EventStore.writeFileStats(spark, dir, Seq("user_id"))
        EventStore.compactInPlace(spark, dir)
      }))

  for ((name, op) <- ops)
    test(s"crash injection: $name survives a fault before or after each of its renames, creates and deletes") {
      val t0 = System.nanoTime()
      val counts = {
        val (local, dir) = fresh(op)
        RenameHookFs.tally(ours(local))(op.run(dir))
          .filter { case (kind, _) => RenameHookFs.Mutations.contains(kind) }
      }
      assert(counts.values.sum > 0, s"$name touched nothing")
      val faults = for ((kind, n) <- counts.toSeq.sorted; k <- 1 to n; after <- Seq(false, true))
        yield (kind, n, k, after)
      faults.foreach { case (kind, n, k, after) =>
        val what = s"$name, fault ${if (after) "after" else "before"} $kind $k of $n"
        val (local, dir) = fresh(op)
        RenameHookFs.failAt(kind, k, after)(ours(local))
        Try(op.run(dir))
        assert(RenameHookFs.disarm(), s"$what: the fault never fired")
        // readers see exactly one whole version
        val seen = Try(pinnedIds(dir)).toOption
        assert(seen == op.before || seen.contains(op.after),
          s"$what: a pinned read saw ${seen.fold("no store")(_.size + " rows")}")
        op.probe(dir)
        // the next commit needs no operator step, and vacuum reclaims the rest
        EventStore.appendCommitted(events(1000, 3), dir, "after-fault", 1L)
        EventStore.vacuum(spark, dir)
        val left = debris(local, dir)
        assert(left.isEmpty, s"$what: vacuum left $left")
        // no file enters the store but through a staged write's move-in
        val unstaged = EventStore.manifestFiles(spark, dir).map(new Path(_).getName)
          .filterNot(StagedName.pattern.matcher(_).matches())
        assert(unstaged.isEmpty, s"$what: committed without staging: $unstaged")
        assert(pinnedIds(dir) == (seen.getOrElse(Nil) ++ (1000L until 1003L)).sorted,
          s"$what: rows changed")
      }
      info(f"$counts: ${faults.size} faults in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
}
