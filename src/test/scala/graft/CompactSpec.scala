package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EventStore

/** [[EventStore.compactInPlace]] on both sides of its one-file threshold:
  * a date sized to one file (nOut = 1) ends with exactly one, a larger
  * date with at most nOut and no input file split, and a date already
  * compact is left alone. */
class CompactSpec extends AnyFunSuite {
  import SparkFixture._

  /** `rows` events spread over day `d` (0: 2024-01-01), ids from `from`. */
  private def day(d: Int, rows: Int, from: Long): DataFrame =
    spark.range(from, from + rows).selectExpr("id AS event_id",
      s"timestamp_seconds(1704067200 + $d * 86400 + (id - $from) * ${86400 / rows}) AS ts",
      "id % 7 AS user_id", "id * 0.37 AS value")

  /** A manifested store with one committed batch per element of
    * `batches`, each writing one file for every (day, rows) it lists. */
  private def store(batches: Seq[(Int, Int)]*): String = {
    val dir = Files.createTempDirectory("graft-compact").toString + "/events"
    var next = 0L
    batches.zipWithIndex.foreach { case (days, b) =>
      val df = days.map { case (d, n) => next += n; day(d, n, next - n) }.reduce(_ union _)
      EventStore.appendCommitted(df.coalesce(1), dir, "compact-spec", b.toLong)
    }
    dir
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The manifest's files, grouped by partition. */
  private def byDate(dir: String): Map[String, Seq[String]] =
    EventStore.manifestFiles(spark, dir).map(_.stripPrefix(dir + "/"))
      .groupBy(_.takeWhile(_ != '/'))

  /** The manifest file each event id was read from. */
  private def fileOf(dir: String): Map[Long, String] =
    EventStore.readPinned(spark, dir).select(col("event_id"), col("_metadata.file_path"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Compacts `dir` at `targetBytes`, checks that the pinned rows (read
    * with `mergeSchema`) are unchanged and that vacuum deletes exactly the
    * replaced files; the outcome, and the manifest before and after. */
  private def compact(dir: String, targetBytes: Long, mergeSchema: Boolean = false)
      : (Seq[EventStore.PartitionCompaction], Map[String, Seq[String]], Map[String, Seq[String]]) = {
    def pinned = rows(EventStore.readPinned(spark, dir, mergeSchema = mergeSchema))
    val (before, filesBefore) = (pinned, byDate(dir))
    val out = EventStore.compactInPlace(spark, dir, targetBytes)
    assert(out.nonEmpty)
    val filesAfter = byDate(dir)
    assert(out.forall(p => p.filesAfter == filesAfter(p.partition).size), out)
    assert(pinned == before)
    assert(EventStore.vacuum(spark, dir).size == out.map(_.filesBefore).sum)
    assert(pinned == before)
    (out, filesBefore, filesAfter)
  }

  test("every date sized to one file ends with exactly one, holding only its rows") {
    val dir = store(Seq(0 -> 24, 1 -> 24, 2 -> 24), Seq(0 -> 24, 1 -> 24, 2 -> 24),
      Seq(0 -> 24, 1 -> 24, 2 -> 24))
    val pinned = EventStore.readPinned(spark, dir)
    val perDate = byDate(dir).keys.map { part =>
      part -> rows(pinned.filter(col("event_date") === part.stripPrefix("event_date=")))
    }.toMap
    val (out, _, after) = compact(dir, 128L << 20)
    assert(out.map(p => (p.partition, p.filesBefore, p.filesAfter)) ==
      Seq(0, 1, 2).map(d => (s"event_date=2024-01-0${d + 1}", 3, 1)))
    after.foreach { case (part, files) =>
      assert(files.size == 1, part)
      assert(rows(EventStore.readFiles(spark, dir, files)) == perDate(part), part)
    }
  }

  test("a date sized to several files gets at most that many, and no input file is split") {
    val dir = store(Seq(0 -> 3000, 1 -> 24), Seq(0 -> 3000, 1 -> 24),
      Seq(0 -> 3000, 1 -> 24), Seq(0 -> 3000, 1 -> 24))
    val big = "event_date=2024-01-01"
    val bigBytes = byDate(dir)(big).map(f => new java.io.File(dir, f).length).sum
    // day 0 sizes to 3 files, day 1 (a few KB) to one
    val targetBytes = bigBytes / 3 + 1
    val from = fileOf(dir)
    val (out, _, after) = compact(dir, targetBytes)
    assert(out.map(p => (p.partition, p.filesBefore)) == Seq(big -> 4, "event_date=2024-01-02" -> 4))
    assert((1 to 3).contains(after(big).size), after(big))
    assert(after("event_date=2024-01-02").size == 1)
    val to = fileOf(dir)
    from.groupBy(_._2).foreach { case (input, ids) =>
      val outputs = ids.keys.map(to).toSet
      assert(outputs.size == 1, s"$input's rows went to $outputs")
    }
  }

  test("dates written with different columns keep every column") {
    val dir = store(Seq(0 -> 24), Seq(0 -> 24))
    (2 to 3).foreach { b =>
      EventStore.appendCommitted(day(1, 24, b * 100L).withColumn("q_score", col("value") * 2)
        .coalesce(1), dir, "compact-spec", b.toLong)
    }
    compact(dir, 128L << 20, mergeSchema = true)
    assert(EventStore.readPinned(spark, dir, mergeSchema = true)
      .filter(col("q_score").isNotNull).count() == 48)
  }

  test("a column only a date's later write carries survives compaction") {
    // 48 hourly rows over two dates, then 48 more over the same dates with
    // a column the first write lacks: every date's first file lacks it
    val dir = store(Seq(0 -> 24, 1 -> 24))
    EventStore.appendCommitted(day(0, 24, 100L).union(day(1, 24, 200L))
      .withColumn("q_score", col("value") * 2).coalesce(1), dir, "compact-spec", 1L)
    compact(dir, 128L << 20, mergeSchema = true)
    assert(EventStore.readPinned(spark, dir, mergeSchema = true)
      .filter(col("q_score").isNotNull).count() == 48)
  }

  test("dates already compact are neither rewritten nor replaced") {
    val dir = store(Seq(0 -> 24, 1 -> 24, 2 -> 24), Seq(0 -> 24), Seq(0 -> 24, 2 -> 24))
    val (out, before, after) = compact(dir, 128L << 20)
    assert(out.map(p => (p.partition, p.filesBefore, p.filesAfter)) ==
      Seq(("event_date=2024-01-01", 3, 1), ("event_date=2024-01-03", 2, 1)))
    assert(after("event_date=2024-01-02") == before("event_date=2024-01-02"))
    assert(after("event_date=2024-01-02").size == 1)
  }
}
