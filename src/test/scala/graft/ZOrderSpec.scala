package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EventStore, ZOrder}

/** Z-order clustered rewrite: Morton-code algebra against a bit-by-bit
  * model, and the end-to-end claim — after clusterInPlace, a selective
  * filter on the SECOND dimension admits strictly fewer row groups than
  * the ingest-ordered layout, with content preserved byte-for-byte. */
class ZOrderSpec extends AnyFunSuite {
  import SparkFixture._

  /** `dir`'s pinned read of `version` filtered by `f`: its planned scan
    * reads `files` files, and it returns exactly the rows of the unpruned
    * read, which are returned. */
  private def pruned(dir: String, f: Column, files: Long, version: Long = -1L): Set[Row] = {
    val df = EventStore.readPinned(spark, dir, version).filter(f)
    assert(scanned(df) == files, s"$f scanned ${scanned(df)} files")
    val rows = df.collect().toSet
    assert(rows == unpruned(dir, version).filter(f).collect().toSet, s"$f")
    rows
  }

  test("interleave16 matches the bit-by-bit Morton model") {
    // deterministic spread of 16-bit patterns incl. the edge masks
    val samples = Seq[(Long, Long)](
      (0L, 0L), (0xFFFFL, 0L), (0L, 0xFFFFL), (0xFFFFL, 0xFFFFL),
      (1L, 2L), (0xAAAAL, 0x5555L), (12345L, 54321L), (65535L, 32768L))
    def model(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) |
        (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    import spark.implicits._
    val got = samples.toDF("a", "b")
      .select(ZOrder.interleave16(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == samples.map { case (a, b) => model(a, b) })
  }

  test("zValueN matches the bit-by-bit Morton model for 3 and 4 dims; 2-dim equals zValue") {
    import spark.implicits._
    // full-width buckets: feed values already in [0, 2^bits) with ranges
    // [0, 2^bits - 1] so bucketing is identity and the interleave alone is
    // under test
    def modelN(vals: Seq[Long], bits: Int): Long =
      (0 until bits).flatMap(j => vals.zipWithIndex.map { case (v, i) =>
        ((v >> j) & 1L) << (j * vals.size + i) }).reduce(_ | _)
    val s3 = Seq[(Long, Long, Long)](
      (0L, 0L, 0L), (0xFFFFL, 0xFFFFL, 0xFFFFL), (1L, 2L, 4L),
      (0xAAAAL, 0x5555L, 0x0F0FL), (12345L, 54321L, 65535L))
    val r16 = (0L, 65535L)
    val got3 = s3.toDF("a", "b", "c")
      .select(ZOrder.zValueN(Seq(
        (col("a"), r16), (col("b"), r16), (col("c"), r16))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got3 == s3.map { case (a, b, c) => modelN(Seq(a, b, c), 16) })
    val r15 = (0L, 32767L)
    val s4 = Seq[(Long, Long, Long, Long)](
      (0L, 0L, 0L, 0L), (0x7FFFL, 0x7FFFL, 0x7FFFL, 0x7FFFL),
      (1L, 2L, 4L, 8L), (0x2AAAL, 0x5555L, 0x0F0FL, 0x7FFFL))
    val got4 = s4.toDF("a", "b", "c", "d")
      .select(ZOrder.zValueN(Seq((col("a"), r15), (col("b"), r15),
        (col("c"), r15), (col("d"), r15))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got4 == s4.map { case (a, b, c, d) => modelN(Seq(a, b, c, d), 15) })
    assert(got4.forall(_ >= 0L), "4-dim z must stay below the sign bit")
    // 2-dim zValueN is bit-identical to the original pairwise zValue
    val df2 = Seq((123L, 456L), (65535L, 1L)).toDF("a", "b")
    val viaN = df2.select(ZOrder.zValueN(Seq((col("a"), r16), (col("b"), r16))))
      .collect().map(_.getLong(0)).toSeq
    val via2 = df2.select(ZOrder.zValue(col("a"), r16, col("b"), r16))
      .collect().map(_.getLong(0)).toSeq
    assert(viaN == via2)
    // dim-count guards
    assertThrows[IllegalArgumentException](ZOrder.zValueN(Seq((col("a"), r16))))
    assertThrows[IllegalArgumentException](
      ZOrder.zValueN(Seq.fill(5)((col("a"), r16))))
  }

  test("zValue stays exact on huge-range columns (snowflake ids, nano epochs)") {
    import spark.implicits._
    // ids spanning ~2^62: the affine formula (x-min)*65536/range wraps
    // Long at ~2^47 and interleaves garbage; the shift formula cannot
    val base = -1500000000000000000L
    val step = 60000000000000000L // 6e16 → 64 ids span ~3.8e18 ≈ 2^61.7
    val df = Seq.tabulate(64)(i => (base + i.toLong * step, 5L)).toDF("id", "x")
    val ranges = ZOrder.columnRanges(df, Seq("id", "x"))
    val z = df.orderBy("id")
      .select(ZOrder.zValue(col("id"), ranges("id"), col("x"), ranges("x")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(z.forall(v => v >= 0 && v < (1L << 32)), s"z out of 32-bit range: $z")
    // second dim is constant (bucket 0) ⇒ z must be MONOTONE in id —
    // exactly what the overflowing formula breaks
    assert(z == z.sorted, "z not monotone in the clustering column")
    assert(z.distinct.size > 32, s"bucket collapse: ${z.distinct.size} distinct")
    // full-64-bit span is rejected loudly, not silently wrapped
    val degenerate = Seq((Long.MinValue, 1L), (Long.MaxValue, 2L)).toDF("id", "x")
    val dr = ZOrder.columnRanges(degenerate, Seq("id", "x"))
    assert(intercept[IllegalArgumentException](
      degenerate.select(ZOrder.zValue(col("id"), dr("id"), col("x"), dr("x"))))
      .getMessage.contains("2^63"))
  }

  test("clusterInPlace: user filter skips row groups the time-ordered layout cannot; content preserved") {
    val dir = Files.createTempDirectory("graft-zorder").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 4)
      .select("event_id", "ts", "user_id", "value")
    // ingest-order layout: time-sliced files (the natural append order) —
    // every file's user_id stats span the whole id space
    EventStore.createTable(
      src.repartitionByRange(6, col("ts")).sortWithinPartitions("ts"), dir)
    val before = EventStore.readPinned(spark, dir).collect().toSet
    val (uMin, uMax) = {
      val r = src.agg(min("user_id"), max("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    // a selective filter: the bottom ~eighth of the id space
    val hi = uMin + math.max(1L, (uMax - uMin) / 8)
    val linear = ZOrder.rowGroupStats(spark,
      EventStore.manifestFiles(spark, dir), "user_id", uMin, hi)
    assert(linear.totalRowGroups >= 6)
    // time-sliced files cannot skip on user_id: (nearly) all admitted
    assert(linear.admittedRowGroups * 4 >= linear.totalRowGroups * 3,
      s"expected the linear layout to admit >=3/4 of row groups, got $linear")

    val stats = EventStore.clusterInPlace(spark, dir, "user_id", "ts",
      targetBytes = 2048)
    assert(stats.filesAfter >= 8, s"want a multi-file clustered layout: $stats")
    val zed = ZOrder.rowGroupStats(spark,
      EventStore.manifestFiles(spark, dir), "user_id", uMin, hi)
    assert(zed.totalRowGroups >= 8)
    assert(zed.admittedRowGroups < linear.admittedRowGroups,
      s"z-order must admit strictly fewer row groups: $linear -> $zed")
    assert(zed.admittedRowGroups * 2 <= zed.totalRowGroups,
      s"z-order should skip at least half the row groups for a 1/8-space filter: $zed")
    // the admitted-rows fraction is the real scan-cost proxy
    assert(zed.admittedRows < zed.totalRows)

    // content: byte-identical rows through the pinned read, old files
    // reclaimed by vacuum, pinned read still whole afterwards
    assert(EventStore.readPinned(spark, dir).collect().toSet == before)
    val deleted = EventStore.vacuum(spark, dir)
    assert(deleted.nonEmpty, "the replaced time-sliced files must be reclaimed")
    assert(EventStore.readPinned(spark, dir).collect().toSet == before)
    // directory partitioning survived the rewrite (time pruning intact)
    val dates = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dates.length >= 3)
  }

  test("stats-pruned reads bind fewer files yet equal the full filtered read exactly") {
    val dir = Files.createTempDirectory("graft-statsprune").toString + "/events"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 4)
      .select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.repartition(4), dir)
    EventStore.clusterInPlace(spark, dir, "user_id", "ts", targetBytes = 2048)
    val vClustered = EventStore.manifestVersion(spark, dir)
    assert(EventStore.writeFileStats(spark, dir, Seq("user_id")) ==
      EventStore.manifestFiles(spark, dir).size,
      "every data file must pin a user_id range")
    val (uMin, uMax) = {
      val r = src.agg(min("user_id"), max("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val hi = uMin + math.max(1L, (uMax - uMin) / 8)
    val all = EventStore.manifestFiles(spark, dir).size
    assert(all == 14)
    // a strictly smaller file list, decided at PLANNING time, with
    // identical rows — pruning is conservative, never lossy
    assert(pruned(dir, col("user_id").between(uMin, hi), 6).nonEmpty)
    // the same bounds written as comparisons in either order
    pruned(dir, lit(uMin) <= col("user_id") && col("user_id") <= hi, 6)
    // a range beyond the data prunes every file and is provably empty
    assert(pruned(dir, col("user_id").between(uMax + 1000, uMax + 2000), 0).isEmpty)
    // an older version has no sidecar, and the sidecar pins no double
    // bounds: both filters keep every file
    pruned(dir, col("user_id").between(uMin, hi),
      EventStore.manifestFiles(spark, dir, vClustered - 1).size, vClustered - 1)
    pruned(dir, col("value").between(0L, 1L), all)
  }

  test("a ZxSql statement over warehouseCatalog scans only the files its stats admit") {
    val wh = Files.createTempDirectory("graft-whprune").toString
    val dir = wh + "/ev"
    val src = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(dayofmonth(col("ts")) <= 4)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // range partitioning: each date's files hold contiguous user ranges
    EventStore.createTable(src.repartitionByRange(4, col("user_id")), dir)
    EventStore.writeFileStats(spark, dir, Seq("user_id"))
    val uMin = src.agg(min("user_id")).head().getLong(0)
    val stmt = "select count(*) as n, sum(value) as s from ev " +
      s"where user_id <= $uMin group by event_type"
    val out = graft.sql.ZxSql.runCatalog(EventStore.warehouseCatalog(spark, wh), stmt)
    val plain = graft.sql.ZxSql.runCatalog(Map("ev" -> unpruned(dir)), stmt)
    assert(scanned(plain) == EventStore.manifestFiles(spark, dir).size)
    assert(scanned(out) < EventStore.manifestFiles(spark, dir).size,
      s"scanned ${scanned(out)} of ${EventStore.manifestFiles(spark, dir).size}")
    assert(out.collect().toSet == plain.collect().toSet && out.count() > 0)
  }

  test("truncated string bounds: prefix lower, incremented upper, ASCII guard (c8b)") {
    import graft.sources.ZOrder.truncatedStringBounds
    // short strings pass through untouched
    assert(truncatedStringBounds("click", "view", 16) == Some(("click", "view")))
    // upper bound increments AT the cut so it stays >= everything it covers
    assert(truncatedStringBounds("purchase", "purchase", 4) == Some(("purc", "purd")))
    // the incremented bound really is an upper bound, in string order
    val Some((lo, hi)) = truncatedStringBounds("aaaa_long_tail", "zzzz_long_tail", 4)
    assert(lo <= "aaaa_long_tail" && hi >= "zzzz_long_tail")
    // a max-ASCII cut cascades left ('a'++ = 'b', DELs drop); an
    // all-maximal prefix is unrepresentable
    val del = "\u007f"
    assert(truncatedStringBounds("a", "a" + del * 3 + "x", 4) == Some(("a", "b")))
    assert(truncatedStringBounds("a", del * 4 + "x", 4).isEmpty)
    // non-ASCII bounds refuse to pin: UTF-8 binary order and UTF-16 order
    // diverge beyond ASCII, and pruning must not outsmart its comparator
    assert(truncatedStringBounds("caf\u00e9", "caf\u00e9", 16).isEmpty)
  }

  test("double-stats-pruned reads: IEEE contract — pruned == full, NaN poisons to admit, -0.0 == 0.0 (c8c)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dblstats").toString
    EventStore.reset(spark, dir)
    import spark.implicits._
    def ts(i: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1704067200L + i * 60L))
    val base = (0 until 2000).map(i => (i.toLong, ts(i), i * 0.5 - 100.0))
    val special = Seq((9001L, ts(200), Double.NaN), (9002L, ts(201), -0.0))
    val df = (base ++ special).toDF("event_id", "ts", "value")
    // four value bands, one append each: files hold contiguous value
    // ranges, so the interval bounds can actually separate them, and the
    // layout does not hang on a sampled range partitioner (NaN sorts into
    // the top band, and alone in its date)
    val band = when(col("value") < 150.0, 0).when(col("value") < 400.0, 1)
      .when(col("value") < 650.0, 2).otherwise(3)
    commitStore(dir, (0 to 3).map(b => df.filter(band === b).coalesce(1)): _*)
    assert(EventStore.writeFileStats(spark, dir, Nil,
      doubleColumns = Seq("value")) > 0)
    val all = EventStore.manifestFiles(spark, dir).size
    assert(all == 6)
    def ids(rows: Set[Row]) = rows.map(_.getAs[Long]("event_id"))
    // a narrow low-end range scans fewer files and equals the full filter
    assert(pruned(dir, col("value").between(-100.0, -90.0), 2).nonEmpty)
    // -0.0 == 0.0 in IEEE AND SQL comparison: the [0, 0] point range must
    // return BOTH the 0.0 row and the -0.0 row — pruning with total-order
    // compare (Double.compare: -0.0 < 0.0) could drop the -0.0 file
    assert(ids(pruned(dir, col("value").between(0.0, 0.0), 2)) == Set(200L, 9002L),
      "both signed zeros must match the [0,0] range")
    assert(ids(pruned(dir, col("value") === -0.0, 2)) == Set(200L, 9002L))
    // the NaN row fails every range with a finite upper bound (Spark and
    // DuckDB both order NaN above all finite values) — whether its file's
    // stats got NaN-poisoned (admit) or NaN-excluded (prunable) is
    // writer-version dependent, and BOTH are safe
    assert(pruned(dir, col("value").between(-1e6, 1e6), all).size == 2001,
      "everything but the NaN row")
    // beyond the data: only the file without bounds is scanned, and the
    // result is empty
    assert(pruned(dir, col("value").between(5000.0, 6000.0), 1).isEmpty)
    // ...but NaN passes a lower bound alone, so a bound the stats may have
    // left the NaN out of decides nothing; neither does a NaN literal, nor
    // a filter on an unpinned column: every file is kept
    assert(ids(pruned(dir, col("value") > 5000.0, all)) == Set(9001L))
    assert(ids(pruned(dir, col("value") === Double.NaN, all)) == Set(9001L))
    pruned(dir, col("value") < Double.PositiveInfinity, all)
    pruned(dir, col("event_id").between(0.0, 1.0), all)
  }

  test("string-stats-pruned reads bind fewer files yet equal the full filtered read (c8b)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-strstats").toString
    EventStore.reset(spark, dir)
    import spark.implicits._
    val n = 2000
    val df = (0 until n).map { i =>
      (i.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704067200L + i * 60L)),
        Seq("alpha", "bravo", "charlie", "purchaseverylongtype")(i % 4), i * 1.5)
    }.toDF("event_id", "ts", "etype", "value")
    // one append per type: files hold alphabetically CONTIGUOUS type
    // ranges — interval bounds can only prune what the layout separates
    commitStore(dir, Seq("alpha", "bravo", "charlie", "purchaseverylongtype")
      .map(t => df.filter(col("etype") === t).coalesce(1)): _*)
    val pinned = EventStore.writeFileStats(spark, dir, Seq("event_id"),
      stringColumns = Seq("etype"), truncateTo = 8)
    assert(pinned > 0)
    val all = EventStore.manifestFiles(spark, dir).size
    assert(all == 8)
    assert(pruned(dir, col("etype") === "bravo", 2).size == n / 4)
    // truncated upper bound stays conservative: the long type still matches
    assert(pruned(dir, col("etype") === "purchaseverylongtype", 2).size == n / 4)
    // IN probes each value
    assert(pruned(dir, col("etype").isin("alpha", "bravo"), 4).size == n / 2)
    // out-of-range key prunes everything, provably empty
    assert(pruned(dir, col("etype") === "zz", 0).isEmpty)
    // a string filter the bounds cannot decide keeps every file
    assert(pruned(dir, col("etype").like("b%"), all).size == n / 4)
  }
}
