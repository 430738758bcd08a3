package graft

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EventStore, Tables}

/** Opening tables and pinned store reads: no Spark job before execution,
  * and exactly the relation a plain `spark.read.parquet` builds. */
class OpenSpec extends AnyFunSuite {
  import SparkFixture._

  private val sf = "/root/testdata/sf0.001"

  /** `df`'s parquet scan, planned. */
  private def scan(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no parquet scan in\n${df.queryExecution.executedPlan}"))

  test("opening every Tables loader launches no job and keeps spark.read's schema") {
    // events first: its loader sets the conf the footer conversion reads
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "events" -> Tables.events, "lineitem" -> Tables.lineitem,
      "orders" -> Tables.orders, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part,
      "nation" -> Tables.nation, "region" -> Tables.region,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    loaders.foreach { case (name, open) =>
      var df: DataFrame = null
      val jobs = JobCount(spark.sparkContext) { df = open(spark, sf); df.schema }
      assert(jobs == 0, s"opening $name launched $jobs job(s)")
      var plain: DataFrame = null
      // the counter sees the schema job a plain read runs
      assert(JobCount(spark.sparkContext) {
        plain = spark.read.parquet(s"$sf/$name.parquet"); plain.schema
      } >= 1)
      assert(Tables.table(spark, sf, name).schema == plain.schema, name)
      if (name != "events") assert(df.schema == plain.schema, name)
    }
    // events: the testdata's raw `ts` encoding survives the footer read,
    // and the loader still normalizes it to a zoned timestamp
    val raw = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    assert(Tables.table(spark, sf, "events").schema("ts").dataType == raw)
    val events = Tables.events(spark, sf)
    assert(events.schema("ts").dataType == TimestampType)
    raw match {
      case TimestampNTZType => assert(events.columns.contains(Tables.TsNtzCol))
      case _ =>
    }
    assert(events.count() == spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("a missing table path fails at open as spark.read's does") {
    val e = intercept[AnalysisException](Tables.table(spark, sf, "no_such_table"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  /** A manifested events store over `days` date partitions, one file per
    * partition per batch. */
  private def store(batches: Int, days: Int = 14): String = {
    val dir = Files.createTempDirectory("graft-open").toString + "/events"
    val src = Tables.events(spark, sf).filter(dayofmonth(col("ts")) <= days)
      .select("event_id", "ts", "user_id", "event_type", "value")
    commitStore(dir, (0 until batches).map(b =>
      src.filter(pmod(col("event_id"), lit(batches)) === b).coalesce(1)): _*)
    dir
  }

  test("readPinned launches no job on both sides of the 32-path listing threshold") {
    Seq(2 -> 28, 4 -> 56).foreach { case (batches, nFiles) =>
      val dir = store(batches)
      val files = EventStore.manifestFiles(spark, dir)
      assert(files.size == nFiles)
      var pinned: DataFrame = null
      val jobs = JobCount(spark.sparkContext) {
        pinned = EventStore.readPinned(spark, dir); pinned.schema
      }
      assert(jobs == 0, s"readPinned over $nFiles files launched $jobs job(s)")
      val plain = spark.read.option("basePath", dir).parquet(files: _*)
      assert(pinned.schema == plain.schema)
      assert(pinned.schema("event_date").dataType == DateType)
      assert(pinned.inputFiles.toSet == plain.inputFiles.toSet)
      assert(pinned.collect().toSet == plain.collect().toSet)
      // the same scan: partition pruning and pushed filters unchanged
      def q(df: DataFrame) =
        df.filter(col("event_date") === lit("2024-01-05") && col("value") > 10)
      val (mine, theirs) = (scan(q(pinned)), scan(q(plain)))
      assert(mine.partitionFilters.map(_.sql) == theirs.partitionFilters.map(_.sql))
      assert(mine.metadata("PushedFilters") == theirs.metadata("PushedFilters"))
      assert(mine.selectedPartitions.filePartitionIterator.size == 1)
      assert(q(pinned).collect().toSet == q(plain).collect().toSet)
      // two reads of one snapshot are the same relation (exchange reuse)
      assert(EventStore.readPinned(spark, dir).queryExecution.analyzed
        .sameResult(pinned.queryExecution.analyzed))
      // planning a sidecar-pruned scan of every tier runs no job either:
      // sidecar and manifest are read on the driver, and a string probe
      // hashed there
      val vStats = EventStore.manifestVersion(spark, dir)
      EventStore.writeFileStats(spark, dir, Seq("user_id"),
        stringColumns = Seq("event_type"), doubleColumns = Seq("value"))
      EventStore.writeFileKeySets(spark, dir, "user_id")
      // one key-set sidecar per version: a job-free commit of the same files
      val root = new org.apache.hadoop.fs.Path(dir)
      EventStore.commitRebased(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, "re-pin", Set.empty, Nil)
      EventStore.writeFileKeySets(spark, dir, "event_type")
      val user = pinned.agg(min("user_id")).head().getLong(0)
      val etype = pinned.where(col("event_type").isNotNull)
        .select("event_type").head().getString(0)
      // (tier, version, filter, files scanned out of 28 and of 56)
      val reads: Seq[(String, Long, Column, Map[Int, Long])] = Seq(
        ("integral stats", vStats, col("user_id").between(user, user + 20),
          Map(28 -> 28, 56 -> 56)),
        ("string stats", vStats, col("event_type") === etype, Map(28 -> 28, 56 -> 55)),
        ("double stats", vStats, col("value").between(0.0, 10.0), Map(28 -> 27, 56 -> 41)),
        ("integral keys", vStats, col("user_id") === user, Map(28 -> 20, 56 -> 25)),
        ("hashed keys", -1L, col("event_type") === etype, Map(28 -> 28, 56 -> 47)))
      reads.foreach { case (tier, version, rows, files) =>
        var df: DataFrame = null
        var planned = 0L
        val jobs = JobCount(spark.sparkContext) {
          df = EventStore.readPinned(spark, dir, version).filter(rows); planned = scanned(df)
        }
        assert(jobs == 0, s"planning a $tier scan over $nFiles files launched $jobs job(s)")
        assert(planned == files(nFiles), s"$tier: $planned files")
        assert(df.collect().toSet == unpruned(dir, version).filter(rows).collect().toSet, tier)
      }
    }
  }

  test("compactInPlace runs the same jobs for 4 partitions as for 14, none to open them") {
    val jobs = Seq(4, 14).map { days =>
      val dir = store(4, days)
      val before = EventStore.readPinned(spark, dir).collect().toSet
      var compacted = Seq.empty[EventStore.PartitionCompaction]
      val n = JobCount(spark.sparkContext) { compacted = EventStore.compactInPlace(spark, dir) }
      assert(compacted.size == days && compacted.forall(_.filesBefore == 4))
      assert(EventStore.manifestFiles(spark, dir).size == days)
      assert(EventStore.readPinned(spark, dir).collect().toSet == before)
      n
    }
    // the rewrite's shuffle map stage and its write: opening the files
    // and each further partition add none
    assert(jobs == Seq(2, 2), s"jobs for 4 and 14 partitions: $jobs")
  }

  test("a manifest file deleted from disk fails the pinned read at open") {
    val dir = store(2)
    val files = EventStore.manifestFiles(spark, dir)
    val gone = new java.io.File(files(3))
    assert(gone.delete())
    val e = intercept[AnalysisException](EventStore.readPinned(spark, dir))
    assert(e.getCondition == "PATH_NOT_FOUND" && e.getMessage.contains(gone.getName),
      e.getMessage)
    // a whole partition directory gone fails the same way
    val part = new java.io.File(files(10)).getParentFile
    part.listFiles().foreach(_.delete()); assert(part.delete())
    assert(intercept[AnalysisException](EventStore.readPinned(spark, dir))
      .getCondition == "PATH_NOT_FOUND")
  }

  test("mergeSchema reads every footer over the same file set and unifies columns") {
    val dir = Files.createTempDirectory("graft-open-merge").toString + "/events"
    val src = Tables.events(spark, sf).select("event_id", "ts", "user_id", "value")
    EventStore.createTable(src.filter(col("event_id") % 2 === 0), dir)
    EventStore.appendCommitted(src.filter(col("event_id") % 2 === 1)
      .withColumn("q_score", col("value") / 2), dir, "open-merge", 1L)
    val files = EventStore.manifestFiles(spark, dir)
    val merged = EventStore.readPinned(spark, dir, mergeSchema = true)
    val plain = spark.read.option("basePath", dir).option("mergeSchema", "true")
      .parquet(files: _*)
    assert(merged.schema == plain.schema)
    assert(merged.columns.contains("q_score"))
    assert(merged.inputFiles.toSet == plain.inputFiles.toSet)
    assert(merged.filter(col("q_score").isNull).count() ==
      src.filter(col("event_id") % 2 === 0).count())
  }
}
