package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.ProcessStarts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EventStore, LocalFs}
import graft.streaming.EventStream

/** The `file:` filesystem the session installs ([[LocalFs]]): the store and
  * the streaming checkpoint start no child process per file, and the rules
  * the store relies on hold as they did under the class `file:` resolved to
  * before (Hive's `ProxyLocalFileSystem`). */
class LocalFsSpec extends AnyFunSuite {
  import SparkFixture._

  private def conf = spark.sparkContext.hadoopConfiguration
  private val FileUri = URI.create("file:///")

  /** `file:` as it resolves without the session's setting. */
  private def previousFs(): FileSystem = {
    val c = new Configuration(conf)
    LocalFs.Conf.foreach { case (k, _) => c.unset(k) }
    FileSystem.newInstance(FileUri, c)
  }

  /** `n` events per day over 14 days from 2024-01-01. */
  private def events(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + 14L * n).select(
      col("id").as("event_id"),
      (lit(1704067200L) + (col("id") % 14) * 86400L + col("id") % 3600)
        .cast("timestamp").as("ts"),
      (col("id") % 37).as("user_id"), (col("id") * 0.5).as("value"))

  // first in the suite: in a JVM of its own no session exists yet
  test("ProcessStarts works as a suite's first statement") {
    assert(ProcessStarts(()).isEmpty)
  }

  test("file: resolves to the engine's filesystem after create and after register") {
    assert(new Path(FileUri).getFileSystem(conf).getClass == classOf[LocalFs])
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(FileUri, conf).getClass ==
      classOf[LocalFs.Context])
    // an externally-built session: the settings are missing until register
    // (on a second session over the same context, so the fixture's own
    // session is not registered twice)
    val saved = LocalFs.Conf.map { case (k, _) => k -> conf.get(k) }
    try {
      LocalFs.Conf.foreach { case (k, _) => conf.unset(k) }
      val before = FileSystem.newInstance(FileUri, conf)
      try assert(before.getClass != classOf[LocalFs]) finally before.close()
      GraftSession.register(spark.newSession())
      val after = FileSystem.newInstance(FileUri, conf)
      try assert(after.getClass == classOf[LocalFs]) finally after.close()
      assert(new Path(FileUri).getFileSystem(conf).getClass == classOf[LocalFs])
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("store writes, maintenance, a streamed micro-batch and a plain write start no process") {
    val base = Files.createTempDirectory("graft-noproc").toString
    val store = base + "/store"
    assert(ProcessStarts(EventStore.appendCommitted(events(50), store, "a", 0L)).isEmpty)
    assert(EventStore.readPinned(spark, store).select("event_date").distinct().count() == 14)
    EventStore.appendCommitted(events(50, 700L), store, "a", 1L)
    assert(ProcessStarts(assert(EventStore.compactInPlace(spark, store).nonEmpty)).isEmpty)
    assert(ProcessStarts(assert(EventStore.vacuum(spark, store).nonEmpty)).isEmpty)
    assert(EventStore.readPinned(spark, store).count() == 1400)

    val (src, streamed, ckpt) = (base + "/src", base + "/streamed", base + "/ckpt")
    events(10).coalesce(1).write.parquet(src)
    val q = EventStream.ingestManifested(
      spark.readStream.schema(events(1).schema).parquet(src), streamed, ckpt).start()
    try {
      q.processAllAvailable()
      events(10, 140L).coalesce(1).write.mode("append").parquet(src)
      assert(ProcessStarts(q.processAllAvailable()).isEmpty)
    } finally q.stop()
    assert(EventStore.manifestVersion(spark, streamed) == 1L)
    assert(EventStore.readPinned(spark, streamed).count() == 280)

    assert(ProcessStarts(events(50).withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").parquet(base + "/plain")).isEmpty)
  }

  test("rename onto an existing file returns false and leaves both files, on FileSystem and FileContext") {
    val dir = Files.createTempDirectory("graft-rename")
    val fs = new Path(FileUri).getFileSystem(conf)
    def put(name: String, text: String): Path = {
      val p = new Path(dir.toUri.toString, name)
      val out = fs.create(p, false)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      p
    }
    def text(name: String) = new String(Files.readAllBytes(dir.resolve(name)), "UTF-8")
    val (a, b) = (put("a", "first"), put("b", "second"))
    assert(!fs.rename(a, b))
    assert(text("a") == "first" && text("b") == "second")
    // FileContext (the streaming checkpoint): refused without OVERWRITE
    val fc = FileContext.getFileContext(FileUri, conf)
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    assert(text("a") == "first" && text("b") == "second")
    fc.rename(a, b, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("a")) && text("b") == "first")
    // a free name takes the file and its checksum
    assert(fs.rename(b, new Path(dir.toUri.toString, "c")))
    assert(text("c") == "first" && Files.exists(dir.resolve(".c.crc")))
  }

  test("created files read rw-r--r--, directories rwxr-xr-x, and each file has its .crc") {
    val dir = Files.createTempDirectory("graft-perm")
    val fs = new Path(FileUri).getFileSystem(conf)
    val fc = FileContext.getFileContext(FileUri, conf)
    fs.create(new Path(dir.toUri.toString, "d1/f1"), false).close()
    fc.create(new Path(dir.toUri.toString, "d2/f2"),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
      Options.CreateOpts.createParent()).close()
    events(2).withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").parquet(dir.resolve("d3").toString)
    def perms(p: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val all = Files.walk(dir).iterator().asScala.toSeq.filter(_ != dir)
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(dirs.size == 2 + 1 + 14, dirs)
    dirs.foreach(d => assert(perms(d) == "rwxr-xr-x", d))
    files.foreach(f => assert(perms(f) == "rw-r--r--", f))
    val data = files.map(_.getFileName.toString).filterNot(_.startsWith("."))
    assert(data.size >= 2 + 14)
    files.filterNot(_.getFileName.toString.startsWith(".")).foreach { f =>
      assert(Files.exists(f.resolveSibling("." + f.getFileName + ".crc")), f)
    }
  }

  test("manifest and sidecar bytes and their .crc are those the previous file: class writes") {
    val base = Files.createTempDirectory("graft-bytes")
    val store = base.resolve("store").toString
    EventStore.appendCommitted(events(20), store, "ingest:a", 4L)
    EventStore.writeFileStats(spark, store, Seq("user_id"))
    EventStore.writeFileKeySets(spark, store, "user_id")
    val rel = EventStore.manifestFiles(spark, store).map(_.stripPrefix(store + "/"))
    assert(rel.size >= 14)
    assert(new String(Files.readAllBytes(Paths.get(store, "_graft_manifest.v0.json")), "UTF-8") ==
      rel.sorted.map("\"" + _ + "\"").mkString(
        "{\"txn\": {\"app\": \"ingest:a\", \"batch\": 4}, \"files\": [", ",\n", "]}"))

    val fs = new Path(FileUri).getFileSystem(conf)
    val prev = previousFs()
    try {
      assert(prev.getClass != classOf[LocalFs])
      val meta = Files.list(Paths.get(store)).iterator().asScala.toSeq
        .map(_.getFileName.toString).filter(_.startsWith("_graft_manifest")).sorted
      assert(meta.size == 3, meta)
      // a manifest version and its .crc are hard links to its temp
      // file's, so each of the three is checked
      val checked = meta.count { name =>
        val in = fs.open(new Path(store, name))
        val bytes = try in.readAllBytes() finally in.close()
        val copy = base.resolve(name)
        val out = prev.create(new Path(copy.toUri.toString), false)
        try out.write(bytes) finally out.close()
        assert(Files.readAllBytes(copy).sameElements(Files.readAllBytes(Paths.get(store, name))), name)
        val crc = Paths.get(store, s".$name.crc")
        Files.exists(crc) && {
          assert(Files.readAllBytes(base.resolve(s".$name.crc")).sameElements(Files.readAllBytes(crc)), name)
          true
        }
      }
      assert(checked == 3)
    } finally prev.close()
  }

  test("a flipped byte in a manifest version fails its read with a ChecksumException") {
    val store = Files.createTempDirectory("graft-crc").resolve("store").toString
    EventStore.appendCommitted(events(20), store, "a", 0L)
    val rows = EventStore.readPinned(spark, store).count()
    val version = Paths.get(store, "_graft_manifest.v0.json")
    val bytes = Files.readAllBytes(version)
    // the last character of the last file name: the text still parses,
    // to a file list naming a file that is not there
    bytes(bytes.length - 4) = (bytes(bytes.length - 4) ^ 1).toByte
    Files.write(version, bytes)
    intercept[ChecksumException](EventStore.readPinned(spark, store))
    intercept[ChecksumException](EventStore.manifestFiles(spark, store))
    bytes(bytes.length - 4) = (bytes(bytes.length - 4) ^ 1).toByte
    Files.write(version, bytes)
    assert(EventStore.readPinned(spark, store).count() == rows)
  }
}
