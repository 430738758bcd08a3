package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkFiles
import org.scalatest.funsuite.AnyFunSuite

/** Rows keep their state in the session's scratch root and nowhere else:
  * a store row, a CTAS row, a stream replay and both fixture pairs leave
  * nothing under the working directory, and everything they read back
  * lies under [[Scratch.root]], inside the driver temp directory Spark
  * deletes when the context stops. */
class ScratchSpec extends AnyFunSuite {
  import SparkFixture.spark

  private val rows = Seq("c5_manifest_compact", "p95_sql_insert", "st_tumbling",
    "j6b_bucketed_build", "j6_bucketed_join", "s4_ivf_build", "s4_ivf_knn")

  private def listing(dir: Path, depth: Int): Set[Path] =
    if (!Files.isDirectory(dir)) Set.empty
    else Using.resource(Files.walk(dir, depth))(_.iterator.asScala.toSet)

  /** What a row could leave under the working directory: its top-level
    * entries, `target/graft-*`, and anything inside the warehouse. */
  private def workingDirState(warehouse: Path): Set[Path] = {
    val cwd = Paths.get("").toAbsolutePath
    listing(cwd, 1) ++
      listing(cwd.resolve("target"), 1).filter(_.getFileName.toString.startsWith("graft-")) ++
      (listing(warehouse, Int.MaxValue) - warehouse)
  }

  test("rows leave nothing under the working directory; what they write lies under the scratch root") {
    val src = Paths.get("/root/testdata/sf0.001")
    val copy = Files.createTempDirectory("graft-scratch")
    val dir = copy.resolve("sf0.001")
    Files.createDirectories(dir)
    Files.list(src).forEach(p => Files.copy(p, dir.resolve(p.getFileName)))
    val warehouse = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    try {
      val before = workingDirState(warehouse)
      val read = rows.map { n =>
        val df = SparkEntry.queries(n)(spark, dir.toString)
        Bench.evaluate(df)
        n -> df.inputFiles.toSeq
      }
      val root = Scratch.root(spark)
      assert(root.startsWith(new java.io.File(SparkFiles.getRootDirectory()).getAbsolutePath))
      val outside = read.collect {
        case (n, files) if files.isEmpty || !files.forall(_.contains(root)) => s"$n: $files"
      }
      assert(outside.isEmpty, outside.mkString("; "))
      val added = (workingDirState(warehouse) -- before)
        .filterNot(p => p == warehouse && listing(warehouse, 1) == Set(warehouse))
      assert(added.isEmpty, s"new under the working directory: ${added.mkString(", ")}")
    } finally FileUtils.deleteQuietly(copy.toFile)
  }
}
