package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Rows are hermetic: a subset run in any order returns what it returns in
  * registry order. Each order runs over its own fresh copy of the test
  * data, so no fixture built for one directory (an index, bucketed tables,
  * a CTAS slice) is warm for the other. */
class HermeticSpec extends AnyFunSuite {
  import SparkFixture.spark

  /** Each fixture's producer, and the rows that read what it builds. */
  private val producers: Seq[(String, Seq[String])] = Seq(
    "s4_ivf_build" -> Seq("s4_ivf_knn", "p58_sql_knn_index", "p65_sql_mmr_index",
      "p70_sql_knn_pq_index", "s9_ivfpq_knn", "s12_filtered_ann", "d10_semantic_dedup"),
    "j6b_bucketed_build" -> Seq("j6_bucketed_join"),
    "p94_sql_ctas" -> Seq("p94b_sql_ctas_readback", "p99_sql_warehouse"))

  /** A copy of sf0.001 under a new directory. */
  private def freshCopy(): String = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("graft-hermetic").resolve("sf0.001")
    Files.createDirectories(dst)
    Files.list(src).forEach(p => Files.copy(p, dst.resolve(p.getFileName)))
    dst.toString
  }

  private def checksums(names: Seq[String]): Seq[(String, Row)] = {
    val dir = freshCopy()
    // what the rows build lives in the session's scratch root
    try names.map(n => n -> Bench.evaluate(SparkEntry.queries(n)(spark, dir)))
    finally FileUtils.deleteQuietly(Paths.get(dir).getParent.toFile)
  }

  test("a seeded shuffle of rows, each fixture read before it is built, matches registry order") {
    val all = SparkEntry.rows.map(_.name)
    val fixtureRows = producers.flatMap { case (p, readers) => readers :+ p }
    val rnd = new Random(20261018L)
    val sample = rnd.shuffle(all.filterNot(fixtureRows.contains)).take(24)
    val readers = rnd.shuffle(sample ++ producers.flatMap(_._2))
    // each producer runs right after the last row that reads its fixture
    val shuffled = producers.foldLeft(readers) { case (order, (p, rs)) =>
      order.patch(rs.map(order.indexOf).max + 1, Seq(p), 0)
    }
    val registryOrder = all.filter(shuffled.contains)
    assert(shuffled.sorted == registryOrder.sorted && shuffled != registryOrder)
    info(shuffled.mkString(", "))
    val first = checksums(shuffled).toMap
    val differ = checksums(registryOrder).collect {
      case (n, sum) if first(n) != sum => s"$n: shuffled ${first(n)}, registry order $sum"
    }
    assert(differ.isEmpty, differ.mkString("; "))
  }
}
