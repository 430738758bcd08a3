package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.sources.Tables
import graft.sql.ZxSql

/** Local iteration harness over the registry and the dialect:
  *   sbt "runMain graft.tools.Harness time <row> [<row> …]"
  *   sbt "runMain graft.tools.Harness sql <sfDir> <stmt> [<stmt> …]"
  *   sbt "runMain graft.tools.Harness plan <row> [<row> …]"
  *   sbt "runMain graft.tools.Harness smoke"
  * Sessions, the rows' data directory and the run count follow Bench's
  * environment contract (SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_RUNS), so a `time` number is directly comparable to the
  * same row in a Bench run without paying the whole sweep; `time` also
  * writes its rows to Bench's durable file (SPARK_GRAFT_BENCH_OUT) with
  * Bench's per-row fields. */
object Harness {
  private val usage = "usage: Harness time <row>… | sql <sfDir> <stmt>… | " +
    "plan <row>… | smoke"

  def main(args: Array[String]): Unit = {
    import Bench.Env._
    // each command reports whether every run succeeded
    val command: SparkSession => Boolean = args.toList match {
      case "time" :: names if names.nonEmpty => s => {
        val t = time(s, sfDir, names, runs)
        Bench.writeDurable(s"""{"metric":"time",${Bench.rowsJson(t)},"sf":"$sfDir","runs":$runs}""")
        t.errors.isEmpty
      }
      case "sql" :: dir :: stmts if stmts.nonEmpty =>
        sql(_, dir, stmts, runs).errors.isEmpty
      case "plan" :: names if names.nonEmpty => s => { plan(s, sfDir, names); true }
      case List("smoke") => s => { smoke(s); true }
      case _ => System.err.println(usage); sys.exit(1)
    }
    val spark = session()
    val ok = try command(spark) finally spark.stop()
    if (!ok) sys.exit(2)
  }

  private def builders(names: Seq[String]) = names.map(n => n ->
    SparkEntry.queries.getOrElse(n, sys.error(s"unknown registry row '$n'")))

  /** Times the named rows with Bench's loop and checksum, printing each
    * median next to its raw runs. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
      runs: Int): Bench.Timings = {
    val rows = builders(names)
    Bench.warmUp(spark, sfDir)
    report("time", Bench.timeRows(spark, sfDir, rows, runs))
  }

  /** The ten test tables by name, each opened once: the catalog that
    * `runCatalog` statements resolve their FROM clauses against. */
  private def catalog(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Tables.names.map(n => n -> Tables.open(n)(spark, dir)).toMap

  /** Times each dialect statement (named q0, q1, … in argument order)
    * against the catalog with Bench's loop, then shows its first rows. */
  def sql(spark: SparkSession, dir: String, stmts: Seq[String],
      runs: Int): Bench.Timings = {
    val tables = catalog(spark, dir)
    val named = stmts.zipWithIndex.map { case (stmt, i) =>
      s"q$i" -> ((_: SparkSession, _: String) => ZxSql.runCatalog(tables, stmt))
    }
    val timings = report("sql", Bench.timeRows(spark, dir, named, runs))
    named.zip(stmts).foreach { case ((q, build), stmt) =>
      if (!timings.errors.keys.exists(_.startsWith(q + "#"))) {
        println(s"[sql] $q: $stmt")
        build(spark, dir).show(20, truncate = false)
      }
    }
    timings
  }

  /** Executes each named row, then prints its formatted final plan (after
    * adaptive re-planning): pushed filters, read schemas, join strategies,
    * whole-stage codegen. */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    builders(names).foreach { case (name, build) =>
      val df = build(spark, sfDir)
      df.collect()
      println(s"\n================= $name =================")
      println(df.queryExecution.explainString(FormattedMode))
    }

  /** Runs `SparkEntry.entry` and prints its row count; the smoke check
    * passes when rows > 0. */
  def smoke(spark: SparkSession): Unit = {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
  }

  private def report(tag: String, t: Bench.Timings): Bench.Timings = {
    t.rows.foreach { case (name, (med, runs)) =>
      println(f"[$tag] $name%-28s median $med%.3f  runs " +
        runs.map(r => f"$r%.3f").mkString(" "))
    }
    t.errors.foreach { case (run, msg) => println(s"[$tag] $run FAILED: $msg") }
    t
  }
}
