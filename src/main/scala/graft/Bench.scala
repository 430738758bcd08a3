package graft
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Bench {
  /** Force full evaluation: xxhash64 over EVERY output column, folded into
    * one long. Unlike `count()` (under which Catalyst prunes all projections
    * — map-only queries were being timed as near-pure scans), this makes
    * every produced value flow through the hash, while still returning a
    * single row to the driver. The fold is bit_xor, not sum: summing 64-bit
    * hashes overflows a long under ANSI mode and aborts the job mid-scan. */
  def evaluate(df: DataFrame): Unit = {
    val checksum = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)"))
    checksum.collect()
    ()
  }

  /** Reset shared-JVM state between timed runs so one query's residue can't
    * tax the next: release every persisted/checkpointed RDD still in the
    * block store (iterative operators return localCheckpoint-backed frames
    * whose blocks otherwise live for the whole session — round-3 showed the
    * queries AFTER d6 in iteration order drifting 3-4× slower), then GC so
    * heap pressure from one query isn't billed to its successors. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Bench's environment contract, shared with the tools harness. */
  object Env {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    def session(): SparkSession =
      GraftSession.create(s"local[$cpus]", cpus.toInt)
  }

  /** Warm the JVM/session (codegen, parquet footer reads) so the first
    * timed query isn't charged session startup. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    catch { case _: Throwable => () }
  }

  /** Per-row medians with the raw per-run seconds (execution order), the
    * failed runs as `name#runN` → message, and each st_* lifecycle's
    * per-run micro-batch times (ms, triggerExecution per trigger — see
    * StreamReplay.lastBatchMs). */
  final case class Timings(
      rows: ListMap[String, (Double, Seq[Double])],
      errors: collection.Map[String, String],
      streamMs: collection.Map[String, Seq[Seq[Long]]])

  // Per-query time = MEDIAN of `runs` back-to-back executions, state reset
  // between each — a single-shot time conflates the plan's cost with
  // whatever JVM state the previous 50 queries left behind (JIT, GC debt,
  // leaked cache blocks), and round-3's tail-of-map queries regressed 4×
  // from exactly that. Medians make a slow number mean a slow PLAN.
  def timeRows(spark: SparkSession, sfDir: String,
      rows: Seq[(String, (SparkSession, String) => DataFrame)],
      runs: Int): Timings = {
    val errors = mutable.LinkedHashMap.empty[String, String]
    val streamMs = mutable.LinkedHashMap.empty[String, Seq[Seq[Long]]]
    val results = rows.map { case (name, fn) =>
      // st_* rows replay under a dash-spelled name ("st_gap" → "st-gap")
      val replayKey = name.replace('_', '-')
      val timed = (1 to runs).map { i =>
        graft.streaming.StreamReplay.lastBatchMs.remove(replayKey)
        val t0 = System.nanoTime()
        val ok = try { evaluate(fn(spark, sfDir)); true } catch {
          case e: Throwable =>
            errors(s"$name#run$i") = (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(160))
              .replaceAll("[\"\\\\]", "'")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.streaming.StreamReplay.lastBatchMs.get(replayKey).foreach { ms =>
          streamMs(name) = streamMs.getOrElse(name, Seq.empty) :+ ms
        }
        cleanup(spark)
        (dt, ok)
      }
      // Median over SUCCESSFUL runs only: a failed run's (typically fast)
      // wall time must not make a flaky query look quick while it also sits
      // in `errors`. If every run failed, report the median failure wall
      // time — the honest cost — with the per-run errors marking it broken.
      val good = timed.collect { case (dt, true) => dt }.sorted
      val all = timed.map(_._1).sorted
      val med = if (good.nonEmpty) good(good.size / 2) else all(all.size / 2)
      // keep the raw per-run times (execution order) next to the median:
      // a 13s median of (40, 13, 0.3) means a slow PLAN, of (13, 13, 0.3)
      // a warm-up cliff — round 12's j6 outlier was unadjudicable because
      // the artifact only carried the one number
      name -> (med, timed.map(_._1))
    }
    Timings(ListMap.from(results), errors, streamMs)
  }

  def main(args: Array[String]): Unit = {
    import Env._
    val spark = session()
    warmUp(spark, sfDir)
    // Fixed-work calibration probe: 64M xxhash64 folds across the session's
    // parallelism, data-independent and plan-trivial, timed as the median
    // of 3 runs. BENCH_r{N}.calib_sec lets cross-round per-query ratios be
    // normalized by the artifact itself instead of adjudicating box noise
    // (rounds 9-10 both had to argue 1.2-1.5x global drift from context).
    val calibSec = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0, 64L << 20, 1, cpus.toInt)
          .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    // Fixed-work I/O calibration probes (VERDICT r13 #1): calib_sec is
    // CPU-only, but the expensive rows it kept failing to explain
    // (j6_bucketed_join's build, every st_* lifecycle) are WAREHOUSE- and
    // CHECKPOINT-bound — two rounds of driver-box blowouts were only
    // attributable by inference. These two probes measure the box's disk
    // path with the exact operations those rows pay, so a cross-round
    // ratio on an I/O-bound row can be normalized by the artifact itself:
    //  - io_calib_sec: drop + bucketed saveAsTable (2M rows, 8 buckets)
    //    through the warehouse dir + full read-back checksum — j6's
    //    build-and-probe shape, data-independent;
    //  - stream_calib_sec: one complete checkpointed micro-stream
    //    lifecycle (stage parquet input → readStream → parquet sink +
    //    checkpoint → processAllAvailable → read back) — the st_* shape
    //    with a trivial operator, so it prices the lifecycle, not the
    //    operator. Medians of 3, like calib_sec.
    val ioCalibSec = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql("drop table if exists graft_io_probe")
        spark.range(0, 2L << 20, 1, 8)
          .selectExpr("id", "id % 997 as k", "cast(id as string) as s")
          .write.bucketBy(8, "k").sortBy("k")
          .format("parquet").saveAsTable("graft_io_probe")
        spark.table("graft_io_probe")
          .selectExpr("bit_xor(xxhash64(id, k, s)) as h").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      spark.sql("drop table if exists graft_io_probe")
      ts(1)
    }
    val streamCalibSec = {
      val base = "target/graft-bench-io/stream-probe"
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
        spark.range(0, 200000, 1, 4).selectExpr("id", "id % 97 as k")
          .write.parquet(base + "/in")
        val st = spark.readStream
          .schema("id bigint, k bigint").parquet(base + "/in")
        val q = st.writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/ckpt")
          .start()
        try q.processAllAvailable() finally q.stop()
        spark.read.parquet(base + "/out")
          .selectExpr("bit_xor(xxhash64(id, k)) as h").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      ts(1)
    }
    val Timings(results, errors, streamMs) =
      timeRows(spark, sfDir, SparkEntry.queries.toSeq, runs)
    // 3-decimal (ms) precision: full-precision doubles tripled the line
    // length and the harness tail buffer was truncating the JSON mid-string
    // (rounds 7-8 recorded parsed:null) — ms resolution is below run-to-run
    // noise anyway
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // per-run arrays, same order as execution — the self-adjudication
    // evidence for any outlier median (durable file only; tiny)
    val runsSec = results.map { case (k, (_, rs)) =>
      s"\"" + k + "\":" + rs.map(r3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val buildClass = SparkEntry.rows.filter(_.buildClass).map(_.name)
    val buildJson = buildClass.map("\"" + _ + "\"").mkString("[", ",", "]")
    val buildTotal = buildClass.map(results(_)._1).sum
    val streamJson = streamMs.map { case (k, runsArr) =>
      s"\"" + k + "\":" + runsArr.map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"runs_sec":$runsSec,"errors":$errs,"sf":"$sfDir","runs":$runs,"build_queries":$buildJson,"build_sec":${r3(buildTotal)},"calib_sec":${r3(calibSec)},"io_calib_sec":${r3(ioCalibSec)},"stream_calib_sec":${r3(streamCalibSec)},"stream_ms":$streamJson}"""
    // The harness captures a bounded (~2000 char) stdout tail: three
    // rounds running, the full per-query line truncated there into an
    // unparseable fragment. stdout now gets a SHORT self-contained
    // summary (fits any tail buffer, still one parseable JSON object);
    // the complete per-query map lives ONLY in the durable file.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","runs":$runs,"n_queries":${results.size},"n_errors":${errors.size},"build_n":${buildClass.size},"build_sec":${r3(buildTotal)},"calib_sec":${r3(calibSec)},"io_calib_sec":${r3(ioCalibSec)},"stream_calib_sec":${r3(streamCalibSec)},"queries_file":"$out"}""")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    spark.stop()
    // A bench with ANY deterministic per-query failure must not read as a
    // green measurement (round 8 recorded rc=0 over 8 errors).
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} failed runs: " +
        errors.keys.mkString(", "))
      sys.exit(2)
    }
  }
}
