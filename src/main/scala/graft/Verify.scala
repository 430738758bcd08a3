package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). A third comma-separated
    // name list is a local-iteration convenience only.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = Bench.Env.session()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed query must NOT vanish from the round's artifact (round 8
        // dropped 13 crashed queries and the compare reported all-green).
        // Leave a non-parquet marker where the result would be, so any
        // downstream reader of outDir/<name> fails LOUDLY with the real
        // error instead of skipping the key.
        val msg = e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")
        failures(name) = msg.linesIterator.take(4).mkString(" | ").take(500)
        System.err.println(s"[verify] $name FAILED: $msg")
        val d = new java.io.File(s"$outDir/$name")
        org.apache.commons.io.FileUtils.deleteQuietly(d); d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/QUERY_FAILED.txt"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure roster next to the oracle dump: a round with
    // any entry here is NOT green no matter how the per-query compare reads.
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    // Exit 0 even with failures: the markers above surface them per-query in
    // the compare; a nonzero rc here would discard the 100+ GREEN results
    // along with the broken ones (round 6 lost a whole round that way).
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
  }
}
