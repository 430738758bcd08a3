package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetFiles

/** Parquet table loaders for the driver testdata layout (TESTDATA.md).
  *
  * A loader opens the file the way `spark.read.parquet` does — same
  * driver-side listing, same relation, so the vectorized Parquet reader and
  * Catalyst pushdown are untouched — but takes the schema from the file's
  * footer on the driver ([[org.apache.spark.sql.graftbridge.ParquetFiles]])
  * instead of in a Spark job: opening a table launches none, which is most
  * of a small query's fixed cost. Columnar files on a distributed store
  * replace the reference's entire storage layer (per-column redis
  * processes, proc.rs:12-58) — they ARE the "separated storage and
  * computing layers" of README.md:4. At cluster scale the same loaders work
  * against an object-store path; date partitioning of the events table
  * would add directory-level pruning on top of the row-group stats we
  * already get.
  */
object Tables {
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetFiles.read(s, s"$dir/$name.parquet")

  /** Scale-ADAPTIVE fan-out for CPU-heavy narrow work (opt guide §2: derive
    * partitioning from the input, never from a constant tuned for one box).
    *
    * A parquet scan parallelizes at ROW-GROUP granularity, and a table
    * written as one file with one row group (the shape of small reference
    * corpora, dimension snapshots, and this repo's testdata) plans as ONE
    * scan task — so every expensive per-row map riding the scan stage
    * (tokenization, MinHash folds, LM scoring, span windows, codecs) runs
    * on one core no matter how many the session has. This helper exchanges
    * the rows once, IFF the planned scan has fewer partitions than the
    * session's parallelism; on a 100 TB table the scan already has
    * thousands of row-group splits, the condition is false, and the call
    * is a provable no-op (no exchange added — plan-identical).
    *
    * Deliberately NOT a blanket setting: callers opt in at the points
    * where the downstream per-row work dwarfs one small exchange, so pure
    * scan→filter→aggregate paths keep their zero-exchange plans. Off
    * switch (`spark.graft.fanout=false`) for plan-shape tests. */
  def fanOut(df: DataFrame): DataFrame = {
    // streaming frames pass through: micro-batch parallelism is the
    // source's business (and .rdd is illegal on an unstarted stream)
    if (df.isStreaming) return df
    val s = df.sparkSession
    if (!s.conf.get("spark.graft.fanout", "true").toBoolean) return df
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Raw epoch-nanos companion column kept alongside the converted `ts` —
    * [[graft.compile.Compiler.scanFilter]] mirrors time bounds onto it so the
    * range predicate reaches the Parquet reader (row-group min/max pruning)
    * even though the TimestampType `ts` is a derived expression. */
  val TsNanosCol = "__ts_ns"

  /** Raw TIMESTAMP_NTZ companion column — same role as [[TsNanosCol]], for
    * testdata generations whose `ts` is parquet timestamp[us] without a UTC
    * marker. Predicates on the NTZ copy push into the Parquet reader; the
    * session-zoned `ts` the rest of the engine sees is a derived cast. */
  val TsNtzCol = "__ts_ntz"

  /** The events table's `ts` physical encoding has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as LONG via the
    * runtime-settable legacy conf, set before [[table]] converts the
    * footer), plain timestamp[us] without the UTC flag
    * (read as TIMESTAMP_NTZ), or an already-zoned TimestampType. Normalize
    * every shape to a session-zoned TimestampType `ts` — the engine-wide
    * contract (windows, epoch-second casts, as-of joins all assume it) —
    * keeping the raw column as [[TsNanosCol]]/[[TsNtzCol]] for predicate
    * pushdown. Wall-clock times in the data are UTC, so the session zone is
    * pinned here (runtime-settable) rather than trusting the caller's
    * builder: an NTZ→TZ cast under a stray local zone would shift every
    * window boundary. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(s, dir, "events")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // integer `div`, NOT `/`: double division loses precision above 2^53
        // (epoch-nanos ≈ 2^60) — a 1 µs error that can cross a second
        // boundary and corrupt window assignment
        raw.withColumn(TsNanosCol, col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn(TsNtzCol, col("ts"))
          .withColumn("ts", col("ts").cast(TimestampType))
      case Some(_: TimestampType) | _ => raw
    }
  }

  /** The test tables (TESTDATA.md), by name. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The loader of one of [[names]]; `events` is [[events]], which
    * normalises `ts` and sets the session confs it needs. */
  def open(name: String): (SparkSession, String) => DataFrame = name match {
    case "events" => events
    case n if names.contains(n) => table(_, _, n)
    case n => throw new IllegalArgumentException(s"unknown test table '$n'")
  }

  def lineitem(s: SparkSession, dir: String): DataFrame   = table(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame     = table(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame   = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = table(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame     = table(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame     = table(s, dir, "region")
  def documents(s: SparkSession, dir: String): DataFrame  = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")
}
