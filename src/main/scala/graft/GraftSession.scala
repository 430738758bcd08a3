package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.graftbridge.ParamLiterals

import graft.sources.LocalFs

/** Library session factory: the configuration every graft deployment wants —
  * AQE on (runtime re-planning, skew-join splitting), shuffle partitions
  * sized to the cluster rather than the 200 default, UTC, a codegen cache
  * that holds a dashboard's working set, a `file:` filesystem that starts
  * no process ([[graft.sources.LocalFs]]), and the engine's custom SQL
  * functions and planner strategy registered. */
object GraftSession {
  /** Entries of Spark's JVM-wide cache of compiled generated classes (Spark's
    * default is 100). One round of ten dashboard statements generates about
    * 100 classes, so at the default nothing survived from one round to the
    * next and every statement recompiled. */
  private val CodegenCacheEntries = 2000
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  def create(master: String = "local[*]", shufflePartitions: Int = 32,
             appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
    LocalFs.Conf.foreach { case (k, v) => b.config("spark.hadoop." + k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    register(s)
    s
  }

  /** Prepare an externally-built session: the `file:` filesystem, UTC, the
    * codegen cache size, [[ParamLiterals]] (generated code that does not
    * depend on literal values, so each statement shape compiles once) and
    * graft's SQL functions. Idempotent.
    *
    * Hadoop caches one `FileSystem` per scheme per JVM, so the `file:` class
    * takes effect only when `register` runs before anything in the JVM has
    * opened a `file:` path; [[create]] also sets it on the builder.
    *
    * The cache size is a static conf that Spark's `CodeGenerator` reads once
    * per JVM, when the first class is generated. Setting it here takes effect
    * only when `register` runs before any query in the JVM has generated
    * code; [[create]] also sets it on the builder. */
  def register(s: SparkSession): Unit = {
    LocalFs.Conf.foreach { case (k, v) => s.sparkContext.hadoopConfiguration.set(k, v) }
    // through the SQLConf itself: `s.conf.set` refuses static confs
    s.asInstanceOf[ClassicSession].sessionState.conf
      .setConfString(CodegenCacheKey, CodegenCacheEntries.toString)
    // Engine-wide contract: timestamps are UTC wall clock. The testdata's
    // TIMESTAMP_NTZ columns are normalized via session-zone casts, so a
    // host-local zone on an externally-built session would shift every
    // window boundary and date comparison.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    ParamLiterals.install(s)
    graft.expressions.RollingHash.register(s)
    graft.expressions.DotProduct.register(s)
    graft.functions.SqlFunctions.register(s)
  }
}
