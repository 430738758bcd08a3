package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation, PartitionDirectory, PartitionSpec,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet relations opened without a Spark job.
  *
  * `spark.read.parquet` infers the data schema with a job that reads a
  * footer on an executor, and lists more than 32 paths with another job.
  * Here the footer is read on the driver, through Spark's own
  * footer-to-schema conversion under the session's SQLConf, and a caller
  * that already knows its files hands them over as the file index. The
  * relation is the one `spark.read` builds — same `HadoopFsRelation`,
  * same `basePath` partition inference, same schema — so the plan and its
  * pushdown do not change. `mergeSchema` still reads every footer (with
  * Spark's parallel merge), because that is its purpose. */
object ParquetFiles {

  /** `spark.read.parquet(path)`: the same driver-side listing, with the
    * schema from one footer. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val s = spark.asInstanceOf[ClassicSession]
    val p = new Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val index = new InMemoryFileIndex(s, Seq(root), Map.empty, None)
    if (index.allFiles().isEmpty && !fs.exists(root))
      throw QueryCompilationErrors.dataPathNotExistError(root.toString)
    relation(s, index, Map.empty)
  }

  /** `spark.read.option("basePath", basePath).option("mergeSchema", …)
    * .parquet(files: _*)` over statuses the caller already holds: no
    * listing and no path check — the statuses are the proof of existence.
    * `prune`, given the data filters Catalyst pushes to a scan, says which
    * files that scan keeps; it is asked only when there are filters. */
  def readKnown(spark: SparkSession, basePath: String, files: Seq[FileStatus],
                mergeSchema: Boolean,
                prune: Option[Seq[Expression] => FileStatus => Boolean] = None): DataFrame = {
    val s = spark.asInstanceOf[ClassicSession]
    val options = Map("basePath" -> basePath, "mergeSchema" -> mergeSchema.toString)
    relation(s, new KnownFileIndex(s, files, options, prune), options)
  }

  /** The error `spark.read` raises for a path that does not exist. */
  def pathNotFound(path: String): Throwable = QueryCompilationErrors.dataPathNotExistError(path)

  private def relation(s: ClassicSession, index: PartitioningAwareFileIndex,
                       options: Map[String, String]): DataFrame = {
    val fsRelation = HadoopFsRelation(index, index.partitionSchema,
      dataSchema(s, index.allFiles(), options).asNullable, None, new ParquetFileFormat,
      CaseInsensitiveMap(options))(s)
    Dataset.ofRows(s, LogicalRelation(fsRelation))
  }

  /** What `ParquetFileFormat.inferSchema` returns, with the single-footer
    * case read here instead of in a job: the first data file's footer
    * (Spark's own pick when no summary file exists, and listings never
    * return summary files). */
  private def dataSchema(s: ClassicSession, files: Seq[FileStatus],
                         options: Map[String, String]): StructType = {
    val sqlConf = s.sessionState.conf
    val schema =
      if (new ParquetOptions(options, sqlConf).mergeSchema)
        new ParquetFileFormat().inferSchema(s, options, files)
      else footerSchemas(s, files.take(1), options).headOption
    schema.getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
  }

  /** The data schema each file's footer declares, read on the driver. */
  def footerSchemas(spark: SparkSession, files: Seq[FileStatus],
                    options: Map[String, String] = Map.empty): Seq[StructType] = {
    val s = spark.asInstanceOf[ClassicSession]
    val conf = s.sessionState.newHadoopConfWithOptions(options)
    val converter = new ParquetToSparkSchemaConverter(s.sessionState.conf)
    files.map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
    }
  }
}

/** A file index over a known file set, built the way Spark's streaming
  * `MetadataLogFileIndex` is: the statuses are the leaf files, and
  * partitions are inferred from their directories under the `basePath`
  * option, exactly as a listing index would. Equal to another index over
  * the same files, as `InMemoryFileIndex` is, so exchange reuse across
  * two reads of one snapshot still applies: `prune` only drops files no
  * row of the scan can come from. */
private class KnownFileIndex(spark: SparkSession, files: Seq[FileStatus],
                             parameters: Map[String, String],
                             prune: Option[Seq[Expression] => FileStatus => Boolean])
    extends PartitioningAwareFileIndex(spark, parameters, None) {
  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  override val rootPaths: Seq[Path] = files.map(_.getPath)
  private lazy val partitions = inferPartitioning()
  override def partitionSpec(): PartitionSpec = partitions
  override def refresh(): Unit = ()
  /** Partition pruning as in any index, then `prune`'s verdict per file;
    * a directory left without files drops out. The schema and `inputFiles`
    * still come from every file. */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = super.listFiles(partitionFilters, dataFilters)
    prune.filter(_ => dataFilters.nonEmpty).fold(listed) { p =>
      val keep = p(dataFilters)
      listed.map(d => d.copy(files = d.files.filter(f => keep(f.fileStatus))))
        .filter(_.files.nonEmpty)
    }
  }
  override def equals(other: Any): Boolean = other match {
    case o: KnownFileIndex => rootPaths.toSet == o.rootPaths.toSet
    case _ => false
  }
  override def hashCode(): Int = rootPaths.toSet.hashCode()
}
