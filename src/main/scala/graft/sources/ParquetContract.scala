package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet read by schema contract: the relation is opened with the
  * contract as its schema, so Spark runs no schema-inference job (one per
  * `spark.read.parquet` call without a schema).
  *
  * An explicit schema alone would turn a missing column into NULLs and a
  * retyped one into a read-time cast error. So before the read, one data
  * file's footer is read on the driver (no Spark job, a few ms) and every
  * contract column must be present in it with the contract's type — the
  * check schema inference gave, where a missing column failed analysis.
  * Like inference with `mergeSchema` off, one footer stands for the whole
  * table. */
object ParquetContract {

  def read(spark: SparkSession, table: String, path: String,
      schema: StructType): DataFrame = {
    check(spark, table, path, schema)
    spark.read.schema(schema).parquet(path)
  }

  /** What identifies the rows of a bare parquet scan: its schema, and for
    * each file in its file index the filesystem's file key where there is
    * one (so a hard link is the same file), else its path, with the file's
    * length and modification time. None for any other relation (a JDBC or
    * in-memory relation, a filtered or limited scan): no file listing
    * stands for its rows. */
  def version(df: DataFrame): Option[Seq[Any]] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(_.fileStatus).sortBy(_.getPath.toString)
          Some(df.schema +: files.map(f =>
            (fileKey(f.getPath), f.getLen, f.getModificationTime)))
        case _ => None
      }
      case _ => None
    }

  private def fileKey(p: Path): Any =
    if (p.toUri.getScheme != "file") p.toString
    else Try(Files.readAttributes(Paths.get(p.toUri),
        classOf[BasicFileAttributes]).fileKey()).toOption
      .flatMap(Option(_)).getOrElse(p.toString)

  /** Throws when a contract column is absent from, or differently typed
    * in, the footer of the first data file under `path`. */
  private def check(spark: SparkSession, table: String, path: String,
      schema: StructType): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = Some(fs.getFileStatus(root)).filter(_.isFile)
      .orElse(fs.listStatus(root).filter(visibleFile).sortBy(_.getPath.getName)
        .headOption)
      .getOrElse(throw new IllegalStateException(
        s"table $table: no parquet data file under $path"))
    val options = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, conf), options)
    val found = try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(reader.getFileMetaData.getSchema)
      finally reader.close()
    val resolver = spark.sessionState.conf.resolver
    schema.fields.foreach { c =>
      found.fields.find(f => resolver(f.name, c.name)) match {
        case None => throw new IllegalStateException(
          s"table $table: contract column ${c.name} (${c.dataType.sql}) is " +
            s"missing from ${file.getPath}")
        case Some(f) if f.dataType != c.dataType =>
          throw new IllegalStateException(
            s"table $table: column ${c.name} is ${f.dataType.sql} in " +
              s"${file.getPath}, contract type ${c.dataType.sql}")
        case _ =>
      }
    }
  }

  // Spark's own rule for files a parquet scan skips: `_SUCCESS`,
  // `_metadata`, `.crc` checksums and other hidden names
  private def visibleFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }
}
