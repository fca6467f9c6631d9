package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Parquet tables read with the schema the program declares for them
 * (graft.model.Schemas) instead of one Spark infers. Inference runs a Spark
 * job per table to read footers; a declared schema needs none. A declared
 * schema alone would fail open, though: a column the files lack reads as
 * NULL, and a column of another type fails only mid-job, if at all. So
 * [[read]] first checks one data file's footer on the driver (no Spark job,
 * no data read) and raises, as analysis of an inferred read would, when a
 * declared column is missing or has another type. Only that one file is
 * checked: the files of one table are assumed to share their schema, which
 * is what a plain inferred read (`mergeSchema` off) assumes too.
 */
object DeclaredParquet {

  /** `path` read with `schema`, after the footer check. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    requireDeclared(spark, path, schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Raises unless the first data file under `path` carries every column of
    * `schema` at its declared type (names matched by the session's
    * resolver; nullability not compared, file sources read all columns as
    * nullable). Extra file columns are allowed. */
  private def requireDeclared(spark: SparkSession, path: String, schema: StructType): Unit = {
    val (file, footer) = firstFooter(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val found = converter(spark).convert(footer.getSchema)
    val resolver = spark.sessionState.conf.resolver
    val mismatches = schema.fields.toSeq.flatMap { d =>
      found.fields.find(f => resolver(f.name, d.name)) match {
        case None => Some(s"column ${d.name} is missing")
        case Some(f) if f.dataType != d.dataType =>
          Some(s"column ${d.name} is ${f.dataType.simpleString}, " +
            s"declared ${d.dataType.simpleString}")
        case _ => None
      }
    }
    require(mismatches.isEmpty,
      s"$path does not match its declared schema (checked $file): " +
        mismatches.mkString("; "))
  }

  /** The schema a plain `spark.read.parquet(path)` infers (`mergeSchema`
    * off), read on the driver from the first data file's footer, with no
    * Spark job: the Spark schema the file was written with, if it carries
    * one, else its parquet schema through the session's converter (which
    * honours settings such as `spark.sql.legacy.parquet.nanosAsLong`).
    * The reader makes every column nullable either way. None when the
    * read would scan no data file: `path` is missing, or holds only
    * names the reader skips. */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] =
    firstFooter(spark, path).map { case (_, footer) =>
      Option(footer.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case st: StructType => st }
        .getOrElse(converter(spark).convert(footer.getSchema))
    }

  private def converter(spark: SparkSession) =
    new ParquetToSparkSchemaConverter(spark.sessionState.conf)

  /** The first data file under `path` and its footer's file metadata;
    * None if there is no data file. */
  private def firstFooter(spark: SparkSession,
                          path: String): Option[(Path, FileMetaData)] = {
    val conf = spark.sessionState.newHadoopConf()
    firstDataFile(new Path(path), conf).map { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try (file, reader.getFileMetaData) finally reader.close()
    }
  }

  /** The first file a parquet read of `root` would scan: Spark skips names
    * starting with `.`, and names starting with `_` unless they hold a `=`
    * (`_SUCCESS`, checksums and `_temporary` go; a partition dir such as
    * `__tier=doc` stays). None for a missing root. */
  private def firstDataFile(root: Path,
                            conf: org.apache.hadoop.conf.Configuration): Option[Path] = {
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else {
      val base = fs.makeQualified(root).toUri.getPath
      val files = fs.listFiles(root, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath).find { f =>
        !f.toUri.getPath.stripPrefix(base).split('/')
          .exists(s => (s.startsWith("_") && !s.contains("=")) || s.startsWith("."))
      }
    }
  }
}
