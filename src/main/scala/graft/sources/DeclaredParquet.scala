package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

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
    val conf = spark.sessionState.newHadoopConf()
    val file = firstDataFile(new Path(path), conf).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val found =
      try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(reader.getFileMetaData.getSchema)
      finally reader.close()
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

  /** The first file a parquet read of `root` would scan: Spark skips names
    * starting with `_` or `.` (`_SUCCESS`, checksums, `_temporary`). */
  private def firstDataFile(root: Path,
                            conf: org.apache.hadoop.conf.Configuration): Option[Path] = {
    val fs = root.getFileSystem(conf)
    val base = fs.makeQualified(root).toUri.getPath
    val files = fs.listFiles(root, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath).find { f =>
      !f.toUri.getPath.stripPrefix(base).split('/')
        .exists(s => s.startsWith("_") || s.startsWith("."))
    }
  }
}
