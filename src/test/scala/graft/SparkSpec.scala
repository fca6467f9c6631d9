package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, Spark-style). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def withTempDirs[A](prefixes: String*)(body: Seq[String] => A): A =
    SparkSpec.withTempDirs(prefixes: _*)(body)
}

object SparkSpec {
  /** Catalog state of the specs (saveAsTable for bucketing tests), kept out
    * of the repo's tracked files and emptied at each session start. */
  val warehouse: File = new File("target/graft-warehouse").getAbsoluteFile

  /** Runs `body` with one fresh temp dir per prefix, all deleted afterwards
    * whether `body` passes or throws. */
  def withTempDirs[A](prefixes: String*)(body: Seq[String] => A): A = {
    val dirs = prefixes.map(p => java.nio.file.Files.createTempDirectory(p).toFile)
    try body(dirs.map(_.toString))
    finally dirs.foreach(FileUtils.deleteDirectory)
  }

  lazy val session: SparkSession = {
    FileUtils.deleteDirectory(warehouse)
    val s = GraftSession.builder(cores = 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
