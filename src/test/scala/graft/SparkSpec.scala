package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, Spark-style). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with one fresh temp dir per prefix, all deleted afterwards
    * whether `body` passes or throws. */
  def withTempDirs[A](prefixes: String*)(body: Seq[String] => A): A = {
    val dirs = prefixes.map(p => java.nio.file.Files.createTempDirectory(p).toFile)
    try body(dirs.map(_.toString))
    finally dirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // keep catalog state (saveAsTable for bucketing tests) out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
