package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, Spark-style). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def withTempDirs[A](prefixes: String*)(body: Seq[String] => A): A =
    SparkSpec.withTempDirs(prefixes: _*)(body)

  /** `body`'s result and the number of Spark jobs it started. Jobs carry
    * a local property; the listener bus is FIFO, so once a marker job run
    * after `body` has arrived, every job of `body` has. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.phase"
    val phases = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        phases.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(key))).getOrElse("none"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      val result = body
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!phases.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(phases.contains("marker"), "the marker job never arrived")
      (result, phases.asScala.count(_ == "body"))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
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
