package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/**
 * The one lifecycle for session-shared artifacts: tables a query writes
 * once and then reads on every later call in the session (the near-dup
 * pair table, q39's stored LSH index, q112's bucketed tables, the zoned
 * layouts, q196's time-travel table). The worker the engine reproduces
 * keeps no state of its own, so everything here is scratch:
 *
 *  - Key: the artifact name plus the [[fingerprint]] of every input table
 *    the build reads, per session. A rewritten input gets a fresh key, so
 *    a stale artifact is never served; rewriting a table the build does
 *    not read keeps the stored one.
 *  - Place: one scratch root per `SparkContext` under `java.io.tmpdir`;
 *    each build writes into its own fresh directory below it.
 *  - End: the root is deleted when the context stops
 *    (`SparkListener.onApplicationEnd`) or on [[release]]; one JVM
 *    shutdown hook deletes the roots still live at an abnormal exit.
 *
 * A build runs under its own entry's lock, never inside a map update, so
 * one artifact's build may ask for another. A build that throws leaves
 * neither an entry nor a directory behind.
 */
object Artifacts {

  private final class Entry { var value: Option[Any] = None }

  private final class Session(val root: Path) {
    val entries = new ConcurrentHashMap[String, Entry]()
  }

  private val sessions = new ConcurrentHashMap[String, Session]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    sessions.keySet.asScala.toSeq.foreach(id =>
      try release(id) catch { case _: Throwable => () })))

  private def session(spark: SparkSession): Session = {
    val sc = spark.sparkContext
    sessions.computeIfAbsent(sc.applicationId, id => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          release(id)
      })
      new Session(Files.createTempDirectory(s"graft-artifacts-$id-"))
    })
  }

  /** Content fingerprint of a table path: the path itself plus every
    * regular file's relative path, size and mtime beneath it, hashed to
    * 32 hex chars. Rewriting the table changes it; reading does not. */
  def fingerprint(path: String): String = {
    val root = Paths.get(path)
    val files =
      if (!Files.exists(root)) Nil
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => s"${root.relativize(p)}:${Files.size(p)}:" +
            s"${Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted
        finally s.close()
      }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest((path +: files).mkString("\n").getBytes("UTF-8"))
      .take(16).map(b => f"$b%02x").mkString
  }

  /** The artifact `name` built from the tables at `inputs`, built at most
    * once per session and input snapshot: `build` gets a fresh empty
    * directory under the session root and returns what later calls get. */
  def stored[A](spark: SparkSession, name: String, inputs: Seq[String])
               (build: String => A): A = {
    val s = session(spark)
    val key = (name +: inputs.map(fingerprint)).mkString("|")
    val entry = s.entries.computeIfAbsent(key, _ => new Entry)
    entry.synchronized {
      entry.value.getOrElse {
        val dir = Files.createTempDirectory(s.root, s"$name-")
        val v = try build(dir.toString) catch { case e: Throwable =>
          s.entries.remove(key, entry)
          deleteRecursively(dir)
          throw e
        }
        entry.value = Some(v)
        v
      }.asInstanceOf[A]
    }
  }

  /** A fresh directory under the session root for one call's throwaway
    * store; deleted with the session. */
  def scratch(spark: SparkSession, name: String): String =
    Files.createTempDirectory(session(spark).root, s"$name-").toString

  /** The session's scratch root (created on first use). */
  private[graft] def root(spark: SparkSession): Path = session(spark).root

  /** Delete the session's root and forget its artifacts: the next call
    * rebuilds. Runs on its own when the context stops. */
  def release(spark: SparkSession): Unit =
    release(spark.sparkContext.applicationId)

  private def release(id: String): Unit =
    Option(sessions.remove(id)).foreach(s => deleteRecursively(s.root))

  /** Delete `p` and everything beneath it, deepest first; a missing path
    * is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }
}
