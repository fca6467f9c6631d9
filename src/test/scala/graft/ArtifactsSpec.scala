package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The lifecycle of [[Artifacts]]: key, place and end of a stored artifact. */
class ArtifactsSpec extends SparkSpec {

  private def writeTable(dir: String, rows: Long): String = {
    val path = Tables.path(dir, "t")
    spark.range(rows).write.mode("overwrite").parquet(path)
    path
  }

  private def children(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("release deletes the session root and forgets its entries, so the next call rebuilds") {
    withTempDirs("artifacts-release") { case Seq(in) =>
      val t = writeTable(in, 3)
      val builds = new AtomicInteger
      def get(): String = Artifacts.stored(spark, "spec-release", Seq(t)) { out =>
        builds.incrementAndGet()
        out
      }
      val first = get()
      assert(get() === first && builds.get === 1)
      val root = Artifacts.root(spark)
      assert(Paths.get(first).getParent === root && Files.isDirectory(Paths.get(first)))
      Artifacts.release(spark)
      assert(!Files.exists(root))
      val second = get()
      assert(builds.get === 2)
      assert(second !== first)
      assert(Files.isDirectory(Paths.get(second)))
    }
  }

  test("a build that throws leaves neither a memo entry nor a directory") {
    withTempDirs("artifacts-fail") { case Seq(in) =>
      val t = writeTable(in, 3)
      val root = Artifacts.root(spark)
      val before = children(root)
      intercept[IllegalStateException] {
        Artifacts.stored(spark, "spec-fail", Seq(t)) { out =>
          Files.writeString(Paths.get(out, "half-written"), "x")
          throw new IllegalStateException("build failed")
        }
      }
      assert(children(root) === before)
      // nothing memoized: the next call builds
      val out = Artifacts.stored(spark, "spec-fail", Seq(t))(identity)
      assert(children(root) === before + Paths.get(out).getFileName.toString)
    }
  }

  test("two input fingerprints give two dirs; the same input reuses its dir") {
    withTempDirs("artifacts-fp") { case Seq(in) =>
      val t = writeTable(in, 3)
      val fp = Artifacts.fingerprint(t)
      assert(Artifacts.fingerprint(t) === fp)
      val a = Artifacts.stored(spark, "spec-fp", Seq(t))(identity)
      assert(Artifacts.stored(spark, "spec-fp", Seq(t))(identity) === a)
      writeTable(in, 4)
      assert(Artifacts.fingerprint(t) !== fp)
      val b = Artifacts.stored(spark, "spec-fp", Seq(t))(identity)
      assert(a !== b)
      assert(Files.isDirectory(Paths.get(a)) && Files.isDirectory(Paths.get(b)))
    }
  }

  test("one artifact's build may ask for another, and concurrent callers share one build") {
    withTempDirs("artifacts-nested") { case Seq(in) =>
      val t = writeTable(in, 3)
      val builds = new AtomicInteger
      def outer(): String = Artifacts.stored(spark, "spec-outer", Seq(t)) { out =>
        builds.incrementAndGet()
        Thread.sleep(100)
        val inner = Artifacts.stored(spark, "spec-inner", Seq(t))(identity)
        s"$out|$inner"
      }
      val got = Await.result(Future.sequence(Seq.fill(4)(Future(outer()))), 60.seconds)
      assert(got.distinct.size === 1 && builds.get === 1)
      val Array(o, i) = got.head.split('|')
      assert(Files.isDirectory(Paths.get(o)) && Files.isDirectory(Paths.get(i)))
    }
  }

  test("deleteRecursively removes a nested tree and ignores a missing path") {
    withTempDirs("artifacts-delete") { case Seq(dir) =>
      val top = Paths.get(dir)
      Files.createDirectories(top.resolve("a/b"))
      Files.writeString(top.resolve("a/b/f"), "x")
      Files.writeString(top.resolve("g"), "y")
      Artifacts.deleteRecursively(top)
      assert(!Files.exists(top))
      Artifacts.deleteRecursively(top)
    }
  }

  test("scratch dirs live under the session root") {
    val d = Paths.get(Artifacts.scratch(spark, "spec-scratch"))
    assert(d.getParent === Artifacts.root(spark) && Files.isDirectory(d))
  }
}
