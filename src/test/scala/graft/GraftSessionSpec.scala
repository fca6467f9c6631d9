package graft

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Production, the specs and the benchmark build one session: the settings
  * `GraftSession` applies are the benchmark's `session` block. */
class GraftSessionSpec extends SparkSpec {

  test("settings(n) equal the benchmark's session block with <cores> = n") {
    val workloads = JsonMethods.parse(
      Files.readString(Paths.get("perfbench/workloads.json")))
    val block = (workloads \ "session").asInstanceOf[JObject].obj
    for (n <- Seq(1, 4, 32)) {
      val expected = block.map { case (k, v) =>
        k -> v.values.toString.replace("<cores>", n.toString)
      }
      assert(GraftSession.settings(n).toSeq.sortBy(_._1) === expected.sortBy(_._1))
    }
  }

  test("the spec session runs with settings(4)") {
    val conf = spark.conf
    GraftSession.settings(4).foreach {
      case ("master", m) =>
        assert(spark.sparkContext.master === sys.env.getOrElse("SPARK_MASTER", m))
      case (k, v) => assert(conf.get(k) === v, k)
    }
  }
}
