package graft

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The correctness dump fails closed: a query whose builder throws leaves
  * no output behind, not an earlier run's, while its oracle SQL is still
  * listed — so the oracle compare counts it as missing. */
class VerifyDumpSpec extends SparkSpec {

  test("a throwing builder leaves no stale output and keeps its oracle entry") {
    withTempDirs("graft-verify") { case Seq(out) =>
      val stale = Paths.get(out, "q_broken")
      Files.createDirectories(stale)
      Files.writeString(stale.resolve("part-0.parquet"), "an earlier run")
      val specs = Seq(
        QuerySpec("q_broken", (_, _) => throw new IllegalStateException("boom"),
          "SELECT 1 AS x"),
        QuerySpec("q_ok", (s, _) => s.range(3).toDF("x"), "SELECT * FROM range(3) t(x)"))
      Verify.dump(spark, specs, "/no/such/sf", out)
      assert(!Files.exists(stale))
      assert(Paths.get(out, "q_ok").toFile.list().exists(_.endsWith(".parquet")))
      val oracle = JsonMethods.parse(
        Files.readString(Paths.get(out, "oracle_sql.json"))).asInstanceOf[JObject]
      assert(oracle.obj.map(_._1).toSet === Set("q_broken", "q_ok"))
      assert((oracle \ "q_broken") === JString("SELECT 1 AS x"))
    }
  }
}
