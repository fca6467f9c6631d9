package graft

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/**
 * Loss-proofness of the bench artifact (round-3 headline failure: a
 * SIGKILL 0.2 s before the single end-of-run write would have left
 * `BENCH_r03.json` empty — and a driver timeout DID). The guarantee under
 * test: Bench rewrites the artifact after EVERY timed query via an atomic
 * temp-file move, so a kill at any instant leaves the last complete,
 * parseable JSON on disk. This spec proves the two halves of that
 * guarantee — every prefix of results serializes to parseable JSON with
 * the right partial flag, and the flush is an atomic replace (readers
 * never see a torn file, stale temp files don't accumulate).
 */
class BenchArtifactSpec extends AnyFunSuite {

  private def parse(s: String): JValue = JsonMethods.parse(s)

  test("resultsJson is parseable at every prefix, with partial=true until complete") {
    val all = Seq("q01" -> 1.234, "q02" -> 0.5, "q03" -> 12.75)
    // a query whose pass threw: listed by name, never timed
    val broken = Seq("q99_broken")
    for (n <- 0 to all.size; failed <- Seq(Nil, broken)) {
      val prefix = all.take(n)
      val json = parse(Bench.resultsJson(prefix, "/sf", partial = n < all.size, failed))
      assert((json \ "metric") === JString("total"))
      assert((json \ "unit") === JString("sec"))
      assert((json \ "sf") === JString("/sf"))
      assert((json \ "partial") === JBool(n < all.size))
      val qs = (json \ "queries").asInstanceOf[JObject].obj
      assert(qs.map(_._1) === prefix.map(_._1))
      assert((json \ "failed") === JArray(failed.map(JString(_)).toList))
      val total = (json \ "value").asInstanceOf[JDouble].num
      assert(math.abs(total - prefix.map(_._2).sum) < 1e-3)
    }
  }

  test("a pass that throws yields no timing, and the passes after it do not run") {
    var runs = 0
    var resets = 0
    val ok = Bench.timePasses("q01", 2, () => resets += 1) { runs += 1 }
    assert(ok.map(_.size) === Some(2) && runs === 2 && resets === 2)
    runs = 0
    resets = 0
    val failed = Bench.timePasses("q02", 3, () => resets += 1) {
      runs += 1
      if (runs == 2) throw new IllegalStateException("boom")
    }
    assert(failed === None)
    assert(runs === 2 && resets === 2)
  }

  test("flush atomically replaces the artifact and leaves no temp files") {
    SparkSpec.withTempDirs("bench-artifact") { case Seq(root) =>
      val dir = Paths.get(root)
      val out = dir.resolve("bench_out.json").toString
      Bench.flush(out, Bench.resultsJson(Seq("q01" -> 1.0), "/sf", partial = true))
      Bench.flush(out, Bench.resultsJson(Seq("q01" -> 1.0, "q02" -> 2.0), "/sf", partial = false))
      val onDisk = Files.readString(Paths.get(out)).trim
      val json = parse(onDisk)
      assert((json \ "partial") === JBool(false))
      assert((json \ "queries").asInstanceOf[JObject].obj.map(_._1) === Seq("q01", "q02"))
      // no .tmp-* residue — a crashed flush can strand at most one, and a
      // successful one must strand none
      val leftovers = Files.list(dir).iterator()
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(leftovers)
        .asScala.map(_.getFileName.toString).toSeq
      assert(names === Seq("bench_out.json"))
    }
  }

  test("StreamBench's results carry each trigger's progress phases next to its wall time") {
    val plain = StreamBench.Tier(2, 10L, 3.0, Seq(1.0, 2.0))
    val traced = plain.copy(perBatchMs = Seq(
      Map("addBatch" -> 900L, "walCommit" -> 40L),
      Map("addBatch" -> 1800L, "walCommit" -> 50L)))
    val json = parse(StreamBench.resultsJson(
      Seq("jdbc_upsert" -> plain, "ingest" -> traced), "/sf", partial = false))
    val tiers = json \ "tiers"
    val keys = Seq("batches", "rows", "total_sec", "rows_per_sec", "per_batch_sec")
    assert((tiers \ "jdbc_upsert").asInstanceOf[JObject].obj.map(_._1) === keys)
    assert((tiers \ "ingest").asInstanceOf[JObject].obj.map(_._1) ===
      keys :+ "per_batch_progress_ms")
    assert((tiers \ "ingest" \ "per_batch_progress_ms") === JArray(List(
      JObject("addBatch" -> JInt(900), "walCommit" -> JInt(40)),
      JObject("addBatch" -> JInt(1800), "walCommit" -> JInt(50)))))
  }
}
