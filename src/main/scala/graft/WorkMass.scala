package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * WORK-MASS counters for the scaling sweeps (round-13 verdict item 7):
 * every sweep row whose 10× time ratio exceeds ~3× has, three rounds
 * running, needed a POST-HOC probe to show the cause was the data's own
 * work mass growing super-10× (r12: q54's trigram occurrences ×13.8,
 * q87's Σblock² span-pair density, q159's token mass ~×10 — each one an
 * adjudication cycle). This main measures those masses IN-BAND: for each
 * instrumented query it computes the dominant intermediate's size — the
 * quantity the operator's wall clock is linear in — as one cheap
 * aggregate per SF, and `tools/combine_scaling.py` attaches the per-SF
 * values and their ratio to the scaling artifact, so a fat-tail time
 * ratio arrives WITH its measured cause.
 *
 * Counters mirror each query's plan (same tokenization, same blocking,
 * same admission bounds — see the per-query notes) but collapse to a
 * count/sum instead of materializing the intermediate, so a counter run
 * costs one scan + one narrow shuffle, never the query's full cost. The
 * one exception is q223, whose DECLARED semantics are output-quadratic:
 * its honest work mass IS its output cardinality, so the counter runs
 * the containment join and counts it.
 *
 * Usage: `graft.WorkMass <sfDir> <outJson> [query ...]` (no list = all
 * instrumented queries); emits `{"sf":…,"workmass":{q:{counter:n}}}`.
 */
object WorkMass {

  /** counter-set per instrumented query: name → (spark, dir) → counters */
  val counters: Map[String, (SparkSession, String) => Map[String, Long]] =
    Map(
      // q05's matched-pair bag is dominated by the nation-key disjunct:
      // Σ_nk |S_nk|·|C_nk| pairs flow through the union before dedup
      "q05_disjunctive_join" -> { (spark, dir) =>
        val s = Tables.supplier(spark, dir)
          .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("sn"))
        val c = Tables.customer(spark, dir)
          .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("cn"))
        val mass = s.join(c, "nk")
          .agg(sum(col("sn") * col("cn"))).collect().head.getLong(0)
        Map("nation_pair_mass" -> mass)
      },
      // q25 chunks each source into blocks of ≤64 docs and compares all
      // pairs within a chunk: Σ_chunk C(n,2) is the verify mass
      "q25_ngram_jaccard_pairs" -> { (spark, dir) =>
        val cap = 64L
        val perSource = Tables.documents(spark, dir)
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
          .select(col("n")).collect().map(_.getLong(0))
        val mass = perSource.map { n =>
          val full = n / cap; val rem = n % cap
          full * (cap * (cap - 1) / 2) + rem * (rem - 1) / 2
        }.sum
        Map("chunk_pair_mass" -> mass)
      },
      // q54 explodes per-doc DISTINCT lowercase-token trigrams; its wall
      // is linear in that occurrence mass (r12's 10.9× row: the mass
      // itself grew 13.8×)
      "q54_boilerplate" -> { (spark, dir) =>
        val toks = filter(split(lower(col("text")), "[^a-z]+"),
          t => length(t) > 0)
        val tri = when(size(toks) >= 3,
            transform(sequence(lit(1), size(toks) - 2),
              i => concat_ws(" ", slice(toks, i, lit(3)))))
          .otherwise(array().cast("array<string>"))
        val mass = Tables.documents(spark, dir)
          .select(size(array_distinct(tri)).as("k"))
          .agg(sum(col("k"))).collect().head.getLong(0)
        Map("trigram_occurrences" -> mass)
      },
      // q75/q108 run word-drop blocking over the DISTINCT p_name domain
      // (value-collapsed plan): candidate mass = Σ_block C(n,2) over the
      // exploded D0/D1/D2 keys, domain size alongside for context
      "q75_editdist_pairs" -> wordDropMass,
      "q108_entity_resolution" -> wordDropMass,
      // q87 admits spans shared by 2..20 docs and pairs them:
      // span occurrences (explode mass) + Σ_span C(n,2) (join mass, the
      // r12 9.1× row's measured cause)
      "q87_shared_spans" -> { (spark, dir) =>
        val sp = graft.ops.SpanDedup.docSpans(
          Tables.documents(spark, dir), "doc_id", "text", spanLen = 12)
        val occ = sp.count()
        val mass = sp.groupBy(col("span_hash"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n").between(2, 20))
          .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)))
          .collect().head.getLong(0) / 2
        Map("span_occurrences" -> occ, "span_pair_mass" -> mass)
      },
      // q159 scores src0 bigrams against a KN model built on the rest:
      // scored mass = Σ (tokens−1) over src0, model mass = the same over
      // the training split (r12's 8.5× row: token mass ~×10, vocab
      // saturated)
      "q159_lm_score" -> { (spark, dir) =>
        val nTok = size(filter(split(lower(col("text")), "[^a-z]+"),
          t => length(t) > 0))
        val masses = Tables.documents(spark, dir)
          .select(col("source"), greatest(nTok - 1, lit(0)).as("bi"))
          .groupBy(col("source") === "src0")
          .agg(sum(col("bi"))).collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        Map("bigram_mass_scored" -> masses.getOrElse(true, 0L),
          "bigram_mass_model" -> masses.getOrElse(false, 0L))
      },
      // q27's unavoidable cost is band-bucket collisions (∝ n²/2^bandBits
      // per band, made ~1ns each by the bucket kernel, never a joined
      // row): Σ_{band,value} C(n,2) over the same 8×8-bit banding of the
      // same n-gram simhash — the PROBE-LESS lower bound (probeBits=1
      // multiplies it ~(1+bandBits)×, uniformly across SFs)
      "q27_simhash" -> { (spark, dir) =>
        val bands = 8; val bandBits = 64 / bands
        val bandMask = (1L << bandBits) - 1
        val fp = graft.ops.Dedup.hashedShingleSets(
            Tables.documents(spark, dir), "doc_id", "text", 2)
          .select(graft.ops.Dedup.simhashFromHashes(
            transform(col("ih"), h => xxhash64(h))).as("fp"))
        val mass = fp.select(explode(array((0 until bands).map { bi =>
            struct(lit(bi).as("b"),
              shiftright(col("fp"), bi * bandBits).bitwiseAND(bandMask)
                .as("v"))
          }: _*)).as("band"))
          .groupBy(col("band")).agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)))
          .collect().head.getLong(0) / 2
        Map("band_collision_mass" -> mass)
      },
      // q97's wall tracks its verified-pair OUTPUT (the r12 finding:
      // output grows exactly 10×) — count it, plus the doc count
      "q97_setsim_join" -> { (spark, dir) =>
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"),
            graft.ops.Dedup.shingleHashes(col("text"), 3).as("shingles"))
        val pairs = graft.ops.SetSimJoin.prefixJaccardJoin(
          docs, "doc_id", "shingles", thetaNum = 6, thetaDen = 10).count()
        Map("verified_pairs" -> pairs)
      },
      // q201 is a small-base merge-on-read scan: base rows in, surviving
      // rows out (the ratio row sits on a sub-second base)
      "q201_equality_deletes" -> { (spark, dir) =>
        val d = Tables.documents(spark, dir)
        Map("base_rows" -> d.count(),
          "surviving_rows" -> d.filter(!(col("n_chars") % 7 === 0)).count())
      },
      // q223's declared semantics are output-quadratic in the sampled
      // containment clusters — the output cardinality IS the work mass
      "q223_containment_sample" -> { (spark, dir) =>
        val docs = Tables.documents(spark, dir)
          .filter(col("doc_id") % 4 === 0)
        val sampled = docs.count()
        val pairs = graft.ops.ContainmentJoin.prefixContainmentJoin(
          docs.select(col("doc_id"),
            graft.ops.Dedup.shingleHashes(col("text"), 2).as("toks")),
          "doc_id", "toks", thetaNum = 1, thetaDen = 2).count()
        Map("sampled_docs" -> sampled, "output_pairs" -> pairs)
      }
    )

  /** Shared q75/q108 counter: Σ_block C(n,2) candidate mass + the
    * distinct-name domain the value-collapsed plan pairs over. */
  private def wordDropMass(spark: SparkSession, dir: String)
      : Map[String, Long] = {
    val names = Tables.part(spark, dir)
      .filter(col("p_name").isNotNull)
      .select(col("p_name")).distinct()
    val domain = names.count()
    val mass = names
      .select(explode(graft.ops.StringSim.wordDropKeys(col("p_name")))
        .as("blk"))
      .groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)))
      .collect().head.getLong(0) / 2
    Map("distinct_names" -> domain, "block_pair_mass" -> mass)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: WorkMass <sfDir> <outJson> [query ...]")
    val (sfDir, out) = (args(0), args(1))
    val wanted =
      if (args.length > 2) args.drop(2).toSet else counters.keySet
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = counters.toSeq.sortBy(_._1)
      .filter { case (q, _) => wanted(q) }
      .map { case (q, f) =>
        val t0 = System.nanoTime()
        val m = f(spark, sfDir)
        System.err.println(f"[workmass] $q ${(System.nanoTime() - t0) / 1e9}%.1f s " +
          m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
        s""""$q":{${m.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
      }
    val json =
      s"""{"sf":"$sfDir","workmass":{${rows.mkString(",")}}}\n"""
    val tmp = Paths.get(out + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(out), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    println(json.trim)
    spark.stop()
  }
}
