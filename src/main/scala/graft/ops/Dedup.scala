package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for the training-data pipeline (north-star
 * extension). Four tiers, cheapest first:
 *
 *  1. exact       — hash-groupBy on a normalized fingerprint (one shuffle);
 *  2. n-gram Jaccard — set similarity over word n-grams, blocked to avoid
 *                   the quadratic all-pairs blowup;
 *  3. MinHash+LSH — sub-quadratic near-dup at corpus scale: shingle →
 *                   minhash signature (map-side only) → band-bucket join →
 *                   verify candidates with exact Jaccard;
 *  4. SimHash    — 64-bit rotation-tolerant fingerprint, Hamming-distance
 *                   candidates via band blocking.
 *
 * Everything is murmur3 (`functions.hash`) / xxhash64 based — deterministic
 * across runs and cluster layouts, no RNG at execution time.
 */
object Dedup {

  // ---------------------------------------------------------------- exact

  /**
   * Exact dedup: one row per distinct normalized text; keeper = min id.
   * Scale shape: single hash-shuffle on the fingerprint; partial aggregation
   * collapses duplicates map-side, so the shuffle volume is ~#distinct docs.
   */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(text).as("fp"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------- n-gram Jaccard

  /** Word n-gram shingles of `text` (n consecutive words, space-joined). */
  def shingles(text: Column, n: Int): Column = {
    val ws = TextAnalysis.words(text)
    when(size(ws) < n, array(concat_ws(" ", ws)))
      .otherwise(transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + lit(1), lit(n)))))
  }

  /** 64-bit hashes of the word n-gram shingles of `text`, via the fused
    * native expression (graft.functions.NgramHashes) — bit-identical to
    * `transform(shingles(text, n), s => xxhash64(s))` but one primitive
    * loop per row instead of three interpreted higher-order functions per
    * window. Use when downstream only needs set identity (joins,
    * Jaccard), never the shingle text itself. */
  def shingleHashes(text: Column, n: Int): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("ngram_hashes", TextAnalysis.words(text), lit(n))
  }

  /** Jaccard similarity of two shingle-array columns (set semantics). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /**
   * All-pairs n-gram Jaccard within a blocking key: the block bounds the
   * quadratic term. ⚠ Only safe when the block key's per-value cardinality is
   * bounded — a fixed-cardinality key (20 sources) makes block size grow
   * linearly with the corpus and the work quadratic. For an unbounded corpus
   * use `ngramJaccardPairsChunked` (size-capped blocks) or `minhashLshPairs`.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double): DataFrame = {
    // Pre-distinct the shingle sets once (map-side) and carry their sizes, so
    // the per-pair work is ONE array_intersect; |A∪B| = |A|+|B|−|A∩B| avoids
    // materializing the union array per pair (2-3× on the quadratic stage).
    val withShingles = docs.select(
      col(blockCol).as("block"), col(idCol).as("id"),
      array_distinct(shingles(col(textCol), n)).as("sh"))
      .withColumn("sz", size(col("sh")))
    val a = withShingles.select(col("block"), col("id").as("id_a"),
      col("sh").as("sh_a"), col("sz").as("sz_a"))
    val b = withShingles.select(col("block"), col("id").as("id_b"),
      col("sh").as("sh_b"), col("sz").as("sz_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Size-capped blocked n-gram Jaccard: each natural block (e.g. `source`) is
   * split into deterministic chunks of ≤ `cap` docs (row_number over the id
   * within the block), and the all-pairs comparison runs per chunk. Work is
   * O(N·cap) — linear in the corpus with constant `cap` — instead of the
   * quadratic-per-block growth of a fixed-cardinality key. Shingles are
   * hashed to ints once, so the pair stage intersects int arrays, not
   * strings (same Jaccard value modulo murmur3 collisions).
   *
   * 100 TB shape: one window shuffle on the block key to assign chunks, then
   * a self-join keyed by (block, chunk) whose per-key row count is capped —
   * no skew, no quadratic blowup. (Recall is per-chunk by construction: this
   * is the "shard and compare locally" tier; cross-chunk near-dups are the
   * job of minhashLshPairs.)
   */
  def ngramJaccardPairsChunked(docs: DataFrame, idCol: String, textCol: String,
                               blockCol: String, cap: Int, n: Int,
                               threshold: Double): DataFrame = {
    val w = Window.partitionBy(col("nat_block")).orderBy(col("id"))
    val withShingles = docs.select(
      col(blockCol).cast(StringType).as("nat_block"), col(idCol).as("id"),
      sort_array(array_distinct(transform(shingles(col(textCol), n), s => hash(s))))
        .as("ih"))
      .withColumn("chunk", floor((row_number().over(w) - 1) / cap))
      .withColumn("block", concat(col("nat_block"), lit("_"), col("chunk")))
      .withColumn("sz", size(col("ih")))
      .select(col("block"), col("id"), col("ih"), col("sz"))
    val a = withShingles.select(col("block"), col("id").as("id_a"),
      col("ih").as("ih_a"), col("sz").as("sz_a"))
    val b = withShingles.select(col("block"), col("id").as("id_b"),
      col("ih").as("ih_b"), col("sz").as("sz_b"))
    jaccardAtLeast(a.join(b, Seq("block")).filter(col("id_a") < col("id_b")),
      threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The rows of `pairs` whose hashed shingle sets (`ih_a`, `sz_a`) and
    * (`ih_b`, `sz_b`) have exact Jaccard |A∩B| / (|A|+|B|−|A∩B|) ≥
    * `threshold`, with that value in column `jaccard` — one sorted
    * intersection per pair, no union array materialized. Every verify step
    * of this object applies this one rule. */
  private def jaccardAtLeast(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("inter", intersectSize(col("ih_a"), col("ih_b")).cast(DoubleType))
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)

  /** |A∩B| of two SORTED-DISTINCT int arrays — the native two-pointer
    * merge count (graft.functions.SortedIntersectSize);
    * ≡ size(array_intersect(a, b)) on such inputs. */
  def intersectSize(a: Column, b: Column): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("sorted_intersect_size", a, b)
  }

  // --------------------------------------------------------- MinHash+LSH

  /**
   * MinHash signature: k seeded murmur3 min-hashes over the shingle set —
   * the native fused expression (graft.functions.MinHashSig): one pass over
   * the hashes with an inner seed loop, computed map-side, no shuffle. The
   * seed enters as a second hash input, giving k independent hash families.
   */
  def minhashSignature(sh: Column, k: Int): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("minhash_sig", sh, lit(k))
  }

  /** The builtin-only formulation (k transformed arrays per row) — retained
    * as the semantic reference for FunctionsSpec's bit-equality proof. */
  def minhashSignatureBuiltin(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(sh, s => hash(s, seed))))

  /**
   * LSH banding: split the k-wide signature into `bands` bands of k/bands
   * rows each; band hash = murmur3 of the band slice. Docs sharing any
   * (bandIdx, bandHash) become candidates.
   */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band_idx"), hash(slice(sig, bnd * r + 1, r)).as("band_hash"))
    }: _*)
  }

  /** Docs → (id, distinct murmur3-hashed n-gram shingle set, set size).
    * Hashing once up front means every later stage (signatures, verify
    * joins) works on int arrays — no stage ever shuffles raw text. The
    * Jaccard of the hashed sets equals the Jaccard of the string shingle
    * sets modulo murmur3 collisions (negligible at 32 bits for ~100-shingle
    * docs), which is what lets a DuckDB string-side oracle hash-match. */
  def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      sort_array(array_distinct(transform(shingles(col(textCol), n), s => hash(s))))
        .as("ih"))
      .withColumn("sz", size(col("ih")))

  /** Verify candidate pairs with exact Jaccard over the hashed shingle sets
    * ([[jaccardAtLeast]]). `base` is the output of [[hashedShingleSets]]. */
  def verifyJaccardPairs(pairs: DataFrame, base: DataFrame,
                         threshold: Double): DataFrame = {
    val aSide = base.select(col("id").as("id_a"), col("ih").as("ih_a"), col("sz").as("sz_a"))
    val bSide = base.select(col("id").as("id_b"), col("ih").as("ih_b"), col("sz").as("sz_b"))
    jaccardAtLeast(pairs.join(aSide, "id_a").join(bSide, "id_b"), threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * MinHash+LSH near-duplicate pairs: shingle → signature → explode bands →
   * self-join on (band_idx, band_hash) → distinct candidate pairs → verify
   * with exact Jaccard ≥ threshold.
   *
   * Banding defaults give r = k/bands = 4 rows per band: the LSH S-curve
   * threshold is (1/bands)^(1/r) = (1/16)^¼ ≈ 0.5, so candidates cluster
   * around the verify threshold instead of flooding it (r=2 would admit
   * pairs down to ~0.25 similarity — a candidate explosion), while a true
   * pair at J=0.9 is missed with probability (1−0.9⁴)¹⁶ ≈ 4e−8.
   *
   * Scale shape: candidate generation is a SELF-JOIN on (band_idx,
   * band_hash) — O(bands·N) shuffle rows, never a per-bucket ids-array
   * (collect_list would materialize maxBucket² pairs per bucket in one
   * task); AQE splits skewed band keys. The bucket-size cap is applied as a
   * co-partitioned count filter (same join key → no extra exchange) and
   * drops degenerate boilerplate mega-buckets, like real pipelines do.
   */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5,
                      maxBucket: Int = MaxBucket): DataFrame = {
    // The shingle sets and band rows each feed ≥2 downstream subplans (both
    // self-join sides + the bucket-count filter / verify fetches), so they
    // are cached for the duration of the computation — the "signature
    // index" stage every LSH pipeline materializes — and released once the
    // (small) verified-pair result is pinned. Caller owns the result's
    // unpersist().
    val idx = buildMinhashIndex(docs, idCol, textCol, n, k, bands)
    CacheScope.withStages(idx.base, idx.bands) {
      CacheScope.pin(lshPairsWithin(idx, threshold, maxBucket))
    }
  }

  /** Verified near-dup pairs WITHIN a prebuilt index — the candidate +
    * verify core of [[minhashLshPairs]] over caller-staged artifacts:
    * LAZY (no pin, no staging here). */
  def lshPairsWithin(idx: MinhashIndex, threshold: Double,
                     maxBucket: Int = MaxBucket): DataFrame = {
    val eligible = cappedBands(idx.bands, maxBucket)
    val a = eligible.select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
    val b = eligible.select(col("band_idx"), col("band_hash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccardPairs(pairs, idx.base, threshold)
  }

  /** The default bucket-size cap of the within-index LSH pair sets. */
  private val MaxBucket = 1000

  /** The rows of `bands` in a (band_idx, band_hash) bucket of 2 to
    * `maxBucket` rows: singletons pair with nothing, and a bucket over the
    * cap is degenerate boilerplate. The count is co-partitioned with the
    * band join that follows (same key, no extra exchange). */
  private def cappedBands(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.join(
      bands.groupBy(col("band_idx"), col("band_hash"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n").between(2, maxBucket))
        .select(col("band_idx"), col("band_hash")),
      Seq("band_idx", "band_hash"))

  // --------------------------------------------- incremental MinHash+LSH

  /** The corpus-side LSH artifacts for incremental dedup: the exploded band
    * table and the hashed shingle sets (verification payload). In
    * production both are stored parquet tables — bucketed by
    * (band_idx, band_hash) and id respectively — written once per corpus
    * build and read by every ingest. */
  final case class MinhashIndex(bands: DataFrame, base: DataFrame)

  /** Build the corpus signature index: one map-side pass over the corpus
    * (shingle → signature → bands), no shuffle. */
  def buildMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 64,
                        bands: Int = 16): MinhashIndex = {
    val base = hashedShingleSets(corpus, idCol, textCol, n)
    MinhashIndex(
      signatureBands(base.withColumn("sig", minhashSignature(col("ih"), k)),
        k, bands),
      base)
  }

  /** The (id, band_idx, band_hash) band rows of a frame carrying each
    * doc's MinHash signature in column `sig` — a map-side projection. */
  def signatureBands(signed: DataFrame, k: Int, bands: Int): DataFrame =
    signed.select(col("id"), explode(lshBands(col("sig"), k, bands)).as("band"))
      .select(col("id"), col("band.band_idx"), col("band.band_hash"))

  /**
   * Near-dup pairs of a NEW ingest batch against an indexed corpus — the
   * production shape at 100 TB: the corpus is LSHed ONCE into a stored
   * [[MinhashIndex]]; each ingest computes signatures for ITS OWN docs only
   * and joins the stored band table, so per-ingest work is O(batch), never
   * O(corpus). Candidates verify with exact Jaccard against the stored
   * shingle sets. Output: (new_id, corpus_id, jaccard) with jaccard ≥
   * threshold; batch-INTERNAL pairs are [[minhashLshPairs]] on the batch
   * alone. Same banding defaults ⇒ same S-curve recall as the one-shot op.
   * Result arrives pinned (caller owns the unpersist).
   */
  def minhashLshPairsIncremental(newDocs: DataFrame, index: MinhashIndex,
                                 idCol: String, textCol: String,
                                 n: Int = 3, k: Int = 64, bands: Int = 16,
                                 threshold: Double = 0.5): DataFrame = {
    val newIdx = buildMinhashIndex(newDocs, idCol, textCol, n, k, bands)
    // only the BATCH side is staged — the index is the stored artifact the
    // session reads, not something an ingest should re-cache
    CacheScope.withStages(newIdx.base) {
      CacheScope.pin(lshPairsAgainst(newIdx, index, threshold))
    }
  }

  /** Verified (new_id, corpus_id, jaccard) pairs of a prebuilt batch
    * index against a corpus index — the core of
    * [[minhashLshPairsIncremental]] over caller-staged artifacts; LAZY
    * like [[lshPairsWithin]]. */
  def lshPairsAgainst(newIdx: MinhashIndex, corpus: MinhashIndex,
                      threshold: Double): DataFrame = {
    val pairs = newIdx.bands
      .select(col("id").as("new_id"), col("band_idx"), col("band_hash"))
      .join(corpus.bands.withColumnRenamed("id", "corpus_id"),
        Seq("band_idx", "band_hash"))
      .filter(col("new_id") =!= col("corpus_id")) // tolerate re-ingest
      .select(col("new_id"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    val a = newIdx.base.select(col("id").as("new_id"),
      col("ih").as("ih_a"), col("sz").as("sz_a"))
    val b = corpus.base.select(col("id").as("corpus_id"),
      col("ih").as("ih_b"), col("sz").as("sz_b"))
    jaccardAtLeast(pairs.join(a, "new_id").join(b, "corpus_id"), threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /**
   * The ids of `batch` docs with a verified near-dup (Jaccard ≥ threshold)
   * in the batch itself, in `corpus` or in `protectedIdx` — the drop set
   * of an ingest batch, found with ONE band join instead of one candidate
   * + verify pipeline per reference. The reference band table is a tagged
   * union:
   *
   *  - tier 0, the batch's own bands, matched only where the reference id
   *    is LOWER than the new id (of an internal pair, the higher id drops —
   *    the pairs of [[lshPairsWithin]]);
   *  - tiers 1 and 2, the bands of `corpus` and `protectedIdx`, matched
   *    where the ids differ (a re-ingested id is not its own duplicate —
   *    the pairs of [[lshPairsAgainst]]).
   *
   * Each candidate (new_id, tier, ref_id) is verified where the band join
   * finds it, with one join against the tagged union of the tiers' `base`
   * tables keyed by (tier, id): ids may repeat across tiers, and each
   * candidate is checked against the text of the tier it collided in.
   * Repeats are dropped only within a partition
   * ([[distinctWithinPartitions]]), never across one, so the probe needs
   * no shuffle: when the batch tables and the reference `base` union are
   * small enough to broadcast, the plan is broadcast joins streaming the
   * stored bands. A pair collides in up to one row per band, and a doc's
   * band rows sit in one partition, so the candidates are deduplicated
   * before the verify join, which then checks a pair once per partition
   * rather than once per colliding band. The result holds the dropped
   * ids, POSSIBLY REPEATED: at most once per partition (a reference row
   * stored twice, as in a roll-up's duplicate window, may sit in another
   * partition), so it has at most `batchRows` distinct ids and at most
   * `batchRows` × its partition count rows. The caller dedupes them.
   *
   * Tier 0 keeps [[lshPairsWithin]]'s bucket cap. Each doc has one row per
   * band index, so a bucket of a `batchRows`-row batch holds at most
   * `batchRows` rows, and at `batchRows` ≤ the cap the cap cannot bind:
   * its bucket-count aggregate, 2 jobs of a 50-doc batch, is then left out
   * of the plan. LAZY: no job runs and nothing is cached before the
   * caller's action.
   */
  def lshDropIds(batch: MinhashIndex, corpus: MinhashIndex,
                 protectedIdx: MinhashIndex, threshold: Double,
                 batchRows: Long): DataFrame = {
    def tagged(tiers: Seq[DataFrame], cols: Column*) =
      tiers.zipWithIndex.map { case (df, t) =>
        df.select(lit(t).as("tier") +: col("id").as("ref_id") +: cols: _*)
      }.reduce(_ union _)
    val own =
      if (batchRows <= MaxBucket) batch.bands
      else cappedBands(batch.bands, MaxBucket)
    val refBands = tagged(Seq(own, corpus.bands, protectedIdx.bands),
      col("band_idx"), col("band_hash"))
    val refBase = tagged(Seq(batch.base, corpus.base, protectedIdx.base),
      col("ih").as("ih_b"), col("sz").as("sz_b"))
    val candidates = distinctWithinPartitions(batch.bands
      .select(col("id").as("new_id"), col("band_idx"), col("band_hash"))
      .join(refBands, Seq("band_idx", "band_hash"))
      .filter(when(col("tier") === 0, col("ref_id") < col("new_id"))
        .otherwise(col("ref_id") =!= col("new_id")))
      .select(col("new_id"), col("tier"), col("ref_id")))
    val newBase = batch.base.select(col("id").as("new_id"),
      col("ih").as("ih_a"), col("sz").as("sz_a"))
    distinctWithinPartitions(jaccardAtLeast(
      candidates.join(newBase, "new_id").join(refBase, Seq("tier", "ref_id")),
      threshold)
      .select(col("new_id")))
  }

  /** `df` with each row kept once per partition: no shuffle, no job, and
    * a partition's set of distinct rows held while it streams. */
  private def distinctWithinPartitions(df: DataFrame): DataFrame =
    df.mapPartitions { rows =>
      val seen = new java.util.HashSet[Row]
      rows.filter(seen.add)
    }(Encoders.row(df.schema))

  // ------------------------------------------------------------- SimHash

  /**
   * 64-bit SimHash over word tokens: per bit, sum +1/−1 weighted by each
   * token's xxhash64 bit, then take the sign. Rotation/replacement-tolerant;
   * near-dups are pairs with small Hamming distance.
   */
  def simhash64(text: Column): Column =
    simhashFromHashes(transform(TextAnalysis.words(text), t => xxhash64(t)))

  /** SimHash from pre-computed 64-bit token hashes — the native fused
    * expression (graft.functions.SimHash64): one loop accumulating all 64
    * bit counters, instead of 64 separate `aggregate()` passes per row. */
  def simhashFromHashes(hashes: Column): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("simhash64", hashes)
  }

  /** The builtin-only formulation — retained as the semantic reference for
    * FunctionsSpec' bit-equality proof. */
  def simhashFromHashesBuiltin(hashes: Column): Column =
    (0 until 64).map { i =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)
      ) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs with (multi-probe) band blocking: split the
   * 64-bit fingerprint into `bands` equal bands; by pigeonhole, any pair
   * with Hamming distance < bands agrees exactly on ≥1 band (the banding
   * scheme of Manku et al.'s web-scale simhash dedup). With `probeBits = 1`
   * one side additionally probes every 1-bit variant of each band, which
   * extends the guarantee: a pair at Hamming ≤ 2·bands−1 must have a band
   * with ≤1 differing bit, and the probe that flips it collides. Candidates
   * are verified by exact Hamming ≤ maxDist.
   *
   * Shuffle shape: O(bands·N) rows on the plain side and
   * O(bands·bandBits·N) on the probe side — still linear in the corpus; the
   * probe factor buys the recall bound. Guarantee summary:
   * maxDist ≤ (probeBits+1)·bands − 1 ⇒ full recall.
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, bands: Int = 4,
                   probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1, "probeBits ∈ {0, 1}")
    require(maxDist < (probeBits + 1) * bands,
      s"recall is only guaranteed for maxDist ≤ ${(probeBits + 1) * bands - 1}")
    val bandBits = 64 / bands
    val bandMask = (1L << bandBits) - 1
    val fp = docs
      .select(col(idCol).as("id"),
        transform(TextAnalysis.words(col(textCol)), t => xxhash64(t)).as("hs"))
      .select(col("id"), simhashFromHashes(col("hs")).as("fp"))
    CacheScope.withStages(fp) { // feeds both self-join sides
      val banded = fp.withColumn("band", explode(array((0 until bands).map { bi =>
          struct(lit(bi).as("band_idx"),
            shiftright(col("fp"), bi * bandBits).bitwiseAND(bandMask).as("band_val"))
        }: _*)))
        .select(col("id"), col("fp"),
          col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
      // probe side: the band value itself plus (for probeBits=1) each 1-bit
      // flip — XOR is symmetric, so probing one join side suffices
      val probed =
        if (probeBits == 0) banded
        else banded.withColumn("band_val",
          explode(array((lit(0L) +: (0 until bandBits).map(k => lit(1L << k)))
            .map(m => col("band_val").bitwiseXOR(m)): _*)))
      val a = banded.select(col("band_idx"), col("band_val"),
        col("id").as("id_a"), col("fp").as("fp_a"))
      val b = probed.select(col("band_idx"), col("band_val"),
        col("id").as("id_b"), col("fp").as("fp_b"))
      // Hamming filter BEFORE the pair-dedup: it is row-local on the joined
      // fingerprints, so the dropDuplicates shuffle carries only surviving
      // pairs instead of every band collision.
      CacheScope.pin(a.join(b, Seq("band_idx", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
        .filter(col("hamming") <= maxDist)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .dropDuplicates("id_a", "id_b"))
    }
  }

  /**
   * SimHash as a CANDIDATE GENERATOR with exact n-gram Jaccard verification:
   * pairs within Hamming ≤ maxDist of each other's 64-bit fingerprint are
   * verified with Jaccard ≥ threshold — how production pipelines use
   * SimHash (cheap recall stage, exact precision stage). The output contract
   * (id_a, id_b, jaccard) is therefore engine-independent: identical to a
   * brute-force Jaccard scan whenever the fingerprint stage has full recall,
   * which a SQL oracle can check exactly.
   */
  def simhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 2, maxDist: Int = 15,
                           threshold: Double = 0.5,
                           bands: Int = 8, probeBits: Int = 1): DataFrame = {
    // Scale calibration note (r6): band collisions grow ∝ n²·probes/2^bandBits
    // no matter the width — and WIDENING bands cannot help without losing
    // recall, because the pigeonhole guarantee ties maxDist to
    // (probeBits+1)·bands−1 (4 bands of 16 bits at probe 1 guarantees only
    // h ≤ 7, below the corpus's observed true-pair tail h = 12). The r6
    // answer is to make each unavoidable collision ~1ns instead of a
    // materialized joined row: see the bucket-kernel stage below
    // (HammingBucketPairs). Past ~10⁷ docs per bucket-value even that
    // saturates and the honest move is the probabilistic-recall MinHash
    // path (minhashLshPairs), whose banding DOES calibrate with n.
    require(maxDist < (probeBits + 1) * bands,
      s"recall guaranteed only for maxDist ≤ ${(probeBits + 1) * bands - 1}")
    val bandBits = 64 / bands
    val bandMask = (1L << bandBits) - 1
    val base = hashedShingleSets(docs, idCol, textCol, n)
    // Fingerprint over the SAME n-gram feature set the verify stage uses
    // (reusing the cached shingle hashes): aligned features keep true-pair
    // Hamming low, and the far more diverse n-gram distribution keeps the
    // 8-bit band buckets near-uniform — word-level fingerprints concentrate
    // common-word statistics into hot buckets that the probe factor then
    // amplifies quadratically.
    val fp = base.select(col("id"),
      simhashFromHashes(transform(col("ih"), h => xxhash64(h))).as("fp"))
    CacheScope.withStages(base, fp) { // base feeds fp + both verify sides
      val banded = fp.withColumn("band", explode(array((0 until bands).map { bi =>
          struct(lit(bi).as("band_idx"),
            shiftright(col("fp"), bi * bandBits).bitwiseAND(bandMask).as("band_val"))
        }: _*)))
        .select(col("id"), col("fp"),
          col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
      // 1-bit multi-probe on one side: full recall guaranteed to Hamming ≤ 15
      // (pigeonhole: ≤15 flips over 8 bands ⇒ some band has ≤1), which holds
      // the corpus's true-pair tail (J≥0.8 pairs top out at h≈13) with room
      val probed = banded.withColumn("band_val",
        explode(array((lit(0L) +: (0 until bandBits).map(k => lit(1L << k)))
          .map(m => col("band_val").bitwiseXOR(m)): _*)))
      // Bucket-kernel candidate stage: the blocking join's OUTPUT is the
      // quadratic term (~n²·probes/2^bandBits random collisions — 3.7e8
      // rows for 27.5k survivors at 50k docs), so instead of materializing
      // every collision as a joined row that dies in a bit_count filter,
      // group each (band_idx, band_val) bucket to ONE row per side and run
      // the cross-check inside graft.functions.HammingBucketPairs — a
      // primitive XOR/POPCNT loop that only allocates for survivors. Same
      // pairs, same recall guarantee; the per-candidate cost drops from a
      // joined-row materialization to ~1ns of register arithmetic.
      val aBuckets = banded.groupBy(col("band_idx"), col("band_val"))
        .agg(collect_list(struct(col("id"), col("fp"))).as("av"))
      val bBuckets = probed.groupBy(col("band_idx"), col("band_val"))
        .agg(collect_list(struct(col("id"), col("fp"))).as("bv"))
      val pairs = aBuckets.join(bBuckets, Seq("band_idx", "band_val"))
        .select(explode(call_function("hamming_bucket_pairs",
          col("av"), col("bv"), lit(maxDist))).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      CacheScope.pin(verifyJaccardPairs(pairs, base, threshold))
    }
  }
}
