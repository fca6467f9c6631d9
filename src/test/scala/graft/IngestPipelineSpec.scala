package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}

import graft.ops.Dedup
import graft.streaming.IngestPipeline

/**
 * The streaming LLM-ingest pipeline end to end: a real Structured
 * Streaming flow whose micro-batches dedup internally, against the
 * stored corpus index, and against the frozen protected index; whose
 * survivors extend the store (so batch 1 sees batch 0); and whose
 * replayed batches converge byte-for-byte instead of double-writing.
 */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  // word-block texts: docs of the same family are identical (J = 1.0 —
  // LSH recall certain); different families share no bigram (J = 0)
  private def text(fam: String) =
    (1 to 40).map(i => s"$fam$i").mkString(" ")

  private def survivorsOf(storeDir: String): Seq[(Long, Long)] =
    IngestPipeline.readSurvivors(spark, storeDir)
      .selectExpr("CAST(ingest_batch AS BIGINT)", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("stream: internal + cross-corpus + decontamination drops, index update, replay converges") {
    withTempDirs("graft-ingest") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      val checkpoint = s"$tmp/chk"

      // corpus (train index): doc 100; protected (frozen val/test): doc 200
      IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text", n = 2)

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = IngestPipeline.startIngest(docs, storeDir, protIdx, checkpoint)
      try {
        // batch 0: 1 dups corpus, 2 dups protected, (3,4) internal pair,
        // 5 unique → survivors {3, 5}
        mem.addData((1L, text("ca")), (2L, text("pa")),
          (3L, text("xa")), (4L, text("xa")), (5L, text("ua")))
        q.processAllAvailable()
        // batch 1: 6 dups batch-0 SURVIVOR 3 (visible only through the
        // index-UPDATE step), 7 unique → survivors {7}
        mem.addData((6L, text("xa")), (7L, text("va")))
        q.processAllAvailable()
      } finally q.stop()

      def survivors(): Seq[(Long, Long)] = survivorsOf(storeDir)
      val expected = Seq((0L, 3L), (0L, 5L), (1L, 7L))
      assert(survivors() === expected)

      // REPLAY batch 1 (same id, same content — exactly what Structured
      // Streaming re-invokes after a failure): output must converge, not
      // double-write, and the replay must not see its own prior signatures
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      IngestPipeline.processBatch(
        Seq((6L, text("xa")), (7L, text("va"))).toDF("doc_id", "text"),
        1L, storeDir, protIdx)
      assert(survivors() === expected, "replayed batch must converge")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
      assert(leaked.isEmpty, s"processBatch leaked cache entries: $leaked")

      // the stored index now covers corpus + both batches' survivors only
      val indexed = IngestPipeline
        .readIndexBefore(spark, storeDir, Long.MaxValue)
        .bands.select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(indexed === Set(100L, 3L, 5L, 7L),
        "index must hold exactly corpus + survivors (never dropped docs)")
    }
  }

  test("index roll-up: sealed partitions consolidate; drop decisions, replay and store content unchanged") {
    withTempDirs("graft-rollup", "graft-rollup") { case Seq(plainTmp, rolledTmp) =>
      // identical batch sequence through two stores — one rolled up
      // mid-stream, one not — must yield identical survivors, identical
      // logical index content, and a smaller file count on the rolled store
      def runFlow(tmp: String, rollupAt: Option[Long])
          : (Seq[(Long, Long)], Set[Long], Int, String) = {
        val storeDir = s"$tmp/store"
        IngestPipeline.writeIndexSlice(
          Seq((100L, text("ca"))).toDF("doc_id", "text"),
          storeDir, IngestPipeline.CorpusBatchId)
        val protIdx = Dedup.buildMinhashIndex(
          Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text", n = 2)
        def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
        // b0: both unique; b1: 3 dups the corpus; b2: 5 dups b0's survivor 1
        // (visible only through the index — the roll-up must preserve it),
        // 6 unique
        IngestPipeline.processBatch(batch((1L, text("aa")), (2L, text("ba"))),
          0L, storeDir, protIdx)
        IngestPipeline.processBatch(batch((3L, text("ca")), (4L, text("da"))),
          1L, storeDir, protIdx)
        rollupAt.foreach(sb => IngestPipeline.rollupIndexStore(spark, storeDir,
          sealedBefore = sb, targetBytes = 64L * 1024 * 1024))
        val b2 = batch((5L, text("aa")), (6L, text("ea")))
        IngestPipeline.processBatch(b2, 2L, storeDir, protIdx)
        // replay batch 2 ACROSS the roll-up boundary: must converge
        IngestPipeline.processBatch(b2, 2L, storeDir, protIdx)
        val surv = IngestPipeline.readSurvivors(spark, storeDir)
          .selectExpr("CAST(ingest_batch AS BIGINT)", "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val ids = IngestPipeline.readIndexBefore(spark, storeDir, Long.MaxValue)
          .bands.select("id").distinct().collect().map(_.getLong(0)).toSet
        (surv, ids,
          IngestPipeline.storeFileCount(s"$storeDir/__tier=bands"), storeDir)
      }
      val (survPlain, idsPlain, filesPlain, _) = runFlow(plainTmp, None)
      val (survRolled, idsRolled, filesRolled, rolledDir) = runFlow(rolledTmp, Some(2L))
      val expected = Seq((0L, 1L), (0L, 2L), (1L, 4L), (2L, 6L))
      assert(survPlain === expected)
      assert(survRolled === survPlain, "roll-up changed drop decisions")
      assert(idsRolled === idsPlain && idsRolled === Set(100L, 1L, 2L, 4L, 6L))
      assert(filesRolled < filesPlain,
        s"roll-up must shrink the store: $filesRolled vs $filesPlain files")
      // sealed dirs really consolidated: only the fresh negative label
      // (−2, below the corpus bootstrap −1) and the open batch (2) remain
      val dirs = new java.io.File(s"$rolledDir/__tier=bands").listFiles()
        .map(_.getName).filter(_.startsWith("ingest_batch=")).sorted.toSeq
      assert(dirs === Seq("ingest_batch=-2", "ingest_batch=2"))
      // idempotence: a second roll-up at the same seal point is a no-op
      val before = IngestPipeline.readIndexBefore(spark, rolledDir, Long.MaxValue)
        .bands.collect().map(_.toString).sorted.toSeq
      IngestPipeline.rollupIndexStore(spark, rolledDir, sealedBefore = 2L)
      val after = IngestPipeline.readIndexBefore(spark, rolledDir, Long.MaxValue)
        .bands.collect().map(_.toString).sorted.toSeq
      assert(after === before)
    }
  }

  test("roll-up crash windows (reader-safe ordering): every reachable " +
      "intermediate state shows readers duplicates or the original — " +
      "never absences — and the next roll-up self-heals to exactly-once") {
    withTempDirs("graft-rollup-crash") { case Seq(tmp) =>
      import java.nio.file.{Files => F, Paths}
      val storeDir = s"$tmp/store"
      IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text", n = 2)
      IngestPipeline.processBatch(
        Seq((1L, text("aa"))).toDF("doc_id", "text"), 0L, storeDir, protIdx)
      IngestPipeline.processBatch(
        Seq((2L, text("ba"))).toDF("doc_id", "text"), 1L, storeDir, protIdx)
      def bandRows(): Seq[String] =
        IngestPipeline.readIndexBefore(spark, storeDir, Long.MaxValue)
          .bands.orderBy($"id", $"band_idx").collect().map(_.toString).toSeq
      val before = bandRows()

      // window A — crash BEFORE the _LABEL commit mark: staging holds
      // parquet + _SUCCESS but no _LABEL; sealed dirs are untouched (the
      // new ordering never deletes before installing). Readers see the
      // original rows; the next roll-up discards the unmarked staging.
      for (sub <- Seq("bands", "base")) {
        val dir = s"$storeDir/__tier=$sub"
        val staging = Paths.get(dir, ".rollup_staging")
        spark.read.parquet(dir).filter($"ingest_batch" < 2).drop("ingest_batch")
          .repartition(1).write.mode("overwrite").parquet(staging.toString)
        assert(F.exists(staging.resolve("_SUCCESS")))
      }
      assert(bandRows() === before, "window A changed what readers see")
      IngestPipeline.rollupIndexStore(spark, storeDir, sealedBefore = 2L)
      assert(bandRows() === before,
        "roll-up after window A lost or duplicated rows")
      assert(!F.exists(Paths.get(s"$storeDir/__tier=bands/.rollup_staging")))

      // window B — crash AFTER install, BEFORE the sealed-dir deletes:
      // recreate by copying the installed label's files back as a fake
      // still-present sealed dir. Readers see DUPLICATES (never absences);
      // candidate/drop consumers are duplicate-insensitive; the next
      // roll-up's distinct() restores exactly-once rows.
      val labelDir = new java.io.File(s"$storeDir/__tier=bands").listFiles()
        .map(_.getName).filter(_.startsWith("ingest_batch=-")).sorted.head
      for (sub <- Seq("bands", "base")) {
        val src = Paths.get(s"$storeDir/__tier=$sub/$labelDir")
        val fake = Paths.get(s"$storeDir/__tier=$sub/ingest_batch=0")
        F.createDirectories(fake)
        val s = F.list(src)
        try s.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(f => F.copy(f, fake.resolve("dup-" + f.getFileName)))
        finally s.close()
      }
      val dupRows = bandRows()
      assert(dupRows.distinct === before,
        "window B must show duplicates of the true rows, nothing else")
      assert(dupRows.size > before.size, "window B should actually duplicate")
      // drop decisions are unchanged in the duplicate window: a batch
      // near-dupping survivor 1 is still dropped exactly once
      IngestPipeline.processBatch(
        Seq((9L, text("aa")), (10L, text("fa"))).toDF("doc_id", "text"),
        2L, storeDir, protIdx)
      val surv = IngestPipeline.readSurvivors(spark, storeDir)
        .selectExpr("CAST(ingest_batch AS BIGINT)", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(surv === Seq((0L, 1L), (1L, 2L), (2L, 10L)),
        "duplicate window changed drop decisions")
      // self-heal: the next roll-up consolidates back to exactly-once
      IngestPipeline.rollupIndexStore(spark, storeDir, sealedBefore = 3L)
      val healed = IngestPipeline.readIndexBefore(spark, storeDir, Long.MaxValue)
        .bands.select("id", "band_idx", "band_hash")
        .collect().map(_.toString).toSeq
      assert(healed.distinct.sorted === healed.sorted,
        "self-heal left duplicate index rows")
    }
  }

  test("mid-swap reader (the r12 race window): a reader BETWEEN install " +
      "and the sealed-dir deletes sees a complete index — duplicates " +
      "allowed, absences forbidden — and unchanged drop candidates") {
    withTempDirs("graft-rollup-midswap") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text", n = 2)
      IngestPipeline.processBatch(
        Seq((1L, text("aa"))).toDF("doc_id", "text"), 0L, storeDir, protIdx)
      IngestPipeline.processBatch(
        Seq((2L, text("ba"))).toDF("doc_id", "text"), 1L, storeDir, protIdx)
      val idsBefore = IngestPipeline.readIndexBefore(spark, storeDir, 2L)
        .bands.select("id").distinct().collect().map(_.getLong(0)).toSet
      var probed = 0
      IngestPipeline.rollupIndexStore(spark, storeDir, sealedBefore = 2L,
        targetBytes = 64L * 1024 * 1024, midSwap = () => {
          probed += 1
          val mid = IngestPipeline.readIndexBefore(spark, storeDir, 2L)
          val ids = mid.bands.select("id").distinct()
            .collect().map(_.getLong(0)).toSet
          assert(ids === idsBefore,
            s"mid-swap reader lost index ids: $ids vs $idsBefore")
          // the cross-corpus candidate set of a would-be batch is intact
          val batchIdx = Dedup.buildMinhashIndex(
            Seq((9L, text("aa"))).toDF("doc_id", "text"), "doc_id", "text",
            n = 2)
          val hits = Dedup.lshPairsAgainst(batchIdx, mid, 0.5)
            .select("corpus_id").distinct()
            .collect().map(_.getLong(0)).toSet
          assert(hits === Set(1L),
            "mid-swap reader's near-dup candidates changed")
        })
      assert(probed === 2, "midSwap probe must run once per rolled tier")
    }
  }

  test("startIngest rollupEvery: store partition-dir count stays bounded " +
      "across 3x the cadence, survivors byte-stable vs a no-rollup twin") {
    withTempDirs("graft-cadence", "graft-cadence") { case Seq(plainTmp, rolledTmp) =>
      implicit val sqlCtx = spark.sqlContext
      def runStream(tmp: String, rollupEvery: Option[Int]): (Seq[(Long, Long)], Int, Int) = {
        val storeDir = s"$tmp/store"
        IngestPipeline.writeIndexSlice(
          Seq((100L, text("ca"))).toDF("doc_id", "text"),
          storeDir, IngestPipeline.CorpusBatchId)
        val protIdx = Dedup.buildMinhashIndex(
          Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text",
          n = 2)
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val docs = mem.toDF().toDF("doc_id", "text")
        val q = IngestPipeline.startIngest(docs, storeDir, protIdx,
          s"$tmp/chk", rollupEvery = rollupEvery)
        try {
          // 6 batches (= 3x the cadence of 2): batch i brings one unique
          // doc and one near-dup of batch i−1's survivor — every drop
          // decision depends on the (possibly rolled-up) index
          for (i <- 0 until 6) {
            val fam = ('a' + i).toChar.toString + "z"
            val prevFam = ('a' + i - 1).toChar.toString + "z"
            val rows = Seq((10L + i, text(fam))) ++
              (if (i > 0) Seq((20L + i, text(prevFam))) else Nil)
            mem.addData(rows: _*)
            q.processAllAvailable()
          }
        } finally q.stop()
        val surv = IngestPipeline.readSurvivors(spark, storeDir)
          .selectExpr("CAST(ingest_batch AS BIGINT)", "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val bandDirs = new java.io.File(s"$storeDir/__tier=bands").listFiles()
          .count(_.getName.startsWith("ingest_batch="))
        (surv, bandDirs,
          IngestPipeline.storeFileCount(s"$storeDir/__tier=bands"))
      }
      val (survPlain, dirsPlain, filesPlain) = runStream(plainTmp, None)
      val (survRolled, dirsRolled, filesRolled) = runStream(rolledTmp, Some(2))
      assert(survRolled === survPlain,
        "automatic roll-up changed drop decisions")
      assert(survPlain.map(_._2).toSet === (10L until 16L).toSet,
        "every near-dup of a prior survivor must have been dropped")
      assert(dirsPlain === 7, s"no-rollup store should accrete 7 dirs")
      // cadence 2 over batches 0..5: roll-ups at b2 (seals <2) and b4
      // (seals <4) → after b5 the bands tier holds label + batches 4,5 +
      // the open accretion since the last roll-up — strictly bounded
      assert(dirsRolled <= 4,
        s"rolled store accreted $dirsRolled partition dirs (expected <= 4)")
      assert(filesRolled < filesPlain)
    }
  }

  test("readIndexBefore fails CLOSED: only a genuinely empty store reads " +
      "as the empty index; a foreign/corrupt store rethrows instead of " +
      "silently disabling dedup and decontamination drops") {
    withTempDirs("graft-readidx") { case Seq(tmp) =>
      // missing path → the intended first-batch empty index
      val idx = IngestPipeline.readIndexBefore(spark, s"$tmp/nope", 5L)
      assert(idx.bands.count() === 0 && idx.base.count() === 0)
      // committed parquet that is NOT a store (no ingest_batch/__idx_*
      // envelope): the round-12 catch-all returned the empty index here —
      // fail-open for a decontamination pipeline — now it rethrows
      Seq((1L, "x")).toDF("a", "b").write.parquet(s"$tmp/foreign")
      intercept[org.apache.spark.sql.AnalysisException] {
        IngestPipeline.readIndexBefore(spark, s"$tmp/foreign", 5L)
      }
      // only staging residue (a dot-prefixed dir a reader skips) → empty
      Seq((1L, "x")).toDF("a", "b").write
        .parquet(s"$tmp/residue/.rollup_staging")
      val residue = IngestPipeline.readIndexBefore(spark, s"$tmp/residue", 5L)
      assert(residue.bands.count() === 0 && residue.base.count() === 0)
      // a populated store named by a `file:` URI reads as the real index:
      // emptiness is decided by the reader's own listing, not a local walk
      IngestPipeline.writeIndexSlice(
        Seq((1L, (1 to 20).map(i => s"w$i").mkString(" ")))
          .toDF("doc_id", "text"),
        s"$tmp/store", IngestPipeline.CorpusBatchId)
      val uri = new java.io.File(s"$tmp/store").toURI.toString
      assert(uri.startsWith("file:"))
      val viaUri = IngestPipeline.readIndexBefore(spark, uri, 5L)
      assert(viaUri.base.count() === 1 && viaUri.bands.count() === 16)
    }
  }

  test("a replayed batch is blind to its own failed attempt's index slice") {
    withTempDirs("graft-ingest-r") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text", n = 2)
      val batch = Seq((10L, text("za")), (11L, text("wa"))).toDF("doc_id", "text")
      // first attempt writes batch 0's slice...
      IngestPipeline.processBatch(batch, 0L, storeDir, protIdx)
      // ...replay must read index < 0 only (corpus), so 10/11 are compared
      // against the corpus, NOT against their own failed-attempt signatures
      // (which would self-suppress nothing here but WOULD change candidate
      // sets on near-identical siblings); the partition-pruned read is the
      // guarantee
      val idx = IngestPipeline.readIndexBefore(spark, storeDir, beforeId = 0L)
      assert(idx.bands.select("id").distinct()
        .collect().map(_.getLong(0)).toSet === Set(100L))
      IngestPipeline.processBatch(batch, 0L, storeDir, protIdx)
      val out = IngestPipeline.readSurvivors(spark, storeDir)
        .selectExpr("CAST(ingest_batch AS BIGINT)", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(out === Seq((0L, 10L), (0L, 11L)))
    }
  }

  test("protectedIndex shingles like the pipeline: a copy of a protected doc that is not in the corpus is dropped") {
    withTempDirs("graft-ingest-p") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = IngestPipeline.protectedIndex(
        Seq((200L, text("pa"))).toDF("doc_id", "text"))
      IngestPipeline.processBatch(
        Seq((1L, text("pa")), (2L, text("ua"))).toDF("doc_id", "text"),
        0L, storeDir, protIdx)
      val out = IngestPipeline.readSurvivors(spark, storeDir)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(out === Seq(2L))
    }
  }

  test("startIngest builds the protected index once per query, reads it " +
      "in every batch, and releases it when the query stops") {
    withTempDirs("graft-frozen", "graft-frozen-lazy") { case Seq(tmp, lazyTmp) =>
      implicit val sqlCtx = spark.sqlContext
      // counts every evaluation of the protected docs' text: a local
      // relation's projection is evaluated on the driver by the optimizer
      val reads = spark.sparkContext.longAccumulator("protected text reads")
      val counted = udf { (t: String) => reads.add(1); t }
      val protIdx = IngestPipeline.protectedIndex(
        Seq((200L, text("pa")), (201L, text("pb"))).toDF("doc_id", "raw")
          .select(col("doc_id"), counted(col("raw")).as("text")))
      val batches = Seq(
        Seq((1L, text("pa")), (2L, text("ua")), (3L, text("ca"))),
        Seq((4L, text("pb")), (5L, text("ua")), (6L, text("va"))),
        Seq((7L, text("wa")), (8L, text("wa"))))
      Seq(tmp, lazyTmp).foreach(d => IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"), s"$d/store",
        IngestPipeline.CorpusBatchId))

      val sc = spark.sparkContext
      val cachedBefore = sc.getPersistentRDDs.keySet
      val listenersBefore = spark.streams.listListeners().length
      val mem = MemoryStream[(Long, String)]
      val q = IngestPipeline.startIngest(mem.toDF().toDF("doc_id", "text"),
        s"$tmp/store", protIdx, s"$tmp/chk")
      try {
        assert(reads.value === 2, "the query start reads each protected doc once")
        assert(sc.getPersistentRDDs.size === cachedBefore.size + 2,
          "the query start persists the index's base and bands")
        batches.foreach { b =>
          mem.addData(b: _*)
          q.processAllAvailable()
        }
        assert(reads.value === 2, "a micro-batch derived the protected index again")
      } finally q.stop()
      // released once the termination event reaches the query's listener
      val deadline = System.nanoTime() + 30L * 1000000000L
      def released = sc.getPersistentRDDs.keySet == cachedBefore &&
        spark.streams.listListeners().length == listenersBefore
      while (!released && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sc.getPersistentRDDs.keySet === cachedBefore,
        "the protected index outlived its query")
      assert(spark.streams.listListeners().length === listenersBefore,
        "the query's listener outlived it")

      // the same index, now lazy again, on the same batches: the same
      // drops, and the protected docs are read again in every batch
      batches.zipWithIndex.foreach { case (b, i) =>
        val before = reads.value
        IngestPipeline.processBatch(b.toDF("doc_id", "text"), i.toLong,
          s"$lazyTmp/store", protIdx)
        assert(reads.value > before, s"lazy batch $i read no protected doc")
      }
      val expected = Seq((0L, 2L), (1L, 6L), (2L, 7L))
      assert(survivorsOf(s"$tmp/store") === expected)
      assert(survivorsOf(s"$lazyTmp/store") === expected)
    }
  }

  test("with the session's overwrite mode static, a batch replaces only " +
      "its own store partitions and leaves the session setting as it was") {
    withTempDirs("graft-static") { case Seq(tmp) =>
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "static")
      try {
        val storeDir = s"$tmp/store"
        IngestPipeline.writeIndexSlice(
          Seq((100L, text("ca"))).toDF("doc_id", "text"),
          storeDir, IngestPipeline.CorpusBatchId)
        val protIdx = IngestPipeline.protectedIndex(
          Seq((200L, text("pa"))).toDF("doc_id", "text"))
        def run(batchId: Long, rows: (Long, String)*): Unit =
          IngestPipeline.processBatch(rows.toDF("doc_id", "text"), batchId,
            storeDir, protIdx)
        run(0L, (1L, text("xa")), (2L, text("ya")))
        run(1L, (3L, text("za")))
        // batch 1 again, with other docs: only its partitions change
        run(1L, (4L, text("wa")))
        assert(survivorsOf(storeDir) === Seq((0L, 1L), (0L, 2L), (1L, 4L)))
        assert(IngestPipeline.readIndexBefore(spark, storeDir, Long.MaxValue)
          .base.select("id").collect().map(_.getLong(0)).toSet ===
          Set(100L, 1L, 2L, 4L))
        assert(spark.conf.get(key) === "static")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
