package graft

import org.apache.spark.sql.functions._

import graft.ops.ZOrder

/** Z-order clustering: bit-exactness of the Morton key and — the point of
  * the exercise — the file-level data-skipping effect: after clusterByZ,
  * a predicate on EITHER dimension prunes most files by min/max, where a
  * linear sort only prunes on its leading column. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zkey2 interleaves bits (known values)") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.zkey2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    // interleave(x=3(0b11), y=5(0b101)) = y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1
    assert(out.toSeq === Seq(0L, 1L, 2L, 0x27L, 0xFFFFFFFFL))
  }

  test("z-layout prunes files on BOTH dimensions; linear layout only on its sort key") {
    withTempDirs("graft-z", "graft-lin") { case Seq(zDir, linDir) =>
      val n = 64
      val grid = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
        .toDF("x", "y")
      val numFiles = 16

      def fileSpans(dir: String): Seq[(Long, Long, Long, Long)] = {
        val files = new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq
        assert(files.size == numFiles, s"expected $numFiles files, got ${files.size}")
        files.map { f =>
          val r = spark.read.parquet(f)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
      }
      def filesCovering(spans: Seq[(Long, Long, Long, Long)],
                        yPoint: Long): Int =
        spans.count { case (_, _, y0, y1) => y0 <= yPoint && yPoint <= y1 }

      ZOrder.clusterByZ(grid, "x", "y", numFiles)
        .write.mode("overwrite").parquet(zDir)
      grid.repartitionByRange(numFiles, col("x"))
        .sortWithinPartitions(col("x"), col("y"))
        .write.mode("overwrite").parquet(linDir)

      val zSpans = fileSpans(zDir)
      val linSpans = fileSpans(linDir)
      // linear-by-x: every file spans all of y -> a y-point predicate reads
      // ALL files; z-layout bounds every file's y-span, so it reads few
      val yProbe = 17L
      assert(filesCovering(linSpans, yProbe) == numFiles,
        "linear layout should not prune on y at all")
      assert(filesCovering(zSpans, yProbe) <= numFiles / 2,
        s"z-layout should bound y spans; spans were $zSpans")
      // and x-pruning must still work about as well as the linear layout's
      val xProbe = 17L
      val zXCover = zSpans.count { case (x0, x1, _, _) => x0 <= xProbe && xProbe <= x1 }
      assert(zXCover <= numFiles / 2,
        s"z-layout lost x pruning; spans were $zSpans")
    }
  }
}
