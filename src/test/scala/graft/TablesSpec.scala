package graft

/** `Tables.load` reads a table's schema from a parquet footer on the
  * driver: the first load of a table in a session starts no Spark job
  * (so none lands inside the query builder that reads the table first),
  * and the schema is the one Spark's own inference gives. */
class TablesSpec extends SparkSpec {

  /** The repository's committed copy of the ten sf0.1 tables. */
  private val source = "perfbench/data/sf0.1"

  test("a cold Tables.load starts no job and infers Spark's schema, for all ten tables") {
    withTempDirs("graft-tables") { case Seq(dir) =>
      // fresh copies (read only, the source is never written): no earlier
      // load of this session has seen these paths
      Tables.names.foreach { t =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(source, t)),
          java.nio.file.Paths.get(Tables.path(dir, t)))
      }
      val nanos = "spark.sql.legacy.parquet.nanosAsLong"
      val prevNanos = spark.conf.getOption(nanos)
      // events' `ts` may be TIMESTAMP(NANOS), which Spark reads only as a long
      spark.conf.set(nanos, "true")
      try {
        val (loaded, jobs) =
          jobsOf(Tables.names.map(t => t -> Tables.load(spark, dir, t).schema))
        assert(jobs === 0, "a cold Tables.load started jobs")
        loaded.foreach { case (t, schema) =>
          assert(schema === spark.read.parquet(Tables.path(dir, t)).schema, t)
        }
      } finally prevNanos match {
        case Some(v) => spark.conf.set(nanos, v)
        case None => spark.conf.unset(nanos)
      }
    }
  }
}
