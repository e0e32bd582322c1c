package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft entry point shares (Bench,
  * Verify, Profile, the CLI, the plan/metrics tools and the test suite).
  * Callers add only what they alone need to the returned builder — a
  * master override, s3a options, an app name — then `getOrCreate()`.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise every core of this machine. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cores]` with one shuffle partition per core. */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // ISO backup keys contain ':'; local ChecksumFileSystem builds .crc
      // sibling Paths that misparse them (HADOOP-14829). Raw local FS has
      // no checksum siblings; object stores (s3a/gs) are unaffected.
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      // events.parquet may store TIMESTAMP(NANOS), which Spark otherwise rejects
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide flat-column expressions (64-dim embeddings) make Catalyst
      // constraint propagation quadratic-to-exponential; plans carry
      // explicit filters, so inferred constraints are expendable
      .config("spark.sql.constraintPropagation.enabled", "false")
}
