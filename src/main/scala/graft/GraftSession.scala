package graft

import org.apache.spark.sql.SparkSession

import graft.core.{GraftLocalFileSystem, GraftLocalFs}

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds through here so engine-level settings stay consistent.
  */
object GraftSession {
  /** Configs the engine requires regardless of entry point. */
  def withGraftConfigs(b: SparkSession.Builder): SparkSession.Builder = b
    // `file:` through graft.core.LocalFs, for the FileSystem and the
    // FileContext API: the stock local FS forks chmod per created file
    // and readlink per rename.
    .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    // testdata events.ts is TIMESTAMP(NANOS); Spark reads it as a long
    // (normalized back to micros in graft.sources.Tables.events).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // Constraint propagation canonicalizes giant And predicates when a
    // wide (64-feature) pivot + CASE-chain prediction feeds a join —
    // observed as a >15 min PLANNING hang on the k-means query (TimSort
    // inside Expression.canonicalized). Every graft plan states its
    // filters explicitly, so inferred constraints buy nothing here.
    .config("spark.sql.constraintPropagation.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")

  def local(cpus: String): SparkSession = {
    // NOTE: driver heap cannot be set here — the JVM is already running.
    // build.sbt's javaOptions (-Xmx from SPARK_DRIVER_MEM) sizes the
    // forked JVM; a builder-time spark.driver.memory would be a no-op.
    val s = withGraftConfigs(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
