package graft

import org.apache.spark.sql.SparkSession

/** The one place this engine's Spark settings live: every main and the
  * test suites build their session here, so the plans Verify checks are
  * the plans Bench times and the tools profile. */
object Session {

  /** Task slots: `SPARK_GRAFT_CPUS`, else the host's cores. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cores: Int = Session.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // µs parquet timestamps: DuckDB-comparable (INT96 is deprecated and
      // reads back as ns in some arrow paths, breaking value compares).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.ts is parquet TIMESTAMP(NANOS): set once at build time so
      // table loaders don't mutate session state mid-query (only nanos
      // columns are affected; no fixture has others).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TypedImperativeAggregate (SimhashAgg) groups exceed the 128-entry
      // sort-fallback default in every partition at any real scale; keep
      // the map-side hash aggregate hashed.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // Sort-based shuffle writer for EVERY exchange (r14, SCALE.md
      // round-14): the default bypassMergeThreshold=200 routes <=200-
      // partition shuffles through the per-reducer-file writer — one
      // file create per (map task x reducer), which on this host's
      // filesystem dominated the dd_* map stages (dd_containment x100n:
      // 11-30 s bypass vs 2.8-4.7 s sort writer, non-monotonic in the
      // partition count because 183 vs 276 straddled the threshold).
      // The single-spill-file sort writer is also the only writer that
      // exists at real cluster reducer counts.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fit the session to one fixture before any query runs: pin the
    * LSH/IVF corpus estimates to its footers (so plans and the oracle SQL
    * that embeds them derive from the same value, see
    * [[graft.operators.Corpus]]) and size shuffle partitions from its
    * bytes ([[graft.operators.Corpus.shufflePartitions]]). */
  def fitTo(spark: SparkSession, sfDir: String): Unit = {
    graft.operators.Corpus.prime(spark, sfDir)
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.operators.Corpus.shufflePartitions(spark, sfDir).toString)
  }

  /** Scratch root of the queries that write files (pipeline, formats,
    * bucketing, checkpoints): `GRAFT_PIPE_DIR`, else `target/pipe` under
    * the working directory (gitignored). */
  def pipeDir: String =
    sys.env.getOrElse("GRAFT_PIPE_DIR", java.nio.file.Paths.get("target/pipe").toAbsolutePath.toString)
}
