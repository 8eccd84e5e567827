package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

import graft.Schemas

/** Fixture-table loaders (SURVEY §2.1 S3/S5/S6).
  *
  * Reads are plain parquet scans: Catalyst pushes filters and prunes
  * columns into the scan automatically (`PushedFilters`/`ReadSchema` in
  * `.explain("formatted")`), which is the 100 TB-scale behavior we want —
  * a query that touches 2 columns reads 2 column chunks, and partition /
  * row-group pruning falls out of parquet footer stats. The reference got
  * the same properties from dask-expr + Delta file stats
  * (reference pipeline/reduce.py:21,43-54).
  */
object Tables {

  /** Path of a fixture table inside a scale-factor directory. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Load one fixture table. Schema is asserted (not inferred) so a
    * drifting fixture fails loudly instead of silently changing types.
    * (Timestamp UNIT drift is the one class assertion can't catch — an
    * INT64-backed timestamp column reads as an asserted LongType without
    * complaint — so [[events]] probes the parquet footer instead.) */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(Schemas.byName(name)).parquet(path(sfDir, name))

  /** Spread a NARROW scan across the cores before per-row-expensive
    * work (guide §2.5 input skew: a single-file fixture reads as one
    * split, pinning every downstream map-side expression — md5 chains,
    * explodes, decodes — to ONE core). Fires only when the input has
    * fewer splits than cores; at 100 TB the input has thousands of
    * splits and no shuffle happens at all.
    *
    * The partition count is EXPLICIT (r14 optimization round): a bare
    * `repartition(col)` leaves numPartitions open, and AQE's partition
    * coalescing is free to fold the tiny-BYTES exchange back to one
    * partition — StageProf showed ml_bootstrap_ci's spread collapsing
    * to a single 1.7 s task exactly that way (byte-based sizing
    * under-resolves CPU-dense-at-tiny-bytes stages, the same cliff
    * Text.shingled documents). `repartition(n, col)` pins the count,
    * which AQE honors.
    *
    * NEAR-WIDE guard (r15, ADVICE r14): a bare `files < cores` is a
    * threshold cliff — 999 files on 1000 cores would shuffle the whole
    * (possibly huge) table for a 0.1% parallelism gain. The spread now
    * fires only when the input is genuinely narrow: single-digit file
    * counts (every shipped fixture, at any driver core count — keeps
    * the r14-measured plans identical) or at most HALF the cores. An
    * input already holding ≥ half the cores gains little from the
    * extra exchange and skips it. */
  def spread(spark: SparkSession, df: DataFrame,
             keys: org.apache.spark.sql.Column*): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val n = df.inputFiles.length
    if (n < par && (n < 8 || n * 2 <= par)) df.repartition(par, keys: _*)
    else df
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  /** events.ts unit handling. Fixture generations have shipped `ts` as
    * parquet TIMESTAMP(MICROS) (pandas/pyarrow/Spark default) AND
    * TIMESTAMP(NANOS)/raw-INT64-nanos (polars, older generations), so the
    * unit is probed from the parquet footer — a driver-side metadata read
    * (`spark.read.parquet(...).schema` reads footers only, no row data) —
    * instead of assumed. Silently mis-reading the other unit compresses or
    * inflates every event time 1000×, which a LongType schema assertion
    * does NOT catch (an INT64-backed timestamp column reads as LongType
    * without complaint); this probe is the loud-failure tripwire that
    * assertion promised. The reference is unit-agnostic for free via
    * pyarrow (reference pipeline/preprocess.py:38).
    *
    * The probe result is memoized per path while the file is unchanged
    * ([[graft.Session.memo]]): one footer read per fixture version. */
  private def probeEventsTsType(spark: SparkSession, p: String): DataType =
    graft.Session.memo(spark, "eventsTsType", Seq(p), p) {
      val field = spark.read.parquet(p).schema.find(_.name == "ts").getOrElse(
        throw new IllegalArgumentException(s"events fixture at $p has no `ts` column"))
      field.dataType match {
        case TimestampType | TimestampNTZType | LongType => field.dataType
        case other => throw new IllegalArgumentException(
          s"events.ts at $p has unsupported type $other: expected parquet " +
            "TIMESTAMP(MICROS/MILLIS) (reads as TimestampType/NTZ) or " +
            "TIMESTAMP(NANOS)/INT64 nanos (reads as LongType under " +
            "nanosAsLong); refusing to guess a unit")
      }
    }

  /** Raw ns → µs TimestampType. Integer `div`, not `/`: ns epoch values
    * (~1.7e18) exceed double's 2^53 integer range, so float division would
    * corrupt low bits. `div` truncates toward zero, which equals DuckDB's
    * ns→µs cast for the post-1970 fixture epochs; pre-epoch (negative)
    * values would need floor-division in both engines. */
  private def nanosToTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Harness sessions (Verify/Bench/tests) set this at build time; the
    // runtime set here covers caller-owned sessions. It only changes how
    // TIMESTAMP(NANOS) parquet columns read (as LongType instead of error).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = path(sfDir, "events")
    probeEventsTsType(spark, p) match {
      // µs/ms logical type: read natively. The schema assertion uses
      // TimestampType even over isAdjustedToUTC=false files — with the
      // engine-wide UTC session timezone the stored micros are identical,
      // and every downstream op + the Verify output stay one type.
      case TimestampType | TimestampNTZType =>
        spark.read.schema(Schemas.events).parquet(p)
      case _ => nanosToTs(spark.read.schema(Schemas.eventsRaw).parquet(p))
    }
  }

  /** Streaming twin of [[events]]: the same fixture read through the
    * Structured Streaming file source (schema-asserted parquet scan, same
    * footer-probed unit branch), for the T6 streaming window ops in
    * [[graft.streaming.StreamingOps]]. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The fixture is a single parquet FILE; FileStreamSource derives its
    // basePath from the input path and requires a directory — a literal
    // file path fails ("Option 'basePath' must be a directory"). A glob
    // that matches only this file makes the source treat the parent dir
    // as base, which is also the shape a real deployment uses
    // (dir/*.parquet over an arriving-file directory). The unit probe
    // runs on the resolved batch path (same footers).
    val glob = s"$sfDir/events.parqu[e]t"
    probeEventsTsType(spark, path(sfDir, "events")) match {
      case TimestampType | TimestampNTZType =>
        spark.readStream.schema(Schemas.events).parquet(glob)
      case _ => nanosToTs(spark.readStream.schema(Schemas.eventsRaw).parquet(glob))
    }
  }

  /** Streaming twin of [[documents]] (same single-file glob trick as
    * [[eventsStream]]) for the stateful streaming dedup op. */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(Schemas.documents).parquet(s"$sfDir/documents.parqu[e]t")

  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")

  /** The VALIDATED vector corpus — ingest-time quarantine contract
    * (r11, r10 verdict item 6). A NULL or zero-length embedding is
    * malformed input for every vector operation downstream (norms
    * divide by zero, PQ subspace extraction indexes past the end,
    * typed encoders throw on non-null fields), so it is filtered HERE,
    * once, rather than defensively in 29 call sites — the same
    * park-malformed-rows-at-ingest behavior a 100 TB embedding
    * pipeline needs, where a fraction of upstream encoder failures is
    * a certainty, not an edge case. `size(col) > 0` is three-valued:
    * NULL arrays yield NULL → filtered, zero-length yield false →
    * filtered. The oracle side applies the IDENTICAL predicate via the
    * shadowing CTE [[graft.SparkEntry.oracleSql]] injects
    * (`len(embedding) > 0` — both engines agree on NULL/len semantics
    * here; the widened `tools/run.sh nulls` gate pins it). On clean
    * fixtures the filter matches every row and AQE/pushdown make it
    * free (IsNotNull reaches the parquet scan). */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")
      .where(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")) > 0)
}
