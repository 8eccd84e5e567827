package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

import graft.Schemas

/** Runnable end-to-end pipeline — the `workflow.py` equivalent
  * (reference workflow.py:12-31): per cycle, GENERATE staged data →
  * INGEST it ([[Ingest.drain]]: one Delta commit per staged batch) →
  * every `compactEvery` cycles COMPACT the tables → REDUCE (the flagship
  * Q3 variant per market segment) → SERVE the results as one parquet
  * file per segment.
  *
  * The reference runs these as four Prefect schedules (15 min / 15 min /
  * 6 h / 24 h) serialized by a shared FileLock
  * (pipeline/settings.py:37-40). Both forms exist here:
  *  - [[runPipeline]] drives N cycles back-to-back, standing in for the
  *    wall-clock cadence (T1);
  *  - [[runLive]] is the long-lived form: it stages and drains one batch
  *    per wall-clock tick while [[Serve]] answers throughout.
  * Every maintenance step (generate+drain cycle, compaction, reduce)
  * holds the workDir's [[PipelineLock]], so overlapping invocations —
  * threads or separate JVMs — serialize instead of interleaving
  * destructively (T4 across processes). Work ordering inside a cycle
  * follows the reference's dependency (orders staged before lineitem so
  * the uuid keymap exists before it is consumed — O3,
  * reference pipeline/data.py:62).
  *
  * Usage: PipelineMain <sfDir> <workDir> [nCycles] [compactEvery] [--live] [--serve]
  */
object PipelineMain {

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The staged tables and their schemas: what [[Synthesize.cycle]]
    * stages and [[Ingest.drain]] reads. */
  private[streaming] val schemas = Map(
    "orders" -> Schemas.stagedOrders,
    "lineitem" -> Schemas.stagedLineitem,
    "customer" -> Schemas.customer)

  private def lockFile(workDir: String) = s"$workDir/.pipeline.lock"

  /** Compact + vacuum (reference pipeline/preprocess.py:62-93): each
    * existing table's live files bin-pack into ceil(live bytes / 128 MB)
    * files in one `dataChange=false` commit ([[DeltaLog.optimize]]),
    * then [[DeltaLog.vacuum]] at retention 0 deletes what the rewrite
    * retired, plus any orphan a killed writer left. Staging is not
    * touched: every drain retires its batches as it commits them.
    * Caller holds the pipeline lock. */
  private def compact(spark: SparkSession, tables: String, names: Seq[String],
                      beforeCommit: () => Unit = () => ()): Unit =
    names.foreach { t =>
      val dir = s"$tables/$t"
      if (DeltaLog.latestVersion(spark, dir) >= 0) {
        val bytes = DeltaLog.liveAdds(spark, dir)._2
          .map(a => Option(a._2.get("size")).map(_.asLong).getOrElse(0L)).sum
        val target = math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
        val (b, a) = DeltaLog.optimize(spark, dir, targetFiles = target, beforeCommit)
        DeltaLog.vacuum(spark, dir, retentionMs = 0)
        println(s"[pipeline] compacted $t: $b -> $a files")
      }
    }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = pos.lift(1).getOrElse(s"${graft.Session.pipeDir}/main")
    val nCycles = pos.lift(2).map(_.toInt).getOrElse(4)
    val compactEvery = pos.lift(3).map(_.toInt).getOrElse(2)
    val spark = graft.Session.build()
    // stop on failure too: Spark's non-daemon threads would otherwise keep
    // the JVM alive after main throws, hanging a caller that waits on it
    try {
      val servePort = sys.env.getOrElse("GRAFT_SERVE_PORT", "8080").toInt
      val live = args.contains("--live")
      val wantServe = args.contains("--serve")
      val srv =
        if (live)
          // in live mode the service is up DURING ingestion, republishing
          // every compactEvery batches — the resident deployment form
          runLive(spark, sfDir, workDir, nBatches = nCycles, cadenceMs = 2000L,
            serve = wantServe, publishEvery = compactEvery, servePort = servePort)
        else {
          runPipeline(spark, sfDir, workDir, nCycles, compactEvery)
          if (wantServe)
            Some(Serve.start(spark, s"$workDir/results", Segments, port = servePort,
              watchdogMs = 1000L))
          else None
        }
      srv.foreach { s =>
        println(s"[pipeline] serving results on port ${s.port} (GET /health, " +
          s"/segments, /results/<segment>); Ctrl-C to stop")
        Thread.currentThread().join()
      }
    } finally spark.stop()
  }

  /** The whole workflow on a caller-owned session (what `main` wraps;
    * also the E2E test entry). */
  def runPipeline(spark: SparkSession, sfDir: String, workDir: String,
                  nCycles: Int, compactEvery: Int): Unit = {
    runCycles(spark, sfDir, workDir, 0 until nCycles, nCycles, compactEvery)
    finishAndServe(spark, sfDir, workDir)
  }

  /** Bounded exponential-backoff retry — the reference's Prefect task
    * policy (retries with exponential backoff around every ingest task,
    * reference pipeline/preprocess.py:22-27) as a plain combinator. A
    * transient failure (FS hiccup, interrupted drain) heals without
    * manual restart BECAUSE every retried unit is idempotent: staging
    * re-writes the same content-addressed batch, drains are
    * exactly-once against each batch's `txn` in the table's log, compaction
    * re-reads the live set — so a half-done attempt plus a full retry
    * equals one clean run (a dead attempt's orphans are vacuum's).
    * After `maxAttempts` the last failure propagates (fail-loud, not
    * spin-forever). `sleep` is a test seam. */
  private[streaming] def withRetry[T](what: String, maxAttempts: Int = 10,
                                      baseDelayMs: Long = 100L,
                                      sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if attempt < maxAttempts =>
          val delay = baseDelayMs << math.min(attempt - 1, 6)
          println(s"[pipeline] $what failed (attempt $attempt/$maxAttempts): " +
            s"${e.getMessage}; retrying in ${delay}ms")
          sleep(delay)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Generate+drain the given batch slices, one lock-held cycle each.
    * Two overlapping invocations (same workDir, DISJOINT batch ids —
    * the reference's two schedulers generating distinct data) serialize
    * at cycle granularity: a drain never observes a half-staged batch
    * or races a compaction of its table. A failed cycle retries whole
    * with backoff ([[withRetry]]) — the lock is released
    * between attempts, so a competing healthy invocation is never
    * starved by a sick one. `chaos` is a crash-injection test seam
    * called between staging and drain; `beforeCompactCommit` is
    * [[DeltaLog.optimize]]'s seam between the compaction's rewrite and
    * its commit. */
  def runCycles(spark: SparkSession, sfDir: String, workDir: String,
                batchIds: Seq[Int], nBatches: Int, compactEvery: Int,
                chaos: Int => Unit = _ => (),
                beforeCompactCommit: () => Unit = () => ()): Unit = {
    val staging = s"$workDir/staging"
    val tables = s"$workDir/tables"
    for (cycle <- batchIds) {
      withRetry(s"cycle $cycle") {
        PipelineLock.withLock(lockFile(workDir)) {
          Synthesize.cycle(spark, sfDir, staging, tables, batchId = cycle, nBatches = nBatches)
          chaos(cycle)
          Ingest.drain(spark, staging, tables, schemas)
          if ((cycle + 1) % compactEvery == 0)
            compact(spark, tables, Seq("customer"), beforeCompactCommit)
        }
      }
      println(s"[pipeline] cycle $cycle complete")
    }
  }

  /** Final maintenance + reduce + serve, under the lock: compact and
    * vacuum all three tables (file count and dead-file reclaim only —
    * appends and compaction share one log, so nothing waits on a
    * quiesce), then publish. After a clean finish each table dir holds
    * exactly its live files. Idempotent: a second invocation finds
    * nothing to bin-pack and re-overwrites the served results. */
  def finishAndServe(spark: SparkSession, sfDir: String, workDir: String): Unit =
    PipelineLock.withLock(lockFile(workDir)) {
      compact(spark, s"$workDir/tables", Seq("orders", "lineitem", "customer"))
      publishResults(spark, workDir)
    }

  /** The REDUCE: the flagship's top 50 per market segment over the
    * INGESTED tables (staged schema: uuid keys, *_time columns — the
    * reference's reduce reads the same processed form,
    * pipeline/reduce.py:43-74), all segments in one pass: each table is
    * scanned once, joined once, and `row_number() <= 50` per segment
    * plans as a partial `WindowGroupLimit` before the segment exchange,
    * so a map task ships at most 50 rows per segment and no row-sized
    * relation funnels through one task. Columns: `c_mktsegment`,
    * `l_orderkey`, `o_order_time`, `revenue`; within a segment, rank
    * order is `revenue desc, l_orderkey`. */
  private[graft] def segmentTop50(spark: SparkSession, tables: String): DataFrame = {
    val li = DeltaLog.read(spark, s"$tables/lineitem")
    val ord = DeltaLog.read(spark, s"$tables/orders")
    val cust = DeltaLog.read(spark, s"$tables/customer")
    val cutoff = lit(Synthesize.OrdTgtHi).cast("timestamp")
    val rank = Seq(col("revenue").desc, col("l_orderkey"))
    ord.filter(col("o_order_time") < cutoff)
      .join(cust.filter(col("c_mktsegment").isin(Segments: _*)), col("o_custkey") === col("c_custkey"))
      .join(li.filter(col("l_ship_time") > cutoff), col("o_orderkey") === col("l_orderkey"))
      .groupBy("c_mktsegment", "l_orderkey", "o_order_time")
      .agg(graft.functions.Exact.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .withColumn("rn", row_number().over(Window.partitionBy("c_mktsegment").orderBy(rank: _*)))
      .filter(col("rn") <= 50)
      .drop("rn")
      .repartition(col("c_mktsegment"))
      .sortWithinPartitions(col("c_mktsegment") +: rank: _*)
  }

  /** REDUCE + PUBLISH: one Spark job computes every segment's top 50
    * ([[segmentTop50]]) into ONE staging dir, `results/.stage`,
    * partitioned by segment (one file per segment, rows in rank order,
    * the segment column dropped so each file keeps the served schema),
    * and only then swaps each `.stage/c_mktsegment=<SEG>` into the
    * served `results/<SEG>` (retire + rename). The window where a result
    * directory holds a HALF-written generation therefore never exists —
    * a concurrently-running [[Serve]] sees the old committed generation,
    * a beat of absent-directory (its cache covers that), then the new
    * one: read-your-republish, never a torn read. A segment with no
    * qualifying rows gets no partition dir from the write, so it is
    * staged as one zero-row file of the same schema and still serves.
    *
    * Crash story: a death during the write leaves only `.stage`; a death
    * mid-swap leaves some segments on the new generation, the rest on
    * the old one (or absent for the one being swapped) plus the unswapped
    * remainder under `.stage`. No staging dir is ever served, and the
    * next publish first deletes every `results/.stage*` (also the
    * per-segment `.stage_<SEG>` dirs of the older layout) and rebuilds
    * all segments from the tables — idempotent. Caller holds the
    * pipeline lock (or is [[runLive]]'s generator loop, which takes
    * it). */
  def publishResults(spark: SparkSession, workDir: String): Unit = {
    val results = s"$workDir/results"
    val stage = s"$results/.stage"
    Fs.deleteGlob(spark, s"$results/.stage*")
    val top = segmentTop50(spark, s"$workDir/tables")
    top.write.partitionBy("c_mktsegment")
      .option("compression", "snappy").parquet(stage)
    for (seg <- Segments) {
      val staged = s"$stage/c_mktsegment=$seg"
      if (!Fs.exists(spark, staged))
        spark.createDataFrame(java.util.List.of[Row](), top.drop("c_mktsegment").schema)
          .write.option("compression", "snappy").parquet(staged)
      Fs.deleteRec(spark, s"$results/$seg")
      Fs.renameOrFail(spark, staged, s"$results/$seg")
    }
    Fs.deleteRec(spark, stage)
    println(s"[pipeline] published ${Segments.size} segments to $results")
  }

  /** Long-lived wall-clock mode (the deployment form of the reference's
    * 15-minute schedules): every `cadenceMs` one batch is staged and
    * drained under the lock ([[runCycles]], no mid-run compaction), then
    * compact + reduce + serve after `nBatches`.
    *
    * `serve = true` starts the [[Serve]] HTTP layer BEFORE the loop
    * (health answers "waiting" until the first publish) and returns it
    * running — the resident deployment form: the service is up while
    * ingestion and reduce republishes run underneath it, and its
    * generation-keyed cache carries readers across each republish swap.
    * `publishEvery = k` re-runs the reduce after every k-th batch (under
    * the lock — the reference's independent 15-min ingest / 24-h reduce
    * schedules compressed onto one cadence). Caller stops the returned
    * server. */
  def runLive(spark: SparkSession, sfDir: String, workDir: String,
              nBatches: Int, cadenceMs: Long,
              serve: Boolean = false, publishEvery: Int = 0,
              servePort: Int = 0, onServe: Serve => Unit = _ => ()): Option[Serve] = {
    // supervised (r13): runLive is the resident deployment form, so its
    // service carries the watchdog — a dead listener redeploys on the
    // same port while ingestion continues (reference dashboard.py:52-61's
    // health-check + redeploy loop)
    val srv = if (serve) Some(Serve.start(spark, s"$workDir/results", Segments, servePort,
                 watchdogMs = 500L))
              else None
    srv.foreach(onServe) // hand the running server out BEFORE the loop (test seam / supervisor registration)
    for (b <- 0 until nBatches) {
      if (b > 0) Thread.sleep(cadenceMs)
      runCycles(spark, sfDir, workDir, Seq(b), nBatches, compactEvery = Int.MaxValue)
      if (publishEvery > 0 && (b + 1) % publishEvery == 0) {
        // mid-run republish; Serve's cache carries readers across the swap
        PipelineLock.withLock(lockFile(workDir))(publishResults(spark, workDir))
        println(s"[pipeline] live: republished results after batch $b")
      }
    }
    finishAndServe(spark, sfDir, workDir)
    srv
  }
}
