package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.pipeDir
import graft.functions.Text
import graft.operators.Journeys
import graft.sources.Tables

/** End-to-end incremental-pipeline entries — the reference's reason to
  * exist (generate → stage → ingest → table → maintain; reference
  * workflow.py:12-23), run as oracle-verified queries:
  *
  *  - `pipe_ingest_roundtrip`: two [[Synthesize]] generation cycles
  *    (disjoint key slices) each drained by [[Ingest.drain]] into Delta
  *    tables, plus a third drain of batch 1 staged again (its `txn` is
  *    in the log, so it commits nothing), then a checksum summary of the
  *    final tables. Every transform in the synthesis is content-addressed
  *    (md5 keys, md5-uniform noise, fixed affine windows), so DuckDB
  *    recomputes the exact expected state from the fixture tables alone:
  *    a hash match proves the JSON encode → stage → discover → read →
  *    append → commit path end-to-end, including exactly-once across
  *    the three drains (a duplicated or dropped batch would shift
  *    `n_rows`/checksums).
  *  - `pipe_compact_roundtrip`: appends a 16-file Delta table,
  *    compacts it to 2 files with [[DeltaLog.optimize]], and checksums
  *    the result; the oracle pins both the content (unchanged) and the
  *    file count.
  *
  * Scratch lives under the repo's build dir (gitignored), one directory
  * per scale factor; each invocation starts from a wiped slate so the
  * entries are deterministic and rerunnable.
  */
object Pipeline {

  private val P = 1000000007L

  private def wipe(spark: SparkSession, dir: String): Unit = {
    Fs.deleteRec(spark, dir)
    Fs.mkdirs(spark, dir)
  }

  private def sfName(sfDir: String): String =
    Paths.get(sfDir).getFileName.toString

  /** Run several [[DeltaLog.append]]s CONCURRENTLY (r15, guide §5:
    * the driver should coordinate, not serialize). Each append is an
    * independent write + stats job plus one log commit, and the log's
    * optimistic commit loop exists precisely so concurrent appenders
    * can rebase-and-retry — a slab-per-file layout pass was paying N
    * serial job latencies for work with no cross-slab dependency. The
    * committed STATE is order-independent (the live set is a SET of
    * files; every consumer below reads counts/contents, never version
    * numbers), so overlapping the appends cannot change any output.
    * NOT used where a caller pins a returned version (pipe_time_travel
    * needs v0 = first slice by construction). */
  private def appendConcurrently(spark: SparkSession, tbl: String,
                                 slices: Seq[DataFrame],
                                 statsCols: Seq[String] = Seq.empty): Unit =
    concurrently(slices.map(df =>
      () => { DeltaLog.append(spark, tbl, df, statsCols); () }))

  /** Run independent driver-coordinated jobs concurrently (each is a
    * self-contained Spark write + commit) and wait for all of them: the
    * Delta staging passes here, [[Synthesize.cycle]]'s per-table
    * stagings and [[Ingest.drain]]'s per-table drains. */
  private[streaming] def concurrently(jobs: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    jobs.map(j => Future(j())).foreach(Await.result(_, Duration.Inf))
  }

  /** Checksum row for one ingested table: modular sums over the columns
    * the transforms touched (key, time, price). */
  private def summarize(df: DataFrame, tbl: String, keyCheck: String,
                        timeCheck: String, priceCheck: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(expr(s"($keyCheck) % $P")).as("key_check"),
      sum(expr(s"($timeCheck) % $P")).as("time_check"),
      sum(expr(s"($priceCheck) % $P")).as("price_check"))
      .select(lit(tbl).as("tbl"), col("n_rows"), col("key_check"),
        col("time_check"), col("price_check"))

  /** Generate ×2 → ingest ×3 → checksum (see object doc). */
  def pipeIngestRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/ingest_${sfName(sfDir)}"
    wipe(spark, base)
    val staging = s"$base/staging"
    val tables = s"$base/tables"

    Synthesize.cycle(spark, sfDir, staging, tables, batchId = 0, nBatches = 2)
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    // second cycle: facts grow, the static dim is skipped (T5);
    // staged and drained twice: the second drain finds batch 1's txn in
    // each log and commits nothing (T3)
    for (_ <- 0 until 2) {
      Synthesize.cycle(spark, sfDir, staging, tables, batchId = 1, nBatches = 2)
      Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    }

    val ord = DeltaLog.read(spark, s"$tables/orders")
    val li = DeltaLog.read(spark, s"$tables/lineitem")
    val cust = DeltaLog.read(spark, s"$tables/customer")
    summarize(cust, "customer", "c_custkey", "0", "cast(round(c_acctbal * 100) as bigint)")
      .unionAll(summarize(li, "lineitem",
        Text.hash60SparkSql("l_orderkey"),
        "unix_micros(l_ship_time)",
        "cast(round(l_extendedprice * 100) as bigint)"))
      .unionAll(summarize(ord, "orders",
        Text.hash60SparkSql("o_orderkey"),
        "unix_micros(o_order_time)",
        "cast(round(o_totalprice * 100) as bigint)"))
      .orderBy("tbl")
  }

  /** DuckDB recomputation of the expected post-ingest state, straight
    * from the fixture tables (the staged transforms are all
    * content-addressed — see [[Synthesize]]). */
  private val pipeIngestRoundtripSql: String = {
    val ordUuid = "md5('order:' || o_orderkey::VARCHAR)"
    val liUuid = "md5('order:' || l_orderkey::VARCHAR)"
    val liNoise = Synthesize.noiseDuck("l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR")
    val ordTime = Synthesize.affineDuck("o_orderdate", Synthesize.OrdTgtLo, Synthesize.OrdTgtHi)
    val shipTime = Synthesize.affineDuck("l_shipdate", Synthesize.ShipTgtLo, Synthesize.ShipTgtHi)
    s"""SELECT 'customer' AS tbl, count(*) AS n_rows,
       |  sum(c_custkey % $P)::BIGINT AS key_check,
       |  0::BIGINT AS time_check,
       |  sum(round(c_acctbal * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM customer
       |UNION ALL
       |SELECT 'lineitem', count(*),
       |  sum((${Text.hash60DuckSql(liUuid)}) % $P)::BIGINT,
       |  sum(epoch_us($shipTime) % $P)::BIGINT,
       |  sum(round(($liNoise) * l_extendedprice * 100)::BIGINT % $P)::BIGINT
       |FROM lineitem
       |UNION ALL
       |SELECT 'orders', count(*),
       |  sum((${Text.hash60DuckSql(ordUuid)}) % $P)::BIGINT,
       |  sum(epoch_us($ordTime) % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT
       |FROM orders
       |ORDER BY tbl""".stripMargin
  }

  /** 16-file table → compact to 2 → checksum + file counts. */
  def pipeCompactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/compact_${sfName(sfDir)}"
    wipe(spark, base)
    val dir = s"$base/orders"
    DeltaLog.append(spark, dir, Tables.orders(spark, sfDir).repartition(16))
    val (before, after) = DeltaLog.optimize(spark, dir, targetFiles = 2)
    DeltaLog.read(spark, dir)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("key_check"), col("price_check"),
        lit(before.toLong).as("files_before"), lit(after.toLong).as("files_after"))
  }

  /** The oracle pins content AND the file counts (16 → 2): a compaction
    * that lost/duplicated rows or produced the wrong layout fails. */
  private val pipeCompactRoundtripSql: String =
    s"""SELECT 'orders' AS tbl, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  16::BIGINT AS files_before, 2::BIGINT AS files_after
       |FROM orders""".stripMargin

  /** Transactional compaction under a racing append, end-to-end as an
    * oracle-verified query ([[DeltaLog.optimize]]): three slices of
    * `orders` are appended, the third landing BETWEEN the compaction's
    * rewrite and its commit; the compaction must lose the version race,
    * rebase, and preserve the raced append. The oracle pins full-table
    * content (nothing lost), the post-compaction file count (2
    * compacted + 1 raced append), the version history length (2
    * appends + raced append + compaction = v3), and the vacuum count
    * (the 8 rewritten input files). */
  def pipeTxnCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/txn_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    // concurrent (r15): the oracle pins the version COUNT (2 appends +
    // raced append + compaction = v3), not which slice took v0
    appendConcurrently(spark, tbl, (0 until 2).map(i =>
      ord.filter(col("o_orderkey") % 3 === i).repartition(4)))
    DeltaLog.optimize(spark, tbl, targetFiles = 2, beforeCommit = () => {
      DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 2).repartition(1)); ()
    })
    val version = DeltaLog.latestVersion(spark, tbl)
    val vacuumed = DeltaLog.vacuum(spark, tbl, retentionMs = 0)
    val (_, files, _) = DeltaLog.snapshot(spark, tbl)
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("key_check"), col("price_check"),
        lit(files.size.toLong).as("n_files"), lit(version).as("version"),
        lit(vacuumed.toLong).as("n_vacuumed"))
  }

  private val pipeTxnCompactSql: String =
    s"""SELECT 'orders' AS tbl, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  3::BIGINT AS n_files, 3::BIGINT AS version, 8::BIGINT AS n_vacuumed
       |FROM orders""".stripMargin

  /** Incremental aggregate maintenance — the scalable alternative to
    * the reference's nightly full recompute (reference workflow.py:24-27
    * reruns the whole reduction daily): a Q1-style pricing summary kept
    * up to date batch-by-batch as data arrives, never rescanning history.
    *
    * Mechanics: the lineitem fixture is staged as 3 disjoint source
    * files (r12: was 4 — init + merge + re-merge is the minimal
    * convergence proof); a file stream with `maxFilesPerTrigger=1`
    * drains them as 3 micro-batches under `Trigger.AvailableNow`;
    * `foreachBatch` computes
    * the BATCH-LOCAL partial aggregate (integer cents, so the merge is
    * exact and commutative — batch arrival order cannot matter) and
    * merges it into the running result via full-outer-join + add,
    * writing each generation to a batchId-keyed path — the idempotent
    * foreachBatch sink pattern: a retried batch overwrites its own
    * version rather than double-counting (exactly-once on top of
    * at-least-once delivery).
    *
    * The output pins `n_batches = 3`: if the source coalesced files
    * into fewer batches (i.e. the computation silently degenerated to
    * a full recompute) the oracle compare fails loudly. The oracle
    * recomputes the same summary from the fixture in one statement —
    * equality proves the incremental path converges to the batch
    * answer. */
  def pipeIncrAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/incr_${sfName(sfDir)}"
    wipe(spark, base)
    val src = s"$base/src"
    val res = s"$base/res"
    // ONE staging job (r15; replaces three serial one-file writes over
    // a materialized cache): the query's contract pins the BATCH COUNT
    // (n_batches = 3, one micro-batch per file) and the final merged
    // aggregate — which slice a row lands in is immaterial (the
    // per-batch partial aggregates are exact integer cents, merged
    // commutatively), so a single round-robin repartition(3) write
    // stages the same three-file source in one pass with no cache.
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        col("l_orderkey"))
      .repartition(3)
      .write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_returnflag", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("l_linestatus", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qty_c", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price_c", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_orderkey", org.apache.spark.sql.types.LongType)))
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = batch.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("q"), sum(col("price_c")).as("p"))
        val merged =
          if (id == 0) delta
          else {
            val prev = spark.read.parquet(s"$res/v${id - 1}")
              .select(col("l_returnflag").as("prf"), col("l_linestatus").as("pls"),
                col("n").as("pn"), col("q").as("pq"), col("p").as("pp"))
            prev.join(delta,
                col("prf") === col("l_returnflag") && col("pls") === col("l_linestatus"),
                "full_outer")
              .select(
                coalesce(col("l_returnflag"), col("prf")).as("l_returnflag"),
                coalesce(col("l_linestatus"), col("pls")).as("l_linestatus"),
                (coalesce(col("pn"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n"),
                (coalesce(col("pq"), lit(0L)) + coalesce(col("q"), lit(0L))).as("q"),
                (coalesce(col("pp"), lit(0L)) + coalesce(col("p"), lit(0L))).as("p"))
          }
        merged.coalesce(1).write.mode("overwrite").parquet(s"$res/v$id")
        seen.set(math.max(seen.get, id + 1))
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = seen.get
    spark.read.parquet(s"$res/v${n - 1}")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("n").as("count_order"),
        (col("q") / 100.0).as("sum_qty"),
        (col("p") / 100.0).as("sum_base_price"),
        lit(n).as("n_batches"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val pipeIncrAggSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
      |  sum(round(l_quantity * 100)::BIGINT)::BIGINT / 100.0 AS sum_qty,
      |  sum(round(l_extendedprice * 100)::BIGINT)::BIGINT / 100.0 AS sum_base_price,
      |  3::BIGINT AS n_batches
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Snapshot-isolated time travel over [[DeltaLog]] versions, as an
    * oracle-verified query: two appends create versions 0 and 1; reading
    * version 0 AFTER version 1 exists must see exactly the first
    * append's rows (a reader pinned to a log version never sees
    * later commits), while the latest read sees both. The oracle pins
    * both versions' row counts and checksums from the fixture. */
  def pipeTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/tt_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    val v0 = DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 0).repartition(2))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 1).repartition(2))
    def summary(v: Long): DataFrame =
      DeltaLog.read(spark, tbl, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(s"o_orderkey % $P")).as("key_check"),
          sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
        .select(lit(v).as("version"), col("n_rows"), col("key_check"), col("price_check"))
    summary(v0).unionAll(summary(DeltaLog.latestVersion(spark, tbl))).orderBy("version")
  }

  private val pipeTimeTravelSql: String =
    s"""SELECT 0::BIGINT AS version, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders WHERE o_orderkey % 2 = 0
       |UNION ALL
       |SELECT 1::BIGINT, count(*),
       |  sum(o_orderkey % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT
       |FROM orders
       |ORDER BY version""".stripMargin

  /** Row-level CHANGE DATA CAPTURE between two [[DeltaLog]] versions:
    * v0 commits the orders fixture; a copy-on-write [[DeltaLog.overwrite]]
    * then applies one MERGE-generation of changes (delete keys ≡0 mod 7,
    * reprice +1.00 for surviving keys ≡0 mod 5, insert copies of keys
    * ≡0 mod 11 into a disjoint key space) as v1. The diff reads BOTH
    * pinned snapshots (time travel) and full-outer joins on the key —
    * the standard snapshot-diff CDC a lakehouse computes when the
    * format lacks a change log. Output is per-op row counts + checksums,
    * all derivable from the fixture by the oracle.
    *
    * Scale: one equi-join on the table key between two snapshots plus a
    * 3-group aggregate; both sides are version-pinned parquet scans, so
    * the join is shuffle-partitioned on the key with no driver data. */
  def pipeCdcDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/cdc_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    val v0 = DeltaLog.append(spark, tbl, ord.repartition(2))
    val survivors = ord.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val inserts = ord.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
    val v1 = DeltaLog.overwrite(spark, tbl, survivors.unionAll(inserts).repartition(2))
    def at(v: Long): DataFrame = DeltaLog.read(spark, tbl, v)
    val prev = at(v0).select(col("o_orderkey").as("k0"), col("o_totalprice").as("p0"))
    val curr = at(v1).select(col("o_orderkey").as("k1"), col("o_totalprice").as("p1"))
    prev.join(curr, col("k0") === col("k1"), "full_outer")
      .withColumn("op",
        when(col("k1").isNull, lit("delete"))
          .when(col("k0").isNull, lit("insert"))
          // NULL-SAFE change detection (NOT p0 <=> p1): plain =!= is
          // three-valued — value→NULL and NULL→value transitions
          // evaluate to NULL and silently vanish from the change set,
          // and NULL→NULL would never mean "changed". The SQL-standard
          // twin is IS DISTINCT FROM (r10 null-jitter gate)
          .when(!(col("p0") <=> col("p1")), lit("update")))
      .filter(col("op").isNotNull)
      .groupBy("op")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("k0"), col("k1")) % P).as("key_check"),
        sum(expr("cast(round(coalesce(p1, p0) * 100) as bigint)") % P).as("price_check"))
      .orderBy("op")
  }

  private val pipeCdcDiffSql: String =
    s"""SELECT * FROM (
       |  SELECT 'delete' AS op, count(*)::BIGINT AS n_rows,
       |    sum(o_orderkey % $P)::BIGINT AS key_check,
       |    sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |  FROM orders WHERE o_orderkey % 7 = 0
       |  UNION ALL
       |  SELECT 'insert', count(*)::BIGINT,
       |    sum((o_orderkey + 1000000000) % $P)::BIGINT,
       |    sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT
       |  FROM orders WHERE o_orderkey % 11 = 0
       |  UNION ALL
       |  SELECT 'update', count(*)::BIGINT,
       |    sum(o_orderkey % $P)::BIGINT,
       |    sum(round((o_totalprice + 1.0) * 100)::BIGINT % $P)::BIGINT
       |  -- the +1.0 modification leaves a NULL price NULL, so those
       |  -- rows are NOT updates under IS DISTINCT FROM semantics
       |  FROM orders
       |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
       |    AND o_totalprice IS NOT NULL) d
       |WHERE n_rows > 0 ORDER BY op""".stripMargin

  /** EXACTLY-ONCE STREAMING INGESTION INTO A TRANSACTIONAL TABLE — the
    * sink [[Ingest]] runs the pipeline's tables on: micro-batches land
    * via [[DeltaLog.appendBatch]],
    * which publishes each batch's files AND its (appId, batchId) `txn`
    * action in one atomic log commit — Delta's txnAppId/txnVersion
    * idempotence. The entry proves it the hard way: the SAME stream is
    * run TWICE (second run from a fresh checkpoint, so foreachBatch
    * redelivers every batch with replayed ids) and then compacted; the
    * replay must commit nothing, the compaction must preserve the
    * watermark, and the final aggregate must equal the fixture's — no
    * dupes, no loss.
    *
    * Scale: per batch this is one executor-side parquet job + one log
    * commit; replay detection is a driver-side read of the replayed
    * log. Compaction can run WHILE a stream appends (the commit rebase
    * covers both), so no table has to quiesce to be compacted. */
  def pipeStreamTxnSink(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/stxn_${sfName(sfDir)}"
    wipe(spark, base)
    val src = s"$base/src"
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    // three source files -> three micro-batches per run (r12: was 4;
    // replay idempotence needs >1 batch, not any particular count).
    // ONE round-robin write (r15): the contract is the FILE COUNT and
    // the final deduplicated content, not which rows share a batch —
    // one job stages all three files instead of three serial writes.
    ord.repartition(3).write.mode("append").parquet(src)
    def runStream(ckpt: String): Unit = {
      val q = spark.readStream.schema(graft.Schemas.orders)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          DeltaLog.appendBatch(spark, tbl, "ingest", id, batch); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream(s"$base/ckpt1")
    runStream(s"$base/ckpt2") // full redelivery: the txn watermark must skip every batch
    DeltaLog.optimize(spark, tbl, targetFiles = 2)
    val nFiles = DeltaLog.snapshot(spark, tbl)._2.size
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(col("n_rows"), col("key_check"), col("price_check"),
        lit(nFiles.toLong).as("n_files"),
        lit(DeltaLog.lastTxnVersion(spark, tbl, "ingest")).as("last_batch"))
  }

  private val pipeStreamTxnSinkSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  2::BIGINT AS n_files, 2::BIGINT AS last_batch
       |FROM orders""".stripMargin

  /** LOG-LEVEL DATA SKIPPING, proven as an oracle query: four
    * range-disjoint one-file appends record per-file o_orderkey
    * min/max in their add actions' stats ([[DeltaLog.append]]'s
    * `statsCols`); a range read of [[DeltaLog.read]] then skips files
    * on those stats — touching 1 of 4 files, the count
    * [[DeltaLog.pruneFiles]] reports by the same rule — and the
    * aggregate over the pruned scan must equal the oracle's aggregate
    * over the full table under the same predicate. This is the
    * table-format half of data skipping (Delta/Iceberg file
    * stats); `op_zorder_key`/`ZorderSpec` prove the layout half.
    *
    * Scale: stats are file-count-sized metadata collected by one
    * aggregation job per commit; selection is a driver-side filter of
    * the live add list — exactly how log-structured formats plan
    * scans, and at 100 TB the scan cost drops by the pruned fraction
    * with zero data-path change. */
  def pipeStatsPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/prune_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    val maxK = ord.agg(max(col("o_orderkey"))).head().getLong(0)
    val q = maxK / 4
    appendConcurrently(spark, tbl,
      Seq((Long.MinValue, q), (q, 2 * q), (2 * q, 3 * q), (3 * q, Long.MaxValue))
        .map { case (lo, hi) =>
          ord.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi).repartition(1)
        },
      statsCols = Seq("o_orderkey"))
    val (kept, total) = DeltaLog.pruneFiles(spark, tbl, Map("o_orderkey" -> (q + 1, 2 * q)))
    DeltaLog.read(spark, tbl)
      .filter(col("o_orderkey") > q && col("o_orderkey") <= 2 * q)
      .agg(count(lit(1)).as("n_rows"), sum(expr(s"o_orderkey % $P")).as("key_check"))
      .select(col("n_rows"), col("key_check"),
        lit(total.toLong).as("n_files_total"), lit(kept.size.toLong).as("n_files_scanned"))
  }

  private val pipeStatsPruneSql: String =
    s"""WITH m AS (SELECT max(o_orderkey) // 4 AS q FROM orders)
       |SELECT count(*)::BIGINT AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  4::BIGINT AS n_files_total, 1::BIGINT AS n_files_scanned
       |FROM orders, m WHERE o_orderkey > q AND o_orderkey <= 2 * q""".stripMargin

  /** Z-ORDER LAYOUT × LOG STATS-PRUNING, composed (the two halves
    * exist separately as `op_zorder_key` and `pipe_stats_prune`; this is
    * what they are FOR): orders rows are laid out by fixed-width slabs
    * of their 16-bit Morton key over (o_custkey, order date) —
    * [[graft.operators.Relational.withZval]], the same bit math the
    * oracle recomputes — one file per non-empty slab, each committed
    * with per-file min/max stats on BOTH dimensions
    * ([[DeltaLog.append]]'s multi-column `statsCols`). A 2-D range read
    * (the middle half of each dimension) then skips files on those
    * stats in [[DeltaLog.read]]'s scan, counted by
    * [[DeltaLog.pruneFiles]]: because z-ordering gives every slab a
    * tight bounding box in both dimensions, the query box intersects
    * only a fraction of the files — which the oracle DERIVES (not
    * pins): DuckDB recomputes the z-key, the slab assignment, each
    * slab's bounding box, and counts the intersecting slabs, so a
    * layout or pruning bug shifts `n_files_scanned` and fails the hash.
    *
    * Scale: this is exactly Delta/Iceberg OPTIMIZE ZORDER + data
    * skipping — at 100 TB the scan cost of a 2-D selective query drops
    * to the intersected-slab fraction; the layout pass is one
    * range-partitioned write, the planning is driver-side metadata. */
  def pipeZorderPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/zprune_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val nSlabs = 8
    // 16-bit z-key → 8 fixed-width slabs (deterministic, unlike
    // repartitionByRange's sampled boundaries — the oracle must be able
    // to recompute the exact file layout)
    val z = graft.operators.Scratch.persist(
      graft.operators.Relational.withZval(Tables.orders(spark, sfDir))
        .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .withColumn("slab", expr(s"zval div ${65536 / nSlabs}"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "d", "slab"))
    val present = z.select("slab").distinct().collect().map(_.getLong(0)).sorted
    appendConcurrently(spark, tbl,
      present.toSeq.map(s => z.filter(col("slab") === s).drop("slab").repartition(1)),
      statsCols = Seq("o_custkey", "d"))
    val r = z.agg(min(col("o_custkey")), max(col("o_custkey")),
      min(col("d")), max(col("d"))).first()
    val (cl, ch, dl, dh) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (ckLo, ckHi) = (cl + (ch - cl) / 4, cl + (ch - cl) * 3 / 4)
    val (dLo, dHi) = (dl + (dh - dl) / 4, dl + (dh - dl) * 3 / 4)
    val (kept, total) = DeltaLog.pruneFiles(spark, tbl,
      Map("o_custkey" -> (ckLo, ckHi), "d" -> (dLo, dHi)))
    DeltaLog.read(spark, tbl)
      .filter(col("o_custkey").between(ckLo, ckHi) && col("d").between(dLo, dHi))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(col("n_rows"), col("key_check"), col("price_check"),
        lit(total.toLong).as("n_files_total"), lit(kept.size.toLong).as("n_files_scanned"))
  }

  /** DuckDB re-derives the whole composition: z-key → slab → per-slab
    * bounding boxes → intersect count → box aggregate. */
  private val pipeZorderPruneSql: String =
    s"""WITH bounds AS (SELECT min(o_custkey) AS cl, max(o_custkey) AS ch,
       |    min(o_orderdate::DATE - DATE '1970-01-01') AS dl,
       |    max(o_orderdate::DATE - DATE '1970-01-01') AS dh
       |  FROM orders),
       |z AS (SELECT o_orderkey, o_custkey, o_totalprice,
       |    (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS d,
       |    (list_sum(list_transform(generate_series(0, 7), i ->
       |      (((a >> i) & 1) << (2 * i)) + (((b >> i) & 1) << (2 * i + 1))))::BIGINT
       |      // ${65536 / 8}) AS slab
       |  FROM (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
       |      ((o_custkey - bounds.cl) * 255) // greatest(1, bounds.ch - bounds.cl) AS a,
       |      (((o_orderdate::DATE - DATE '1970-01-01') - bounds.dl) * 255)
       |        // greatest(1, bounds.dh - bounds.dl) AS b
       |    FROM orders CROSS JOIN bounds) t),
       |box AS (SELECT cl + (ch - cl) // 4 AS ck_lo, cl + (ch - cl) * 3 // 4 AS ck_hi,
       |    dl + (dh - dl) // 4 AS d_lo, dl + (dh - dl) * 3 // 4 AS d_hi FROM bounds),
       |files AS (SELECT slab, min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
       |    min(d) AS mn_d, max(d) AS mx_d
       |  FROM z GROUP BY slab)
       |SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  (SELECT count(*) FROM files)::BIGINT AS n_files_total,
       |  (SELECT count(*) FROM files, box
       |    WHERE mx_ck >= ck_lo AND mn_ck <= ck_hi
       |      AND mx_d >= d_lo AND mn_d <= d_hi)::BIGINT AS n_files_scanned
       |FROM z, box
       |WHERE o_custkey BETWEEN ck_lo AND ck_hi AND d BETWEEN d_lo AND d_hi""".stripMargin

  /** PUBLIC DELTA-LOG FORMAT ROUND-TRIP ([[DeltaLog]]): two appends
    * build a table through real `_delta_log` JSON commits (v0 carries
    * protocol + metaData, each commit its add actions); an overwrite
    * (v2) retires every live file via remove actions and publishes a
    * filtered copy. The query then reads the table TWICE through log
    * replay — pinned at v1 (both appends visible, removes not yet
    * applied: time travel) and at latest (post-overwrite) — plus the
    * file-level log state (live file count, total commits). The oracle
    * recomputes both snapshots from the fixture, so a replay bug
    * (missed remove, wrong version order, schema not honored) shifts a
    * checksum and fails the hash.
    *
    * Scale: the log is file-count metadata replayed driver-side; every
    * data byte moves through executor parquet jobs. The format is the
    * PUBLIC one, so engines with delta support read these tables
    * directly. */
  def pipeDeltaLog(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/delta_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 0).repartition(2))
    val v1 = DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 1).repartition(2))
    val v2 = DeltaLog.overwrite(spark, tbl, ord.filter(col("o_orderkey") % 3 === 0).repartition(2))
    val (_, live, _) = DeltaLog.snapshot(spark, tbl)
    def summary(v: Long): DataFrame =
      DeltaLog.read(spark, tbl, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(s"o_orderkey % $P")).as("key_check"),
          sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
        .select(lit(v).as("version"), col("n_rows"), col("key_check"), col("price_check"))
    summary(v1).unionAll(summary(v2))
      .withColumn("n_live_files", lit(live.size.toLong))
      .orderBy("version")
  }

  /** DESCRIBE HISTORY over the public Delta log ([[DeltaLog.history]]):
    * a 4-commit table — two stats-bearing appends (even / odd order
    * keys), an overwrite (retires all four live files), a third append
    * — then the per-version audit straight from the commit JSONs.
    * rows_added is summed from add-action `stats` numRecords, so the
    * oracle recomputing each commit's row count from the fixture
    * catches a stats mis-sum, a dropped add, or a phantom remove; the
    * overwrite's row carries rows_added 0 because [[DeltaLog.overwrite]]
    * attaches no stats (the audit reports what the log says, not what
    * a data scan would find — history never touches data files). */
  def pipeDeltaHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = s"$pipeDir/deltah_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 0).repartition(2),
      statsCols = Seq("o_orderkey"))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 1).repartition(2),
      statsCols = Seq("o_orderkey"))
    DeltaLog.overwrite(spark, tbl, ord.filter(col("o_orderkey") % 3 === 0).repartition(2))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 5 === 0).repartition(2),
      statsCols = Seq("o_orderkey"))
    DeltaLog.history(spark, tbl)
      .toDF("version", "n_adds", "n_removes", "rows_added", "data_change")
      .orderBy("version")
  }

  /** WRITE-AUDIT-PUBLISH over the Delta log — the staging pattern every
    * production lakehouse ingest runs: each batch lands in a STAGING
    * table first, a data-quality audit reads the staged files (row
    * count > 0, no null keys, prices in range), and only a passing
    * batch is published into the main table via the txn-marked
    * [[DeltaLog.appendBatch]] (exactly-once: a replayed publish of the
    * same batch id is a no-op). The poisoned middle batch (nulled
    * custkeys) FAILS its audit and never reaches main — the oracle's
    * checksums cover exactly batches 1 and 3, so a leaked bad batch or
    * a dropped good one shifts every column. Audit cost is one scan of
    * the STAGED batch (small), never of main. */
  def pipeDeltaWap(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/wap_${sfName(sfDir)}"
    wipe(spark, base)
    val stage = s"$base/stage"
    val main = s"$base/main"
    val ord = Tables.orders(spark, sfDir)
    val batches = Seq(
      1L -> ord.filter(col("o_orderkey") % 3 === 0),
      2L -> ord.filter(col("o_orderkey") % 3 === 1)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_custkey"))),
      3L -> ord.filter(col("o_orderkey") % 3 === 2))
    var published = 0L
    batches.foreach { case (id, df) =>
      DeltaLog.overwrite(spark, stage, df.repartition(2))
      val staged = DeltaLog.read(spark, stage)
      val audit = staged.agg(count(lit(1)).as("n"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_keys"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("bad_prices")).head()
      val pass = audit.getLong(0) > 0 && audit.getLong(1) == 0 && audit.getLong(2) == 0
      if (pass && DeltaLog.appendBatch(spark, main, "wap", id, staged)) published += 1
    }
    DeltaLog.read(spark, main)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .withColumn("n_published", lit(published))
  }

  /** MEDALLION PIPELINE (bronze → silver → gold) — the canonical
    * lakehouse layering, composed from this engine's own tiers: BRONZE
    * lands the raw events fixture in a Delta table as-ingested; SILVER
    * rewrites it cleaned (exact-duplicate drop on the natural key,
    * positive-value validity filter) into a second Delta table; GOLD
    * aggregates silver into the daily per-type revenue mart (exact
    * cents) and commits THAT as a third table. Each layer reads only
    * the previous table's live snapshot, so reprocessing a layer never
    * rescans raw history upstream of it — the property that makes the
    * pattern survive 100 TB of bronze. The oracle recomputes gold
    * straight from the fixture: any row leaked or dropped by the
    * bronze/silver hops shifts the checksums. */
  def pipeMedallion(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/medallion_${sfName(sfDir)}"
    wipe(spark, base)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    // bronze is raw-as-delivered: replayed exact duplicates and invalid
    // negative-value rows land alongside the good data, so the silver
    // cleaning demonstrably bites (and the oracle proves it removed
    // exactly the poison, nothing else)
    val bronze = ev
      .unionAll(ev.filter(col("event_id") % 10 === 0))
      .unionAll(ev.filter(col("event_id") % 10 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("value", -col("value")))
    DeltaLog.append(spark, s"$base/bronze", bronze.repartition(2))
    val silver = DeltaLog.read(spark, s"$base/bronze")
      .distinct()
      .filter(col("value") > 0)
    DeltaLog.append(spark, s"$base/silver", silver.repartition(2))
    val gold = DeltaLog.read(spark, s"$base/silver")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Exact.exactSum(col("value"), 2).as("total_value"))
    DeltaLog.append(spark, s"$base/gold", gold.repartition(1))
    DeltaLog.read(spark, s"$base/gold").orderBy("d", "event_type")
  }

  private val pipeMedallionSql: String =
    s"""SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
       |  count(*)::BIGINT AS n_events,
       |  ${graft.functions.Exact.sqlSum("value", 2)} AS total_value
       |FROM events WHERE value > 0
       |GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin

  /** PARTITIONED Delta table in the public log format: two appends of
    * the events fixture `partitionBy("event_type")` (Hive `col=value/`
    * layout on disk, stringified `partitionValues` on every add
    * action), then the purchase partition reads back through LOG-level
    * partition pruning (the `event_type` filter prunes inside
    * [[DeltaFileIndex.listFiles]] before any file is opened — the way
    * every real engine reads a 100 TB date-partitioned Delta table) and
    * aggregates. The oracle recomputes the same aggregate from the
    * fixture's purchase rows, so a pruning bug in either direction (a
    * dropped live purchase file, or a leaked foreign-partition file)
    * shifts n_rows/checksums. The partition column itself comes back
    * from the log's partitionValues, protocol-literally — data files do
    * not contain it (DeltaLogSpec proves the flat-layout foreign case). */
  def pipeDeltaPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/deltap_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/events"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    DeltaLog.append(spark, tbl, ev.filter(col("event_id") % 2 === 0).repartition(2),
      partitionBy = Seq("event_type"))
    DeltaLog.append(spark, tbl, ev.filter(col("event_id") % 2 === 1).repartition(2),
      partitionBy = Seq("event_type"))
    DeltaLog.read(spark, tbl).filter(col("event_type") === "purchase")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"event_id % $P")).as("key_check"),
        sum(expr(s"cast(round(value * 100) as bigint) % $P")).as("value_check"))
      .orderBy("event_type")
  }

  /** NATIVE CATALYST SCAN OVER THE DELTA LOG ([[DeltaLog.read]] /
    * [[DeltaFileIndex]]): the same two-commit partitioned table as
    * [[pipeDeltaPartition]], filtered on TWO partition values — an `IN`
    * list prunes inside the file index's `listFiles` against log
    * metadata just as an equality does (DeltaLogSpec asserts the scan's
    * PartitionFilters + pruned file count; here the oracle asserts the
    * VALUES). One FileSourceScanExec, no per-partition union, no
    * filesystem listing — the read path where dynamic partition pruning
    * and parquet pushdown compose with Delta tables exactly as with
    * Hive layouts. */
  def pipeDeltaNativePrune(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/deltanp_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/events"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    DeltaLog.append(spark, tbl, ev.filter(col("event_id") % 2 === 0).repartition(2),
      partitionBy = Seq("event_type"))
    DeltaLog.append(spark, tbl, ev.filter(col("event_id") % 2 === 1).repartition(2),
      partitionBy = Seq("event_type"))
    DeltaLog.read(spark, tbl)
      .filter(col("event_type").isin("purchase", "signup"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"event_id % $P")).as("key_check"),
        sum(expr(s"cast(round(value * 100) as bigint) % $P")).as("value_check"))
      .orderBy("event_type")
  }

  private val pipeDeltaNativePruneSql: String =
    s"""SELECT event_type, count(*) AS n_rows,
       |  sum(event_id % $P)::BIGINT AS key_check,
       |  sum(round(value * 100)::BIGINT % $P)::BIGINT AS value_check
       |FROM events WHERE event_type IN ('purchase', 'signup')
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Delta SCHEMA EVOLUTION (mergeSchema): v0 appends orders WITHOUT
    * `priority_class`; v1 appends the other half WITH it (additive
    * widening — the log's metaData updates in the same commit, Delta's
    * mergeSchema rule). The latest-schema read then serves BOTH file
    * generations: pre-evolution files surface NULL for the new column
    * (the parquet reader fills absent columns against the log schema —
    * no rewrite of old data, which is the property that matters when
    * the old data is 100 TB). The oracle recomputes the same split from
    * the fixture, so a dropped legacy row, a misfilled NULL, or a
    * failed metaData update all shift the checksums. */
  def pipeDeltaEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/deltaev_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    DeltaLog.append(spark, tbl,
      ord.filter(col("o_orderkey") % 2 === 0).select(col("o_orderkey"), col("o_totalprice")))
    DeltaLog.append(spark, tbl,
      ord.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          substring(col("o_orderpriority"), 1, 1).as("priority_class")),
      mergeSchema = true)
    DeltaLog.read(spark, tbl)
      .groupBy(coalesce(col("priority_class"), lit("legacy")).as("priority_class"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .orderBy("priority_class")
  }

  private val pipeDeltaEvolveSql: String =
    s"""SELECT coalesce(CASE WHEN o_orderkey % 2 = 1
       |                     THEN substr(o_orderpriority, 1, 1) END,
       |                'legacy') AS priority_class,
       |  count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders
       |GROUP BY priority_class ORDER BY priority_class""".stripMargin

  private val pipeDeltaPartitionSql: String =
    s"""SELECT event_type, count(*) AS n_rows,
       |  sum(event_id % $P)::BIGINT AS key_check,
       |  sum(round(value * 100)::BIGINT % $P)::BIGINT AS value_check
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** STREAMING DELTA TAIL ([[DeltaStreamSource]]): two commits land
    * BEFORE the stream exists, one AvailableNow drain delivers them as
    * the initial snapshot; a third commit lands while the query is DOWN,
    * a second drain from the same checkpoint delivers ONLY that version.
    * The file sink appends, so any duplicate delivery (a re-emitted
    * snapshot, a replayed version) doubles `n_rows` while
    * `n_distinct_keys` stays fixed — the aggregate IS the exactly-once
    * proof, and the oracle recomputes it from the fixture: streamed
    * union ≡ the full orders relation. At scale each drain plans one
    * multi-file scan over just the new files; the log replay per
    * trigger is metadata-sized (checkpoint-bounded). */
  def pipeDeltaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/dstream_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 0).repartition(2))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 1).repartition(2))
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", tbl)
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // initial snapshot: the two pre-stream commits
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 2).repartition(2))
    drain() // tail from the checkpoint: ONLY version 2's files
    spark.read.parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct_keys"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
  }

  /** DELTA DML — DELETE ([[DeltaLog.deleteWhere]]): orders land in two
    * commits, a copy-on-write delete retires the 'F'-status rows, the
    * read-back aggregate must equal the fixture minus them. Only files
    * CONTAINING matches are rewritten (DeltaDmlSpec pins that); the
    * oracle pins the row-level result. */
  def pipeDeltaDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/ddel_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    // concurrent (r15): disjoint slices, one schema, no output reads a
    // version number — see `concurrently`
    concurrently((0 until 2).map { i =>
      () => { DeltaLog.append(spark, tbl,
        ord.filter(col("o_orderkey") % 2 === i).repartition(2)); () }
    })
    DeltaLog.deleteWhere(spark, tbl, col("o_orderstatus") === "F")
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
  }

  private val pipeDeltaDeleteSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin

  /** DELTA DML — MERGE-ON-READ DELETE via deletion vectors
    * ([[DeltaLog.deleteWhereDv]]), the protocol's `deletionVectors`
    * table feature end-to-end: two OVERLAPPING deletes (keys divisible
    * by 5, then by 7) write per-file roaring bitmaps instead of
    * rewriting parquet — the second delete must UNION positions into
    * each touched file's existing vector, not resurrect or
    * double-count. The descriptors then survive a parquet checkpoint +
    * log cleanup (the read at the end reconstructs from checkpoint
    * alone), and a zero-retention VACUUM reclaims nothing, because
    * DV'd files stay fully live. The oracle recomputes the surviving
    * rows, the deleted count, and the touched-file count (= residue
    * classes containing a deleted key, since the table is laid out one
    * file per `o_orderkey % 3` class) straight from the fixture — a
    * mask applied to the wrong file, an off-by-one row position, a
    * bitmap that didn't round-trip the checkpoint, or a vacuumed live
    * file all shift a value.
    *
    * Scale: THE reason DVs exist — a selective DELETE on a 100 TB
    * table writes kilobytes of bitmap per touched file (executor-side)
    * instead of rewriting terabytes; the read-side mask is an anti-join
    * whose build side is bitmap-cardinality-sized (broadcast for
    * selective deletes). */
  def pipeDeltaDv(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/ddv_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    // concurrent (r15): the one-file-per-residue-class layout and every
    // output (content sums, touched-file count) are commit-order
    // independent — see `concurrently`
    concurrently((0 until 3).map { i =>
      () => { DeltaLog.append(spark, tbl,
        ord.filter(col("o_orderkey") % 3 === i).repartition(1)); () }
    })
    val (_, t1, d1) = DeltaLog.deleteWhereDv(spark, tbl, col("o_orderkey") % 5 === 0)
    val (_, t2, d2) = DeltaLog.deleteWhereDv(spark, tbl, col("o_orderkey") % 7 === 0)
    DeltaLog.checkpoint(spark, tbl)
    DeltaLog.cleanupLog(spark, tbl)
    val nVacuumed = DeltaLog.vacuum(spark, tbl, retentionMs = 0L)
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .withColumn("rows_deleted", lit(d1 + d2))
      .withColumn("files_with_dv", lit((t1 ++ t2).distinct.size.toLong))
      .withColumn("files_vacuumed", lit(nVacuumed.toLong))
  }

  private val pipeDeltaDvSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  (SELECT count(*) FROM orders
       |    WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0)::BIGINT AS rows_deleted,
       |  (SELECT count(DISTINCT o_orderkey % 3) FROM orders
       |    WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0)::BIGINT AS files_with_dv,
       |  0::BIGINT AS files_vacuumed
       |FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0""".stripMargin

  /** DELTA DML — MERGE ([[DeltaLog.merge]]): the table holds the even
    * orderkeys; the merge source UPDATES the multiples of 4 (price
    * doubled) and INSERTS the odd keys. Whole-row upsert by key: the
    * result must be evens-not-div-4 original ∪ div-4 doubled ∪ odds —
    * exactly what the oracle recomputes. A key in the wrong branch, a
    * lost insert, or a double-applied update all shift the checksums. */
  def pipeDeltaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/dmrg_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 0).repartition(2))
    val updates = ord.filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
    val inserts = ord.filter(col("o_orderkey") % 2 === 1)
    DeltaLog.merge(spark, tbl, updates.unionAll(inserts), keyCols = Seq("o_orderkey"))
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct_keys"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
  }

  private val pipeDeltaMergeSql: String =
    s"""SELECT count(*) AS n_rows,
       |  count(DISTINCT o_orderkey) AS n_distinct_keys,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(adj * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM (SELECT o_orderkey,
       |        CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
       |             ELSE o_totalprice END AS adj
       |      FROM orders) t""".stripMargin

  /** SCD2 DIMENSION MAINTENANCE THROUGH THE DELTA LOG — the nightly
    * warehouse job end-to-end: the pre-cutoff SCD2 build lands as the
    * dimension table's first commit; the post-cutoff order batch is
    * change-detected against ONLY the open slice
    * ([[Journeys.scd2DeltaVersions]]), and the result applies as ONE
    * copy-on-write MERGE keyed on (custkey, version_key) — open rows of
    * affected entities get their effective_to closed (whole-row
    * replace), new versions insert, and every file without an affected
    * key survives untouched (the [[DeltaLog.merge]] contract). The
    * read-back must equal [[Journeys]]' FULL SCD2 rebuild — the oracle
    * is op_scd2's SQL verbatim, so "incremental merge ≡ rebuild" is the
    * verified property across the storage layer too (the batch twin
    * op_scd2_incr proves it for the pure relational path).
    *
    * 100 TB shape: merge's touched-file discovery is a semi-join on
    * the merge keys (broadcastable — affected entities ≪ dimension),
    * rewrite cost is proportional to files containing affected
    * entities, and the unaffected history never moves. */
  def pipeScd2Delta(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = s"$pipeDir/scd2_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/dim"
    val cutoff = "TIMESTAMP '1996-01-01 00:00:00'"
    val orders = Tables.orders(spark, sfDir)
    val byVer = Window.partitionBy("custkey").orderBy(col("effective_from"), col("version_key"))
    val baseRows = Journeys.scd2Versions(orders.filter(expr(s"o_orderdate < $cutoff")))
      .withColumn("effective_to", lead(col("effective_from"), 1).over(byVer))
    DeltaLog.append(spark, tbl, baseRows.repartition(2))
    val baseOpen = baseRows.filter(col("effective_to").isNull).drop("effective_to")
    val delta = orders.filter(expr(s"o_orderdate >= $cutoff"))
      .select(col("o_custkey").as("custkey"), col("o_orderpriority").as("priority"),
        col("o_orderdate").as("effective_from"), col("o_orderkey").as("version_key"))
    val newVers = Journeys.scd2DeltaVersions(
      delta, baseOpen.select(col("custkey"), col("priority").as("prev0")))
    val affected = newVers.select("custkey").distinct()
    val source = baseOpen.join(affected, Seq("custkey"), "left_semi")
      .unionByName(newVers)
      .withColumn("effective_to", lead(col("effective_from"), 1).over(byVer))
    DeltaLog.merge(spark, tbl, source, keyCols = Seq("custkey", "version_key"))
    DeltaLog.read(spark, tbl)
      .select(col("custkey"), col("priority"), col("effective_from"), col("effective_to"),
        col("effective_to").isNull.cast("long").as("is_current"))
      .orderBy(col("custkey"), col("effective_from"), col("priority"))
  }

  /** DELTA RESTORE ([[DeltaLog.restore]]): orders land in two commits,
    * a copy-on-write delete retires the 'F' rows (v2), then the table
    * RESTORES to v0 — one metadata-only commit re-adding the delete's
    * rewritten v0 files and removing v1's files plus the delete's
    * survivors. The two-snapshot output pins both directions: the
    * restored head must equal v0's content (even keys, 'F' rows BACK),
    * and v2 must still read as the post-delete state — restore is a new
    * version on top, never history rewrite. At 100 TB the restore
    * commit costs file-count metadata, zero data movement. */
  def pipeDeltaRestore(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/drst_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 0).repartition(2)) // v0
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 2 === 1).repartition(2)) // v1
    val (v2, _, _) = DeltaLog.deleteWhere(spark, tbl, col("o_orderstatus") === "F")
    val (v3, _, _) = DeltaLog.restore(spark, tbl, 0L)
    def summ(tag: String, v: Long): DataFrame =
      DeltaLog.read(spark, tbl, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(s"o_orderkey % $P")).as("key_check"),
          sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
        .select(lit(tag).as("snap"), col("n_rows"), col("key_check"), col("price_check"))
    summ("postdelete", v2).unionAll(summ("restored", v3)).orderBy("snap")
  }

  private val pipeDeltaRestoreSql: String =
    s"""SELECT 'postdelete' AS snap, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders WHERE o_orderstatus <> 'F'
       |UNION ALL
       |SELECT 'restored', count(*),
       |  sum(o_orderkey % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT
       |FROM orders WHERE o_orderkey % 2 = 0
       |ORDER BY snap""".stripMargin

  /** DELTA SHALLOW CLONE ([[DeltaLog.cloneShallow]]): the source takes
    * two commits, the clone is created (one metadata commit, absolute-
    * path adds, ZERO data files copied — `clone_local_files` pins
    * that), then the source takes a THIRD commit. The clone must read
    * the two-commit snapshot it pinned; the source reads all three —
    * clone isolation in both directions. This is the 100 TB dev/test
    * workflow: a full-size table copy for the cost of one commit. */
  def pipeDeltaClone(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/dcln_${sfName(sfDir)}"
    wipe(spark, base)
    val src = s"$base/src"
    val dst = s"$base/clone"
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    // concurrent (r15): the clone pins whatever two-commit snapshot both
    // slices form; contents and file counts are commit-order independent
    concurrently((0 until 2).map { i =>
      () => { DeltaLog.append(spark, src,
        ord.filter(col("o_orderkey") % 3 === i).repartition(2)); () }
    })
    DeltaLog.cloneShallow(spark, src, dst)
    DeltaLog.append(spark, src, ord.filter(col("o_orderkey") % 3 === 2).repartition(2))
    val localFiles = Fs.listFiles(spark, dst, _.endsWith(".parquet"))
      .count { case (full, _) =>
        new org.apache.hadoop.fs.Path(full).getParent.getName != "_delta_log" }
    def summ(tag: String, tbl: String): DataFrame =
      DeltaLog.read(spark, tbl)
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(s"o_orderkey % $P")).as("key_check"),
          sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
        .select(lit(tag).as("side"), col("n_rows"), col("key_check"), col("price_check"),
          lit(localFiles.toLong).as("clone_local_files"))
    summ("clone", dst).unionAll(summ("source", src)).orderBy("side")
  }

  private val pipeDeltaCloneSql: String =
    s"""SELECT 'clone' AS side, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  0::BIGINT AS clone_local_files
       |FROM orders WHERE o_orderkey % 3 IN (0, 1)
       |UNION ALL
       |SELECT 'source', count(*),
       |  sum(o_orderkey % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT,
       |  0::BIGINT
       |FROM orders
       |ORDER BY side""".stripMargin

  /** IDEMPOTENT PARTITION BACKFILL — the daily-ops pattern every
    * partitioned 100 TB table lives by: a partition found wrong (here
    * the 'F' slice, "fixed" by re-deriving with doubled prices) is
    * rebuilt as metadata-only partition DELETE + partition-scoped
    * APPEND, recomputed FROM SOURCE so the operation is a pure function
    * of upstream — run it twice and the second run rewrites the same
    * content (the retry-safety that matters when schedulers re-fire).
    * Untouched partitions must keep their ORIGINAL files through both
    * runs (`untouched_parts_stable` pins the live-file set — a backfill
    * that rewrites neighbors is how 100 TB turns into a full-table
    * rewrite). Cost: one partition's write + two metadata commits per
    * run, nothing proportional to the table. */
  def pipeBackfill(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/bkfl_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    DeltaLog.append(spark, tbl, ord.repartition(2), partitionBy = Seq("o_orderstatus"))
    def nonF(): Set[String] = DeltaLog.liveAdds(spark, tbl)._2
      .filterNot(_._1.startsWith("o_orderstatus=F/")).map(_._1).toSet
    val before = nonF()
    def backfill(): Unit = {
      DeltaLog.deletePartitions(spark, tbl, Map("o_orderstatus" -> "F"))
      DeltaLog.append(spark, tbl,
        ord.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderstatus"))
          .repartition(1),
        partitionBy = Seq("o_orderstatus"))
    }
    backfill()
    backfill() // the retry: same content again, neighbors untouched
    val stable = nonF() == before
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .withColumn("untouched_parts_stable", lit(if (stable) 1L else 0L))
  }

  private val pipeBackfillSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(adj * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  1::BIGINT AS untouched_parts_stable
       |FROM (SELECT o_orderkey,
       |        CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
       |             ELSE o_totalprice END AS adj
       |      FROM orders) t""".stripMargin

  /** STREAMING UPSERT SINK (CDC apply — the canonical "merge the change
    * stream into the serving table" pipeline): a [[DeltaStreamSource]]
    * tail of the source table feeds `foreachBatch`, and each micro-batch
    * MERGES into the sink keyed by `o_orderkey` through [[DeltaLog
    * .merge]]'s txn action — exactly-once on both ends (engine
    * checkpoint upstream, Delta txn watermark downstream). Batch 0 is
    * the initial snapshot (all orders); batch 1 carries re-priced rows
    * for the mod-5 keys, which must UPDATE in place, not append. After
    * the drains, batch 1 is deliberately REPLAYED with the same txn
    * version — the merge must skip without touching a file
    * (`replay_skipped` pins it; a double-applied update would also
    * shift `price_check`, since the transform doubles). At 100 TB each
    * batch's merge rewrites only files containing matched keys. */
  def pipeStreamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/sups_${sfName(sfDir)}"
    wipe(spark, base)
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLog.append(spark, src, ord.repartition(2)) // v0: the initial snapshot
    val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", src)
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          DeltaLog.merge(spark, dst, batch.select(col("o_orderkey"), col("o_totalprice")),
            keyCols = Seq("o_orderkey"), txn = Some(("pipe_upsert", id)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // batch 0: snapshot → creates the sink
    val repriced = ord.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
    DeltaLog.append(spark, src, repriced.repartition(2)) // v1: the change batch
    drain() // batch 1: upsert the re-priced rows
    val vBefore = DeltaLog.latestVersion(spark, dst)
    DeltaLog.merge(spark, dst, repriced, keyCols = Seq("o_orderkey"),
      txn = Some(("pipe_upsert", 1L))) // replayed batch: must skip
    val replaySkipped = DeltaLog.latestVersion(spark, dst) == vBefore
    DeltaLog.read(spark, dst)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct_keys"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .withColumn("replay_skipped", lit(if (replaySkipped) 1L else 0L))
  }

  /** STREAMING RAG-INDEX MAINTENANCE — the production loop behind
    * every retrieval corpus: documents arrive continuously (initial
    * crawl, then re-crawls of changed pages), and the chunk-embedding
    * index must follow WITHOUT a full rebuild. Micro-batches stream
    * from the source Delta table; each batch runs
    * [[graft.operators.Similarity.ragChunkEmbed]] (the exact stage the
    * batch entry `ann_rag_chunks` uses — stream/batch parity by shared
    * code, not by luck) and MERGEs on (doc_id, chunk_no) into the
    * index table under a per-batch txn id, so a replayed micro-batch
    * is skipped whole (proven by a deliberate replay; `replay_skipped`
    * would read 0 and the checksums would double on a broken skip).
    * The re-crawl edits every 7th document by appending tokens —
    * chunk 0 is unchanged (merge no-op), the tail chunk's embedding
    * moves (merge update): the oracle recomputes the FINAL corpus
    * state from scratch, so a stale, dropped, or doubled chunk fails
    * the hash.
    *
    * 100 TB shape: per-batch work is the map-side embed + one
    * key-bucketed MERGE join against only the index partitions the
    * batch's keys touch; the index never rebuilds and the corpus
    * never re-embeds. A SHRINKING re-crawl (fewer chunks than
    * indexed) additionally needs a delete-by-doc_id pass before the
    * merge — out of scope here, documented as the deployment note. */
  def pipeStreamRagIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/sragix_${sfName(sfDir)}"
    wipe(spark, base)
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def indexRows(batch: DataFrame): DataFrame =
      graft.operators.Similarity.ragChunkEmbed(batch)
        .withColumn("v_check", expr(
          "aggregate(zip_with(v, sequence(1, 16), (x, w) -> x * w), 0L, (a, z) -> a + z)"))
        .select("doc_id", "chunk_no", "vv", "v_check")
    DeltaLog.append(spark, src, docs.repartition(2)) // v0: initial crawl
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", src)
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          DeltaLog.merge(spark, dst,
            indexRows(batch.select(col("doc_id"), col("text"))),
            keyCols = Seq("doc_id", "chunk_no"), txn = Some(("rag_index", id)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // batch 0: index build
    val recrawl = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" graft index refresh pad")))
    DeltaLog.append(spark, src, recrawl.repartition(2)) // v1: the re-crawl
    drain() // batch 1: incremental upsert
    val vBefore = DeltaLog.latestVersion(spark, dst)
    DeltaLog.merge(spark, dst, indexRows(recrawl),
      keyCols = Seq("doc_id", "chunk_no"), txn = Some(("rag_index", 1L)))
    val replaySkipped = DeltaLog.latestVersion(spark, dst) == vBefore
    DeltaLog.read(spark, dst)
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("vv")).as("vv_sum"),
        sum(expr(s"v_check % $P")).as("vcheck_sum"))
      .withColumn("replay_skipped", lit(if (replaySkipped) 1L else 0L))
  }

  private val pipeStreamRagIndexSql: String =
    s"""WITH final_docs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' graft index refresh pad'
       |         ELSE text END AS text
       |  FROM documents),
       |${graft.operators.Similarity.ragChunkEmbedSql("final_docs")},
       |checks AS (
       |  SELECT doc_id, chunk_no, vv,
       |    list_reduce(list_transform(generate_series(1, 16), i -> v[i] * i),
       |      (a, b) -> a + b)::BIGINT AS v_check
       |  FROM vn)
       |SELECT count(*)::BIGINT AS n_chunks,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  sum(vv)::BIGINT AS vv_sum,
       |  sum(v_check % $P)::BIGINT AS vcheck_sum,
       |  1::BIGINT AS replay_skipped
       |FROM checks""".stripMargin

  /** STREAMING EXPECTATIONS ROUTER — [[graft.operators.Relational]]'s
    * quarantine pattern live: the events stream is tagged with its
    * violated expectations inside `foreachBatch` and ROUTED in one pass
    * — clean rows append to the main Delta table, violating rows (with
    * their `violations` tag) to the quarantine table — each through
    * [[DeltaLog.appendBatch]]'s txn actions under the SAME
    * (appId, batchId), so a replayed micro-batch skips on BOTH tables
    * (proven by a deliberate replay; a half-applied replay would shift
    * one table's checksum). The summary reads both tables back; the
    * oracle recomputes both populations from the fixture, so a row
    * routed to the wrong side, dropped, or doubled fails the hash.
    *
    * 100 TB shape: the router is a per-row projection inside the one
    * micro-batch pass (no second scan for the quarantine side), and
    * both sinks are append-only txn commits — the DLT expectations
    * pattern without a control plane. */
  def pipeStreamQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/squar_${sfName(sfDir)}"
    wipe(spark, base)
    val main = s"$base/main"
    val quar = s"$base/quarantine"
    val ckpt = s"$base/ckpt"
    def tagged(df: DataFrame): DataFrame = {
      val reasons = concat_ws(",",
        when(col("value") > 180, lit("value_outlier")),
        when(col("event_type") === "error", lit("error_event")))
      df.select(col("event_id"), col("event_type"), col("value"))
        .withColumn("violations", when(reasons === "", lit("ok")).otherwise(reasons))
    }
    val q = Tables.eventsStream(spark, sfDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val t = tagged(batch.toDF()).persist()
        try {
          DeltaLog.appendBatch(spark, main, "pipe_squar", id,
            t.filter(col("violations") === "ok").drop("violations").repartition(2))
          DeltaLog.appendBatch(spark, quar, "pipe_squar", id,
            t.filter(col("violations") =!= "ok").repartition(2))
        } finally t.unpersist()
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Deliberate replay of batch 0 against both tables: the txn
    // watermark must skip each (a double-append would shift checksums
    // AND these flags).
    val replayed = tagged(Tables.events(spark, sfDir))
    val mSkip = !DeltaLog.appendBatch(spark, main, "pipe_squar", 0L,
      replayed.filter(col("violations") === "ok").drop("violations"))
    val qSkip = !DeltaLog.appendBatch(spark, quar, "pipe_squar", 0L,
      replayed.filter(col("violations") =!= "ok"))
    val mainSumm = DeltaLog.read(spark, main)
      .agg(count(lit(1)).as("n_rows"), sum(expr(s"event_id % $P")).as("key_check"))
      .select(lit("main").as("dest"), col("n_rows"), col("key_check"))
    val quarSumm = DeltaLog.read(spark, quar)
      .groupBy(col("violations").as("dest"))
      .agg(count(lit(1)).as("n_rows"), sum(expr(s"event_id % $P")).as("key_check"))
    mainSumm.unionByName(quarSumm)
      .withColumn("replay_skipped", lit(if (mSkip && qSkip) 1L else 0L))
      .orderBy("dest")
  }

  private val pipeStreamQuarantineSql: String =
    s"""WITH tagged AS (
       |  SELECT event_id, CASE WHEN v = '' THEN 'ok' ELSE v END AS violations
       |  FROM (SELECT event_id, concat_ws(',',
       |          CASE WHEN value > 180 THEN 'value_outlier' END,
       |          CASE WHEN event_type = 'error' THEN 'error_event' END) AS v
       |        FROM events) t)
       |SELECT CASE WHEN violations = 'ok' THEN 'main' ELSE violations END AS dest,
       |  count(*) AS n_rows, sum(event_id % $P)::BIGINT AS key_check,
       |  1::BIGINT AS replay_skipped
       |FROM tagged GROUP BY 1 ORDER BY dest""".stripMargin

  private val pipeStreamUpsertSql: String =
    s"""SELECT count(*) AS n_rows,
       |  count(DISTINCT o_orderkey) AS n_distinct_keys,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(adj * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  1::BIGINT AS replay_skipped
       |FROM (SELECT o_orderkey,
       |        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
       |             ELSE o_totalprice END AS adj
       |      FROM orders) t""".stripMargin

  /** DELTA→DELTA INCREMENTAL PIPELINE — the canonical lakehouse shape,
    * end to end: a [[DeltaStreamSource]] tail of the source table feeds
    * `foreachBatch`, each micro-batch transforms (project + filter, the
    * pushdown-friendly kind) and lands in the SINK table through
    * [[DeltaLog.appendBatch]]'s txn actions — exactly-once on BOTH ends
    * (source offsets in the engine checkpoint; sink idempotence in the
    * Delta txn watermark, so a replayed batch cannot double-append even
    * across restarts). Drain, stop, commit more upstream, drain again:
    * the sink must equal the batch transform of the whole source —
    * which is exactly what the oracle recomputes from the fixture.
    * At 100 TB each leg is one bounded scan/write per trigger; nothing
    * is data-proportional to table HISTORY on either side. */
  def pipeDeltaToDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/d2d_${sfName(sfDir)}"
    wipe(spark, base)
    val srcTbl = s"$base/src"
    val dstTbl = s"$base/dst"
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    DeltaLog.append(spark, srcTbl, ord.filter(col("o_orderkey") % 3 === 0).repartition(2))
    DeltaLog.append(spark, srcTbl, ord.filter(col("o_orderkey") % 3 === 1).repartition(2))
    val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", srcTbl)
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          DeltaLog.appendBatch(spark, dstTbl, "pipe_d2d", id,
            batch.filter(col("o_orderstatus") === "O")
              .select(col("o_orderkey"), col("o_totalprice")))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // snapshot of the two pre-stream commits
    DeltaLog.append(spark, srcTbl, ord.filter(col("o_orderkey") % 3 === 2).repartition(2))
    drain() // incremental: only version 2 flows
    DeltaLog.read(spark, dstTbl)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct_keys"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
  }

  private val pipeDeltaToDeltaSql: String =
    s"""SELECT count(*) AS n_rows,
       |  count(DISTINCT o_orderkey) AS n_distinct_keys,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  /** BATCH CHANGE FEED ([[DeltaLog.changesSince]]): orders land in three
    * commits; the feed over (0, latest] returns exactly versions 1–2's
    * rows, each tagged `_commit_version`. The per-version aggregate
    * pins both the window's BOUNDS (version 0 excluded, nothing beyond
    * latest) and the version TAGGING (a row attributed to the wrong
    * commit shifts that version's checksums). Oracle recomputes the
    * same split from the fixture. */
  def pipeDeltaCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/dcdf_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 0).repartition(2))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 1).repartition(2))
    DeltaLog.append(spark, tbl, ord.filter(col("o_orderkey") % 3 === 2).repartition(2))
    DeltaLog.changesSince(spark, tbl, since = 0L)
      .groupBy(col("_commit_version").as("commit_version"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .orderBy("commit_version")
  }

  private val pipeDeltaCdfSql: String =
    s"""SELECT 1::BIGINT AS commit_version, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders WHERE o_orderkey % 3 = 1
       |UNION ALL
       |SELECT 2::BIGINT, count(*),
       |  sum(o_orderkey % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT
       |FROM orders WHERE o_orderkey % 3 = 2
       |ORDER BY commit_version""".stripMargin

  private val pipeDeltaStreamSql: String =
    s"""SELECT count(*) AS n_rows,
       |  count(DISTINCT o_orderkey) AS n_distinct_keys,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders""".stripMargin

  private val pipeDeltaLogSql: String =
    s"""SELECT 1::BIGINT AS version, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  2::BIGINT AS n_live_files
       |FROM orders
       |UNION ALL
       |SELECT 2::BIGINT, count(*),
       |  sum(o_orderkey % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT,
       |  2::BIGINT
       |FROM orders WHERE o_orderkey % 3 = 0
       |ORDER BY version""".stripMargin

  private val pipeDeltaWapSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  2::BIGINT AS n_published
       |FROM orders WHERE o_orderkey % 3 IN (0, 2)""".stripMargin

  private val pipeDeltaHistorySql: String =
    """SELECT 0::BIGINT AS version, 2::BIGINT AS n_adds, 0::BIGINT AS n_removes,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)::BIGINT AS rows_added,
      |  true AS data_change
      |UNION ALL SELECT 1, 2, 0,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1), true
      |UNION ALL SELECT 2, 2, 4, 0, true
      |UNION ALL SELECT 3, 2, 0,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0), true
      |ORDER BY version""".stripMargin

  /** DELTA CHECKPOINT LIFECYCLE ([[DeltaLog.checkpoint]]): a streaming
    * sink commits 12 txn-marked micro-batches (one orders modulo-class
    * each); on Delta's default cadence the 10th commit writes the
    * classic parquet checkpoint (v9) + `_last_checkpoint`. A replayed
    * pre-checkpoint batch must STILL skip (its watermark now lives in
    * the checkpoint's txn rows), and after [[DeltaLog.cleanupLog]]
    * retires the pre-checkpoint JSON the table reads BOTH at the
    * checkpoint version (state reconstructed from parquet alone — no
    * JSON below it exists) and at latest (checkpoint + 2-commit tail).
    * The oracle recomputes the two snapshots from the fixture, so a
    * checkpoint bug (lost add, stats/txn not carried, tail not
    * composed, cleanup breaking replay) shifts a checksum.
    *
    * Scale: THE reason checkpoints exist — a long-lived sink's Nth
    * commit otherwise replays N JSON files to read its own watermark
    * (quadratic over history); checkpoint + tail makes every commit
    * O(cadence), and cleanup keeps the log dir file count bounded. */
  def pipeDeltaCheckpoint(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/delta_ckpt_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    // the checkpoint/replay/cleanup machinery under test is column-count
    // independent; carry only the two checksummed columns so the commit
    // cycles don't pay 3x the write volume for nothing. Six commits at
    // checkpointEvery=4 (r12, bench-budget item: was 12 at the protocol
    // default of 10 — every semantic is cadence-independent) still cover
    // the full lifecycle: checkpoint lands at v3, the duplicate batch's
    // txn marker (batch 2, committed BEFORE the checkpoint) must be
    // carried THROUGH the checkpoint to be seen, cleanup retires v0-v2,
    // and the table reads both at v3 (parquet state alone) and at v5
    // (checkpoint + 2-commit tail).
    val ord = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    (0 until 6).foreach { i =>
      DeltaLog.appendBatch(spark, tbl, "ckpt-sink", i.toLong,
        ord.filter(col("o_orderkey") % 6 === i).repartition(1), checkpointEvery = 4)
    }
    val ckptV = DeltaLog.checkpointVersions(spark, tbl).last
    val dupSkipped = !DeltaLog.appendBatch(spark, tbl, "ckpt-sink", 2L,
      ord.filter(col("o_orderkey") % 6 === 2).repartition(1), checkpointEvery = 4)
    DeltaLog.cleanupLog(spark, tbl)
    def summary(v: Long): DataFrame =
      DeltaLog.read(spark, tbl, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(s"o_orderkey % $P")).as("key_check"),
          sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
        .select(lit(v).as("version"), col("n_rows"), col("key_check"), col("price_check"))
    summary(ckptV).unionAll(summary(DeltaLog.latestVersion(spark, tbl)))
      .withColumn("ckpt_version", lit(ckptV))
      .withColumn("dup_skipped", lit(if (dupSkipped) 1L else 0L))
      .orderBy("version")
  }

  private val pipeDeltaCheckpointSql: String =
    s"""SELECT 3::BIGINT AS version, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  3::BIGINT AS ckpt_version, 1::BIGINT AS dup_skipped
       |FROM orders WHERE o_orderkey % 6 <= 3
       |UNION ALL
       |SELECT 5::BIGINT, count(*),
       |  sum(o_orderkey % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT,
       |  3::BIGINT, 1::BIGINT
       |FROM orders
       |ORDER BY version""".stripMargin

  /** DELTA MAINTENANCE LIFECYCLE ([[DeltaLog.optimize]] /
    * [[DeltaLog.vacuum]]): the reference compacts and vacuums its Delta
    * tables on every cycle (reference pipeline/preprocess.py:74-75);
    * this is that cycle in the public format. Six small appends
    * fragment the table; OPTIMIZE bin-packs the 6 live files into 2
    * with a dataChange=false commit (content provably unchanged — the
    * oracle hashes it); VACUUM at zero retention physically reclaims
    * the 6 tombstoned originals, leaving exactly the 2 optimized files
    * on disk. The result exposes live-file AND disk-file counts, so a
    * vacuum that deleted a live file (content loss) or kept tombstones
    * (no reclamation) both fail the gate.
    *
    * Scale: compaction reads/writes data through executor parquet jobs
    * sized by `targetFiles`; vacuum is a driver-side listing diff
    * (file-count metadata), deleting without reading — the pair
    * [[PipelineMain]]'s compaction runs on the pipeline's tables. */
  def pipeDeltaOptimize(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/delta_opt_${sfName(sfDir)}"
    wipe(spark, base)
    val tbl = s"$base/orders"
    val ord = Tables.orders(spark, sfDir)
    // six fragmenting appends (r12: was 8 — the bin-pack/vacuum
    // semantics are file-count independent above targetFiles),
    // CONCURRENT (r15): the appends carry disjoint slices with one
    // shared schema, no output pins a version number (counts + content
    // checksums only), and DeltaLog.commit's CAS rebase loop is built
    // for exactly this — overlapping them collapses six serial
    // write-job latencies into one wave
    concurrently((0 until 6).map { i =>
      () => { DeltaLog.append(spark, tbl,
        ord.filter(col("o_orderkey") % 6 === i).repartition(1)); () }
    })
    val (nIn, nOut) = DeltaLog.optimize(spark, tbl, targetFiles = 2)
    val nVacuumed = DeltaLog.vacuum(spark, tbl, retentionMs = 0L)
    val nDisk = Fs.listFiles(spark, tbl, _.endsWith(".parquet"))
      .count(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName != "_delta_log")
    DeltaLog.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .withColumn("files_before", lit(nIn.toLong))
      .withColumn("files_after", lit(nOut.toLong))
      .withColumn("files_vacuumed", lit(nVacuumed.toLong))
      .withColumn("files_on_disk", lit(nDisk.toLong))
  }

  private val pipeDeltaOptimizeSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check,
       |  6::BIGINT AS files_before, 2::BIGINT AS files_after,
       |  6::BIGINT AS files_vacuumed, 2::BIGINT AS files_on_disk
       |FROM orders""".stripMargin

  /** From-scratch generation (S1): 10k-row orders-shaped table from
    * `spark.range` + content-addressed exprs; DuckDB regenerates the
    * identical table from `generate_series` — the generator itself is
    * hash-verified, not just consumed. */
  def opSynthTable(spark: SparkSession, sfDir: String): DataFrame =
    Synthesize.synthTable(spark, 10000).orderBy("o_orderkey")

  private val opSynthTableSql: String = {
    val custH = Text.hash60DuckSql("'cust:' || i::VARCHAR")
    val priceH = Text.hash60DuckSql("'price:' || i::VARCHAR")
    s"""SELECT i AS o_orderkey,
       |  1 + ($custH % 1000) AS o_custkey,
       |  list_extract(['O','F','P'], (i % 3)::INT + 1) AS o_orderstatus,
       |  (1000 + ($priceH % 499000))::DOUBLE / 10.0 AS o_totalprice,
       |  TIMESTAMP '1995-01-01 00:00:00' + (i % 2400) * INTERVAL '1 day' AS o_orderdate
       |FROM generate_series(1, 10000) AS t(i)
       |ORDER BY o_orderkey""".stripMargin
  }

  /** dbgen-FIDELITY pipeline roundtrip (r12 verdict item 5): one
    * generation cycle with [[Synthesize.cycle]]'s `fidelity` flag —
    * fact rows from the [[Synthesize.dbgenOrders]]/[[Synthesize.dbgenLineitem]]
    * generators carrying dbgen's value skew (sparse custkeys, Zipf-like
    * part popularity, ship dates correlated to order dates) — staged as
    * JSON-lines, drained through [[Ingest.drain]], and checksummed.
    * Every generated value is a pure hash of the row id, so DuckDB
    * REGENERATES the entire synthetic corpus (row_number over the
    * fixture's orders supplies ids 1..N) and recomputes the post-ingest
    * state bit-exactly: the `orders`/`lineitem` rows pin the whole
    * generate→stage→drain path over skewed data, and the `skew` row
    * pins the DISTRIBUTION CLAIMS themselves as invariant aggregates —
    * distinct part count, hottest-part count, hot-share per-mille
    * (integer div, engine-identical), and the sparse-custkey invariant
    * (multiples of 3 must never appear: price_check = 0). */
  def pipeDbgenFidelity(spark: SparkSession, sfDir: String): DataFrame = {
    val base = s"$pipeDir/dbgen_${sfName(sfDir)}"
    wipe(spark, base)
    val staging = s"$base/staging"
    val tables = s"$base/tables"
    Synthesize.cycle(spark, sfDir, staging, tables, batchId = 0, nBatches = 1,
      fidelity = true)
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    val ord = DeltaLog.read(spark, s"$tables/orders")
    val li = DeltaLog.read(spark, s"$tables/lineitem")
    val mod3 = ord.agg(
      sum(when(col("o_custkey") % 3 === 0, 1L).otherwise(0L)).as("mod3_hits"))
    val skew = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("cnt")).as("key_check"),
        expr("(max(cnt) * 1000) div sum(cnt)").as("time_check"))
      .crossJoin(mod3) // 1-row × 1-row: the sparse-custkey invariant rides along
      .select(lit("skew").as("tbl"), col("n_rows"), col("key_check"),
        col("time_check"), col("mod3_hits").as("price_check"))
    summarize(li, "lineitem",
      Text.hash60SparkSql("l_orderkey"),
      "unix_micros(l_ship_time)",
      "cast(round(l_extendedprice * 100) as bigint)")
      .unionAll(summarize(ord, "orders",
        Text.hash60SparkSql("o_orderkey"),
        "unix_micros(o_order_time)",
        "cast(round(o_totalprice * 100) as bigint)"))
      .unionAll(skew)
      .orderBy("tbl")
  }

  /** DuckDB regeneration of the whole dbgen-fidelity corpus + staging
    * transforms, from the generation formulas alone. */
  private val pipeDbgenFidelitySql: String = {
    def h(tag: String, key: String) = Text.hash60DuckSql(s"'$tag:' || $key")
    val hid = (t: String) => h(t, "id::VARCHAR")
    val hk = (t: String) => h(t, "o_orderkey::VARCHAR || ':' || ln::VARCHAR")
    val ordTime = Synthesize.affineDuck("o_orderdate", Synthesize.OrdTgtLo, Synthesize.OrdTgtHi)
    val shipTime = Synthesize.affineDuck("l_shipdate", Synthesize.ShipTgtLo, Synthesize.ShipTgtHi)
    val liNoise = Synthesize.noiseDuck("o_orderkey::VARCHAR || ':' || ln::VARCHAR")
    s"""WITH dims AS (
       |  SELECT greatest(1, 2 * (SELECT count(*) FROM customer) // 3) AS tt,
       |         (SELECT count(*) FROM part) AS pp,
       |         (SELECT count(*) FROM supplier) AS ss),
       |ids AS (SELECT row_number() OVER () AS id FROM orders),
       |o AS (
       |  SELECT id AS o_orderkey,
       |    ((${hid("dbc")}) % tt) + ((${hid("dbc")}) % tt) // 2 + 1 AS o_custkey,
       |    (100000 + (${hid("dbp")}) % 400000)::DOUBLE / 100.0 AS o_totalprice,
       |    TIMESTAMP '1995-01-01 00:00:00'
       |      + ((${hid("dbd")}) % 2255) * INTERVAL 1 DAY AS o_orderdate
       |  FROM ids, dims),
       |lbase AS (
       |  SELECT o_orderkey, o_orderdate,
       |    unnest(generate_series(1, (1 + (${h("dbl", "o_orderkey::VARCHAR")}) % 7)::INT)) AS ln
       |  FROM o),
       |l AS (
       |  SELECT o_orderkey, ln, o_orderdate,
       |    1 + (((((${hk("dbpk")}) % 1073741824) * ((${hk("dbpk")}) % 1073741824))
       |         // 1073741824) * (SELECT pp FROM dims)) // 1073741824 AS l_partkey,
       |    (1 + (${hk("dbq")}) % 50)::DOUBLE AS l_quantity,
       |    o_orderdate + (1 + (${hk("dbsd")}) % 121) * INTERVAL 1 DAY AS l_shipdate
       |  FROM lbase),
       |l2 AS (
       |  SELECT *, l_quantity *
       |    ((90000 + (l_partkey // 10) % 20001 + 100 * (l_partkey % 1000))::DOUBLE / 100.0)
       |    AS l_extendedprice
       |  FROM l)
       |SELECT 'lineitem' AS tbl, count(*) AS n_rows,
       |  sum((${Text.hash60DuckSql("md5('order:' || o_orderkey::VARCHAR)")}) % $P)::BIGINT AS key_check,
       |  sum(epoch_us($shipTime) % $P)::BIGINT AS time_check,
       |  sum(round(($liNoise) * l_extendedprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM l2
       |UNION ALL
       |SELECT 'orders', count(*),
       |  sum((${Text.hash60DuckSql("md5('order:' || o_orderkey::VARCHAR)")}) % $P)::BIGINT,
       |  sum(epoch_us($ordTime) % $P)::BIGINT,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT
       |FROM o
       |UNION ALL
       |SELECT 'skew', count(*),
       |  max(cnt)::BIGINT,
       |  ((max(cnt) * 1000) // sum(cnt))::BIGINT,
       |  (SELECT sum(CASE WHEN o_custkey % 3 = 0 THEN 1 ELSE 0 END) FROM o)::BIGINT
       |FROM (SELECT l_partkey, count(*)::BIGINT AS cnt FROM l2 GROUP BY 1) g
       |ORDER BY tbl""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_dbgen_fidelity" -> (pipeDbgenFidelity _),
    "pipe_ingest_roundtrip" -> (pipeIngestRoundtrip _),
    "pipe_compact_roundtrip" -> (pipeCompactRoundtrip _),
    "pipe_txn_compact" -> (pipeTxnCompact _),
    "pipe_incr_agg" -> (pipeIncrAgg _),
    "pipe_time_travel" -> (pipeTimeTravel _),
    "pipe_cdc_diff" -> (pipeCdcDiff _),
    "pipe_stats_prune" -> (pipeStatsPrune _),
    "pipe_stream_txn_sink" -> (pipeStreamTxnSink _),
    "pipe_zorder_prune" -> (pipeZorderPrune _),
    "pipe_delta_log" -> (pipeDeltaLog _),
    "pipe_delta_history" -> (pipeDeltaHistory _),
    "pipe_delta_wap" -> (pipeDeltaWap _),
    "pipe_medallion" -> (pipeMedallion _),
    "pipe_delta_partition" -> (pipeDeltaPartition _),
    "pipe_delta_evolve" -> (pipeDeltaEvolve _),
    "pipe_delta_checkpoint" -> (pipeDeltaCheckpoint _),
    "pipe_delta_optimize" -> (pipeDeltaOptimize _),
    "pipe_delta_stream" -> (pipeDeltaStream _),
    "pipe_delta_cdf" -> (pipeDeltaCdf _),
    "pipe_delta_to_delta" -> (pipeDeltaToDelta _),
    "pipe_delta_delete" -> (pipeDeltaDelete _),
    "pipe_delta_dv" -> (pipeDeltaDv _),
    "pipe_delta_merge" -> (pipeDeltaMerge _),
    "pipe_scd2_delta" -> (pipeScd2Delta _),
    "pipe_stream_quarantine" -> (pipeStreamQuarantine _),
    "pipe_delta_native_prune" -> (pipeDeltaNativePrune _),
    "pipe_delta_restore" -> (pipeDeltaRestore _),
    "pipe_delta_clone" -> (pipeDeltaClone _),
    "pipe_stream_upsert" -> (pipeStreamUpsert _),
    "pipe_stream_rag_index" -> (pipeStreamRagIndex _),
    "pipe_backfill" -> (pipeBackfill _),
    "op_synth_table" -> (opSynthTable _))

  val oracles: Map[String, String] = Map(
    "pipe_dbgen_fidelity" -> pipeDbgenFidelitySql,
    "pipe_ingest_roundtrip" -> pipeIngestRoundtripSql,
    "pipe_compact_roundtrip" -> pipeCompactRoundtripSql,
    "pipe_txn_compact" -> pipeTxnCompactSql,
    "pipe_incr_agg" -> pipeIncrAggSql,
    "pipe_time_travel" -> pipeTimeTravelSql,
    "pipe_cdc_diff" -> pipeCdcDiffSql,
    "pipe_stats_prune" -> pipeStatsPruneSql,
    "pipe_stream_txn_sink" -> pipeStreamTxnSinkSql,
    "pipe_zorder_prune" -> pipeZorderPruneSql,
    "pipe_delta_log" -> pipeDeltaLogSql,
    "pipe_delta_history" -> pipeDeltaHistorySql,
    "pipe_delta_wap" -> pipeDeltaWapSql,
    "pipe_medallion" -> pipeMedallionSql,
    "pipe_delta_partition" -> pipeDeltaPartitionSql,
    "pipe_delta_evolve" -> pipeDeltaEvolveSql,
    "pipe_delta_checkpoint" -> pipeDeltaCheckpointSql,
    "pipe_delta_optimize" -> pipeDeltaOptimizeSql,
    "pipe_delta_stream" -> pipeDeltaStreamSql,
    "pipe_delta_cdf" -> pipeDeltaCdfSql,
    "pipe_delta_to_delta" -> pipeDeltaToDeltaSql,
    "pipe_delta_delete" -> pipeDeltaDeleteSql,
    "pipe_delta_dv" -> pipeDeltaDvSql,
    "pipe_delta_merge" -> pipeDeltaMergeSql,
    "pipe_scd2_delta" -> graft.operators.Journeys.oracles("op_scd2"),
    "pipe_stream_quarantine" -> pipeStreamQuarantineSql,
    "pipe_delta_native_prune" -> pipeDeltaNativePruneSql,
    "pipe_delta_restore" -> pipeDeltaRestoreSql,
    "pipe_delta_clone" -> pipeDeltaCloneSql,
    "pipe_stream_upsert" -> pipeStreamUpsertSql,
    "pipe_stream_rag_index" -> pipeStreamRagIndexSql,
    "pipe_backfill" -> pipeBackfillSql,
    "op_synth_table" -> opSynthTableSql)
}
