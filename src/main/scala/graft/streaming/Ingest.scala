package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Incremental JSON-lines → Delta table ingestion as ONE Structured Streaming
  * query per table — the Spark-native form of the reference's per-file
  * task fan-out (reference pipeline/preprocess.py:35-59, workflow.py:16-19):
  *
  *  - S7 discovery: the file source lists `stagingDir/<table>` each
  *    micro-batch and processes only unseen files (tracked in the
  *    checkpoint's source log — the reference re-lists with
  *    `rglob("*.json")` and relies on delete-after-ingest instead).
  *  - S4 read: schema-asserted JSON-lines (`spark.readStream.schema(s)
  *    .json(dir)`) — no inference scan, unlike the reference's pandas
  *    `read_json` (SURVEY §1.3).
  *  - T1/T2 cadence: `Trigger.AvailableNow` drains everything staged,
  *    in bounded micro-batches (`maxFilesPerTrigger`), then stops — the
  *    scheduled-batch shape of the reference's 15-minute Prefect flow.
  *    A long-lived deployment would use `Trigger.ProcessingTime`.
  *  - K2/T3 exactly-once append: each micro-batch is one
  *    [[DeltaLog.appendBatch]] commit carrying the batch's files and a
  *    `txn` {appId = query id, version = batch id} action, so a batch
  *    that fails mid-write is invisible until retried and a replayed
  *    batch commits nothing — the reference's
  *    `write_deltalake(mode="append")` (reference
  *    pipeline/preprocess.py:41-44), on the same public log the
  *    compaction and the reduce use. Re-running the stream with the
  *    same checkpoint re-processes nothing (T5 idempotency).
  *  - K3 retirement: `cleanSource=delete` removes a batch's source
  *    files once a SUBSEQUENT batch commits (reference `fs.rm`,
  *    pipeline/preprocess.py:45) — asynchronous and one batch late, so
  *    a quiesced stream leaves its final batch's files staged until the
  *    next cycle. That is at-least-once retirement, and it is safe: the
  *    checkpoint's source log, not file absence, prevents re-reads.
  *  - T4 mutual exclusion: one streaming query per table serializes
  *    its micro-batches by construction; the table's other writer, the
  *    compaction, commits through the same optimistic log, and the
  *    pipeline lock orders it against the drains (reference
  *    pipeline/settings.py:37-40).
  *
  * Scale: ingestion parallelism is input-file × partition parallelism on
  * executors; the driver only coordinates micro-batch boundaries. At
  * 100 TB/day this is the same query with a bigger `maxFilesPerTrigger`
  * and a real cluster — no code change.
  */
object Ingest {

  /** Default micro-batch appetite floor (r15, ADVICE r14). */
  val DefaultMaxFilesPerTrigger: Int = 8

  /** Effective micro-batch appetite: scales with the session's core
    * count (r15 session 3, guide §2.2 — "fewer, larger" micro-batches).
    * A cycle stages up to one file per core and table
    * ([[Synthesize.staged]] keeps `defaultParallelism` partitions, never
    * more than this value), so one cycle drains in one micro-batch per
    * table; a fixed appetite of 8 sliced a 32-core cycle's staged batch
    * into 4 micro-batches — 4× the commit/lifecycle fixed cost for
    * identical committed content (exactly-once is per FILE via the
    * checkpoint source log, not per batch; no declared output reads a
    * batch count from these drains). Deriving from
    * `defaultParallelism` is the scale-correct form: a cluster-sized
    * drain wants cluster-sized batches, and the 8-core driver run keeps
    * the old appetite via the floor. */
  def appetite(spark: SparkSession): Int =
    math.max(DefaultMaxFilesPerTrigger, spark.sparkContext.defaultParallelism)

  /** Start (and return, still running) the ingestion query for `table`
    * under `trigger`: `Trigger.AvailableNow` gives the batch-drain
    * cadence ([[drainAll]]), a `Trigger.ProcessingTime` the long-lived
    * wall-clock mode the reference's 15-minute schedule corresponds to
    * ([[PipelineMain.runLive]]). Each micro-batch lands through
    * [[DeltaLog.appendBatch]] keyed by the query's id, which Spark keeps
    * in the checkpoint and exposes on the batch thread as the
    * `sql.streaming.queryId` local property — Delta's own sink rule. A
    * batch replayed from the same checkpoint skips against its `txn`
    * watermark; a fresh checkpoint is a fresh query id, so its batches
    * can never be mistaken for committed ones. */
  def streamTable(spark: SparkSession, stagingDir: String, tablesDir: String,
                  ckptDir: String, table: String, schema: StructType,
                  trigger: Trigger,
                  maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    // 0 = derive from the session ([[appetite]]); an explicit positive
    // value pins the batch size (tests exercising multi-batch drains)
    val mfpt = if (maxFilesPerTrigger > 0) maxFilesPerTrigger else appetite(spark)
    val src = spark.readStream
      .schema(schema)
      .option("timestampFormat", Synthesize.TsFmt)
      .option("maxFilesPerTrigger", mfpt)
      .option("cleanSource", "delete")
      .json(s"$stagingDir/$table")
    src.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val appId = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        DeltaLog.appendBatch(spark, s"$tablesDir/$table", appId, id, df); ()
      }
      .option("checkpointLocation", s"$ckptDir/$table")
      .trigger(trigger)
      .start()
  }

  /** Drain all staged tables CONCURRENTLY (skips tables never staged):
    * each table is its own streaming query over its own checkpoint and
    * Delta log, with no cross-table dependency at ingest time (the
    * reference's O3 ordering constraint binds GENERATION — the keymap
    * must exist before lineitem is staged — not ingestion of the
    * self-contained staged files). Starting all queries before awaiting
    * any overlaps their micro-batches across the executor pool — on a
    * cluster, table count × file × partition parallelism instead of one
    * table at a time. */
  def drainAll(spark: SparkSession, stagingDir: String, tablesDir: String,
               ckptDir: String, schemas: Map[String, StructType]): Unit = {
    val queries = schemas.toSeq.collect {
      case (table, schema)
        if Fs.exists(spark, s"$stagingDir/$table") ||
          Fs.exists(spark, s"$ckptDir/$table") =>
        streamTable(spark, stagingDir, tablesDir, ckptDir, table, schema,
          Trigger.AvailableNow())
    }
    queries.foreach(_.awaitTermination())
  }
}
