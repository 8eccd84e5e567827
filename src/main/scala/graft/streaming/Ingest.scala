package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Staged JSON-lines → Delta table ingestion, one commit per staged
  * batch — the reference's batch ingest (reference
  * pipeline/preprocess.py:35-59, workflow.py:16-19), with one
  * exactly-once rule:
  *
  *  - S7/T2 discovery: [[Synthesize.writeStaged]] publishes each batch
  *    as one directory, `stagingDir/<table>/b<id>`, by a single rename,
  *    so a batch directory that exists is complete. A drain lists those
  *    directories and takes them in ascending id order.
  *  - S4 read: schema-asserted JSON-lines (`spark.read.schema(s).json`)
  *    — no inference scan, unlike the reference's pandas `read_json`
  *    (SURVEY §1.3).
  *  - K2/T3 exactly-once append: each batch is one
  *    [[DeltaLog.appendBatch]] commit carrying a `txn`
  *    {appId = `staged-b<id>`, version = 0} action, the reference's
  *    `write_deltalake(mode="append")` (reference
  *    pipeline/preprocess.py:41-44) on the same public log the
  *    compaction and the reduce use. A batch whose `txn` is already in
  *    the log commits nothing, so a batch that is staged again (a
  *    restarted pipeline re-stages from batch 0) or that survives a
  *    death between its commit and its deletion lands once (T5
  *    idempotency). The app id is per batch, not one app id with the
  *    batch id as version: batch ids do not arrive in order (overlapping
  *    invocations, shuffled rounds), and a monotone watermark would skip
  *    a lower id staged after a higher one.
  *  - K3 retirement: a batch directory is deleted right after its commit
  *    or its skip (reference `fs.rm`, pipeline/preprocess.py:45), so a
  *    finished drain leaves nothing staged.
  *  - T4 mutual exclusion: the pipeline lock orders drains, staging and
  *    compaction (reference pipeline/settings.py:37-40); a table's
  *    batches commit one at a time, and the tables drain concurrently.
  *
  * Scale: a batch is one Spark read + write over its files, so ingest
  * parallelism is file × partition parallelism on executors; the driver
  * lists directories and commits.
  */
object Ingest {

  /** Commit every staged batch of every table in `schemas` to
    * `tablesDir/<table>` and delete it; tables with nothing staged are
    * skipped. Tables drain concurrently: no table's ingest depends on
    * another's (the reference's O3 ordering binds generation, not
    * ingestion). */
  def drain(spark: SparkSession, stagingDir: String, tablesDir: String,
            schemas: Map[String, StructType]): Unit =
    Pipeline.concurrently(schemas.toSeq.map { case (table, schema) => () =>
      val batches = Fs.listDirs(spark, s"$stagingDir/$table")
        .collect { case n if n.matches("b\\d+") => n.drop(1).toLong -> n }
      for ((id, name) <- batches.sorted) {
        val dir = s"$stagingDir/$table/$name"
        DeltaLog.appendBatch(spark, s"$tablesDir/$table", s"staged-b$id", 0L,
          spark.read.schema(schema).option("timestampFormat", Synthesize.TsFmt).json(dir))
        Fs.deleteRec(spark, dir)
      }
    })
}
