package graft.streaming

import graft.SparkSpec

/** STREAMING-RESTART CRASH MATRIX over the Delta `txn` sink (r9 verdict
  * item 7: deepen falsification instruments over the exactly-once
  * machinery rather than adding surface).
  *
  * [[DeltaLog.appendBatch]]'s lifecycle has four distinct crash windows
  * — after the data files land but before the log commit; after the
  * commit but before the engine's offset checkpoint (so the batch is
  * REDELIVERED on restart); after the commit but before the parquet
  * checkpoint; and between the checkpoint file and the
  * `_last_checkpoint` hint. Each window is simulated at the public API
  * (the crash is "stop calling, restart from the redelivered batch id",
  * plus hand-planted partial state where the window leaves any), and
  * the matrix also crosses restart with the maintenance operations a
  * production table runs between crash and recovery (OPTIMIZE,
  * OVERWRITE, log cleanup, VACUUM) — the cases where a watermark or a
  * tombstone could silently vanish. Every cell asserts the same two
  * invariants: table content is EXACTLY-ONCE (no loss, no double
  * append) and the txn watermark survives whatever the window left
  * behind.
  */
class CrashMatrixSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def freshDir(tag: String): String = {
    val d = s"${targetDir("test-crash")}/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    Fs.deleteRec(spark, d)
    Fs.mkdirs(spark, d)
    d
  }

  private def batchDf(i: Int): DataFrame = {
    import spark.implicits._
    Seq((i.toLong, s"b$i")).toDF("k", "v").coalesce(1)
  }

  private def keys(tbl: String): Seq[Long] = {
    import spark.implicits._
    DeltaLog.read(spark, tbl).select("k").as[Long].collect().toSeq.sorted
  }

  test("window A — crash after data files land, before the log commit: " +
    "orphans invisible, replay appends once, vacuum reclaims the orphans") {
    val tbl = freshDir("data-no-commit")
    assert(DeltaLog.appendBatch(spark, tbl, "s", 0L, batchDf(0)))
    // the crashed attempt at batch 1: its part file reached the table
    // directory (appendBatch adopts scratch files BEFORE committing)
    // but no commit references it
    batchDf(1).write.mode("overwrite").parquet(s"$tbl/.mk_orphan")
    val part = Fs.listFiles(spark, s"$tbl/.mk_orphan", _.endsWith(".parquet")).head
    Fs.renameOrFail(spark, part._1, s"$tbl/orphan-of-crashed-batch-1.parquet")
    Fs.deleteRec(spark, s"$tbl/.mk_orphan")
    // the orphan is invisible to readers
    assert(keys(tbl) == Seq(0L), "uncommitted file leaked into the read")
    // restart redelivers batch 1 in full: it commits fresh files, once
    assert(DeltaLog.appendBatch(spark, tbl, "s", 1L, batchDf(1)))
    assert(keys(tbl) == Seq(0L, 1L), "replay after data-only crash must append exactly once")
    // vacuum(0) reclaims the crashed attempt's orphan, never live files
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 1)
    assert(keys(tbl) == Seq(0L, 1L), "vacuum ate a live file")
    assert(!Fs.listFiles(spark, tbl, _ == "orphan-of-crashed-batch-1.parquet")
      .exists(_._1.endsWith("orphan-of-crashed-batch-1.parquet")))
  }

  test("window B — crash between sink commit and engine offset commit: " +
    "every redelivery pattern of a 6-batch history is skipped") {
    val tbl = freshDir("commit-no-offset")
    (0 until 6).foreach(i => assert(DeltaLog.appendBatch(spark, tbl, "s", i.toLong, batchDf(i))))
    // the engine's checkpoint can be arbitrarily stale at the crash:
    // restart windows redeliver suffixes [j..5] for every j
    (0 until 6).foreach { j =>
      (j until 6).foreach { i =>
        assert(!DeltaLog.appendBatch(spark, tbl, "s", i.toLong, batchDf(i)),
          s"redelivered batch $i (restart window $j) re-committed")
      }
    }
    assert(keys(tbl) == (0L until 6L), "content not exactly-once under redelivery")
    assert(DeltaLog.lastTxnVersion(spark, tbl, "s") == 5L)
  }

  test("window C — crash between log commit and parquet checkpoint: " +
    "cadence self-heals, cleanup keeps pre-checkpoint watermarks") {
    val tbl = freshDir("commit-no-ckpt")
    // every checkpoint write "crashes" (cadence disabled) for 11 commits
    (0 until 11).foreach { i =>
      assert(DeltaLog.appendBatch(spark, tbl, "s", i.toLong, batchDf(i), checkpointEvery = 0))
    }
    assert(DeltaLog.checkpointVersions(spark, tbl).isEmpty, "no checkpoint should exist yet")
    // restart with a working checkpointer: the next commit checkpoints
    // the whole backlog (cadence counts commits past the last checkpoint)
    assert(DeltaLog.appendBatch(spark, tbl, "s", 11L, batchDf(11), checkpointEvery = 10))
    val cvs = DeltaLog.checkpointVersions(spark, tbl)
    assert(cvs.nonEmpty, "self-heal checkpoint not written")
    // retention below the checkpoint; pre-checkpoint watermarks must
    // survive in the checkpoint rows, not the deleted JSON
    DeltaLog.cleanupLog(spark, tbl)
    assert(!DeltaLog.appendBatch(spark, tbl, "s", 2L, batchDf(2)),
      "pre-checkpoint replay re-committed after log cleanup")
    assert(keys(tbl) == (0L until 12L))
  }

  test("window D — crash between checkpoint file and _last_checkpoint hint: " +
    "a stale or missing hint never changes replay") {
    val tbl = freshDir("ckpt-no-hint")
    (0 until 12).foreach { i =>
      assert(DeltaLog.appendBatch(spark, tbl, "s", i.toLong, batchDf(i)))
    }
    val ckptV = DeltaLog.checkpointVersions(spark, tbl).last
    val hintPath = new org.apache.hadoop.fs.Path(s"$tbl/_delta_log/_last_checkpoint")
    val fs = hintPath.getFileSystem(Fs.conf(spark))
    // (i) crash left the hint MISSING
    Fs.deleteIfExists(spark, hintPath.toString)
    assert(keys(tbl) == (0L until 12L))
    assert(!DeltaLog.appendBatch(spark, tbl, "s", 5L, batchDf(5)))
    // (ii) crash left the hint STALE (points below the real checkpoint)
    val out = fs.create(hintPath, true)
    try out.write("""{"version":0,"size":1}""".getBytes("UTF-8")) finally out.close()
    assert(keys(tbl) == (0L until 12L), "stale hint changed the replayed state")
    assert(DeltaLog.lastTxnVersion(spark, tbl, "s") == 11L)
    // (iii) the next cadence checkpoint repairs the hint
    (12 until 22).foreach { i =>
      assert(DeltaLog.appendBatch(spark, tbl, "s", i.toLong, batchDf(i)))
    }
    val hint = DeltaLog.lastCheckpointHint(spark, tbl)
    assert(hint.exists(_._1 > ckptV), s"hint not repaired: $hint")
  }

  test("concurrent duplicate replay under load: one committer per " +
    "(appId, batchId), interleaved writer identities stay independent") {
    val tbl = freshDir("dup-race")
    assert(DeltaLog.appendBatch(spark, tbl, "s", 0L, batchDf(0)))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 3).foreach { b =>
      // two deliveries of the SAME batch race (post-crash redelivery
      // overlapping the original in-flight attempt), while an
      // independent appId appends concurrently
      val attempts = Future.sequence(Seq(
        Future(DeltaLog.appendBatch(spark, tbl, "s", b.toLong, batchDf(b))),
        Future(DeltaLog.appendBatch(spark, tbl, "s", b.toLong, batchDf(b)))))
      val other = Future(DeltaLog.appendBatch(spark, tbl, "other", b.toLong, batchDf(100 + b)))
      val res = Await.result(attempts, 120.seconds)
      assert(res.count(identity) == 1, s"batch $b: ${res.count(identity)} of 2 racers committed")
      assert(Await.result(other, 120.seconds), s"independent appId blocked at $b")
    }
    assert(keys(tbl) == Seq(0L, 1L, 2L, 3L, 101L, 102L, 103L),
      "duplicate racer double-appended or lost a batch")
    assert(DeltaLog.lastTxnVersion(spark, tbl, "s") == 3L)
    assert(DeltaLog.lastTxnVersion(spark, tbl, "other") == 3L)
  }

  test("real stream restart through window B: crash AFTER the sink commit, " +
    "engine redelivers the batch from its checkpoint, txn skips it") {
    import org.apache.spark.sql.functions.col
    val tbl = freshDir("stream-restart")
    val src = freshDir("stream-src")
    val ckpt = s"$tbl/_engine_ckpt"
    import spark.implicits._
    // 4 source files -> 4 micro-batches under maxFilesPerTrigger=1
    (0 until 4).foreach { i =>
      (i * 10 until i * 10 + 10).map(k => (k.toLong, s"v$k")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    @volatile var crashed = false
    def run(inject: Boolean): Unit = {
      val q = spark.readStream.schema("k LONG, v STRING")
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val committed = DeltaLog.appendBatch(spark, tbl, "s", id, batch.coalesce(1))
          if (inject && id == 2L && !crashed) {
            crashed = true
            assert(committed, "window under test is commit-then-die")
            throw new RuntimeException(
              "injected death after sink commit, before engine offset commit")
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          if (!inject) throw e
      }
    }
    run(inject = true)
    assert(crashed, "the injected crash must have fired")
    // the sink committed batch 2 even though the engine never recorded it
    assert(DeltaLog.lastTxnVersion(spark, tbl, "s") == 2L)
    // restart from the SAME engine checkpoint: Spark redelivers batch 2
    // with its original id (the contract the txn action exists for)
    run(inject = false)
    assert(DeltaLog.lastTxnVersion(spark, tbl, "s") == 3L)
    val ks = DeltaLog.read(spark, tbl).select(col("k")).as[Long].collect().toSeq.sorted
    assert(ks == (0L until 40L), s"rows lost or doubled across the restart: ${ks.size}")
  }

  test("maintenance between crash and restart: OPTIMIZE and OVERWRITE " +
    "never resurrect a redelivered batch; new batches land on top") {
    import spark.implicits._
    val tbl = freshDir("maint")
    (0 until 4).foreach(i => assert(DeltaLog.appendBatch(spark, tbl, "s", i.toLong, batchDf(i))))
    // crash; an operator runs OPTIMIZE before the stream restarts.
    // dataChange=false rewrites must not disturb the txn watermark
    DeltaLog.optimize(spark, tbl, targetFiles = 1)
    assert(!DeltaLog.appendBatch(spark, tbl, "s", 3L, batchDf(3)),
      "redelivery re-committed after optimize")
    assert(keys(tbl) == (0L until 4L))
    // crash again; an operator OVERWRITES the table (backfill) before
    // restart. Watermarks are per-appId actions, independent of files:
    // the redelivered batch must stay skipped even though its files
    // are gone, exactly Delta's idempotent-writer contract
    DeltaLog.overwrite(spark, tbl, Seq((50L, "fresh")).toDF("k", "v").coalesce(1))
    assert(!DeltaLog.appendBatch(spark, tbl, "s", 2L, batchDf(2)),
      "overwrite resurrected a committed batch id")
    assert(keys(tbl) == Seq(50L))
    // the stream then advances: a genuinely new batch commits on top
    assert(DeltaLog.appendBatch(spark, tbl, "s", 4L, batchDf(4)))
    assert(keys(tbl) == Seq(4L, 50L))
    assert(DeltaLog.lastTxnVersion(spark, tbl, "s") == 4L)
  }
}
