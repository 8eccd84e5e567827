package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** [[DeltaStreamSource]] — streaming tail of the Delta transaction log.
  *
  * The invariants the oracle can't see: initial-snapshot-then-tail
  * batching, exactly-once across query RESTARTS (same checkpoint, new
  * commits only), OPTIMIZE rewrites (dataChange=false) never re-emitted,
  * refusal on data-changing removes, and partition-column reconstruction
  * from the log on the tail path.
  */
class DeltaStreamSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"${targetDir("test-dstream")}/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    Fs.deleteRec(spark, d)
    d
  }

  private def df(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  /** One AvailableNow drain of the source into a parquet file sink. */
  private def drain(table: String, out: String, ckpt: String,
                    opts: Map[String, String] = Map.empty): Unit = {
    val src = spark.readStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", table)
      .options(opts)
      .load()
    val q = src.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def keys(out: String): Seq[Long] =
    spark.read.parquet(out).select("k").as[Long].collect().toSeq.sorted

  test("initial snapshot, then exactly-once tail across a restart") {
    val base = freshDir("tail")
    val tbl = s"$base/t"
    DeltaLog.append(spark, tbl, df(1L -> "a", 2L -> "b").repartition(1))
    DeltaLog.append(spark, tbl, df(3L -> "c").repartition(1))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    drain(tbl, out, ckpt)
    assert(keys(out) == Seq(1L, 2L, 3L), "snapshot delivers the full live set")
    // new commits while the query is down; restart from the SAME checkpoint
    DeltaLog.append(spark, tbl, df(4L -> "d").repartition(1))
    DeltaLog.append(spark, tbl, df(5L -> "e").repartition(1))
    drain(tbl, out, ckpt)
    assert(keys(out) == Seq(1L, 2L, 3L, 4L, 5L),
      "tail delivers ONLY the new versions — nothing re-emitted, nothing lost")
    // no new commits -> a further drain emits nothing
    drain(tbl, out, ckpt)
    assert(keys(out) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("OPTIMIZE rewrites (dataChange=false) are not re-emitted by the tail") {
    val base = freshDir("opt")
    val tbl = s"$base/t"
    DeltaLog.append(spark, tbl, df(1L -> "a").repartition(1))
    DeltaLog.append(spark, tbl, df(2L -> "b").repartition(1))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    drain(tbl, out, ckpt)
    assert(keys(out) == Seq(1L, 2L))
    DeltaLog.optimize(spark, tbl) // rewrites both files, dataChange=false
    DeltaLog.append(spark, tbl, df(3L -> "c").repartition(1))
    drain(tbl, out, ckpt)
    assert(keys(out) == Seq(1L, 2L, 3L),
      "compaction must not double-deliver already-streamed rows")
  }

  test("a data-changing remove refuses without ignoreChanges, streams new files with it") {
    val base = freshDir("ovw")
    val tbl = s"$base/t"
    DeltaLog.append(spark, tbl, df(1L -> "a").repartition(1))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    drain(tbl, out, ckpt)
    DeltaLog.overwrite(spark, tbl, df(9L -> "z").repartition(1))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(tbl, out, ckpt)
    }
    assert(e.getCause.getMessage.contains("ignoreChanges"))
    // with ignoreChanges the rewritten file streams (caller's contract)
    val out2 = s"$base/out2"; val ckpt2 = s"$base/ckpt2"
    drain(tbl, out2, ckpt2, Map("ignoreChanges" -> "true"))
    assert(keys(out2) == Seq(9L), "fresh stream sees the post-overwrite snapshot")
  }

  test("maxVersionsPerTrigger bounds each batch; the backlog drains in multiple exact batches") {
    val base = freshDir("rate")
    val tbl = s"$base/t"
    for (i <- 1L to 5L) DeltaLog.append(spark, tbl, df(i -> s"v$i").repartition(1))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val src = spark.readStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", tbl)
      .option("maxVersionsPerTrigger", "2")
      .load()
    val q = src.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(keys(out) == Seq(1L, 2L, 3L, 4L, 5L), "rate limiting must not drop or dup rows")
    // 5 versions at <=2 per trigger: at least 3 data batches ran
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected a split backlog, got $dataBatches data batches")
  }

  test("startingVersion tails from that version with no initial snapshot") {
    val base = freshDir("sv")
    val tbl = s"$base/t"
    for (i <- 1L to 4L) DeltaLog.append(spark, tbl, df(i -> s"v$i").repartition(1))
    // versions are 0-based: commits above are versions 0..3
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    drain(tbl, out, ckpt, Map("startingVersion" -> "2"))
    assert(keys(out) == Seq(3L, 4L),
      "only versions >= startingVersion stream; earlier history is skipped")
    // the tail continues normally from the checkpoint
    DeltaLog.append(spark, tbl, df(5L -> "v5").repartition(1))
    drain(tbl, out, ckpt, Map("startingVersion" -> "2"))
    assert(keys(out) == Seq(3L, 4L, 5L))
  }

  test("changesSince: version window, compaction skipped, overwrite refused, partition rebuild") {
    import org.apache.spark.sql.functions.col
    val base = freshDir("cdf")
    val tbl = s"$base/t"
    DeltaLog.append(spark, tbl, df(1L -> "a").repartition(1)) // v0
    DeltaLog.append(spark, tbl, df(2L -> "b").repartition(1)) // v1
    DeltaLog.optimize(spark, tbl)                             // v2, dataChange=false
    DeltaLog.append(spark, tbl, df(3L -> "c").repartition(1)) // v3
    val feed = DeltaLog.changesSince(spark, tbl, since = 0L)
      .select("k", "_commit_version").as[(Long, Long)].collect().toSeq.sorted
    assert(feed == Seq((2L, 1L), (3L, 3L)),
      "window excludes v0, skips the compaction rewrite, tags versions")
    DeltaLog.overwrite(spark, tbl, df(9L -> "z").repartition(1)) // v4: dataChange remove
    val e = intercept[IllegalStateException](
      DeltaLog.changesSince(spark, tbl, since = 0L).collect())
    assert(e.getMessage.contains("change feed"))
    // partitioned: feed rebuilds the partition column from the log
    val ptbl = s"$base/p"
    DeltaLog.append(spark, ptbl,
      Seq((1L, "red")).toDF("k", "color").repartition(1), partitionBy = Seq("color")) // v0
    DeltaLog.append(spark, ptbl,
      Seq((2L, "blue")).toDF("k", "color").repartition(1), partitionBy = Seq("color")) // v1
    val pf = DeltaLog.changesSince(spark, ptbl, since = 0L)
      .select(col("k"), col("color"), col("_commit_version")).collect()
    assert(pf.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq == Seq((2L, "blue", 1L)))
  }

  test("partitioned table: tail rebuilds the partition column from the log") {
    val base = freshDir("part")
    val tbl = s"$base/t"
    val d0 = Seq((1L, "x", "red"), (2L, "y", "blue")).toDF("k", "v", "color")
    DeltaLog.append(spark, tbl, d0.repartition(1), partitionBy = Seq("color"))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    drain(tbl, out, ckpt)
    val d1 = Seq((3L, "z", "red")).toDF("k", "v", "color")
    DeltaLog.append(spark, tbl, d1.repartition(1), partitionBy = Seq("color"))
    drain(tbl, out, ckpt)
    val got = spark.read.parquet(out).select("k", "color").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "red"), (2L, "blue"), (3L, "red")),
      "partition values come back from the log's partitionValues on both paths")
  }

  test("tailing a shallow clone: absolute-path adds resolve on snapshot AND tail batches") {
    val base = freshDir("clone")
    val src = s"$base/src"
    val cln = s"$base/cln"
    DeltaLog.append(spark, src, df(1L -> "a", 2L -> "b").repartition(1))
    DeltaLog.cloneShallow(spark, src, cln)
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    // initial snapshot reads the clone's v0 — every add is an absolute
    // path into the SOURCE's directory
    drain(cln, out, ckpt)
    assert(keys(out) == Seq(1L, 2L), "snapshot resolves absolute adds")
    // a local append to the clone (relative adds) tails normally; the
    // tail batch mixes nothing in from the source's later commits
    DeltaLog.append(spark, src, df(8L -> "x").repartition(1))
    DeltaLog.append(spark, cln, df(3L -> "c").repartition(1))
    drain(cln, out, ckpt)
    assert(keys(out) == Seq(1L, 2L, 3L),
      "tail delivers the clone's own append only; source growth invisible")
    // startingVersion=1 (skip the snapshot): the tail-batch path itself
    // must also resolve relative adds after an absolute-add v0
    val out2 = s"$base/out2"; val ckpt2 = s"$base/ckpt2"
    drain(cln, out2, ckpt2, Map("startingVersion" -> "1"))
    assert(keys(out2) == Seq(3L), "startingVersion tail over the clone works")
  }
}
