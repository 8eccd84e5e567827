package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.{Schemas, Session, SparkSpec}
import graft.sources.Tables

/** [[Synthesize.cycle]] stages each batch out of one memoized relation
  * per table ([[Synthesize.staged]]): every batch must hold the rows the
  * per-batch frames (filter the source to the batch, then transform)
  * hold, in one `b<id>` dir of at most `defaultParallelism` files, and the memo must
  * follow its fixture and stay one entry however many cycles run. */
class SynthesizeSpec extends SparkSpec {

  private val base = targetDir("test-synth")

  /** The staged JSON files of batch `b` of one table, all in its one
    * published dir `<table>/b<b>`. */
  private def files(staging: String, table: String, b: Int): Seq[String] =
    Option(new java.io.File(s"$staging/$table/b$b").list()).toSeq.flatten
      .filter(n => n.startsWith(s"${table}_b${b}_") && n.endsWith(".json"))
      .map(n => s"$staging/$table/b$b/$n")

  /** Batch `b` of one staged table, read back the way [[Ingest]] reads it. */
  private def stagedBatch(staging: String, table: String, schema: StructType, b: Int): DataFrame =
    spark.read.schema(schema).option("timestampFormat", Synthesize.TsFmt)
      .json(files(staging, table, b): _*)

  /** Row count and order-insensitive hash, in the staged schema. */
  private def digest(df: DataFrame, schema: StructType): (Long, Long) = {
    val rows = df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
      .collect().map(_.toString)
    (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r).toLong).sum)
  }

  for (fidelity <- Seq(false, true))
    test(s"every staged batch equals its per-batch frame, in one b<id> dir of at most defaultParallelism files (fidelity=$fidelity)") {
      val root = s"$base/batches-$fidelity"
      Fs.deleteRec(spark, root)
      val staging = s"$root/staging"
      val n = 3
      val (srcOrd, srcLi) =
        if (fidelity) {
          val d = Synthesize.dbgenDims(spark, sf)
          val o = Synthesize.dbgenOrders(spark, d)
          (o, Synthesize.dbgenLineitem(o, d))
        } else (Tables.orders(spark, sf), Tables.lineitem(spark, sf))
      var total = 0L
      for (b <- 0 until n) {
        Synthesize.cycle(spark, sf, staging, s"$root/tables", batchId = b, nBatches = n,
          fidelity = fidelity)
        val wantOrd = Synthesize.stagedOrders(srcOrd.filter(col("o_orderkey") % n === b), n)
        val wantLi = Synthesize.stagedLineitem(srcOrd, srcLi.filter(col("l_orderkey") % n === b), n)
        val gotOrd = digest(stagedBatch(staging, "orders", Schemas.stagedOrders, b), Schemas.stagedOrders)
        assert(gotOrd == digest(wantOrd, Schemas.stagedOrders), s"batch $b orders")
        assert(gotOrd._1 > 0, s"batch $b staged no orders")
        assert(digest(stagedBatch(staging, "lineitem", Schemas.stagedLineitem, b), Schemas.stagedLineitem) ==
          digest(wantLi, Schemas.stagedLineitem), s"batch $b lineitem")
        total += gotOrd._1
        for (t <- Seq("orders", "lineitem")) {
          val dirs = Fs.listFiles(spark, s"$staging/$t", n => n.contains(s"_b${b}_") && n.endsWith(".json"))
            .map(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName).distinct
          assert(dirs == Seq(s"b$b"), s"batch $b of $t staged in $dirs")
          val k = files(staging, t, b).size
          assert(k >= 1 && k <= spark.sparkContext.defaultParallelism, s"batch $b staged $k $t files")
        }
      }
      assert(total == srcOrd.count(), "the batches do not partition the source orders")
    }

  test("the staged memo recomputes on a rewritten fixture file and stays one entry across cycles") {
    val root = s"$base/memo"
    Fs.deleteRec(spark, root)
    // a private copy of the fixture, so a test may rewrite it
    val fixture = s"$root/fixture"
    Files.createDirectories(Paths.get(fixture))
    for (t <- Seq("orders", "lineitem", "customer"))
      Files.copy(Paths.get(Tables.path(sf, t)), Paths.get(Tables.path(fixture, t)))
    val staging = s"$root/staging"
    val n = 3
    def cycle(b: Int): Unit =
      Synthesize.cycle(spark, fixture, staging, s"$root/tables", batchId = b, nBatches = n)

    cycle(0)
    val entries = Session.memoEntries
    val (ord, li) = Synthesize.staged(spark, fixture, n, fidelity = false)
    for (b <- 1 until n) cycle(b)
    assert(Session.memoEntries == entries, "cycles added memo entries")
    val (ord2, li2) = Synthesize.staged(spark, fixture, n, fidelity = false)
    assert((ord2 eq ord) && (li2 eq li), "cycles with unchanged inputs rebuilt the staged relations")
    assert(ord.storageLevel == StorageLevel.MEMORY_AND_DISK)

    // rewrite orders with every other order dropped
    val kept = Tables.orders(spark, fixture).filter(col("o_orderkey") % 2 === 0)
    val wantOrders = kept.count()
    kept.coalesce(1).write.parquet(s"$root/orders-rewrite")
    val part = new java.io.File(s"$root/orders-rewrite").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(Tables.path(fixture, "orders")), StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRec(spark, staging)
    for (b <- 0 until n) cycle(b)
    assert(Session.memoEntries == entries, "a recompute kept the stale entry beside the new one")
    val (ord3, li3) = Synthesize.staged(spark, fixture, n, fidelity = false)
    assert(!(ord3 eq ord) && !(li3 eq li), "a rewritten fixture kept the staged relations")
    val staged = (0 until n).map(b => stagedBatch(staging, "orders", Schemas.stagedOrders, b).count()).sum
    assert(staged == wantOrders, "a rewritten fixture staged the old orders")
    val lines = (0 until n).map(b => stagedBatch(staging, "lineitem", Schemas.stagedLineitem, b).count()).sum
    assert(lines == Tables.lineitem(spark, fixture).filter(col("l_orderkey") % 2 === 0).count(),
      "a rewritten fixture's keymap still joined the dropped orders")
  }
}
