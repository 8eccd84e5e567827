package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Copy-on-write DML over the Delta log ([[DeltaLog.deleteWhere]] /
  * [[DeltaLog.deletePartitions]] / [[DeltaLog.merge]]): the invariants
  * the oracled entries can't see — UNTOUCHED files must survive a
  * delete/merge byte-identically (the 100 TB property: a selective DML
  * rewrites only the files it must), partition deletes must be
  * metadata-only, and the refusal matrix must hold.
  */
class DeltaDmlSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"${targetDir("test-dml")}/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    Fs.deleteRec(spark, d)
    d
  }

  private def df(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  private def livePaths(tbl: String): Set[String] =
    DeltaLog.snapshot(spark, tbl)._2.toSet

  test("deleteWhere rewrites ONLY touched files; untouched files survive as-is") {
    val tbl = s"${freshDir("del")}/t"
    DeltaLog.append(spark, tbl, df(1L -> "a", 2L -> "b").repartition(1)) // file A
    DeltaLog.append(spark, tbl, df(3L -> "c", 4L -> "d").repartition(1)) // file B
    val before = livePaths(tbl)
    assert(before.size == 2)
    val (v, touched, rewritten) = DeltaLog.deleteWhere(spark, tbl, col("k") === 3L)
    assert(touched == 1 && rewritten == 1)
    val after = livePaths(tbl)
    // file A (rows 1,2) must still be live under its ORIGINAL path
    assert(before.intersect(after).size == 1, "the untouched file must not be rewritten")
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L))
    // no-match delete: no commit at all
    val latestBefore = DeltaLog.latestVersion(spark, tbl)
    val (v2, t2, r2) = DeltaLog.deleteWhere(spark, tbl, col("k") === 99L)
    assert(t2 == 0 && r2 == 0 && DeltaLog.latestVersion(spark, tbl) == latestBefore)
    assert(v == latestBefore && v2 == latestBefore)
  }

  test("deletePartitions is metadata-only: remove actions, no reads, no new files") {
    val tbl = s"${freshDir("delp")}/t"
    val d = Seq((1L, "red"), (2L, "blue"), (3L, "red")).toDF("k", "color")
    DeltaLog.append(spark, tbl, d.repartition(1), partitionBy = Seq("color"))
    val (v, removed) = DeltaLog.deletePartitions(spark, tbl, Map("color" -> "red"))
    assert(removed == 1, "one red partition file retired")
    val lines = DeltaLog.readCommit(spark, tbl, v)
    assert(lines.forall(!_.contains("\"add\"")), "partition delete must add nothing")
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().toSeq == Seq(2L))
    // refusal matrix: row-level on partitioned, partition-drop on flat
    intercept[IllegalArgumentException](
      DeltaLog.deleteWhere(spark, tbl, col("k") === 2L))
    val flat = s"${freshDir("delf")}/t"
    DeltaLog.append(spark, flat, df(1L -> "a").repartition(1))
    intercept[IllegalArgumentException](
      DeltaLog.deletePartitions(spark, flat, Map("color" -> "red")))
  }

  test("merge upserts by key, rewrites only files containing matched keys, inserts new keys") {
    val tbl = s"${freshDir("mrg")}/t"
    DeltaLog.append(spark, tbl, df(1L -> "a", 2L -> "b").repartition(1)) // file A
    DeltaLog.append(spark, tbl, df(3L -> "c", 4L -> "d").repartition(1)) // file B
    val before = livePaths(tbl)
    val (_, touched) = DeltaLog.merge(spark, tbl,
      df(2L -> "B2", 9L -> "NEW"), keyCols = Seq("k"))
    assert(touched == 1, "only the file containing key 2 is rewritten")
    assert(before.intersect(livePaths(tbl)).size == 1, "file B untouched")
    val got = DeltaLog.read(spark, tbl).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d", 9L -> "NEW"))
  }

  test("merge with only-new keys rewrites nothing; merge creates a missing table") {
    val tbl = s"${freshDir("mrgi")}/t"
    DeltaLog.append(spark, tbl, df(1L -> "a").repartition(1))
    val before = livePaths(tbl)
    val (_, touched) = DeltaLog.merge(spark, tbl, df(7L -> "g"), keyCols = Seq("k"))
    assert(touched == 0 && before.subsetOf(livePaths(tbl)),
      "insert-only merge must be pure append")
    val fresh = s"${freshDir("mrgc")}/t"
    DeltaLog.merge(spark, fresh, df(1L -> "a"), keyCols = Seq("k"))
    assert(DeltaLog.read(spark, fresh).count() == 1)
    // whole-row contract: source schema must match
    intercept[IllegalArgumentException](
      DeltaLog.merge(spark, tbl, Seq((1L, "x", 1.0)).toDF("k", "v", "extra"), Seq("k")))
  }

  test("the streaming tail and change feed refuse across a row-level delete") {
    val tbl = s"${freshDir("tailref")}/t"
    DeltaLog.append(spark, tbl, df(1L -> "a", 2L -> "b").repartition(1))
    DeltaLog.deleteWhere(spark, tbl, col("k") === 1L)
    val e = intercept[IllegalStateException](
      DeltaLog.changesSince(spark, tbl, since = -1L).collect())
    assert(e.getMessage.contains("change feed"))
  }

  test("restore re-adds the old file set metadata-only; history above stays readable") {
    val tbl = s"${freshDir("rst")}/t"
    DeltaLog.append(spark, tbl, df(1L -> "a", 2L -> "b").repartition(1)) // v0
    DeltaLog.append(spark, tbl, df(3L -> "c").repartition(1))            // v1
    DeltaLog.deleteWhere(spark, tbl, col("k") === 2L)                    // v2 rewrites v0's file
    val v0Live = DeltaLog.snapshot(spark, tbl, 0L)._2.toSet
    val dataFilesBefore = Fs.listFiles(spark, tbl, _.endsWith(".parquet"))
      .count(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName != "_delta_log")
    val (v3, readded, removed) = DeltaLog.restore(spark, tbl, 0L)
    // metadata-only: not one data file written by the restore itself
    val dataFilesAfter = Fs.listFiles(spark, tbl, _.endsWith(".parquet"))
      .count(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName != "_delta_log")
    assert(dataFilesAfter == dataFilesBefore, "restore must not write data files")
    assert(readded == 1 && removed == 2) // re-add v0's rewritten file; drop v1's + the survivor
    assert(livePaths(tbl) == v0Live, "restored head must pin exactly v0's file set")
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // history preservation: v2 still reads as the post-delete state
    assert(DeltaLog.read(spark, tbl, v3 - 1).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))
    // restoring to the CURRENT content diff-trivially commits an empty action set
    val (v4, r4, d4) = DeltaLog.restore(spark, tbl, v3)
    assert(r4 == 0 && d4 == 0 && v4 == v3 + 1)
  }

  test("restore refuses when a needed file was vacuumed") {
    val tbl = s"${freshDir("rstvac")}/t"
    DeltaLog.append(spark, tbl, df(1L -> "a").repartition(1))      // v0
    DeltaLog.overwrite(spark, tbl, df(2L -> "b").repartition(1))   // v1 tombstones v0's file
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 1)
    val e = intercept[IllegalArgumentException](DeltaLog.restore(spark, tbl, 0L))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("shallow clone copies zero data files, pins the source snapshot, and survives source growth") {
    val base = freshDir("cln")
    val src = s"$base/src"
    val dst = s"$base/dst"
    DeltaLog.append(spark, src, df(1L -> "a", 2L -> "b").repartition(1))
    DeltaLog.append(spark, src, df(3L -> "c").repartition(1))
    DeltaLog.cloneShallow(spark, src, dst)
    // metadata-only: the clone dir holds a log and nothing else
    assert(Fs.listFiles(spark, dst, _.endsWith(".parquet"))
      .forall(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName == "_delta_log"))
    assert(DeltaLog.read(spark, dst).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // isolation both ways: source growth invisible to the clone; clone
    // appends invisible to the source
    DeltaLog.append(spark, src, df(4L -> "d").repartition(1))
    DeltaLog.append(spark, dst, df(9L -> "z").repartition(1))
    assert(DeltaLog.read(spark, dst).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 9L))
    assert(DeltaLog.read(spark, src).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
    // the clone's vacuum must never reach the source's files (it lists
    // only under its own root); source still fully readable after
    assert(DeltaLog.vacuum(spark, dst, retentionMs = 0L) == 0)
    assert(DeltaLog.read(spark, src).count() == 4)
    // clone-onto-existing refuses
    val e = intercept[IllegalArgumentException](DeltaLog.cloneShallow(spark, src, dst))
    assert(e.getMessage.contains("already has a Delta log"))
  }

  test("merge with a txn action: a replayed batch skips without touching a file") {
    val tbl = s"${freshDir("mtxn")}/t"
    DeltaLog.merge(spark, tbl, df(1L -> "a", 2L -> "b"), keyCols = Seq("k"),
      txn = Some(("app", 0L)))
    val (v1, touched1) = DeltaLog.merge(spark, tbl, df(2L -> "B2"), keyCols = Seq("k"),
      txn = Some(("app", 1L)))
    assert(touched1 == 1)
    val filesAfter = livePaths(tbl)
    // replay of batch 1: version unchanged, file set unchanged
    val (v2, touched2) = DeltaLog.merge(spark, tbl, df(2L -> "WRONG"), keyCols = Seq("k"),
      txn = Some(("app", 1L)))
    assert(v2 == v1 && touched2 == 0 && livePaths(tbl) == filesAfter)
    assert(DeltaLog.read(spark, tbl).as[(Long, String)].collect().sorted.toSeq
      == Seq(1L -> "a", 2L -> "B2"))
  }

  test("vacuum(0) on a partitioned table never deletes live files (dir-prefixed add paths)") {
    val tbl = s"${freshDir("vacp")}/t"
    val d = Seq((1L, "red"), (2L, "blue"), (3L, "red")).toDF("k", "color")
    DeltaLog.append(spark, tbl, d.repartition(1), partitionBy = Seq("color"))
    // live partitioned adds are `color=x/part-….parquet`; a bare-filename
    // liveness compare would mark them all unreferenced and eat the table
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 0)
    assert(DeltaLog.read(spark, tbl).count() == 3)
    // a real partition drop then leaves genuinely dead files for vacuum
    DeltaLog.deletePartitions(spark, tbl, Map("color" -> "red"))
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 1)
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().toSeq == Seq(2L))
  }
}
