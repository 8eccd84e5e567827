package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DeletionVectors]] + [[DeltaLog.deleteWhereDv]] — merge-on-read
  * row deletes in the PUBLIC Delta format.
  *
  * Layered like the other codec suites: first the byte grammar against
  * the specs' own published test vectors (Z85's "HelloWorld", roaring
  * cookies/containers hand-laid-out byte by byte — so OUR writer can
  * never vouch for OUR reader), then foreign hand-written logs, then
  * the end-to-end DML lifecycle whose oracle twin is the
  * `pipe_delta_dv` entry.
  */
class DeletionVectorSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"${targetDir("test-dv")}/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    Fs.deleteRec(spark, d)
    Fs.mkdirs(spark, d)
    d
  }

  private def writeParquetFile(dir: String, name: String, rows: Seq[(Long, String)]): Long = {
    import spark.implicits._
    val scratch = s"$dir/.mk_$name"
    rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Fs.listFiles(spark, scratch, _.endsWith(".parquet")).head
    Fs.renameOrFail(spark, part._1, s"$dir/$name")
    Fs.deleteRec(spark, scratch)
    part._2
  }

  private def writeLogFile(table: String, v: Long, lines: Seq[String]): Unit = {
    Fs.mkdirs(spark, s"$table/_delta_log")
    val p = new org.apache.hadoop.fs.Path(f"$table/_delta_log/$v%020d.json")
    val out = p.getFileSystem(Fs.conf(spark)).create(p, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
  }

  private val handSchemaString =
    """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""

  private val dvProtocol =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""

  test("Z85: the ZeroMQ spec's own test vector, and UUID round-trip") {
    // rfc.zeromq.org/spec/32: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B
    // encodes as exactly "HelloWorld"
    val helloBytes = Array(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B).map(_.toByte)
    assert(DeletionVectors.z85Encode(helloBytes) == "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld").sameElements(helloBytes))
    val u = java.util.UUID.fromString("0bd838a5-b59c-4d0e-8c7a-3e2c1f09a1b2")
    val enc = DeletionVectors.encodeUuid(u)
    assert(enc.length == 20)
    assert(DeletionVectors.decodeUuid(enc) == u)
    // an invalid character (space is not in the alphabet) refuses
    intercept[IllegalArgumentException](DeletionVectors.z85Decode("Hello Worl"))
  }

  test("roaring: serialize/deserialize round-trips across container kinds and 64-bit bases") {
    def rt(ps: Array[Long]): Unit = {
      val got = DeletionVectors.deserialize(DeletionVectors.serialize(ps))
      assert(got.toSeq == ps.distinct.sorted.toSeq, s"for ${ps.take(10).mkString(",")}...")
    }
    rt(Array.empty[Long])
    rt(Array(0L))
    rt(Array(7L, 3L, 7L, 65535L, 65536L, 131071L)) // dup + key boundary
    // > 4096 values in one 16-bit key span: bitmap container
    rt((0L until 5000L).map(_ * 2).toArray)
    // dense-to-full container
    rt((0L until 65536L).toArray)
    // positions above 2^32: second bitmap, with an EMPTY gap bitmap in
    // between (index 1 has no values, index 0 and 2 do)
    rt(Array(5L, (2L << 32) | 9L, (2L << 32) | 70000L))
    // seeded fuzz: mixed sparse/dense
    val rnd = new scala.util.Random(14)
    rt(Array.fill(20000)(rnd.nextLong(1L << 40)))
  }

  test("roaring: reads the 12347 run-container form our writer never emits") {
    // hand-laid-out RoaringBitmapArray: one bitmap, one RUN container
    // holding runs [5..8] and [20..20] — cookie 12347 with size-1 in
    // the upper 16 bits, run bitset 0x01, no offsets (< 4 containers)
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >>> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    le32(1681511377) // portable magic
    le32(1); le32(0) // bitmap count = 1 (little-endian int64)
    le32(12347 | (0 << 16)) // SERIAL_COOKIE, 1 container
    bos.write(0x01) // run bitset: container 0 is a run
    le16(0); le16(5 - 1) // key 0, cardinality 5
    le16(2) // number of runs
    le16(5); le16(3) // run: start 5, 3 MORE values -> 5,6,7,8
    le16(20); le16(0) // run: start 20, just 20
    val got = DeletionVectors.deserialize(bos.toByteArray)
    assert(got.toSeq == Seq(5L, 6L, 7L, 8L, 20L))
  }

  test("DV file + inline descriptors round-trip; torn vectors refuse by cardinality/CRC") {
    val dir = freshDir("dvio")
    val conf = Fs.conf(spark)
    val ps = Array(0L, 3L, 4L, 100000L)
    val d = DeletionVectors.writeDvFile(conf, dir, ps)
    assert(d.storageType == "u" && d.cardinality == 4L && d.offset == 1)
    val abs = s"$dir/${DeletionVectors.relativePath(d.pathOrInlineDv)}"
    assert(DeletionVectors.loadPositions(conf, d, abs).toSeq == ps.toSeq)
    // inline
    val di = DeletionVectors.inlineDescriptor(Array(1L, 2L))
    assert(DeletionVectors.loadPositions(conf, di, "").toSeq == Seq(1L, 2L))
    // a descriptor lying about cardinality refuses rather than
    // silently under/over-deleting
    val lying = d.copy(cardinality = 5L)
    val e = intercept[IllegalArgumentException](DeletionVectors.loadPositions(conf, lying, abs))
    assert(e.getMessage.contains("cardinality"))
    // flip one data byte: CRC refusal (framing offset 1 version + 4 size,
    // so byte 7 is inside the bitmap data)
    val p = new org.apache.hadoop.fs.Path(abs)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val all = try { val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt); in.readFully(b); b }
      finally in.close()
    all(7) = (all(7) ^ 0x40).toByte
    val out = fs.create(p, true)
    try out.write(all) finally out.close()
    val e2 = intercept[Exception](DeletionVectors.loadPositions(conf, d, abs))
    assert(e2.getMessage.contains("CRC") || e2.getMessage.contains("magic"))
  }

  test("foreign hand-written log with on-disk (prefixed) and inline vectors: read() masks exactly those rows") {
    val tbl = freshDir("dvforeign")
    val s1 = writeParquetFile(tbl, "f1.parquet", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val s2 = writeParquetFile(tbl, "f2.parquet", Seq((5L, "e"), (6L, "f")))
    // f1's vector: positions {0, 2} (k=1 and k=3), stored on disk under
    // a two-char random prefix exactly as foreign writers lay it out
    val uuid = java.util.UUID.randomUUID()
    val data = DeletionVectors.serialize(Array(0L, 2L))
    Fs.mkdirs(spark, s"$tbl/ab")
    val binPath = new org.apache.hadoop.fs.Path(s"$tbl/ab/deletion_vector_$uuid.bin")
    val out = new java.io.DataOutputStream(binPath.getFileSystem(Fs.conf(spark)).create(binPath, false))
    try {
      out.writeByte(1); out.writeInt(data.length); out.write(data)
      val c = new java.util.zip.CRC32(); c.update(data)
      out.writeInt(c.getValue.toInt)
    } finally out.close()
    val pathOrInline = "ab" + DeletionVectors.encodeUuid(uuid)
    // f2's vector: inline, position {1} (k=6)
    val di = DeletionVectors.inlineDescriptor(Array(1L))
    writeLogFile(tbl, 0L, Seq(
      dvProtocol,
      s"""{"metaData":{"id":"dv-aaaa","format":{"provider":"parquet","options":{}},"schemaString":"$handSchemaString","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$s1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$pathOrInline","offset":1,"sizeInBytes":${data.length},"cardinality":2}}}""",
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$s2,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"${di.pathOrInlineDv}","sizeInBytes":${di.sizeInBytes},"cardinality":1}}}"""))
    val got = DeltaLog.read(spark, tbl).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b"), (4L, "d"), (5L, "e")))
    assert(DeltaLog.read(spark, tbl).schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("deleteWhereDv lifecycle: union on overlap, checkpoint round-trip, vacuum keeps live DV'd files, protocol upgraded") {
    import spark.implicits._
    val tbl = freshDir("dvdml")
    val df = (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
    DeltaLog.append(spark, tbl, df.filter($"k" <= 20).repartition(1))
    DeltaLog.append(spark, tbl, df.filter($"k" > 20).repartition(1))
    // first merge-on-read delete: multiples of 5
    val (v1, touched1, del1) = DeltaLog.deleteWhereDv(spark, tbl, col("k") % 5 === 0)
    assert(del1 == 8L && touched1.size == 2 && v1 == 2L)
    assert(DeltaLog.read(spark, tbl).count() == 32L)
    // data files were NOT rewritten — merge-on-read, not copy-on-write
    assert(Fs.listFiles(spark, tbl, _.endsWith(".parquet"))
      .count(f => !f._1.contains("_delta_log")) == 2)
    // overlapping second delete: multiples of 4 (20 and 40 already gone)
    val (_, touched2, del2) = DeltaLog.deleteWhereDv(spark, tbl, col("k") % 4 === 0)
    assert(del2 == 8L, s"10 multiples of 4, minus 20 and 40 already deleted; got $del2")
    val survivors = DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq
    assert(survivors == (1L to 40L).filter(k => k % 5 != 0 && k % 4 != 0))
    assert(touched2.size == 2)
    // the raw-consuming snapshot path refuses while vectors are live
    val e = intercept[UnsupportedOperationException](DeltaLog.snapshot(spark, tbl))
    assert(e.getMessage.contains("deletion vector"))
    // descriptors survive a parquet checkpoint + log cleanup
    DeltaLog.checkpoint(spark, tbl)
    assert(DeltaLog.cleanupLog(spark, tbl) > 0)
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq == survivors)
    // zero-retention vacuum reclaims nothing: DV'd files are fully live
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 0)
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq == survivors)
    // appends remain legal on a DV table (new files carry no vectors)
    DeltaLog.append(spark, tbl, Seq((100L, "x")).toDF("k", "v").repartition(1))
    assert(DeltaLog.read(spark, tbl).count() == survivors.size + 1L)
    // rewriting paths refuse by name rather than resurrecting rows
    val eo = intercept[UnsupportedOperationException](DeltaLog.optimize(spark, tbl))
    assert(eo.getMessage.contains("deletionVectors") || eo.getMessage.contains("deletion vector"))
    val ec = intercept[Exception](DeltaLog.changesSince(spark, tbl, 0L))
    assert(ec.getMessage.contains("deletionVector") || ec.getMessage.contains("deletion vector") ||
      ec.getMessage.contains("removes data"))
    // a no-match delete commits nothing
    val before = DeltaLog.latestVersion(spark, tbl)
    val (vSame, touchedNone, del0) = DeltaLog.deleteWhereDv(spark, tbl, col("k") > 10000)
    assert(vSame == before && touchedNone.isEmpty && del0 == 0L)
    // REORG PURGE materializes the vectors: content unchanged
    // (dataChange=false commit), and the raw-consuming paths work again
    val (vp, nPurged) = DeltaLog.reorgPurge(spark, tbl)
    assert(nPurged == 2 && vp == before + 1)
    val afterPurge = DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq
    assert(afterPurge == survivors :+ 100L)
    assert(DeltaLog.snapshot(spark, tbl)._2.nonEmpty) // no refusal: vectors gone
    val (nIn, nOut) = DeltaLog.optimize(spark, tbl, targetFiles = 1)
    assert(nOut == 1 && nIn >= 2)
    assert(DeltaLog.read(spark, tbl).select("k").as[Long].collect().sorted.toSeq == afterPurge)
    // purge on a vector-free table commits nothing
    val vNow = DeltaLog.latestVersion(spark, tbl)
    assert(DeltaLog.reorgPurge(spark, tbl) == (vNow, 0))
  }
}
