package graft.streaming

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** [[DeltaLog]] — the public `_delta_log` interchange format.
  *
  * The decisive test is the FOREIGN-LOG one: a minimal transaction log
  * written here BY HAND, character-for-character in the documented
  * protocol shape (delta-io/delta PROTOCOL.md) with none of our
  * writer's conventions (different file names, multi-action ordering,
  * fields we never emit like `tags` and `stats`), must replay to
  * exactly the right live set. That proves the reader implements the
  * format, not merely its own writer's dialect; the writer side is
  * proven by the `pipe_delta_log` oracle entry plus the action-shape
  * assertions below.
  */
class DeltaLogSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"${targetDir("test-delta")}/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    Fs.deleteRec(spark, d)
    Fs.mkdirs(spark, d)
    d
  }

  /** `body`'s result and the WARN messages Spark's `DataSource` logged
    * while it ran. */
  private def withDataSourceWarns[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("datasource-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warns.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    val out = try body finally { logger.removeAppender(capture); capture.stop() }
    (out, warns.toArray(Array.empty[String]).toSeq)
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

  private val handPartSchemaString =
    """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""

  test("replays a hand-written foreign _delta_log (adds, removes, schema, versions)") {
    val tbl = freshDir("foreign")
    val s1 = writeParquetFile(tbl, "f1.snappy.parquet", Seq((1L, "a"), (2L, "b")))
    val s2 = writeParquetFile(tbl, "f2.snappy.parquet", Seq((3L, "c")))
    val s3 = writeParquetFile(tbl, "f3.snappy.parquet", Seq((4L, "d"), (5L, "e")))
    // v0: protocol + metaData + two adds, with fields our writer never
    // emits (commitInfo, tags, stats) that a reader must tolerate
    writeLogFile(tbl, 0L, Seq(
      """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Append"}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"$handSchemaString","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
      s"""{"add":{"path":"f1.snappy.parquet","partitionValues":{},"size":$s1,"modificationTime":1700000000001,"dataChange":true,"stats":"{\\"numRecords\\":2}"}}""",
      s"""{"add":{"path":"f2.snappy.parquet","partitionValues":{},"size":$s2,"modificationTime":1700000000002,"dataChange":true,"tags":{}}}"""))
    // v1: retire f2, add f3
    writeLogFile(tbl, 1L, Seq(
      s"""{"remove":{"path":"f2.snappy.parquet","deletionTimestamp":1700000001000,"dataChange":true}}""",
      s"""{"add":{"path":"f3.snappy.parquet","partitionValues":{},"size":$s3,"modificationTime":1700000001001,"dataChange":true}}"""))

    val (v0, live0, schema0) = DeltaLog.snapshot(spark, tbl, 0L)
    assert(v0 == 0L && live0.toSet == Set("f1.snappy.parquet", "f2.snappy.parquet"))
    assert(schema0.fieldNames.toSeq == Seq("k", "v"))
    val (v1, live1, _) = DeltaLog.snapshot(spark, tbl)
    assert(v1 == 1L && live1.toSet == Set("f1.snappy.parquet", "f3.snappy.parquet"))

    assert(DeltaLog.read(spark, tbl, 0L).select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
    assert(DeltaLog.read(spark, tbl).select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 4L, 5L)))
  }

  test("multi-part foreign checkpoint from a NON-SPARK writer seeds replay; torn sets never do") {
    // the r12 verdict's residual: the single-file foreign-checkpoint test
    // still produced its parquet through Spark's own writer. This one is
    // written with parquet-mr's Group API — a genuinely different writer
    // (different row conversion, encodings, no Spark involvement) — in
    // the protocol's MULTI-PART form <v>.checkpoint.<i>.<n>.parquet,
    // with a commitInfo column we never write and jumbled field order.
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val tbl = freshDir("foreign-multickpt")
    val s1 = writeParquetFile(tbl, "f1.snappy.parquet", Seq((1L, "a"), (2L, "b")))
    val s2 = writeParquetFile(tbl, "f2.snappy.parquet", Seq((3L, "c")))
    val msg = MessageTypeParser.parseMessageType(
      """message delta_checkpoint {
        |  optional group commitInfo { optional binary operation (UTF8); }
        |  optional group txn { optional binary appId (UTF8); optional int64 version; }
        |  optional group remove {
        |    optional binary path (UTF8);
        |    optional int64 deletionTimestamp;
        |    optional boolean dataChange;
        |  }
        |  optional group add {
        |    optional boolean dataChange;
        |    optional binary stats (UTF8);
        |    optional binary path (UTF8);
        |    optional int64 size;
        |    optional int64 modificationTime;
        |  }
        |  optional group metaData {
        |    optional binary schemaString (UTF8);
        |    optional binary id (UTF8);
        |    optional group format { optional binary provider (UTF8); }
        |    optional int64 createdTime;
        |  }
        |  optional group protocol {
        |    optional int32 minReaderVersion;
        |    optional int32 minWriterVersion;
        |  }
        |}""".stripMargin)
    val rawSchemaString = handSchemaString.replace("\\\"", "\"")
    Fs.mkdirs(spark, s"$tbl/_delta_log")
    def writePart(i: Int, n: Int, fill: SimpleGroup => Unit*): String = {
      val name = f"$tbl/_delta_log/${5L}%020d.checkpoint.$i%010d.$n%010d.parquet"
      val w = ExampleParquetWriter.builder(
          org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(new org.apache.hadoop.fs.Path(name), Fs.conf(spark)))
        .withType(msg).build()
      try fill.foreach { f => val g = new SimpleGroup(msg); f(g); w.write(g) }
      finally w.close()
      name
    }
    // part 1 of 2: commitInfo (foreign extra), protocol, metaData
    writePart(1, 2,
      g => g.addGroup("commitInfo").append("operation", "CHECKPOINT"),
      g => { val p = g.addGroup("protocol")
        p.add("minReaderVersion", 1); p.add("minWriterVersion", 2) },
      g => { val m = g.addGroup("metaData")
        m.append("schemaString", rawSchemaString)
        m.append("id", "abcdabcd-1111-2222-3333-444455556666")
        m.addGroup("format").append("provider", "parquet")
        m.add("createdTime", 1700000000000L) })
    // part 2 of 2: txn watermark, a tombstone, the live add
    val part2 = writePart(2, 2,
      g => { val t = g.addGroup("txn")
        t.append("appId", "foreign-multi"); t.add("version", 7L) },
      g => { val r = g.addGroup("remove")
        r.append("path", "gone.parquet")
        r.add("deletionTimestamp", 1700000000004L); r.add("dataChange", true) },
      g => { val a = g.addGroup("add")
        a.add("dataChange", true)
        a.append("stats", """{"numRecords":2}""")
        a.append("path", "f1.snappy.parquet")
        a.add("size", s1); a.add("modificationTime", 1700000000001L) })
    // v0..v4 retention-cleaned by the foreign engine; one tail commit
    writeLogFile(tbl, 6L, Seq(
      s"""{"add":{"path":"f2.snappy.parquet","partitionValues":{},"size":$s2,"modificationTime":1700000001001,"dataChange":true}}"""))

    assert(DeltaLog.checkpointVersions(spark, tbl) == Seq(5L))
    val (v, live, schema) = DeltaLog.snapshot(spark, tbl)
    assert(v == 6L && live == Seq("f1.snappy.parquet", "f2.snappy.parquet"))
    assert(schema.fieldNames.toSeq == Seq("k", "v"))
    assert(DeltaLog.read(spark, tbl).select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
    assert(DeltaLog.lastTxnVersion(spark, tbl, "foreign-multi") == 7L)
    // checkpoint-only read (no tail): the two parts alone define v5
    assert(DeltaLog.read(spark, tbl, 5L).count() == 2)
    // TORN SET: with one part missing the version must vanish from the
    // checkpoint listing, and replay (whose JSON history below v5 was
    // retention-cleaned) must fail loud, not seed from half a snapshot
    Fs.deleteIfExists(spark, part2)
    assert(DeltaLog.checkpointVersions(spark, tbl).isEmpty)
    intercept[IllegalStateException](DeltaLog.snapshot(spark, tbl))
  }

  test("read: one FileSourceScanExec; partition predicate prunes via the log index, no listing") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tbl = freshDir("native")
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    DeltaLog.append(spark, tbl, ev.repartition(2), partitionBy = Seq("event_type"))
    val totalFiles = DeltaLog.snapshot(spark, tbl)._2.size
    val q = DeltaLog.read(spark, tbl).filter(col("event_type") === "purchase")
    // execute q ITSELF so ITS scan's metrics populate (an .agg would be
    // a separate QueryExecution whose metrics never tick here)
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    val want = ev.filter(col("event_type") === "purchase")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want, "native pruned read disagrees with the batch filter")
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one native scan, got ${scans.size}")
    assert(scans.head.metadata("PartitionFilters").contains("event_type"),
      s"no partition filter reached the scan: ${scans.head.metadata}")
    val scanned = scans.head.metrics("numFiles").value
    assert(scanned > 0 && scanned < totalFiles,
      s"log-index pruning read $scanned of $totalFiles files")
    // relation-level column pruning must still reach parquet (separate
    // narrow projection — q above materializes every column by design)
    val narrow = DeltaLog.read(spark, tbl)
      .filter(col("event_type") === "purchase").select("event_id")
    narrow.collect()
    val rs = narrow.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head.metadata("ReadSchema")
    assert(!rs.contains("value"), s"unpruned ReadSchema: $rs")
  }

  test("read: dynamic partition pruning fires over a Delta fact table") {
    val tbl = freshDir("nativedpp")
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    DeltaLog.append(spark, tbl, ev.repartition(2), partitionBy = Seq("event_type"))
    // dim filtered on a NON-KEY attribute: only runtime DPP can prune
    val dim = spark.range(0, 10)
      .select(concat(lit("t"), col("id")).as("d_name"),
        when(col("id") === 3, lit("purchase")).otherwise(concat(lit("x"), col("id")))
          .as("d_type"))
      .filter(col("d_name") === "t3")
    val j = DeltaLog.read(spark, tbl).join(dim, col("event_type") === col("d_type"))
    val got = j.count()
    val want = ev.filter(col("event_type") === "purchase").count()
    assert(got == want && got > 0)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning subquery over the Delta scan:\n${plan.take(4000)}")
  }

  test("read: foreign flat-layout table with a null partition value reads protocol-literally") {
    val tbl = freshDir("nativenull")
    val s1 = writeParquetFile(tbl, "f1.snappy.parquet", Seq((1L, "a"), (2L, "b")))
    val s2 = writeParquetFile(tbl, "f2.snappy.parquet", Seq((3L, "c")))
    // partitioned metaData, files flat at the root, one null partition
    // value — partition column must rebuild from the LOG, not paths
    writeLogFile(tbl, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"11111111-2222-3333-4444-666666666666","format":{"provider":"parquet","options":{}},"schemaString":"$handPartSchemaString","partitionColumns":["p"],"configuration":{},"createdTime":1700000000000}}""",
      s"""{"add":{"path":"f1.snappy.parquet","partitionValues":{"p":"g1"},"size":$s1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"f2.snappy.parquet","partitionValues":{"p":null},"size":$s2,"modificationTime":2,"dataChange":true}}"""))
    val df = DeltaLog.read(spark, tbl)
    assert(df.columns.toSeq == Seq("k", "v", "p"))
    val rows = df.select("k", "p").collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> Some("g1"), 2L -> Some("g1"), 3L -> None))
    // null-safe partition predicate evaluates against the log values
    assert(df.filter(col("p").isNull).count() == 1)
    assert(df.filter(col("p") === "g1").count() == 2)
  }

  test("read: add-action stats data-skip files inside the native scan; fractional columns stay conservative") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tbl = freshDir("nativeskip")
    val ord = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    // 4 key-disjoint commits → 4 files with tight, disjoint o_orderkey
    // ranges in their stats
    val keys = ord.select(col("o_orderkey")).orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    val cuts = Seq(keys(keys.length / 4), keys(keys.length / 2), keys(3 * keys.length / 4))
    val slices = Seq(
      ord.filter(col("o_orderkey") < cuts(0)),
      ord.filter(col("o_orderkey") >= cuts(0) && col("o_orderkey") < cuts(1)),
      ord.filter(col("o_orderkey") >= cuts(1) && col("o_orderkey") < cuts(2)),
      ord.filter(col("o_orderkey") >= cuts(2)))
    slices.foreach(s => DeltaLog.append(spark, tbl, s.coalesce(1),
      statsCols = Seq("o_orderkey", "o_totalprice")))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }.head.metrics("numFiles").value
    }
    // equality inside one slice's range → exactly 1 of 4 files opened
    val q1 = DeltaLog.read(spark, tbl).filter(col("o_orderkey") === keys(2))
    assert(q1.count() == 1)
    assert(scannedFiles(DeltaLog.read(spark, tbl)
      .filter(col("o_orderkey") === keys(2))) == 1L)
    // a range predicate spanning two slices → 2 files
    assert(scannedFiles(DeltaLog.read(spark, tbl)
      .filter(col("o_orderkey") >= cuts(1) - 1 && col("o_orderkey") < cuts(2))) == 2L)
    // fractional column (o_totalprice double): truncated long stats are
    // not tight → NO skipping may happen on it, all 4 files open
    assert(scannedFiles(DeltaLog.read(spark, tbl)
      .filter(col("o_totalprice") < 2000.0)) == 4L)
    // values must equal the plain filter regardless of skipping
    val got = DeltaLog.read(spark, tbl)
      .filter(col("o_orderkey") < cuts(0)).agg(sum("o_orderkey")).head.getLong(0)
    val want = ord.filter(col("o_orderkey") < cuts(0)).agg(sum("o_orderkey")).head.getLong(0)
    assert(got == want)
  }

  test("writer emits protocol-complete actions a foreign reader needs") {
    import spark.implicits._
    val tbl = freshDir("emit")
    DeltaLog.append(spark, tbl, Seq((1L, "x"), (2L, "y")).toDF("k", "v").repartition(2))
    DeltaLog.overwrite(spark, tbl, Seq((9L, "z")).toDF("k", "v").coalesce(1))

    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def actions(v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val p = new org.apache.hadoop.fs.Path(f"$tbl/_delta_log/$v%020d.json")
      val in = p.getFileSystem(Fs.conf(spark)).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(m.readTree).toList
      finally in.close()
    }

    val v0 = actions(0L)
    val proto = v0.find(_.has("protocol")).get.get("protocol")
    assert(proto.get("minReaderVersion").asInt == 1 && proto.get("minWriterVersion").asInt == 2)
    val md = v0.find(_.has("metaData")).get.get("metaData")
    assert(md.get("format").get("provider").asText == "parquet")
    assert(md.has("id") && md.has("partitionColumns") && md.has("configuration"))
    // schemaString must be Spark StructType JSON (Delta's serialization)
    val parsed = org.apache.spark.sql.types.DataType.fromJson(md.get("schemaString").asText())
    assert(parsed.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq == Seq("k", "v"))
    val adds0 = v0.filter(_.has("add")).map(_.get("add"))
    assert(adds0.size == 2)
    adds0.foreach { a =>
      assert(a.has("path") && a.has("partitionValues") && a.has("size") &&
        a.has("modificationTime") && a.get("dataChange").asBoolean)
      assert(Fs.exists(spark, s"$tbl/${a.get("path").asText}"))
    }

    val v1 = actions(1L)
    assert(v1.count(_.has("remove")) == 2 && v1.count(_.has("add")) == 1)
    v1.filter(_.has("remove")).foreach(r =>
      assert(r.get("remove").has("deletionTimestamp") && r.get("remove").get("dataChange").asBoolean))

    assert(DeltaLog.read(spark, tbl).collect().toSeq == Seq(Row(9L, "z")))
  }

  test("txn action gives exactly-once batch appends: replays skip, watermark survives overwrite-free history") {
    import spark.implicits._
    val tbl = freshDir("txn")
    assert(DeltaLog.appendBatch(spark, tbl, "ingest", 0L, Seq((1L, "a")).toDF("k", "v").coalesce(1)))
    assert(DeltaLog.appendBatch(spark, tbl, "ingest", 1L, Seq((2L, "b")).toDF("k", "v").coalesce(1)))
    // full redelivery from a fresh checkpoint: every batch replays, none commits
    assert(!DeltaLog.appendBatch(spark, tbl, "ingest", 0L, Seq((1L, "a")).toDF("k", "v").coalesce(1)))
    assert(!DeltaLog.appendBatch(spark, tbl, "ingest", 1L, Seq((2L, "b")).toDF("k", "v").coalesce(1)))
    assert(DeltaLog.lastTxnVersion(spark, tbl, "ingest") == 1L)
    assert(DeltaLog.lastTxnVersion(spark, tbl, "other") == -1L)
    assert(DeltaLog.read(spark, tbl).count() == 2, "replay double-appended")
    // a different writer identity is independent
    assert(DeltaLog.appendBatch(spark, tbl, "other", 0L, Seq((3L, "c")).toDF("k", "v").coalesce(1)))
    assert(DeltaLog.read(spark, tbl).count() == 3)
  }

  test("add-action stats drive named-column data skipping; stats-less and foreign files are kept conservatively") {
    import spark.implicits._
    val tbl = freshDir("stats")
    // four range-disjoint appends, each one file with k-stats; reading
    // the stats back raises no DataSource warning
    val (_, appendWarns) = withDataSourceWarns {
      Seq(0L to 9L, 10L to 19L, 20L to 29L, 30L to 39L).foreach { r =>
        DeltaLog.append(spark, tbl, r.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
          statsCols = Seq("k"))
      }
    }
    assert(appendWarns.isEmpty, s"stats appends warned: $appendWarns")
    val (kept, total) = DeltaLog.pruneFiles(spark, tbl, Map("k" -> (12L, 17L)))
    assert(total == 4 && kept.size == 1, s"expected 1/4 files, got ${kept.size}/$total")
    // the pruned scan still answers the range correctly
    val rows = spark.read.parquet(kept.map(f => s"$tbl/$f"): _*)
      .filter($"k".between(12, 17)).count()
    assert(rows == 6)
    // a stats-less append (no statsCols) is always kept
    DeltaLog.append(spark, tbl, Seq((100L, "x")).toDF("k", "v").coalesce(1))
    val (kept2, total2) = DeltaLog.pruneFiles(spark, tbl, Map("k" -> (12L, 17L)))
    assert(total2 == 5 && kept2.size == 2, "stats-less file must be kept conservatively")
    // querying a column the stats never covered keeps everything
    assert(DeltaLog.pruneFiles(spark, tbl, Map("zzz" -> (0L, 1L)))._1.size == 5)
    // stats parse as Delta's documented shape (JSON string on the add)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val (_, adds, _) = DeltaLog.liveAdds(spark, tbl)
    val withStats = adds.flatMap { case (_, a) => Option(a.get("stats")) }
    assert(withStats.size == 4)
    val st = m.readTree(withStats.head.asText())
    assert(st.get("numRecords").asLong == 10 &&
      st.get("minValues").has("k") && st.get("maxValues").has("k") &&
      st.get("nullCount").get("k").asLong == 0)
    // OPTIMIZE rewrites to stats-less files: pruning keeps them all and
    // the ranged read stays exact through the residual predicate
    DeltaLog.optimize(spark, tbl, targetFiles = 1)
    val (kept3, total3) = DeltaLog.pruneFiles(spark, tbl, Map("k" -> (12L, 17L)))
    assert(total3 == 1 && kept3.size == 1, "stats-less files must never be pruned")
    assert(spark.read.parquet(kept3.map(f => s"$tbl/$f"): _*)
      .filter($"k".between(12, 17)).count() == 6)

    // an all-NULL stats column records no min/max: its file is kept
    val nt = freshDir("stats-null")
    DeltaLog.append(spark, nt, Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .withColumn("n", lit(null).cast("long")).coalesce(1), statsCols = Seq("n"))
    assert(DeltaLog.pruneFiles(spark, nt, Map("n" -> (0L, 1L)))._1.size == 1)

    // 2-D named stats: the same orders rows, one file per slab, laid out
    // by a z-order slab over (o_custkey, order day) and by an orderkey
    // hash. Z-ordered files have tight boxes in BOTH dimensions, so a box
    // read prunes; hash files each span both full ranges, so none prunes
    val z = graft.operators.Relational.withZval(Tables.orders(spark, sf))
      .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
      .select("o_orderkey", "o_custkey", "d", "zval")
    def layout(tag: String, slab: Column): String = {
      val t = freshDir(tag)
      DeltaLog.append(spark, t, z.withColumn("slab", slab).drop("zval").repartition(col("slab")),
        statsCols = Seq("o_custkey", "d"), partitionBy = Seq("slab"))
      t
    }
    val ((ztbl, htbl), layoutWarns) = withDataSourceWarns(
      (layout("stats-z", expr("zval div 8192")), layout("stats-hash", col("o_orderkey") % 8)))
    assert(layoutWarns.isEmpty, s"partitioned stats appends warned: $layoutWarns")
    val r = z.agg(min(col("o_custkey")), max(col("o_custkey")),
      min(col("d")), max(col("d"))).first()
    val (cl, ch, dl, dh) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val box = Map(
      "o_custkey" -> (cl + (ch - cl) / 4, cl + (ch - cl) * 3 / 4),
      "d" -> (dl + (dh - dl) / 4, dl + (dh - dl) * 3 / 4))
    val (keptZ, totZ) = DeltaLog.pruneFiles(spark, ztbl, box)
    val (keptH, totH) = DeltaLog.pruneFiles(spark, htbl, box)
    assert(totH == 8 && keptH.size == totH,
      s"uncorrelated layout should keep every file, kept ${keptH.size}/$totH")
    assert(keptZ.size < totZ, s"z-order layout must prune, kept ${keptZ.size}/$totZ")
    // the pruned read is still exact
    val inBox = (df: org.apache.spark.sql.DataFrame) => df.filter(
      col("o_custkey").between(box("o_custkey")._1, box("o_custkey")._2) &&
        col("d").between(box("d")._1, box("d")._2))
    assert(inBox(spark.read.parquet(keptZ.map(DeltaLog.resolvedPath(ztbl, _)): _*)).count() ==
      inBox(z).count())
  }

  test("checkpoint round-trip: checkpoint+tail replay equals pure JSON replay; cleanup keeps the table readable") {
    import spark.implicits._
    val tbl = freshDir("ckpt")
    // history with every action kind: stats-bearing appends, a txn
    // batch, an overwrite (removes -> tombstones in the checkpoint)
    Seq(0L to 9L, 10L to 19L, 20L to 29L).foreach { r =>
      DeltaLog.append(spark, tbl, r.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
        statsCols = Seq("k"))
    }
    assert(DeltaLog.appendBatch(spark, tbl, "ing", 7L,
      Seq((100L, "x")).toDF("k", "v").coalesce(1), checkpointEvery = 0))
    DeltaLog.overwrite(spark, tbl,
      (0L to 14L).map(k => (k, s"w$k")).toDF("k", "v").repartition(2))
    DeltaLog.append(spark, tbl, Seq((200L, "y")).toDF("k", "v").coalesce(1),
      statsCols = Seq("k"))
    // pure-JSON state BEFORE any checkpoint exists
    val (vJ, liveJ, schemaJ) = DeltaLog.snapshot(spark, tbl)
    val dataJ = DeltaLog.read(spark, tbl).collect().map(r => (r.getLong(0), r.getString(1))).sorted

    val cv = DeltaLog.checkpoint(spark, tbl)
    assert(cv == vJ)
    assert(DeltaLog.lastCheckpointHint(spark, tbl).exists(_._1 == cv))
    // same state through checkpoint-seeded replay (checkpoint <= v, tail empty)
    val (vC, liveC, schemaC) = DeltaLog.snapshot(spark, tbl)
    assert(vC == vJ && liveC == liveJ && schemaC == schemaJ)
    assert(DeltaLog.lastTxnVersion(spark, tbl, "ing") == 7L)

    // tail commits after the checkpoint compose with it
    DeltaLog.append(spark, tbl, Seq((300L, "z")).toDF("k", "v").coalesce(1))
    assert(DeltaLog.read(spark, tbl).count() == dataJ.length + 1)

    // retention cleanup: pre-checkpoint JSON goes away, table unchanged
    val removed = DeltaLog.cleanupLog(spark, tbl)
    assert(removed == cv, s"expected $cv stale files removed, got $removed")
    val dataAfter = DeltaLog.read(spark, tbl).filter($"k" < 300).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(dataAfter.sameElements(dataJ), "cleanup changed the replayed table")
    // txn watermark survives cleanup (rides in the checkpoint's txn rows)
    assert(DeltaLog.lastTxnVersion(spark, tbl, "ing") == 7L)
    // stats survive the checkpoint: a range disjoint from the one
    // stats-bearing live file (the k=200 append) prunes exactly it,
    // while stats-less files stay conservatively
    val (kept, total) = DeltaLog.pruneFiles(spark, tbl, Map("k" -> (500L, 600L)))
    assert(total == 4 && kept.size == 3, "add stats lost through the checkpoint")
    // time travel below the checkpoint is now gone, with a clear error
    val e = intercept[IllegalStateException](DeltaLog.read(spark, tbl, 1L))
    assert(e.getMessage.contains("retention-cleaned"))
  }

  test("streaming sink checkpoints on Delta's cadence and stays exactly-once across cleanup") {
    import spark.implicits._
    val tbl = freshDir("ckpt-stream")
    (0 until 12).foreach { i =>
      assert(DeltaLog.appendBatch(spark, tbl, "s", i.toLong,
        Seq((i.toLong, s"b$i")).toDF("k", "v").coalesce(1)))
    }
    // default cadence: first checkpoint once 10 commits accumulate (v9)
    assert(DeltaLog.checkpointVersions(spark, tbl) == Seq(9L))
    DeltaLog.cleanupLog(spark, tbl)
    // a replayed pre-checkpoint batch is STILL skipped — its txn
    // watermark lives in the checkpoint, not the deleted JSON
    assert(!DeltaLog.appendBatch(spark, tbl, "s", 3L,
      Seq((3L, "b3")).toDF("k", "v").coalesce(1)))
    assert(DeltaLog.read(spark, tbl).count() == 12)
  }

  test("reads a hand-written foreign checkpoint with no pre-checkpoint JSON and foreign extras") {
    import spark.implicits._
    val tbl = freshDir("foreign-ckpt")
    val s1 = writeParquetFile(tbl, "f1.snappy.parquet", Seq((1L, "a"), (2L, "b")))
    val s2 = writeParquetFile(tbl, "f2.snappy.parquet", Seq((3L, "c")))
    // checkpoint at v5 written by a FOREIGN engine: different column
    // order, an `add.tags` field we never emit, a tombstone, a txn row;
    // the v0..v4 JSON history was retention-cleaned by that engine
    val foreignRows = Seq(
      s"""{"metaData":{"id":"99999999-0000-0000-0000-000000000000","format":{"provider":"parquet","options":{}},"schemaString":"$handSchemaString","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"txn":{"appId":"foreign-writer","version":41,"lastUpdated":1700000000005}}""",
      """{"remove":{"path":"old.parquet","deletionTimestamp":1700000000004,"dataChange":true}}""",
      s"""{"add":{"path":"f1.snappy.parquet","partitionValues":{},"size":$s1,"modificationTime":1700000000001,"dataChange":true,"tags":{"INSERTION_TIME":"1"},"stats":"{\\"numRecords\\":2}"}}""")
    val foreignSchema = org.apache.spark.sql.types.DataType.fromDDL(
      """add STRUCT<path: STRING, dataChange: BOOLEAN, modificationTime: BIGINT,
        |  partitionValues: MAP<STRING,STRING>, size: BIGINT,
        |  stats: STRING, tags: MAP<STRING,STRING>>,
        |metaData STRUCT<id: STRING, format: STRUCT<provider: STRING,
        |  options: MAP<STRING,STRING>>, schemaString: STRING,
        |  partitionColumns: ARRAY<STRING>, configuration: MAP<STRING,STRING>,
        |  createdTime: BIGINT>,
        |protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT>,
        |remove STRUCT<path: STRING, deletionTimestamp: BIGINT, dataChange: BOOLEAN>,
        |txn STRUCT<appId: STRING, version: BIGINT, lastUpdated: BIGINT>"""
        .stripMargin).asInstanceOf[org.apache.spark.sql.types.StructType]
    val scratch = s"$tbl/.mk_ckpt"
    spark.read.schema(foreignSchema).json(spark.createDataset(foreignRows))
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    Fs.mkdirs(spark, s"$tbl/_delta_log")
    val part = Fs.listFiles(spark, scratch, _.endsWith(".parquet")).head
    Fs.renameOrFail(spark, part._1, f"$tbl/_delta_log/${5L}%020d.checkpoint.parquet")
    Fs.deleteRec(spark, scratch)
    // one tail commit after the foreign checkpoint
    writeLogFile(tbl, 6L, Seq(
      s"""{"add":{"path":"f2.snappy.parquet","partitionValues":{},"size":$s2,"modificationTime":1700000001001,"dataChange":true}}"""))

    val (v, live, schema) = DeltaLog.snapshot(spark, tbl)
    assert(v == 6L && live == Seq("f1.snappy.parquet", "f2.snappy.parquet"))
    assert(schema.fieldNames.toSeq == Seq("k", "v"))
    assert(DeltaLog.read(spark, tbl).select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
    // foreign txn watermark and stats visible through the checkpoint
    assert(DeltaLog.lastTxnVersion(spark, tbl, "foreign-writer") == 41L)
    assert(DeltaLog.pruneFiles(spark, tbl, Map("zzz" -> (0L, 1L)))._1.size == 2)
    // with NO tail at all the checkpoint alone defines the table
    assert(DeltaLog.read(spark, tbl, 5L).count() == 2)
  }

  test("optimize bin-packs live files with dataChange=false; vacuum reclaims tombstones and orphans, never live files") {
    import spark.implicits._
    val tbl = freshDir("optimize")
    (0 until 6).foreach { i =>
      DeltaLog.append(spark, tbl, Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    }
    val before = DeltaLog.read(spark, tbl).collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val (nIn, nOut) = DeltaLog.optimize(spark, tbl, targetFiles = 2)
    assert(nIn == 6 && nOut == 2)
    val (_, live, _) = DeltaLog.snapshot(spark, tbl)
    assert(live.size == 2)
    assert(DeltaLog.read(spark, tbl).collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .sameElements(before), "optimize changed table content")
    // the protocol marker: every action in the optimize commit says dataChange=false
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val v = DeltaLog.latestVersion(spark, tbl)
    val p = new org.apache.hadoop.fs.Path(f"$tbl/_delta_log/$v%020d.json")
    val in = p.getFileSystem(Fs.conf(spark)).open(p)
    val acts = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(m.readTree).toList finally in.close()
    assert(acts.size == 8 && acts.forall { n =>
      val a = if (n.has("add")) n.get("add") else n.get("remove")
      !a.get("dataChange").asBoolean
    })
    // optimize is idempotent at the target
    assert(DeltaLog.optimize(spark, tbl, targetFiles = 2) == (2, 2))

    // vacuum: 6 tombstoned originals + a crashed writer's orphan go;
    // the 2 live files stay; time travel below the rewrite dies
    writeParquetFile(tbl, "orphan-crashed-write.parquet", Seq((99L, "x")))
    def diskDataFiles: Int = Fs.listFiles(spark, tbl, _.endsWith(".parquet"))
      .count(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName != "_delta_log")
    assert(diskDataFiles == 9)
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 600000L) == 0,
      "retention must protect files younger than the window")
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 7)
    assert(diskDataFiles == 2)
    assert(DeltaLog.read(spark, tbl).collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .sameElements(before), "vacuum touched a live file")
    intercept[Exception](DeltaLog.read(spark, tbl, 2L).collect())
  }

  test("vacuum reclaims a dead writer's scratch dir once stale, and never a fresh one inside the retention") {
    import spark.implicits._
    val tbl = freshDir("vacuum-scratch")
    DeltaLog.append(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    // two writers killed inside their scratch writes: one 8 days ago, one now
    def scratch(name: String): java.io.File = {
      Seq((9L, "x")).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$tbl/$name")
      new java.io.File(s"$tbl/$name")
    }
    val dead = scratch(".scratch_dead0001")
    val week8 = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    java.nio.file.Files.walk(dead.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => f.toFile.setLastModified(week8))
    val fresh = scratch(".scratch_fresh001")
    assert(DeltaLog.vacuum(spark, tbl) == 1)
    assert(!dead.exists, "a scratch dir older than the retention survived vacuum")
    assert(fresh.exists, "vacuum reclaimed a scratch dir inside the retention window")
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 1)
    assert(!fresh.exists, "vacuum(0) left a scratch dir behind")
    assert(DeltaLog.read(spark, tbl).count() == 2, "vacuum touched a live file")
  }

  test("vacuum reclaims a killed commit's aged .tmp_ temp and its .crc sidecar, and never a fresh one inside the retention") {
    import spark.implicits._
    val tbl = freshDir("vacuum-tmp")
    DeltaLog.append(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    // two committers killed between writing their temp and linking it
    // into the log (DeltaLog.commit's window): one 8 days ago, one now;
    // written through the checksum filesystem as commit writes them
    def temp(name: String): (java.io.File, java.io.File) = {
      val p = new org.apache.hadoop.fs.Path(s"$tbl/$name")
      val out = p.getFileSystem(Fs.conf(spark)).create(p, false)
      try out.write("{\"commitInfo\":{}}\n".getBytes("UTF-8")) finally out.close()
      (new java.io.File(s"$tbl/$name"), new java.io.File(s"$tbl/.$name.crc"))
    }
    val (dead, deadCrc) = temp(".tmp_00000000-dead")
    val (fresh, freshCrc) = temp(".tmp_00000000-fresh")
    assert(deadCrc.exists, "the temp has no checksum sidecar")
    val week8 = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    Seq(dead, deadCrc).foreach(f => assert(f.setLastModified(week8)))
    assert(DeltaLog.vacuum(spark, tbl) == 1)
    assert(!dead.exists && !deadCrc.exists, "an aged commit temp or its .crc survived vacuum")
    assert(fresh.exists && freshCrc.exists, "vacuum reclaimed a commit temp inside the retention window")
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0L) == 1)
    assert(!fresh.exists && !freshCrc.exists, "vacuum(0) left a commit temp behind")
    assert(DeltaLog.read(spark, tbl).count() == 2, "vacuum touched a live file")
    assert(DeltaLog.latestVersion(spark, tbl) == 0L)
  }

  test("optimize racing an overwrite aborts cleanly: content wins over layout") {
    import spark.implicits._
    val tbl = freshDir("optimize-race")
    (0 until 4).foreach { i =>
      DeltaLog.append(spark, tbl, Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    }
    // interleave an overwrite inside optimize's read->commit window by
    // racing the two from separate threads until the overwrite lands
    // between optimize's snapshot and its commit at least once; the
    // table must end at the overwrite's content regardless of winner
    val ow = new Thread(() => {
      Thread.sleep(5)
      DeltaLog.overwrite(spark, tbl, Seq((100L, "z")).toDF("k", "v").coalesce(1))
    })
    ow.start()
    try DeltaLog.optimize(spark, tbl, targetFiles = 1)
    catch { case e: IllegalStateException => assert(e.getMessage.contains("concurrent")) }
    ow.join()
    assert(DeltaLog.read(spark, tbl).collect().toSeq == Seq(Row(100L, "z")),
      "optimize resurrected overwritten content")

    // an APPEND landing between optimize's rewrite and its commit is no
    // conflict: the commit rebases past it, the raced file survives, and
    // every version stays complete and readable
    val atbl = freshDir("optimize-append-race")
    (0 until 4).foreach { i =>
      DeltaLog.append(spark, atbl, Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    }
    val (nIn, nOut) = DeltaLog.optimize(spark, atbl, targetFiles = 1, beforeCommit = () => {
      DeltaLog.append(spark, atbl, Seq((4L, "v4")).toDF("k", "v").coalesce(1)); ()
    })
    assert((nIn, nOut) == ((4, 1)))
    assert(DeltaLog.latestVersion(spark, atbl) == 5, "4 appends, the raced append, then optimize")
    assert(DeltaLog.snapshot(spark, atbl)._2.size == 2, "1 compacted + 1 raced-append file")
    assert((0L to 5L).map(v => DeltaLog.read(spark, atbl, v).count()) == Seq(1L, 2L, 3L, 4L, 5L, 5L))
    assert(DeltaLog.vacuum(spark, atbl, retentionMs = 0L) == 4)
    assert(DeltaLog.read(spark, atbl).select("k").as[Long].collect().sorted.toSeq == (0L to 4L))
  }

  test("overwrite racing an append retires the raced files (rebase inside commit loop)") {
    import spark.implicits._
    val tbl = freshDir("race")
    DeltaLog.append(spark, tbl, Seq((1L, "a")).toDF("k", "v").coalesce(1))
    DeltaLog.append(spark, tbl, Seq((2L, "b")).toDF("k", "v").coalesce(1))
    DeltaLog.overwrite(spark, tbl, Seq((3L, "c")).toDF("k", "v").coalesce(1))
    val (_, live, _) = DeltaLog.snapshot(spark, tbl)
    assert(live.size == 1)
    assert(DeltaLog.read(spark, tbl).collect().toSeq == Seq(Row(3L, "c")))
    // every prior version stays readable (time travel over the log)
    assert(DeltaLog.read(spark, tbl, 1L).select("k").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    // a txn watermark is not a file: it rides through an overwrite, so a
    // redelivered batch still skips while the replaced version stays readable
    assert(DeltaLog.appendBatch(spark, tbl, "s", 0L, Seq((4L, "d")).toDF("k", "v").coalesce(1)))
    DeltaLog.overwrite(spark, tbl, Seq((5L, "e")).toDF("k", "v").coalesce(1))
    assert(!DeltaLog.appendBatch(spark, tbl, "s", 0L, Seq((4L, "d")).toDF("k", "v").coalesce(1)))
    assert(DeltaLog.read(spark, tbl).collect().toSeq == Seq(Row(5L, "e")))
    assert(DeltaLog.read(spark, tbl, 3L).select("k").as[Long].collect().sorted.toSeq == Seq(3L, 4L))

    // N writers appending at once each win one version: every loser of a
    // version race rebases onto the winner, so the versions run densely
    // 0..N-1 and every row survives
    val par = freshDir("append-threads")
    val n = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        try DeltaLog.append(spark, par, Seq((i.toLong, s"t$i")).toDF("k", "v").coalesce(1))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"append thread failed: ${Option(errs.peek())}")
    val commits = Fs.listFiles(spark, s"$par/_delta_log", _.endsWith(".json"))
      .map(f => new org.apache.hadoop.fs.Path(f._1).getName).sorted
    assert(commits == (0 until n).map(v => f"$v%020d.json"))
    assert(DeltaLog.read(spark, par).select("k").as[Long].collect().sorted.toSeq == (0L until n.toLong))
  }

  test("partitioned append: Hive layout on disk, partitionValues in the log, pruning shrinks the file list") {
    import spark.implicits._
    val tbl = freshDir("part") + "/t"
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L), (4L, "c", 40L))
      .toDF("k", "p", "x")
    DeltaLog.append(spark, tbl, df, partitionBy = Seq("p"))
    DeltaLog.append(spark, tbl, Seq((5L, "a", 50L), (6L, "b", 60L)).toDF("k", "p", "x"),
      partitionBy = Seq("p"))

    // disk layout is Hive-style and the log paths point into it
    val (_, adds, schema) = DeltaLog.liveAdds(spark, tbl)
    assert(schema.fieldNames.toSeq == Seq("k", "p", "x"))
    assert(adds.forall { case (path, add) =>
      val v = add.get("partitionValues").get("p").asText()
      path.startsWith(s"p=$v/")
    })
    // full read reconstructs the partition column (values from the LOG)
    assert(DeltaLog.read(spark, tbl).select("k", "p", "x").collect().toSet ==
      (df.collect().toSet ++ Set(Row(5L, "a", 50L), Row(6L, "b", 60L))))
    // pruning: the partition filter opens exactly the partition-a
    // files, strictly fewer than live
    val pa = DeltaLog.read(spark, tbl).filter(col("p") === "a").select("k")
    assert(pa.collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 3L, 5L)))
    val scanned = pa.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    val aFiles = adds.count(_._1.startsWith("p=a/"))
    assert(scanned == aFiles && aFiles < adds.size,
      s"partition pruning read $scanned files; partition a has $aFiles of ${adds.size}")
    // appends with a different partitioning must refuse
    intercept[IllegalArgumentException] {
      DeltaLog.append(spark, tbl, Seq((7L, "z", 70L)).toDF("k", "p", "x"))
    }
    // rewrites that would drop partitionValues must refuse
    intercept[IllegalArgumentException] { DeltaLog.optimize(spark, tbl) }
    intercept[IllegalArgumentException] {
      DeltaLog.overwrite(spark, tbl, Seq((8L, "a", 80L)).toDF("k", "p", "x"))
    }
  }

  test("schema evolution: additive mergeSchema widens the log schema, old files read NULL; narrowing refuses") {
    import spark.implicits._
    val tbl = freshDir("evolve") + "/t"
    DeltaLog.append(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // same shape (different nullability is not evolution) commits quietly
    DeltaLog.append(spark, tbl, Seq((3L, "c")).toDF("k", "v"))
    // a widened append without the flag must refuse...
    intercept[IllegalArgumentException] {
      DeltaLog.append(spark, tbl, Seq((4L, "d", 40L)).toDF("k", "v", "x"))
    }
    // ...and with it, the log schema updates and old files read NULL x
    DeltaLog.append(spark, tbl, Seq((4L, "d", 40L)).toDF("k", "v", "x"), mergeSchema = true)
    val got = DeltaLog.read(spark, tbl).select("k", "x").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some(40L)))
    assert(DeltaLog.liveAdds(spark, tbl)._3.fieldNames.toSeq == Seq("k", "v", "x"))
    // dropping or retyping an existing column is never mergeable
    intercept[IllegalArgumentException] {
      DeltaLog.append(spark, tbl, Seq(("5", "e", 50L)).toDF("k", "v", "x"), mergeSchema = true)
    }
    intercept[IllegalArgumentException] {
      DeltaLog.append(spark, tbl, Seq((6L, 60L)).toDF("k", "x"), mergeSchema = true)
    }
  }

  test("foreign partitioned log with FLAT file layout: partition values come from the log, not paths") {
    val tbl = freshDir("partforeign")
    // data files at the table ROOT (no col=val dirs), no partition
    // column inside the parquet — the protocol-literal read must build
    // `v` from each add's partitionValues, including the null one
    val s1 = writeParquetFile(tbl, "d1.parquet", Seq((1L, "x1"), (2L, "x2")))
    val s2 = writeParquetFile(tbl, "d2.parquet", Seq((3L, "x3")))
    val partSchemaString =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"part\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    writeLogFile(tbl, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"99999999-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},"schemaString":"$partSchemaString","partitionColumns":["part"],"configuration":{},"createdTime":1700000000000}}""",
      s"""{"add":{"path":"d1.parquet","partitionValues":{"part":"7"},"size":$s1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"d2.parquet","partitionValues":{"part":null},"size":$s2,"modificationTime":2,"dataChange":true}}"""))
    val got = DeltaLog.read(spark, tbl)
      .select("k", "part").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // the string "7" cast to the schema's LONG; JSON null -> SQL NULL
    assert(got == Map(1L -> Some(7L), 2L -> Some(7L), 3L -> None))
  }

  test("reader-feature refusal matrix: unsupported protocols refuse by NAME, never read wrong (r14)") {
    def mkTable(tag: String, protocolLine: String, addExtra: String = ""): String = {
      val tbl = freshDir(tag)
      val s1 = writeParquetFile(tbl, "f1.parquet", Seq((1L, "a")))
      writeLogFile(tbl, 0L, Seq(
        protocolLine,
        s"""{"metaData":{"id":"aaaa-bbbb","format":{"provider":"parquet","options":{}},"schemaString":"$handSchemaString","partitionColumns":[],"configuration":{},"createdTime":1}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$s1,"modificationTime":1,"dataChange":true$addExtra}}"""))
      tbl
    }
    // deletionVectors announced as a v3 reader feature is a SUPPORTED
    // capability (r14: read() applies vectors, deleteWhereDv writes
    // them, reorgPurge materializes them) — with no live vector every
    // path reads; the guard is FILE-level, exercised below and in
    // DeletionVectorSpec
    val dvTbl = mkTable("refuse-dv",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""")
    assert(DeltaLog.read(spark, dvTbl).count() == 1L)
    assert(DeltaLog.snapshot(spark, dvTbl)._2 == Seq("f1.parquet"))
    // an unknown v3 feature still refuses by name
    val vtTbl = mkTable("refuse-v2ckpt",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""")
    val e1 = intercept[UnsupportedOperationException](DeltaLog.read(spark, vtTbl))
    assert(e1.getMessage.contains("v2Checkpoint"))
    // v3 with NO readerFeatures list: cannot prove support, refuse
    val bareTbl = mkTable("refuse-v3bare",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""")
    val e2 = intercept[UnsupportedOperationException](DeltaLog.snapshot(spark, bareTbl))
    assert(e2.getMessage.contains("no readerFeatures"))
    // reader version beyond the spec this reader implements
    val v4Tbl = mkTable("refuse-v4",
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":9}}""")
    val e3 = intercept[UnsupportedOperationException](DeltaLog.read(spark, v4Tbl))
    assert(e3.getMessage.contains("minReaderVersion=4"))
    // file-level defense: a LIVE add carrying a deletion vector makes
    // the raw-consuming paths refuse even under a lying v1 protocol
    // (reading the file as-is would resurrect its deleted rows);
    // read() instead tries to APPLY it and fails loudly on the missing
    // vector file rather than returning resurrected rows
    val lyingTbl = mkTable("refuse-dvfile",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      ""","deletionVector":{"storageType":"u","pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^","offset":1,"sizeInBytes":38,"cardinality":1}""")
    val e4b = intercept[UnsupportedOperationException](DeltaLog.optimize(spark, lyingTbl))
    assert(e4b.getMessage.contains("deletion vector"))
    intercept[Exception](DeltaLog.read(spark, lyingTbl).count())
    // SUPPORTED v3 features pass: columnMapping + timestampNtz
    val okTbl = mkTable("accept-v3",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","timestampNtz"],"writerFeatures":["columnMapping"]}}""")
    assert(DeltaLog.snapshot(spark, okTbl)._2 == Seq("f1.parquet"))
  }

  /** A foreign column-mapped table (mode id) holding k = 1..3, v = a..c:
    * its one data file carries Delta's PHYSICAL column names
    * (col-<uuid> style) and its log the logical schema k,v with
    * column-mapping field metadata, exactly as a mode-id writer emits
    * it (numeric id + physicalName per field). Returns (table, logical
    * schema). */
  private def columnMappedTable(tag: String): (String, org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tbl = freshDir(tag)
    val scratch = s"$tbl/.mk"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("col-9f8e7d6c", "col-1a2b3c4d")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Fs.listFiles(spark, scratch, _.endsWith(".parquet")).head
    Fs.renameOrFail(spark, part._1, s"$tbl/m1.parquet")
    Fs.deleteRec(spark, scratch)
    val mappedSchema = StructType(Seq(
      StructField("k", LongType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", 1L)
        .putString("delta.columnMapping.physicalName", "col-9f8e7d6c").build()),
      StructField("v", StringType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", 2L)
        .putString("delta.columnMapping.physicalName", "col-1a2b3c4d").build())))
    val schemaStr = mappedSchema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeLogFile(tbl, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cccc-dddd","format":{"provider":"parquet","options":{}},"schemaString":"$schemaStr","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"m1.parquet","partitionValues":{},"size":${part._2},"modificationTime":1,"dataChange":true}}"""))
    (tbl, mappedSchema)
  }

  test("column-mapped foreign table (mode id): physical-name reads, logical output; partitioned refuses (r14)") {
    import org.apache.spark.sql.types._
    val (tbl, mappedSchema) = columnMappedTable("colmap")
    // read(): logical names out, physical columns resolved underneath
    val got = DeltaLog.read(spark, tbl).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(DeltaLog.read(spark, tbl).schema.fieldNames.toSeq == Seq("k", "v"))
    // our checkpoint must PRESERVE the foreign v2 protocol (not
    // downgrade to our v1 announcement) and keep reading mapped
    DeltaLog.checkpoint(spark, tbl)
    DeltaLog.cleanupLog(spark, tbl)
    val got2 = DeltaLog.read(spark, tbl).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got2 == got)
    // mapped + partitioned: named refusal (physical-keyed
    // partitionValues are out of scope, silence is not)
    val ptbl = freshDir("colmap-part")
    val ps = writeParquetFile(ptbl, "p1.parquet", Seq((1L, "a")))
    val pSchema = StructType(mappedSchema.fields :+
      StructField("p", StringType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", 3L)
        .putString("delta.columnMapping.physicalName", "col-55667788").build()))
    val pStr = pSchema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeLogFile(ptbl, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"eeee-ffff","format":{"provider":"parquet","options":{}},"schemaString":"$pStr","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":1}}""",
      s"""{"add":{"path":"p1.parquet","partitionValues":{"col-55667788":"x"},"size":$ps,"modificationTime":1,"dataChange":true}}"""))
    val ep = intercept[UnsupportedOperationException](DeltaLog.read(spark, ptbl))
    assert(ep.getMessage.contains("column-mapped AND partitioned"))
  }

  test("rewrites of a column-mapped table refuse: optimize, deleteWhere and merge leave its rows unchanged") {
    import spark.implicits._
    val (tbl, _) = columnMappedTable("colmap-rewrite")
    def rows = DeltaLog.read(spark, tbl).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val before = rows
    assert(before == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val v0 = DeltaLog.latestVersion(spark, tbl)
    val eo = intercept[IllegalArgumentException](DeltaLog.optimize(spark, tbl))
    assert(eo.getMessage.contains("column-mapped"))
    val ed = intercept[IllegalArgumentException](
      DeltaLog.deleteWhere(spark, tbl, org.apache.spark.sql.functions.col("k") === 2L))
    assert(ed.getMessage.contains("column-mapped"))
    val em = intercept[IllegalArgumentException](
      DeltaLog.merge(spark, tbl, Seq((2L, "z")).toDF("k", "v"), Seq("k")))
    assert(em.getMessage.contains("column-mapped"))
    assert(DeltaLog.latestVersion(spark, tbl) == v0)
    assert(rows == before)
  }

  test("every read shape plans its table files through DeltaFileIndex: one FileSourceScanExec per read, no listing, no per-partition union") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, LocalTableScanExec, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val aqe = new AdaptiveSparkPlanHelper {}
    // the number of table scans in `df`'s physical plan: every leaf is a
    // log-indexed FileSourceScanExec, or the deletion-vector mask's
    // local descriptor list
    def deltaScans(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan
      val leaves = aqe.collect(plan) {
        case l: LeafExecNode if !l.isInstanceOf[AdaptiveSparkPlanExec] => l }
      leaves.foreach {
        case s: FileSourceScanExec =>
          assert(s.relation.location.isInstanceOf[DeltaFileIndex],
            s"scan over ${s.relation.location.getClass.getSimpleName}:\n$plan")
        case _: LocalTableScanExec =>
        case other => fail(s"unexpected leaf ${other.nodeName}:\n$plan")
      }
      leaves.count(_.isInstanceOf[FileSourceScanExec])
    }
    def unions(df: org.apache.spark.sql.DataFrame): Int =
      aqe.collect(df.queryExecution.executedPlan) { case u: UnionExec => u }.size
    val kv = (0L until 6L).map(k => (k, s"v$k")).toDF("k", "v")

    // current and time travel: one scan per read version
    val tbl = freshDir("plan") + "/t"
    DeltaLog.append(spark, tbl, kv.filter($"k" < 3).repartition(2))
    DeltaLog.append(spark, tbl, kv.filter($"k" >= 3).repartition(2))
    assert(deltaScans(DeltaLog.read(spark, tbl)) == 1)
    assert(DeltaLog.read(spark, tbl, 0L).count() == 3)
    assert(deltaScans(DeltaLog.read(spark, tbl, 0L)) == 1)
    assert(deltaScans(DeltaLog.read(spark, tbl, 0L).unionAll(DeltaLog.read(spark, tbl))) == 2)
    // change feed: one scan per version in the window
    val feed = DeltaLog.changesSince(spark, tbl, since = -1L)
    assert(feed.count() == 6 && deltaScans(feed) == 2)

    // partitioned: one scan whatever the partition count, pruned in the
    // index, with no per-partition union
    val ptbl = freshDir("plan-part") + "/t"
    DeltaLog.append(spark, ptbl, kv.withColumn("p", ($"k" % 3).cast("string")),
      partitionBy = Seq("p"))
    val pa = DeltaLog.read(spark, ptbl).filter($"p" === "1")
    assert(pa.count() == 2 && deltaScans(pa) == 1 && unions(pa) == 0)
    assert(unions(DeltaLog.read(spark, ptbl)) == 0)

    // column-mapped
    val (mtbl, _) = columnMappedTable("plan-colmap")
    assert(deltaScans(DeltaLog.read(spark, mtbl)) == 1)

    // deletion vectors: the mask sits on the one scan
    val dtbl = freshDir("plan-dv") + "/t"
    DeltaLog.append(spark, dtbl, kv.repartition(1))
    DeltaLog.deleteWhereDv(spark, dtbl, $"k" === 4L)
    val masked = DeltaLog.read(spark, dtbl)
    assert(masked.count() == 5 && deltaScans(masked) == 1)

    // streaming tail batch: the micro-batch's relation is the same
    // log-indexed one (a streaming frame has no executable plan here,
    // so its analyzed leaves are checked)
    val tailBatch = new DeltaStreamSource(spark, tbl, ignoreChanges = false)
      .getBatch(Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(0L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L))
    val rels = tailBatch.queryExecution.analyzed.collectLeaves()
    assert(rels.nonEmpty && rels.forall {
      case LogicalRelation(r: HadoopFsRelation, _, _, streaming, _) =>
        streaming && r.location.isInstanceOf[DeltaFileIndex]
      case _ => false
    }, s"tail batch leaves: $rels")
  }

  test("read keeps an appended NULL visible under a column the log declares NOT NULL") {
    import spark.implicits._
    val tbl = freshDir("nullable") + "/t"
    // a primitive column is NOT NULL in the log's schema...
    DeltaLog.append(spark, tbl, Seq(1L, 2L).toDF("k"))
    assert(!DeltaLog.liveAdds(spark, tbl)._3("k").nullable)
    // ...and an Option column of the same type passes the evolution
    // gate, which compares names and types only
    DeltaLog.append(spark, tbl, Seq(Some(3L), None).toDF("k"))
    val df = DeltaLog.read(spark, tbl)
    assert(df.filter(col("k").isNull).count() == 1)
    assert(df.schema("k").nullable)
    assert(df.count() == 4)
  }
}
