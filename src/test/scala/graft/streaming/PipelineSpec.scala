package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Schemas
import graft.sources.Tables

/** End-to-end pipeline behavior the oracle's checksums don't pin down at
  * the file level: incremental append counts, idempotent re-drain,
  * staged-batch retirement and crash windows, static-dim skip, and the commit shape of
  * ingestion and compaction on the Delta log. */
class PipelineSpec extends SparkSpec {

  private val base = targetDir("test-pipe")

  private def wipe(dir: String): Unit = Fs.deleteRec(spark, dir)

  private def table(path: String): DataFrame = DeltaLog.read(spark, path)

  private def jsonFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(".json")).count() finally s.close()
    }
  }

  test("ingest: incremental batches accumulate exactly the fixture row counts; re-drain is a no-op; staged files retire") {
    val root = s"$base/ingest"
    wipe(root)
    val staging = s"$root/staging"; val tables = s"$root/tables"

    Synthesize.cycle(spark, sf, staging, tables, batchId = 0, nBatches = 2)
    assert(jsonFiles(s"$staging/customer") > 0, "static dim staged on first cycle")
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    // K3: a drain retires every batch it commits before it returns
    assert(jsonFiles(staging) == 0, "the first drain left staged files behind")
    val ordersB0 = table(s"$tables/orders").count()
    val fixtureOrders = Tables.orders(spark, sf).count()
    val evenOrders = Tables.orders(spark, sf).filter(col("o_orderkey") % 2 === 0).count()
    assert(ordersB0 == evenOrders, "first drain should hold exactly the batch-0 slice")

    Synthesize.cycle(spark, sf, staging, tables, batchId = 1, nBatches = 2)
    assert(jsonFiles(s"$staging/customer") == 0, "static dim must NOT be re-staged once ingested (T5)")
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    assert(jsonFiles(staging) == 0, "the second drain left staged files behind")
    assert(table(s"$tables/orders").count() == fixtureOrders)
    assert(table(s"$tables/lineitem").count() == Tables.lineitem(spark, sf).count())
    assert(table(s"$tables/customer").count() == Tables.customer(spark, sf).count())

    // idempotent no-op drain: nothing staged, nothing appended
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    assert(table(s"$tables/orders").count() == fixtureOrders,
      "re-drain with empty staging duplicated rows — exactly-once broken")
  }

  /** The fact tables' row counts under `root/tables`. */
  private def factCounts(root: String): (Long, Long) =
    (table(s"$root/tables/orders").count(), table(s"$root/tables/lineitem").count())

  test("a restarted pipeline re-stages batches 0,1 on one workDir: exact fixture counts, no staged file left") {
    val root = s"$base/restart"
    wipe(root)
    for (_ <- 0 until 2)
      PipelineMain.runCycles(spark, sf, root, Seq(0, 1), nBatches = 2, compactEvery = Int.MaxValue)
    assert(factCounts(root) ==
      ((Tables.orders(spark, sf).count(), Tables.lineitem(spark, sf).count())),
      "re-staged batches lost or doubled rows")
    assert(table(s"$root/tables/customer").count() == Tables.customer(spark, sf).count())
    assert(jsonFiles(s"$root/staging") == 0, "re-staged batches were never retired")
  }

  test("staging crash windows: a .tmp_ batch is never ingested; re-staging a present batch leaves it byte-identical") {
    val root = s"$base/stage-crash"
    wipe(root)
    val staging = s"$root/staging"; val tables = s"$root/tables"
    // a death mid-write: batch 7's scratch dir holds one part, b7 was never published
    val ord = Synthesize.stagedOrders(Tables.orders(spark, sf), 8)
      .filter(col(Synthesize.BatchCol) === 7).drop(Synthesize.BatchCol)
    ord.coalesce(1).write.option("timestampFormat", Synthesize.TsFmt).json(s"$root/one")
    val part = new java.io.File(s"$root/one").listFiles().filter(_.getName.endsWith(".json")).head
    Files.createDirectories(Paths.get(s"$staging/.tmp_orders_7"))
    Files.copy(part.toPath, Paths.get(s"$staging/.tmp_orders_7/orders_b7_p0000.json"))
    Files.createDirectories(Paths.get(s"$staging/orders"))
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    assert(DeltaLog.latestVersion(spark, s"$tables/orders") == -1, "a .tmp_ batch was ingested")
    assert(jsonFiles(s"$staging/.tmp_orders_7") == 1)

    // re-staging a present batch dir touches none of its files
    Synthesize.writeStaged(ord, staging, "orders", 3)
    val b3 = Paths.get(s"$staging/orders/b3")
    def snapshot(): Map[String, (Seq[Byte], Long)] = {
      val s = Files.list(b3)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).map { f =>
        f.getFileName.toString -> ((Files.readAllBytes(f).toSeq, Files.getLastModifiedTime(f).toMillis))
      }.toMap finally s.close()
    }
    val before = snapshot()
    assert(before.keys.exists(_.endsWith(".json")), s"b3 holds no staged file: ${before.keys}")
    Synthesize.writeStaged(ord.limit(1), staging, "orders", 3)
    assert(snapshot() == before, "re-staging a present batch rewrote it")
  }

  test("a committed batch dir that reappears (death between commit and delete) is skipped and removed, counts unchanged") {
    val root = s"$base/commit-then-die"
    wipe(root)
    val staging = s"$root/staging"; val tables = s"$root/tables"
    Synthesize.cycle(spark, sf, staging, tables, batchId = 0, nBatches = 2)
    // keep a copy of batch 0's orders dir: what a death after its commit leaves
    val kept = s"$root/kept-b0"
    Files.createDirectories(Paths.get(kept))
    Files.list(Paths.get(s"$staging/orders/b0")).forEach(f => Files.copy(f, Paths.get(kept).resolve(f.getFileName)))
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    val counts = factCounts(root)
    val versions = DeltaLog.latestVersion(spark, s"$tables/orders")
    Files.move(Paths.get(kept), Paths.get(s"$staging/orders/b0"))
    assert(jsonFiles(s"$staging/orders") > 0)
    Ingest.drain(spark, staging, tables, PipelineMain.schemas)
    assert(factCounts(root) == counts, "a committed batch was appended twice")
    assert(DeltaLog.latestVersion(spark, s"$tables/orders") == versions, "the skip committed")
    assert(!Files.exists(Paths.get(s"$staging/orders/b0")), "the skipped batch dir was not removed")
  }

  test("ingest quarantine: a corrupt JSON line is captured, good rows land (PERMISSIVE)") {
    val root = s"$base/corrupt"
    wipe(root)
    val staging = s"$root/staging/orders"
    Files.createDirectories(Paths.get(staging))
    // two good lines + one broken one, as a staged file
    Files.writeString(Paths.get(s"$staging/orders_b0_p0000.json"),
      """{"o_orderkey":"k1","o_custkey":1,"o_orderstatus":"O","o_totalprice":10.5,"o_order_time":"2024-01-01T00:00:00.000000Z","o_orderpriority":"1-URGENT"}
        |{"o_orderkey":"k2","o_custkey":2,"o_orderstatus":"F","o_totalprice":THIS_IS_NOT_JSON
        |{"o_orderkey":"k3","o_custkey":3,"o_orderstatus":"P","o_totalprice":30.5,"o_order_time":"2024-01-01T00:05:00.000000Z","o_orderpriority":"3-MEDIUM"}
        |""".stripMargin)
    // PERMISSIVE + corrupt-record column: bad lines become quarantine
    // rows instead of failing the batch (the reference's answer was 10
    // Prefect retries that would never succeed on a poison file)
    val schema = Schemas.stagedOrders
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val src = spark.readStream.schema(schema)
      .option("timestampFormat", Synthesize.TsFmt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(staging)
    val q = src.writeStream.format("parquet")
      .option("path", s"$root/tables/orders")
      .option("checkpointLocation", s"$root/ckpt/orders")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val t = spark.read.parquet(s"$root/tables/orders")
    assert(t.count() == 3, "expected 2 good + 1 quarantined row")
    assert(t.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(t.filter(col("_corrupt_record").isNull).count() == 2)
    assert(t.filter(col("o_orderkey") === "k1").count() == 1)
    assert(t.filter(col("o_orderkey") === "k3").count() == 1)
  }

  test("PipelineMain E2E: generate->ingest->compact->reduce->serve produces 5 segment results") {
    val root = s"$base/main-e2e"
    wipe(root)
    PipelineMain.runPipeline(spark, sf, root, nCycles = 2, compactEvery = 1)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    segs.foreach { seg =>
      val res = spark.read.parquet(s"$root/results/$seg")
      assert(res.count() == 50, s"segment $seg should serve exactly top-50")
      assert(res.columns.sorted.sameElements(Array("l_orderkey", "o_order_time", "revenue")))
      // one data file per segment result, like the reference's layout
      assert(res.inputFiles.length == 1)
    }
    // the ingested fact tables hold the full fixture after both cycles
    assert(table(s"$root/tables/orders").count() ==
      graft.sources.Tables.orders(spark, sf).count())
    assert(jsonFiles(s"$root/staging") == 0, "the pipeline left staged files behind")
    assert(!Files.exists(Paths.get(s"$root/ckpt")), "the pipeline wrote a streaming checkpoint")
  }

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** One segment's top 50 computed on its own, the per-segment form of
    * the reduce: the reference the one-pass publish must reproduce row
    * for row and in order. */
  private def perSegmentTop50(tables: String, seg: String): Seq[String] = {
    val li = table(s"$tables/lineitem")
    val ord = table(s"$tables/orders")
    val cust = table(s"$tables/customer")
    val cutoff = lit(Synthesize.OrdTgtHi).cast("timestamp")
    ord.filter(col("o_order_time") < cutoff)
      .join(cust.filter(col("c_mktsegment") === seg), col("o_custkey") === col("c_custkey"))
      .join(li.filter(col("l_ship_time") > cutoff), col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_order_time")
      .agg(graft.functions.Exact.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(50)
      .toJSON.collect().toSeq
  }

  /** A segment's served rows in file order; asserts the served layout
    * (one data file, the three result columns). */
  private def served(results: String, seg: String): Seq[String] = {
    val df = spark.read.parquet(s"$results/$seg")
    assert(df.inputFiles.length == 1, s"$seg: expected one data file, got ${df.inputFiles.toSeq}")
    assert(df.columns.toSeq == Seq("l_orderkey", "o_order_time", "revenue"), s"$seg: ${df.columns.toSeq}")
    df.toJSON.collect().toSeq
  }

  private def assertServesReference(root: String): Unit =
    segments.foreach { seg =>
      assert(served(s"$root/results", seg) == perSegmentTop50(s"$root/tables", seg),
        s"$seg: served rows differ from the per-segment reduce")
    }

  private def stageDirs(results: String): Seq[String] =
    Option(new java.io.File(results).list()).toSeq.flatten.filter(_.startsWith(".stage"))

  /** Two ingested batches of the fixture, copied out as fresh Delta
    * tables that a test may edit before publishing over them. */
  private lazy val ingestedSrc: String = {
    val root = s"$base/publish-src"
    wipe(root)
    PipelineMain.runCycles(spark, sf, root, Seq(0, 1), nBatches = 2, compactEvery = Int.MaxValue)
    s"$root/tables"
  }

  private def copyTables(root: String, customer: DataFrame => DataFrame = identity): Unit =
    Seq("orders", "lineitem", "customer").foreach { t =>
      val df = table(s"$ingestedSrc/$t")
      DeltaLog.append(spark, s"$root/tables/$t", if (t == "customer") customer(df) else df)
    }

  private def httpGet(port: Int, path: String): (Int, String) = {
    val r = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("one-pass publish serves each segment's per-segment top 50, in order, at two batch points") {
    val root = s"$base/one-pass"
    wipe(root)
    PipelineMain.runCycles(spark, sf, root, Seq(0), nBatches = 2, compactEvery = Int.MaxValue)
    PipelineMain.publishResults(spark, root)
    assertServesReference(root)
    val firstGen = segments.map(served(s"$root/results", _))
    PipelineMain.runCycles(spark, sf, root, Seq(1), nBatches = 2, compactEvery = Int.MaxValue)
    PipelineMain.publishResults(spark, root)
    assertServesReference(root)
    assert(segments.map(served(s"$root/results", _)) != firstGen, "second batch changed no result")
    segments.foreach(seg => assert(served(s"$root/results", seg).size == 50))
    assert(stageDirs(s"$root/results").isEmpty, "publish left a staging dir behind")
  }

  test("publish: a segment with no qualifying rows serves one zero-row file, and health stays ok") {
    val root = s"$base/publish-empty"
    wipe(root)
    copyTables(root, customer = _.filter(col("c_mktsegment") =!= "AUTOMOBILE"))
    PipelineMain.publishResults(spark, root)
    assert(served(s"$root/results", "AUTOMOBILE").isEmpty)
    assertServesReference(root)
    val srv = Serve.start(spark, s"$root/results", segments)
    try {
      assert(httpGet(srv.port, "/health")._1 == 200)
      assert(httpGet(srv.port, "/results/AUTOMOBILE") == ((200, "[]")))
      assert(httpGet(srv.port, "/results/BUILDING")._2.count(_ == '{') == 50)
    } finally srv.stop()
  }

  test("serve: the first GET after a republish runs one Spark job and serves the parquet rows' JSON byte for byte") {
    val root = s"$base/serve-miss"
    wipe(root)
    copyTables(root)
    PipelineMain.publishResults(spark, root)
    // the orders fixture served as a segment too (the serve test's shape,
    // all rows): a footer Spark wrote from another schema
    val fixtureResults = s"$root/fixture-results"
    Tables.orders(spark, sf).coalesce(1).write.parquet(s"$fixtureResults/ORDERS")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // `waitUntilEmpty` is Spark-internal; reflection reaches it
    def drained(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def want(dir: String, n: Int): String =
      spark.read.parquet(dir).limit(n).toJSON.collect().mkString("[", ",", "]")
    /** One GET's body and the Spark jobs it ran. */
    def get(port: Int, path: String): (String, Int) = {
      drained()
      jobs.set(0)
      val (code, body) = httpGet(port, path)
      assert(code == 200, s"$path -> $code")
      drained()
      (body, jobs.get)
    }
    spark.sparkContext.addSparkListener(listener)
    val srv = Serve.start(spark, s"$root/results", segments)
    val fix = Serve.start(spark, fixtureResults, Seq("ORDERS"))
    try {
      for (seg <- segments) {
        val (body, n) = get(srv.port, s"/results/$seg")
        assert(n == 1, s"$seg: the miss ran $n jobs")
        assert(body == want(s"$root/results/$seg", 50), s"$seg: served JSON differs")
        assert(get(srv.port, s"/results/$seg") == ((body, 0)), s"$seg: the hit ran a job")
      }
      val (one, n1) = get(srv.port, "/results/BUILDING?limit=1")
      assert(n1 == 1 && one == want(s"$root/results/BUILDING", 1) && one.count(_ == '{') == 1)
      // a republish makes the next GET a miss again: one job, the new rows
      PipelineMain.publishResults(spark, root)
      val (again, n2) = get(srv.port, "/results/AUTOMOBILE")
      assert(n2 == 1 && again == want(s"$root/results/AUTOMOBILE", 50))
      for (q <- Seq("", "?limit=1")) {
        val (body, n) = get(fix.port, s"/results/ORDERS$q")
        val k = if (q.isEmpty) 50 else 1
        assert(n == 1, s"ORDERS$q: the miss ran $n jobs")
        assert(body == want(s"$fixtureResults/ORDERS", k) && body.count(_ == '{') == k,
          s"ORDERS$q: served JSON differs")
      }
    } finally {
      srv.stop(); fix.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("publish after a crash: stale .stage and legacy .stage_<SEG> dirs are never served and are cleared") {
    val root = s"$base/publish-crash"
    wipe(root)
    copyTables(root)
    val results = s"$root/results"
    // an interrupted publish: AUTOMOBILE swapped, BUILDING retired but
    // not yet renamed, its rows still under .stage; plus the older
    // layout's per-segment staging dir
    val junk = Tables.orders(spark, sf).select("o_orderkey").limit(3)
    junk.write.parquet(s"$results/.stage/c_mktsegment=BUILDING")
    junk.write.parquet(s"$results/.stage_FURNITURE")
    junk.write.parquet(s"$results/AUTOMOBILE")
    val srv = Serve.start(spark, results, segments)
    try {
      assert(httpGet(srv.port, "/results/BUILDING")._1 == 503, "a staging dir was served")
      assert(httpGet(srv.port, "/results/FURNITURE")._1 == 503, "a legacy staging dir was served")
      PipelineMain.publishResults(spark, root)
      assertServesReference(root)
      assert(stageDirs(results).isEmpty, s"staging leftovers survived: ${stageDirs(results)}")
      assert(httpGet(srv.port, "/health")._1 == 200)
      segments.foreach { seg =>
        val (code, body) = httpGet(srv.port, s"/results/$seg")
        assert(code == 200 && body.count(_ == '{') == 50, s"$seg -> $code")
      }
    } finally srv.stop()
  }

  test("serve: health flips 503->200 when all segments land; results serve as JSON; republish is picked up without restart") {
    val root = s"$base/serve"
    wipe(root)
    val results = s"$root/results"
    val segs = Seq("AUTOMOBILE", "BUILDING")
    val srv = Serve.start(spark, results, segs)
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val r = http.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // not ready: no results yet
      assert(get("/health")._1 == 503)
      assert(get("/results/AUTOMOBILE")._1 == 503)
      // publish both segments (top-3 shaped like the reduce's output)
      val ord = Tables.orders(spark, sf)
      segs.foreach { s =>
        ord.limit(3).coalesce(1).write.mode("overwrite").parquet(s"$results/$s")
      }
      val (hc, hb) = get("/health")
      assert(hc == 200 && hb.contains("\"ok\""), s"health after publish: $hc $hb")
      assert(get("/segments")._2 == """["AUTOMOBILE","BUILDING"]""")
      val (rc, rb) = get("/results/AUTOMOBILE")
      assert(rc == 200 && rb.startsWith("[") && rb.contains("o_orderkey"))
      assert(get("/results/AUTOMOBILE?limit=1")._2.count(_ == '{') == 1)
      assert(get("/results/NOPE")._1 == 404)
      // republish with different content: served rows change, no restart
      ord.limit(5).coalesce(1).write.mode("overwrite").parquet(s"$results/AUTOMOBILE")
      assert(get("/results/AUTOMOBILE")._2.count(_ == '{') == 5,
        "republished generation must be served (cache keyed by file set)")
      // the dashboard view (reference dashboard.py's one consumer-visible
      // artifact): HTML with the title, the placeholder, and both
      // segments title-cased in the selector; unknown paths still 404
      val (dc, db) = get("/")
      assert(dc == 200 && db.contains("Top Unshipped Orders")
        && db.contains("Please select a product segment...")
        && db.contains(">Automobile<") && db.contains(">Building<"), db.take(200))
      assert(get("/dashboard")._1 == 200)
      assert(get("/nope")._1 == 404)
    } finally srv.stop()
  }

  test("dashboard HTML entity-escapes operator-supplied segment names") {
    val root = s"$base/serve-esc"
    wipe(root)
    // segment names are operator config, not request input — but the
    // HTML context still needs entities, not JSON backslashes (r9
    // advice: esc() gave '\"', which has no escaping power in HTML)
    val hostile = """AUTO"><script>alert(1)</script>&x"""
    val srv = Serve.start(spark, s"$root/results", Seq(hostile))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val body = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${srv.port}/")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(!body.contains("<script>alert"), "raw segment text reached HTML")
      assert(!body.contains("""value="AUTO">"""), "quote terminated the attribute")
      assert(body.contains("&lt;script&gt;") && body.contains("&quot;&gt;")
        && body.contains("&amp;x"), body.take(400))
    } finally srv.stop()
  }

  test("retry/backoff: an injected transient failure mid-cycle (staged, not drained) heals on retry without manual restart, exactly once") {
    val root = s"$base/retry-heal"
    wipe(root)
    var failures = 0
    PipelineMain.runCycles(spark, sf, root, batchIds = Seq(0, 1), nBatches = 2,
      compactEvery = Int.MaxValue,
      chaos = cycle =>
        if (cycle == 1 && failures < 2) {
          failures += 1
          throw new RuntimeException(s"injected transient failure #$failures")
        })
    assert(failures == 2, "the injection must have fired twice before healing")
    PipelineMain.finishAndServe(spark, sf, root)
    // healed run == clean run: full fixture, nothing doubled by the
    // re-staged attempts (staging is content-addressed, drain exactly-once)
    assert(table(s"$root/tables/orders").count() ==
      Tables.orders(spark, sf).count(), "orders lost or doubled across retries")
    assert(table(s"$root/tables/lineitem").count() ==
      Tables.lineitem(spark, sf).count(), "lineitem lost or doubled across retries")
    assert(table(s"$root/tables/orders")
      .select("o_orderkey").distinct().count() ==
      table(s"$root/tables/orders").count(), "duplicate keys after retry")
  }

  test("withRetry: exponential backoff schedule, success stops retrying, exhaustion propagates the last failure") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val got = PipelineMain.withRetry("t", maxAttempts = 5, baseDelayMs = 100L,
      sleep = sleeps += _) {
      calls += 1
      if (calls < 4) throw new RuntimeException(s"boom $calls")
      42
    }
    assert(got == 42 && calls == 4)
    assert(sleeps.toSeq == Seq(100L, 200L, 400L), s"expected doubling backoff, got $sleeps")
    val e = intercept[RuntimeException] {
      PipelineMain.withRetry("t", maxAttempts = 3, baseDelayMs = 1L, sleep = _ => ()) {
        throw new RuntimeException("always")
      }
    }
    assert(e.getMessage == "always")
  }

  test("pipeline lock excludes a separate JVM while held, and admits it after release") {
    val lock = s"$base/locks/.pipeline.lock"
    wipe(s"$base/locks")
    val scalaLib = new java.io.File("/opt/spark/jars").listFiles()
      .map(_.getPath).filter(_.contains("scala-library")).head
    def probe(): String = {
      val pb = new ProcessBuilder("java", "-cp",
        s"${Paths.get(PipelineLock.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)}:$scalaLib",
        "graft.streaming.PipelineLock", "probe", lock)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      p.waitFor()
      out.linesIterator.toSeq.last
    }
    val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => PipelineLock.withLock(lock) {
      held.set(true); release.await()
    })
    t.start()
    while (!held.get()) Thread.sleep(10)
    assert(probe() == "BUSY", "a second process acquired the held pipeline lock")
    release.countDown(); t.join()
    assert(probe() == "ACQUIRED", "lock not released after withLock exited")
  }

  test("pipeline lock is reentrant within a thread: nested withLock runs under the outer hold and releases once") {
    val lock = s"$base/locks-reentrant/.pipeline.lock"
    wipe(s"$base/locks-reentrant")
    // round-3 advice: FileChannel.lock on a fresh channel throws
    // OverlappingFileLockException when the JVM already holds the lock,
    // so composing locked helpers under one outer lock used to crash
    val r = PipelineLock.withLock(lock) {
      PipelineLock.withLock(lock) { 41 } + 1
    }
    assert(r == 42)
    assert(PipelineLock.tryProbe(lock), "lock not released after nested withLock exited")
  }

  test("two overlapping pipeline invocations on one workDir: cycles serialize, nothing lost or doubled") {
    val root = s"$base/overlap"
    wipe(root)
    // the reference's model: two schedulers share the lock and generate
    // DISTINCT batches; here each invocation drives half the batch ids,
    // racing over the same staging/tables/checkpoints
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(Seq(0, 1), Seq(2, 3)).map { ids =>
      new Thread(() => {
        try PipelineMain.runCycles(spark, sf, root, ids, nBatches = 4,
          compactEvery = Int.MaxValue)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"overlapping invocation failed: ${errs.peek()}")
    PipelineMain.finishAndServe(spark, sf, root)
    assert(table(s"$root/tables/orders").count() ==
      Tables.orders(spark, sf).count(), "orders lost or doubled across overlapping invocations")
    assert(table(s"$root/tables/lineitem").count() ==
      Tables.lineitem(spark, sf).count(), "lineitem lost or doubled across overlapping invocations")
    assert(table(s"$root/tables/customer").count() ==
      Tables.customer(spark, sf).count())
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").foreach { seg =>
      assert(spark.read.parquet(s"$root/results/$seg").count() == 50)
    }
  }

  test("live mode: the wall-clock generator stages and drains each batch, landing the full fixture exactly once") {
    val root = s"$base/live"
    wipe(root)
    PipelineMain.runLive(spark, sf, root, nBatches = 2, cadenceMs = 1500L)
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").foreach { seg =>
      assert(spark.read.parquet(s"$root/results/$seg").count() == 50)
    }
    // every table is a Delta table holding exactly the fixture's rows
    Seq("orders" -> Tables.orders(spark, sf), "lineitem" -> Tables.lineitem(spark, sf),
        "customer" -> Tables.customer(spark, sf)).foreach { case (t, fixture) =>
      assert(DeltaLog.latestVersion(spark, s"$root/tables/$t") >= 0, s"$t is not a Delta table")
      assert(table(s"$root/tables/$t").count() == fixture.count(), s"$t lost or doubled rows")
    }
    assert(jsonFiles(s"$root/staging") == 0, "live mode left staged files behind")
    assert(!Files.exists(Paths.get(s"$root/ckpt")), "live mode wrote a streaming checkpoint")
  }

  test("live + serve: service is up during ingestion, flips healthy on the mid-run republish, and serves the final generation without restart") {
    val root = s"$base/live-serve"
    wipe(root)
    @volatile var srvOpt: Option[Serve] = None
    @volatile var failure: Option[Throwable] = None
    val runner = new Thread(() => {
      try PipelineMain.runLive(spark, sf, root, nBatches = 2,
        cadenceMs = 1500L, serve = true, publishEvery = 1,
        onServe = s => srvOpt = Some(s))
      catch { case e: Throwable => failure = Some(e) }
    })
    runner.start()
    val http = java.net.http.HttpClient.newHttpClient()
    def get(port: Int, path: String): (Int, String) = {
      val r = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      // the server hands itself out BEFORE the generator loop starts
      val deadline = System.currentTimeMillis() + 60000
      while (srvOpt.isEmpty && runner.isAlive && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val srv = srvOpt.getOrElse(fail("runLive(serve=true) never started the server"))
      try {
        // DURING the run: waiting before the first publish, healthy after
        // the mid-run republish (publishEvery=1 → after batch 0), both
        // observed while ingestion is still running
        var sawWaiting = false
        var healthyWhileRunning = false
        while (runner.isAlive && !healthyWhileRunning) {
          val c = get(srv.port, "/health")._1
          if (c == 503) sawWaiting = true
          if (c == 200) healthyWhileRunning = true
          Thread.sleep(100)
        }
        assert(sawWaiting, "health never reported waiting before the first publish")
        assert(healthyWhileRunning,
          "health never flipped to ok while ingestion was still running — the mid-run republish did not happen")
        runner.join(120000)
        assert(!runner.isAlive, "runLive did not complete")
        failure.foreach(throw _)
        assert(get(srv.port, "/health")._1 == 200, "service not healthy after run")
        val (rc, rb) = get(srv.port, "/results/AUTOMOBILE")
        assert(rc == 200 && rb.count(_ == '{') == 50, "final generation not served")
        // read-your-republish: the served rows are the FINAL reduce's rows
        val expect = spark.read.parquet(s"$root/results/AUTOMOBILE").count()
        assert(expect == 50 && rb.count(_ == '{') == expect.toInt)
      } finally srv.stop()
    } finally if (runner.isAlive) runner.join(120000)
  }

  test("live + serve: watchdog redeploys a killed server mid-run while ingestion continues") {
    val root = s"$base/live-watchdog"
    wipe(root)
    @volatile var srvOpt: Option[Serve] = None
    @volatile var failure: Option[Throwable] = None
    val runner = new Thread(() => {
      try PipelineMain.runLive(spark, sf, root, nBatches = 2,
        cadenceMs = 1500L, serve = true, publishEvery = 1,
        onServe = s => srvOpt = Some(s))
      catch { case e: Throwable => failure = Some(e) }
    })
    runner.start()
    val http = java.net.http.HttpClient.newHttpClient()
    def health(port: Int): Option[Int] =
      try Some(http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode())
      catch { case _: java.io.IOException => None }
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (srvOpt.isEmpty && runner.isAlive && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val srv = srvOpt.getOrElse(fail("runLive(serve=true) never started the server"))
      try {
        // confirm the listener answers (200 or 503 — transport-alive is
        // what the watchdog probes), then KILL it behind the
        // supervisor's back: the dashboard-process-death scenario
        val port = srv.port
        assert(health(port).nonEmpty, "server never answered before the kill")
        srv.simulateCrash()
        // the watchdog must redeploy on the SAME port while the run is
        // still going; probe until it answers again
        val recoverBy = System.currentTimeMillis() + 30000
        var recovered = false
        while (!recovered && System.currentTimeMillis() < recoverBy) {
          recovered = health(port).nonEmpty
          if (!recovered) Thread.sleep(100)
        }
        assert(recovered, "watchdog never redeployed the killed server")
        assert(srv.restarts >= 1, "recovery did not come from the watchdog")
        runner.join(120000)
        assert(!runner.isAlive, "runLive did not complete")
        failure.foreach(throw _)
        // ingestion continued through the kill: the full fixture landed
        // exactly once and the REDEPLOYED server serves the final rows
        assert(table(s"$root/tables/orders").count() ==
          Tables.orders(spark, sf).count(), "kill+redeploy disturbed ingestion")
        assert(health(port).contains(200), "redeployed server not healthy after run")
        val rows = http.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/results/AUTOMOBILE")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
        assert(rows.count(_ == '{') == 50, "final generation not served after redeploy")
      } finally srv.stop()
    } finally if (runner.isAlive) runner.join(120000)
  }

  test("serve: mid-republish window serves the cached last generation, never a torn read") {
    val root = s"$base/serve-stale"
    wipe(root)
    val results = s"$root/results"
    val srv = Serve.start(spark, results, Seq("AUTOMOBILE"))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val r = http.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      Tables.orders(spark, sf).limit(3).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/AUTOMOBILE")
      val (c1, b1) = get("/results/AUTOMOBILE")
      assert(c1 == 200 && b1.count(_ == '{') == 3)
      // simulate the republish window: the old generation is retired,
      // the new one not yet committed (publishResults' delete+rename gap)
      Fs.deleteRec(spark, s"$results/AUTOMOBILE")
      assert(get("/health")._1 == 503, "health must report the republish in flight")
      val (c2, b2) = get("/results/AUTOMOBILE")
      assert(c2 == 200 && b2 == b1, "mid-republish read must serve the cached generation")
      // the new generation commits: served rows switch
      Tables.orders(spark, sf).limit(5).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/AUTOMOBILE")
      assert(get("/results/AUTOMOBILE")._2.count(_ == '{') == 5)
      // malformed limit answers 200 with the default, not a dropped exchange
      assert(get("/results/AUTOMOBILE?limit=abc")._1 == 200)
      // reflected segment text is JSON-escaped
      val (c4, b4) = get("/results/x%22y")
      assert(c4 == 404 && b4.contains("x\\\"y"))
    } finally srv.stop()
  }

  test("txn sink crash injection: process death between file adoption and manifest commit; same-checkpoint restart re-drains exactly once; vacuum reclaims the orphans") {
    val b = s"$base/stxn-crash"
    wipe(b)
    val src = s"$b/src"
    val tbl = s"$b/orders"
    val ckpt = s"$b/ckpt"
    val ord = Tables.orders(spark, sf)
    val total = ord.count()
    (0 until 4).foreach { i =>
      ord.filter(col("o_orderkey") % 4 === i).coalesce(1).write.mode("append").parquet(src)
    }
    @volatile var crashed = false
    def run(inject: Boolean): Unit = {
      val q = spark.readStream.schema(Schemas.orders)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          DeltaLog.appendBatch(spark, tbl, "ingest", id, batch,
            beforeCommit = () =>
              if (inject && id == 2 && !crashed) {
                crashed = true
                throw new RuntimeException("injected death between adoption and commit")
              })
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
    // the ledger shows exactly the two pre-crash batches; the dead
    // writer's batch-2 files were adopted into the table root but belong
    // to NO commit — a reader still sees only the committed snapshot
    assert(DeltaLog.lastTxnVersion(spark, tbl, "ingest") == 1)
    val committedAtCrash = DeltaLog.read(spark, tbl).count()
    assert(committedAtCrash > 0 && committedAtCrash < total)
    def dataFiles: Int = Fs.listFiles(spark, tbl, _.endsWith(".parquet"))
      .count(f => new org.apache.hadoop.fs.Path(f._1).getParent.getName != "_delta_log")
    val orphans = dataFiles - DeltaLog.snapshot(spark, tbl)._2.size
    assert(orphans >= 1, "the crashed batch must leave adopted-but-uncommitted files")
    // restart from the SAME checkpoint — the real recovery path:
    // foreachBatch redelivers the failed batch with its original id
    run(inject = false)
    assert(DeltaLog.lastTxnVersion(spark, tbl, "ingest") == 3)
    assert(DeltaLog.read(spark, tbl).count() == total, "rows lost or doubled across the crash")
    assert(DeltaLog.read(spark, tbl).select("o_orderkey").distinct().count() == total)
    // vacuum reclaims exactly the dead writer's orphans, nothing live
    assert(DeltaLog.vacuum(spark, tbl, retentionMs = 0) == orphans)
    assert(DeltaLog.read(spark, tbl).count() == total)
  }

  test("a compaction that dies before its commit heals through withRetry: one txn commit per micro-batch, one dataChange=false optimize, the dead rewrite vacuumed") {
    val root = s"$base/compact-heal"
    wipe(root)
    val tables = s"$root/tables"
    val cust = s"$tables/customer"
    def rootParquet(t: String): Set[String] =
      Option(new java.io.File(t).list()).toSeq.flatten.filter(_.endsWith(".parquet")).toSet
    // customer pre-staged as four files (the cycle stages it as one), so
    // it lands in four and the compaction has a rewrite to commit
    Synthesize.writeStaged(Tables.customer(spark, sf).repartition(4), s"$root/staging", "customer", 0)
    var deadRewrite = Set.empty[String]
    var liveAtDeath = 0
    PipelineMain.runCycles(spark, sf, root, Seq(0, 1), nBatches = 2, compactEvery = 1,
      beforeCompactCommit = () => if (deadRewrite.isEmpty) {
        val live = DeltaLog.snapshot(spark, cust)._2.toSet
        liveAtDeath = live.size
        deadRewrite = rootParquet(cust) -- live
        throw new RuntimeException("injected death between the compaction's rewrite and its commit")
      })
    assert(liveAtDeath > 1 && deadRewrite.nonEmpty,
      s"the compaction must have died with a rewrite to commit: $liveAtDeath live, $deadRewrite")
    Seq("orders" -> Tables.orders(spark, sf), "lineitem" -> Tables.lineitem(spark, sf),
        "customer" -> Tables.customer(spark, sf)).foreach { case (t, fixture) =>
      assert(table(s"$tables/$t").count() == fixture.count(), s"$t lost or doubled rows")
    }
    def actions(t: String, v: Long) = DeltaLog.readCommit(spark, t, v).map(DeltaLog.parseJson)
    // every drained staged batch is one commit carrying its txn {staged-b<id>, 0}
    for (t <- Seq("orders", "lineitem")) {
      val dir = s"$tables/$t"
      val txns = (0L to DeltaLog.latestVersion(spark, dir)).map { v =>
        val tx = actions(dir, v).filter(_.has("txn")).map(_.get("txn"))
        assert(tx.size == 1, s"$t v$v: expected one txn action, got $tx")
        (tx.head.get("appId").asText(), tx.head.get("version").asLong())
      }
      assert(txns == Seq("staged-b0" -> 0L, "staged-b1" -> 0L),
        s"$t: commits are not one per staged batch: $txns")
    }
    // customer: its one staged batch, then the healed optimize as the one
    // dataChange=false commit — the dead attempt committed nothing
    val hist = DeltaLog.history(spark, cust)
    assert(hist.map(_._5) == Seq(true, false), s"customer history: $hist")
    assert(actions(cust, 0).count(_.has("txn")) == 1 && !actions(cust, 1).exists(_.has("txn")))
    assert(hist(1)._2 == 1 && hist(1)._3 == liveAtDeath, s"optimize commit: ${hist(1)}")
    // the compaction's vacuum(0) reclaimed the dead rewrite: on disk is
    // exactly the live set, with no scratch dir left
    assert(rootParquet(cust) == DeltaLog.snapshot(spark, cust)._2.toSet)
    assert(!new java.io.File(cust).list().exists(_.startsWith(".scratch_")))
  }
}
