package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.{Fs, PipelineMain, Serve}

/** The benchmark's JVM side: one workload, timed from outside through
  * the public entry points of `graft.streaming` and `graft.SparkEntry`.
  * `run.py` compiles this file with the program, launches it, and checks
  * and forwards the `PERFBENCH {...}` line it prints last.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <fixtureDir>
  *                <workDir> <expectationsJson> <traceOut>
  *
  * Each workload's timed phase is a fixed amount of work, sized from
  * `seconds` (one cycle round per [[RoundS]], one query pass per
  * [[PassS]] seconds, as measured on a 4-core host), so that runs of the
  * same `seconds` on two commits do the same work.
  */
object Harness {

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** `cycle`: the fixture is staged in one batch per round; batch 1 is
    * the untimed warm-up round, so it stages `customer` and runs one
    * compaction. `customer` compacts after every second batch id
    * (`runCycles`' cadence), so the seeded order of the timed rounds
    * never changes how many of them compact. */
  val RoundS = 4.0
  val CompactEvery = 2

  /** `queries`: TPC-H shapes behind the reduce (aggregate, the reduce's
    * own Q3 join, a six-way join, outer join, semi join, exists/not
    * exists) and two queries on the Manifest table protocol. */
  val QuerySet = Seq("q1_pricing", "q3_unshipped", "q5_local_supplier", "q13_cust_dist",
    "q18_large_orders", "q21_waiting", "pipe_txn_compact", "pipe_time_travel")
  val PassS = 8.0

  def now: Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  // ---------------------------------------------------------------- trace

  final case class Span(name: String, start: Double, end: Double)
  final class Job(val start: Double, val stages: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final case class StageM(cpuS: Double, shuffleBytes: Long)

  /** Spans around each call into a layer, with the Spark and streaming
    * listener counts of the jobs inside them. Only the traced run has
    * one, and it traces only while attached; a job belongs to the span
    * its start time falls in (the workloads call one layer at a time).
    * Metrics cover the traced units of the timed phase, from `from` on;
    * the file keeps the warm-up's spans too. */
  final class Tracer(spark: SparkSession) {
    @volatile var from = Double.PositiveInfinity // set when timing starts
    private val spans = ArrayBuffer.empty[Span]
    private val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
    private val stages = scala.collection.concurrent.TrieMap.empty[Int, StageM]
    private val batches = ArrayBuffer.empty[(Double, Long, Long, Long)] // start, rows, addBatch ms, trigger ms
    val counts = LinkedHashMap.empty[String, Double]
    // listener events carry wall-clock ms; spans use nanoTime seconds
    private val offset = System.currentTimeMillis() / 1e3 - now

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, new Job(e.time / 1e3 - offset, e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time / 1e3 - offset)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stages.put(e.stageInfo.stageId, StageM(m.executorCpuTime / 1e9,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
      }
    }
    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli / 1e3 - offset
        batches.synchronized(batches += ((start, e.progress.numInputRows, ms("addBatch"), ms("triggerExecution"))))
      }
    }

    @volatile private var attached = false
    def on: Boolean = attached

    /** Delivers every event already posted, so a listener added or
      * removed now sees exactly the jobs of the units it traced.
      * `waitUntilEmpty` is Spark-internal; reflection reaches it. */
    private def drain(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def attach(): Unit = if (!attached) {
      drain()
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
      attached = true
    }
    def detach(): Unit = if (attached) {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
      attached = false
    }
    attach()

    def record(name: String, start: Double, end: Double): Unit =
      spans.synchronized(spans += Span(name, start, end))

    def add(name: String, v: Double): Unit =
      if (now >= from) counts(name) = counts.getOrElse(name, 0.0) + v

    private val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def sample(name: String, v: Double): Unit =
      if (now >= from) samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
    def medianOf(name: String): Double = samples.get(name).map(b => median(b.toSeq)).getOrElse(0.0)

    def span[T](name: String)(body: => T): T = {
      val t0 = now
      try body finally record(name, t0, now)
    }

    private def spansOf(name: String): Seq[Span] =
      spans.synchronized(spans.filter(s => s.start >= from &&
        (s.name == name || s.name.startsWith(name + "."))).toList)

    /** Jobs that started inside one of the span's intervals; `name`
      * also covers its dotted children (`query` covers `query.q1_pricing`). */
    def jobsOf(name: String): Seq[Job] = {
      val own = spansOf(name)
      jobs.values.toSeq.filter(j => own.exists(s => j.start >= s.start && j.start <= s.end))
    }
    def wall(name: String): Double = spansOf(name).map(s => s.end - s.start).sum
    def stagesOf(name: String): Seq[StageM] = jobsOf(name).flatMap(_.stages).flatMap(stages.get)
    def cpu(name: String): Double = stagesOf(name).map(_.cpuS).sum
    def shuffleMb(name: String): Double = stagesOf(name).map(_.shuffleBytes).sum / 1e6

    /** Span wall minus the time any of its jobs was active. */
    def gap(name: String): Double = {
      val iv = jobsOf(name).filter(!_.end.isNaN).map(j => (j.start, j.end)).sortBy(_._1)
      var busy = 0.0; var s0 = Double.NaN; var e0 = Double.NaN
      for ((s, e) <- iv) {
        if (s0.isNaN || s > e0) { if (!s0.isNaN) busy += e0 - s0; s0 = s; e0 = e }
        else e0 = math.max(e0, e)
      }
      if (!s0.isNaN) busy += e0 - s0
      math.max(0.0, wall(name) - busy)
    }

    /** Micro-batches: (count, rows, addBatch s, triggerExecution - addBatch s). */
    def microBatches: (Int, Long, Double, Double) = batches.synchronized {
      val b = batches.filter(_._1 >= from)
      (b.size, b.map(_._2).sum, b.map(_._3).sum / 1e3, b.map(x => x._4 - x._3).sum / 1e3)
    }

    def spanJson(origin: Double): String = spans.synchronized(spans.map(s =>
      f"""    {"name": "${s.name}", "start_s": ${s.start - origin}%.6f, "end_s": ${s.end - origin}%.6f}""")
      .mkString("[\n", ",\n", "\n  ]"))
  }

  // ------------------------------------------------------------------ http

  final case class Reply(code: Int, body: String, ms: Double)

  /** One request on the JDK's keep-alive connection: one client thread
    * issuing requests one after another reuses one connection. */
  def get(port: Int, path: String): Reply = {
    val t0 = now
    try {
      val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(5000); c.setReadTimeout(60000)
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      Reply(code, body, (now - t0) * 1e3)
    } catch { case _: java.io.IOException => Reply(-1, "", (now - t0) * 1e3) }
  }

  def rowsIn(json: String): Int = if (json == "[]") 0 else json.split("\\},\\{").length

  // --------------------------------------------------------------- session

  /** `PipelineMain.main`'s session settings (the same as Bench's), task
    * slots sized from the host's cores, Spark scratch under the run's work
    * dir. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ------------------------------------------------------------ workloads

  /** One run: operations attempted and failed, why any failed, and the
    * end-to-end metrics. */
  final class Ctx(val spark: SparkSession, seed: Long, seconds: Int, val fixtures: String,
                  val work: String, val tracer: Option[Tracer]) {
    /** Timed units of work: `seconds` divided by the time of one unit,
      * rounded up to an even number in a traced run. */
    def units(unitS: Double): Int = {
      val n = math.max(2, math.round(seconds / unitS).toInt)
      if (tracer.isDefined) n + n % 2 else n
    }
    val rnd = new scala.util.Random(seed)
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer.empty[String]
    val metrics = LinkedHashMap.empty[String, (Double, String)]
    var timingStart = Double.NaN
    def startTiming(): Unit = { timingStart = now; tracer.foreach(_.from = timingStart) }

    def check(ok: Boolean, what: => String): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; if (problems.size < 20) problems += what }
      ok
    }
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def traced: Boolean = tracer.exists(_.on)
    def span[T](name: String)(body: => T): T = tracer.filter(_.on) match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
    def trace(f: Tracer => Unit): Unit = tracer.filter(_.on).foreach(f)

    /** Runs timed unit `i`. A traced run traces one unit of each pair,
      * in the order traced, untraced, untraced, traced, ...: the others
      * are its untraced baseline, run in the same JVM and interleaved
      * with the traced ones so that a warm-up trend falls on both. */
    private val unitWalls = ArrayBuffer.empty[Double]
    def tracedUnit(i: Int): Boolean = (i % 2 == 0) == (i / 2 % 2 == 0)
    def unit[T](i: Int)(body: => T): T = {
      tracer.foreach(t => if (tracedUnit(i)) t.attach() else t.detach())
      val t0 = now
      try body finally unitWalls += now - t0
    }

    /** Tracing overhead of a traced run: its traced units' end-to-end
      * figures minus its untraced units'. `opLatency` is the workload's
      * `op_latency_s` over a subset of the per-unit results. */
    def traceOverhead[T](perUnit: Seq[T])(opLatency: Seq[T] => Double): Unit = tracer.foreach { t =>
      t.detach()
      val (on, off) = perUnit.indices.partition(tracedUnit)
      def mean(ix: Seq[Int]) = ix.map(unitWalls).sum / ix.size
      put("trace.op_latency_s_overhead", opLatency(on.map(perUnit)) - opLatency(off.map(perUnit)), "s")
      put("trace.run_s_overhead", (mean(on) - mean(off)) * perUnit.size, "s")
    }
  }

  def parquetFiles(spark: SparkSession, dir: String): Int =
    Fs.listFiles(spark, dir, _.endsWith(".parquet")).size

  /** `cycle`: the paper's loop on one cadence. Each round stages one
    * batch, drains it and compacts `customer` on `runCycles`' cadence,
    * republishes, and reads one segment back; its freshness is round start
    * to that first 200 after the republish. */
  def cycle(c: Ctx): Unit = {
    val spark = c.spark
    val rounds = c.units(RoundS)
    val batches = rounds + 1
    // seeded pairs of rounds on the same compaction cadence, so that a
    // traced run, which traces one round of each pair, traces half of
    // the compacting rounds whatever the seed
    val (compacting, plain) = (0 to rounds).filter(_ != 1).partition(b => (b + 1) % CompactEvery == 0)
    val pairs = (c.rnd.shuffle(compacting.toList) ++ c.rnd.shuffle(plain.toList)).grouped(2).toList
    val timed = c.rnd.shuffle(pairs).flatMap(c.rnd.shuffle(_))
    val segs = c.rnd.shuffle(Segments.toList)
    val custDir = s"${c.work}/tables/customer"
    val srv = Serve.start(spark, s"${c.work}/results", Segments, watchdogMs = 1000L)
    def round(b: Int, seg: String): Double = {
      val start = now
      val traced = c.traced
      val custBefore = if (traced) parquetFiles(spark, custDir) else 0
      var staged = Double.NaN
      PipelineMain.runCycles(spark, c.fixtures, c.work, Seq(b), batches, CompactEvery,
        chaos = _ => {
          staged = now
          // this batch's files only: Ingest retires earlier batches' one drain late
          c.trace(_.add("generate.files", Fs.listFiles(spark, s"${c.work}/staging",
            f => f.contains(s"_b${b}_") && f.endsWith(".json")).size))
        })
      c.trace { t =>
        t.record("generate", start, staged)
        t.record("ingest", staged, now)
        if ((b + 1) % CompactEvery == 0) {
          t.add("compact.files_in", custBefore)
          t.add("compact.files_out", parquetFiles(spark, custDir))
        }
      }
      c.span("publish")(PipelineMain.publishResults(spark, c.work))
      val r = c.span("serve")(get(srv.port, s"/results/$seg"))
      c.trace(_.sample("serve.first_hit_ms", r.ms))
      if (c.check(r.code == 200 && rowsIn(r.body) == 50,
            s"batch $b: GET /results/$seg -> ${r.code}, ${rowsIn(r.body)} rows")) now - start
      else Double.PositiveInfinity
    }
    try {
      round(1, segs.head) // untimed warm-up round
      c.startTiming()
      val fresh = timed.zipWithIndex.map { case (b, i) => c.unit(i)(round(b, segs((i + 1) % segs.size))) }
      val runS = now - c.timingStart
      c.traceOverhead(fresh)(median)
      for (seg <- Segments) {
        val r = get(srv.port, s"/results/$seg")
        c.check(r.code == 200 && rowsIn(r.body) == 50,
          s"final GET /results/$seg -> ${r.code}, ${rowsIn(r.body)} rows")
      }
      for ((t, fixture) <- Seq("orders" -> Tables.orders(spark, c.fixtures),
                               "lineitem" -> Tables.lineitem(spark, c.fixtures))) {
        val got = spark.read.parquet(s"${c.work}/tables/$t").count()
        val want = fixture.count()
        c.check(got == want, s"ingested $t holds $got rows, the fixture $want (exactly-once)")
      }
      c.put("run_s", runS, "s")
      c.put("op_latency_s", median(fresh), "s")
      // traced run only, after the timed phase: cache hits on a quiet
      // service, /health on every 10th request
      c.tracer.foreach(_.attach())
      c.trace { t =>
        for (i <- 0 until 30) {
          val p = if (i % 10 == 9) "/health" else s"/results/${segs(i % segs.size)}"
          val r = get(srv.port, p)
          if (c.check(r.code == 200, s"GET $p -> ${r.code}"))
            t.sample(if (p == "/health") "serve.health_ms" else "serve.results_ms", r.ms)
        }
      }
    } finally srv.stop()
  }

  /** Row count and an order-insensitive hash of a query's rows. */
  def digest(rows: Array[Row]): (Long, Long) = {
    import scala.util.hashing.MurmurHash3.stringHash
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(String.valueOf).mkString("\u0001")
      h += (stringHash(s, 0x5bd1e995).toLong << 32) ^ (stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    (rows.length.toLong, h)
  }

  def readExpectations(path: String): Map[String, (Long, Long)] = {
    val js = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
    "\"([a-z0-9_]+)\":\\s*\\[(-?\\d+),\\s*(-?\\d+)\\]".r.findAllMatchIn(js)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  /** `queries`: [[QuerySet]] in passes, each pass in a seeded order; every
    * result must match the expectations file, and so every other pass. */
  def queries(c: Ctx, expectPath: String): Unit = {
    val spark = c.spark
    val passes = c.units(PassS)
    val expected = readExpectations(expectPath)
    def runOne(q: String): Double = {
      val t0 = now
      val (df, rows) = c.span(s"query.$q") {
        val df = SparkEntry.queries(q)(spark, c.fixtures)
        (df, df.collect())
      }
      val dt = now - t0
      val d = digest(rows)
      val want = expected.getOrElse(q, (-1L, 0L))
      c.trace(_.add(s"query.$q.planning_ms", Seq("analysis", "optimization", "planning")
        .flatMap(df.queryExecution.tracker.phases.get).map(_.durationMs.toDouble).sum))
      if (c.check(d == want, s"$q: (rows, hash) $d, expected $want")) dt
      else Double.PositiveInfinity
    }
    c.rnd.shuffle(QuerySet).foreach(runOne) // untimed warm-up pass
    c.startTiming()
    val perPass = (0 until passes).map(i => c.unit(i)(c.rnd.shuffle(QuerySet).map(q => q -> runOne(q)).toMap))
    c.put("run_s", now - c.timingStart, "s")
    def opLatency(ps: Seq[Map[String, Double]]): Double = geomean(QuerySet.map(q => median(ps.map(_(q)))))
    c.put("op_latency_s", opLatency(perPass), "s")
    c.traceOverhead(perPass)(opLatency)
  }

  // ------------------------------------------------------------------ main

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(m: Seq[(String, (Double, String))], sep: String): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": ${json(v)}, "unit": "$u"}""" }
      .mkString("{" + sep, "," + sep, sep + "}")

  /** Per-layer numbers of a traced run, named `<layer>.<metric>`. */
  def layerMetrics(t: Tracer): Seq[(String, (Double, String))] = {
    val (nb, rows, addBatch, overhead) = t.microBatches
    def n(k: String) = t.counts.getOrElse(k, 0.0)
    Seq(
      "generate.wall_s" -> (t.wall("generate"), "s"),
      "generate.jobs" -> (t.jobsOf("generate").size.toDouble, "count"),
      "generate.task_cpu_s" -> (t.cpu("generate"), "s"),
      "generate.files" -> (n("generate.files"), "count"),
      "ingest.wall_s" -> (t.wall("ingest"), "s"),
      "ingest.batches" -> (nb.toDouble, "count"),
      "ingest.rows" -> (rows.toDouble, "count"),
      "ingest.add_batch_s" -> (addBatch, "s"),
      "ingest.overhead_s" -> (overhead, "s"),
      "compact.files_in" -> (n("compact.files_in"), "count"),
      "compact.files_out" -> (n("compact.files_out"), "count"),
      "publish.wall_s" -> (t.wall("publish"), "s"),
      "publish.jobs" -> (t.jobsOf("publish").size.toDouble, "count"),
      "publish.stages" -> (t.stagesOf("publish").size.toDouble, "count"),
      "publish.task_cpu_s" -> (t.cpu("publish"), "s"),
      "publish.shuffle_mb" -> (t.shuffleMb("publish"), "MB"),
      "serve.first_hit_ms" -> (t.medianOf("serve.first_hit_ms"), "ms"),
      "serve.results_ms" -> (t.medianOf("serve.results_ms"), "ms"),
      "serve.health_ms" -> (t.medianOf("serve.health_ms"), "ms"),
      "query.wall_s" -> (t.wall("query"), "s"),
      "query.jobs" -> (t.jobsOf("query").size.toDouble, "count"),
      "query.task_cpu_s" -> (t.cpu("query"), "s")) ++
    QuerySet.flatMap { q =>
      Seq(s"query.$q.wall_s" -> (t.wall(s"query.$q"), "s"),
        s"query.$q.planning_ms" -> (n(s"query.$q.planning_ms"), "ms"),
        s"query.$q.task_cpu_s" -> (t.cpu(s"query.$q"), "s"))
    } ++
    Seq("generate", "ingest", "publish", "serve", "query").map(s =>
      s"driver.$s.gap_s" -> (t.gap(s), "s"))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, fixtures, work, expectPath, traceOut) = args
    // process start, on the nanoTime axis the timed phase uses
    val jvmStart = now - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(work)
    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val c = new Ctx(spark, seed.toLong, seconds.toInt, fixtures, work, tracer)
    workload match {
      case "cycle" => cycle(c)
      case "queries" => queries(c, expectPath)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    c.put("setup_s", c.timingStart - jvmStart, "s")
    tracer.foreach(_.detach()) // delivers the last events
    val metrics = c.metrics.toSeq ++ tracer.toSeq.flatMap(layerMetrics)
    tracer.foreach { t =>
      Files.write(Paths.get(traceOut),
        s"""{"workload": "$workload", "seed": $seed,
           |  "metrics": ${metricsJson(metrics, "\n    ")},
           |  "spans": ${t.spanJson(jvmStart)}}
           |""".stripMargin.getBytes(UTF_8))
    }
    val probs = c.problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
    println(s"""PERFBENCH {"correct": ${c.failed == 0}, "attempted": ${c.attempted}, """ +
      s""""failed": ${c.failed}, "problems": ${probs.mkString("[", ", ", "]")}, """ +
      s""""metrics": ${metricsJson(metrics, " ")}}""")
    spark.stop()
  }
}
