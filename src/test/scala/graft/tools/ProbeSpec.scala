package graft.tools

import graft.SparkSpec

/** [[graft.Session]]'s settings reach the shared session, and each
  * [[Probe]] mode prints its header and a row for a real query, so the
  * dev tool cannot rot unnoticed. */
class ProbeSpec extends SparkSpec {

  test("the shared session carries Session's settings and loads the extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    // hash60 is registered only by GraftExtensions
    assert(!spark.sql("select hash60('x')").head().isNullAt(0))
  }

  /** Probe's stdout for `args`, as lines; the session's shuffle sizing
    * is restored after Probe fits it to the fixture. */
  private def probe(args: String*): Seq[String] = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val out = new java.io.ByteArrayOutputStream()
    try Console.withOut(out)(Probe.run(spark, args.toArray))
    finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("Probe time: header, then warm-up and three reps per query") {
    val lines = probe("time", sf, "q1_pricing")
    assert(lines.head.split("\\s+").toSeq == Seq("query", "warmup_s", "reps_s"))
    assert(lines(1).matches("""q1_pricing\s+\d+\.\d{3}\s+\d+\.\d{3},\d+\.\d{3},\d+\.\d{3}"""),
      lines.mkString("\n"))
  }

  test("Probe stages: per-stage table of the profiled run, then the AQE-final plan") {
    val lines = probe("stages", sf, "q1_pricing")
    assert(lines.head.matches("""q1_pricing wall=\d+\.\d{3} s - stages of the timed run.*"""),
      lines.mkString("\n"))
    assert(lines(1).trim.split("\\s+").toSeq ==
      Seq("stage", "tasks", "sumMs", "cpuMs", "maxMs", "p50Ms", "shufRows", "wroteRows", "name"))
    val rows = lines.drop(2).takeWhile(!_.startsWith("=="))
    assert(rows.nonEmpty && rows.forall(_.trim.matches("""(\d+\s+){8}\S+""")), rows.mkString("\n"))
    val plan = lines.dropWhile(_ != "== q1_pricing - AQE-final plan ==")
    assert(plan.exists(_.contains("isFinalPlan=true")), lines.mkString("\n"))
  }

  test("Probe plan executed: formatted plan, then the AQE-final plan's counts") {
    val lines = probe("plan", sf, "q1_pricing", "executed")
    assert(lines.head == s"== q1_pricing @ $sf - explain(formatted) ==")
    assert(lines.contains("== q1_pricing - AQE-final plan =="))
    assert(lines.last.matches(
      """q1_pricing\s+parquetScans= 1 cacheScans= 0 exchanges=\s*\d+ wholestageSpans=\s*\d+ final=true"""),
      lines.last)
  }

  test("Probe refuses a flag its mode does not take") {
    intercept[IllegalArgumentException](Probe.run(spark, Array("time", sf, "q1_pricing", "cold")))
  }
}
