package graft.tools

/** Scale-exponent measurement harness (SCALE.md): times each named
  * query at TWO scale factors in one JVM (warm-up + `reps` timed runs
  * each, bench's noop-write action, Scratch released between queries)
  * and prints per-query medians, the B/A ratio, and the scaling
  * exponent log(tB/tA)/log(scaleB/scaleA) — exponent ≈ 1 is linear,
  * > 1 superlinear. One line of JSON per query so partial progress
  * survives an interrupt.
  *
  * Usage: ScaleRun <sfDirA> <sfDirB> <scaleRatio> <q1,q2,...> [reps=2]
  */
object ScaleRun {
  def main(args: Array[String]): Unit = {
    val sfA = args(0)
    val sfB = args(1)
    val ratio = args(2).toDouble
    val names = args(3).split(',').map(_.trim).filter(_.nonEmpty)
    val reps = args.lift(4).map(_.toInt).getOrElse(2)
    val spark = graft.Session.build()

    def time(name: String, sfDir: String): Seq[Double] = {
      // per-scale shuffle sizing: partitions derive from THIS dir's bytes
      // (the honest cluster model — parallelism grows with data; verdict
      // item 7's measured fixed-partition spill artifact)
      spark.conf.set("spark.sql.shuffle.partitions",
        graft.operators.Corpus.shufflePartitions(spark, sfDir).toString)
      // pseudo-query: the shared MinHash-LSH pair PIPELINE, cache
      // dropped before every execution so each rep pays the full
      // shingle→minhash→band→verify cost (the session-lived cache is
      // right for the bench, wrong for an exponent measurement —
      // dd_minhash_lsh's own line here measures the cached-read path)
      val body: () => Unit =
        if (name == "dd_pair_pipeline")
          () => {
            graft.operators.Dedup.releasePairCache()
            graft.operators.Dedup.materializePairCache(spark, sfDir); ()
          }
        else {
          val fn = graft.SparkEntry.queries(name)
          () => fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        }
      def once(): Double = {
        val t0 = System.nanoTime()
        body()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      val r = Seq.fill(reps)(once())
      graft.operators.Scratch.release()
      r
    }

    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // scalastyle:off println
    for (name <- names) {
      try {
        val a = time(name, sfA)
        val b = time(name, sfB)
        val r = med(b) / med(a)
        val exp = math.log(r) / math.log(ratio)
        println(f"""{"query":"$name","a":[${a.map(x => f"$x%.3f").mkString(",")}],""" +
          f""""b":[${b.map(x => f"$x%.3f").mkString(",")}],""" +
          f""""med_a":${med(a)}%.3f,"med_b":${med(b)}%.3f,""" +
          f""""ratio":$r%.2f,"exponent":$exp%.3f}""")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"""{"query":"$name","error":"${e.getMessage.take(120).replace('"', '\'')}"}""")
      }
    }
    // scalastyle:on println
    spark.stop()
  }
}
