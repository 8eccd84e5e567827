package graft.tools

import java.util.concurrent.atomic.AtomicReference

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe over SparkEntry queries, on the session Bench and Verify use
  * (fitted to the fixture the same way), so what it reports is what the
  * bench times.
  *
  * Usage: Probe <time|stages|plan> <sfDir> <q1,q2,...> [cold|executed]
  *  - `time`: a warm-up then 3 timed reps under the bench's noop-sink
  *    action, per query — A/B a plan change without a full bench;
  *  - `stages`: a warm-up then one profiled run; prints every stage of
  *    that run with its task count, total/cpu/max/median task wall and
  *    shuffle rows, then the AQE-final plan it ran — the facts that
  *    separate "skewed onto one key" from "AQE coalesced a CPU-dense
  *    exchange onto too few reducers" from host noise (SCALE.md
  *    round-13). `cold` skips the warm-up, profiling the query's first
  *    execution in the JVM (codegen compile, cold caches: the bench's
  *    first-rep condition; r15's dd_containment 103 s cold first rep);
  *  - `plan`: the `explain("formatted")` plan (scan pushdowns, join
  *    picks, exchanges) and one line of scan/exchange/codegen-span
  *    counts; `executed` runs the query first, so the counts and the
  *    appended plan are the AQE-final ones. */
object Probe {

  private val Usage = "usage: Probe <time|stages|plan> <sfDir> <q1,q2,...> [cold|executed]"

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build()
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val flags = Map("time" -> None, "stages" -> Some("cold"), "plan" -> Some("executed"))
    require(args.length >= 3 && flags.contains(args(0)) &&
      (args.length == 3 || args.length == 4 && flags(args(0)).contains(args(3))), Usage)
    val Array(mode, sfDir, names) = args.take(3)
    val flagged = args.length == 4
    graft.Session.fitTo(spark, sfDir)
    if (mode == "time") println(f"${"query"}%-24s ${"warmup_s"}%9s  reps_s")
    for (name <- names.split(',').map(_.trim).filter(_.nonEmpty)) {
      val fn = graft.SparkEntry.queries(name)
      val query = () => fn(spark, sfDir)
      mode match {
        case "time" =>
          val warm = timed(noop(query()))
          val reps = Seq.fill(3)(timed(noop(query())))
          println(f"$name%-24s $warm%9.3f  ${reps.map(r => f"$r%.3f").mkString(",")}")
        case "stages" => stages(spark, name, query, cold = flagged)
        case "plan" => plan(spark, name, sfDir, query(), executed = flagged)
      }
      graft.operators.Scratch.release()
    }
  }

  /** The bench's action: every output column computed and serialized
    * into the noop sink. */
  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** `body`'s value and the AQE-final plan of the last query it ran
    * (the Initial Plan echo cut). A write plans its own execution, so the
    * plan comes from the listener that sees it finish; waits until the
    * listener bus has delivered every event `body` raised. */
  private def lastPlan[T](spark: SparkSession)(body: => T): (T, String) = {
    val ran = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val v = body
      // `waitUntilEmpty` is Spark-internal; reflection reaches it
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      v
    } finally spark.listenerManager.unregister(listener)
    (out, ran.get.executedPlan.toString.split("== Initial Plan ==")(0))
  }

  private def stages(spark: SparkSession, name: String, query: () => DataFrame,
                     cold: Boolean): Unit = {
    if (!cold) noop(query())
    // per stage: (task wall ms, shuffle rows read, shuffle rows written, cpu ms)
    val tasks = TrieMap.empty[Int, ArrayBuffer[(Long, Long, Long, Long)]]
    val stageNames = TrieMap.empty[Int, String]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = Option(t.taskMetrics)
        val row = (t.taskInfo.duration, m.map(_.shuffleReadMetrics.recordsRead).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
          m.map(_.executorCpuTime / 1000000L).getOrElse(0L))
        val buf = tasks.getOrElseUpdate(t.stageId, ArrayBuffer.empty)
        buf.synchronized(buf += row)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        // the callsite name is generic under AQE (every query-stage job
        // submits via withThreadLocalCaptured); the RDD scopes carry the
        // actual plan operators this stage executes (r15)
        val ops = s.stageInfo.rddInfos.sortBy(_.id).flatMap(_.scope)
          .map(_.name.replaceAll("\\s+", "")).distinct.mkString(">")
        stageNames += s.stageInfo.stageId ->
          (if (ops.nonEmpty) ops
           else s.stageInfo.name.split(" at ").headOption.getOrElse(s.stageInfo.name))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (wall, plan) =
      try lastPlan(spark)(timed(noop(query())))
      finally spark.sparkContext.removeSparkListener(listener)
    println(f"$name wall=$wall%.3f s - stages of the ${if (cold) "cold" else "timed"} run, by total task time:")
    println(f"${"stage"}%7s ${"tasks"}%6s ${"sumMs"}%9s ${"cpuMs"}%9s ${"maxMs"}%7s ${"p50Ms"}%7s ${"shufRows"}%10s ${"wroteRows"}%10s  name")
    tasks.toSeq.map { case (sid, ts) =>
      val durs = ts.map(_._1).sorted
      (sid, ts.size, durs.sum, durs.last, durs(durs.size / 2),
        ts.map(_._2).sum, ts.map(_._3).sum, ts.map(_._4).sum)
    }.sortBy(-_._3).foreach { case (sid, n, sum, mx, p50, rr, wr, cpu) =>
      println(f"$sid%7d $n%6d $sum%9d $cpu%9d $mx%7d $p50%7d $rr%10d $wr%10d  ${stageNames.getOrElse(sid, "?")}")
    }
    println(s"== $name - AQE-final plan ==")
    println(plan)
  }

  private def plan(spark: SparkSession, name: String, sfDir: String, df: DataFrame,
                   executed: Boolean): Unit = {
    println(s"== $name @ $sfDir - explain(formatted) ==")
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    val p =
      if (!executed) df.queryExecution.executedPlan.toString
      else {
        val (_, ran) = lastPlan(spark)(noop(df))
        println(s"== $name - AQE-final plan ==")
        println(ran)
        ran
      }
    def n(pat: String) = pat.r.findAllIn(p).size
    // every operator inside a codegen span carries the "*(id)" marker, so
    // spans = DISTINCT stage ids, not marker occurrences
    val spans = """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet.size
    println(f"$name%-20s parquetScans=${n("Scan parquet")}%2d cacheScans=${n("InMemoryTableScan")}%2d " +
      f"exchanges=${n("Exchange")}%2d wholestageSpans=$spans%2d final=${p.contains("isFinalPlan=true")}")
  }
}
