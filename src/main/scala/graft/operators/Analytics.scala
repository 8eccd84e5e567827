package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-7 analytics-breadth surface: the relational and analytical
  * operators a user of the reference's toolchain reaches for next once
  * the core query capabilities (reference pipeline/reduce.py:24-78) are
  * covered — exact-distinct sketching, deterministic mode, grid
  * cross joins, gaps-and-islands continuity analysis, lateral explode,
  * per-group linear trend, l-diversity release audit, lexicon polarity
  * scoring, and the co-occurrence degree distribution.
  *
  * House rules applied throughout (see [[Relational]] scaladoc): filters
  * and projections reach the scan, small sides broadcast, aggregates are
  * partial/final map-side-combinable, money/score arithmetic is exact
  * int64 with ONE final double division, and every query ends in a
  * deterministic total order so the driver's hash compare is stable at
  * any parallelism.
  */
object Analytics {

  // ------------------------------------------------------------------
  // Exact distinct counting via bitmap sketches

  /** Exact COUNT DISTINCT as a MERGEABLE bitmap aggregate
    * (`bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_or_agg` — Spark's RoaringBitmap-
    * style exact-distinct kernel). Why not plain `count(distinct)`:
    * at 100 TB Catalyst plans distinct-aggregates as an EXPAND (one
    * extra shuffle of the fact table per distinct column); the bitmap
    * form partial-aggregates per (group, 32k-bucket) map-side, ships
    * fixed-size bitmaps, and OR-merges them associatively — the same
    * two-level shape the exact engine behind every "exact uniques"
    * dashboard uses. The oracle proves the sketch IS exact by
    * comparing against `count(DISTINCT ...)`. */
  def opBitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val perBucket = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    val perType = perBucket.groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    val total = perBucket.groupBy("bkt")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users_total"))
    perType.crossJoin(total)
      .withColumn("share", col("n_users").cast("double") / col("n_users_total"))
      .orderBy("event_type")
  }

  private val opBitmapDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users,
      |  (SELECT count(DISTINCT user_id)::BIGINT FROM events) AS n_users_total,
      |  count(DISTINCT user_id)::DOUBLE /
      |    (SELECT count(DISTINCT user_id) FROM events) AS share
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic mode aggregate

  /** MODE (most frequent value) per group. Spark and DuckDB both ship a
    * `mode()` aggregate but both leave ties implementation-defined, so
    * the deterministic form is count-then-argmax with a TOTAL order
    * (count desc, value asc) — the same tie-totalization discipline as
    * [[Relational.opArgminmax]]. Two map-side-combinable aggregates,
    * no row-level sort: the rank window runs over the tiny
    * (group × distinct-value) relation, not the fact table. */
  def opModeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n_modes", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("cnt").as("mode_cnt"), col("n_modes"))
      .orderBy("o_orderstatus")
  }

  private val opModeAggSql: String =
    """WITH counts AS (
      |  SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS cnt
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY cnt DESC, o_orderpriority ASC) AS rn,
      |    count(*) OVER (PARTITION BY o_orderstatus)::BIGINT AS n_modes
      |  FROM counts)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_cnt, n_modes
      |FROM ranked WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------------------
  // Gaps and islands

  /** GAPS-AND-ISLANDS: per-user runs of consecutive active days (the
    * classic continuity/streak analysis behind retention dashboards).
    * Reduce-first shape: the fact table collapses to distinct
    * (user, day) BEFORE any window — the window then runs over at most
    * users × days rows. Island key is the constant-under-consecutive
    * `day_index - row_number()` difference; island stats and the
    * longest-streak argmax (tie → earliest start) are two further
    * map-combinable aggregates. Day grid survives any scale: state per
    * user is bounded by the calendar, not the event volume. */
  def opGapsIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("idx", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy("user_id").orderBy("idx")
    val islands = days
      .withColumn("grp", col("idx") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("d")).as("start_d"), count(lit(1)).as("len"))
    val wU = Window.partitionBy("user_id")
    islands
      .withColumn("longest", max(col("len")).over(wU))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        date_format(min(when(col("len") === col("longest"), col("start_d"))),
          "yyyy-MM-dd").as("longest_start"))
      .orderBy("user_id")
  }

  private val opGapsIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, ts::DATE AS d FROM events),
      |idx AS (
      |  SELECT user_id, d,
      |    date_diff('day', DATE '1970-01-01', d)::BIGINT AS idx
      |  FROM days),
      |islands AS (
      |  SELECT user_id, grp, min(d) AS start_d, count(*)::BIGINT AS len
      |  FROM (SELECT *, idx - row_number() OVER (
      |          PARTITION BY user_id ORDER BY idx) AS grp FROM idx)
      |  GROUP BY 1, 2),
      |lg AS (
      |  SELECT *, max(len) OVER (PARTITION BY user_id) AS longest FROM islands)
      |SELECT user_id, count(*)::BIGINT AS n_streaks,
      |  sum(len)::BIGINT AS n_active_days,
      |  max(len)::BIGINT AS longest_streak,
      |  strftime(min(CASE WHEN len = longest THEN start_d END), '%Y-%m-%d')
      |    AS longest_start
      |FROM lg GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // Lateral explode

  /** LATERAL EXPLODE with ordinality (`posexplode` — DuckDB's zipped
    * `unnest ... generate_subscripts`): one row per (document, token
    * position) for the leading tokens. The generator runs INSIDE the
    * projection (WholeStageCodegen `Generate`), so no join and no
    * shuffle — row expansion is pipelined with the scan; the slice
    * bounds the fan-out per row, which is what keeps an explode
    * predictable when a 100 TB corpus has pathological documents.
    * NULL semantics (r11 nulls gate): Spark's generator emits ZERO
    * rows for a NULL array (`posexplode(split(NULL))`); the oracle
    * must coalesce the series bound because DuckDB's `least`
    * SKIPS NULL arguments (`least(4, len(NULL)) = 4`), which would
    * fabricate 4 all-NULL token rows per NULL document. */
  def opExplodeLateral(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(expr("slice(split(text, ' '), 1, 4)")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
      .orderBy("doc_id", "pos")

  private val opExplodeLateralSql: String =
    """SELECT doc_id, pos::BIGINT AS pos, tok FROM (
      |  SELECT doc_id, unnest(list_transform(
      |      generate_series(1, least(4, coalesce(len(toks), 0))),
      |      i -> {'pos': i, 'tok': toks[i]}), recursive := true)
      |  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents))
      |ORDER BY doc_id, pos""".stripMargin

  // ------------------------------------------------------------------
  // Grid cross join

  /** CROSS JOIN for grid completion: the complete nation × order-status
    * matrix, zero-filled where no orders exist (the "dense report"
    * shape — pivot tables and resample grids need every cell present).
    * Both grid sides are dimension-sized so the cross join is a
    * broadcast nested loop over ~tens of rows; the FACT table is
    * aggregated to (nation, status) FIRST and joined to the grid
    * broadcast-side — the fact table itself never participates in a
    * cross join at any scale. */
  def opJoinCross(spark: SparkSession, sfDir: String): DataFrame = {
    val statuses = Tables.orders(spark, sfDir).select("o_orderstatus").distinct()
    val nations = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val grid = nations.crossJoin(statuses)
    val actual = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("cnt"))
    grid.join(actual,
        grid("n_nationkey") === actual("c_nationkey") &&
          grid("o_orderstatus") === actual("st"), "left")
      .select(col("n_name"), col("o_orderstatus"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .orderBy("n_name", "o_orderstatus")
  }

  private val opJoinCrossSql: String =
    """WITH grid AS (
      |  SELECT n_nationkey, n_name, o_orderstatus
      |  FROM nation CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)),
      |actual AS (
      |  SELECT c_nationkey, o_orderstatus AS st, count(*)::BIGINT AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
      |SELECT n_name, o_orderstatus, coalesce(cnt, 0)::BIGINT AS n_orders
      |FROM grid LEFT JOIN actual
      |  ON grid.n_nationkey = actual.c_nationkey AND grid.o_orderstatus = actual.st
      |ORDER BY n_name, o_orderstatus""".stripMargin

  // ------------------------------------------------------------------
  // Per-group linear trend

  /** PER-GROUP OLS TREND over the daily activity series: slope and
    * intercept from the closed-form normal equations evaluated on
    * EXACT int64 sums (x = epoch day, y = daily count — both integers),
    * with one double division per statistic. Float-reassociation-proof
    * by construction: partial aggregation order cannot change an
    * integer sum, so both engines divide the same numerator by the
    * same denominator (the [[graft.functions.Exact]] discipline applied
    * to regression). Headroom: sx·sxy ≈ 7e15 at this fixture's scale,
    * ~7e17 at 100×, inside int64. One shuffle on (event_type, day),
    * one on event_type — both map-side combined. */
  def evTrend(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx"))).as("intercept"))
      .orderBy("event_type")

  private val evTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |sums AS (
      |  SELECT event_type, count(*)::BIGINT AS n_days,
      |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
      |  FROM (SELECT *, date_diff('day', DATE '1970-01-01', d)::BIGINT AS x
      |        FROM daily)
      |  GROUP BY 1)
      |SELECT event_type, n_days,
      |  (n_days * sxy - sx * sy)::DOUBLE / (n_days * sxx - sx * sx) AS slope,
      |  (sy * sxx - sx * sxy)::DOUBLE / (n_days * sxx - sx * sx) AS intercept
      |FROM sums ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // l-diversity release audit

  /** l-DIVERSITY audit — the companion to [[Curation.cuKAnon]]'s
    * k-anonymity: a quasi-identifier equivalence class is safe only if
    * the SENSITIVE attribute takes ≥ l distinct values inside it
    * (k-anonymous classes can still leak via a homogeneous sensitive
    * column). QI = (lang, length bucket), sensitive = source. Two
    * aggregates: per-class distinct-sensitive counts, then the per-lang
    * release report. Same reduce-first scale shape as cu_k_anon. */
  def cuLDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), expr("cast(n_chars div 500 as bigint)").as("chars_bucket"))
      .agg(countDistinct(col("source")).as("n_sens"), count(lit(1)).as("class_size"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_classes"),
        min(col("n_sens")).as("min_l"),
        sum(when(col("n_sens") < 3, 1L).otherwise(0L)).as("classes_below_l"),
        sum(when(col("n_sens") < 3, col("class_size")).otherwise(0L)).as("rows_at_risk"))
      .orderBy("lang")

  private val cuLDiversitySql: String =
    """WITH classes AS (
      |  SELECT lang, n_chars // 500 AS chars_bucket,
      |    count(DISTINCT source)::BIGINT AS n_sens, count(*)::BIGINT AS class_size
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, count(*)::BIGINT AS n_classes,
      |  min(n_sens)::BIGINT AS min_l,
      |  sum(CASE WHEN n_sens < 3 THEN 1 ELSE 0 END)::BIGINT AS classes_below_l,
      |  sum(CASE WHEN n_sens < 3 THEN class_size ELSE 0 END)::BIGINT AS rows_at_risk
      |FROM classes GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Lexicon polarity scoring

  /** LEXICON POLARITY — dictionary-based sentiment scoring, the
    * classic pre-model text-quality signal (and the shape of every
    * wordlist-driven scorer: toxicity lists, domain vocabularies).
    * Token membership runs in a codegen'd `filter` higher-order
    * function over the split array — no UDF, no join for a
    * literal-sized lexicon (a large lexicon would broadcast-join the
    * exploded tokens instead). Score = (pos − neg) / tokens, exact
    * integers, one double division. Lexicon drawn from the fixture's
    * synthetic vocabulary (fast/big vs slow/small). */
  def taPolarity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tok"),
        expr("cast(size(filter(split(text, ' '), t -> t = 'fast' OR t = 'big')) as bigint)")
          .as("n_pos"),
        expr("cast(size(filter(split(text, ' '), t -> t = 'slow' OR t = 'small')) as bigint)")
          .as("n_neg"))
      .withColumn("polarity",
        (col("n_pos") - col("n_neg")).cast("double") / col("n_tok"))
      .orderBy("doc_id")

  private val taPolaritySql: String =
    """SELECT doc_id, lang,
      |  len(str_split(text, ' '))::BIGINT AS n_tok,
      |  len(list_filter(str_split(text, ' '),
      |      t -> t = 'fast' OR t = 'big'))::BIGINT AS n_pos,
      |  len(list_filter(str_split(text, ' '),
      |      t -> t = 'slow' OR t = 'small'))::BIGINT AS n_neg,
      |  (len(list_filter(str_split(text, ' '), t -> t = 'fast' OR t = 'big')) -
      |   len(list_filter(str_split(text, ' '), t -> t = 'slow' OR t = 'small')))::DOUBLE
      |    / len(str_split(text, ' ')) AS polarity
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Degree distribution

  /** DEGREE DISTRIBUTION of the part co-occurrence graph (same edge
    * derivation as [[Graph]]: parts sharing an order) — the first graph
    * statistic any 100 TB graph job computes, and the input to
    * power-law/skew planning for everything downstream. Shape: one
    * self-equi-join on the order key (bounded fan-out per order), two
    * reduce-first aggregates (distinct neighbor count per node, then
    * node count per degree). No all-pairs anywhere. */
  def grDegreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    // spread by the join/distinct key (r14) — see [[Graph]]'s edges note
    val li = Tables.spread(spark,
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey")).distinct()
    val deg = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v")).distinct()
      .groupBy("u").agg(count(lit(1)).as("degree"))
    deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  private val grDegreeDistSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (SELECT u, count(*)::BIGINT AS degree FROM edges GROUP BY u)
      |SELECT degree, count(*)::BIGINT AS n_nodes
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  // ------------------------------------------------------------------
  // Bloom-filter pre-filtered join (runtime-filter idiom, verifiable)

  /** BLOOM-PREFILTERED SEMI JOIN — the sideways-information-passing
    * idiom behind Spark's own runtime filters, made explicit and
    * verifiable: build a Bloom filter over the FILTERED dimension's
    * keys (`bloom_filter_agg`; the collect is sketch-sized — ~100 KB —
    * never data-sized), push `might_contain` into the fact scan as a
    * cheap pre-filter, then let the exact semi join remove the false
    * positives. At 100 TB the bloom drops non-matching fact rows
    * BEFORE the shuffle, which is the whole game for a selective
    * dim-fact join; correctness is independent of the bloom's FP rate
    * because the semi join is still exact — which is precisely what
    * the oracle (plain semi join) proves. `bloom_filter_agg` /
    * `might_contain` live in Catalyst's internal registry (they back
    * the optimizer's InjectRuntimeFilter), so the expressions are
    * constructed natively via the ColumnBridge (same supported
    * pattern as the custom-operator tier). */
  def opBloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"))
    val bloomAgg = ColumnBridge.toColumn(
      new BloomFilterAggregate(ColumnBridge.toExpr(col("o_orderkey")), 100000L)
        .toAggregateExpression())
    val blob = dim.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val mightContain = ColumnBridge.toColumn(BloomFilterMightContain(
      ColumnBridge.toExpr(lit(blob)), ColumnBridge.toExpr(col("l_orderkey"))))
    Tables.lineitem(spark, sfDir)
      .filter(mightContain)
      .join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        graft.functions.Exact.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy("l_returnflag")
  }

  private val opBloomJoinSql: String =
    s"""SELECT l_returnflag, count(*)::BIGINT AS n_items,
       |  ${graft.functions.Exact.sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem
       |WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderpriority = '1-URGENT'
       |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // Exact AUC

  /** EXACT ROC-AUC by rank statistic (Mann–Whitney U): completes the
    * model-evaluation tier next to [[MlScore]]'s confusion matrix and
    * calibration table. Score = the embedding's exact fixed-point
    * component sum (×2²⁰ — a power of two, so the scaling multiply is
    * an exponent shift and every per-row score is an EXACT int64);
    * label = class ≥ 5. AUC = Σ_pos (2·negBelow + negTied) /
    * (2·nPos·nNeg) — every term an integer, ONE double division at the
    * end, so the statistic is bit-identical at any parallelism. The
    * rank accumulation runs over the DISTINCT-SCORE relation (bounded
    * by score cardinality, not row count); ties are handled by the
    * ½-credit term, not by fragile average-rank floats. */
  def mlAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") >= 5).cast("long").as("y"),
        expr("aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint)), 0L, (a, v) -> a + v)")
          .as("s"))
    val per = scored.groupBy("s")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("cnb", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np") * (lit(2L) * col("cnb") + col("nn"))).as("u2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("u2").cast("double") / (lit(2L) * col("n_pos") * col("n_neg")))
          .as("auc"))
  }

  private val mlAucSql: String =
    """WITH scored AS (
      |  SELECT (label >= 5)::BIGINT AS y,
      |    list_sum(list_transform(embedding,
      |      x -> round(x::DOUBLE * 1048576)::BIGINT))::BIGINT AS s
      |  FROM embeddings),
      |per AS (
      |  SELECT s, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
      |  FROM scored GROUP BY s),
      |cum AS (
      |  SELECT *, coalesce(sum(nn) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cnb
      |  FROM per)
      |SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
      |  sum(np * (2 * cnb + nn))::DOUBLE / (2 * sum(np) * sum(nn)) AS auc
      |FROM cum""".stripMargin

  /** AVERAGE PRECISION (area under the precision-recall curve, the
    * step form retrieval papers report) — the PR companion to
    * [[mlAuc]]: AUC-ROC is insensitive to class skew, AP is the metric
    * that moves when the positive class is rare, which is the regime
    * every data-curation classifier (quality filter, toxicity gate)
    * lives in. Same scored relation as [[mlAuc]]; with ties grouped at
    * distinct scores, AP = Σ_s np(s)·TP(s)/(TP(s)+FP(s)) / n_pos. Each
    * term is ONE double division of exact int64 counts (numerator
    * np·tp exact), and the term SUM is an explicit left fold in
    * score-descending order on both engines (Spark: fold over the
    * sorted collected list, the [[Curation.cuTokenBudget]] normalizer
    * convention; DuckDB: list_reduce over list(... ORDER BY s DESC)) —
    * no engine is free to reassociate float adds. The fold input is
    * the DISTINCT-SCORE relation (bounded by score cardinality, the
    * same reduction argument as [[mlRocPoints]]' global window). */
  def mlAvgPrecision(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") >= 5).cast("long").as("y"),
        expr("aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint)), 0L, (a, v) -> a + v)")
          .as("s"))
    val per = scored.groupBy("s")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("fp", sum(col("nn")).over(cum))
      .withColumn("term",
        expr("cast(np * tp as double) / cast(tp + fp as double)"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        expr("aggregate(transform(array_sort(collect_list(struct(-s AS k, term))), " +
          "x -> x.term), cast(0 as double), (a, v) -> a + v)").as("ap_sum"))
      .select(col("n_pos"), col("n_neg"),
        (col("ap_sum") / col("n_pos").cast("double")).as("avg_precision"))
  }

  private val mlAvgPrecisionSql: String =
    """WITH scored AS (
      |  SELECT (label >= 5)::BIGINT AS y,
      |    list_sum(list_transform(embedding,
      |      x -> round(x::DOUBLE * 1048576)::BIGINT))::BIGINT AS s
      |  FROM embeddings),
      |per AS (
      |  SELECT s, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
      |  FROM scored GROUP BY s),
      |cum AS (
      |  SELECT *,
      |    sum(np) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
      |    sum(nn) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp
      |  FROM per),
      |terms AS (
      |  SELECT np, nn, s,
      |    (np * tp)::DOUBLE / (tp + fp)::DOUBLE AS term
      |  FROM cum)
      |SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
      |  list_reduce(list(term ORDER BY s DESC), (x, y) -> x + y)
      |    / sum(np)::BIGINT::DOUBLE AS avg_precision
      |FROM terms""".stripMargin

  /** OPERATING-POINT SELECTION — the step after the curve metrics: the
    * threshold a deployment actually sets. Two standard criteria from
    * the same distinct-score ROC relation as [[mlRocPoints]]:
    * 'fpr_cap' (maximize TPR subject to FPR ≤ 5% — the quality-gate
    * framing "catch the most while flagging ≤5% of clean docs") and
    * 'youden' (maximize TPR − FPR, the balanced point). BOTH
    * selections order on PURE INTEGERS — FPR ≤ 0.05 is 20·fp ≤ n_neg
    * and the Youden objective is tp·n_neg − fp·n_pos — so no float
    * comparison decides a tie-break anywhere; the published tpr/fpr
    * are one division each after selection. The fpr_cap branch always
    * includes the virtual FLAG-NOTHING point (threshold NULL, tp=fp=0 —
    * i.e. set the threshold above the max score): it trivially
    * satisfies any FPR cap, so the two-row output contract holds even
    * on data where every real threshold exceeds the cap (r8 advice:
    * the branch used to come back empty there), and it only wins when
    * no real threshold beats tp=0 — in which case "flag nothing" IS
    * the correct deployment point. Plan: the cumulative
    * distinct-score pass (bounded by score cardinality) then two
    * 1-row argmax selections. */
  def mlOperatingPoint(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") >= 5).cast("long").as("y"),
        expr("aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint)), 0L, (a, v) -> a + v)")
          .as("s"))
    val per = scored.groupBy("s")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pts = per
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("fp", sum(col("nn")).over(cum))
      .withColumn("n_pos", sum(col("np")).over(all))
      .withColumn("n_neg", sum(col("nn")).over(all))
    // the virtual flag-nothing point (see scaladoc): NULL threshold,
    // tp=fp=0, trivially inside any cap; loses every tp tie-break to a
    // real row except the fp one it deserves to win
    val sentinel = pts
      .agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"))
      .select(lit(null).cast("long").as("s"), lit(0L).as("np"), lit(0L).as("nn"),
        lit(0L).as("tp"), lit(0L).as("fp"), col("n_pos"), col("n_neg"))
      .filter(col("n_neg").isNotNull)
    val wCap = Window.orderBy(col("tp").desc, col("fp").asc, col("s").desc_nulls_last)
    val capPick = pts.unionByName(sentinel)
      .filter(col("fp") * 20L <= col("n_neg"))
      .withColumn("rk", row_number().over(wCap)).filter(col("rk") === 1)
      .withColumn("criterion", lit("fpr_cap"))
    val wJ = Window.orderBy(
      (col("tp") * col("n_neg") - col("fp") * col("n_pos")).desc, col("s").desc)
    val jPick = pts
      .withColumn("rk", row_number().over(wJ)).filter(col("rk") === 1)
      .withColumn("criterion", lit("youden"))
    capPick.unionByName(jPick)
      .select(col("criterion"), col("s").as("threshold"), col("tp"), col("fp"),
        (col("tp").cast("double") / col("n_pos").cast("double")).as("tpr"),
        (col("fp").cast("double") / col("n_neg").cast("double")).as("fpr"))
      .orderBy("criterion")
  }

  private val mlOperatingPointSql: String =
    """WITH scored AS (
      |  SELECT (label >= 5)::BIGINT AS y,
      |    list_sum(list_transform(embedding,
      |      x -> round(x::DOUBLE * 1048576)::BIGINT))::BIGINT AS s
      |  FROM embeddings),
      |per AS (
      |  SELECT s, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
      |  FROM scored GROUP BY s),
      |pts AS (
      |  SELECT s,
      |    sum(np) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
      |    sum(nn) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp,
      |    sum(np) OVER ()::BIGINT AS n_pos,
      |    sum(nn) OVER ()::BIGINT AS n_neg
      |  FROM per),
      |capbase AS (
      |  SELECT s, tp, fp, n_pos, n_neg FROM pts
      |  UNION ALL
      |  SELECT NULL::BIGINT, 0::BIGINT, 0::BIGINT,
      |    (SELECT max(n_pos) FROM pts), (SELECT max(n_neg) FROM pts)
      |  WHERE EXISTS (SELECT 1 FROM pts)),
      |cap AS (
      |  SELECT 'fpr_cap' AS criterion, s, tp, fp, n_pos, n_neg
      |  FROM capbase WHERE fp * 20 <= n_neg
      |  ORDER BY tp DESC, fp ASC, s DESC NULLS LAST LIMIT 1),
      |yj AS (
      |  SELECT 'youden' AS criterion, s, tp, fp, n_pos, n_neg
      |  FROM pts ORDER BY (tp * n_neg - fp * n_pos) DESC, s DESC LIMIT 1)
      |SELECT criterion, s AS threshold, tp, fp,
      |  tp::DOUBLE / n_pos::DOUBLE AS tpr,
      |  fp::DOUBLE / n_neg::DOUBLE AS fpr
      |FROM (SELECT * FROM cap UNION ALL SELECT * FROM yj) u
      |ORDER BY criterion""".stripMargin

  /** BRIER SCORE with the Murphy decomposition (reliability −
    * resolution + uncertainty) — the probability-quality companion to
    * [[mlAuc]]/[[mlAvgPrecision]]: rank metrics can look fine while
    * the probabilities a downstream sampler consumes are mis-scaled;
    * the decomposition says whether the damage is calibration
    * (reliability) or discrimination (resolution). Forecasts are the
    * nominal midpoints (2b+1)/20 of TEN FIXED-WIDTH score bins over
    * the exact fixed-point score — binning is pure integer arithmetic
    * from the global min/max (one-row broadcast), NOT an ntile, so
    * there is no global sort and the plan is one scan + a 10-group
    * aggregate at any corpus size. Every decomposition sum reduces to
    * exact int64 aggregates (Σ n_b(2b+1)², Σ pos_b(2b+1)) except
    * Σ pos_b²/n_b, which folds its 10 per-bin single-division terms
    * in bin order on both engines. Final algebra is the identical
    * IEEE expression chain; Brier is published as rel − res + unc
    * (an exact identity for binned forecasts, spec-pinned against the
    * direct per-row mean). */
  def mlBrier(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") >= 5).cast("long").as("y"),
        expr("aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint)), 0L, (a, v) -> a + v)")
          .as("s"))
    val bounds = scored.agg(min(col("s")).as("s_min"), max(col("s")).as("s_max"))
    val bins = scored.crossJoin(broadcast(bounds))
      .withColumn("bin", expr("(s - s_min) * 10L div (s_max - s_min + 1L)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"))
      .withColumn("c_term",
        expr("cast(pos_b * pos_b as double) / cast(n_b as double)"))
    val nD = col("n").cast("double")
    bins.agg(
        sum(col("n_b")).as("n"), sum(col("pos_b")).as("n_pos"),
        sum(col("n_b") * (lit(2L) * col("bin") + 1L) * (lit(2L) * col("bin") + 1L)).as("a"),
        sum(col("pos_b") * (lit(2L) * col("bin") + 1L)).as("b"),
        expr("aggregate(transform(array_sort(collect_list(struct(bin, c_term))), " +
          "x -> x.c_term), cast(0 as double), (acc, v) -> acc + v)").as("c"))
      .withColumn("obar", col("n_pos").cast("double") / nD)
      .withColumn("reliability",
        col("a").cast("double") / lit(400.0) / nD
          - lit(2.0) * col("b").cast("double") / lit(20.0) / nD
          + col("c") / nD)
      .withColumn("resolution", col("c") / nD - col("obar") * col("obar"))
      .withColumn("uncertainty", col("obar") * (lit(1.0) - col("obar")))
      .withColumn("brier",
        col("reliability") - col("resolution") + col("uncertainty"))
      .select("n", "n_pos", "reliability", "resolution", "uncertainty", "brier")
  }

  private val mlBrierSql: String =
    """WITH scored AS (
      |  SELECT (label >= 5)::BIGINT AS y,
      |    list_sum(list_transform(embedding,
      |      x -> round(x::DOUBLE * 1048576)::BIGINT))::BIGINT AS s
      |  FROM embeddings),
      |bounds AS (SELECT min(s) AS s_min, max(s) AS s_max FROM scored),
      |binned AS (
      |  SELECT (s - s_min) * 10 // (s_max - s_min + 1) AS bin, y
      |  FROM scored, bounds),
      |bins AS (
      |  SELECT bin, count(*)::BIGINT AS n_b, sum(y)::BIGINT AS pos_b,
      |    (sum(y)::BIGINT * sum(y)::BIGINT)::DOUBLE / count(*)::BIGINT::DOUBLE AS c_term
      |  FROM binned GROUP BY bin),
      |agg AS (
      |  SELECT sum(n_b)::BIGINT AS n, sum(pos_b)::BIGINT AS n_pos,
      |    sum(n_b * (2 * bin + 1) * (2 * bin + 1))::BIGINT AS a,
      |    sum(pos_b * (2 * bin + 1))::BIGINT AS b,
      |    list_reduce(list(c_term ORDER BY bin), (acc, v) -> acc + v) AS c
      |  FROM bins),
      |m AS (
      |  SELECT n, n_pos,
      |    n_pos::DOUBLE / n::DOUBLE AS obar,
      |    a::DOUBLE / 400.0 / n::DOUBLE
      |      - 2.0 * b::DOUBLE / 20.0 / n::DOUBLE
      |      + c / n::DOUBLE AS reliability,
      |    c / n::DOUBLE - (n_pos::DOUBLE / n::DOUBLE) * (n_pos::DOUBLE / n::DOUBLE)
      |      AS resolution
      |  FROM agg)
      |SELECT n, n_pos, reliability, resolution,
      |  obar * (1.0 - obar) AS uncertainty,
      |  reliability - resolution + obar * (1.0 - obar) AS brier
      |FROM m""".stripMargin

  /** EXACT ROC CURVE POINTS — the full curve [[mlAuc]] integrates: one
    * (threshold, tp, fp, tpr, fpr, prec) row per DISTINCT score, where
    * a row's counts are "predict positive at score ≥ s". Same scored
    * relation and fixed-point exact scores as [[mlAuc]]; the cumulative
    * pass runs over the distinct-score relation (bounded by score
    * cardinality, not row count — the same reduction argument), and
    * every rate is ONE double division of exact int64 counts, so the
    * whole curve is bit-identical at any parallelism. */
  def mlRocPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") >= 5).cast("long").as("y"),
        expr("aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint)), 0L, (a, v) -> a + v)")
          .as("s"))
    val per = scored.groupBy("s")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val cum = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("fp", sum(col("nn")).over(cum))
      .withColumn("n_pos", sum(col("np")).over(all))
      .withColumn("n_neg", sum(col("nn")).over(all))
      .select(col("s").as("threshold"), col("tp"), col("fp"),
        (col("tp").cast("double") / col("n_pos")).as("tpr"),
        (col("fp").cast("double") / col("n_neg")).as("fpr"),
        (col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"))
      .orderBy(col("threshold").desc)
  }

  private val mlRocPointsSql: String =
    """WITH scored AS (
      |  SELECT (label >= 5)::BIGINT AS y,
      |    list_sum(list_transform(embedding,
      |      x -> round(x::DOUBLE * 1048576)::BIGINT))::BIGINT AS s
      |  FROM embeddings),
      |per AS (
      |  SELECT s, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
      |  FROM scored GROUP BY s),
      |cum AS (
      |  SELECT s,
      |    sum(np) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
      |    sum(nn) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp,
      |    sum(np) OVER ()::BIGINT AS n_pos,
      |    sum(nn) OVER ()::BIGINT AS n_neg
      |  FROM per)
      |SELECT s AS threshold, tp, fp,
      |  tp::DOUBLE / n_pos AS tpr, fp::DOUBLE / n_neg AS fpr,
      |  tp::DOUBLE / (tp + fp) AS prec
      |FROM cum ORDER BY threshold DESC""".stripMargin

  /** CUMULATIVE GAINS / LIFT TABLE by score decile — the
    * campaign-targeting view of the same scored relation as [[mlAuc]] /
    * [[mlRocPoints]]: rank by score descending, cut into 10 equal-count
    * deciles (ntile over a totalized (score, tie-break) order so both
    * engines cut identically), and report per-decile response rate,
    * cumulative response capture, and cumulative lift vs the base rate.
    * Every rate is ONE double division of exact int64 counts. The ntile
    * runs over the scored relation ordered by the exact fixed-point
    * score with vec_id as total tie-break — the same
    * cardinality-bounded single-partition window as the ROC pass. */
  def mlLiftDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), (col("label") >= 5).cast("long").as("y"),
        expr("aggregate(transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint)), 0L, (a, v) -> a + v)")
          .as("s"))
    val dec = scored.withColumn("decile",
      ntile(10).over(Window.orderBy(col("s").desc, col("vec_id"))).cast("long"))
    val per = dec.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("cum_n", sum(col("n")).over(cum))
      .withColumn("cum_pos", sum(col("n_pos")).over(cum))
      .withColumn("tot_n", sum(col("n")).over(all))
      .withColumn("tot_pos", sum(col("n_pos")).over(all))
      .select(col("decile"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("resp_rate"),
        (col("cum_pos").cast("double") / col("tot_pos")).as("cum_capture"),
        ((col("cum_pos") * col("tot_n")).cast("double") / (col("cum_n") * col("tot_pos")))
          .as("cum_lift"))
      .orderBy("decile")
  }

  private val mlLiftDecilesSql: String =
    """WITH scored AS (
      |  SELECT vec_id, (label >= 5)::BIGINT AS y,
      |    list_sum(list_transform(embedding,
      |      x -> round(x::DOUBLE * 1048576)::BIGINT))::BIGINT AS s
      |  FROM embeddings),
      |dec AS (
      |  SELECT y, ntile(10) OVER (ORDER BY s DESC, vec_id)::BIGINT AS decile
      |  FROM scored),
      |per AS (
      |  SELECT decile, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos
      |  FROM dec GROUP BY decile),
      |cum AS (
      |  SELECT decile, n, n_pos,
      |    sum(n) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_n,
      |    sum(n_pos) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_pos,
      |    sum(n) OVER ()::BIGINT AS tot_n,
      |    sum(n_pos) OVER ()::BIGINT AS tot_pos
      |  FROM per)
      |SELECT decile, n, n_pos,
      |  n_pos::DOUBLE / n AS resp_rate,
      |  cum_pos::DOUBLE / tot_pos AS cum_capture,
      |  (cum_pos * tot_n)::DOUBLE / (cum_n * tot_pos) AS cum_lift
      |FROM cum ORDER BY decile""".stripMargin

  // ------------------------------------------------------------------
  // K-means (one Lloyd iteration)

  /** K-MEANS, ONE LLOYD ITERATION — the canonical distributed
    * clustering step next to [[graft.operators]]' power iteration:
    * k content-seeded centroids (the lowest vec_ids — deterministic),
    * assignment by EXACT fixed-point squared distance (coordinates
    * ×2²⁰ as int64; zip-fold of integer squares is associative, so
    * partial order cannot change any distance), ties to the lower
    * centroid id via a total `min_by` key, then the centroid update as
    * a posexplode + per-(cluster, dim) exact integer sum with one
    * double division. Shapes that survive 100×: centroids broadcast
    * (k·d doubles), assignment is a map-side scan, the update is one
    * shuffle on (cluster, dim) with map-side combine — the textbook
    * data-parallel Lloyd round. Headroom: (2·2²⁰)² × 64 dims ≈ 2.8e14
    * per distance, ~1e17 per-cell sums at 100×, inside int64. */
  def mlKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint))")
          .as("p"))
    val cents = pts.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("p").as("c"))
    val assign = pts.crossJoin(broadcast(cents))
      .withColumn("d2",
        expr("vec_l2sq_long(p, c)"))
      .groupBy("vec_id")
      .agg(expr("min_by(struct(cid, p), struct(d2, cid))").as("a"))
      .select(col("a.cid").as("cid"), col("a.p").as("p"))
    assign
      .select(col("cid"), posexplode(expr("slice(p, 1, 8)")).as(Seq("pos0", "v")))
      .groupBy(col("cid"), (col("pos0") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_points"),
        ((sum(col("v")).cast("double") / lit(1048576L)) / count(lit(1)))
          .as("mean_val"))
      .orderBy("cid", "dim")
  }

  private val mlKmeansSql: String =
    """WITH pts AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> round(x::DOUBLE * 1048576)::BIGINT) AS p
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cid, p AS c FROM pts WHERE vec_id < 8),
      |d AS (
      |  SELECT vec_id, cid, p,
      |    list_sum(list_transform(generate_series(1, len(p)),
      |      i -> (p[i] - c[i]) * (p[i] - c[i])))::BIGINT AS d2
      |  FROM pts CROSS JOIN cents),
      |a AS (
      |  SELECT vec_id, cid, p,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |  FROM d),
      |ex AS (
      |  SELECT cid, dim, v FROM (
      |    SELECT cid, unnest(list_transform(generate_series(1, 8),
      |      i -> {'dim': i, 'v': p[i]}), recursive := true)
      |    FROM a WHERE rn = 1))
      |SELECT cid, dim::BIGINT AS dim, count(*)::BIGINT AS n_points,
      |  (sum(v)::DOUBLE / 1048576) / count(*) AS mean_val
      |FROM ex GROUP BY cid, dim ORDER BY cid, dim""".stripMargin

  // ------------------------------------------------------------------
  // HITS (one iteration, exact)

  /** HITS HUB/AUTHORITY SCORES, one iteration over the bipartite
    * order–part graph (orders are hubs, parts authorities; uniform
    * init): hub(o) = Σ auth₀ = the order's distinct-part degree,
    * auth₁(p) = Σ_{orders containing p} hub(o). All INTEGER counts —
    * the iteration is two reduce-first aggregates and one equi-join,
    * exact at any parallelism (the same associative-integer discipline
    * as the power iteration). Top 20 authorities with a total
    * tie-break; `orderBy.limit` fuses to TakeOrderedAndProject. */
  def grHits(spark: SparkSession, sfDir: String): DataFrame = {
    // spread by the groupBy/join key (r14) — see [[Graph]]'s edges note
    val li = Tables.spread(spark,
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey")).distinct()
    val hub = li.groupBy("l_orderkey").agg(count(lit(1)).as("hub"))
    li.join(hub, "l_orderkey")
      .groupBy(col("l_partkey"))
      .agg(sum(col("hub")).as("authority"), count(lit(1)).as("n_orders"))
      .orderBy(col("authority").desc, col("l_partkey"))
      .limit(20)
  }

  private val grHitsSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |hub AS (SELECT l_orderkey, count(*)::BIGINT AS hub FROM li GROUP BY 1)
      |SELECT l_partkey, sum(hub)::BIGINT AS authority, count(*)::BIGINT AS n_orders
      |FROM li JOIN hub USING (l_orderkey)
      |GROUP BY l_partkey ORDER BY authority DESC, l_partkey LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // Histogram-based best-split finding

  /** HISTOGRAM BEST-SPLIT FINDING — the kernel inside every
    * distributed gradient-boosting trainer (XGBoost/LightGBM's
    * `hist` method), next to [[MlScore]]'s scorers and ml_train_gd:
    * bucket the feature (p_retailprice, 5-unit bins — the fixture spans 900..1000, giving ~20 bins), accumulate
    * per-bin (count, Σtarget) — ONE map-side-combinable aggregate over
    * the data, the only pass that touches rows — then scan the
    * bin-boundary candidates with prefix sums and score variance
    * reduction gain = ΣL²/nL + ΣR²/nR. Sums are exact int64, so both
    * engines perform the identical two divisions and one add per
    * candidate; the argmax is rank-totalized (gain desc, bin asc).
    * The candidate scan runs over the BIN relation (constant-sized),
    * not the data — the property that makes the method scale. */
  def mlBestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = Tables.part(spark, sfDir)
      // the hist method keeps MISSING rows out of the split histogram
      // (the scorer routes them via default_left — see XgbEnsemble);
      // unfiltered, a null bin sorts FIRST into Spark's prefix sums and
      // LAST into DuckDB's (r10 null-jitter gate)
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .groupBy(expr("cast(floor(p_retailprice / 5) as bigint)").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p_size").cast("long")).as("sy"))
    val wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val cand = bins
      .withColumn("nl", sum(col("n")).over(wc))
      .withColumn("syl", sum(col("sy")).over(wc))
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("syt", sum(col("sy")).over(wAll))
      .filter(col("nl") < col("nt"))
      .withColumn("gain",
        (col("syl") * col("syl")).cast("double") / col("nl") +
          ((col("syt") - col("syl")) * (col("syt") - col("syl"))).cast("double") /
            (col("nt") - col("nl")))
    cand
      .withColumn("rank", row_number().over(
        Window.orderBy(col("gain").desc, col("bin").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("bin").as("split_bin"), col("nl").as("n_left"),
        (col("nt") - col("nl")).as("n_right"), col("gain"))
      .orderBy("rank")
  }

  private val mlBestSplitSql: String =
    """WITH bins AS (
      |  SELECT floor(p_retailprice / 5)::BIGINT AS bin, count(*)::BIGINT AS n,
      |    sum(p_size)::BIGINT AS sy
      |  FROM part
      |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      |  GROUP BY 1),
      |cum AS (
      |  SELECT *,
      |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW)::BIGINT AS nl,
      |    sum(sy) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW)::BIGINT AS syl,
      |    sum(n) OVER ()::BIGINT AS nt, sum(sy) OVER ()::BIGINT AS syt
      |  FROM bins),
      |cand AS (
      |  SELECT *,
      |    (syl * syl)::DOUBLE / nl +
      |      ((syt - syl) * (syt - syl))::DOUBLE / (nt - nl) AS gain
      |  FROM cum WHERE nl < nt),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY gain DESC, bin ASC)::BIGINT AS rank
      |  FROM cand)
      |SELECT rank, bin AS split_bin, nl AS n_left, nt - nl AS n_right, gain
      |FROM ranked WHERE rank <= 3 ORDER BY rank""".stripMargin

  // ------------------------------------------------------------------
  // Map higher-order functions

  /** MAP ALGEBRA — the MapType half of the complex-type surface next
    * to op_array_funcs' arrays: build a token→length map per document
    * (`map_from_arrays` over the deduped leading tokens),
    * `transform_values` (double each length), `map_filter` (keep
    * entries over the threshold), then `map_entries` exploded back to
    * rows. Everything is codegen'd expression work inside the
    * projection — no shuffle, no UDF; the oracle derives the same
    * relation relationally (distinct tokens + filter), proving the map
    * pipeline is just algebra over the entries. */
  def opMapFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("ks", expr("array_distinct(slice(split(text, ' '), 1, 5))"))
      .withColumn("m", expr(
        """map_filter(
          |  transform_values(
          |    map_from_arrays(ks, transform(ks, t -> length(t))),
          |    (k, v) -> v * 2),
          |  (k, v) -> v > 6)""".stripMargin))
      .select(col("doc_id"), explode(expr("map_entries(m)")).as("e"))
      .select(col("doc_id"), col("e.key").as("tok"),
        col("e.value").cast("long").as("len2"))
      .orderBy("doc_id", "tok")

  private val opMapFuncsSql: String =
    """SELECT DISTINCT doc_id, tok, (len(tok) * 2)::BIGINT AS len2
      |FROM (
      |  SELECT doc_id, unnest(str_split(text, ' ')[1:5]) AS tok
      |  FROM documents)
      |WHERE len(tok) * 2 > 6
      |ORDER BY doc_id, tok""".stripMargin

  // ------------------------------------------------------------------
  // Seasonal forecast backtest

  /** DOW-PROFILE FORECAST BACKTEST — the evaluation loop every
    * metrics-forecasting pipeline runs: train a day-of-week seasonal
    * profile on the first three weeks (mean daily count per
    * (event_type, dow)), score the remaining days, report MAE per
    * profile cell. Exactness: the mean is the rational s/n, so
    * |y − s/n| is computed as |y·n − s| / n — integer numerators
    * summed exactly, ONE double division per output row (the
    * [[graft.functions.Exact]] discipline extended to error metrics;
    * a naive float MAE would sum order-dependently). dow is epoch-day
    * mod 7 — identical arithmetic in both engines, no calendar-API
    * disagreement. Two reduce-first aggregates and one dow-key join of
    * profile-sized relations. */
  def evForecastBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("idx", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("dow", col("idx") % 7)
    val split = lit("2024-01-22").cast("date")
    val profile = daily.filter(col("d") < split)
      .groupBy(col("event_type").as("p_type"), col("dow").as("p_dow"))
      .agg(count(lit(1)).as("n_train"), sum(col("y")).as("s_train"))
    daily.filter(col("d") >= split)
      .join(profile,
        col("event_type") === col("p_type") && col("dow") === col("p_dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(max(col("n_train")).as("n_train_days"),
        count(lit(1)).as("n_test_days"),
        (sum(abs(col("y") * col("n_train") - col("s_train"))).cast("double") /
          (max(col("n_train")) * count(lit(1)))).as("mae"))
      .orderBy("event_type", "dow")
  }

  private val evForecastBacktestSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS y,
      |    date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT % 7 AS dow
      |  FROM events GROUP BY 1, 2),
      |profile AS (
      |  SELECT event_type AS p_type, dow AS p_dow,
      |    count(*)::BIGINT AS n_train, sum(y)::BIGINT AS s_train
      |  FROM daily WHERE d < DATE '2024-01-22' GROUP BY 1, 2)
      |SELECT event_type, dow,
      |  max(n_train)::BIGINT AS n_train_days,
      |  count(*)::BIGINT AS n_test_days,
      |  sum(abs(y * n_train - s_train))::DOUBLE /
      |    (max(n_train) * count(*)) AS mae
      |FROM daily JOIN profile
      |  ON event_type = p_type AND dow = p_dow
      |WHERE d >= DATE '2024-01-22'
      |GROUP BY event_type, dow ORDER BY event_type, dow""".stripMargin

  // ------------------------------------------------------------------
  // k-core peel

  /** K-CORE PEEL (one round): drop every node of the part
    * co-occurrence graph with degree < 25, recount degrees among the
    * SURVIVING edges, return the after-peel degree histogram — the
    * first step of the iterative k-core decomposition used to find
    * dense subgraphs (and, at corpus scale, spam/bot cliques). Each
    * round is degree aggregate → semi-join edge filter → degree
    * aggregate: all hash-partitioned on node keys, no all-pairs work;
    * iterating to a fixpoint repeats the same bounded shape. */
  def grKcorePeel(spark: SparkSession, sfDir: String): DataFrame = {
    // spread by the join/distinct key (r14) — see [[Graph]]'s edges note
    val li = Tables.spread(spark,
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey")).distinct()
    // persisted (r14): the edge relation feeds the keep-degree
    // aggregate AND the semi-joined recount — unpersisted, the whole
    // self-join subtree replays per consumer
    val edges = Scratch.persist(li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v")).distinct())
    val keep = edges.groupBy("u").agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= 25).select(col("u").as("node"))
    edges
      .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      .groupBy("u").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  private val grKcorePeelSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |keep AS (
      |  SELECT u AS node FROM edges GROUP BY u HAVING count(*) >= 25),
      |kept AS (
      |  SELECT u, v FROM edges
      |  WHERE u IN (SELECT node FROM keep) AND v IN (SELECT node FROM keep)),
      |deg AS (SELECT u, count(*)::BIGINT AS degree FROM kept GROUP BY u)
      |SELECT degree, count(*)::BIGINT AS n_nodes
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  // ------------------------------------------------------------------
  // Inter-arrival distribution

  /** INTER-ARRIVAL TIME DISTRIBUTION — the per-user gap histogram
    * behind session-timeout tuning and arrival-process modeling: lag
    * each user's event stream, bucket the gap into 10-minute bins
    * (capped at 24 = "4h+"), report count and share per bucket. The
    * window runs per user (parallel across the cluster), gaps are
    * integer microseconds, the share is one double division against
    * the one-row total (broadcast scalar shape). */
  def evInterarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("bucket", expr("least(gap_us div 600000000, 24L)"))
    val total = gaps.agg(count(lit(1)).as("n_total"))
    gaps.groupBy("bucket").agg(count(lit(1)).as("n_gaps"))
      .crossJoin(total)
      .withColumn("share", col("n_gaps").cast("double") / col("n_total"))
      .select(col("bucket"), col("n_gaps"), col("share"))
      .orderBy("bucket")
  }

  private val evInterarrivalSql: String =
    """WITH gaps AS (
      |  SELECT least(gap_us // 600000000, 24)::BIGINT AS bucket
      |  FROM (
      |    SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |    FROM events)
      |  WHERE gap_us IS NOT NULL)
      |SELECT bucket, count(*)::BIGINT AS n_gaps,
      |  count(*)::DOUBLE / (SELECT count(*) FROM gaps) AS share
      |FROM gaps GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // Canonical selection after near-dup clustering

  /** CANONICAL DOCUMENT SELECTION — the step a dedup pipeline runs
    * AFTER clustering ([[Dedup.ddCluster]]'s connected components over
    * the MinHash-LSH graph): keep the BEST document per cluster
    * (longest, tie → lowest doc_id — a quality-ranked argmax with a
    * totalized key), not an arbitrary representative. One
    * broadcastable join of the component labels against the document
    * metadata and one `min_by` aggregate per cluster; the recursive
    * oracle CTE is shared with dd_cluster so both engines agree on the
    * exact same components. */
  def cuCanonicalSelect(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ddCluster(spark, sfDir)
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy("cluster_rep")
      // the argmax ordinal is null-totalized (coalesce to −1): a doc of
      // UNKNOWN length never beats a known one, and an all-unknown
      // cluster falls back to lowest doc_id. Unpinned, Spark's struct
      // compare put null ordinals FIRST (they won min_by) while the
      // oracle's DESC sort put them last — r10 null-jitter gate
      .agg(expr("min_by(doc_id, struct(-coalesce(n_chars, -1L), doc_id))").as("best_doc"),
        max(col("n_chars")).as("best_chars"),
        max(col("cluster_size")).as("cluster_size"))
      .orderBy("cluster_rep")

  private val cuCanonicalSelectSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |sz AS (SELECT cluster_rep AS cr, count(*)::BIGINT AS cluster_size
       |       FROM comp GROUP BY cluster_rep),
       |ranked AS (
       |  SELECT comp.cluster_rep, comp.doc_id, n_chars, cluster_size,
       |    row_number() OVER (PARTITION BY comp.cluster_rep
       |      ORDER BY coalesce(n_chars, -1) DESC, comp.doc_id) AS rn
       |  FROM comp
       |  JOIN documents d ON d.doc_id = comp.doc_id
       |  JOIN sz ON sz.cr = comp.cluster_rep)
       |SELECT cluster_rep, doc_id::BIGINT AS best_doc,
       |  n_chars::BIGINT AS best_chars, cluster_size
       |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin

  // ------------------------------------------------------------------
  // NDCG ranking metric

  /** NDCG@10 RANKING QUALITY — the retrieval metric next to
    * [[mlAuc]]'s classification AUC: rank each probe's neighbors by
    * exact cosine, score binary relevance (same label) under a
    * HARMONIC discount 1/(rank+1) scaled by 27720 = lcm(2..11) so
    * every discounted gain is an EXACT integer (the standard log2
    * discount is not portable across libm implementations; the
    * harmonic variant is order-equivalent and bit-exact), and
    * normalize by the ideal ordering's scaled DCG — one double
    * division per probe. The candidate scan is the same bounded
    * probe-broadcast as ann_topk_exact. */
  def mlNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val dotS = "vec_dot(emb, p_emb)"
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", expr(
        "sqrt(vec_dot(emb, emb))"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("emb").as("p_emb"), col("nrm").as("p_nrm"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("vec_id"))
    // scaled harmonic discounts 27720/(r+1) for r = 1..10, and their prefix
    // sums (the ideal DCG for m relevant docs is the m-th prefix)
    val disc = (1 to 10).map(r => 27720L / (r + 1))
    val idcg = disc.scanLeft(0L)(_ + _).tail
    val ranked = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", expr(dotS) / (col("nrm") * col("p_nrm")))
      .withColumn("rel", (col("label") === col("p_label")).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
    val topk = ranked.filter(col("rank") <= 10)
      .withColumn("gain", element_at(
        lit(disc.toArray), col("rank").cast("int")) * col("rel"))
      .groupBy("probe_id")
      .agg(sum(col("rel")).as("n_rel_topk"), sum(col("gain")).as("dcg_scaled"))
    val nrel = ranked.groupBy("probe_id")
      .agg(least(sum(col("rel")), lit(10L)).as("m"))
    topk.join(nrel, "probe_id")
      .withColumn("idcg_scaled", element_at(lit(idcg.toArray), col("m").cast("int")))
      .select(col("probe_id"), col("n_rel_topk"), col("dcg_scaled"),
        (col("dcg_scaled").cast("double") / col("idcg_scaled")).as("ndcg"))
      .orderBy("probe_id")
  }

  private val mlNdcgSql: String = {
    val disc = (1 to 10).map(r => 27720L / (r + 1))
    val idcg = disc.scanLeft(0L)(_ + _).tail
    val dotD = "list_reduce(list_transform(generate_series(1, len(e.embedding)), " +
      "i -> e.embedding[i]::DOUBLE * p.embedding[i]::DOUBLE), (x, y) -> x + y)"
    val nrmD = (a: String) => "sqrt(list_reduce(list_transform(generate_series(1, " +
      s"len($a.embedding)), i -> $a.embedding[i]::DOUBLE * $a.embedding[i]::DOUBLE), (x, y) -> x + y))"
    s"""WITH ranked AS (
       |  SELECT p.vec_id AS probe_id, e.vec_id,
       |    (e.label = p.label)::BIGINT AS rel,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY $dotD / (${nrmD("e")} * ${nrmD("p")}) DESC, e.vec_id)::BIGINT AS rank
       |  FROM embeddings e JOIN embeddings p
       |    ON p.vec_id < 10 AND e.vec_id <> p.vec_id),
       |topk AS (
       |  SELECT probe_id, sum(rel)::BIGINT AS n_rel_topk,
       |    sum(([${disc.mkString(", ")}])[rank] * rel)::BIGINT AS dcg_scaled
       |  FROM ranked WHERE rank <= 10 GROUP BY probe_id),
       |nr AS (
       |  SELECT probe_id, least(sum(rel), 10)::BIGINT AS m
       |  FROM ranked GROUP BY probe_id)
       |SELECT probe_id, n_rel_topk, dcg_scaled,
       |  dcg_scaled::DOUBLE / ([${idcg.mkString(", ")}])[m] AS ndcg
       |FROM topk JOIN nr USING (probe_id) ORDER BY probe_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Date dimension generator

  /** DATE-DIMENSION GENERATION — `sequence` + `explode`, the
    * synthesize-a-calendar op every warehouse needs for grid joins and
    * fiscal rollups. Attributes are PORTABLE integer arithmetic on the
    * epoch-day index (dow = idx mod 7 with 0 = Thursday; weeks aligned
    * to Monday) rather than locale/ISO calendar APIs, which engines
    * disagree on. Generation is a single projection — rows are born
    * distributed, no driver loop, no shuffle. */
  def opDateDim(spark: SparkSession, sfDir: String): DataFrame =
    spark.range(1)
      .select(explode(expr(
        "sequence(to_date('2024-01-01'), to_date('2024-03-31'), interval 1 day)")).as("d"))
      .withColumn("idx", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("dow", col("idx") % 7)
      .withColumn("week_idx", expr("(idx + 3) div 7"))
      .withColumn("is_weekend", col("dow").isin(2L, 3L))
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
        col("idx"), col("dow"), col("week_idx"), col("is_weekend"),
        date_format(col("d"), "yyyy-MM").as("month"))
      .orderBy("d")

  private val opDateDimSql: String =
    """SELECT strftime(d, '%Y-%m-%d') AS d,
      |  idx, idx % 7 AS dow, (idx + 3) // 7 AS week_idx,
      |  idx % 7 IN (2, 3) AS is_weekend,
      |  strftime(d, '%Y-%m') AS month
      |FROM (
      |  SELECT d::DATE AS d,
      |    date_diff('day', DATE '1970-01-01', d::DATE)::BIGINT AS idx
      |  FROM (SELECT unnest(generate_series(DATE '2024-01-01',
      |          DATE '2024-03-31', INTERVAL 1 DAY)) AS d))
      |ORDER BY d""".stripMargin

  // ------------------------------------------------------------------
  // Time-hierarchy rollup

  /** TIME-HIERARCHY ROLLUP — revenue at day→month→year→grand-total in
    * ONE aggregation pass (`rollup` compiles to a single Expand +
    * hash aggregate: at 100 TB that is one fact-table scan for every
    * level of the report, not one per level). Keys are formatted
    * strings (portable), NULL grouping levels coalesce to 'ALL', money
    * is exact cents. */
  def opTimeRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .withColumn("y", date_format(col("o_orderdate"), "yyyy"))
      .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
      .rollup("y", "m")
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Exact.exactSum(col("o_totalprice"), 2).as("revenue"))
      .select(coalesce(col("y"), lit("ALL")).as("y"),
        coalesce(col("m"), lit("ALL")).as("m"),
        col("n_orders"), col("revenue"))
      .orderBy("y", "m")

  private val opTimeRollupSql: String =
    s"""SELECT coalesce(y, 'ALL') AS y, coalesce(m, 'ALL') AS m,
       |  count(*)::BIGINT AS n_orders,
       |  ${graft.functions.Exact.sqlSum("o_totalprice", 2)} AS revenue
       |FROM (
       |  SELECT strftime(o_orderdate, '%Y') AS y,
       |    strftime(o_orderdate, '%Y-%m') AS m, o_totalprice
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
       |GROUP BY ROLLUP (y, m) ORDER BY y, m""".stripMargin

  // ------------------------------------------------------------------
  // Distribution drift (chi-square contributions)

  /** DISTRIBUTION DRIFT by per-bin chi-square contribution — the
    * score/feature drift monitor between two time windows (first vs
    * second half of the month, per event type): counts per 50-unit
    * value bin in each window, contribution
    * (o1·n2 − o2·n1)² / (n1·n2·(o1+o2)). Every numerator term is an
    * exact int64 (o·n ≈ 2e6 here, squared 4e12; ~1e16 at 100× — in
    * headroom), ONE double division per row; contributions are emitted
    * per bin rather than summed because a cross-bin float sum would be
    * order-dependent (the monitor thresholds per-bin anyway — that is
    * where the actionable signal lives). PSI's log term is not
    * libm-portable; chi-square is, exactly. */
  def mlDriftBins(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("half",
        when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 1L).otherwise(2L))
      .withColumn("bin", expr("cast(round(value * 100) as bigint) div 5000"))
    val counts = ev.groupBy("event_type", "bin")
      .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).as("o1"),
        sum(when(col("half") === 2L, 1L).otherwise(0L)).as("o2"))
    val wT = Window.partitionBy("event_type")
    counts
      .withColumn("n1", sum(col("o1")).over(wT))
      .withColumn("n2", sum(col("o2")).over(wT))
      .withColumn("chi2_contrib",
        ((col("o1") * col("n2") - col("o2") * col("n1")) *
          (col("o1") * col("n2") - col("o2") * col("n1"))).cast("double") /
          (col("n1") * col("n2") * (col("o1") + col("o2"))))
      .select(col("event_type"), col("bin"), col("o1"), col("o2"), col("chi2_contrib"))
      .orderBy("event_type", "bin")
  }

  private val mlDriftBinsSql: String =
    """WITH counts AS (
      |  SELECT event_type, round(value * 100)::BIGINT // 5000 AS bin,
      |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS o1,
      |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS o2
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT *,
      |    sum(o1) OVER (PARTITION BY event_type)::BIGINT AS n1,
      |    sum(o2) OVER (PARTITION BY event_type)::BIGINT AS n2
      |  FROM counts)
      |SELECT event_type, bin, o1, o2,
      |  ((o1 * n2 - o2 * n1) * (o1 * n2 - o2 * n1))::DOUBLE /
      |    (n1 * n2 * (o1 + o2)) AS chi2_contrib
      |FROM tot ORDER BY event_type, bin""".stripMargin

  // ------------------------------------------------------------------
  // Growth accounting

  /** GROWTH ACCOUNTING — the user-lifecycle state classification every
    * growth team runs daily: each active (user, day) is `new` (first
    * ever), `retained` (also active yesterday), `returning` (gap
    * 2–7 days) or `resurrected` (gap > 7), with per-day counts by
    * state. Reduce-first: the fact table collapses to distinct
    * user-days before the one per-user lag window; the classification
    * is pure integer gap arithmetic on epoch-day indexes. */
  def evGrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("idx", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy("user_id").orderBy("idx")
    days
      .withColumn("gap", col("idx") - lag(col("idx"), 1).over(w))
      .withColumn("state",
        when(col("gap").isNull, "new")
          .when(col("gap") === 1, "retained")
          .when(col("gap") <= 7, "returning")
          .otherwise("resurrected"))
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("d"), col("state"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("d", "state")
  }

  private val evGrowthAccountingSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, ts::DATE AS d FROM events),
      |idx AS (
      |  SELECT user_id, d,
      |    date_diff('day', DATE '1970-01-01', d)::BIGINT AS idx
      |  FROM days),
      |lagged AS (
      |  SELECT *, idx - lag(idx) OVER (
      |    PARTITION BY user_id ORDER BY idx) AS gap
      |  FROM idx)
      |SELECT strftime(d, '%Y-%m-%d') AS d,
      |  CASE WHEN gap IS NULL THEN 'new'
      |       WHEN gap = 1 THEN 'retained'
      |       WHEN gap <= 7 THEN 'returning'
      |       ELSE 'resurrected' END AS state,
      |  count(*)::BIGINT AS n_users
      |FROM lagged GROUP BY 1, 2 ORDER BY d, state""".stripMargin

  // ------------------------------------------------------------------
  // Iterative k-means (3 Lloyd rounds, fully declarative)

  /** K-MEANS TO 3 LLOYD ROUNDS with NO driver-side collect — the
    * iterative-training loop expressed as a declarative plan chain
    * (each round: broadcast the k-row centroid relation into the
    * assignment scan, one shuffle on (cluster, dim) for the update,
    * rebuild the centroid arrays with an order-pinned collect_list).
    * Determinism: round-0 centroids are the ×2²⁰ fixed-point integer
    * coordinates; every later centroid coordinate is ONE exact-integer
    * division (Σscaled / n) so both engines hold bit-identical double
    * centroids, and every distance is the same left-to-right 64-term
    * fold — identical IEEE ops, identical argmin, at any parallelism.
    * The oracle unrolls the identical three rounds as CTEs. At 100 TB:
    * per round, one broadcast + one map-side scan + one (k·d)-key
    * shuffle — the canonical distributed Lloyd schedule; rounds chain
    * lazily and Catalyst pipelines the whole lineage. */
  def mlKmeansIter(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1048576) as bigint))")
          .as("p"))
    def assign(cents: DataFrame): DataFrame =
      pts.crossJoin(broadcast(cents))
        .withColumn("d2", expr(
          "vec_l2sq(p, c)"))
        .groupBy("vec_id")
        .agg(expr("min_by(struct(cid, p), struct(d2, cid))").as("a"))
        .select(col("a.cid").as("cid"), col("a.p").as("p"))
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("p")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg((sum(col("v")).cast("double") / count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(expr("transform(sort_array(collect_list(struct(dim, m))), s -> s.m)").as("c"))
    val c0 = pts.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        expr("transform(p, v -> cast(v as double))").as("c"))
    val c1 = update(assign(c0))
    val c2 = update(assign(c1))
    assign(c2)
      .groupBy("cid").agg(count(lit(1)).as("n_points"))
      .join(c2.select(col("cid"),
        (element_at(col("c"), 1) / 1048576d).as("c1"),
        (element_at(col("c"), 2) / 1048576d).as("c2")), Seq("cid"))
      .orderBy("cid")
  }

  private val mlKmeansIterSql: String = {
    val d2 = "list_reduce(list_transform(generate_series(1, len(p)), " +
      "i -> (p[i]::DOUBLE - c[i]) * (p[i]::DOUBLE - c[i])), (x, y) -> x + y)"
    def round(cIn: String, aOut: String, cOut: String): String =
      s"""$aOut AS (
         |  SELECT vec_id, cid, p FROM (
         |    SELECT pts.vec_id, cid, p, $d2 AS d2,
         |      row_number() OVER (PARTITION BY pts.vec_id
         |        ORDER BY $d2, cid) AS rn
         |    FROM pts CROSS JOIN $cIn) t WHERE rn = 1),
         |${cOut}_cell AS (
         |  SELECT cid, dim, sum(v)::BIGINT::DOUBLE / count(*) AS m FROM (
         |    SELECT cid, unnest(generate_series(1, len(p))) AS dim,
         |      unnest(p) AS v
         |    FROM $aOut) GROUP BY cid, dim),
         |$cOut AS (
         |  SELECT cid, list(m ORDER BY dim) AS c
         |  FROM ${cOut}_cell GROUP BY cid)""".stripMargin
    s"""WITH pts AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> round(x::DOUBLE * 1048576)::BIGINT) AS p
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cid, list_transform(p, v -> v::DOUBLE) AS c
       |  FROM pts WHERE vec_id < 8),
       |${round("c0", "a1", "cc1")},
       |${round("cc1", "a2", "cc2")},
       |${round("cc2", "a3", "cc3")}
       |SELECT cid, count(*)::BIGINT AS n_points,
       |  (SELECT c[1] / 1048576 FROM cc2 x WHERE x.cid = a3.cid) AS c1,
       |  (SELECT c[2] / 1048576 FROM cc2 x WHERE x.cid = a3.cid) AS c2
       |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin
  }

  // ------------------------------------------------------------------
  // One-hot encoding

  /** ONE-HOT ENCODING — the categorical expansion between
    * [[MlPrep]]'s hashing/target encoders and a dense trainer: one
    * 0/1 indicator column per category of o_orderpriority, as plain
    * codegen'd `when` projections (a literal-sized vocabulary needs no
    * join; a large one would pivot against a broadcast vocabulary).
    * Restricted to a key slice so the entry's output is row-level
    * (the full-table form is the same projection). */
  def mlOneHot(spark: SparkSession, sfDir: String): DataFrame = {
    val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val cols = pris.zipWithIndex.map { case (p, i) =>
      when(col("o_orderpriority") === p, 1L).otherwise(0L).as(s"pri_${i + 1}")
    }
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") <= 300)
      .select(col("o_orderkey") +: col("o_orderpriority") +: cols: _*)
      .orderBy("o_orderkey")
  }

  private val mlOneHotSql: String = {
    val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val cols = pris.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END)::BIGINT AS pri_${i + 1}"
    }.mkString(",\n  ")
    s"""SELECT o_orderkey, o_orderpriority,
       |  $cols
       |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin
  }

  // ------------------------------------------------------------------
  // Standard scaling

  /** STANDARD (z-score) SCALING — the feature normalization pass
    * before any distance- or gradient-based trainer: mean and std from
    * EXACT integer cent sums (the variance numerator n·Σx² − (Σx)² is
    * computed in DECIMAL(38,0) — at 100 TB row counts the int64 product
    * overflows, and decimal is the exact wide type both engines share),
    * then one identical (x − μ)/σ per row. μ and σ are single
    * divisions/sqrts of exact integers, so every z-score is
    * bit-identical at any parallelism. The two-pass shape (aggregate →
    * broadcast the 1-row params → project) is the canonical scaler. */
  def mlStandardScale(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = expr("cast(round(p_retailprice * 100) as bigint)")
    val params = Tables.part(spark, sfDir)
      .agg(count(lit(1)).as("n"), sum(cents).as("sx"),
        sum(cents * cents).as("sxx"))
      .select(col("n"),
        (col("sx").cast("double") / col("n")).as("mean_c"),
        (sqrt((col("n").cast("decimal(38,0)") * col("sxx").cast("decimal(38,0)") -
          col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .cast("double")) / col("n")).as("std_c"))
    Tables.part(spark, sfDir)
      .filter(col("p_partkey") <= 20)
      .crossJoin(params)
      .select(col("p_partkey"), col("p_retailprice"),
        ((cents.cast("double") - col("mean_c")) / col("std_c")).as("z"))
      .orderBy("p_partkey")
  }

  private val mlStandardScaleSql: String =
    """WITH params AS (
      |  SELECT count(*)::BIGINT AS n,
      |    sum(c)::BIGINT::DOUBLE / count(*) AS mean_c,
      |    sqrt((count(*)::DECIMAL(38,0) * sum(c * c)::DECIMAL(38,0) -
      |          sum(c)::DECIMAL(38,0) * sum(c)::DECIMAL(38,0))::DOUBLE)
      |      / count(*) AS std_c
      |  FROM (SELECT round(p_retailprice * 100)::BIGINT AS c FROM part))
      |SELECT p_partkey, p_retailprice,
      |  (round(p_retailprice * 100)::BIGINT::DOUBLE - mean_c) / std_c AS z
      |FROM part CROSS JOIN params
      |WHERE p_partkey <= 20 ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic Poisson-bootstrap confidence interval

  /** BOOTSTRAP CONFIDENCE INTERVAL via the DETERMINISTIC Poisson
    * bootstrap — the distributed resampling scheme (each row's weight
    * in replicate b is an independent Poisson(1) draw, so no global
    * shuffle or sampling pass is needed; this is how engines bootstrap
    * a 100 TB mean in one scan): the draw is a pure function of
    * (row key, replicate) through the portable md5 hash, quantized
    * through the Poisson(1) CDF — both engines derive the identical
    * weight. One 60-bit digest per (row, 4-replicate block) is
    * BIT-SLICED into four exact 15-bit uniforms (`shiftright` + mod,
    * zero modulo bias; CDF thresholds ×32768) — 4× fewer md5s than a
    * digest per (row, replicate), which profiling showed was this
    * operator's entire cost. Each replicate mean is exact-integer
    * Σw·cents / Σw (one division), and the interval is the
    * exact-percentile idiom over the 50 replicate means. */
  def mlBootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 50
    val nBlocks = (B + 3) / 4
    val h = graft.functions.Text.hash60SparkSql(
      "concat('boot:', cast(o_orderkey as string), ':', cast(blk as string))")
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    // The replicate explode amplifies each input row B×, and the md5
    // weight derivation is the per-row cost — but the single-file
    // fixture reads as 1-2 splits, which would pin that compute to 2
    // cores. Spread BEFORE the explode when the input has fewer splits
    // than cores (same device as Text.shingled); at 100 TB the input
    // has thousands of splits and no shuffle happens at all.
    // Tables.spread (r14): the previous bare repartition(col) was
    // AQE-coalesced back to ONE partition (StageProf: a single 1.7 s
    // task reading all 150k shuffle rows) — the explicit count pins it.
    val reps = Tables.spread(spark, base, col("o_orderkey"))
      .select(col("o_orderkey"), col("cents"),
        explode(expr(s"sequence(0, ${nBlocks - 1})")).as("blk"))
      .withColumn("h", expr(h)) // ONE digest per block of 4 replicates
      .select(col("cents"), col("blk"), col("h"),
        explode(expr("sequence(0, 3)")).as("s"))
      .withColumn("b", col("blk") * 4 + col("s") + 1)
      .filter(col("b") <= B)
      .withColumn("u", expr("shiftright(h, cast(15 * s as int)) % 32768"))
      .withColumn("w", expr(
        """CASE WHEN u < 12055 THEN 0L WHEN u < 24109 THEN 1L
          |WHEN u < 30137 THEN 2L WHEN u < 32146 THEN 3L
          |WHEN u < 32648 THEN 4L WHEN u < 32749 THEN 5L ELSE 6L END""".stripMargin))
      .groupBy("b")
      .agg((sum(col("w") * col("cents")).cast("double") / sum(col("w")) / 100.0)
        .as("m"))
    val point = Tables.orders(spark, sfDir)
      .agg((sum(expr("cast(round(o_totalprice * 100) as bigint)")).cast("double") /
        count(lit(1)) / 100.0).as("point_mean"))
    reps.agg(count(lit(1)).as("n_replicates"),
        expr("percentile(m, 0.025)").as("ci_lo"),
        expr("percentile(m, 0.5)").as("ci_med"),
        expr("percentile(m, 0.975)").as("ci_hi"))
      .crossJoin(point)
      .select(col("n_replicates"), col("point_mean"),
        col("ci_lo"), col("ci_med"), col("ci_hi"))
  }

  private val mlBootstrapCiSql: String = {
    val h = graft.functions.Text.hash60DuckSql(
      "'boot:' || o_orderkey::VARCHAR || ':' || blk::VARCHAR")
    s"""WITH reps AS (
       |  SELECT b,
       |    sum(w * cents)::BIGINT::DOUBLE / sum(w) / 100.0 AS m
       |  FROM (
       |    SELECT cents, blk, $h AS h, unnest(generate_series(0, 3)) AS s
       |    FROM (
       |      SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents,
       |        unnest(generate_series(0, 12)) AS blk
       |      FROM orders) t0) t1,
       |  LATERAL (SELECT blk * 4 + s + 1 AS b,
       |                  (h >> (15 * s)::INT) % 32768 AS u),
       |  LATERAL (SELECT CASE WHEN u < 12055 THEN 0 WHEN u < 24109 THEN 1
       |    WHEN u < 30137 THEN 2 WHEN u < 32146 THEN 3
       |    WHEN u < 32648 THEN 4 WHEN u < 32749 THEN 5 ELSE 6 END::BIGINT AS w)
       |  WHERE b <= 50
       |  GROUP BY b)
       |SELECT (SELECT count(*) FROM reps)::BIGINT AS n_replicates,
       |  (SELECT sum(round(o_totalprice * 100)::BIGINT)::BIGINT::DOUBLE
       |     / count(*) / 100.0 FROM orders) AS point_mean,
       |  quantile_cont(m, 0.025) AS ci_lo,
       |  quantile_cont(m, 0.5) AS ci_med,
       |  quantile_cont(m, 0.975) AS ci_hi
       |FROM reps""".stripMargin
  }

  // ------------------------------------------------------------------
  // Per-node clustering coefficient

  /** LOCAL CLUSTERING COEFFICIENT — 2·tri(v) / (deg(v)·(deg(v)−1))
    * per node of the part co-occurrence graph: how clique-like each
    * node's neighborhood is (the community-structure signal next to
    * [[Graph]]'s global triangle count). Triangles are enumerated once
    * with the same DEGREE-ORDERED orientation as gr_triangles
    * (O(m^{3/2}) total work, hub-safe), each triangle credits its
    * three corners, and the coefficient is ONE double division of
    * exact integer counts per node. Per-node counts are orientation-
    * invariant, which is why the id-ordered oracle matches. Top 20 by
    * (coefficient, degree, id) — a totalized order. */
  def grClusteringCoef(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.spread(spark,
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey")).distinct()
    val canon = Scratch.persist(li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst")).distinct())
    val und = canon.select(col("src").as("v"))
      .unionAll(canon.select(col("dst").as("v")))
    val degs = Scratch.persist(und.groupBy("v").agg(count(lit(1)).as("deg")))
    // persisted: the oriented relation feeds THREE sides of the triangle
    // join — without it the canon→degs joins replay per side; the
    // orientation itself is [[Graph.orientByDegree]] (√(2m) out-degree
    // bound pinned by GraphSpec)
    val e = Scratch.persist(Graph.orientByDegree(canon, degs))
    // ADJACENCY-PACKED triangle enumeration (r14 optimization round,
    // guide §2.3/§2.4; same rewrite as [[Graph.grTriangles]] — see the
    // measurement note there): for oriented edge (x,y), every
    // z ∈ N⁺(x) ∩ N⁺(y) closes exactly one triangle whose first edge
    // is (x,y), so exploding the per-edge intersection enumerates the
    // IDENTICAL (x,y,z) relation the former e1⋈e2⋈e3 wedge join
    // produced — without materializing the 50M-row wedge exchange
    // (output rows = Δ, the triangle count, not the wedge count).
    val adj = Scratch.persist(
      e.groupBy(col("lo")).agg(collect_list(col("hi")).as("nbrs")))
    val tri = e
      .join(adj.select(col("lo").as("u"), col("nbrs").as("n1")), col("lo") === col("u"))
      .join(adj.select(col("lo").as("v"), col("nbrs").as("n2")), col("hi") === col("v"))
      .select(col("lo").as("x"), col("hi").as("y"),
        explode(array_intersect(col("n1"), col("n2"))).as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    degs.filter(col("deg") >= 2)
      .join(perNode, Seq("v"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coef",
        (lit(2L) * col("n_tri")).cast("double") / (col("deg") * (col("deg") - 1)))
      .select(col("v").as("l_partkey"), col("deg"), col("n_tri"), col("coef"))
      .orderBy(col("coef").desc, col("deg").desc, col("l_partkey"))
      .limit(20)
  }

  private val grClusteringCoefSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |canon AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |degs AS (
      |  SELECT v, count(*)::BIGINT AS deg FROM (
      |    SELECT src AS v FROM canon UNION ALL SELECT dst FROM canon)
      |  GROUP BY v),
      |tri AS (
      |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      |  FROM canon e1 JOIN canon e2 ON e1.dst = e2.src
      |  JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |per_node AS (
      |  SELECT v, count(*)::BIGINT AS n_tri FROM (
      |    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY v)
      |SELECT v AS l_partkey, deg, coalesce(n_tri, 0)::BIGINT AS n_tri,
      |  (2 * coalesce(n_tri, 0))::DOUBLE / (deg * (deg - 1)) AS coef
      |FROM degs LEFT JOIN per_node USING (v)
      |WHERE deg >= 2
      |ORDER BY coef DESC, deg DESC, l_partkey LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // Modularity of a labeled partition

  /** MODULARITY of the brand partition over the part co-occurrence
    * graph — "do parts of the same brand co-occur more than chance?",
    * the assortativity question every community detector optimizes.
    * Newman's Q = Σ_c (e_c/m − (d_c/2m)²) is evaluated as the EXACT
    * integer Σ_c (4m·e_c − d_c²) over the common denominator 4m² —
    * one double division at the end (the rational-telescoping
    * discipline applied to graph statistics; a float Σ of per-community
    * terms would be order-dependent). Edge labeling is two broadcast
    * joins against the part dimension. */
  def grModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.spread(spark,
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey")).distinct()
    val canon = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst")).distinct()
    val brands = broadcast(Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand")))
    // persisted (r14): `labeled` feeds FOUR consumers (m, e_in, and
    // d_tot twice) — the Spark twin of the oracle's MATERIALIZED pin
    val labeled = Scratch.persist(canon
      .join(brands.select(col("p_partkey").as("src"), col("p_brand").as("b_src")), "src")
      .join(brands.select(col("p_partkey").as("dst"), col("p_brand").as("b_dst")), "dst"))
    val m = labeled.agg(count(lit(1)).as("m"))
    val eIn = labeled.filter(col("b_src") === col("b_dst"))
      .groupBy(col("b_src").as("brand")).agg(count(lit(1)).as("e_in"))
    val dTot = labeled.select(col("b_src").as("brand"))
      .unionAll(labeled.select(col("b_dst").as("brand")))
      .groupBy("brand").agg(count(lit(1)).as("d_tot"))
    dTot.join(eIn, Seq("brand"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(m)
      .agg(max(col("m")).as("m_edges"), count(lit(1)).as("n_communities"),
        sum(lit(4L) * col("m") * col("e_in") - col("d_tot") * col("d_tot"))
          .as("q_scaled"))
      .withColumn("q", col("q_scaled").cast("double") /
        (lit(4L) * col("m_edges") * col("m_edges")))
      .select(col("m_edges"), col("n_communities"), col("q_scaled"), col("q"))
  }

  // CTEs pinned MATERIALIZED: `labeled` is referenced four times and
  // DuckDB's default inlining recomputes the canon self-join for each —
  // the r11 x100 gate's spill-to-death class (see Graph.grPagerankSql)
  private val grModularitySql: String =
    """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |canon AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |labeled AS MATERIALIZED (
      |  SELECT src, dst, ps.p_brand AS b_src, pd.p_brand AS b_dst
      |  FROM canon
      |  JOIN part ps ON ps.p_partkey = src
      |  JOIN part pd ON pd.p_partkey = dst),
      |m AS MATERIALIZED (SELECT count(*)::BIGINT AS m FROM labeled),
      |e_in AS MATERIALIZED (
      |  SELECT b_src AS brand, count(*)::BIGINT AS e_in
      |  FROM labeled WHERE b_src = b_dst GROUP BY 1),
      |d_tot AS MATERIALIZED (
      |  SELECT brand, count(*)::BIGINT AS d_tot FROM (
      |    SELECT b_src AS brand FROM labeled
      |    UNION ALL SELECT b_dst FROM labeled)
      |  GROUP BY brand)
      |SELECT max(m)::BIGINT AS m_edges, count(*)::BIGINT AS n_communities,
      |  sum(4 * m * coalesce(e_in, 0) - d_tot * d_tot)::BIGINT AS q_scaled,
      |  sum(4 * m * coalesce(e_in, 0) - d_tot * d_tot)::BIGINT::DOUBLE /
      |    (4 * max(m) * max(m)) AS q
      |FROM d_tot LEFT JOIN e_in USING (brand) CROSS JOIN m""".stripMargin

  // ------------------------------------------------------------------
  // Linear multi-touch attribution

  /** LINEAR MULTI-TOUCH ATTRIBUTION — the credit-splitting twin of
    * the last-touch model ([[Journeys]]): every touch between a user's
    * previous purchase and the next purchase shares that purchase's
    * credit equally. The touch→purchase assignment is pure window
    * arithmetic (purchases-seen-so-far + 1 indexes the crediting
    * purchase — no self-join over history), per-type credit is the
    * exact rational n_type/n_total with ONE double division per output
    * row (a float Σ of 1/n terms would be order-dependent). */
  def evAttributionLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("p_before", coalesce(sum(
        when(col("event_type") === "purchase", 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        (col("p_before") + 1).as("p_idx"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("touch_type"),
        (col("p_before") + 1).as("t_idx"))
    touches.join(purchases,
        col("user_id") === col("p_user") && col("t_idx") === col("p_idx"))
      .groupBy("purchase_id", "touch_type")
      .agg(count(lit(1)).as("n_type"))
      .withColumn("n_total",
        sum(col("n_type")).over(Window.partitionBy("purchase_id")))
      .withColumn("credit", col("n_type").cast("double") / col("n_total"))
      .orderBy("purchase_id", "touch_type")
  }

  private val evAttributionLinearSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS p_before
      |  FROM events),
      |purchases AS (
      |  SELECT user_id AS p_user, event_id AS purchase_id,
      |    p_before + 1 AS p_idx
      |  FROM ev WHERE event_type = 'purchase'),
      |touches AS (
      |  SELECT user_id, event_type AS touch_type, p_before + 1 AS t_idx
      |  FROM ev WHERE event_type <> 'purchase'),
      |joined AS (
      |  SELECT purchase_id, touch_type, count(*)::BIGINT AS n_type
      |  FROM touches JOIN purchases
      |    ON user_id = p_user AND t_idx = p_idx
      |  GROUP BY 1, 2)
      |SELECT purchase_id, touch_type, n_type,
      |  sum(n_type) OVER (PARTITION BY purchase_id)::BIGINT AS n_total,
      |  n_type::DOUBLE / sum(n_type) OVER (PARTITION BY purchase_id) AS credit
      |FROM joined ORDER BY purchase_id, touch_type""".stripMargin

  // ------------------------------------------------------------------
  // SQL interface

  /** SQL-FIRST INTERFACE — the same flagship semantics as
    * [[Relational.q3Unshipped]], but driven through `spark.sql` over
    * registered temp views: the entry a SQL-speaking user of the
    * engine actually types. Catalyst compiles this to the identical
    * plan as the DataFrame form (views are just named subplans), which
    * is the point being demonstrated — the two APIs are one engine. */
  def opSqlInterface(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("g_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("g_orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("g_lineitem")
    spark.sql(
      // `/ 10000.0` would parse as DECIMAL(5,1) in Spark SQL, forcing
      // bigint/decimal *decimal* division (revenue: decimal(28,7)) while
      // the DuckDB oracle's `/` returns DOUBLE — the CAST keeps both
      // engines on the identical single float division (r7 driver gate).
      """SELECT l_orderkey, o_orderdate,
        |  sum(cast(round((l_extendedprice * (1 - l_discount)) * 10000) as bigint))
        |    / CAST(10000.0 AS DOUBLE) AS revenue
        |FROM g_customer
        |JOIN g_orders ON c_custkey = o_custkey
        |JOIN g_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 50""".stripMargin)
  }

  private val opSqlInterfaceSql: String =
    s"""SELECT l_orderkey, o_orderdate,
       |  ${graft.functions.Exact.sqlSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 50""".stripMargin

  // ------------------------------------------------------------------
  // Audience overlap

  /** AUDIENCE OVERLAP — exact Jaccard between every pair of event-type
    * audiences (|A∩B| / |A∪B|): the segment-similarity matrix behind
    * every "users who did X also did Y" dashboard. Reduce-first: the
    * fact table collapses to distinct (type, user) once; the pair
    * intersection is ONE self-equi-join on user of that reduced
    * relation; union sizes come from the per-type counts by
    * inclusion–exclusion — all exact integers, one division per pair. */
  def evAudienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val tu = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(sizes.select(col("event_type").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")), "type_b")
      .withColumn("jaccard", col("n_both").cast("double") /
        (col("n_a") + col("n_b") - col("n_both")))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"), col("jaccard"))
      .orderBy("type_a", "type_b")
  }

  private val evAudienceOverlapSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      |sizes AS (SELECT event_type, count(*)::BIGINT AS n FROM tu GROUP BY 1),
      |inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*)::BIGINT AS n_both
      |  FROM tu a JOIN tu b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
      |  n_both::DOUBLE / (sa.n + sb.n - n_both) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.event_type = type_a
      |JOIN sizes sb ON sb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------------------------
  // Null-safe equality join

  /** NULL-SAFE EQUALITY JOIN (`<=>` — SQL's IS NOT DISTINCT FROM): the
    * join semantics a dimension with NULL-able natural keys needs,
    * where NULL must match NULL instead of silently dropping (the
    * classic slowly-changing-dimension bug). Nulls are injected
    * deterministically into a key column on both sides; the null-safe
    * join pairs the null groups, the plain equi-join (oracle's second
    * count) does not — the difference IS the demonstrated semantics.
    * Spark plans `<=>` as a hash join on the null-safe key (nulls hash
    * to one group), not a nested loop — same scale shape as any
    * equi-join, plus the skew caveat if nulls dominate. */
  def opNullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def side(alias: String) = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, lit(null))
          .otherwise(col("o_custkey")).as(s"k_$alias"))
    val joined = side("a").as("a").join(side("b").as("b"),
      col("k_a") <=> col("k_b") &&
        col("a.o_orderkey") < col("b.o_orderkey"))
    joined.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("k_a").isNull, 1L).otherwise(0L)).as("n_null_pairs"))
  }

  private val opNullSafeJoinSql: String =
    """WITH s AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      |  FROM orders)
      |SELECT count(*)::BIGINT AS n_pairs,
      |  sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_pairs
      |FROM s a JOIN s b
      |  ON a.k IS NOT DISTINCT FROM b.k AND a.o_orderkey < b.o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // Union by name (schema evolution union)

  /** UNION BY NAME with missing columns — the schema-evolution union
    * every multi-generation dataset needs (`unionByName(…,
    * allowMissingColumns = true)`): the 1997 slice carries no
    * `priority_class`, the 1998 slice does, and the union serves both
    * generations with NULL back-fill — positionally-aligned `UNION ALL`
    * would silently mis-bind columns. Resolution happens at plan time;
    * the executed plan is a plain union of projections, no runtime
    * cost. */
  def opUnionByName(spark: SparkSession, sfDir: String): DataFrame = {
    def yr(y: Int) = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(s"$y-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01 00:00:00").cast("timestamp"))
    val old = yr(1997).select(col("o_orderkey"), col("o_totalprice"))
    val nu = yr(1998).select(col("o_orderkey"), col("o_totalprice"),
      substring(col("o_orderpriority"), 1, 1).as("priority_class"))
    old.unionByName(nu, allowMissingColumns = true)
      .groupBy(coalesce(col("priority_class"), lit("none")).as("priority_class"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Exact.exactSum(col("o_totalprice"), 2).as("revenue"))
      .orderBy("priority_class")
  }

  private val opUnionByNameSql: String =
    s"""SELECT coalesce(priority_class, 'none') AS priority_class,
       |  count(*)::BIGINT AS n_orders,
       |  ${graft.functions.Exact.sqlSum("o_totalprice", 2)} AS revenue
       |FROM (
       |  SELECT o_orderkey, o_totalprice, NULL AS priority_class
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice, substr(o_orderpriority, 1, 1)
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
       |GROUP BY 1 ORDER BY priority_class""".stripMargin

  // ------------------------------------------------------------------
  // Checkpoint (lineage truncation)

  /** RELIABLE CHECKPOINT — `Dataset.checkpoint()` materializes the
    * relation and TRUNCATES its lineage, the control knob that keeps
    * iterative jobs (k-means rounds, graph frontiers) from growing an
    * unbounded plan tree: without it, round N's plan contains rounds
    * 1..N−1 and both planning time and recovery cost grow per
    * iteration. The entry checkpoints the aggregated intermediate of
    * a two-stage computation; the oracle recomputes the SAME two
    * stages un-checkpointed — results must be identical because
    * checkpointing is semantically a no-op (that is the test). */
  def opCheckpoint(spark: SparkSession, sfDir: String): DataFrame = {
    spark.sparkContext.setCheckpointDir(
      s"${graft.Session.pipeDir}/chkpt")
    val stage1 = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
      .checkpoint()
    stage1
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("cents")).cast("double") / 100.0).as("revenue"))
      .orderBy("n_orders")
  }

  private val opCheckpointSql: String =
    """WITH stage1 AS (
      |  SELECT o_custkey, count(*)::BIGINT AS n_orders,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT n_orders, count(*)::BIGINT AS n_customers,
      |  sum(cents)::BIGINT::DOUBLE / 100.0 AS revenue
      |FROM stage1 GROUP BY n_orders ORDER BY n_orders""".stripMargin

  // ------------------------------------------------------------------
  // Bounded weighted shortest paths

  /** BOUNDED WEIGHTED SHORTEST PATHS — 3 Bellman–Ford relaxation
    * rounds over the co-occurrence graph with integer edge costs
    * (cost = 1000 div shared-order-count: stronger ties are cheaper),
    * from the same modulo-seeded source set as gr_shortest_paths'
    * hop-BFS. Each round is one join + one min-aggregate, both
    * hash-partitioned on the node key — the scalable relax schedule
    * (and exactly what a Pregel step compiles to). All-integer
    * distances: deterministic min, no float accumulation. Top 20
    * nearest non-seed nodes under a totalized order. */
  def grWeightedPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
    val e = Scratch.persist(
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .withColumn("cost", expr("1000L div w")))
    val seeds = e.select(col("src").as("v")).distinct()
      .filter(col("v") % 50 === 0)
    var dist = Scratch.persist(seeds.withColumn("d", lit(0L)))
    for (_ <- 1 to 3) {
      val relaxed = dist.join(e, dist("v") === e("src"))
        .select(col("dst").as("v"), (col("d") + col("cost")).as("d"))
        .unionByName(dist)
        .groupBy("v").agg(min(col("d")).as("d"))
      dist = Scratch.persist(relaxed)
    }
    dist.join(seeds.withColumnRenamed("v", "s"), col("v") === col("s"), "left_anti")
      .orderBy(col("d").asc, col("v").asc)
      .limit(20)
  }

  private val grWeightedPathsSql: String = {
    def relax(dIn: String, dOut: String): String =
      s"""$dOut AS (
         |  SELECT v, min(d)::BIGINT AS d FROM (
         |    SELECT e.dst AS v, $dIn.d + e.cost AS d
         |    FROM $dIn JOIN e ON $dIn.v = e.src
         |    UNION ALL SELECT v, d FROM $dIn)
         |  GROUP BY v)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
       |    1000 // count(*) AS cost
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |seeds AS (SELECT DISTINCT src AS v FROM e WHERE src % 50 = 0),
       |d0 AS (SELECT v, 0::BIGINT AS d FROM seeds),
       |${relax("d0", "d1")},
       |${relax("d1", "d2")},
       |${relax("d2", "d3")}
       |SELECT v, d FROM d3 WHERE v NOT IN (SELECT v FROM seeds)
       |ORDER BY d, v LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "op_bitmap_distinct" -> (opBitmapDistinct _),
    "op_mode_agg" -> (opModeAgg _),
    "op_gaps_islands" -> (opGapsIslands _),
    "op_explode_lateral" -> (opExplodeLateral _),
    "op_join_cross" -> (opJoinCross _),
    "ev_trend" -> (evTrend _),
    "cu_l_diversity" -> (cuLDiversity _),
    "ta_polarity" -> (taPolarity _),
    "gr_degree_dist" -> (grDegreeDist _),
    "op_bloom_join" -> (opBloomJoin _),
    "ml_auc" -> (mlAuc _),
    "ml_avg_precision" -> (mlAvgPrecision _),
    "ml_brier" -> (mlBrier _),
    "ml_operating_point" -> (mlOperatingPoint _),
    "ml_roc_points" -> (mlRocPoints _),
    "ml_lift_deciles" -> (mlLiftDeciles _),
    "ml_kmeans" -> (mlKmeans _),
    "gr_hits" -> (grHits _),
    "ml_best_split" -> (mlBestSplit _),
    "op_map_funcs" -> (opMapFuncs _),
    "ev_forecast_backtest" -> (evForecastBacktest _),
    "gr_kcore_peel" -> (grKcorePeel _),
    "ev_interarrival" -> (evInterarrival _),
    "cu_canonical_select" -> (cuCanonicalSelect _),
    "ml_ndcg" -> (mlNdcg _),
    "op_date_dim" -> (opDateDim _),
    "op_time_rollup" -> (opTimeRollup _),
    "ml_drift_bins" -> (mlDriftBins _),
    "ev_growth_accounting" -> (evGrowthAccounting _),
    "ml_kmeans_iter" -> (mlKmeansIter _),
    "ml_one_hot" -> (mlOneHot _),
    "ml_standard_scale" -> (mlStandardScale _),
    "ml_bootstrap_ci" -> (mlBootstrapCi _),
    "gr_clustering_coef" -> (grClusteringCoef _),
    "gr_modularity" -> (grModularity _),
    "ev_attribution_linear" -> (evAttributionLinear _),
    "op_sql_interface" -> (opSqlInterface _),
    "ev_audience_overlap" -> (evAudienceOverlap _),
    "op_null_safe_join" -> (opNullSafeJoin _),
    "op_union_by_name" -> (opUnionByName _),
    "op_checkpoint" -> (opCheckpoint _),
    "gr_weighted_paths" -> (grWeightedPaths _))

  val oracles: Map[String, String] = Map(
    "op_bitmap_distinct" -> opBitmapDistinctSql,
    "op_mode_agg" -> opModeAggSql,
    "op_gaps_islands" -> opGapsIslandsSql,
    "op_explode_lateral" -> opExplodeLateralSql,
    "op_join_cross" -> opJoinCrossSql,
    "ev_trend" -> evTrendSql,
    "cu_l_diversity" -> cuLDiversitySql,
    "ta_polarity" -> taPolaritySql,
    "gr_degree_dist" -> grDegreeDistSql,
    "op_bloom_join" -> opBloomJoinSql,
    "ml_auc" -> mlAucSql,
    "ml_avg_precision" -> mlAvgPrecisionSql,
    "ml_brier" -> mlBrierSql,
    "ml_operating_point" -> mlOperatingPointSql,
    "ml_roc_points" -> mlRocPointsSql,
    "ml_lift_deciles" -> mlLiftDecilesSql,
    "ml_kmeans" -> mlKmeansSql,
    "gr_hits" -> grHitsSql,
    "ml_best_split" -> mlBestSplitSql,
    "op_map_funcs" -> opMapFuncsSql,
    "ev_forecast_backtest" -> evForecastBacktestSql,
    "gr_kcore_peel" -> grKcorePeelSql,
    "ev_interarrival" -> evInterarrivalSql,
    "cu_canonical_select" -> cuCanonicalSelectSql,
    "ml_ndcg" -> mlNdcgSql,
    "op_date_dim" -> opDateDimSql,
    "op_time_rollup" -> opTimeRollupSql,
    "ml_drift_bins" -> mlDriftBinsSql,
    "ev_growth_accounting" -> evGrowthAccountingSql,
    "ml_kmeans_iter" -> mlKmeansIterSql,
    "ml_one_hot" -> mlOneHotSql,
    "ml_standard_scale" -> mlStandardScaleSql,
    "ml_bootstrap_ci" -> mlBootstrapCiSql,
    "gr_clustering_coef" -> grClusteringCoefSql,
    "gr_modularity" -> grModularitySql,
    "ev_attribution_linear" -> evAttributionLinearSql,
    "op_sql_interface" -> opSqlInterfaceSql,
    "ev_audience_overlap" -> evAudienceOverlapSql,
    "op_null_safe_join" -> opNullSafeJoinSql,
    "op_union_by_name" -> opUnionByNameSql,
    "op_checkpoint" -> opCheckpointSql,
    "gr_weighted_paths" -> grWeightedPathsSql)
}
