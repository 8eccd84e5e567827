package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** IVF+PQ on residuals — the composite billion-scale ANN index (the
  * FAISS IndexIVFPQ construction; Jégou/Douze/Schmid TPAMI'11 §V):
  *
  *  1. COARSE — Lloyd-fit [[Cells]] full-dimension centroids
  *     ([[Pq.lloydFit]] with one 64-dim "subspace"); every vector is
  *     assigned to its nearest cell and only its RESIDUAL (vector −
  *     cell centroid) is stored. Residuals are far more compact than
  *     raw vectors, so the same PQ codebook quantizes them with much
  *     less error.
  *  2. PQ — the residuals are product-quantized exactly like
  *     [[Pq.annPqAdc]]: [[M]] subspaces × [[K]] centroids, Lloyd-fit,
  *     4-bit codes. Corpus storage per vector: one cell id + 8 codes.
  *  3. SEARCH — each probe ranks its [[NProbe]] nearest cells, computes
  *     one ADC table PER (probe, cell) against the probe's residual in
  *     that cell, and scans ONLY vectors in probed cells via an
  *     equi-join on (cell, m, code). Unprobed cells are never touched —
  *     IVF's partition pruning and PQ's memory compression compose.
  *
  * Scale: both fits move only centroid doubles to the driver; encode is
  * a map-side argmin against a 128-row broadcast; the search join
  * broadcasts the Probes×NProbe×M×K table and partial-aggregates before
  * the one (probe, vector)-sized shuffle. Determinism: every distance
  * is the strict left fold, every codebook mean fixed-point, argmin
  * ties break to the lower id — the DuckDB oracle recomputes the ENTIRE
  * pipeline (both Lloyd fits included) and must match hash-exactly. */
object IvfPq {

  private val Cells = 8
  private val CoarseIters = 2
  private val M = 8
  private val Dsub = 8
  private val K = 16
  private val PqIters = 2
  private val Probes = 10
  private val NProbe = 2
  private val TopN = 5

  private val d2S = "vec_l2sq(%s, %s)"

  private def fullVec(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))

  private def litArr(cent: Array[Double]): String =
    cent.map(d => s"cast('${d.toString}' as double)").mkString("array(", ", ", ")")

  private def d2Lit(c: String, cent: Array[Double]): String =
    s"vec_l2sq($c, ${litArr(cent)})"

  /** Nearest-cell id as ONE map-side projection over the 8 inlined
    * coarse centroids (array_min over (d2, k) structs — the same
    * argmin-by-(d2, k) the oracle's window computes). A join keyed on a
    * constant would fold to a cartesian; this shape needs no join, no
    * window, no shuffle — assignment at any corpus size is a scan. */
  private def cellExpr(coarse: Map[(Int, Int), Array[Double]], c: String): String =
    (0 until Cells).map { k =>
      s"struct(${d2Lit(c, coarse((0, k)))} as d2, $k as k)"
    }.mkString("array_min(array(", ", ", ")).k")

  /** Residual against the assigned cell's centroid, as a CASE over the
    * inlined centroids. */
  private def residExpr(coarse: Map[(Int, Int), Array[Double]], c: String): String =
    (0 until Cells).map { k =>
      s"WHEN cell = $k THEN zip_with($c, ${litArr(coarse((0, k)))}, (x, y) -> x - y)"
    }.mkString("CASE ", " ", " END")

  /** (vec_id, cell, res): nearest coarse cell + residual per vector —
    * pure per-row projection. */
  private def residuals(spark: SparkSession, e: DataFrame,
                        coarse: Map[(Int, Int), Array[Double]]): DataFrame =
    e.withColumn("cell", expr(cellExpr(coarse, "emb")))
      .withColumn("res", expr(residExpr(coarse, "emb")))
      .select(col("vec_id"), col("cell"), col("res"))

  /** Trained (coarse, pq-residual) codebooks, memoized like [[Pq]]'s
    * through [[graft.Session.memo]] while `embeddings` is unchanged. */
  private def fit(spark: SparkSession, sfDir: String)
      : (Map[(Int, Int), Array[Double]], Map[(Int, Int), Array[Double]]) =
    graft.Session.memo(spark, "ivfpqFit", Seq(Tables.path(sfDir, "embeddings")), sfDir) {
      val e = fullVec(spark, sfDir)
      val coarse = Pq.lloydFit(spark,
        e.select(col("vec_id"), lit(0).as("m"), col("emb").as("sub")), Cells, CoarseIters)
      val svRes = residuals(spark, e, coarse)
        .select(col("vec_id"), explode(expr(s"sequence(0, ${M - 1})")).as("m"), col("res"))
        .select(col("vec_id"), col("m"), expr(s"slice(res, m * $Dsub + 1, $Dsub)").as("sub"))
      (coarse, Pq.lloydFit(spark, svRes, K, PqIters))
    }

  /** IVFPQ top-5 per probe (nprobe=2, residual-ADC ranking). */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val (coarse, pq) = fit(spark, sfDir)
    val e = fullVec(spark, sfDir)
    val pqDf = broadcast(Pq.centroidDf(spark, pq))
    // encode: per (vector, subspace) the argmin residual code, cell kept
    val svrc = residuals(spark, e, coarse)
      .select(col("vec_id"), col("cell"), explode(expr(s"sequence(0, ${M - 1})")).as("m"), col("res"))
      .select(col("vec_id"), col("cell"), col("m"),
        expr(s"slice(res, m * $Dsub + 1, $Dsub)").as("sub"))
    val wEnc = Window.partitionBy("vec_id", "m").orderBy(col("d2"), col("k"))
    val codes = svrc.join(pqDf, Seq("m"))
      .withColumn("d2", expr(d2S.format("sub", "cv")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("m"), col("k").as("code"))
    // probes: nprobe nearest cells + per-cell residual, again as pure
    // projections over the inlined centroids (sorted (d2, k) structs,
    // take NProbe, explode)
    val cellRank = (0 until Cells).map { k =>
      s"struct(${d2Lit("emb", coarse((0, k)))} as d2, $k as k)"
    }.mkString(s"slice(array_sort(array(", ", ", s")), 1, $NProbe)")
    val pcells = e.filter(col("vec_id") < Probes)
      .select(col("vec_id").as("probe_id"), col("emb"),
        explode(expr(cellRank)).as("sc"))
      .select(col("probe_id"), col("sc.k").as("cell"), col("emb"))
      .withColumn("pres", expr(residExpr(coarse, "emb")))
      .select("probe_id", "cell", "pres")
    // ADC table per (probe, cell): Probes × NProbe × M × K rows, bounded
    val ptab = pcells
      .select(col("probe_id"), col("cell"), explode(expr(s"sequence(0, ${M - 1})")).as("m"), col("pres"))
      .select(col("probe_id"), col("cell"), col("m"),
        expr(s"slice(pres, m * $Dsub + 1, $Dsub)").as("sub"))
      .join(pqDf, Seq("m"))
      .select(col("probe_id"), col("cell"), col("m"), col("k").as("code"),
        expr(s"cast(round((${d2S.format("sub", "cv")}) * 1048576.0) as bigint)").as("dq"))
    val wRank = Window.partitionBy("probe_id").orderBy(col("dq_total"), col("neighbor_id"))
    codes.join(broadcast(ptab), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dq")).as("dq_total"))
      .withColumn("approx_d2", col("dq_total") / 1048576.0)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= TopN)
      .select("probe_id", "neighbor_id", "approx_d2", "rank")
      .orderBy("probe_id", "rank")
  }

  /** DuckDB strict-fold squared L2 over the first n positions. */
  private def d2D(a: String, b: String, n: Int): String =
    s"list_reduce(list_transform(generate_series(1, $n), i -> " +
      s"($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)), (x, y) -> x + y)"

  /** Shared oracle CTE chain — coarse init + Lloyd, residuals, PQ init
    * + Lloyd on residuals, encode, probe cells + ADC tables. */
  private val ivfpqCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
         |  FROM embeddings),
         |cc0 AS (SELECT 0 AS m, vec_id::INT AS k, emb AS cv FROM e WHERE vec_id < $Cells)""".stripMargin)
    for (i <- 1 to CoarseIters) {
      sb.append(
        s""",
           |ca$i AS (SELECT vec_id, k AS code, emb FROM (
           |  SELECT e.vec_id, c.k, e.emb,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${d2D("e.emb", "c.cv", 64)}, c.k) AS rn
           |  FROM e JOIN cc${i - 1} c ON c.m = 0) t WHERE rn = 1),
           |cm$i AS (SELECT 0 AS m, code AS k, i - 1 AS pos,
           |    sum(round(x::DOUBLE * 1048576.0)::BIGINT)::BIGINT / 1048576.0 / count(*) AS c
           |  FROM (SELECT code, unnest(emb) AS x,
           |          unnest(generate_series(1, 64)) AS i FROM ca$i) t
           |  GROUP BY code, i),
           |cg$i AS (SELECT m, k, list(c ORDER BY pos) AS cv FROM cm$i GROUP BY m, k),
           |cc$i AS (SELECT p.m, p.k, coalesce(g.cv, p.cv) AS cv
           |  FROM cc${i - 1} p LEFT JOIN cg$i g ON g.m = p.m AND g.k = p.k)""".stripMargin)
    }
    sb.append(
      s""",
         |asgr AS (SELECT vec_id, cell,
         |    list_transform(generate_series(1, 64), i -> emb[i] - cv[i]) AS res FROM (
         |  SELECT e.vec_id, c.k AS cell, e.emb, c.cv,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2D("e.emb", "c.cv", 64)}, c.k) AS rn
         |  FROM e JOIN cc$CoarseIters c ON c.m = 0) t WHERE rn = 1),
         |ms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
         |svr AS (SELECT vec_id, cell, m, res[m * $Dsub + 1 : m * $Dsub + $Dsub] AS sub
         |  FROM asgr CROSS JOIN ms),
         |pp0 AS (SELECT m, vec_id::INT AS k, sub AS cv FROM svr WHERE vec_id < $K)""".stripMargin)
    for (i <- 1 to PqIters) {
      sb.append(
        s""",
           |pa$i AS (SELECT vec_id, m, k AS code, sub FROM (
           |  SELECT s.vec_id, s.m, c.k, s.sub,
           |    row_number() OVER (PARTITION BY s.vec_id, s.m
           |      ORDER BY ${d2D("s.sub", "c.cv", Dsub)}, c.k) AS rn
           |  FROM svr s JOIN pp${i - 1} c ON c.m = s.m) t WHERE rn = 1),
           |pm$i AS (SELECT m, code AS k, i - 1 AS pos,
           |    sum(round(x::DOUBLE * 1048576.0)::BIGINT)::BIGINT / 1048576.0 / count(*) AS c
           |  FROM (SELECT m, code, unnest(sub) AS x,
           |          unnest(generate_series(1, $Dsub)) AS i FROM pa$i) t
           |  GROUP BY m, code, i),
           |pg$i AS (SELECT m, k, list(c ORDER BY pos) AS cv FROM pm$i GROUP BY m, k),
           |pp$i AS (SELECT p.m, p.k, coalesce(g.cv, p.cv) AS cv
           |  FROM pp${i - 1} p LEFT JOIN pg$i g ON g.m = p.m AND g.k = p.k)""".stripMargin)
    }
    sb.append(
      s""",
         |enc AS (SELECT vec_id, cell, m, k AS code FROM (
         |  SELECT s.vec_id, s.cell, s.m, c.k,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY ${d2D("s.sub", "c.cv", Dsub)}, c.k) AS rn
         |  FROM svr s JOIN pp$PqIters c ON c.m = s.m) t WHERE rn = 1),
         |pcell AS (SELECT probe_id, cell, pres FROM (
         |  SELECT e.vec_id AS probe_id, c.k AS cell,
         |    list_transform(generate_series(1, 64), i -> e.emb[i] - c.cv[i]) AS pres,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2D("e.emb", "c.cv", 64)}, c.k) AS rn
         |  FROM e JOIN cc$CoarseIters c ON c.m = 0 WHERE e.vec_id < $Probes) t
         |  WHERE rn <= $NProbe),
         |pt AS (SELECT s.probe_id, s.cell, s.m, c.k AS code,
         |    round((${d2D("s.sub", "c.cv", Dsub)}) * 1048576.0)::BIGINT AS dq
         |  FROM (SELECT probe_id, cell, m, pres[m * $Dsub + 1 : m * $Dsub + $Dsub] AS sub
         |        FROM pcell CROSS JOIN ms) s
         |  JOIN pp$PqIters c ON c.m = s.m)""".stripMargin)
    sb.toString
  }

  /** The cell-pruned ADC ranking over the shared CTEs. */
  private val searchSelect: String =
    s"""SELECT probe_id, neighbor_id, approx_d2, rank FROM (
       |  SELECT probe_id, neighbor_id, dq_total / 1048576.0 AS approx_d2,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY dq_total, neighbor_id) AS rank
       |  FROM (SELECT pt.probe_id, enc.vec_id AS neighbor_id, sum(pt.dq)::BIGINT AS dq_total
       |        FROM enc JOIN pt ON pt.cell = enc.cell AND pt.m = enc.m AND pt.code = enc.code
       |        WHERE enc.vec_id <> pt.probe_id
       |        GROUP BY pt.probe_id, enc.vec_id) s2) t
       |WHERE rank <= $TopN""".stripMargin

  private val annIvfPqSql: String =
    s"WITH $ivfpqCtes\n$searchSelect ORDER BY probe_id, rank"

  /** IVFPQ index quality as a verified query: recall@5 against the
    * exact brute-force L2 top-5 (the honest baseline for an L2 index —
    * same rationale as [[Pq.annPqRecall]]). With nprobe=2 of 8 cells
    * the index scans ~25% of the corpus; the recall measures what the
    * combined cell-pruning + quantization error actually costs. */
  def annIvfPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = fullVec(spark, sfDir)
    val probes = e.filter(col("vec_id") < Probes)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("neighbor_id"))
    val exact5 = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("d2", expr(d2S.format("emb", "p_emb")))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopN)
      .select("probe_id", "neighbor_id")
    val ivf5 = annIvfPq(spark, sfDir).select("probe_id", "neighbor_id")
    val hits = exact5.join(ivf5, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    exact5.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / TopN.toDouble).as("recall_at_5"))
      .orderBy("probe_id")
  }

  private val annIvfPqRecallSql: String =
    s"""WITH $ivfpqCtes,
       |ivf5 AS ($searchSelect),
       |ex5 AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${d2D("x.emb", "p.emb", 64)}, x.vec_id) AS rank
       |  FROM e x JOIN e p ON p.vec_id < $Probes AND x.vec_id <> p.vec_id) t
       |  WHERE rank <= $TopN),
       |hits AS (SELECT a.probe_id, count(*) AS n_hits
       |  FROM ex5 a JOIN ivf5 b
       |    ON a.probe_id = b.probe_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY a.probe_id)
       |SELECT p.probe_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
       |  coalesce(n_hits, 0)::DOUBLE / $TopN.0 AS recall_at_5
       |FROM (SELECT DISTINCT probe_id FROM ex5) p
       |LEFT JOIN hits ON hits.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq" -> (annIvfPq _),
    "ann_ivfpq_recall" -> (annIvfPqRecall _))

  val oracles: Map[String, String] = Map(
    "ann_ivfpq" -> annIvfPqSql,
    "ann_ivfpq_recall" -> annIvfPqRecallSql)
}
