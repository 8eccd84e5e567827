package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Product quantization ANN (PQ + asymmetric distance computation — the
  * memory-side scale path COMPLEMENTING IVF's partition-side one; the
  * standard construction of Jégou/Douze/Schmid, TPAMI'11, public
  * algorithm):
  *
  *  1. TRAIN — split the 64-dim space into [[M]] 8-dim subspaces and fit
  *     [[K]] centroids per subspace by Lloyd k-means ([[Iters]] rounds;
  *     init = the first K vectors' subvectors, the deterministic
  *     first-k-points seeding). Same distributed shape as
  *     [[Similarity.annIvf]]'s fit: assignment is a map + window-argmin
  *     per (vector, subspace), means are one fixed-point shuffle, only
  *     the M×K×8 centroid doubles ever reach the driver. At 100 TB the
  *     fit runs on a sample; encode/search below are full-corpus
  *     map-side work either way.
  *  2. ENCODE — every vector compresses to M 4-bit codes (its argmin-L2
  *     centroid per subspace): 64 floats → 8 codes, the 64× memory
  *     reduction that lets a billion-vector index live in RAM.
  *  3. SEARCH (ADC) — each probe computes one M×K table of exact
  *     subspace distances to the CENTROIDS (128 doubles per probe,
  *     independent of corpus size), then every corpus vector's
  *     approximate distance is just M table lookups summed — an
  *     equi-join of codes against the probe tables on (subspace, code)
  *     followed by a fixed-point sum; no full-vector arithmetic touches
  *     the corpus at query time.
  *
  * Determinism: subspace distances are strict left folds of
  * (x−y)·(x−y); per-subspace lookups are fixed-pointed
  * (`round(d²·2²⁰)::long`) BEFORE the cross-subspace sum, so the
  * addition is exact integer arithmetic in any order and engine; argmin
  * ties break to the lower code in both engines. The DuckDB oracle
  * recomputes train, encode, and search from scratch and must match
  * hash-exactly. */
object Pq {

  private val M = 8       // subspaces
  private val Dsub = 8    // dims per subspace (M × Dsub = 64)
  private val K = 16      // centroids per subspace (4-bit codes)
  private val Iters = 2   // Lloyd rounds after first-k-points init
  private val Probes = 10
  private val TopN = 5
  private val Shortlist = 50 // ADC candidates re-ranked exactly per probe

  /** Strict-left-fold squared L2 between a sub-vector column and a
    * literal centroid (Spark side). */
  private def d2S(sub: String, cent: Array[Double]): String = {
    val arr = cent.map(d => s"cast('${d.toString}' as double)").mkString("array(", ", ", ")")
    s"vec_l2sq($sub, $arr)"
  }

  /** The same fold, DuckDB side, against the oracle's computed centroid
    * list column. */
  private def d2D(sub: String, cv: String): String =
    s"list_reduce(list_transform(generate_series(1, $Dsub), i -> ($sub[i]::DOUBLE - $cv[i]::DOUBLE) * ($sub[i]::DOUBLE - $cv[i]::DOUBLE)), (x, y) -> x + y)"

  /** (vec_id, m, sub) — every vector exploded into its M subvectors,
    * already double-cast. */
  private def subvecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .select(col("vec_id"), explode(expr(s"sequence(0, ${M - 1})")).as("m"), col("emb"))
      .select(col("vec_id"), col("m"), expr(s"slice(emb, m * $Dsub + 1, $Dsub)").as("sub"))

  /** Trained codebooks, memoized per (session, sfDir) while
    * `embeddings` is unchanged ([[graft.Session.memo]]): the fit is
    * deterministic, so recomputing it per invocation (ann_pq_adc,
    * ann_pq_recall, and the bench's 4 runs of each) is pure waste.
    * Values are plain M×K×8 double arrays — no Spark references. */
  private def pqCentroids(spark: SparkSession, sfDir: String): Map[(Int, Int), Array[Double]] =
    graft.Session.memo(spark, "pqCodebooks", Seq(Tables.path(sfDir, "embeddings")), sfDir) {
      lloydFit(spark, subvecs(spark, sfDir), K, Iters)
    }

  /** Generic per-subspace Lloyd fit over a (vec_id, m, sub) relation;
    * returns (m, k) -> centroid. Init is the first-k-points seeding
    * (vec_id < k), assignment a window-argmin against a small broadcast
    * centroid relation (the join form rather than inlined struct
    * literals), means one fixed-point shuffle per round. Only the
    * centroid doubles reach the driver. Shared by the PQ codebook fit
    * and [[IvfPq]]'s coarse + residual fits. */
  private[operators] def lloydFit(spark: SparkSession, svIn: DataFrame,
                                  k: Int, iters: Int): Map[(Int, Int), Array[Double]] = {
    val sv = svIn.select("vec_id", "m", "sub")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def toMap(rows: Array[org.apache.spark.sql.Row]): Map[(Int, Int), Array[Double]] =
      rows.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (mk, rs) =>
        mk -> rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    // init: the first k vectors' subvectors are the k=vec_id centroids
    var cents = toMap(sv.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("k"),
        posexplode(col("sub")).as(Seq("pos", "x")))
      .select(col("m"), col("k"), col("pos"), col("x"))
      .collect())
    for (_ <- 1 to iters) {
      val centDf = spark.createDataFrame(
        cents.toSeq.map { case ((m, kk), c) => (m, kk, c) }).toDF("m", "k", "cv")
      val w = Window.partitionBy("vec_id", "m").orderBy(col("d2"), col("k"))
      val asg = sv.join(broadcast(centDf), Seq("m"))
        .withColumn("d2", expr(
          s"vec_l2sq(sub, cv)"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("k").as("code"), col("sub"))
      val upd = toMap(asg
        .select(col("m"), col("code").as("k"), posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy("m", "k", "pos")
        .agg(sum(round(col("x") * 1048576.0).cast("long")).as("s"), count(lit(1)).as("n"))
        .select(col("m"), col("k"), col("pos"), (col("s") / 1048576.0 / col("n")).as("c"))
        .collect())
      cents = cents.map { case (mk, old) => mk -> upd.getOrElse(mk, old) }
    }
    sv.unpersist()
    cents
  }

  /** Centroid map → a small (m, k, cv) relation for broadcast joins. */
  private[operators] def centroidDf(spark: SparkSession,
                                    cents: Map[(Int, Int), Array[Double]]): DataFrame =
    spark.createDataFrame(cents.toSeq.map { case ((m, k), c) => (m, k, c) }).toDF("m", "k", "cv")

  /** PQ-ADC top-5 per probe: encode the corpus against the trained
    * codebook, build each probe's subspace distance table, equi-join on
    * (m, code), exact-integer sum, rank. */
  def annPqAdc(spark: SparkSession, sfDir: String): DataFrame =
    adcRanked(spark, sfDir, TopN)
      .select("probe_id", "neighbor_id", "approx_d2", "rank")
      .orderBy("probe_id", "rank")

  private def adcRanked(spark: SparkSession, sfDir: String, limit: Int): DataFrame = {
    val cents = pqCentroids(spark, sfDir)
    // query-scoped persist (consumed by encode AND probe tables);
    // released by the harness between queries — see [[Scratch]]
    val sv = Scratch.persist(subvecs(spark, sfDir))
    // The codebook's key set is data-derived: init takes the first K
    // vec_ids, and a quarantined (NULL/empty-embedding) vector among
    // them leaves its (m, k) slot UNTRAINED — iterate the PRESENT keys,
    // never `0 until K` (the r11 widened nulls gate threw `key not
    // found: (0,8)` on exactly that). The oracle's c0 CTE has the same
    // data-derived key set, so both sides encode against identical
    // centroid sets; on clean fixtures all K slots exist.
    def ksFor(m: Int): Seq[Int] =
      cents.keysIterator.collect { case (mm, k) if mm == m => k }.toSeq.sorted
    // encode: per (vec, m) the argmin-L2 code, via one inlined
    // struct-array min over the trained centroid literals (map-side, no join)
    def codeExpr(m: Int): String =
      ksFor(m).map { k =>
        s"struct(${d2S("sub", cents((m, k)))} as d2, $k as k)"
      }.mkString("array_min(array(", ", ", ")).k")
    val codeBranches = (0 until M).map(m => s"WHEN m = $m THEN (${codeExpr(m)})")
      .mkString("CASE ", " ", " END")
    val codes = sv.select(col("vec_id"), col("m"), expr(codeBranches).cast("int").as("code"))
    // probe tables: fixed-point subspace distance to EVERY trained (m, k)
    def tableExpr(m: Int): String =
      ksFor(m).map { k =>
        s"struct($k as k, cast(round(${d2S("sub", cents((m, k)))} * 1048576.0) as bigint) as dq)"
      }.mkString("array(", ", ", ")")
    val tableBranches = (0 until M).map(m => s"WHEN m = $m THEN (${tableExpr(m)})")
      .mkString("CASE ", " ", " END")
    val ptab = sv.filter(col("vec_id") < Probes)
      .select(col("vec_id").as("probe_id"), col("m"), explode(expr(tableBranches)).as("e"))
      .select(col("probe_id"), col("m"), col("e.k").as("code"), col("e.dq").as("dq"))
    val w = Window.partitionBy("probe_id").orderBy(col("dq_total"), col("neighbor_id"))
    // ptab is Probes×M×K rows BY CONSTRUCTION — broadcast it explicitly
    // so the corpus codes never shuffle (and are never the build side,
    // which fixture-scale stats would otherwise pick).
    codes.join(broadcast(ptab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dq")).as("dq_total"))
      .withColumn("approx_d2", col("dq_total") / 1048576.0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= limit)
  }

  /** Shared oracle CTE chain: subvectors → init → Lloyd rounds →
    * encode → probe tables. */
  private val pqCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""sv AS (
         |  SELECT vec_id, m, embedding[m * $Dsub + 1 : m * $Dsub + $Dsub] AS sub
         |  FROM embeddings e CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS m) ms),
         |c0 AS (SELECT m, vec_id::INT AS k, list_transform(sub, x -> x::DOUBLE) AS cv
         |  FROM sv WHERE vec_id < $K)""".stripMargin)
    for (i <- 1 to Iters) {
      val prev = s"c${i - 1}"
      sb.append(
        s""",
           |a$i AS (SELECT vec_id, m, k AS code, sub FROM (
           |  SELECT sv.vec_id, sv.m, c.k, sv.sub,
           |    row_number() OVER (PARTITION BY sv.vec_id, sv.m
           |      ORDER BY ${d2D("sv.sub", "c.cv")}, c.k) AS rn
           |  FROM sv JOIN $prev c ON c.m = sv.m) t WHERE rn = 1),
           |m$i AS (SELECT m, code AS k, i - 1 AS pos,
           |    sum(round(x::DOUBLE * 1048576.0)::BIGINT)::BIGINT / 1048576.0 / count(*) AS c
           |  FROM (SELECT m, code, unnest(sub) AS x,
           |          unnest(generate_series(1, $Dsub)) AS i FROM a$i) t
           |  GROUP BY m, code, i),
           |g$i AS (SELECT m, k, list(c ORDER BY pos) AS cv FROM m$i GROUP BY m, k),
           |c$i AS (SELECT p.m, p.k, coalesce(g.cv, p.cv) AS cv
           |  FROM c${i - 1} p LEFT JOIN g$i g ON g.m = p.m AND g.k = p.k)""".stripMargin)
    }
    sb.append(
      s""",
         |enc AS (SELECT vec_id, m, k AS code FROM (
         |  SELECT sv.vec_id, sv.m, c.k,
         |    row_number() OVER (PARTITION BY sv.vec_id, sv.m
         |      ORDER BY ${d2D("sv.sub", "c.cv")}, c.k) AS rn
         |  FROM sv JOIN c$Iters c ON c.m = sv.m) t WHERE rn = 1),
         |pt AS (SELECT sv.vec_id AS probe_id, sv.m, c.k AS code,
         |    round((${d2D("sv.sub", "c.cv")}) * 1048576.0)::BIGINT AS dq
         |  FROM sv JOIN c$Iters c ON c.m = sv.m WHERE sv.vec_id < $Probes)""".stripMargin)
    sb.toString
  }

  /** The ADC ranking over the shared CTEs (no trailing ORDER BY so it
    * can embed as a CTE itself). */
  private def adcSelect(limit: Int): String =
    s"""SELECT probe_id, neighbor_id, approx_d2, rank FROM (
       |  SELECT probe_id, neighbor_id, dq_total / 1048576.0 AS approx_d2,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY dq_total, neighbor_id) AS rank
       |  FROM (SELECT pt.probe_id, enc.vec_id AS neighbor_id, sum(pt.dq)::BIGINT AS dq_total
       |        FROM enc JOIN pt ON pt.m = enc.m AND pt.code = enc.code
       |        WHERE enc.vec_id <> pt.probe_id
       |        GROUP BY pt.probe_id, enc.vec_id) s) t
       |WHERE rank <= $limit""".stripMargin

  /** DuckDB strict-fold squared L2 between full e/p embedding rows. */
  private val d2Full: String =
    "list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> " +
      "(e.embedding[i]::DOUBLE - p.embedding[i]::DOUBLE) * (e.embedding[i]::DOUBLE - p.embedding[i]::DOUBLE)), (x, y) -> x + y)"

  /** Oracle: recompute subvectors → init → Lloyd rounds → encode →
    * probe tables → ADC sum, all in one statement. */
  private val annPqAdcSql: String =
    s"WITH $pqCtes\n${adcSelect(TopN)} ORDER BY probe_id, rank"

  /** ADC shortlist → exact re-rank (the production PQ pattern — FAISS's
    * IndexRefine): the quantized ranking generates [[Shortlist]]
    * candidates per probe, then ONLY those rows join back to their full
    * vectors (equi-join on vec_id) for an exact-L2 re-rank to top-5.
    * Per probe the exact work drops from O(corpus) to O(Shortlist);
    * recall recovery is measured by ann_pq_recall. */
  def annPqRerank(spark: SparkSession, sfDir: String): DataFrame =
    rerankShortlist(spark, sfDir,
      adcRanked(spark, sfDir, Shortlist).select("probe_id", "neighbor_id"))

  /** The exact-L2 re-rank of a given (probe_id, neighbor_id) shortlist —
    * extracted from [[annPqRerank]] so [[annPqRecall]] can feed it the
    * SHARED ADC ranking instead of rebuilding the whole encode+ADC
    * subtree a second time (r14 optimization round). */
  private def rerankShortlist(spark: SparkSession, sfDir: String,
                              shortlist: DataFrame): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val probes = e.filter(col("vec_id") < Probes)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("neighbor_id"))
    // the shortlist is Probes×Shortlist rows by construction — broadcast
    // so the corpus side streams map-side through both joins
    broadcast(shortlist)
      .join(e.select(col("vec_id").as("neighbor_id"), col("emb")), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("d2", expr(
        "vec_l2sq(emb, p_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopN)
      .select("probe_id", "neighbor_id", "d2", "rank")
      .orderBy("probe_id", "rank")
  }

  private val annPqRerankSql: String =
    s"""WITH $pqCtes,
       |sl AS (${adcSelect(Shortlist)})
       |SELECT probe_id, neighbor_id, d2, rank FROM (
       |  SELECT sl.probe_id, sl.neighbor_id, $d2Full AS d2,
       |    row_number() OVER (PARTITION BY sl.probe_id
       |      ORDER BY $d2Full, sl.neighbor_id) AS rank
       |  FROM sl JOIN embeddings e ON e.vec_id = sl.neighbor_id
       |          JOIN embeddings p ON p.vec_id = sl.probe_id) t
       |WHERE rank <= $TopN ORDER BY probe_id, rank""".stripMargin

  /** PQ index QUALITY as a first-class verified query (the ann_recall
    * pattern): recall@5 of BOTH the raw ADC ranking and the re-ranked
    * shortlist against the exact brute-force L2 top-5 — one artifact
    * showing what quantization costs and what re-ranking buys back. PQ
    * approximates SQUARED-L2 distance, so the honest baseline is exact
    * L2 — not [[Similarity.annTopkExact]]'s cosine, which would
    * conflate metric mismatch with quantization error. The exact side
    * is the same bounded probe-broadcast nested-loop as ann_topk_exact
    * (whitelisted in the plan guard); everything else is equi-joins on
    * bounded per-probe result sets. */
  def annPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val probes = e.select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      .filter(col("probe_id") < Probes)
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("neighbor_id"))
    // SHARED SUBTREES (r14 optimization round): the exact top-5 feeds
    // THREE consumers (both hit joins + the probe spine) and the ADC
    // ranking feeds TWO (the raw-ADC hits and the re-rank shortlist —
    // adcRanked(TopN) is by construction the rank ≤ TopN prefix of
    // adcRanked(Shortlist), identical ordering). Materializing each once
    // replaces three exact corpus scans + two full encode+ADC subtrees
    // with one of each; eager per the Scratch.materialize race note.
    // coalesce(1) before the persist (r15): both relations are
    // CONSTRUCTION-BOUNDED — Probes×TopN = 50 and Probes×Shortlist =
    // 500 rows at any corpus size — but inherit the session shuffle
    // partitioning from their window exchange, so every one of the ~10
    // downstream consumer stages launched 32 near-empty tasks (StageProf:
    // p50 ~50 ms/task wall at ~5 ms CPU — pure scheduling). One cached
    // partition makes each consumer a single task; the upstream window
    // still computes at full width below the exchange.
    val exact5 = Scratch.persist(
      e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("d2", expr(
          "vec_l2sq(emb, p_emb)"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("d2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopN)
        .select("probe_id", "neighbor_id")
        .coalesce(1))
    val short = Scratch.persist(
      adcRanked(spark, sfDir, Shortlist).select("probe_id", "neighbor_id", "rank")
        .coalesce(1))
    // ONE hit join instead of two (r15): tag the ADC top-5 and the
    // re-ranked top-5 with a `kind` bit, union them, inner-join the
    // exact top-5 once, and pivot the per-kind counts in one aggregate.
    // Equivalent to the former two left_semi+count chains: within a
    // kind the (probe, neighbor) pairs are rank-distinct, so the inner
    // join counts exactly the semi-join matches. Halves the assembly's
    // serial AQE stage chain — at the 500-row fixture this query's wall
    // is driver round-trips over near-empty stages, not data.
    val approx = short.filter(col("rank") <= TopN)
      .select(col("probe_id"), col("neighbor_id"), lit(0).as("kind"))
      .unionAll(rerankShortlist(spark, sfDir, short.select("probe_id", "neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("kind")))
    val hits = exact5.join(approx, Seq("probe_id", "neighbor_id"))
      .groupBy("probe_id")
      .agg(sum(when(col("kind") === 0, 1L).otherwise(0L)).as("h_adc"),
        sum(when(col("kind") === 1, 1L).otherwise(0L)).as("h_rr"))
    exact5.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("h_adc"), lit(0L)).as("n_hits_adc"),
        (coalesce(col("h_adc"), lit(0L)).cast("double") / TopN.toDouble).as("recall_adc"),
        coalesce(col("h_rr"), lit(0L)).as("n_hits_rerank"),
        (coalesce(col("h_rr"), lit(0L)).cast("double") / TopN.toDouble).as("recall_rerank"))
      .orderBy("probe_id")
  }

  private val annPqRecallSql: String =
    s"""WITH $pqCtes,
       |pq5 AS (${adcSelect(TopN)}),
       |sl AS (${adcSelect(Shortlist)}),
       |rr5 AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT sl.probe_id, sl.neighbor_id,
       |    row_number() OVER (PARTITION BY sl.probe_id
       |      ORDER BY $d2Full, sl.neighbor_id) AS rank
       |  FROM sl JOIN embeddings e ON e.vec_id = sl.neighbor_id
       |          JOIN embeddings p ON p.vec_id = sl.probe_id) t
       |  WHERE rank <= $TopN),
       |ex5 AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.vec_id ORDER BY $d2Full, e.vec_id) AS rank
       |  FROM embeddings e JOIN embeddings p
       |    ON p.vec_id < $Probes AND e.vec_id <> p.vec_id) t
       |  WHERE rank <= $TopN),
       |h_adc AS (SELECT a.probe_id, count(*) AS n FROM ex5 a JOIN pq5 b
       |  ON a.probe_id = b.probe_id AND a.neighbor_id = b.neighbor_id GROUP BY a.probe_id),
       |h_rr AS (SELECT a.probe_id, count(*) AS n FROM ex5 a JOIN rr5 b
       |  ON a.probe_id = b.probe_id AND a.neighbor_id = b.neighbor_id GROUP BY a.probe_id)
       |SELECT p.probe_id,
       |  coalesce(h_adc.n, 0)::BIGINT AS n_hits_adc,
       |  coalesce(h_adc.n, 0)::DOUBLE / $TopN.0 AS recall_adc,
       |  coalesce(h_rr.n, 0)::BIGINT AS n_hits_rerank,
       |  coalesce(h_rr.n, 0)::DOUBLE / $TopN.0 AS recall_rerank
       |FROM (SELECT DISTINCT probe_id FROM ex5) p
       |LEFT JOIN h_adc ON h_adc.probe_id = p.probe_id
       |LEFT JOIN h_rr ON h_rr.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq_adc" -> (annPqAdc _),
    "ann_pq_rerank" -> (annPqRerank _),
    "ann_pq_recall" -> (annPqRecall _))

  val oracles: Map[String, String] = Map(
    "ann_pq_adc" -> annPqAdcSql,
    "ann_pq_rerank" -> annPqRerankSql,
    "ann_pq_recall" -> annPqRecallSql)
}
