package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.sources.Tables

/** Corpus-curation operators — the composition layer a training-data
  * pipeline runs on top of the per-signal operators (north-star
  * extension surface):
  *
  *  - [[dcContamination]]: benchmark decontamination. Flag corpus
  *    documents sharing word-shingles with a benchmark/eval set — the
  *    standard pre-training hygiene step (n-gram overlap against held-
  *    out benchmarks). The benchmark side is FIXED-SIZE, so the shingle
  *    equi-join broadcasts it and the corpus streams through map-side:
  *    at 100 TB the corpus is scanned once, nothing corpus-sized
  *    shuffles.
  *  - [[pipeCuration]]: the composed keep/drop ledger — language gate
  *    (ta_lang_id), quality gate (ta_quality), and near-dup keep-list
  *    (dd_cluster's connected components over MinHash-LSH pairs) joined
  *    into one verdict per document. This is the query a user of the
  *    reference's stack would actually run nightly; every constituent
  *    signal is already oracle-verified on its own, and the composition
  *    is hash-verified end-to-end (the oracle recomputes lang + quality
  *    + the recursive-CTE components in one statement).
  */
object Curation {

  /** Benchmark = the first [[BenchDocs]] doc_ids (stand-in for an eval
    * set); flag corpus docs sharing >= [[MinShared]] distinct shingles. */
  private val BenchDocs = 10L
  private val MinShared = 3L

  def dcContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Text.shingled(spark, sfDir)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val bench = sh.filter(col("doc_id") < BenchDocs)
      .select(col("doc_id").as("bench_id"), col("g"))
    val corpus = sh.filter(col("doc_id") >= BenchDocs)
    corpus.join(broadcast(bench), Seq("g"))
      .groupBy("doc_id", "bench_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("doc_id", "bench_id")
  }

  private val dcContaminationSql: String =
    s"""WITH ${Text.shingleCteSql},
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh)
       |SELECT c.doc_id, b.doc_id AS bench_id, count(DISTINCT c.g)::BIGINT AS n_shared
       |FROM ex c JOIN ex b ON c.g = b.g AND b.doc_id < $BenchDocs AND c.doc_id >= $BenchDocs
       |GROUP BY c.doc_id, b.doc_id
       |HAVING count(DISTINCT c.g) >= $MinShared
       |ORDER BY c.doc_id, bench_id""".stripMargin

  /** kept = English AND quality >= threshold AND not a near-duplicate
    * (dedup keep-list). Emits the full per-document ledger so every
    * gate's verdict is hash-pinned, not just the survivor count. */
  private val QualityMin = 0.25

  def pipeCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val lang = TextAnalysis.taLangId(spark, sfDir).select(col("doc_id"), col("pred_lang"))
    val qual = TextAnalysis.taQuality(spark, sfDir).select(col("doc_id"), col("quality_score"))
    // near-dup deletions: cluster members that are not the representative
    val del = Dedup.ddCluster(spark, sfDir)
      .filter(!col("keep")).select(col("doc_id"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(lang, "doc_id")
      .join(qual, "doc_id")
      .join(del.withColumn("dup", lit(true)), Seq("doc_id"), "left")
      .withColumn("dedup_keep", col("dup").isNull).drop("dup")
      .withColumn("kept",
        col("dedup_keep") && col("pred_lang") === "en" && col("quality_score") >= QualityMin)
      .select("doc_id", "pred_lang", "quality_score", "dedup_keep", "kept")
      .orderBy("doc_id")
  }

  private val pipeCurationSql: String = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |dele AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_rep),
       |lang AS (SELECT doc_id,
       |  CASE WHEN s_de > greatest(s_en, s_fr, s_es) THEN 'de'
       |       WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
       |       WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
       |       WHEN s_en >= 1 THEN 'en' ELSE 'und' END AS pred_lang
       |  FROM (SELECT doc_id,
       |      len(list_filter(w, t -> t IN ('the', 'a', 'of')))::BIGINT AS s_en,
       |      len(list_filter(w, t -> t IN ('der', 'die', 'das', 'und')))::BIGINT AS s_de,
       |      len(list_filter(w, t -> t IN ('le', 'la', 'les', 'et')))::BIGINT AS s_fr,
       |      len(list_filter(w, t -> t IN ('el', 'los', 'las', 'y')))::BIGINT AS s_es
       |    FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) t) s),
       |qual AS (SELECT doc_id,
       |  least(1.0, len(w)::DOUBLE / 200.0) *
       |    (1.0 - len(list_filter(w, t -> t IN ($inStops)))::DOUBLE / len(w)) AS quality_score
       |  FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) t)
       |SELECT d.doc_id, lang.pred_lang, qual.quality_score,
       |  d.doc_id NOT IN (SELECT doc_id FROM dele) AS dedup_keep,
       |  (d.doc_id NOT IN (SELECT doc_id FROM dele)
       |    AND lang.pred_lang = 'en' AND qual.quality_score >= $QualityMin) AS kept
       |FROM documents d
       |JOIN lang ON lang.doc_id = d.doc_id
       |JOIN qual ON qual.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Fuzzy (edit-distance <= 1) self-join on customer name — entity
    * resolution for near-identical keys, the string analogue of the
    * LSH dedups. Candidate generation is SYMMETRIC DELETION (the
    * SymSpell construction, public algorithm): every name emits itself
    * plus each single-character deletion; two strings within one edit
    * share at least one variant, so candidates come from an equi-join
    * on the variant string and the exact `levenshtein` check runs only
    * on bucket-mates — never all pairs. At 100 TB: per-row fan-out is
    * O(len), the join shuffles on the variant hash, and bucket sizes
    * are bounded by alphabet structure, not corpus size (the oracle is
    * the naive quadratic θ-join, which is what it replaces). */
  def opFuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // Tables.spread (r14): the single-file fixture pinned the variant
    // explode (the query's whole map-side cost — StageProf: one 2.4 s
    // task of a 4.1 s wall) to one core
    val c = Tables.spread(spark,
      Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name")),
      col("c_custkey"))
    val variants = c.select(col("c_custkey"), col("c_name"),
      explode(expr(
        """array_union(array(c_name),
          |  transform(sequence(1, length(c_name)),
          |    i -> concat(substring(c_name, 1, i - 1),
          |                substring(c_name, i + 1, length(c_name)))))""".stripMargin)).as("v"))
    val a = variants.select(col("c_custkey").as("cust_a"), col("c_name").as("name_a"), col("v"))
    val b = variants.select(col("c_custkey").as("cust_b"), col("c_name").as("name_b"), col("v"))
    a.join(b, Seq("v"))
      .filter(col("cust_a") < col("cust_b"))
      .select("cust_a", "cust_b", "name_a", "name_b").distinct()
      // threshold form early-exits the DP at distance > 1 (returns -1):
      // O(k·len) per candidate instead of O(len²)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
      .filter(col("dist") >= 0)
      .select("cust_a", "cust_b", "dist")
      .orderBy("cust_a", "cust_b")
  }

  private val opFuzzyJoinSql: String =
    """SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
      |  levenshtein(a.c_name, b.c_name)::BIGINT AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY cust_a, cust_b""".stripMargin

  /** Deterministic domain-mixture resampling — the "mix web : books :
    * code at target proportions" step every pretraining corpus build
    * runs. Each source gets a target weight (here derived from the
    * source id so the fixture exercises non-uniform targets); the
    * binding source saturates (rate 1.0) and every other source is
    * down-sampled so the kept set matches the target mixture.
    * Membership is content-addressed (md5-hash thresholding, the same
    * reproducible-sampling form as `op_sample_stratified`), so the
    * oracle pins exactly WHICH documents survive, not just how many.
    *
    * Scale shape: two corpus passes — a per-source count aggregate
    * (map-side combinable into |sources| rows) to derive the rates,
    * then the membership pass filtering map-side against the broadcast
    * rates relation into the per-source summary. No corpus-sized
    * shuffle, no nested-loop scalar joins; the windowed rate derivation
    * runs on the tiny counts relation only. */
  def pipeMixture(spark: SparkSession, sfDir: String): DataFrame = {
    // whole-relation window over the tiny per-source counts relation
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val d = Tables.documents(spark, sfDir)
      .withColumn("w", (expr("cast(substr(source, 4) as int)") % 4 + 1).cast("double"))
    val counts = d.groupBy("source", "w").agg(count(lit(1)).as("n_docs"))
    val rates = counts
      .withColumn("p", col("w") / sum(col("w")).over(all))
      .withColumn("quota", col("n_docs") / col("p"))
      .withColumn("rate",
        least(lit(1.0), min(col("quota")).over(all) * col("p") / col("n_docs")))
      .select("source", "n_docs", "w", "rate")
    val u = Text.hash60SparkSql("concat('mix:', cast(doc_id as string))")
    d.select("doc_id", "source")
      .join(rates, Seq("source")) // 20-row side: AQE broadcasts it
      .filter(expr(s"$u % 1000000") < col("rate") * 1000000)
      .groupBy("source", "n_docs", "w", "rate")
      .agg(count(lit(1)).as("n_kept"),
        sum(expr("doc_id % 1000000007")).as("member_check"))
      .orderBy("source")
  }

  private val pipeMixtureSql: String = {
    val u = Text.hash60DuckSql("'mix:' || doc_id::VARCHAR")
    s"""WITH d AS (SELECT doc_id, source,
       |    (substr(source, 4)::INT % 4 + 1)::DOUBLE AS w FROM documents),
       |counts AS (SELECT source, w, count(*) AS n_docs FROM d GROUP BY 1, 2),
       |r0 AS (SELECT source, w, n_docs, w / sum(w) OVER () AS p FROM counts),
       |r1 AS (SELECT source, w, n_docs, p, n_docs / p AS quota FROM r0),
       |rates AS (SELECT source, w, n_docs,
       |    least(1.0, min(quota) OVER () * p / n_docs) AS rate FROM r1)
       |SELECT d.source, r.n_docs::BIGINT AS n_docs, r.w, r.rate,
       |  count(*)::BIGINT AS n_kept,
       |  sum(d.doc_id % 1000000007)::BIGINT AS member_check
       |FROM d JOIN rates r ON d.source = r.source
       |WHERE ($u) % 1000000 < r.rate * 1000000
       |GROUP BY d.source, r.n_docs, r.w, r.rate
       |ORDER BY d.source""".stripMargin
  }

  /** PII redaction. The fixture text is synthetic word soup with no PII,
    * so the op first ENRICHES each document with deterministic synthetic
    * PII derived from doc_id (an email, a phone fragment, an IPv4 —
    * mirrored exactly in the oracle), then scrubs with sequential
    * regexp_replace passes and reports per-class match counts plus an
    * md5 of the scrubbed text and a residual-match count (must be 0).
    * Patterns stay in the Java∩RE2 common syntax so Spark and DuckDB
    * regex engines agree.
    *
    * Shape at scale: pure per-row projection — one scan, zero shuffles,
    * all inside WholeStageCodegen; the orderBy exists only for the
    * deterministic oracle compare. */
  def cuPiiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val emailPat = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
    val phonePat = "[0-9]{3}-[0-9]{4}"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    // Tables.spread (r14): 7 regex passes per row ran on the fixture's
    // one scan split
    Tables.spread(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("enriched", concat(
        col("text"), lit(" contact u"), col("doc_id"), lit("@mail.example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") / 256).cast("long") % 256).cast("string")))
      // function API with lit() patterns, NOT expr(): an expr() string
      // passes through the SQL parser, whose string-literal escaping
      // strips the regex backslashes (the Scala regexp_replace below
      // takes the pattern verbatim, so the two would disagree)
      .withColumn("n_emails", regexp_count(col("enriched"), lit(emailPat)).cast("long"))
      .withColumn("n_phones", regexp_count(col("enriched"), lit(phonePat)).cast("long"))
      .withColumn("n_ips", regexp_count(col("enriched"), lit(ipPat)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("enriched"), emailPat, "<EMAIL>"),
            ipPat, "<IP>"),
          phonePat, "<PHONE>"))
      .withColumn("residual_pii",
        (regexp_count(col("scrubbed"), lit(emailPat)) +
          regexp_count(col("scrubbed"), lit(phonePat)) +
          regexp_count(col("scrubbed"), lit(ipPat))).cast("long"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("scrubbed")).as("scrubbed_md5"), col("residual_pii"))
      .orderBy("doc_id")
  }

  private val cuPiiScrubSql: String = {
    val emailPat = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
    val phonePat = "[0-9]{3}-[0-9]{4}"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    s"""WITH e AS (SELECT doc_id,
       |    text || ' contact u' || doc_id || '@mail.example.com or 555-' ||
       |    lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
       |    ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' ||
       |    ((doc_id // 256) % 256)::VARCHAR AS enriched
       |  FROM documents),
       |s AS (SELECT doc_id, enriched,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(enriched, '$emailPat', '<EMAIL>', 'g'),
       |        '$ipPat', '<IP>', 'g'),
       |      '$phonePat', '<PHONE>', 'g') AS scrubbed
       |  FROM e)
       |SELECT doc_id,
       |  len(regexp_extract_all(enriched, '$emailPat'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(enriched, '$phonePat'))::BIGINT AS n_phones,
       |  len(regexp_extract_all(enriched, '$ipPat'))::BIGINT AS n_ips,
       |  md5(scrubbed) AS scrubbed_md5,
       |  (len(regexp_extract_all(scrubbed, '$emailPat')) +
       |   len(regexp_extract_all(scrubbed, '$phonePat')) +
       |   len(regexp_extract_all(scrubbed, '$ipPat')))::BIGINT AS residual_pii
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Span-level exact deduplication — the paragraph-dedup step of a
    * pretraining pipeline (the fixture text has no newlines, so the
    * "paragraph" unit is a fixed 8-token span; the machinery is
    * identical: split → hash → group → keep-first). Emits one row per
    * DUPLICATED span: copy counts, how many distinct docs share it, and
    * the canonical keeper (first (doc_id, idx) in order) every other
    * occurrence would be dropped in favor of.
    *
    * Shape at scale: span construction is a per-row projection; the one
    * shuffle is the groupBy on the span hash (high cardinality, partial
    * agg applies); the keeper is a deterministic conditional max over a
    * per-hash row_number window on the same key — no second shuffle
    * (window and groupBy share the hash partitioning). */
  def ddSpanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val Span = 8
    val spans = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(toks) - 1) div $Span), i -> array_join(slice(toks, i * $Span + 1, $Span), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("idx"), md5(col("col")).as("span_md5"))
    val w = Window.partitionBy("span_md5").orderBy("doc_id", "idx")
    spans.withColumn("rn", row_number().over(w))
      .groupBy(col("span_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(when(col("rn") === 1, col("doc_id"))).as("keeper_doc"),
        max(when(col("rn") === 1, col("idx"))).as("keeper_idx"))
      .filter(col("n_copies") > 1)
      .orderBy(col("n_copies").desc, col("span_md5"))
  }

  private val ddSpanDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |sp AS (SELECT doc_id, i::BIGINT AS idx,
      |    md5(array_to_string(w[(i * 8 + 1):((i + 1) * 8)], ' ')) AS span_md5
      |  FROM t, generate_series(0, 10000) g(i) WHERE i * 8 < len(w)),
      |r AS (SELECT doc_id, idx, span_md5,
      |    row_number() OVER (PARTITION BY span_md5 ORDER BY doc_id, idx) AS rn
      |  FROM sp)
      |SELECT span_md5, count(*) AS n_copies,
      |  count(DISTINCT doc_id) AS n_docs,
      |  max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc,
      |  max(CASE WHEN rn = 1 THEN idx END) AS keeper_idx
      |FROM r GROUP BY span_md5 HAVING count(*) > 1
      |ORDER BY n_copies DESC, span_md5""".stripMargin

  /** MERGE INTO emulation (upsert): apply a change batch — updates to
    * existing keys plus inserts of new keys, both derived
    * deterministically from the orders snapshot — via ONE full outer
    * equi-join on the key with per-column coalesce(source, target),
    * the relational core of Delta/Iceberg MERGE. Emits a one-row audit
    * summary (target/source/updated/inserted/result counts and the
    * exact post-merge total) rather than the merged table, so the
    * oracle compare stays O(1). Where the transactional variant of this
    * lives: [[graft.streaming.DeltaLog.merge]] gives the same upsert a
    * commit protocol (pipe_scd2_delta).
    *
    * Shape at scale: one shuffle per side on the join key (or fewer if
    * the snapshot is bucketed), then partial-aggregated counts; the
    * change batch is usually << snapshot and AQE broadcasts it. */
  def opUpsertMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val target = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("t_key"), col("o_totalprice").as("t_price"))
    val src = Tables.orders(spark, sfDir)
    val updates = src.filter(col("o_orderkey") % 40 === 0)
      .select(col("o_orderkey").as("s_key"), (col("o_totalprice") + lit(100.0)).as("s_price"))
    val inserts = src.filter(col("o_orderkey") % 100 === 0)
      .select((col("o_orderkey") + lit(10000000L)).as("s_key"), col("o_totalprice").as("s_price"))
    val merged = target.join(updates.unionAll(inserts),
        col("t_key") === col("s_key"), "full_outer")
      .select(coalesce(col("t_key"), col("s_key")).as("key"),
        coalesce(col("s_price"), col("t_price")).as("price"),
        col("t_key"), col("s_key"))
    merged.agg(
      count(col("t_key")).as("n_target"),
      count(col("s_key")).as("n_source"),
      count(when(col("t_key").isNotNull && col("s_key").isNotNull, lit(1))).as("n_updated"),
      count(when(col("t_key").isNull, lit(1))).as("n_inserted"),
      count(lit(1)).as("n_result"),
      graft.functions.Exact.exactSum(col("price"), 2).as("total_price"))
  }

  private val opUpsertMergeSql: String =
    s"""WITH target AS (SELECT o_orderkey AS t_key, o_totalprice AS t_price FROM orders),
       |changes AS (
       |  SELECT o_orderkey AS s_key, o_totalprice + 100.0 AS s_price
       |  FROM orders WHERE o_orderkey % 40 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 10000000 AS s_key, o_totalprice AS s_price
       |  FROM orders WHERE o_orderkey % 100 = 0),
       |m AS (SELECT t_key, s_key, coalesce(s_price, t_price) AS price
       |      FROM target FULL OUTER JOIN changes ON t_key = s_key)
       |SELECT count(t_key) AS n_target, count(s_key) AS n_source,
       |  count(CASE WHEN t_key IS NOT NULL AND s_key IS NOT NULL THEN 1 END) AS n_updated,
       |  count(CASE WHEN t_key IS NULL THEN 1 END) AS n_inserted,
       |  count(*) AS n_result,
       |  ${graft.functions.Exact.sqlSum("price", 2)} AS total_price
       |FROM m""".stripMargin

  /** Hashed-feature bucket count for [[cuDsirWeights]] — small enough
    * to broadcast anywhere, large enough that en/non-en token mass
    * separates; a real deployment sizes this like any feature-hashing
    * dimension (10k–1M) and the plan shape is unchanged. */
  private val DsirBuckets = 256

  /** SOFT deduplication: instead of dropping duplicates, every document
    * gets sampling weight 1/n_copies of its exact-content cluster (the
    * "count once in expectation" policy — repeated documents contribute
    * one effective copy to training without a hard keep/drop edge).
    * One window count over the content key — the same single shuffle
    * as [[Dedup.ddExact]] — and one exact IEEE division per row. */
  def cuDedupSoft(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("content_key")
    Tables.documents(spark, sfDir)
      .withColumn("content_key", md5(col("text")))
      .withColumn("n_copies", count(lit(1)).over(w).cast("long"))
      .withColumn("weight", lit(1.0) / col("n_copies"))
      .select("doc_id", "content_key", "n_copies", "weight")
      .orderBy("doc_id")
  }

  private val cuDedupSoftSql: String =
    """SELECT doc_id, md5(text) AS content_key,
      |  count(*) OVER (PARTITION BY md5(text))::BIGINT AS n_copies,
      |  1.0 / count(*) OVER (PARTITION BY md5(text)) AS weight
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every raw
    * document by how much its hashed-token distribution looks like a
    * TARGET domain (here lang='en'). Token features hash into
    * [[DsirBuckets]] buckets; each bucket's smoothed frequency ratio
    * (n_target+1)/(n_raw+1) is ONE exact division; a document's weight
    * is the product of its tokens' bucket ratios, folded in SORTED
    * bucket order as a strict left fold seeded at 1.0 — the same
    * fixed-operation-sequence argument as the cosine fold in
    * [[Similarity]], so the doubles match DuckDB bit for bit (no
    * libm log/exp — DSIR's log-space sum is a monotone transform of
    * this product).
    *
    * Shape at scale: the bucket table is [[DsirBuckets]] rows —
    * broadcast — so scoring is token explode → map-side join → one
    * doc-keyed aggregation; the corpus shuffles once on doc_id. */
  def cuDsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    // Tables.spread + persist (r14): the tokenize/explode/md5 relation
    // ran on the fixture's one scan split AND is consumed twice (bucket
    // ratios + the per-doc join)
    val toks = Scratch.persist(
      Tables.spread(spark, Tables.documents(spark, sfDir), col("doc_id"))
        .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .withColumn("bucket", expr(s"${Text.hash60SparkSql("tok")} % $DsirBuckets")))
    val ratios = toks.groupBy("bucket").agg(
        count(lit(1)).as("n_raw"),
        count(when(col("lang") === "en", lit(1))).as("n_target"))
      .withColumn("ratio",
        (col("n_target") + lit(1L)).cast("double") / (col("n_raw") + lit(1L)))
      .select("bucket", "ratio")
    toks.join(broadcast(ratios), "bucket")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_toks"),
        sort_array(collect_list(struct(col("bucket"), col("ratio")))).as("rs"))
      .withColumn("weight",
        expr("aggregate(rs, cast(1.0 as double), (acc, r) -> acc * r.ratio)"))
      .select("doc_id", "n_toks", "weight")
      .orderBy("doc_id")
  }

  private val cuDsirWeightsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |b AS (SELECT doc_id, lang, ${Text.hash60DuckSql("tok")} % $DsirBuckets AS bucket
       |      FROM toks),
       |r AS (SELECT bucket,
       |    (count(CASE WHEN lang = 'en' THEN 1 END) + 1)::DOUBLE
       |      / (count(*) + 1) AS ratio
       |  FROM b GROUP BY bucket),
       |perdoc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_toks,
       |    list(r.ratio ORDER BY b.bucket, r.ratio) AS rs
       |  FROM b JOIN r ON r.bucket = b.bucket GROUP BY doc_id)
       |SELECT doc_id, n_toks,
       |  list_reduce(rs, (x, y) -> x * y) AS weight
       |FROM perdoc ORDER BY doc_id""".stripMargin

  /** Shard/order assignment for the deterministic corpus shuffle:
    * `shard = h('shard:'||doc_id) % nShards` and an independent 60-bit
    * order key `ord = h('ord:'||doc_id)`. Both are pure functions of
    * doc_id — the permutation is stable across runs, cluster sizes, and
    * partition counts (unlike `rand()` or `repartition().mapPartitions`
    * order, which change under retry/re-plan). The write path is
    * `repartition(n, shard).sortWithinPartitions(shard, ord)` — ONE
    * shuffle moves each document to its shard, and the within-file
    * order IS the training read order (CurationSpec drives the actual
    * parquet write and re-reads per-file). */
  def shardAssign(docs: DataFrame, nShards: Int): DataFrame =
    docs
      .withColumn("shard", expr(
        s"${Text.hash60SparkSql("concat('shard:', cast(doc_id as string))")} % $nShards"))
      .withColumn("ord", expr(
        Text.hash60SparkSql("concat('ord:', cast(doc_id as string))")))

  private val ShuffleShards = 64

  /** Deterministic global corpus shuffle + sharding — the final write
    * step of a training-data pipeline (shuffle the corpus, emit N
    * balanced shard files, stable order within each shard). The oracled
    * query audits the assignment a 100 TB run would use: per-shard
    * document counts and byte budgets (shard balance comes from hash
    * uniformity — no size-skew pass needed), the order-key span, and a
    * membership checksum proving the shards partition the corpus. */
  def cuCorpusShuffle(spark: SparkSession, sfDir: String): DataFrame =
    shardAssign(Tables.documents(spark, sfDir), ShuffleShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        min("ord").as("ord_min"),
        max("ord").as("ord_max"),
        sum(expr("doc_id * 31 % 1000000007")).as("member_check"))
      .orderBy("shard")

  private val cuCorpusShuffleSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, n_chars,
       |    ${Text.hash60DuckSql("'shard:' || doc_id::VARCHAR")} % $ShuffleShards AS shard,
       |    ${Text.hash60DuckSql("'ord:' || doc_id::VARCHAR")} AS ord
       |  FROM documents)
       |SELECT shard, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars,
       |  min(ord) AS ord_min, max(ord) AS ord_max,
       |  sum(doc_id * 31 % 1000000007)::BIGINT AS member_check
       |FROM a GROUP BY shard ORDER BY shard""".stripMargin

  /** SCORE-BASED QUALITY FILTERING with per-group retention quotas —
    * the "keep the top half by model score, per language" step modern
    * pretraining sets are built with (classifier-scored retention,
    * FineWeb-Edu-style; here the score is [[TextAnalysis.taQuality]]'s
    * oracle-verified composite). Rank within language (score desc,
    * doc_id tie-break), keep rank ≤ ⌈n/2⌉ — the quota is an exact
    * integer comparison, so the cut is bit-portable. Output is the
    * per-language retention report with a kept-membership checksum.
    *
    * Scale: one scan computes scores map-side (codegen'd string ops),
    * one shuffle on the language key ranks within groups; the quota is
    * a windowed count, no second pass. Skewed language distributions
    * are the norm (English-heavy web corpora) — the per-key sort is
    * the operator's natural scale limit, and the fan-out per key is
    * exactly the group size, never a pair explosion. */
  def cuScoreFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    val scored = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        expr(s"size(filter(toks, t -> t IN ($inStops)))").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / 200.0) * (lit(1.0) - col("stop_ratio")))
    val w = Window.partitionBy("lang")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val wAll = Window.partitionBy("lang")
    scored
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(wAll))
      .withColumn("keep", col("r") <= expr("(n_lang + 1) div 2"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id") % 9973L)).as("kept_check"))
      .orderBy("lang")
  }

  private val cuScoreFilterSql: String = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    least(1.0, len(w)::DOUBLE / 200.0) *
       |      (1.0 - len(list_filter(w, t -> t IN ($inStops)))::DOUBLE / len(w)) AS q
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) t),
       |ranked AS (
       |  SELECT doc_id, lang, q,
       |    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS r,
       |    count(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM scored)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN r <= (n_lang + 1) // 2 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN r <= (n_lang + 1) // 2 THEN doc_id % 9973 END)::BIGINT AS kept_check
       |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** k-anonymity audit (k=5) over quasi-identifiers: documents group
    * into equivalence classes on (lang, source, n_chars bucketed to
    * 500) — the release-gate check privacy review runs before sharing
    * a corpus: any class smaller than k re-identifies its members. Per
    * language: class count, classes below k, rows at re-identification
    * risk, smallest class. Two aggregations (rows→classes→languages),
    * each strictly shrinking — one shuffle on the quasi-identifier,
    * one aggregate-sized rollup; nothing data-sized leaves the
    * executors at any corpus scale. */
  def cuKAnon(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"),
        expr("cast(n_chars div 500 as bigint)").as("chars_bucket"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("class_size") < 5, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("class_size") < 5, col("class_size")).otherwise(0L)).as("rows_at_risk"),
        min("class_size").as("min_class_size"))
      .orderBy("lang")

  private val cuKAnonSql: String =
    """WITH classes AS (
      |  SELECT lang, source, n_chars // 500 AS chars_bucket, count(*)::BIGINT AS class_size
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT lang, count(*)::BIGINT AS n_classes,
      |  sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)::BIGINT AS classes_below_k,
      |  sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::BIGINT AS rows_at_risk,
      |  min(class_size)::BIGINT AS min_class_size
      |FROM classes GROUP BY lang ORDER BY lang""".stripMargin

  /** FILTER-CASCADE ATTRITION FUNNEL — the per-rule survivorship
    * report every published curation pipeline tabulates (RefinedWeb /
    * Gopher-rules style): documents pass a fixed rule sequence, each
    * doc is charged to the FIRST rule it violates, and the report
    * shows, per rule in order, how many docs reached it, how many it
    * dropped, how many survived, and the drop rate. This is the
    * operational artifact that tells a pipeline owner WHICH gate is
    * eating the corpus before they ship a config change.
    *
    * Exactness: every ratio threshold is an integer cross-
    * multiplication (`stop_hits·50 ≥ n_tokens` for a 2% floor, etc. —
    * the BM25 rational-arithmetic discipline), so rule outcomes are
    * exact in both engines; the only double is the final
    * n_dropped/n_in division on identical integers.
    *
    * Shape at scale: one map-side pass computes per-doc counters and
    * the first-failed-rule id; one aggregation shrinks the corpus to
    * ≤ K+1 rows; the funnel arithmetic (windowed cumulative drop) runs
    * on that bounded rule table. The corpus text never shuffles. */
  def cuFilterFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    val ruleNames = Seq("min_chars", "max_chars", "min_tokens",
      "stopword_floor", "mean_tok_len", "digit_ratio")
    val conds = Seq( // rule i PASSES iff cond(i); identical SQL both engines
      "n_chars >= 100",
      "n_chars <= 400",
      "n_tokens >= 15",
      "stop_hits * 50 >= n_tokens",
      "3 * n_tokens <= tok_len_sum AND tok_len_sum <= 9 * n_tokens",
      "digits * 5 < n_chars")
    val firstFail = conds.zipWithIndex
      .map { case (c, i) => s"WHEN NOT ($c) THEN ${i + 1}" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("tok_len_sum", expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))
      .withColumn("stop_hits", expr(s"size(filter(toks, t -> t IN ($inStops)))").cast("long"))
      .withColumn("digits",
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long"))
    val counts = docs.withColumn("first_fail", expr(firstFail))
      .groupBy("first_fail").agg(count(lit(1)).as("n"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    val rulesDf = spark.createDataFrame(
      ruleNames.zipWithIndex.map { case (nm, i) => ((i + 1).toLong, nm) })
      .toDF("rule_id", "rule")
    val wPrev = Window.orderBy("rule_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    broadcast(rulesDf)
      .join(counts, col("rule_id") === col("first_fail"), "left")
      .withColumn("n_dropped", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("n_in",
        col("n_total") - coalesce(sum("n_dropped").over(wPrev), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .withColumn("drop_pct", when(col("n_in") === 0L, lit(0.0))
        .otherwise(col("n_dropped").cast("double") / col("n_in").cast("double")))
      .select("rule_id", "rule", "n_in", "n_dropped", "n_out", "drop_pct")
      .orderBy("rule_id")
  }

  private val cuFilterFunnelSql: String = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    val ruleNames = Seq("min_chars", "max_chars", "min_tokens",
      "stopword_floor", "mean_tok_len", "digit_ratio")
    val conds = Seq(
      "n_chars >= 100",
      "n_chars <= 400",
      "n_tokens >= 15",
      "stop_hits * 50 >= n_tokens",
      "3 * n_tokens <= tok_len_sum AND tok_len_sum <= 9 * n_tokens",
      "digits * 5 < n_chars")
    val firstFail = conds.zipWithIndex
      .map { case (c, i) => s"WHEN NOT ($c) THEN ${i + 1}" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val ruleRows = ruleNames.zipWithIndex
      .map { case (nm, i) => s"(${i + 1}, '$nm')" }.mkString(", ")
    s"""WITH m AS (
       |  SELECT n_chars, len(w)::BIGINT AS n_tokens,
       |    list_reduce(list_transform(w, t -> len(t)), (x, y) -> x + y)::BIGINT AS tok_len_sum,
       |    len(list_filter(w, t -> t IN ($inStops)))::BIGINT AS stop_hits,
       |    len(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digits
       |  FROM (SELECT n_chars, text, string_split(text, ' ') AS w FROM documents) t),
       |counts AS (
       |  SELECT ($firstFail) AS first_fail, count(*)::BIGINT AS n
       |  FROM m GROUP BY 1),
       |rules(rule_id, rule) AS (VALUES $ruleRows),
       |tot AS (SELECT count(*)::BIGINT AS n_total FROM documents),
       |funnel AS (
       |  SELECT r.rule_id::BIGINT AS rule_id, r.rule,
       |    coalesce(c.n, 0)::BIGINT AS n_dropped,
       |    (t.n_total - coalesce(sum(coalesce(c.n, 0)) OVER (ORDER BY r.rule_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_in
       |  FROM rules r LEFT JOIN counts c ON c.first_fail = r.rule_id, tot t)
       |SELECT rule_id, rule, n_in, n_dropped,
       |  (n_in - n_dropped)::BIGINT AS n_out,
       |  CASE WHEN n_in = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE n_dropped::DOUBLE / n_in::DOUBLE END AS drop_pct
       |FROM funnel ORDER BY rule_id""".stripMargin
  }

  /** TEMPERATURE-SCALED MIXTURE WEIGHTS — the multilingual/domain
    * rebalancing rule from mBERT/XLM-R (Devlin et al. 2019; Conneau
    * et al. 2020): sample group i with probability `pᵢ ∝ nᵢ^α`
    * (α = 0.5 here), flattening the natural distribution so
    * low-resource groups are upsampled without letting them dominate.
    * The report gives each lang's natural count, its temperature
    * probability, and the per-doc `boost` multiplier `pᵢ·N/nᵢ` an
    * importance sampler applies (boost > 1 ⇒ upsampled).
    *
    * Bit-exactness: α = 0.5 makes `n^α = sqrt(n)` — IEEE sqrt is
    * CORRECTLY ROUNDED in both engines (unlike exp/ln/pow, which is
    * why this entry pins α at a half rather than parameterizing it).
    * The normalizer folds the per-group sqrt terms in lang order via
    * an explicit sorted-array fold on both engines, then each p and
    * boost is a fixed two-op double sequence.
    *
    * Shape at scale: one lang-keyed count aggregation (map-side
    * partials) to a ~5-row table; the ONE-ROW normalizer is broadcast
    * back (scalar-subquery shape). Corpus text never moves. */
  def cuTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("s", sqrt(col("n_docs").cast("double")))
    val tot = g.agg(
      sum("n_docs").as("n_total"),
      expr("aggregate(transform(array_sort(collect_list(struct(lang, s))), " +
        "x -> x.s), cast(0 as double), (a, v) -> a + v)").as("s_total"))
    g.crossJoin(broadcast(tot))
      .withColumn("p", col("s") / col("s_total"))
      .withColumn("boost",
        (col("p") * col("n_total").cast("double")) / col("n_docs").cast("double"))
      .select("lang", "n_docs", "p", "boost")
      .orderBy("lang")
  }

  private val cuTemperatureMixSql: String =
    """WITH g AS (
      |  SELECT lang, count(*)::BIGINT AS n_docs,
      |    sqrt(count(*)::DOUBLE) AS s
      |  FROM documents GROUP BY lang),
      |tot AS (
      |  SELECT sum(n_docs)::BIGINT AS n_total,
      |    list_reduce(list(s ORDER BY lang), (x, y) -> x + y) AS s_total
      |  FROM g)
      |SELECT lang, n_docs, s / s_total AS p,
      |  ((s / s_total) * n_total::DOUBLE) / n_docs::DOUBLE AS boost
      |FROM g, tot ORDER BY lang""".stripMargin

  /** BOILERPLATE REMOVAL ACCOUNTING — the CCNet/RefinedWeb template
    * strip: a text unit that recurs across MANY DISTINCT DOCUMENTS is
    * navigation/footer/disclaimer noise, and unlike [[ddSpanDedup]]
    * (which keeps the FIRST occurrence of a duplicated span — dedup
    * semantics) boilerplate removal drops EVERY occurrence, because a
    * template string carries no training signal even once. The unit
    * here is a non-overlapping 3-token block (the fixture has no line
    * breaks; on real corpora the unit is the line) and the rule is
    * document frequency ≥ 5. The report gives per-source block counts,
    * tokens removed, and the retention rate a pipeline owner watches
    * when tuning the df threshold.
    *
    * Shape at scale: block construction is a per-row projection; ONE
    * shuffle on the block-hash key builds the document-frequency
    * table (map-side partial distinct-count), the blocks⋈df equi-join
    * reuses that same hash partitioning (no extra exchange), and the
    * final per-source rollup is a ~20-row aggregate. High-frequency
    * blocks are exactly the rows AQE's skew handling splits if one
    * template dominates. All counters are exact BIGINTs; retention is
    * ONE double division. */
  def cuBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val Bk = 3
    // Tables.spread + persist (r14): the tokenize/block/md5 relation ran
    // on the fixture's one scan split AND is consumed twice (df + join)
    val blocks = Scratch.persist(
      Tables.spread(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("toks", Text.tokens(col("text")))
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"transform(sequence(0, (size(toks) + $Bk - 1) div $Bk - 1), i -> slice(toks, i * $Bk + 1, $Bk))"))
        .as(Seq("blk_no", "blk")))
      .withColumn("blk_len", size(col("blk")).cast("long"))
      .withColumn("h", expr(
        graft.functions.Text.hash60SparkSql("concat('bp:', concat_ws(' ', blk))"))))
    val dfreq = blocks.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
    blocks.join(dfreq, "h")
      .withColumn("is_boiler", (col("df") >= 5).cast("long"))
      .groupBy("source").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_blocks"),
        sum(col("is_boiler")).as("n_boiler_blocks"),
        sum(col("blk_len")).as("n_tokens"),
        sum(col("is_boiler") * col("blk_len")).as("tokens_removed"))
      .withColumn("retention_permille",
        ((col("n_tokens") - col("tokens_removed")) * lit(1000L)).cast("double") /
          col("n_tokens").cast("double"))
      .select("source", "n_docs", "n_blocks", "n_boiler_blocks",
        "tokens_removed", "retention_permille")
      .orderBy("source")
  }

  private val cuBoilerplateSql: String = {
    val h = graft.functions.Text.hash60DuckSql("'bp:' || array_to_string(blk, ' ')")
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |blocks AS (
       |  SELECT doc_id, source,
       |    toks[(i - 1) * 3 + 1 : least(i * 3, len(toks))] AS blk
       |  FROM (SELECT doc_id, source, toks,
       |          unnest(generate_series(1, (len(toks) + 2) // 3)) AS i
       |        FROM toks) t),
       |hashed AS (
       |  SELECT doc_id, source, len(blk)::BIGINT AS blk_len, $h AS h FROM blocks),
       |dfreq AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS df FROM hashed GROUP BY h)
       |SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  count(*)::BIGINT AS n_blocks,
       |  sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_boiler_blocks,
       |  sum(CASE WHEN df >= 5 THEN blk_len ELSE 0 END)::BIGINT AS tokens_removed,
       |  ((sum(blk_len)::BIGINT - sum(CASE WHEN df >= 5 THEN blk_len ELSE 0 END)::BIGINT)
       |    * 1000)::DOUBLE / sum(blk_len)::BIGINT::DOUBLE AS retention_permille
       |FROM hashed JOIN dfreq USING (h)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** PER-DOMAIN FREQUENCY CAP — the anti-over-representation rule every
    * web-corpus recipe applies (C4 / RefinedWeb cap documents per
    * domain so one crawl-heavy site cannot dominate the mixture): keep
    * at most [[DomainCap]] documents per `source`, chosen by a
    * DETERMINISTIC hash rank (md5 of the doc_id — an unbiased sample
    * of the domain, not "first N by id" which would bias toward old
    * crawls; and reproducible, unlike rand()). Emits the per-domain
    * audit row: total, kept, dropped, and an order-insensitive checksum
    * of the kept ids so the oracle verifies the exact kept SET, not
    * just its size. One window shuffle keyed on source; rank≤K means
    * the window needs only a size-K heap per partition-key at 100 TB
    * (Spark's WindowExec + rank-filter pushdown), and a skew-heavy
    * domain still processes as one key — the documented mitigation is
    * the same two-level salt used by [[cuCorpusShuffle]]'s sharder. */
  private val DomainCap = 40L

  def cuDomainCap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .withColumn("hk", expr(Text.hash60SparkSql("cast(doc_id as string)")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") > DomainCap, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rk") <= DomainCap, col("doc_id")).otherwise(lit(0L)))
          .as("kept_id_sum"))
      .orderBy("source")
  }

  private val cuDomainCapSql: String =
    s"""WITH ranked AS (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${Text.hash60DuckSql("doc_id::VARCHAR")}, doc_id)::BIGINT AS rk
       |  FROM documents)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN rk > $DomainCap THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  sum(CASE WHEN rk <= $DomainCap THEN doc_id ELSE 0 END)::BIGINT AS kept_id_sum
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  /** PER-GROUP WINSORIZATION — robust outlier clipping of a numeric
    * column (document length) at discrete per-source p05/p95 order
    * statistics before it feeds a mixture weight or a quality score:
    * one enormous page must not drag its domain's mean. The
    * percentiles are RANK-SELECTED (the value at row ⌈p·n⌉ of the
    * per-source sort) rather than interpolated — pure integer
    * selection, so Spark and DuckDB cannot diverge by a ULP of
    * interpolation arithmetic, and every downstream stat stays exact
    * integers until the one final mean division. Two window passes over
    * the same per-source partitioning (rank, then threshold pick-off),
    * both reusing ONE shuffle — Catalyst plans the identical-key
    * windows into a single exchange. */
  def cuWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val wRank = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val wSrc = Window.partitionBy("source")
    Tables.documents(spark, sfDir)
      // an unknown length can neither be ranked nor clipped: excluded
      // here and in the oracle. Unfiltered, the null rows shift the
      // rank-selected p05/p95 row positions differently per engine
      // (Spark ASC nulls first, DuckDB last) — r10 null-jitter gate
      .filter(col("n_chars").isNotNull)
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wSrc))
      .withColumn("lo", max(when(col("rk") === ceil(col("n") * 0.05).cast("long"),
        col("n_chars"))).over(wSrc))
      .withColumn("hi", max(when(col("rk") === ceil(col("n") * 0.95).cast("long"),
        col("n_chars"))).over(wSrc))
      .withColumn("clipped", least(greatest(col("n_chars"), col("lo")), col("hi")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        min(col("lo")).as("p05"),
        min(col("hi")).as("p95"),
        sum(col("n_chars")).as("sum_raw"),
        sum(col("clipped")).as("sum_winsor"),
        sum(when(col("n_chars") < col("lo"), 1L)
          .when(col("n_chars") > col("hi"), 1L).otherwise(0L)).as("n_clipped"))
      .withColumn("mean_winsor",
        col("sum_winsor").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  private val cuWinsorizeSql: String =
    """WITH ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)::BIGINT AS rk,
      |    count(*) OVER (PARTITION BY source)::BIGINT AS n
      |  FROM documents WHERE n_chars IS NOT NULL),
      |th AS (
      |  SELECT *,
      |    max(CASE WHEN rk = ceil(n * 0.05)::BIGINT THEN n_chars END)
      |      OVER (PARTITION BY source) AS lo,
      |    max(CASE WHEN rk = ceil(n * 0.95)::BIGINT THEN n_chars END)
      |      OVER (PARTITION BY source) AS hi
      |  FROM ranked)
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  min(lo)::BIGINT AS p05, min(hi)::BIGINT AS p95,
      |  sum(n_chars)::BIGINT AS sum_raw,
      |  sum(least(greatest(n_chars, lo), hi))::BIGINT AS sum_winsor,
      |  sum(CASE WHEN n_chars < lo THEN 1 WHEN n_chars > hi THEN 1 ELSE 0 END)::BIGINT
      |    AS n_clipped,
      |  sum(least(greatest(n_chars, lo), hi))::BIGINT::DOUBLE
      |    / count(*)::BIGINT::DOUBLE AS mean_winsor
      |FROM th GROUP BY source ORDER BY source""".stripMargin

  /** QUALITY-PROPORTIONAL IMPORTANCE SAMPLING — keep each document
    * with probability equal to its quality score (the soft form of
    * [[cuScoreFilter]]'s hard threshold, and the per-document
    * counterpart of [[cuDsirWeights]]' distribution-level weights):
    * high-quality text is kept almost surely, low-quality text
    * survives at its score rate instead of being cliff-dropped — the
    * standard way to keep a quality gradient in the mixture without a
    * brittle cutoff. The coin flip is a DETERMINISTIC 24-bit hash of
    * the doc id compared against `round(score · 2^24)` — reproducible
    * across runs/engines (rand() is neither), integer-exact (no
    * float-vs-2^60 mantissa hazard), and unbiased because the md5-hash
    * is uniform on [0, 2^24). The audit output per source:
    * `expected_keep = Σ score` vs actual kept count — sampling error
    * shrinks as 1/√n, and both engines hash-agree on every row's
    * verdict. Entirely map-side + one small aggregate; nothing
    * corpus-sized shuffles at any scale. */
  def cuImportanceSample(spark: SparkSession, sfDir: String): DataFrame = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        expr(s"size(filter(toks, t -> t IN ($inStops)))").cast("double")
          / col("n_tokens").cast("double"))
      .withColumn("score",
        least(lit(1.0), col("n_tokens").cast("double") / 200.0)
          * (lit(1.0) - col("stop_ratio")))
      .withColumn("coin",
        expr(Text.hash60SparkSql("concat('is:', cast(doc_id as string))")) % 16777216L)
      .withColumn("keep", col("coin") < expr("cast(round(score * 16777216.0) as bigint)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(expr("cast(round(score * 16777216) as bigint)")).as("expected_keep_fp"),
        sum(when(col("keep"), col("doc_id")).otherwise(lit(0L))).as("kept_id_sum"))
      .withColumn("keep_rate",
        col("n_kept").cast("double") / col("n_docs").cast("double"))
      .withColumn("expected_rate",
        (col("expected_keep_fp").cast("double") / 16777216.0)
          / col("n_docs").cast("double"))
      .orderBy("source")
  }

  private val cuImportanceSampleSql: String = {
    val inStops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH feat AS (
       |  SELECT doc_id, source,
       |    least(1.0, len(w)::DOUBLE / 200.0)
       |      * (1.0 - len(list_filter(w, t -> t IN ($inStops)))::DOUBLE
       |          / len(w)::DOUBLE) AS score,
       |    ${Text.hash60DuckSql("'is:' || doc_id::VARCHAR")} % 16777216 AS coin
       |  FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents) t),
       |flags AS (
       |  SELECT *, coin < round(score * 16777216.0)::BIGINT AS keep FROM feat)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(round(score * 16777216)::BIGINT)::BIGINT AS expected_keep_fp,
       |  sum(CASE WHEN keep THEN doc_id ELSE 0 END)::BIGINT AS kept_id_sum,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT::DOUBLE
       |    / count(*)::BIGINT::DOUBLE AS keep_rate,
       |  (sum(round(score * 16777216)::BIGINT)::BIGINT::DOUBLE / 16777216.0)
       |    / count(*)::BIGINT::DOUBLE AS expected_rate
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  /** TOKEN-BUDGETED MIXTURE SELECTION — the planning query that turns a
    * mixture policy into an actual document list: given a global token
    * budget ([[TokenBudget]]) split across sources by
    * temperature-weighted token mass (τ=0.5 via IEEE-exact `sqrt`, the
    * [[cuTemperatureMix]] convention — up-weights small sources), pick
    * each source's documents GREEDILY in deterministic hash order until
    * its budget is exhausted. Per source the audit row: token mass,
    * allocated budget, selected docs/tokens, fill rate. This is the
    * query a training-data team runs to materialize "a 100 B-token mix
    * at temperature τ" from a curated corpus. The cross-engine hazards
    * are each pinned: the weight normalizer folds `sqrt` terms in
    * sorted-source order (reassociation-proof), budgets round once,
    * selection compares exact integer cumsums. Shape: one small
    * aggregate (+ one-row broadcast), one per-source window cumsum over
    * the doc relation — the same single-shuffle cost as any per-key
    * rank, with the budget table broadcast back. */
  private val TokenBudget = 100000L

  def cuTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      .withColumn("hk", expr(Text.hash60SparkSql("concat('tb:', cast(doc_id as string))")))
    val g = docs.groupBy("source").agg(sum(col("n_tokens")).as("t_tokens"))
      .withColumn("s", sqrt(col("t_tokens").cast("double")))
    val tot = g.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(source, s))), " +
        "x -> x.s), cast(0 as double), (a, v) -> a + v)").as("s_total"))
    val budgets = g.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"cast(round((s / s_total) * $TokenBudget.0) as bigint)"))
      .select("source", "t_tokens", "budget")
    val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .join(broadcast(budgets), "source")
      .groupBy("source", "t_tokens", "budget")
      .agg(sum(when(col("cum") <= col("budget"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("cum") <= col("budget"), col("n_tokens")).otherwise(lit(0L)))
          .as("tokens_selected"))
      .withColumn("fill_rate",
        col("tokens_selected").cast("double") / col("budget").cast("double"))
      .select("source", "t_tokens", "budget", "n_selected", "tokens_selected", "fill_rate")
      .orderBy("source")
  }

  private val cuTokenBudgetSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens,
       |    ${Text.hash60DuckSql("'tb:' || doc_id::VARCHAR")} AS hk
       |  FROM documents),
       |g AS (SELECT source, sum(n_tokens)::BIGINT AS t_tokens,
       |    sqrt(sum(n_tokens)::BIGINT::DOUBLE) AS s
       |  FROM d GROUP BY source),
       |tot AS (SELECT list_reduce(list(s ORDER BY source), (x, y) -> x + y) AS s_total
       |  FROM g),
       |b AS (SELECT source, t_tokens,
       |    round((s / s_total) * $TokenBudget.0)::BIGINT AS budget
       |  FROM g, tot),
       |c AS (SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
       |  FROM d)
       |SELECT c.source, b.t_tokens, b.budget,
       |  sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END)::BIGINT AS n_selected,
       |  sum(CASE WHEN cum <= budget THEN n_tokens ELSE 0 END)::BIGINT AS tokens_selected,
       |  sum(CASE WHEN cum <= budget THEN n_tokens ELSE 0 END)::BIGINT::DOUBLE
       |    / b.budget::DOUBLE AS fill_rate
       |FROM c JOIN b ON c.source = b.source
       |GROUP BY c.source, b.t_tokens, b.budget
       |ORDER BY c.source""".stripMargin

  /** DIFFERENTIALLY-PRIVATE COUNT RELEASE — the corpus-reporting query
    * a data owner publishes instead of raw per-(lang, source) document
    * counts. Mechanism: discrete Laplace (two-sided geometric, p=1/2 ⇒
    * ε = ln 2 per cell at add/remove-one-document sensitivity 1, each
    * document in exactly one cell), post-processed with a floor at 0.
    * The geometric draws are the trailing-zero counts of two
    * independent keyed md5 hashes of the CELL — the reproducible-noise
    * construction real releases use (noise keyed per release, never
    * per row), and the one form both engines evaluate bit-identically:
    * min(tz(h), 17) is a pure integer CASE chain, no ln / no float
    * inverse-CDF whose libm could diverge. Shape: one hash-partitioned
    * count per cell, then the noise is a SCALAR expression on the
    * aggregate row — nothing data-sized moves after the groupBy, and
    * at 100 TB the release costs exactly one count(*) scan. */
  private def dpTz(h: String): String = {
    val cases = (0 to 16).map { k =>
      s"WHEN $h % ${1L << (k + 1)}L = ${1L << k}L THEN ${k}L"
    }.mkString(" ")
    s"(CASE $cases ELSE 17L END)"
  }

  /** Same chain in DuckDB spelling (no L suffix on integer literals). */
  private def dpTzDuck(h: String): String = {
    val cases = (0 to 16).map { k =>
      s"WHEN $h % ${1L << (k + 1)} = ${1L << k} THEN $k"
    }.mkString(" ")
    s"(CASE $cases ELSE 17 END)::BIGINT"
  }

  def cuDpCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val hA = Text.hash60SparkSql("concat('dpa:', lang, '|', source)")
    val hB = Text.hash60SparkSql("concat('dpb:', lang, '|', source)")
    Tables.documents(spark, sfDir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
      .withColumn("noise", expr(s"${dpTz(s"($hA)")} - ${dpTz(s"($hB)")}"))
      .withColumn("released", greatest(lit(0L), col("n") + col("noise")))
      .select("lang", "source", "released")
      .orderBy("lang", "source")
  }

  private val cuDpCountsSql: String = {
    val hA = Text.hash60DuckSql("'dpa:' || lang || '|' || source")
    val hB = Text.hash60DuckSql("'dpb:' || lang || '|' || source")
    s"""WITH c AS (
       |  SELECT lang, source, count(*)::BIGINT AS n,
       |    ${dpTzDuck(s"($hA)")} - ${dpTzDuck(s"($hB)")} AS noise
       |  FROM documents GROUP BY lang, source)
       |SELECT lang, source, greatest(0, n + noise)::BIGINT AS released
       |FROM c ORDER BY lang, source""".stripMargin
  }

  /** EPOCH-CAPPED MIXTURE PLAN — the repetition dimension the flat
    * [[cuTokenBudget]] split ignores: when the temperature-weighted
    * allocation of a source exceeds its unique token mass, a trainer
    * REPEATS the source, and past ~4 epochs repeated tokens stop
    * helping (the Muennighoff et al. 2023 data-constrained scaling
    * result, arXiv:2305.16264). The plan allocates 4× the corpus's
    * total token mass (so the cap genuinely binds for up-weighted
    * small sources AT EVERY SCALE — a fixed budget degenerates to
    * epochs=1 as the corpus grows), then publishes per source: the
    * allocation, epochs = min(4, ceil(alloc/U)) (pure integer
    * arithmetic), tokens actually servable under the cap, and the
    * unservable deficit a mixture designer must re-spread. Exactness:
    * the weight normalizer folds sqrt terms in source order (the
    * [[cuTemperatureMix]] convention), the budget multiply rounds
    * once, everything after is int64. Shape: one token-count
    * aggregate, one one-row broadcast back — corpus scanned once. */
  def cuEpochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      .groupBy("source").agg(sum(col("n_tokens")).as("u_tokens"))
      .withColumn("s", sqrt(col("u_tokens").cast("double")))
    val tot = g.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(source, s))), " +
        "x -> x.s), cast(0 as double), (a, v) -> a + v)").as("s_total"),
      sum(col("u_tokens")).as("t_total"))
    g.crossJoin(broadcast(tot))
      .withColumn("alloc",
        expr("cast(round((s / s_total) * (cast(t_total as double) * cast(4 as double))) as bigint)"))
      .withColumn("epochs",
        least(lit(4L), expr("(alloc + u_tokens - 1L) div u_tokens")))
      .withColumn("served", least(col("alloc"), lit(4L) * col("u_tokens")))
      .withColumn("deficit", col("alloc") - col("served"))
      .select("source", "u_tokens", "alloc", "epochs", "served", "deficit")
      .orderBy("source")
  }

  private val cuEpochPlanSql: String =
    """WITH d AS (
      |  SELECT source, len(string_split(text, ' '))::BIGINT AS n_tokens
      |  FROM documents),
      |g AS (SELECT source, sum(n_tokens)::BIGINT AS u_tokens,
      |    sqrt(sum(n_tokens)::BIGINT::DOUBLE) AS s
      |  FROM d GROUP BY source),
      |tot AS (SELECT list_reduce(list(s ORDER BY source), (x, y) -> x + y) AS s_total,
      |    sum(u_tokens)::BIGINT AS t_total
      |  FROM g),
      |p AS (
      |  SELECT source, u_tokens,
      |    round((s / s_total) * (t_total::DOUBLE * 4::DOUBLE))::BIGINT AS alloc
      |  FROM g, tot)
      |SELECT source, u_tokens, alloc,
      |  least(4, (alloc + u_tokens - 1) // u_tokens)::BIGINT AS epochs,
      |  least(alloc, 4 * u_tokens)::BIGINT AS served,
      |  (alloc - least(alloc, 4 * u_tokens))::BIGINT AS deficit
      |FROM p ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cu_epoch_plan" -> (cuEpochPlan _),
    "cu_dp_counts" -> (cuDpCounts _),
    "cu_token_budget" -> (cuTokenBudget _),
    "cu_importance_sample" -> (cuImportanceSample _),
    "cu_domain_cap" -> (cuDomainCap _),
    "cu_winsorize" -> (cuWinsorize _),
    "cu_boilerplate" -> (cuBoilerplate _),
    "cu_temperature_mix" -> (cuTemperatureMix _),
    "cu_filter_funnel" -> (cuFilterFunnel _),
    "cu_k_anon" -> (cuKAnon _),
    "cu_score_filter" -> (cuScoreFilter _),
    "cu_corpus_shuffle" -> (cuCorpusShuffle _),
    "cu_dedup_soft" -> (cuDedupSoft _),
    "cu_dsir_weights" -> (cuDsirWeights _),
    "dc_contamination" -> (dcContamination _),
    "pipe_curation" -> (pipeCuration _),
    "pipe_mixture" -> (pipeMixture _),
    "op_fuzzy_join" -> (opFuzzyJoin _),
    "cu_pii_scrub" -> (cuPiiScrub _),
    "dd_span_dedup" -> (ddSpanDedup _),
    "op_upsert_merge" -> (opUpsertMerge _))

  val oracles: Map[String, String] = Map(
    "cu_epoch_plan" -> cuEpochPlanSql,
    "cu_dp_counts" -> cuDpCountsSql,
    "cu_token_budget" -> cuTokenBudgetSql,
    "cu_importance_sample" -> cuImportanceSampleSql,
    "cu_domain_cap" -> cuDomainCapSql,
    "cu_winsorize" -> cuWinsorizeSql,
    "cu_boilerplate" -> cuBoilerplateSql,
    "cu_temperature_mix" -> cuTemperatureMixSql,
    "cu_filter_funnel" -> cuFilterFunnelSql,
    "cu_k_anon" -> cuKAnonSql,
    "cu_corpus_shuffle" -> cuCorpusShuffleSql,
    "cu_dedup_soft" -> cuDedupSoftSql,
    "cu_dsir_weights" -> cuDsirWeightsSql,
    "dc_contamination" -> dcContaminationSql,
    "pipe_curation" -> pipeCurationSql,
    "pipe_mixture" -> pipeMixtureSql,
    "op_fuzzy_join" -> opFuzzyJoinSql,
    "cu_pii_scrub" -> cuPiiScrubSql,
    "cu_score_filter" -> cuScoreFilterSql,
    "dd_span_dedup" -> ddSpanDedupSql,
    "op_upsert_merge" -> opUpsertMergeSql)
}
