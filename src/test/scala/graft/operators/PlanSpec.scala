package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical-plan assertions — the properties the oracle can't see. */
class PlanSpec extends SparkSpec {

  test("bucketed join runs with ZERO exchanges (co-located by bucket layout)") {
    // materialize once: ensures the bucketed catalog tables exist and the
    // query itself is correct against its oracle path
    Relational.opBucketedJoin(spark, sf).write.mode("overwrite").format("noop").save()
    val sfTag = Relational.bucketTag(sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the planner must pick the shuffle-prone
      // join path — bucketing is what must make it exchange-free
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(s"graft_bkt_lineitem_$sfTag")
        .join(spark.table(s"graft_bkt_orders_$sfTag"), col("l_orderkey") === col("o_orderkey"))
      j.write.mode("overwrite").format("noop").save()
      val planStr = j.queryExecution.executedPlan.toString
      assert(!planStr.contains("Exchange"),
        s"bucketed join still shuffles:\n$planStr")
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join over bucketed tables:\n$planStr")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("approx_count_distinct stays within the configured 2% rsd (10% hard bound)") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val rows = Relational.opApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    // the exact side lives HERE, not in the query: the operator must
    // never pay the exact-distinct expand/shuffle it exists to avoid
    val exactByFlag = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val approx = r.getLong(1); val exact = exactByFlag(r.getString(0))
      assert(exact > 0)
      assert(math.abs(approx - exact).toDouble / exact <= 0.10,
        s"HLL estimate $approx too far from exact $exact for ${r.getString(0)}")
    }
  }

  test("ml_score_xgb: real 500-tree artifact scores through the native tree-walk, one non-broadcast exchange") {
    val m = MlScore.Xgb.model
    assert(m.trees.size == 500 && m.numClass == 5, s"artifact shape changed: ${m.trees.size} trees")
    val df = MlScore.mlScoreXgb(spark, sf)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("xgb_margins"), s"native scorer missing from plan:\n$planStr")
    // scoring itself must add no shuffle: the only exchanges are the
    // supplier broadcast and the final output-sort range partitioning
    val nonBroadcast = "Exchange [a-z]+".r.findAllIn(planStr).size
    assert(nonBroadcast == 1, s"expected only the output-sort exchange:\n$planStr")
    // and the ensemble walk agrees with a direct eval on a sample row
    val row = df.limit(1).collect().head
    assert(row.getLong(1) >= 0 && row.getLong(1) < 5)
  }

  test("op_approx_distinct plan is HLL-only: no exact-distinct expand/shuffle") {
    val planStr = Relational.opApproxDistinct(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!planStr.contains("Expand"), s"exact-distinct expand crept back in:\n$planStr")
    assert(planStr.contains("approx_count_distinct"), planStr)
  }

  test("GLOBAL: no accidental nested-loop or cartesian join in ANY query plan") {
    // The one intentional exception: ann_topk_exact broadcasts an O(k)
    // probe batch into a nested-loop by design (brute-force baseline) —
    // bounded because the build side is a fixed probe set, not data.
    // ann_recall and ann_ivf_recall compose that same exact baseline
    // (it is their ground truth), so they inherit it; ann_pq_recall's
    // exact-L2 ground truth is the same bounded probe-broadcast shape.
    // q11_stock_value / q22_idle_balance broadcast a ONE-ROW scalar
    // aggregate (the HAVING threshold / above-average balance cut) into
    // a cross join — the exact plan a SQL scalar subquery compiles to,
    // bounded by construction (build side is a single aggregate row).
    // ta_tfidf / ta_bm25 / ta_heavy_hitters broadcast their ONE-ROW
    // corpus aggregate (stats / the CMS sketch) the same way.
    // ann_rrf_hybrid inherits ta_bm25's stats row AND broadcasts its
    // single probe embedding (1-row build side, scalar-subquery plan).
    // gr_assoc_rules broadcasts its 1-row order-count aggregate likewise.
    // op_dq_rules / op_skew_stats / ta_collocations each broadcast a
    // ONE-ROW total (referential-rule denominator / key-count totals /
    // corpus bigram count) into their report row — same bounded shape.
    val allowNestedLoop =
      Set("ann_topk_exact", "ann_recall", "ann_ivf_recall", "ann_pq_recall", "ann_ivfpq_recall",
        "q11_stock_value", "q22_idle_balance", "ta_tfidf", "ta_bm25", "ta_heavy_hitters",
        "ann_rrf_hybrid", "gr_assoc_rules", "ta_lm_fluency",
        "dc_embed_contamination", "gr_triangles", "ta_vocab_coverage",
        "op_histogram", "op_dq_rules", "op_skew_stats", "ta_collocations",
        // ann_filtered / ann_sq8 / ann_sq8_recall: the same bounded
        // 10-row probe broadcast as ann_topk_exact (inequality join
        // against a fixed probe set, build side O(k))
        "ann_filtered", "ann_sq8", "ann_sq8_recall",
        // ml_target_encode broadcasts its ONE-ROW global prior
        // (sum, count) into the per-category encode — the same
        // bounded scalar-subquery shape as gr_assoc_rules
        "ml_target_encode",
        // op_join_cross: grid completion — both cross sides are
        // dimension-sized (nation × 3 distinct statuses) and the fact
        // table is aggregated BEFORE joining the grid; the cross join
        // is the point of the entry
        "op_join_cross",
        // op_bitmap_distinct broadcasts its ONE-ROW or-merged total
        // bitmap count (scalar-subquery shape); ml_kmeans broadcasts
        // the k-row centroid batch into the assignment scan — the
        // canonical Lloyd shape, build side O(k·d)
        "op_bitmap_distinct", "ml_kmeans",
        // ev_interarrival broadcasts its ONE-ROW gap total into the
        // share column — the same bounded scalar-subquery shape
        "ev_interarrival",
        // ml_ndcg: the same bounded 10-row probe broadcast as
        // ann_topk_exact (inequality join against a fixed probe set)
        "ml_ndcg",
        // ml_kmeans_iter: three k-row centroid broadcasts (one per
        // Lloyd round), same bounded build side as ml_kmeans
        "ml_kmeans_iter",
        // ml_standard_scale / ml_bootstrap_ci / gr_modularity broadcast
        // their ONE-ROW parameter aggregates (mean/std; point estimate;
        // total edge count m) — the same bounded scalar-subquery shape
        "ml_standard_scale", "ml_bootstrap_ci", "gr_modularity",
        // ml_learning_curve broadcasts its 4-row fraction dim into the
        // bucketed pool; ev_survival its 5-row checkpoint dim into the
        // horizon-bounded duration grid — the bounded scalar-batch
        // shape again
        "ml_learning_curve", "ev_survival",
        // ann_margin: the ann_topk_exact shape twice — bounded probe
        // batch (≤8 rows) and bounded candidate batch (≤ probes·k)
        // broadcast into corpus scans; plus the funnel/scalar one-row
        // totals. ann_sql_vec: two scalar subqueries (the reference
        // vector) — 1-row build sides. cu_filter_funnel: ONE-ROW
        // corpus-total aggregate into the 6-row rule table.
        "ann_margin", "ann_sql_vec", "cu_filter_funnel",
        // cu_temperature_mix / ml_chi2_select / cu_token_budget:
        // ONE-ROW normalizer / totals aggregate broadcast into a
        // ≤64-row group table — the same bounded scalar-subquery shape
        "cu_temperature_mix", "ml_chi2_select", "cu_token_budget",
        // cu_epoch_plan: the same ONE-ROW normalizer/total broadcast
        // into the per-source table as cu_token_budget
        "cu_epoch_plan",
        // ann_rag_chunks: the ann_topk_exact envelope — FIXED 10-row
        // probe-chunk batch broadcast into the map-side chunk scan
        "ann_rag_chunks",
        // ml_class_weights: ONE-ROW (N, K) total broadcast into the
        // K-row class table — scalar-subquery shape
        "ml_class_weights",
        // ann_mips / ml_knn_agreement: the ann_topk_exact envelope —
        // bounded probe batch broadcast into the one-pass corpus scan
        "ann_mips", "ml_knn_agreement",
        // gr_conductance: ONE-ROW total-volume aggregate broadcast into
        // the community table — scalar-subquery shape
        "gr_conductance",
        // dd_minhash_recall: ONE-ROW lsh-pair-count aggregate broadcast
        // into the one-row hit aggregate — scalar-subquery shape
        "dd_minhash_recall",
        // emb_mrl_recall: the ann_topk_exact envelope twice — the same
        // bounded 10-row probe broadcast, once at full dim and once at
        // the 16-dim Matryoshka prefix
        "emb_mrl_recall",
        // ann_mmr_select: ONE-ROW probe broadcast into the candidate
        // scan, then every greedy-stage join is over the FIXED 8-row
        // candidate batch (pairwise sims, per-step argmax)
        "ann_mmr_select",
        // ev_did / ev_cuped: ONE-ROW window-midpoint aggregate broadcast
        // into the events scan — scalar-subquery shape
        "ev_did", "ev_cuped",
        // ev_power_mde: ONE-ROW per-type totals broadcast into the
        // user-count relation for the above-mean flags
        "ev_power_mde",
        // ml_time_split: the window-midpoint scalar plus the ONE-ROW
        // cold-start count broadcast into the 2-row split stats
        "ml_time_split",
        // ml_mrr: the ann_topk_exact envelope — bounded 50-probe batch
        // broadcast into the one-pass corpus scan, then a 50-row
        // first-hit reduction
        "ml_mrr",
        // ml_brier: ONE-ROW score min/max aggregate broadcast into the
        // scan for integer binning — scalar-subquery shape
        "ml_brier",
        // emb_dim_variance: ONE-ROW trace fold broadcast back into the
        // 64-row per-dimension relation — scalar-subquery shape
        "emb_dim_variance",
        // ml_kappa: ONE-ROW diag and expected-agreement aggregates
        // broadcast into the one-row total — scalar-subquery shape
        "ml_kappa",
        // dd_multiprobe_recall: ONE-ROW set-size aggregates of two
        // 100-row pair sets broadcast together — scalar-subquery shape
        "dd_multiprobe_recall",
        // dd_lsh_multiprobe: the ONE-ROW n_capped_buckets honesty
        // column broadcast onto the 100-row result — scalar-subquery
        // shape (r8 advice: the cap's approximation must ride in the
        // published row)
        "dd_lsh_multiprobe",
        // pipe_dbgen_fidelity: the ONE-ROW sparse-custkey invariant
        // aggregate broadcast onto the ONE-ROW skew aggregate —
        // scalar-subquery shape (r13)
        "pipe_dbgen_fidelity",
        // op_profile: the ONE-ROW NDV aggregate broadcast onto the
        // ONE-ROW plain-stats aggregate — scalar-subquery shape (r14:
        // the NDVs split out of the min/max aggregate so the grouped
        // dedup phase stays HashAggregate; see the opProfile scaladoc)
        "op_profile")
    // Pipeline entries execute side effects (staging, streams) on
    // invocation; their DataFrames are plain reads — include them too.
    val plans = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan.toString
    }
    val offenders = plans.collect {
      case (name, plan)
        if !allowNestedLoop(name) &&
          (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")) =>
        name
    }
    assert(offenders.isEmpty,
      s"nested-loop/cartesian joins leaked into: ${offenders.mkString(", ")}")
  }

  test("no nested-loop joins in the bucketized theta-join operators") {
    // dd_embed_cosine, op_range_join, op_asof_join were designed to turn
    // inequality/similarity predicates into equi-joins (+filter) or a
    // single window pass — a BroadcastNestedLoopJoin/CartesianProduct in
    // any of their plans means the design regressed to O(n^2)
    Seq(
      "dd_embed_cosine" -> graft.operators.Similarity.ddEmbedCosine(spark, sf),
      "op_range_join" -> Events.opRangeJoin(spark, sf),
      "op_asof_join" -> Events.opAsofJoin(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name plans a nested-loop join:\n$plan")
    }
  }

  test("partitioned layout: the year predicate prunes to one partition directory") {
    graft.sources.FormatRoundtrips.opPartitionedWrite(spark, sf)
      .write.mode("overwrite").format("noop").save() // materializes the layout
    val tag = java.nio.file.Paths.get(sf).getFileName.toString
    val dir = s"${graft.Session.pipeDir}/fmt/part_$tag"
    val pruned = graft.sources.FormatRoundtrips.prunedRead(spark, dir)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      s"no partition filter in scan:\n$plan")
    pruned.count() // execute so scan metrics populate
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    val total = spark.read.parquet(dir).inputFiles.length
    assert(scanned < total,
      s"partition pruning read $scanned of $total files — nothing was pruned")
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // The static partition-pruning test above pushes a LITERAL year.
    // Here the year comes from a JOIN against a dim filtered on a
    // NON-KEY attribute — no literal ever touches the fact side, so
    // only runtime DPP (Spark plants a dynamicpruning subquery from
    // the dim's broadcast into the fact scan's PartitionFilters) can
    // avoid reading every year's directory. At 100 TB this is the
    // star-join pattern: fact partitioned by date, dim carrying the
    // "which dates" predicate.
    graft.sources.FormatRoundtrips.opPartitionedWrite(spark, sf)
      .write.mode("overwrite").format("noop").save() // materializes the layout
    val tag = java.nio.file.Paths.get(sf).getFileName.toString
    val dir = s"${graft.Session.pipeDir}/fmt/part_$tag"
    val fact = spark.read.parquet(dir)
    val dim = spark.range(1995, 2002)
      .select(col("id").cast("int").as("d_year"), concat(lit("y"), col("id")).as("d_name"))
      .filter(col("d_name") === "y1997") // non-key filter: not foldable onto the fact
    val j = fact.join(dim, col("o_year") === col("d_year"))
    val got = j.count()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning subquery in the fact scan:\n${plan.take(4000)}")
    val expected = spark.read.parquet(dir).filter(col("o_year") === 1997).count()
    assert(got == expected && got > 0, s"DPP join returned $got rows, expected $expected")
  }

  test("op_dpp_join: the aggregate-derived dim plants runtime pruning on the fact scan") {
    // The oracled twin of the synthetic DPP test above: here the dim is
    // DERIVED BY AGGREGATION (years above 55% of the max yearly
    // quantity), so no constraint propagation can ever turn it into a
    // static filter — pruning can only happen via the runtime subquery.
    graft.sources.FormatRoundtrips.opDppJoin(spark, sf).collect() // writes the layout
    val tag = java.nio.file.Paths.get(sf).getFileName.toString
    val dir = s"${graft.Session.pipeDir}/fmt/dpp_$tag"
    val j = graft.sources.FormatRoundtrips.dppFact(spark, sf, dir)
    assert(j.collect().nonEmpty)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning subquery in the fact scan:\n${plan.take(4000)}")
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    // One hot key holds 75% of the left side. With broadcast off, a
    // static plan hashes all of it into ONE reducer — the straggler
    // that kills a 1000-executor job. AQE must detect the skew from
    // runtime shuffle stats and split the hot partition. Thresholds are
    // lowered because the synthetic input is MBs, not GBs; the decision
    // logic exercised is the same one that fires at scale. (The salted
    // join op is the MANUAL remedy for the same problem when the skew
    // is known ahead of time; this proves the runtime remedy works too.)
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = spark.range(0, 200000).select(
        when(col("id") < 150000, lit(7L)).otherwise(col("id") % 100).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 100).select(col("id").as("rk"), (col("id") * 2).as("rv"))
      val j = left.join(right, col("k") === col("rk"))
      // collect() (not count()) so THIS dataframe's QueryExecution runs
      // and AQE finalizes its plan — count() builds a separate one
      assert(j.collect().length == 200000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true") ||
        plan.contains("AQEShuffleRead skewed"),
        s"no skew-split in the executed plan:\n${plan.take(4000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom-filter join pruning: the selective dim plants a probe on the fact side") {
    // The semi-join-reduction counterpart to DPP for NON-partition keys:
    // when a shuffle join's build side is small and selective, Spark's
    // InjectRuntimeFilter plants a bloom_filter_might_contain probe on
    // the fact side so rows that cannot match die before the shuffle —
    // at 100 TB that's the difference between shuffling the whole fact
    // and shuffling the matching fraction. Size thresholds are lowered
    // to fire at fixture scale (the application side is MBs, not the
    // 10 GB default).
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val fact = graft.sources.Tables.lineitem(spark, sf)
      val dim = graft.sources.Tables.part(spark, sf).filter(col("p_size") === 1)
      val j = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .select("l_orderkey", "p_partkey")
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("bloomfilter") || plan.contains("bloom_filter_might_contain"),
        s"no runtime bloom filter on the fact side:\n${plan.take(4000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("flagship q3: filters and projections reach the parquet scans") {
    val df = Relational.q3Unshipped(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"), "no pushed filters in scan")
    // lineitem scan must read only the 3 needed columns
    assert(plan.contains("l_extendedprice") && !plan.contains("l_tax"),
      "column pruning failed: unneeded lineitem columns in scan")
  }

  test("one-pass reduce: one scan per table, partial WindowGroupLimit below the segment exchange") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
    val root = "target/test-plan/one-pass"
    graft.streaming.Fs.deleteRec(spark, root)
    graft.streaming.PipelineMain.runCycles(spark, sf, root, Seq(0), nBatches = 1,
      compactEvery = Int.MaxValue)
    val df = graft.streaming.PipelineMain.segmentTop50(spark, s"$root/tables")
    df.collect() // the AQE-final plan
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    val scans = aqe.collect(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).mkString(",") }
    assert(scans.sorted == Seq("customer", "lineitem", "orders"),
      s"expected exactly one scan per table, got $scans:\n$plan")
    def isSegmentExchange(p: SparkPlan) = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "c_mktsegment"
        case _ => false
      }
      case _ => false
    }
    val segExchanges = aqe.collect(plan) { case e if isSegmentExchange(e) => e }
    assert(segExchanges.size == 1, s"expected one segment exchange:\n$plan")
    assert(aqe.find(segExchanges.head) {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }.nonEmpty, s"no partial WindowGroupLimit below the segment exchange:\n$plan")
    val finals = aqe.collect(plan) { case w: WindowGroupLimitExec if w.mode == Final => w }
    assert(finals.size == 1 && aqe.find(finals.head.child)(isSegmentExchange).nonEmpty,
      s"the final WindowGroupLimit must sit above the segment exchange:\n$plan")
  }

  test("join hints switch the physical strategy without changing results") {
    import org.apache.spark.sql.functions._
    val ord = graft.sources.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val cust = graft.sources.Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("c_mktsegment").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val merge = ord.join(cust.hint("merge"), col("o_custkey") === col("c_custkey"))
    val bcast = ord.join(cust.hint("broadcast"), col("o_custkey") === col("c_custkey"))
    assert(merge.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "merge hint ignored")
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "broadcast hint ignored")
    // strategy choice is a pure physical concern: results identical
    assert(counts(merge) === counts(bcast))
  }
}
