package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-operator dedup invariants (SURVEY §5): the probabilistic paths
  * must agree with the exact path where their guarantees say they must. */
class DedupSpec extends SparkSpec {

  test("dd_exact is a fixpoint: one representative per distinct content") {
    val d = Dedup.ddExact(spark, sf).cache()
    try {
      val n = d.count()
      assert(n > 0)
      assert(d.select("content_key").distinct().count() == n)
      assert(d.select("doc_id_keep").distinct().count() == n,
        "same representative chosen for two different content groups")
      // idempotence: dedup of the deduped representatives changes nothing
      assert(d.groupBy("content_key").count().filter(col("count") > 1).count() == 0)
    } finally d.unpersist()
  }

  test("minhash-LSH near-dup pairs are a subset of the exact-Jaccard pairs") {
    // LSH candidates can MISS pairs (probabilistic recall) but every
    // emitted pair is verified with the exact Jaccard, so emitted ⊆ exact.
    val lsh = Dedup.ddMinhashLsh(spark, sf).select("doc_a", "doc_b")
    val exact = Dedup.ddNgramJaccard(spark, sf).select("doc_a", "doc_b")
    assert(lsh.exceptAll(exact).count() == 0, "LSH emitted a pair the exact join rejects")
  }

  test("prefix-filtered ngram Jaccard is exact vs brute-force all-pairs, with prefix-bounded candidates") {
    import graft.functions.Text
    // 1) EXACTNESS: the AllPairs/PPJoin candidate pruning (prefix filter
    // + length filter + df-cap) must not change the result — compare
    // against a true all-pairs cross join at the same threshold.
    val sh = Text.shingled(spark, sf)
      .select(col("doc_id"), expr("array_sort(transform(sh, s -> md5(s)))").as("hs"))
      .cache()
    try {
      val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.hs"), col("b.hs"))).cast("long").as("inter"),
          size(col("a.hs")).cast("long").as("na"), size(col("b.hs")).cast("long").as("nb"))
        .filter(col("inter").cast("double") / (col("na") + col("nb") - col("inter")) >= 0.8)
        .select("doc_a", "doc_b")
      val pruned = Dedup.ddNgramJaccard(spark, sf).select("doc_a", "doc_b")
      assert(pruned.exceptAll(brute).count() == 0, "pruned path emitted a non-pair")
      assert(brute.exceptAll(pruned).count() == 0, "prefix/df-cap pruning LOST a true pair")
      // 2) SCALE SHAPE: candidate generation explodes only the prefix —
      // n − ⌈0.8n⌉ + 1 shingles per document — so the joined row volume
      // is a ~(1−t) fraction of the full inverted index (the difference
      // between a bounded join and a df²-shaped one at corpus scale).
      val vols = sh.agg(
        sum(size(col("hs"))).as("all"),
        sum(expr("size(hs) - ((size(hs) * 4 + 4) div 5) + 1")).as("pfx")).head()
      assert(vols.getLong(1) * 100 < vols.getLong(0) * 35,
        s"prefix volume ${vols.getLong(1)} not bounded by ~(1-t) of ${vols.getLong(0)}")
    } finally { sh.unpersist(); () }
  }

  test("connected components: 30-node path graph converges with bounded plan depth; exhausting the cap fails loud") {
    import spark.implicits._
    // a single 30-node chain — worst-case diameter for label propagation,
    // needing ~29 propagation rounds (many checkpoint cadences deep, so
    // lineage truncation is actually exercised; without it the plan
    // doubles per iteration and the driver OOMs around iteration 25)
    val pairs = (1 until 30)
      .map(i => (f"d$i%02d", f"d${i + 1}%02d")).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs).cache()
    try {
      assert(labels.count() == 30)
      assert(labels.select("rep").distinct().count() == 1, "a path is ONE component")
      assert(labels.agg(min("rep")).head.getString(0) == "d01",
        "representative must be the minimum label")
      // bounded plan depth: without localCheckpoint the final plan holds
      // ~29 nested join/agg generations (hundreds of nodes); with
      // truncation every 10 iterations it is at most one cadence's worth
      val planNodes = labels.queryExecution.logical.collect { case p => p }.size
      assert(planNodes < 60,
        s"final plan holds $planNodes nodes — lineage not truncated")
    } finally labels.unpersist()
    // partial components must never be returned silently
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 5).count()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("simhash banding finds every pair within Hamming<=10 (vs brute force)") {
    val banded = Dedup.ddSimhash(spark, sf).select("doc_a", "doc_b")
    // brute-force all-pairs over the signatures, same threshold
    val ex = graft.functions.Text.shingled(spark, sf)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), expr(graft.functions.Text.hash60SparkSql("s")).as("h"))
    val sigs = ex.groupBy("doc_id").agg(graft.plans.SimhashAgg.simhash(col("h")).as("simhash"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.simhash ^ b.simhash)") <= 10)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    assert(banded.exceptAll(brute).count() == 0, "banding emitted a non-near pair")
    assert(brute.exceptAll(banded).count() == 0,
      "banding MISSED a pair within Hamming<=10 — the block-pair guarantee is broken")
  }

  test("dd_minhash_recall: LSH pairs are a subset of exact pairs, so hits == lsh count") {
    val r = Dedup.ddMinhashRecall(spark, sf).head()
    val (nExact, nLsh, nHit) =
      (r.getAs[Long]("n_exact"), r.getAs[Long]("n_lsh"), r.getAs[Long]("n_hit"))
    // both sides verify candidates exactly at the same threshold, so
    // every LSH pair IS an exact pair and recall = n_lsh / n_exact
    assert(nHit == nLsh, s"an LSH pair escaped the exact set: hit=$nHit lsh=$nLsh")
    assert(nHit <= nExact)
    assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
  }

  test("dd_substring_repeat: repeated windows never exceed total windows") {
    val out = Dedup.ddSubstringRepeat(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_repeated") <= r.getAs[Long]("n_windows"))
      val f = r.getAs[Double]("repeat_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("dd_cluster_stats: histogram consistent with the component relation") {
    val stats = Dedup.ddClusterStats(spark, sf).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      val nc = r.getAs[Long]("n_clusters")
      val nd = r.getAs[Long]("n_docs")
      assert(size >= 2L, "paired components have at least two members")
      assert(nd === size * nc, "docs per bucket must be size x clusters")
      assert(r.getAs[Long]("n_dropped") === nd - nc)
    }
    // totals must match the component relation exactly
    val comp = Dedup.ddCluster(spark, sf).collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum === comp.length.toLong)
    assert(stats.map(_.getAs[Long]("n_dropped")).sum ===
      comp.count(r => !r.getAs[Boolean]("keep")).toLong)
  }

  test("ml_feature_corr: correlations in [-1,1] and signal dims detectable") {
    val out = Similarity.mlFeatureCorr(spark, sf).collect()
    assert(out.length === 64)
    out.foreach { r =>
      val c = r.getAs[Double]("corr")
      assert(!c.isNaN && c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12,
        s"dim ${r.getAs[Long]("pos")} corr $c out of range")
    }
    // labels derive from the embedding content, so SOME dimension must
    // correlate above noise floor
    assert(out.map(r => math.abs(r.getAs[Double]("corr"))).max > 0.05,
      "no dimension correlates with the label at all")
  }

  test("dd_lsh_multiprobe: probing is a strict widening of its own tables' single-probe candidates") {
    import org.apache.spark.sql.functions._
    val e = Similarity.embWithNorm(spark, sf)
    val multi = Similarity.mpCandidates(e)
    // single-probe pairs over the SAME (first MpTables) tables
    val single = (0 until Similarity.MpTables).map { t =>
      val bk = e.select(col("vec_id"), expr(Similarity.dedupBucketS(t)).as("bucket"))
      bk.as("a").join(bk.as("b"), Seq("bucket"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    }.reduce(_ unionAll _).distinct()
    val nSingle = single.count()
    val nMulti = multi.count()
    val escaped = single.join(multi, Seq("va", "vb"), "left_anti").count()
    assert(escaped === 0L,
      s"$escaped single-probe pairs missing from the multi-probe candidate set")
    assert(nMulti >= nSingle, s"probing shrank the candidate set: $nMulti < $nSingle")
    // and the published recall row is internally consistent
    val r = Similarity.ddMultiprobeRecall(spark, sf).head()
    assert(r.getAs[Long]("n_overlap") <= math.min(r.getAs[Long]("n_base"), r.getAs[Long]("n_mp")))
    assert(r.getAs[Long]("tables_mp") <= r.getAs[Long]("tables_full"))
    val f = r.getAs[Double]("overlap_frac")
    assert(f >= 0.0 && f <= 1.0)
  }

  test("incremental minhash equals the full pipeline's batch restriction; the index absorbs the batch") {
    import graft.streaming.DeltaLog
    val incr = Dedup.ddIncrMinhash(spark, sf).cache()
    try {
      // equivalence: incremental pairs ≡ full-corpus pairs touching the
      // batch (both directions — nothing lost to the index round-trip,
      // nothing invented by the probe join)
      val full = Dedup.ddMinhashLsh(spark, sf)
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
        .select("doc_a", "doc_b")
      val got = incr.select("doc_a", "doc_b")
      assert(got.exceptAll(full).count() == 0, "incremental emitted a pair the full pipeline lacks")
      assert(full.exceptAll(got).count() == 0, "incremental lost a pair the full pipeline finds")
      // src labels agree with the split definition
      assert(incr.filter(col("src") === "batch" &&
        (col("doc_a") % 5 =!= 0 || col("doc_b") % 5 =!= 0)).count() == 0)
      assert(incr.filter(col("src") === "cross" &&
        col("doc_a") % 5 === 0 && col("doc_b") % 5 === 0).count() == 0)
      // lifecycle: v0 = history only; latest = full corpus, bands × docs
      // rows, so the NEXT batch's probe sees everything ingested so far
      val table = graft.Session.pipeDir +
        s"/incr_lsh_${java.nio.file.Paths.get(sf).getFileName.toString}"
      val v0 = DeltaLog.read(spark, table, version = 0)
      assert(v0.filter(col("doc_id") % 5 === 0).count() == 0, "batch doc in the history snapshot")
      val idx = DeltaLog.read(spark, table)
      val nDocs = graft.functions.Text.shingled(spark, sf).count()
      val bands = Dedup.banding._1
      assert(idx.count() == bands.toLong * nDocs, "index does not cover the full corpus")
      assert(idx.select("doc_id").distinct().count() == nDocs)
    } finally incr.unpersist()
  }

  test("a rewritten documents table recomputes the memoized pair relation and unpersists the old one") {
    val dir = targetDir("test-dedup-memo")
    val docs = s"$dir/documents.parquet"
    val src = spark.read.parquet(s"$sf/documents.parquet")
    src.write.mode("overwrite").parquet(docs)
    try {
      // the persisted RDD behind the pair relation (cache lookups match
      // by plan, and the recomputed plan equals this one)
      def cachedRdds(df: org.apache.spark.sql.DataFrame): Set[Int] =
        df.queryExecution.withCachedData.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            r.cacheBuilder.cachedColumnBuffers.id
        }.toSet
      val first = Dedup.ddMinhashLsh(spark, dir)
      first.count()
      val firstRdds = cachedRdds(first)
      assert(firstRdds.nonEmpty && firstRdds.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
      // one added exact duplicate of an existing (shingle-bearing) doc,
      // swapped in by a rename as another writer would: a Spark write to
      // `docs` itself would re-cache plans over the path and hide a
      // stale memo
      val orig = src.filter(size(split(col("text"), " ")) >= 3).agg(min("doc_id")).head.getLong(0)
      val dupId = src.agg(max("doc_id")).head.getLong(0) + 1
      val staged = targetDir("test-dedup-memo-staged")
      src.union(src.filter(col("doc_id") === orig).withColumn("doc_id", lit(dupId)))
        .write.mode("overwrite").parquet(staged)
      graft.streaming.Fs.deleteRec(spark, docs)
      graft.streaming.Fs.renameOrFail(spark, staged, docs)
      val second = Dedup.ddMinhashLsh(spark, dir)
      assert(second.filter(col("doc_a") === orig && col("doc_b") === dupId).count() == 1,
        "the pair of the added duplicate is missing: a stale pair relation was served")
      assert(firstRdds.intersect(spark.sparkContext.getPersistentRDDs.keySet).isEmpty,
        "the replaced pair relation is still persisted")
    } finally Corpus.prime(spark, sf)
  }
}
