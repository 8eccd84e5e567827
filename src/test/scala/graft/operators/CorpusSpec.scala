package graft.operators

import graft.SparkSpec

/** [[Corpus]] — the runtime corpus-size estimator behind the LSH/IVF
  * parameter derivations (round 8). The properties that matter:
  * the footer count is EXACT (equals a real scan's count) and follows a
  * rewritten path, priming is idempotent, and the derived parameters move with
  * the primed corpus — the contract that keeps Spark plans and DuckDB
  * oracle SQL generated from the same value. */
class CorpusSpec extends SparkSpec {

  test("parquetRows: footer count equals a full-scan count, single file and part-dir") {
    val single = Corpus.parquetRows(spark, s"$sf/embeddings.parquet")
    assert(single == spark.read.parquet(s"$sf/embeddings.parquet").count())

    // Spark-written multi-part directory
    val dir = "target/test-corpus/parts.parquet"
    spark.range(0, 1000).repartition(4).write.mode("overwrite").parquet(dir)
    assert(Corpus.parquetRows(spark, dir) == 1000L)
  }

  test("parquetRows: an overwritten path is re-counted, not served from a stale count") {
    val dir = "target/test-corpus/rewritten.parquet"
    spark.range(0, 100).write.mode("overwrite").parquet(dir)
    assert(Corpus.parquetRows(spark, dir) == 100L)
    spark.range(0, 250).write.mode("overwrite").parquet(dir)
    assert(Corpus.parquetRows(spark, dir) == 250L)
  }

  test("prime: derived LSH parameters track the primed corpus and stay oracle-consistent") {
    Corpus.prime(spark, sf) // 500-row verification fixture
    val at500 = (LshParams.dedupPlanes(Corpus.embeddings),
      LshParams.lshParams(Corpus.documents))
    assert(Corpus.embeddings == 500L && Corpus.documents == 500L)
    assert(at500 == ((LshParams.dedupPlanes(500), LshParams.lshParams(500))))

    // a 10x corpus primes to deeper planes / wider banding — the scale
    // property the static default could never deliver
    val dir10 = "target/test-corpus/big"
    val emb10 = s"$dir10/embeddings.parquet"
    val doc10 = s"$dir10/documents.parquet"
    spark.range(0, 5000).write.mode("overwrite").parquet(emb10)
    spark.range(0, 5000).write.mode("overwrite").parquet(doc10)
    Corpus.prime(spark, dir10)
    assert(Corpus.embeddings == 5000L && Corpus.documents == 5000L)
    assert(LshParams.dedupPlanes(Corpus.embeddings) > at500._1)
    assert(LshParams.lshParams(Corpus.documents)._2 > at500._2._2) // deeper rows

    // re-prime back (idempotent, cached): derivations return exactly
    Corpus.prime(spark, sf)
    assert((LshParams.dedupPlanes(Corpus.embeddings),
      LshParams.lshParams(Corpus.documents)) == at500)
  }

  test("prime: tolerant of a dir without corpus tables (TPC-H-only callers)") {
    Corpus.prime(spark, sf)
    val before = (Corpus.embeddings, Corpus.documents)
    Corpus.prime(spark, "/nonexistent-dir")
    assert((Corpus.embeddings, Corpus.documents) == before)
  }
}
