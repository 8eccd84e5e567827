package graft.operators

import org.apache.spark.sql.SparkSession

/** Runtime corpus-size estimates for the LSH/IVF parameter derivations
  * ([[LshParams]]).
  *
  * Round-8 closure of the one measured scale-killer class left (SCALE.md's
  * 275× fixed-bucket control): the bands/planes/sub-cell derivations need a
  * corpus-size estimate, and a STALE estimate (a fixture constant, a
  * forgotten system property) silently degrades every bucketed candidate
  * path toward its quadratic form. So the estimate is now read from the
  * DATA: an exact row count from the parquet footers of the corpus table —
  * a metadata-only read (no row data, no Spark job), microseconds per file,
  * memoized per path while the files behind it are unchanged
  * ([[graft.Session.memo]]), so a rewritten table is re-counted.
  *
  * Oracle synchronization (the reason previous rounds used a static
  * default): the DuckDB oracle SQL must be generated from the IDENTICAL
  * parameter values or the two engines bucket differently and the hash
  * gate fails spuriously. That is preserved by ordering, not by constants:
  * [[graft.Verify]] primes this object for its fixture dir BEFORE running
  * queries or dumping `oracle_sql.json`, and every derived-parameter query
  * re-primes (memoized, idempotent) for its own sfDir on entry — so within a
  * process, plans and oracles always derive from the same footer count.
  * The COUNT is per path, but the primed ESTIMATE is one value per JVM:
  * the last fixture primed wins. One sfDir at a time is the harness
  * contract (Verify/Bench hold one; ScaleRun re-primes per scale); a
  * service processing multiple corpora concurrently would have to pass
  * the estimate with each query instead.
  *
  * The fallback chain for sessions that never prime (unit tests driving a
  * single operator): system property (`graft.corpus.embeddings` /
  * `graft.corpus.documents`) then the verification fixture's 500 — the
  * values every oracle was originally verified at.
  */
object Corpus {

  /** Exact row count of a parquet file (or directory of part files) from
    * footers only — no row-group data is read and no Spark job runs. */
  def parquetRows(spark: SparkSession, path: String): Long =
    graft.Session.memo(spark, "parquetRows", Seq(path), path) {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val statuses =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        else Array(fs.getFileStatus(p))
      statuses.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    }

  @volatile private var embPrimed: Option[Long] = None
  @volatile private var docPrimed: Option[Long] = None

  /** Derive (and pin) the corpus estimates from the fixture dir's footers.
    * Idempotent and cheap after the first call per path. Tolerant of a
    * dir missing either table (TPC-H-only callers): the missing side just
    * stays on its previous/fallback value. */
  def prime(spark: SparkSession, sfDir: String): Unit = {
    try embPrimed = Some(parquetRows(spark, s"$sfDir/embeddings.parquet"))
    catch { case _: Throwable => () }
    try docPrimed = Some(parquetRows(spark, s"$sfDir/documents.parquet"))
    catch { case _: Throwable => () }
  }

  /** Current embeddings-corpus estimate (primed → property → fixture). */
  def embeddings: Long = embPrimed
    .orElse(sys.props.get("graft.corpus.embeddings").map(_.toLong))
    .getOrElse(500L)

  /** Current documents-corpus estimate (primed → property → fixture). */
  def documents: Long = docPrimed
    .orElse(sys.props.get("graft.corpus.documents").map(_.toLong))
    .getOrElse(500L)

  /** Total on-disk bytes of a fixture dir's files: a sum over one
    * recursive listing, as cheap as the witness a memo would take. The
    * input-size signal for [[shufflePartitions]]. */
  def dirBytes(spark: SparkSession, sfDir: String): Long =
    graft.streaming.Fs.listFileStats(spark, sfDir, _ => true).map(_._2).sum

  /** Shuffle partition count DERIVED FROM INPUT BYTES (round-8, verdict
    * item 7): one partition per ~2 MB of compressed fixture parquet,
    * floored at the session's core count, capped at 4096. The 2 MB
    * target encodes the measured shuffle amplification of the heaviest
    * plans — the co-occurrence graph family explodes ~30× the scan
    * bytes into its joins, so 2 MB of input ≈ the standard 64 MB of
    * shuffle per reducer. At the bench fixture (17 MB → floor) this is
    * exactly the old fixed core count — zero behavior change — while
    * the x100 fixture (181 MB → ~90) gets the reducer count the spill
    * probe demanded (gr_triangles' exponent 1.141 at 32 fixed
    * partitions vs 1.081 at 64). A first attempt used a fixed AQE
    * initialPartitionNum=1024 instead; the bench measured 1.2-7×
    * per-query overhead at small scale from 1024-way map outputs on
    * every exchange — partitions must scale WITH data, not sit at the
    * ceiling. On a cluster the same formula applies with the
    * executor-core floor; AQE coalesce (on by default) still shrinks
    * small exchanges below this number. */
  def shufflePartitions(spark: SparkSession, sfDir: String): Int = {
    // dev/measurement override (r13): pin the count to isolate
    // partition-granularity effects from data-size effects in scale
    // experiments (never set in the driver's runs). Parsed defensively
    // (r14 ADVICE): a malformed/zero/negative value must not bypass the
    // [1, 4096] envelope the derived path guarantees — clamp instead of
    // letting NumberFormatException or an invalid partition count fail
    // every query at runtime.
    sys.env.get("GRAFT_SHUFFLE_PARTITIONS").flatMap(_.toIntOption)
      .map(v => math.min(4096, math.max(1, v))).getOrElse {
      val floor = spark.sparkContext.defaultParallelism
      val target = 2L << 20
      val byBytes = try (dirBytes(spark, sfDir) / target).toInt
      catch { case _: Throwable => 0 }
      math.min(4096, math.max(floor, byBytes))
    }
  }
}
