package graft.streaming

import org.apache.spark.sql.SparkSession

/** Small-file compaction + vacuum as a maintenance job — the parquet
  * equivalent of the reference's `optimize.compact()` + `vacuum(0)`
  * (reference pipeline/preprocess.py:62-93, every 6 h per workflow.py:20-23):
  *
  *  1. read the table directory,
  *  2. rewrite it as `targetFiles` partitions into a temp dir (K5),
  *  3. atomically swap temp into place (directory rename),
  *  4. delete the superseded files (K6 vacuum, retention 0).
  *
  * All file ops go through Hadoop's FileSystem ([[Fs]]), so the same
  * code runs against any scheme Spark reads; the swap's atomicity holds
  * on local FS and HDFS (object stores emulate rename — there, a
  * transactional format is the answer, see below).
  *
  * The swap is a pair of metadata-only renames: readers see the old
  * file set, a brief missing-directory window (fail-fast, retryable —
  * never a MIX of old and new files), or the new set. A crash inside
  * that window leaves the data in `.compact_old`; the next
  * `compactTable` call restores it before doing anything else, so no
  * crash point loses the table. What this
  * deliberately does NOT preserve is a streaming sink's `_spark_metadata`
  * commit log — compaction retires it (the rewritten files are not the
  * committed ones, so a stale log would hide them from batch readers).
  * Ingestion into a compacted table therefore resumes with a fresh
  * checkpoint + sink log, exactly like the reference's cadence where
  * compaction runs between ingest cycles under a shared lock (T4;
  * reference pipeline/settings.py:37-40). For compaction that must
  * interleave with live appends, see [[DeltaLog.optimize]] (the public
  * Delta log protocol, written and replayed here because no Delta jars
  * exist offline — SURVEY §7).
  *
  * Scale: the rewrite is one distributed `repartition(k)` pass —
  * shuffle-bounded, no driver data movement; vacuum is a driver-side
  * metadata walk of the retired directory only.
  */
object Compact {

  /** Recursive delete for sibling maintenance jobs (checkpoint
    * retirement when a compaction supersedes a streaming sink log). */
  def deleteRecPublic(spark: SparkSession, path: String): Unit =
    Fs.deleteRec(spark, path)

  /** Compact `tableDir` to `targetFiles` files (pass <= 0 to size the
    * target from the data: ceil(bytes / 128 MB), the parquet-friendly
    * file size — so compaction never INCREASES the file count of a
    * small table). Returns (filesBefore, filesAfter) over data files. */
  def compactTable(spark: SparkSession, tableDir: String, targetFiles: Int = 0): (Int, Int) = {
    def dataFiles(dir: String): Seq[(String, Long)] =
      Fs.listFiles(spark, dir, _.endsWith(".parquet"))
    val oldDir = tableDir + ".compact_old"
    val tmpDir = tableDir + ".compact_tmp"
    // crash recovery: a previous run that died between the two swap
    // moves left the data only in `.compact_old` — restore it BEFORE
    // the scratch cleanup below, which would otherwise delete the last
    // surviving copy of the table.
    if (!Fs.exists(spark, tableDir) && Fs.exists(spark, oldDir))
      Fs.renameOrFail(spark, oldDir, tableDir)
    val before = dataFiles(tableDir).length
    val target =
      if (targetFiles > 0) targetFiles
      else {
        val bytes = dataFiles(tableDir).map(_._2).sum
        math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
      }
    Fs.deleteRec(spark, tmpDir); Fs.deleteRec(spark, oldDir)
    spark.read.parquet(tableDir)
      .repartition(target)
      .write.mode("overwrite").parquet(tmpDir)
    // drop the scratch _SUCCESS marker so the swapped dir is data-only
    Fs.deleteIfExists(spark, s"$tmpDir/_SUCCESS")
    // both swap moves must be CHECKED: Hadoop rename returns false on
    // failure, and falling through to the vacuum after a failed swap
    // would delete the only surviving copy of the table.
    Fs.renameOrFail(spark, tableDir, oldDir)
    Fs.renameOrFail(spark, tmpDir, tableDir)
    Fs.deleteRec(spark, oldDir) // K6 vacuum, retention 0
    val after = dataFiles(tableDir).length
    (before, after)
  }
}
