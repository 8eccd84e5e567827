package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem operations for the pipeline's maintenance jobs, routed
  * through Hadoop's [[FileSystem]] abstraction instead of
  * `java.nio.file` (round-2 verdict item 7): every probe/move/delete
  * resolves the filesystem FROM THE PATH'S SCHEME with the session's
  * Hadoop configuration, so the same pipeline code runs against local
  * paths, HDFS, or an object store — exactly the set of schemes Spark
  * itself can read.
  *
  * Semantics note carried by the callers: `rename` is atomic on local
  * FS and HDFS (the two this pipeline's swap protocol assumes); object
  * stores emulate rename by copy+delete, which is why the compaction
  * path documents Delta/Iceberg as the production answer there. */
object Fs {

  def conf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  private def fsOf(path: String, c: Configuration): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(c), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(path, conf(spark)); fs.exists(p)
  }

  /** Recursive delete; no-op when absent. */
  def deleteRec(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(path, conf(spark))
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Recursive delete of every path matching the glob `pattern`. */
  def deleteGlob(spark: SparkSession, pattern: String): Unit = {
    val (fs, p) = fsOf(pattern, conf(spark))
    Option(fs.globStatus(p)).toSeq.flatten.foreach(st => fs.delete(st.getPath, true))
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(path, conf(spark)); fs.mkdirs(p)
  }

  /** Directory/file rename (the swap primitive; atomic on local/HDFS). */
  def rename(spark: SparkSession, src: String, dst: String): Boolean = {
    val (fs, s) = fsOf(src, conf(spark))
    fs.rename(s, new Path(dst))
  }

  /** Rename that THROWS on failure. Hadoop's `rename` reports failure as
    * `false` rather than an exception (unlike the `Files.move` it
    * replaced), so any caller about to DELETE something on the
    * assumption the move happened must use this form — a swallowed
    * failed swap followed by a vacuum is silent data loss. */
  def renameOrFail(spark: SparkSession, src: String, dst: String): Unit =
    require(rename(spark, src, dst), s"rename $src -> $dst failed")

  def deleteIfExists(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(path, conf(spark))
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Atomically publish `src` at `dst` IFF `dst` does not exist; returns
    * whether this caller won. The primitive a commit log needs, and the
    * reason log stores specialize per scheme: HDFS `rename` refuses an
    * existing destination atomically, but LOCAL rename maps to POSIX
    * rename(2), which silently OVERWRITES — two racing committers would
    * both "succeed" and one commit would vanish (observed in a
    * concurrent-append thread race, which DeltaLogSpec pins). On local
    * paths this therefore uses a hard link (POSIX link(2) is atomic
    * create-exclusive) and unlinks the source; everywhere else, the
    * filesystem's rename contract. */
  def commitFile(spark: SparkSession, src: String, dst: String): Boolean = {
    val (fs, s) = fsOf(src, conf(spark))
    val d = new Path(dst)
    if (fs.getScheme == "file") {
      val sNio = java.nio.file.Paths.get(fs.makeQualified(s).toUri.getPath)
      val dNio = java.nio.file.Paths.get(fs.makeQualified(d).toUri.getPath)
      try {
        java.nio.file.Files.createLink(dNio, sNio)
        java.nio.file.Files.deleteIfExists(sNio)
        // the temp was written via ChecksumFileSystem, which left a
        // `.<name>.crc` sidecar; deleting the data file through NIO
        // bypasses that layer, so reap the sidecar explicitly or a
        // long-lived table accretes one orphan per commit
        java.nio.file.Files.deleteIfExists(
          sNio.resolveSibling("." + sNio.getFileName.toString + ".crc"))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else if (fs.getScheme == "hdfs") fs.rename(s, d)
    else throw new UnsupportedOperationException(
      s"commitFile on scheme '${fs.getScheme}' ($dst): only file (hard link) and hdfs " +
        "(rename-refuses-existing-dst) give the atomic create-exclusive this commit log " +
        "needs; object-store rename overwrites, so two racing committers would both " +
        "'succeed' and one commit would vanish — use a transactional table format there")
  }

  /** [[listFileStats]] without the modification times. */
  def listFiles(spark: SparkSession, path: String, keep: String => Boolean): Seq[(String, Long)] =
    listFileStats(spark, path, keep).map { case (f, len, _) => (f, len) }

  /** Recursive listing of regular files under `path` whose name passes
    * `keep`, as (path, length, mtime); empty when the path is absent. The
    * triple is the identity a snapshot cache needs to detect that a file
    * it read earlier is still the same file (the Delta replay cache,
    * [[graft.Session.memo]]'s witness). */
  def listFileStats(spark: SparkSession, path: String,
                    keep: String => Boolean): Seq[(String, Long, Long)] = {
    val (fs, p) = fsOf(path, conf(spark))
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && keep(st.getPath.getName))
          buf += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      buf.toSeq
    }
  }
}
