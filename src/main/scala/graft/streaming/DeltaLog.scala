package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.TypeBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The PUBLIC Delta Lake transaction-log format, emitted and replayed
  * directly (the reference writes/compacts/vacuums real Delta tables —
  * reference pipeline/preprocess.py:41-44, 74-75; no delta jars exist
  * offline, but the log protocol itself is documented public JSON:
  * delta-io/delta PROTOCOL.md). It is this repo's one transactional
  * table protocol — commit rebase, txn-idempotent appends, stats
  * pruning, time travel, compaction under live appends and vacuum — in
  * the interchange FORMAT, so a real engine (Spark with delta jars,
  * DuckDB's delta extension, Trino) can read tables this pipeline
  * writes, and this pipeline can read a minimal table such an engine
  * wrote. Kept to the core actions every reader understands:
  *
  *  - `<table>/_delta_log/<v padded to 20>.json`, one commit per
  *    version, each file newline-delimited JSON actions;
  *  - `protocol` (minReaderVersion=1/minWriterVersion=2) and `metaData`
  *    (id, parquet format, `schemaString` — the Spark StructType JSON,
  *    which IS Delta's schema serialization — partitionColumns,
  *    configuration) in version 0;
  *  - `add` {path, partitionValues, size, modificationTime, dataChange}
  *    per committed data file; `remove` {path, deletionTimestamp,
  *    dataChange} per file an overwrite retires;
  *  - state = replay all commits in version order: live files are adds
  *    minus later removes; latest metaData wins.
  *
  * Reads take one path: every scan of table data — [[read]], the
  * change feed, the streaming tail, the OPTIMIZE/DML rewrites — goes
  * through [[scan]], a `HadoopFsRelation` over a [[DeltaFileIndex]] of
  * the chosen add actions. Catalyst plans it as one
  * `FileSourceScanExec` whose file list comes from the log (no
  * filesystem listing); partition values come from the adds and
  * partition predicates prune inside the index, column-mapped tables
  * read their physical columns under the logical names, and deletion
  * vectors mask on top of the same relation.
  *
  * Commits publish via [[Fs.commitFile]] (create-exclusive), the same
  * optimistic-concurrency rule Delta itself uses: exactly one of two
  * racing committers wins a version; the loser re-reads, rebases its
  * intent (append = union; overwrite = recompute removes against the
  * new latest), and retries.
  *
  * Scale: the log is file-count-sized metadata; data moves only
  * through executor-side parquet jobs. CHECKPOINTS are emitted and
  * consumed in the documented classic form — a single
  * `<v>.checkpoint.parquet` holding the complete replayed state (one
  * action per row, nullable top-level `txn`/`add`/`remove`/`metaData`/
  * `protocol` struct columns) plus the `_last_checkpoint` hint file —
  * so replay cost is O(commits since last checkpoint), not O(history).
  * That is the difference between a streaming sink whose thousandth
  * micro-batch pays a thousand JSON reads per commit and one that pays
  * ten; [[appendBatch]] checkpoints every 10 commits by default,
  * Delta's own writer cadence. [[cleanupLog]] is the protocol's log
  * retention: pre-checkpoint JSON may be deleted and the table stays
  * readable from checkpoint + tail.
  */
object DeltaLog {

  private def logDir(table: String) = s"$table/_delta_log"

  /** PROTOCOL.md: an add/remove `path` is relative to the table root OR
    * an absolute URI/path (shallow clones and some foreign writers emit
    * absolute paths). Every scan resolves through here. */
  private[streaming] def resolvedPath(table: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p else s"$table/$p"
  private def versionName(v: Long) = f"$v%020d.json"
  private def checkpointName(v: Long) = f"$v%020d.checkpoint.parquet"

  private val M = new ObjectMapper()

  /** Parse one action/stats JSON blob ([[DeltaFileIndex]] shares the
    * log's mapper for stats-based file skipping). */
  private[streaming] def parseJson(s: String): com.fasterxml.jackson.databind.JsonNode =
    M.readTree(s)

  private val SinglePartCkpt = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartCkpt = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r

  /** One listing of `_delta_log`, parsed once: `listing` holds the
    * (name, size, mtime) of every version-json and parquet file — the
    * replay inputs and the [[stateCache]] witness — `commits` the JSON
    * commit versions, and `checkpoints` the checkpoint files per
    * version: the classic single-file `<v>.checkpoint.parquet` (what
    * [[checkpoint]] writes) AND the multi-part
    * `<v>.checkpoint.<i>.<n>.parquet` form foreign Delta writers emit
    * past a size threshold (PROTOCOL.md "Checkpoints": parts are
    * 1-indexed, all n must be read together). A multi-part set counts
    * only when COMPLETE — exactly parts 1..n present — so a torn copy
    * or an in-flight foreign write can never seed replay; when both
    * forms exist at one version the single file wins (either is a total
    * snapshot; one file is one read). */
  private final case class LogFiles(listing: Seq[(String, Long, Long)], commits: Seq[Long],
                                    checkpoints: Map[Long, Seq[String]]) {
    /** Highest version present — JSON commits OR checkpoints (a foreign
      * table whose entire JSON history was retention-cleaned is still a
      * valid table at its checkpoint); −1 without a log. */
    def latest: Long = (commits ++ checkpoints.keys).foldLeft(-1L)(math.max)
  }

  private def logFiles(spark: SparkSession, table: String): LogFiles = {
    val listing = Fs.listFileStats(spark, logDir(table), n =>
        (n.endsWith(".json") && n.dropRight(5).forall(_.isDigit)) || n.endsWith(".parquet"))
      .map { case (p, len, mt) => (new org.apache.hadoop.fs.Path(p).getName, len, mt) }
      .sortBy(_._1)
    val names = listing.map(_._1)
    val singles = names.collect { case n @ SinglePartCkpt(v) => v.toLong -> Seq(n) }
    val multis = names.collect { case n @ MultiPartCkpt(v, i, c) => (v.toLong, i.toInt, c.toInt, n) }
    val complete = multis.groupBy(_._1).collect {
      case (v, parts) if parts.map(_._3).distinct.size == 1 &&
          parts.map(_._2).sorted == (1 to parts.head._3) =>
        v -> parts.sortBy(_._2).map(_._4)
    }
    LogFiles(listing,
      names.collect { case n if n.endsWith(".json") => n.dropRight(5).toLong },
      (complete ++ singles).map { case (v, ns) => v -> ns.map(n => s"${logDir(table)}/$n") })
  }

  /** Highest version present in the log dir (see [[LogFiles.latest]]). */
  def latestVersion(spark: SparkSession, table: String): Long =
    logFiles(spark, table).latest

  /** Versions with a complete checkpoint (single-file or multi-part),
    * ascending. The LISTING is authoritative (the protocol lets
    * `_last_checkpoint` be stale or missing); the hint file is emitted
    * for foreign readers and consumed opportunistically. */
  def checkpointVersions(spark: SparkSession, table: String): Seq[Long] =
    logFiles(spark, table).checkpoints.keys.toSeq.sorted

  /** DESCRIBE HISTORY — the per-version audit every lakehouse exposes:
    * add/remove action counts, rows added (summed from add-action
    * `stats` numRecords where present; 0 when the writer attached no
    * stats), and whether the commit changed data (any action with
    * dataChange=true — OPTIMIZE rewrites are all-false). Metadata-sized:
    * reads only the commit JSONs, never data files; spans the JSON
    * history still on disk (pre-checkpoint versions retired by
    * [[cleanupLog]] simply don't appear, same as any history listing). */
  def history(spark: SparkSession, table: String): Seq[(Long, Long, Long, Long, Boolean)] = {
    logFiles(spark, table).commits.map { v =>
      var adds = 0L; var removes = 0L; var rows = 0L; var dataChange = false
      readCommit(spark, table, v).foreach { line =>
        val n = M.readTree(line)
        if (n.has("add")) {
          adds += 1
          val a = n.get("add")
          if (!a.has("dataChange") || a.get("dataChange").asBoolean(true)) dataChange = true
          if (a.has("stats"))
            rows += M.readTree(a.get("stats").asText()).path("numRecords").asLong(0L)
        }
        if (n.has("remove")) {
          removes += 1
          if (n.get("remove").path("dataChange").asBoolean(true)) dataChange = true
        }
      }
      (v, adds, removes, rows, dataChange)
    }
  }

  private[streaming] def readCommit(spark: SparkSession, table: String, v: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"${logDir(table)}/${versionName(v)}")
    val fs = p.getFileSystem(Fs.conf(spark))
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"commit $v missing from $table log — pre-checkpoint history was " +
          "retention-cleaned ([[cleanupLog]]); versions below the oldest " +
          "checkpoint are no longer reachable")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Replayed log state at one version: live add actions in first-add
    * order, the winning metaData, per-appId txn watermarks, and remove
    * tombstones (files retired but possibly not yet vacuumed — carried
    * through checkpoints exactly as the protocol requires). */
  private final case class State(
      version: Long,
      live: scala.collection.mutable.LinkedHashMap[String, com.fasterxml.jackson.databind.JsonNode],
      var metaData: Option[com.fasterxml.jackson.databind.JsonNode],
      txns: scala.collection.mutable.LinkedHashMap[String, Long],
      tombstones: scala.collection.mutable.LinkedHashMap[String, com.fasterxml.jackson.databind.JsonNode],
      var protocol: Option[com.fasterxml.jackson.databind.JsonNode] = None) {
    def schema: StructType =
      DataType.fromJson(metaData.getOrElse(
          throw new IllegalStateException("no metaData action in log"))
        .get("schemaString").asText()).asInstanceOf[StructType]
    def partitionColumns: Seq[String] = metaData.toSeq.flatMap { m =>
      Option(m.get("partitionColumns")).toSeq.flatMap { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }
    }
    /** `delta.columnMapping.mode` from the winning metaData's
      * configuration: none (default) | name | id. */
    def columnMappingMode: String = metaData
      .flatMap(m => Option(m.get("configuration")))
      .flatMap(c => Option(c.get("delta.columnMapping.mode")))
      .map(_.asText()).getOrElse("none")
    /** The schema with each field renamed to its column-mapping
      * PHYSICAL name (`delta.columnMapping.physicalName` field
      * metadata) — what the parquet files actually carry under mapping
      * modes name/id. Fields without the metadata keep their logical
      * name (the protocol forbids that state for mapped tables, but a
      * conservative identity beats a null-filled column). */
    def physicalSchema: StructType = StructType(schema.map { f =>
      val key = "delta.columnMapping.physicalName"
      if (f.metadata.contains(key)) f.copy(name = f.metadata.getString(key)) else f
    })
    def applyLine(line: String): Unit = {
      val n = M.readTree(line)
      if (n.has("add")) {
        val p = n.get("add").get("path").asText()
        live += p -> n.get("add"); tombstones -= p
      }
      if (n.has("remove")) {
        val p = n.get("remove").get("path").asText()
        live -= p; tombstones += p -> n.get("remove")
      }
      if (n.has("metaData")) metaData = Some(n.get("metaData"))
      if (n.has("protocol")) protocol = Some(n.get("protocol"))
      if (n.has("txn")) {
        val t = n.get("txn")
        val app = t.get("appId").asText()
        txns += app -> math.max(t.get("version").asLong(), txns.getOrElse(app, -1L))
      }
    }
  }

  /** Reader features this implementation actually understands:
    * `columnMapping` (physical-name reads, [[read]]), `timestampNtz`
    * (a schemaString type Spark's parquet reader handles natively),
    * and — on the paths that APPLY them — `deletionVectors`
    * ([[read]] masks deleted rows, [[deleteWhereDv]] writes them,
    * [[checkpoint]] round-trips the descriptors; r14). Everything
    * else — v2Checkpoint, typeWidening, variantType, ... — changes
    * what the DATA FILES mean, so reading past it silently returns
    * wrong rows; those refuse by NAME in [[requireReadable]] (r13
    * verdict item 5: the previous behavior was a generic downstream
    * failure or, worse, a clean-looking wrong read). */
  private val SupportedReaderFeatures =
    Set("columnMapping", "timestampNtz", "deletionVectors")

  /** Refuse tables whose protocol demands reader capabilities this
    * implementation lacks — BEFORE any data file is opened. Mirrors
    * the Delta protocol's reader responsibility: honor
    * minReaderVersion, honor readerFeatures at version 3, and never
    * ignore file-level deletion vectors even when the protocol action
    * failed to announce them (a torn/hand-edited foreign log).
    * The `deletionVectors` FEATURE is always supported — [[read]]
    * applies vectors, [[deleteWhereDv]] writes them, [[reorgPurge]]
    * materializes them away — so a DV-announced table whose vectors
    * were all purged reads everywhere again. What must never happen is
    * a LIVE vector-carrying file being consumed RAW: `allowDv` marks
    * the callers that genuinely handle descriptors ([[read]]/
    * [[deleteWhereDv]]/[[reorgPurge]] apply them; [[checkpoint]]
    * copies them verbatim; appends never interpret existing files) —
    * every other path (change feed, streaming tail,
    * OPTIMIZE/overwrite/restore/DML rewrites) refuses such a file by
    * name, because it would read the file whole or rewrite it without
    * its vector, resurrecting its deleted rows. */
  private def requireReadable(table: String, st: State, allowDv: Boolean): Unit = {
    val supported = SupportedReaderFeatures
    st.protocol.foreach { p =>
      val v = Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
      if (v == 3) {
        val feats = Option(p.get("readerFeatures")).toSeq
          .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
        val unsupported = feats.filterNot(supported)
        if (feats.isEmpty)
          throw new UnsupportedOperationException(
            s"delta: $table declares minReaderVersion=3 with no readerFeatures " +
              "list — cannot prove the required features are supported; refusing")
        if (unsupported.nonEmpty)
          throw new UnsupportedOperationException(
            s"delta: $table requires unsupported reader feature(s) " +
              s"${unsupported.mkString("[", ", ", "]")} " +
              s"(supported: ${supported.toSeq.sorted.mkString(", ")})")
      } else if (v > 3)
        throw new UnsupportedOperationException(
          s"delta: $table requires minReaderVersion=$v; this reader implements <= 3")
      // v <= 2: version 2 adds column mapping, which read() implements
    }
    // file-level defense: a deletion vector on any LIVE add means rows
    // in that file are logically deleted — a path that would read the
    // file as-is resurrects them, so refuse even when the protocol
    // action lied
    if (!allowDv) st.live.collectFirst {
      case (path, add) if add.has("deletionVector") && !add.get("deletionVector").isNull =>
        throw new UnsupportedOperationException(
          s"delta: $table has a file-level deletion vector on $path; " +
            "this path reads files whole — use read(), which applies deletion vectors")
    }
  }

  /** Session-scoped replay cache: table → (version, log listing the
    * state was built from, state). A replayed State at version v is a
    * pure function of the log files 0..v, so a cached instance may be
    * served — or incrementally ADVANCED by applying only the JSON tail
    * — exactly as long as every file it was built from is still present
    * and unchanged, witnessed by the (name, size, mtime) listing taken
    * fresh on every call (an external wipe+rebuild of the same path
    * produces new mtimes and misses). Before r15 every appendBatch paid
    * 2 full replays (txn watermark pre-check + in-commit recheck), every
    * append one more (schema gate), and every read another — each a
    * checkpoint-parquet Spark job plus the whole JSON tail; StageProf
    * attributed most of the pipe_delta_* machinery wall to these
    * driver-side log walks. Entries are treated as IMMUTABLE: advancing
    * copies, then swaps the cache entry; callers never mutate a State
    * (the one rewriting consumer deep-copies its nodes first). */
  private val stateCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Seq[(String, Long, Long)], State)]

  /** Core replay: seed from the newest checkpoint at or below the
    * requested version (its parquet rows convert back to action lines
    * via Spark's own row→JSON, nulls omitted — the exact inverse of how
    * [[checkpoint]] wrote them), then apply the JSON commit tail. With
    * no usable checkpoint the full JSON history replays — exact, just
    * O(history). The [[stateCache]] serves repeat replays of an
    * unchanged log and turns the N+1th replay of a growing log into an
    * O(tail) JSON apply; any listing disagreement falls back to the
    * full replay below. `files` lets a caller that already listed the
    * log reuse that listing. */
  private def replay(spark: SparkSession, table: String, upTo: Long,
                     allowDv: Boolean = false,
                     files: Option[LogFiles] = None): State = {
    val lf = files.getOrElse(logFiles(spark, table))
    val (listing, ckptByV, latest) = (lf.listing, lf.checkpoints, lf.latest)
    require(latest >= 0, s"no Delta log at $table")
    val v = if (upTo < 0) latest else upTo
    require(v <= latest, s"version $v > latest $latest at $table")
    val listingSet = listing.toSet
    val st = stateCache.get(table) match {
      // serve/advance: every file the cached state was built from is
      // still present and byte-identical (name+size+mtime), and every
      // file that appeared since is either a LATER json commit or a
      // checkpoint (checkpoints never change state — they snapshot it)
      case Some((cv, cfp, cst)) if cv <= v &&
          cfp.forall(listingSet.contains) &&
          listing.filterNot(cfp.toSet.contains).forall { case (n, _, _) =>
            !n.endsWith(".json") || n.dropRight(5).toLong > cv } =>
        if (cv == v) cst
        else {
          val adv = State(v, cst.live.clone(), cst.metaData,
            cst.txns.clone(), cst.tombstones.clone(), cst.protocol)
          for (i <- cv + 1 to v; line <- readCommit(spark, table, i))
            adv.applyLine(line)
          if (v == latest) stateCache(table) = (v, listing, adv)
          adv
        }
      case _ =>
        val ckpt = ckptByV.keys.filter(_ <= v).toSeq.sorted.lastOption
        val st = State(v, scala.collection.mutable.LinkedHashMap.empty, None,
          scala.collection.mutable.LinkedHashMap.empty, scala.collection.mutable.LinkedHashMap.empty)
        ckpt.foreach { cv =>
          // single-file or all parts of a multi-part set; action-per-row
          // either way, so one multi-path read seeds the same state
          spark.read.parquet(ckptByV(cv): _*)
            .toJSON.collect().foreach(st.applyLine)
        }
        for (i <- (ckpt.map(_ + 1).getOrElse(0L)) to v; line <- readCommit(spark, table, i))
          st.applyLine(line)
        if (v == latest) stateCache(table) = (v, listing, st)
        st
    }
    // refuse unsupported reader features by NAME before anything
    // consumes the state (r14) — metadata inspection stays possible
    // through the actions themselves, but no read/checkpoint/stream
    // path ever interprets data files it cannot interpret correctly
    requireReadable(table, st, allowDv)
    st
  }

  /** Replay the log through version `upTo` (latest when negative):
    * (version, live relative file paths in first-add order, schema). */
  def snapshot(spark: SparkSession, table: String,
               upTo: Long = -1L): (Long, Seq[String], StructType) = {
    val (v, adds, schema) = liveAdds(spark, table, upTo)
    (v, adds.map(_._1), schema)
  }

  /** Replay keeping each live file's full `add` node (stats travel with
    * the file): (version, (path, add node) pairs, schema). */
  def liveAdds(spark: SparkSession, table: String,
               upTo: Long = -1L): (Long, Seq[(String, com.fasterxml.jackson.databind.JsonNode)], StructType) = {
    val st = replay(spark, table, upTo)
    (st.version, st.live.toSeq, st.schema)
  }

  /** Delta data skipping over add-action `stats`: the latest live paths
    * whose per-file [minValues, maxValues] intersect EVERY queried
    * range, keyed BY COLUMN NAME (Delta's stats are named, so a caller
    * cannot misalign query ranges with append-time column order).
    * Files without stats (e.g. OPTIMIZE's rewrites), or missing a
    * queried column, are kept conservatively. The kept set is the one
    * [[DeltaFileIndex]] lists for the same ranges as data filters, so a
    * scan and this pruning apply one skipping rule. Returns (kept
    * paths, total live file count). */
  def pruneFiles(spark: SparkSession, table: String,
                 ranges: Map[String, (Long, Long)]): (Seq[String], Int) = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val st = replay(spark, table, -1L)
    val filters = ranges.toSeq.map { case (c, (lo, hi)) =>
      val a = AttributeReference(c, org.apache.spark.sql.types.LongType)()
      And(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi)))
    }
    val kept = fileIndex(spark, table, st.live.toSeq, st)
      .listFiles(Seq.empty, filters).flatMap(_.files.map(_.getPath)).toSet
    (st.live.keys.filter(p => kept(new org.apache.hadoop.fs.Path(resolvedPath(table, p)))).toSeq,
      st.live.size)
  }

  /** The highest `version` a writer identity has committed via Delta's
    * `txn` action (−1 if none) — the restart-recovery read for
    * exactly-once streaming appends (Delta's txnAppId/txnVersion
    * idempotence, the mechanism the reference's streaming writes rely
    * on). Checkpoint-seeded replay — watermarks survive log cleanup
    * because checkpoints carry the `txn` rows. */
  def lastTxnVersion(spark: SparkSession, table: String, appId: String): Long = {
    val files = logFiles(spark, table)
    if (files.latest < 0) return -1L
    // allowDv: reads only the txn watermark, never data files
    replay(spark, table, -1L, allowDv = true, Some(files)).txns.getOrElse(appId, -1L)
  }

  /** The adds of commit `v` an append-only reader emits (the change
    * feed, the streaming tail), and whether the commit removes data.
    * OPTIMIZE rewrites (dataChange=false adds) are skipped: their rows
    * were already delivered. An add carrying a deletion vector refuses,
    * because its deleted rows exist only as the vector and an append
    * feed reads files whole; `reader` names the caller in that refusal.
    * The callers decide what a data-changing remove means to them. */
  private def appendedFiles(spark: SparkSession, table: String, v: Long,
                            reader: String): (Seq[(String, com.fasterxml.jackson.databind.JsonNode)], Boolean) = {
    var removesData = false
    val adds = readCommit(spark, table, v).flatMap { line =>
      val n = M.readTree(line)
      if (n.has("remove") && n.get("remove").path("dataChange").asBoolean(true)) removesData = true
      Option(n.get("add")).filter { a =>
        if (hasDv(a))
          throw new UnsupportedOperationException(
            s"version $v of $table adds a file with a deletion vector; $reader " +
              "reads commit files whole and cannot mask its deleted rows")
        a.path("dataChange").asBoolean(true)
      }.map(a => a.get("path").asText() -> a)
    }
    (adds, removesData)
  }

  /** Batch CHANGE-FEED read: rows appended in versions (since, upTo]
    * (latest when `upTo` negative), each tagged `_commit_version` — the
    * batch twin of [[DeltaStreamSource]]'s tail, for consumers that poll
    * instead of stream (incremental ETL, audit, backfill windows).
    * File-granular inserts only: OPTIMIZE rewrites (dataChange=false
    * adds) are skipped, and a data-changing remove in the window REFUSES
    * — this log records no row-level change files, so an overwrite is
    * not representable as a feed (same contract as the streaming tail).
    * One [[scan]] per version in the window; CDC windows are short by
    * construction (poll intervals), so the union stays version-bounded
    * regardless of table size. */
  def changesSince(spark: SparkSession, table: String,
                   since: Long, upTo: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val endV = if (upTo < 0) latestVersion(spark, table) else upTo
    require(endV >= since, s"changesSince($since) > latest $endV at $table")
    val st = replay(spark, table, endV)
    val perVersion = ((since + 1) to endV).flatMap { v =>
      val (files, removesData) = appendedFiles(spark, table, v, "the change feed")
      if (removesData)
        throw new IllegalStateException(
          s"version $v of $table removes data (overwrite/delete); a change feed " +
            "over a log without row-level change files cannot represent it")
      if (files.isEmpty) None
      else Some(scan(spark, table, files, st).withColumn("_commit_version", lit(v)))
    }
    perVersion.reduceOption(_ unionAll _).getOrElse(
      scan(spark, table, Seq.empty, st).withColumn("_commit_version", lit(endV)))
  }

  /** The streaming tail's micro-batch ([[DeltaStreamSource]]): the rows
    * appended in versions (startV, endV] as one [[scan]] against the
    * table's state at `endV` (additive evolution is safe: new files
    * carry the new schema). A data-changing remove refuses unless
    * `ignoreChanges`, in which case the rewritten files stream as
    * appends and the rewrite is the caller's contract downstream. */
  private[streaming] def tail(spark: SparkSession, table: String, startV: Long, endV: Long,
                              ignoreChanges: Boolean): DataFrame = {
    val files = ((startV + 1) to endV).flatMap { v =>
      val (adds, removesData) = appendedFiles(spark, table, v, "the streaming tail")
      if (removesData && !ignoreChanges)
        throw new IllegalStateException(
          s"version $v of $table removes data (overwrite/delete); a streaming " +
            "tail cannot represent that as an append — set ignoreChanges=true " +
            "to stream the rewritten files anyway")
      adds
    }
    scan(spark, table, files, replay(spark, table, endV))
  }

  /** Read the table at `version` (latest when negative) — exactly the
    * replayed live file set through [[scan]], with the log's own schema
    * (an empty live set yields an empty frame, not a scan error). */
  def read(spark: SparkSession, table: String, version: Long = -1L): DataFrame = {
    val st = replay(spark, table, version, allowDv = true)
    scan(spark, table, st.live.toSeq, st)
  }

  /** [[DeltaFileIndex]] over `adds`, typed by state `st`: the partition
    * schema holds the log's partition columns, the data schema the
    * rest, by PHYSICAL name on a column-mapped table (what its parquet
    * files carry). Nullable throughout: the log's nullability is a
    * writer's claim, and an additive append may carry nulls under a
    * column the log declares NOT NULL (the evolution gate compares
    * names and types only), so the scan must not let Catalyst fold
    * `IS NULL` away — the same relaxation Spark's own file reads apply. */
  private def fileIndex(spark: SparkSession, table: String,
                        adds: Seq[(String, com.fasterxml.jackson.databind.JsonNode)],
                        st: State): DeltaFileIndex = {
    val partCols = st.partitionColumns
    val schema = TypeBridge.asNullable(
      if (st.columnMappingMode != "none") st.physicalSchema else st.schema)
    new DeltaFileIndex(spark, table,
      adds.map { case (p, add) =>
        (resolvedPath(table, p),
          Option(add.get("size")).map(_.asLong).getOrElse(0L),
          partitionValuesOf(add, partCols),
          Option(add.get("stats")).map(_.asText()))
      },
      StructType(schema.filter(f => partCols.contains(f.name))),
      StructType(schema.filterNot(f => partCols.contains(f.name))))
  }

  /** The one table scan: `adds` read as a `HadoopFsRelation` over their
    * [[fileIndex]], so Catalyst plans ONE `FileSourceScanExec` whose
    * file list is the log's — partition predicates (static and
    * runtime/DPP) prune against log metadata in
    * [[DeltaFileIndex.listFiles]] and data filters skip files by their
    * add stats before any file is opened; parquet pushdown, column
    * pruning and vectorization apply unchanged. Output columns are the
    * log schema's, in its order, all nullable.
    *
    *  - Column-mapped tables (`delta.columnMapping.mode` name/id) read
    *    their physical columns under the logical names — metadata-only
    *    work. Mapped + partitioned refuses by name: partition values
    *    under mapping are keyed by physical name in the add actions, a
    *    combination no fixture exercises, and a named refusal beats a
    *    silently mis-keyed partition column.
    *  - Deletion vectors (merge-on-read) mask each file's deleted row
    *    positions on top of the same relation: the scan carries
    *    `_metadata.file_path`'s base name and `_metadata.row_index`, the
    *    deleted positions decode ON EXECUTORS (one task per descriptor
    *    partition; the driver only resolves paths) and mask via a LEFT
    *    ANTI join on (file, position) — the deleted side is
    *    bitmap-cardinality-sized, so Catalyst/AQE broadcasts it for the
    *    selective deletes DVs exist for, and a genuinely huge delete
    *    degrades to a shuffle join, not a driver OOM. Joining on base
    *    name requires unique base names among `adds` — true for every
    *    Delta writer's uuid part names; refused loudly otherwise. DVs on
    *    partitioned or mapped tables refuse by name. */
  private def scan(spark: SparkSession, table: String,
                   adds: Seq[(String, com.fasterxml.jackson.databind.JsonNode)],
                   st: State): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.functions.col
    val mapped = st.columnMappingMode != "none"
    if (mapped && st.partitionColumns.nonEmpty)
      throw new UnsupportedOperationException(
        s"delta: $table is column-mapped AND partitioned; this reader supports " +
          "column mapping on unpartitioned tables only")
    val dvAdds = adds.filter { case (_, a) => hasDv(a) }
    if (dvAdds.nonEmpty && (st.partitionColumns.nonEmpty || mapped))
      throw new UnsupportedOperationException(
        s"delta: $table combines deletion vectors with " +
          (if (mapped) "column mapping" else "partitioning") +
          "; this reader applies deletion vectors on plain unpartitioned tables only")
    val index = fileIndex(spark, table, adds, st)
    val relation = spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      index.dataSchema, bucketSpec = None, new ParquetFileFormat(), options = Map.empty)(spark))
    val names = st.schema.fieldNames.toSeq
    // the relation's columns are data ++ partition: restore the log's
    // order, or (mapped, unpartitioned) rename physical to logical
    val logical = if (mapped) relation.toDF(names: _*) else relation.select(names.map(col): _*)
    if (dvAdds.isEmpty) logical
    else {
      val base = logical.select(col("*") +: filePosition: _*)
      val fileNames = adds.map(p => new org.apache.hadoop.fs.Path(p._1).getName)
      require(fileNames.distinct.size == fileNames.size,
        s"delta: $table live files have duplicate base names; deletion-vector " +
          "application keys on base name — refusing the ambiguity")
      val conf = new SerializableHadoopConf(Fs.conf(spark))
      val descs: Seq[(String, DvDescriptor, String)] = dvAdds.map { case (p, add) =>
        val d = parseDvDescriptor(add.get("deletionVector"))
        (new org.apache.hadoop.fs.Path(p).getName, d, dvAbsPath(spark, table, d))
      }
      import spark.implicits._
      val deleted = spark.createDataset(descs)
        .mapPartitions { it =>
          val c = conf.toConf
          it.flatMap { case (fn, d, abs) =>
            DeletionVectors.loadPositions(c, d, abs).iterator.map(p => (fn, p)) }
        }.toDF("_gf_dv_file", "_gf_dv_pos")
      base.join(deleted,
        base("_gf_file") === deleted("_gf_dv_file") && base("_gf_pos") === deleted("_gf_dv_pos"),
        "left_anti")
        .select(names.map(col): _*)
    }
  }

  /** A scanned row's physical position: `_gf_file` (its file's base
    * name) and `_gf_pos` (parquet's `_metadata.row_index`) — the key
    * deletion vectors address rows by. */
  private def filePosition: Seq[Column] = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    Seq(element_at(split(col("_metadata.file_path"), "/"), -1).as("_gf_file"),
      col("_metadata.row_index").as("_gf_pos"))
  }

  private def hasDv(add: com.fasterxml.jackson.databind.JsonNode): Boolean =
    add.has("deletionVector") && !add.get("deletionVector").isNull

  private def liveDvAdds(st: State): Seq[(String, com.fasterxml.jackson.databind.JsonNode)] =
    st.live.toSeq.filter { case (_, a) => hasDv(a) }

  private def parseDvDescriptor(n: com.fasterxml.jackson.databind.JsonNode): DvDescriptor =
    DvDescriptor(n.get("storageType").asText(), n.get("pathOrInlineDv").asText(),
      Option(n.get("offset")).map(_.asInt()).getOrElse(0),
      n.get("sizeInBytes").asInt(), n.get("cardinality").asLong())

  /** Absolute DV file path for on-disk descriptors, resolved and
    * scheme-qualified ON THE DRIVER (metadata work) so executor tasks
    * just open it; empty for inline. */
  private def dvAbsPath(spark: SparkSession, table: String, d: DvDescriptor): String =
    d.storageType match {
      case "p" => d.pathOrInlineDv
      case "u" =>
        val p = new org.apache.hadoop.fs.Path(
          s"$table/${DeletionVectors.relativePath(d.pathOrInlineDv)}")
        p.getFileSystem(Fs.conf(spark)).makeQualified(p).toString
      case _ => ""
    }

  private def protocolJson: String =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaDataJson(schema: StructType,
                           partitionCols: Seq[String] = Seq.empty): String = {
    val md: ObjectNode = M.createObjectNode()
    val m = md.putObject("metaData")
    m.put("id", java.util.UUID.randomUUID().toString)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns")
    partitionCols.foreach(pc.add)
    m.putObject("configuration")
    m.put("createdTime", System.currentTimeMillis())
    M.writeValueAsString(md)
  }

  private def addJson(path: String, size: Long, stats: Option[String] = None,
                      dataChange: Boolean = true,
                      partitionValues: Seq[(String, Option[String])] = Seq.empty): String = {
    val root: ObjectNode = M.createObjectNode()
    val a = root.putObject("add")
    a.put("path", path)
    val pv = a.putObject("partitionValues")
    partitionValues.foreach { case (c, v) =>
      v.fold[Unit] { pv.putNull(c) } { s => pv.put(c, s); () }
    }
    a.put("size", size)
    a.put("modificationTime", System.currentTimeMillis())
    a.put("dataChange", dataChange)
    stats.foreach(a.put("stats", _)) // Delta stats ride as a JSON STRING
    M.writeValueAsString(root)
  }

  /** Partition values of a live `add` node, in `partCols` order (None =
    * JSON null = Delta's null partition value). Missing keys also read
    * as null — Delta writes every partition column explicitly, but a
    * foreign minimal log might not. */
  def partitionValuesOf(add: com.fasterxml.jackson.databind.JsonNode,
                        partCols: Seq[String]): Seq[(String, Option[String])] = {
    val pv = Option(add.get("partitionValues"))
    partCols.map { c =>
      c -> pv.flatMap(n => Option(n.get(c))).filterNot(_.isNull).map(_.asText())
    }
  }

  /** Per-part-file Delta `stats` JSON (numRecords + named
    * minValues/maxValues/nullCount over `statsCols`), keyed by the part
    * file's path under `scratch` (its `partDepth` partition dirs plus
    * its name: a partitioned write names its files per task, so one
    * name recurs in every partition dir that task wrote) — one
    * metadata-sized aggregation job, file-count rows to the driver.
    * Stats are NAMED per column, which is what makes Delta skipping
    * robust to query-order mistakes. Reads the listed part files, not
    * the `.scratch_*` root: given a dot-named root, Spark warns "All
    * paths were ignored" although it then reads it. */
  private def partStats(spark: SparkSession, scratch: String,
                        statsCols: Seq[String], partDepth: Int): Map[String, String] = {
    val files =
      if (statsCols.isEmpty) Seq.empty
      else Fs.listFiles(spark, scratch, _.endsWith(".parquet")).map(_._1)
    if (files.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, sum}
      val aggs = count(lit(1)).as("n") +: statsCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c).cast("long")).as(s"mn$i"), max(col(c).cast("long")).as(s"mx$i"),
          sum(col(c).isNull.cast("long")).as(s"nu$i"))
      }
      val reader = if (partDepth == 0) spark.read else spark.read.option("basePath", scratch)
      reader.parquet(files: _*)
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val st: ObjectNode = M.createObjectNode()
          st.put("numRecords", r.getLong(1))
          val mnO = st.putObject("minValues")
          val mxO = st.putObject("maxValues")
          val nuO = st.putObject("nullCount")
          statsCols.zipWithIndex.foreach { case (c, i) =>
            if (!r.isNullAt(2 + 3 * i)) mnO.put(c, r.getLong(2 + 3 * i))
            if (!r.isNullAt(3 + 3 * i)) mxO.put(c, r.getLong(3 + 3 * i))
            nuO.put(c, r.getLong(4 + 3 * i))
          }
          (new java.net.URI(r.getString(0)).getPath.split('/').takeRight(partDepth + 1).mkString("/"),
            M.writeValueAsString(st))
        }.toMap
    }
  }

  private def removeJson(path: String, dataChange: Boolean = true): String = {
    val root: ObjectNode = M.createObjectNode()
    val r = root.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", System.currentTimeMillis())
    r.put("dataChange", dataChange)
    M.writeValueAsString(root)
  }

  /** Write `df` into a fresh `<table>/.scratch_<id>` dir, the staging
    * area every writer adopts its parts from, and drop the `_SUCCESS`
    * marker; returns the scratch path. A writer killed inside this write
    * leaves the dir behind, and [[vacuum]] reclaims it once stale. */
  private def writeScratch(spark: SparkSession, table: String, df: DataFrame,
                           partitionBy: Seq[String] = Seq.empty): String = {
    val scratch = s"$table/.scratch_${java.util.UUID.randomUUID().toString.take(8)}"
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(scratch)
    Fs.deleteIfExists(spark, s"$scratch/_SUCCESS")
    scratch
  }

  /** Adopt the parts of a finished scratch write as root-level
    * `part-NNNNN-<uuid>.parquet` files (Delta's unpartitioned layout);
    * returns (relative path, size, source part name) triples — the
    * source name keys per-file stats computed before adoption. */
  private def adoptParts(spark: SparkSession, table: String,
                         scratch: String): Seq[(String, Long, String)] = {
    Fs.mkdirs(spark, table)
    val parts = Fs.listFiles(spark, scratch, _.endsWith(".parquet")).sortBy(_._1)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val rel = parts.zipWithIndex.map { case ((src, len), i) =>
      val r = f"part-$i%05d-$uid.parquet"
      require(Fs.rename(spark, src, s"$table/$r"), s"adopting $src failed")
      (r, len, new org.apache.hadoop.fs.Path(src).getName)
    }
    Fs.deleteRec(spark, scratch)
    rel
  }

  /** Spark/Hive percent-escape partition path decoding (the inverse of
    * `escapePathName`): `%xx` byte sequences decode as UTF-8;
    * `__HIVE_DEFAULT_PARTITION__` is the null sentinel. */
  private def unescapePathName(s: String): Option[String] =
    if (s == "__HIVE_DEFAULT_PARTITION__") None
    else {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
        } else { out.write(s.substring(i, i + 1).getBytes("UTF-8")); i += 1 }
      }
      Some(new String(out.toByteArray, "UTF-8"))
    }

  /** Adopt a `partitionBy` scratch write preserving its Hive-style
    * `col=value/` directory layout under the table root; each leaf
    * file's partition values parse from its directory segments.
    * Returns (relative path, size, partitionValues, source path under
    * `scratch`). */
  private def adoptPartsHive(spark: SparkSession, table: String, scratch: String,
                             partCols: Seq[String]): Seq[(String, Long, Seq[(String, Option[String])], String)] = {
    Fs.mkdirs(spark, table)
    val scratchUri = new org.apache.hadoop.fs.Path(scratch).toUri.getPath
    val parts = Fs.listFiles(spark, scratch, _.endsWith(".parquet"))
      .map { case (full, len) =>
        val p = new org.apache.hadoop.fs.Path(full).toUri.getPath
        (full, p.stripPrefix(scratchUri).stripPrefix("/"), len)
      }.sortBy(_._2)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val adopted = parts.zipWithIndex.map { case ((src, relSrc, len), i) =>
      val dirSegs = relSrc.split('/').dropRight(1)
      require(dirSegs.length == partCols.length &&
        dirSegs.zip(partCols).forall { case (d, c) => d.startsWith(c + "=") },
        s"scratch layout $relSrc does not match partition columns $partCols")
      val vals = dirSegs.zip(partCols).map { case (d, c) =>
        c -> unescapePathName(d.drop(c.length + 1))
      }
      val dir = dirSegs.mkString("/")
      Fs.mkdirs(spark, s"$table/$dir")
      val r = s"$dir/" + f"part-$i%05d-$uid.parquet"
      require(Fs.rename(spark, src, s"$table/$r"), s"adopting $src failed")
      (r, len, vals.toSeq, relSrc)
    }
    Fs.deleteRec(spark, scratch)
    adopted
  }

  /** Stalled-commit guard: a create-exclusive failure with no competing
    * commit advancing the version is an environmental failure (Hadoop
    * reports a failed rename/link as `false`, exactly like a lost race),
    * not a race — abort instead of spinning. */
  private val MaxStalledCommitAttempts = 8

  private def commit(spark: SparkSession, table: String,
                     actions: Long => Seq[String]): Long = {
    val dir = logDir(table)
    Fs.mkdirs(spark, dir)
    var lastParent = Long.MinValue
    var stalled = 0
    while (true) {
      val parent = latestVersion(spark, table)
      if (parent == lastParent) {
        stalled += 1
        if (stalled >= MaxStalledCommitAttempts)
          throw new IllegalStateException(
            s"Delta commit to $table stalled at v${parent + 1} after $stalled attempts " +
              "with no competing commit advancing — environmental create failure; aborting")
      } else { lastParent = parent; stalled = 0 }
      val next = parent + 1
      val tmp = s"$table/.tmp_${java.util.UUID.randomUUID().toString}"
      val p = new org.apache.hadoop.fs.Path(tmp)
      val out = p.getFileSystem(Fs.conf(spark)).create(p, false)
      try out.write((actions(parent).mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      if (Fs.commitFile(spark, tmp, s"$dir/${versionName(next)}")) return next
      Fs.deleteIfExists(spark, tmp)
    }
    -1L // unreachable
  }

  /** Append `df` as a new Delta commit; version 0 also carries the
    * protocol + metaData actions. `statsCols` (integer columns) emit
    * per-file Delta `stats` on each add action for [[pruneFiles]] data
    * skipping. Returns the committed version. */
  /** Schema-evolution gate for an append at `parent`: identical
    * schemas emit nothing; with `mergeSchema`, a widened schema (every
    * existing field present with its exact type, new fields appended
    * NULLABLE — Delta's additive mergeSchema rule) emits the updated
    * metaData action; anything else refuses. Old files keep their
    * narrow physical schema — the parquet reader fills absent columns
    * with nulls against the log schema, which is exactly how Delta
    * reads pre-evolution files. */
  private def evolveActions(existing: StructType, incoming: StructType,
                            partitionBy: Seq[String], mergeSchema: Boolean): Seq[String] = {
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(existing) == shape(incoming)) Seq.empty
    else {
      val byName = incoming.fields.map(f => f.name -> f).toMap
      val widened = existing.fields.forall(e =>
        byName.get(e.name).exists(_.dataType == e.dataType))
      val added = incoming.fields.filterNot(f => existing.fieldNames.contains(f.name))
      require(mergeSchema,
        s"append schema ${incoming.simpleString} != table schema ${existing.simpleString} " +
          "(pass mergeSchema = true for additive evolution)")
      require(widened,
        s"mergeSchema only widens: every existing column keeps its type; " +
          s"got ${incoming.simpleString} over ${existing.simpleString}")
      // existing columns keep their log nullability; new columns are
      // force-nullable (pre-evolution files don't contain them and
      // must read as NULL)
      val merged = StructType(existing.fields ++ added.map(_.copy(nullable = true)))
      Seq(metaDataJson(merged, partitionBy))
    }
  }

  def append(spark: SparkSession, table: String, df: DataFrame,
             statsCols: Seq[String] = Seq.empty,
             partitionBy: Seq[String] = Seq.empty,
             mergeSchema: Boolean = false): Long = {
    val scratch = writeScratch(spark, table, df, partitionBy)
    val schema = df.schema
    val stats = partStats(spark, scratch, statsCols, partitionBy.size)
    if (partitionBy.isEmpty) {
      val mine = adoptParts(spark, table, scratch)
      commit(spark, table, parent => {
        val evolve = if (parent < 0) Seq.empty else {
          // allowDv: an append adds NEW files, never touches DV'd ones
          val st = replay(spark, table, parent, allowDv = true)
          require(st.partitionColumns.isEmpty,
            s"unpartitioned append into a table partitioned by ${st.partitionColumns}")
          evolveActions(st.schema, schema, Seq.empty, mergeSchema)
        }
        (if (parent < 0) Seq(protocolJson, metaDataJson(schema)) else evolve) ++
          mine.map { case (path, size, srcName) => addJson(path, size, stats.get(srcName)) }
      })
    } else {
      val mine = adoptPartsHive(spark, table, scratch, partitionBy)
      commit(spark, table, parent => {
        val evolve = if (parent < 0) Seq.empty else {
          val st = replay(spark, table, parent, allowDv = true)
          require(st.partitionColumns == partitionBy,
            s"append partitioned by $partitionBy into a table partitioned by ${st.partitionColumns}")
          evolveActions(st.schema, schema, partitionBy, mergeSchema)
        }
        (if (parent < 0) Seq(protocolJson, metaDataJson(schema, partitionBy)) else evolve) ++
          mine.map { case (path, size, vals, srcName) =>
            addJson(path, size, stats.get(srcName), partitionValues = vals) }
      })
    }
  }

  private def txnJson(appId: String, version: Long): String = {
    val root: ObjectNode = M.createObjectNode()
    val t = root.putObject("txn")
    t.put("appId", appId)
    t.put("version", version)
    M.writeValueAsString(root)
  }

  /** The classic checkpoint schema (delta-io/delta PROTOCOL.md
    * "Checkpoints"): one action per row, nullable top-level struct
    * columns. Exactly the fields this writer round-trips; foreign
    * extras (e.g. `add.tags`) are dropped on OUR checkpoint write but
    * tolerated on read (unknown parquet columns never reach the
    * replay, and unknown JSON keys inside known structs are ignored by
    * the action parser). */
  private def checkpointSchema: StructType = DataType.fromDDL(
    """txn STRUCT<appId: STRING, version: BIGINT>,
      |add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>,
      |  size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN,
      |  stats: STRING,
      |  deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING,
      |    offset: INT, sizeInBytes: INT, cardinality: BIGINT>>,
      |remove STRUCT<path: STRING, deletionTimestamp: BIGINT,
      |  dataChange: BOOLEAN>,
      |metaData STRUCT<id: STRING, name: STRING, description: STRING,
      |  format: STRUCT<provider: STRING, options: MAP<STRING, STRING>>,
      |  schemaString: STRING, partitionColumns: ARRAY<STRING>,
      |  configuration: MAP<STRING, STRING>, createdTime: BIGINT>,
      |protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT,
      |  readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>"""
      .stripMargin).asInstanceOf[StructType]

  private def wrapNode(key: String, n: com.fasterxml.jackson.databind.JsonNode): String = {
    val root: ObjectNode = M.createObjectNode()
    root.set[ObjectNode](key, n)
    M.writeValueAsString(root)
  }

  /** Write a classic single-file parquet checkpoint of the CURRENT
    * state — protocol, metaData, per-appId txn watermarks, remove
    * tombstones, then every live add (stats included) in first-add
    * order — as `_delta_log/<v>.checkpoint.parquet`, plus the
    * `_last_checkpoint` hint {"version","size"}. Action lines are
    * parsed through [[checkpointSchema]] into rows, the exact inverse
    * of [[replay]]'s row→JSON seeding, so checkpoint round-trip
    * equality with pure JSON replay is structural. One driver-side
    * file-count-sized job; returns the checkpointed version. */
  def checkpoint(spark: SparkSession, table: String): Long = {
    // allowDv: a checkpoint copies descriptors VERBATIM (the add
    // struct carries deletionVector), never interprets data files
    val st = replay(spark, table, -1L, allowDv = true)
    val lines: Seq[String] =
      // preserve a foreign table's own protocol action — checkpointing
      // must never silently downgrade a column-mapped (v2) table to
      // our default v1 announcement (r14)
      Seq(st.protocol.map(wrapNode("protocol", _)).getOrElse(protocolJson)) ++
        st.metaData.map(wrapNode("metaData", _)).toSeq ++
        st.txns.toSeq.map { case (app, ver) => txnJson(app, ver) } ++
        st.tombstones.values.map(wrapNode("remove", _)).toSeq ++
        st.live.values.map(wrapNode("add", _)).toSeq
    import spark.implicits._
    val df = spark.read.schema(checkpointSchema).json(spark.createDataset(lines))
    val scratch = s"$table/.ckpt_${java.util.UUID.randomUUID().toString.take(8)}"
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Fs.listFiles(spark, scratch, _.endsWith(".parquet")).head
    Fs.renameOrFail(spark, part._1, s"${logDir(table)}/${checkpointName(st.version)}")
    Fs.deleteRec(spark, scratch)
    val lc = new org.apache.hadoop.fs.Path(s"${logDir(table)}/_last_checkpoint")
    val out = lc.getFileSystem(Fs.conf(spark)).create(lc, true)
    try out.write(s"""{"version":${st.version},"size":${lines.size}}""".getBytes("UTF-8"))
    finally out.close()
    st.version
  }

  /** Checkpoint iff ≥ `every` commits accumulated past the newest
    * checkpoint (Delta's default writer cadence is 10). Returns the
    * new checkpoint version if one was written. */
  def maybeCheckpoint(spark: SparkSession, table: String, every: Int = 10): Option[Long] = {
    val files = logFiles(spark, table)
    val last = files.checkpoints.keys.foldLeft(-1L)(math.max)
    if (files.latest >= 0 && files.latest - last >= every) Some(checkpoint(spark, table)) else None
  }

  /** The `_last_checkpoint` hint as (version, action count), when
    * present and parseable — exposed for foreign-reader assertions;
    * [[replay]] itself trusts the listing, as the protocol requires
    * readers to tolerate a stale or missing hint. */
  def lastCheckpointHint(spark: SparkSession, table: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"${logDir(table)}/_last_checkpoint")
    val fs = p.getFileSystem(Fs.conf(spark))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      scala.util.Try {
        val n = M.readTree(txt)
        (n.get("version").asLong(), n.get("size").asLong())
      }.toOption
    }
  }

  /** Log retention (the protocol's metadata cleanup): delete JSON
    * commits and older checkpoints STRICTLY below the newest
    * checkpoint version. The table remains readable at the checkpoint
    * and every later version; time travel below it now fails with the
    * [[readCommit]] explanation. Returns the number of files removed.
    * No-op when no checkpoint exists — cleanup never strands a log. */
  def cleanupLog(spark: SparkSession, table: String): Int = {
    val files = logFiles(spark, table)
    files.checkpoints.keys.maxOption.map { cv =>
      val stale = files.listing.map(_._1).filter {
        case SinglePartCkpt(v) => v.toLong < cv // single-file AND multi-part forms
        case MultiPartCkpt(v, _, _) => v.toLong < cv
        case n => n.endsWith(".json") && n.dropRight(5).toLong < cv
      }
      stale.foreach(n => Fs.deleteIfExists(spark, s"${logDir(table)}/$n"))
      stale.size
    }.getOrElse(0)
  }

  private final class AlreadyCommitted extends RuntimeException

  /** EXACTLY-ONCE streaming append in the PUBLIC format: commit `df`'s
    * files and the `txn` {appId, version=batchId} action in one log
    * commit — a replayed micro-batch (id ≤ the committed txn version;
    * foreachBatch redelivery after crash/restart) is detected against
    * the LATEST log inside the commit loop and skipped, so duplicate
    * delivery cannot double-append even when the replay races other
    * writers. Returns true iff this call committed the batch — Delta's
    * own idempotent-writer protocol, so foreign readers see it too.
    * Every `checkpointEvery` commits the sink also writes a parquet
    * checkpoint (Delta's default 10; 0 disables) — without it the Nth
    * micro-batch's watermark read replays N JSON commits and the sink
    * degrades quadratically over its own history.
    *
    * `beforeCommit` is a test seam between file adoption and the log
    * commit — the crash window where a dead writer leaves
    * adopted-but-uncommitted orphans that [[vacuum]] reclaims
    * (PipelineSpec's crash-injection test). */
  def appendBatch(spark: SparkSession, table: String, appId: String,
                  batchId: Long, df: DataFrame, checkpointEvery: Int = 10,
                  beforeCommit: () => Unit = () => ()): Boolean = {
    if (lastTxnVersion(spark, table, appId) >= batchId) return false
    val scratch = writeScratch(spark, table, df)
    val schema = df.schema
    val mine = adoptParts(spark, table, scratch)
    beforeCommit()
    try {
      commit(spark, table, parent => {
        if (lastTxnVersion(spark, table, appId) >= batchId)
          throw new AlreadyCommitted // lost to a concurrent replay of the same batch
        (if (parent < 0) Seq(protocolJson, metaDataJson(schema)) else Seq.empty) ++
          mine.map { case (path, size, _) => addJson(path, size) } :+ txnJson(appId, batchId)
      })
      if (checkpointEvery > 0) maybeCheckpoint(spark, table, checkpointEvery)
      true
    } catch {
      // our adopted files are orphans outside every commit; vacuum's
      // retention sweep reclaims them
      case _: AlreadyCommitted => false
    }
  }

  /** OPTIMIZE (bin-packing compaction): rewrite the current live files
    * into `targetFiles` and commit remove+add with `dataChange=false` —
    * the protocol's marker that the commit rearranges bytes without
    * changing table content, which is what lets a downstream Delta
    * stream skip it instead of re-emitting the whole table. A racing
    * APPEND survives untouched (its files are not in our remove set and
    * the commit-loop rebase publishes after it); a racing OVERWRITE or
    * second optimize that retired one of our input files aborts this
    * compaction cleanly (content wins over layout) and the whole
    * operation retries against the new state. `beforeCommit` is a test
    * seam between the rewrite's adoption and its commit, for
    * deterministic interleaving. Returns (files before, files after). */
  def optimize(spark: SparkSession, table: String, targetFiles: Int = 1,
               beforeCommit: () => Unit = () => ()): (Int, Int) = {
    var attempts = 0
    while (true) {
      attempts += 1
      val st = replay(spark, table, -1L)
      require(st.partitionColumns.isEmpty,
        s"optimize on partitioned table $table unsupported (adds would drop partitionValues)")
      require(st.columnMappingMode == "none",
        s"optimize on column-mapped $table unsupported (the rewrite would write logical names)")
      val live = st.live.keys.toSeq
      if (live.size <= targetFiles) return (live.size, live.size)
      val scratch = writeScratch(spark, table,
        scan(spark, table, st.live.toSeq, st).repartition(targetFiles))
      val mine = adoptParts(spark, table, scratch)
      beforeCommit()
      try {
        commit(spark, table, parent => {
          val (_, nowLive, _) = snapshot(spark, table, parent)
          if (!live.forall(nowLive.contains))
            throw new CompactionRaced // an input file was retired under us
          live.map(removeJson(_, dataChange = false)) ++
            mine.map { case (path, size, _) => addJson(path, size, dataChange = false) }
        })
        return (live.size, mine.size)
      } catch {
        case _: CompactionRaced =>
          // our rewritten files are unreferenced orphans; vacuum reclaims
          if (attempts >= MaxStalledCommitAttempts)
            throw new IllegalStateException(
              s"optimize of $table lost to concurrent rewrites $attempts times; giving up")
      }
    }
    (0, 0) // unreachable
  }

  private final class CompactionRaced extends RuntimeException

  /** VACUUM: physically delete data files under the table root that the
    * CURRENT version does not reference and that are older than
    * `retentionMs` — tombstoned files age by their remove action's
    * `deletionTimestamp`, never-committed orphans (crashed writers,
    * lost compactions) by filesystem mtime. Time travel to versions
    * whose files were vacuumed stops working, exactly as in Delta;
    * readers of the current version are unaffected because live files
    * are never candidates. A `.scratch_*` dir (a writer killed inside
    * its scratch write) goes by the orphan rule too: whole, once its
    * newest mtime is older than the cutoff; so does a root-level commit
    * temp `.tmp_*` (a committer killed before linking it into the log)
    * with its checksum sidecar. Returns the number of data files,
    * scratch dirs and commit temps deleted. */
  def vacuum(spark: SparkSession, table: String, retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    // allowDv: victims are non-live `.parquet` only — DV'd files are
    // live (kept), and `.bin` vectors are never candidates at all
    val st = replay(spark, table, -1L, allowDv = true)
    val cutoff = System.currentTimeMillis() - retentionMs
    val tableAbs = new org.apache.hadoop.fs.Path(table).toUri.getPath
    // liveness/tombstone lookups key on the TABLE-ROOT-RELATIVE path —
    // partitioned tables' add actions carry `dir=val/part-….parquet`, so
    // a bare-filename compare would mark every live partitioned file as
    // unreferenced and vacuum(0) would eat live data
    val victims = Fs.listFiles(spark, table, _.endsWith(".parquet"))
      .map { case (full, _) =>
        val p = new org.apache.hadoop.fs.Path(full).toUri.getPath
        (full, p.stripPrefix(tableAbs).stripPrefix("/"))
      }
      .filter { case (_, rel) =>
        // listFiles walks recursively: skip the log and the dot-named
        // scratch/checkpoint work dirs (scratch dirs age whole, below)
        !rel.startsWith("_delta_log/") &&
          !rel.split('/').exists(_.startsWith(".")) &&
          !st.live.contains(rel)
      }
      .filter { case (full, rel) =>
        st.tombstones.get(rel) match {
          case Some(r) => r.get("deletionTimestamp").asLong() <= cutoff
          case None =>
            val p = new org.apache.hadoop.fs.Path(full)
            p.getFileSystem(Fs.conf(spark)).getFileStatus(p).getModificationTime <= cutoff
        }
      }
    victims.foreach { case (full, _) => Fs.deleteIfExists(spark, full) }
    val root = new org.apache.hadoop.fs.Path(table)
    // the raw filesystem: the checksum one hides `.crc` sidecars
    val raw = root.getFileSystem(Fs.conf(spark)) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }
    val rootEntries = raw.listStatus(root).toSeq
    val deadScratch = rootEntries
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(".scratch_"))
      .filter { d =>
        val files = Fs.listFileStats(spark, d.getPath.toString, _ => true).map(_._3)
        (d.getModificationTime +: files).max <= cutoff
      }
    deadScratch.foreach(d => Fs.deleteRec(spark, d.getPath.toString))
    // a committer killed between writing its `.tmp_<uuid>` and linking it
    // into the log leaves the temp and its `..tmp_<uuid>.crc` sidecar; the
    // sidecar is matched on its own, since a commit that died after
    // unlinking the temp leaves only the sidecar
    val deadTemps = rootEntries
      .filter(f => f.isFile && (f.getPath.getName.startsWith(".tmp_") ||
        f.getPath.getName.startsWith("..tmp_")) && f.getModificationTime <= cutoff)
    deadTemps.foreach(f => raw.delete(f.getPath, false))
    victims.size + deadScratch.size + deadTemps.count(_.getPath.getName.startsWith(".tmp_"))
  }

  /** Overwrite: one commit that removes every currently-live file and
    * adds `df`'s files — Delta's `mode("overwrite")`. The remove set is
    * recomputed against the LATEST snapshot inside the commit loop, so
    * an overwrite racing an append retires the raced files too (last-
    * writer-wins table semantics). Prior versions stay readable by time
    * travel until [[vacuum]], and `txn` watermarks are not files, so a
    * streaming writer's replayed batch still skips after an overwrite.
    * Returns the committed version. */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    require(latestVersion(spark, table) < 0 ||
        replay(spark, table, -1L).partitionColumns.isEmpty,
      s"overwrite on partitioned table $table unsupported (adds would drop partitionValues)")
    val scratch = writeScratch(spark, table, df)
    val schema = df.schema
    val mine = adoptParts(spark, table, scratch)
    commit(spark, table, parent =>
      if (parent < 0) Seq(protocolJson, metaDataJson(schema)) ++
        mine.map { case (path, size, _) => addJson(path, size) }
      else {
        val (_, live, _) = snapshot(spark, table, parent)
        live.map(removeJson(_)) ++ mine.map { case (path, size, _) => addJson(path, size) }
      })
  }

  /** The live files whose rows intersect `hits` (a frame that still
    * carries `_metadata.file_path`), as relative paths — the
    * touched-file discovery shared by [[deleteWhere]] and [[merge]].
    * The collect is FILE-COUNT-sized (paths, not rows). */
  private def touchedFiles(spark: SparkSession, table: String,
                           hits: DataFrame): Seq[String] = {
    val absPrefix = new org.apache.hadoop.fs.Path(table).toUri.getPath
    hits.select(org.apache.spark.sql.functions.col("_file")).distinct()
      .collect().map(_.getString(0))
      .map { abs =>
        val p = new org.apache.hadoop.fs.Path(abs).toUri.getPath
        require(p.startsWith(absPrefix + "/"), s"file $p outside table $table")
        p.drop(absPrefix.length + 1)
      }.toSeq
  }

  private def withFilePath(spark: SparkSession, table: String, st: State): DataFrame =
    scan(spark, table, st.live.toSeq, st)
      .withColumn("_file", org.apache.spark.sql.functions.col("_metadata.file_path"))

  /** Copy-on-write DELETE (Delta's `DELETE WHERE` for unpartitioned
    * tables): ONLY the files containing matching rows are rewritten —
    * discovery is one pushdown-friendly scan keeping `_metadata
    * .file_path`, rewrite is one scan of just the touched files with the
    * predicate negated, and the commit retires touched files and adds
    * their survivors (`dataChange = true` on both, Delta's DELETE
    * shape — the streaming tail / change feed correctly refuse across
    * it). Untouched files — at 100 TB, almost all of them when the
    * predicate is selective or stats-pruned — are never read twice,
    * never rewritten. Returns (version, touched, rewrittenFiles);
    * a no-match delete commits NOTHING and returns the current version.
    * Partition-aligned deletes on partitioned tables go through the
    * metadata-only [[deletePartitions]] instead. */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: Column): (Long, Int, Int) = {
    val st = replay(spark, table, -1L)
    require(st.partitionColumns.isEmpty,
      s"deleteWhere on partitioned $table unsupported — partition-aligned " +
        "deletes are metadata-only via deletePartitions; row-level deletes " +
        "inside partitions would need per-partition rewrite plumbing")
    require(st.columnMappingMode == "none",
      s"deleteWhere on column-mapped $table unsupported (the rewrite would write logical names)")
    if (st.live.isEmpty) return (st.version, 0, 0)
    val touched = touchedFiles(spark, table, withFilePath(spark, table, st).filter(predicate))
    if (touched.isEmpty) return (st.version, 0, 0)
    val survivors = scan(spark, table, touched.map(p => p -> st.live(p)), st).filter(!predicate)
    val scratch = writeScratch(spark, table, survivors)
    val mine = adoptParts(spark, table, scratch)
    val v = commit(spark, table, _ =>
      touched.map(removeJson(_)) ++ mine.map { case (p, size, _) => addJson(p, size) })
    (v, touched.size, mine.size)
  }

  /** The protocol action a first deletion-vector commit must emit:
    * minReaderVersion 3 / minWriterVersion 7 with `deletionVectors` in
    * both feature lists, PLUS every feature the table's previous
    * legacy protocol version implied (the spec forbids an upgrade from
    * silently dropping implied features). None when the current
    * protocol already announces deletionVectors. */
  private def dvProtocolUpgrade(cur: Option[com.fasterxml.jackson.databind.JsonNode]): Option[String] = {
    def feats(key: String): Seq[String] = cur.toSeq
      .flatMap(p => Option(p.get(key)).toSeq)
      .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
    val readerV = cur.flatMap(p => Option(p.get("minReaderVersion"))).map(_.asInt()).getOrElse(1)
    val writerV = cur.flatMap(p => Option(p.get("minWriterVersion"))).map(_.asInt()).getOrElse(2)
    if (readerV == 3 && feats("readerFeatures").contains("deletionVectors")) return None
    val legacyReader = readerV match {
      case 1 => Seq.empty
      case 2 => Seq("columnMapping")
      case _ => feats("readerFeatures")
    }
    // legacy writer versions imply cumulative feature sets (PROTOCOL.md
    // "Table Features" legacy mapping)
    val legacyWriterByV = Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("generatedColumns", "changeDataFeed"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
    val legacyWriter =
      if (writerV >= 7) feats("writerFeatures")
      else legacyWriterByV.filter(_._1 <= writerV).flatMap(_._2)
    val root: ObjectNode = M.createObjectNode()
    val p = root.putObject("protocol")
    p.put("minReaderVersion", 3)
    p.put("minWriterVersion", 7)
    val rf = p.putArray("readerFeatures")
    (legacyReader :+ "deletionVectors").distinct.foreach(rf.add)
    val wf = p.putArray("writerFeatures")
    (legacyWriter :+ "deletionVectors").distinct.foreach(wf.add)
    Some(M.writeValueAsString(root))
  }

  /** MERGE-ON-READ DELETE via deletion vectors (Delta's `DELETE` under
    * the `deletionVectors` table feature): instead of rewriting every
    * touched file ([[deleteWhere]]'s copy-on-write), each touched file
    * gains a serialized bitmap of its deleted PHYSICAL row positions —
    * the commit is `remove` + re-`add` of the SAME file with a
    * `deletionVector` descriptor, and [[read]] masks the positions at
    * scan time. THE 100 TB shape: a selective delete writes kilobytes
    * of bitmap per touched file instead of re-writing terabytes of
    * parquet, and untouched files aren't even listed twice. Work
    * division: position discovery is one DV-masked scan (so a SECOND
    * delete unions with existing vectors instead of resurrecting or
    * double-counting); per-file bitmaps serialize and write ON
    * EXECUTORS (one DV file per touched data file); the driver sees
    * only file-count-sized descriptors and commits them. The first DV
    * commit upgrades the protocol action to announce the feature, so a
    * foreign reader honoring PROTOCOL.md refuses or applies — never
    * reads wrong. Superseded DV files (from earlier deletes on the
    * same file) become unreferenced `.bin` orphans; [[vacuum]]
    * deliberately only reclaims `.parquet`, so they linger — bitmap-
    * sized, not data-sized. Returns (version, touched relative paths,
    * rows newly deleted); no matches commits NOTHING. Refuses on
    * partitioned or column-mapped tables (same plumbing boundary as
    * [[deleteWhere]]/[[merge]]). */
  def deleteWhereDv(spark: SparkSession, table: String,
                    predicate: Column): (Long, Seq[String], Long) = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    val st = replay(spark, table, -1L, allowDv = true)
    require(st.partitionColumns.isEmpty,
      s"deleteWhereDv on partitioned $table unsupported — partition-aligned " +
        "deletes are metadata-only via deletePartitions")
    require(st.columnMappingMode == "none",
      s"deleteWhereDv on column-mapped $table unsupported")
    if (st.live.isEmpty) return (st.version, Seq.empty, 0L)
    val relByName = st.live.keys.toSeq
      .map(p => new org.apache.hadoop.fs.Path(p).getName -> p).toMap
    // positions of NEWLY matching rows, per file — the masked scan
    // already excludes rows earlier vectors deleted
    val hits = scan(spark, table, st.live.toSeq, st)
      .filter(predicate)
      .select(filePosition: _*)
    import spark.implicits._
    val perFile = hits.groupBy("_gf_file")
      .agg(sort_array(collect_list(col("_gf_pos"))).as("ps"))
      .as[(String, Seq[Long])]
    val oldDesc: Map[String, (DvDescriptor, String)] = liveDvAdds(st).map { case (p, add) =>
      val d = parseDvDescriptor(add.get("deletionVector"))
      new org.apache.hadoop.fs.Path(p).getName -> (d, dvAbsPath(spark, table, d))
    }.toMap
    val conf = new SerializableHadoopConf(Fs.conf(spark))
    val tableQ = {
      val p = new org.apache.hadoop.fs.Path(table)
      p.getFileSystem(Fs.conf(spark)).makeQualified(p).toString
    }
    // per touched file, ON AN EXECUTOR: union new positions with the
    // file's existing vector and write one fresh DV file
    val results: Array[(String, DvDescriptor, Long)] = perFile.mapPartitions { it =>
      val c = conf.toConf
      it.map { case (fn, newPs) =>
        val old = oldDesc.get(fn) match {
          case Some((d, abs)) => DeletionVectors.loadPositions(c, d, abs)
          case None => Array.empty[Long]
        }
        val desc = DeletionVectors.writeDvFile(c, tableQ, old ++ newPs.toArray)
        (fn, desc, newPs.size.toLong)
      }
    }.collect()
    if (results.isEmpty) return (st.version, Seq.empty, 0L)
    val newDesc = results.map(r => r._1 -> r._2).toMap
    val touched = results.map(r => relByName(r._1)).toSeq.sorted
    val v = commit(spark, table, parent => {
      val cur = replay(spark, table, parent, allowDv = true)
      require(touched.forall(cur.live.contains),
        s"deleteWhereDv raced a rewrite on $table (a touched file was retired); " +
          "re-run against the new state")
      dvProtocolUpgrade(cur.protocol).toSeq ++ touched.flatMap { rel =>
        val d = newDesc(new org.apache.hadoop.fs.Path(rel).getName)
        val addCopy = cur.live(rel).deepCopy[ObjectNode]()
        val dv = addCopy.putObject("deletionVector")
        dv.put("storageType", d.storageType)
        dv.put("pathOrInlineDv", d.pathOrInlineDv)
        dv.put("offset", d.offset)
        dv.put("sizeInBytes", d.sizeInBytes)
        dv.put("cardinality", d.cardinality)
        addCopy.put("dataChange", true)
        Seq(removeJson(rel), wrapNode("add", addCopy))
      }
    })
    (v, touched, results.map(_._3).sum)
  }

  /** REORG ... APPLY (PURGE): materialize deletion vectors — every
    * vector-carrying live file is rewritten WITHOUT its masked rows
    * and recommitted vector-free, in one commit whose remove+add pairs
    * are all `dataChange=false` (table content is unchanged, so
    * streaming tails and change feeds skip it, exactly like OPTIMIZE).
    * This pays off the merge-on-read debt: after a purge the raw-
    * consuming paths (change feed, OPTIMIZE, restore, clone, COW DML)
    * work again. Only the DV'd files are read or written — the clean
    * majority of a 100 TB table is never touched (file-list pruning at
    * the metadata layer). Vector `.bin` files become unreferenced
    * orphans, bitmap-sized. Returns (version, filesPurged); a table
    * with no vectors commits NOTHING. */
  def reorgPurge(spark: SparkSession, table: String): (Long, Int) = {
    val st = replay(spark, table, -1L, allowDv = true)
    require(st.partitionColumns.isEmpty,
      s"reorgPurge on partitioned $table unsupported (same boundary as deleteWhereDv)")
    require(st.columnMappingMode == "none",
      s"reorgPurge on column-mapped $table unsupported")
    val dvAdds = liveDvAdds(st)
    if (dvAdds.isEmpty) return (st.version, 0)
    val survivors = scan(spark, table, dvAdds, st)
    val scratch = writeScratch(spark, table, survivors)
    val mine = adoptParts(spark, table, scratch)
    val purged = dvAdds.map(_._1)
    val v = commit(spark, table, parent => {
      val cur = replay(spark, table, parent, allowDv = true)
      require(purged.forall(cur.live.contains),
        s"reorgPurge raced a rewrite on $table (a purged file was retired); " +
          "re-run against the new state")
      purged.map(removeJson(_, dataChange = false)) ++
        mine.map { case (p, size, _) => addJson(p, size, dataChange = false) }
    })
    (v, purged.size)
  }

  /** METADATA-ONLY partition delete: dropping whole partitions (the
    * retention sweep every 100 TB table runs nightly) is remove actions
    * alone — no file is read, no byte rewritten. `want` uses Delta's
    * stringified partition-value encoding: a live file goes when every
    * queried column's value equals the given string. Returns (version,
    * removedFiles); no matches commits nothing. */
  def deletePartitions(spark: SparkSession, table: String,
                       want: Map[String, String]): (Long, Int) = {
    val st = replay(spark, table, -1L)
    require(st.partitionColumns.nonEmpty, s"$table is not partitioned")
    val paths = st.live.toSeq.filter { case (_, add) =>
      val vals = partitionValuesOf(add, st.partitionColumns).toMap
      want.forall { case (c, v) => vals.get(c).flatten.contains(v) }
    }.map(_._1)
    if (paths.isEmpty) return (st.version, 0)
    val v = commit(spark, table, _ => paths.map(removeJson(_)))
    (v, paths.size)
  }

  /** Copy-on-write MERGE (upsert): whole-row replace by key — target
    * rows whose key appears in `source` are replaced, source rows with
    * new keys are inserted (Delta's `MERGE ... WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *`). Only files CONTAINING a
    * matched key are rewritten: discovery is a semi-join of the target
    * scan (with `_metadata.file_path`) against the source keys —
    * Catalyst broadcasts the key side when small, exactly the plan a
    * dimension-sized upsert wants at 100 TB — then one commit retires
    * touched files and adds (touched survivors ∪ source). Unmatched-
    * key-only merges rewrite nothing and append exactly the inserts.
    * Returns (version, touchedFiles, sourceRows is NOT returned — row
    * counts are the caller's query, file counts are the operator's). */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            keyCols: Seq[String], txn: Option[(String, Long)] = None): (Long, Int) = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "merge needs at least one key column")
    txn.foreach { case (appId, batchId) =>
      // exactly-once streaming upsert (CDC apply via foreachBatch): a
      // replayed micro-batch is detected against the txn watermark and
      // skipped BEFORE any scan — same idempotence rule as appendBatch
      if (lastTxnVersion(spark, table, appId) >= batchId)
        return (latestVersion(spark, table), 0)
    }
    val exists = latestVersion(spark, table) >= 0
    // None: merge-into-missing = create
    val st = if (exists) Some(replay(spark, table, -1L)) else None
    st.foreach { s =>
      require(s.partitionColumns.isEmpty,
        s"merge on partitioned $table unsupported (same plumbing as deleteWhere)")
      require(s.columnMappingMode == "none",
        s"merge on column-mapped $table unsupported (the rewrite would write logical names)")
      require(s.schema.fieldNames.sameElements(source.schema.fieldNames),
        s"merge source columns ${source.schema.fieldNames.mkString(",")} != " +
          s"table ${s.schema.fieldNames.mkString(",")} (whole-row upsert)")
    }
    // Materialize the source once when merging into an EXISTING table
    // (Delta's own MERGE does the same — `materializeSource`): the plan
    // below consumes it three times — distinct keys for the touched-file
    // probe, the same keys again in the survivors anti-join, and the
    // whole source unioned into the rewrite — so an expensive source
    // subtree (pipe_scd2_delta's window chain) is otherwise recomputed
    // per consumer (StageProf r15: the chain ran in all three heavy
    // stages). The consumers are SEQUENTIAL actions (touchedFiles'
    // collect, then the survivors write), so a lazy persist suffices;
    // Scratch.release frees the blocks between queries. The create path
    // (!exists) reads the source exactly once and skips the persist.
    val src = if (exists) graft.operators.Scratch.persist(source) else source
    val schema = st.fold(source.schema)(_.schema)
    val srcKeys = src.select(keyCols.map(col): _*).distinct()
    val touched = st.filter(_.live.nonEmpty).fold(Seq.empty[String]) { s =>
      touchedFiles(spark, table, withFilePath(spark, table, s).join(srcKeys, keyCols, "left_semi"))
    }
    val survivors =
      if (touched.isEmpty) src
      else scan(spark, table, touched.map(p => p -> st.get.live(p)), st.get)
        .join(srcKeys, keyCols, "left_anti") // a USING join lists its keys first
        .select(schema.fieldNames.map(col).toSeq: _*)
        .unionAll(src.select(schema.fieldNames.map(col).toSeq: _*))
    val scratch = writeScratch(spark, table, survivors)
    val mine = adoptParts(spark, table, scratch)
    try {
      val v = commit(spark, table, parent => {
        txn.foreach { case (appId, batchId) =>
          if (lastTxnVersion(spark, table, appId) >= batchId)
            throw new AlreadyCommitted // lost to a concurrent replay of the same batch
        }
        (if (parent < 0) Seq(protocolJson, metaDataJson(schema)) else Seq.empty) ++
          touched.map(removeJson(_)) ++ mine.map { case (p, size, _) => addJson(p, size) } ++
          txn.map { case (appId, batchId) => txnJson(appId, batchId) }.toSeq
      })
      (v, touched.size)
    } catch {
      case _: AlreadyCommitted => (latestVersion(spark, table), 0)
    }
  }

  /** RESTORE to an earlier version (Delta's `RESTORE TABLE ... TO
    * VERSION AS OF`): ONE metadata commit whose actions are exactly the
    * file-level diff — re-`add` every file live at `toVersion` but not
    * now (its original add node, stats and partitionValues intact,
    * `dataChange=true` as the protocol's RESTORE emits), `remove` every
    * file live now but absent then, and re-emit `toVersion`'s metaData
    * when schema/partitioning evolved in between. No data file is read
    * or written — at 100 TB a restore costs the same as at 100 MB.
    * History is PRESERVED (restore is a new version on top; time travel
    * between the two still works), and the streaming tail / change feed
    * correctly refuse across it, since it removes data. Refuses loudly
    * if a file to re-add was already vacuumed (same failure mode as
    * Delta itself). Returns (newVersion, filesReAdded, filesRemoved). */
  def restore(spark: SparkSession, table: String, toVersion: Long): (Long, Int, Int) = {
    val target = replay(spark, table, toVersion)
    target.live.keys.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(resolvedPath(table, p))
      require(hp.getFileSystem(Fs.conf(spark)).exists(hp),
        s"cannot restore $table to v$toVersion: data file $p was vacuumed")
    }
    var (readds, drops) = (0, 0)
    val v = commit(spark, table, parent => {
      val cur = replay(spark, table, parent)
      val readd = target.live.toSeq.filterNot { case (p, _) => cur.live.contains(p) }
      val drop = cur.live.keys.filterNot(target.live.contains).toSeq
      readds = readd.size; drops = drop.size
      val meta =
        if (cur.metaData.map(_.get("schemaString").asText()) !=
              target.metaData.map(_.get("schemaString").asText()) ||
            cur.partitionColumns != target.partitionColumns)
          target.metaData.map(wrapNode("metaData", _)).toSeq
        else Seq.empty
      meta ++ drop.map(removeJson(_)) ++ readd.map { case (_, add) =>
        val n = add.deepCopy[ObjectNode]()
        n.put("dataChange", true)
        wrapNode("add", n)
      }
    })
    (v, readds, drops)
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`): a
    * brand-new table whose version-0 commit references the SOURCE's
    * live data files by absolute path — protocol-legal (`add.path` may
    * be absolute) and readable by [[read]] through
    * [[resolvedPath]]. Zero bytes of data move: cloning a 100 TB table
    * is one metadata-sized commit. The clone is immutable-by-reference:
    * later source commits don't affect it (its log pins the file list),
    * source VACUUM is the one coupling (as in Delta, vacuuming the
    * source can strand a shallow clone — the clone's own vacuum never
    * touches absolute-path files because it only lists under its own
    * root). Appends into the clone land normally under the clone's
    * root; copy-on-write DML refuses on out-of-root files (materialize
    * first), matching the guard in [[touchedFiles]]. Returns version 0
    * of the clone. */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
                   version: Long = -1L): Long = {
    val st = replay(spark, src, version)
    require(latestVersion(spark, dst) < 0, s"clone target $dst already has a Delta log")
    val srcAbs = new org.apache.hadoop.fs.Path(src).toUri.getPath
    val adds = st.live.values.toSeq.map { n =>
      val c = n.deepCopy[ObjectNode]()
      val p = c.get("path").asText()
      if (!(p.startsWith("/") || p.contains("://"))) c.put("path", s"$srcAbs/$p")
      wrapNode("add", c)
    }
    commit(spark, dst, parent => {
      require(parent < 0, s"clone target $dst gained a log concurrently")
      Seq(protocolJson) ++ st.metaData.map(wrapNode("metaData", _)).toSeq ++ adds
    })
  }
}
