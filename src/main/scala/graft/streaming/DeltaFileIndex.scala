package graft.streaming

import com.fasterxml.jackson.databind.JsonNode

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructType}

/** A Catalyst [[FileIndex]] backed by the Delta transaction log — the
  * NATIVE integration tier for the lakehouse format (public Delta
  * connectors sit on exactly this seam), and the file index of every
  * [[DeltaLog]] table scan ([[DeltaLog.read]], the change feed, the
  * streaming tail, the OPTIMIZE/DML rewrites): a set of add actions
  * and their `partitionValues` become a first-class file index, so
  * Catalyst plans ONE `FileSourceScanExec` whose
  * `PartitionFilters` — static predicates AND runtime
  * DynamicPruningExpressions alike — are evaluated HERE, against
  * log metadata, before any file is listed or read. `dataFilters`
  * additionally DATA-SKIP whole files by the add actions' named
  * min/max/nullCount stats (Delta's stats-based skipping), so a
  * selective predicate on a well-clustered column never opens the
  * files it cannot match.
  *
  * What that buys at 100 TB: partition pruning AND file skipping are
  * driver-side in-memory filters over the replayed log (no object-store
  * LIST at all — the index never touches the filesystem), dynamic
  * partition pruning over Delta facts works exactly as over Hive
  * layouts, and every downstream optimization keyed on
  * `HadoopFsRelation` (pushdown, column pruning, vectorized parquet)
  * applies unchanged.
  *
  * Values are PROTOCOL-LITERAL: the partition column is rebuilt from
  * `partitionValues` (cast per the schema, null for JSON null), never
  * parsed from file paths, so foreign flat-layout tables index
  * identically. [[DeltaLog.pruneFiles]] lists through the same index,
  * so the stats rule in `mayMatch` is the one data-skipping rule.
  *
  * `adds` carries (resolved file path, size, partition values in
  * partition-schema order, stats JSON if recorded) for the scanned
  * adds: a version's live set, or one commit's new files for the change
  * feed and the streaming tail — the index is an immutable snapshot, matching
  * Delta's read semantics (`refresh` is deliberately a no-op; a new
  * version is a NEW index, the same way it is a new log replay).
  */
final class DeltaFileIndex(
    spark: SparkSession,
    table: String,
    adds: Seq[(String, Long, Seq[(String, Option[String])], Option[String])],
    override val partitionSchema: StructType,
    val dataSchema: StructType)
  extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(table))

  /** Typed partition-value row per the log's stringified encoding —
    * the same string→type cast Spark applies to Hive directory names,
    * here applied to the log's partitionValues. */
  private def typedRow(vals: Seq[(String, Option[String])]): InternalRow = {
    val byName = vals.toMap
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
      byName.getOrElse(f.name, None) match {
        case Some(s) =>
          Cast(Literal.create(s, StringType), f.dataType, Some(tz)).eval(InternalRow.empty)
        case None => null
      }
    })
  }

  private case class FileEntry(status: FileStatus, stats: Option[JsonNode])

  /** Group the live set by partition tuple once; (typed row, files). */
  private lazy val directories: Seq[(InternalRow, Seq[FileEntry])] =
    adds.groupBy(_._3).toSeq
      .sortBy(_._1.map(_._2.getOrElse("")).mkString("/"))
      .map { case (vals, fs) =>
        typedRow(vals) -> fs.map { case (p, size, _, statsJson) =>
          FileEntry(new FileStatus(size, false, 1, 128L * 1024 * 1024, 0L, new Path(p)),
            statsJson.map(DeltaLog.parseJson))
        }
      }

  /** Columns whose recorded long-cast min/max are EXACT for skipping:
    * integral types (the stats writer records `cast(col as long)`
    * extremes, which truncate non-integral values — a fractional
    * column's stored bounds are not tight, so it is kept
    * conservatively; same for strings/timestamps). */
  private val skippableCols: Set[String] = dataSchema.fields.collect {
    case f if Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType, DateType).contains(f.dataType) => f.name
  }.toSet

  private def longOf(l: Literal): Option[Long] = l.value match {
    case null => None
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l2: Long => Some(l2)
    case _ => None
  }

  private def statLong(st: JsonNode, group: String, c: String): Option[Long] =
    Option(st.get(group)).flatMap(g => Option(g.get(c))).filter(_.isNumber).map(_.asLong())

  /** Can `file` possibly contain a row matching `f`? Unknown filter
    * shapes, missing stats, and non-integral columns all KEEP the file
    * — skipping is an optimization, never a correctness gate. */
  private def mayMatch(entry: FileEntry, f: Expression): Boolean = entry.stats match {
    case None => true
    case Some(st) =>
      def bounds(name: String): Option[(Long, Long)] =
        if (!skippableCols(name)) None
        else for {
          mn <- statLong(st, "minValues", name)
          mx <- statLong(st, "maxValues", name)
        } yield (mn, mx)
      f match {
        case EqualTo(a: Attribute, l: Literal) =>
          (bounds(a.name), longOf(l)) match {
            case (Some((mn, mx)), Some(v)) => mn <= v && v <= mx
            case _ => true
          }
        case EqualTo(l: Literal, a: Attribute) => mayMatch(entry, EqualTo(a, l))
        case GreaterThan(a: Attribute, l: Literal) =>
          (bounds(a.name), longOf(l)) match {
            case (Some((_, mx)), Some(v)) => mx > v
            case _ => true
          }
        case GreaterThan(l: Literal, a: Attribute) => mayMatch(entry, LessThan(a, l))
        case GreaterThanOrEqual(a: Attribute, l: Literal) =>
          (bounds(a.name), longOf(l)) match {
            case (Some((_, mx)), Some(v)) => mx >= v
            case _ => true
          }
        case GreaterThanOrEqual(l: Literal, a: Attribute) => mayMatch(entry, LessThanOrEqual(a, l))
        case LessThan(a: Attribute, l: Literal) =>
          (bounds(a.name), longOf(l)) match {
            case (Some((mn, _)), Some(v)) => mn < v
            case _ => true
          }
        case LessThan(l: Literal, a: Attribute) => mayMatch(entry, GreaterThan(a, l))
        case LessThanOrEqual(a: Attribute, l: Literal) =>
          (bounds(a.name), longOf(l)) match {
            case (Some((mn, _)), Some(v)) => mn <= v
            case _ => true
          }
        case LessThanOrEqual(l: Literal, a: Attribute) => mayMatch(entry, GreaterThanOrEqual(a, l))
        case IsNull(a: Attribute) =>
          statLong(st, "nullCount", a.name).forall(_ > 0)
        case IsNotNull(a: Attribute) =>
          (statLong(st, "nullCount", a.name),
            Option(st.get("numRecords")).filter(_.isNumber).map(_.asLong())) match {
            case (Some(nulls), Some(n)) => nulls < n
            case _ => true
          }
        case And(l, r) => mayMatch(entry, l) && mayMatch(entry, r)
        case _ => true
      }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) directories
      else {
        // Bind the filters to the partition schema by NAME (the scan
        // hands us attributes of the relation's partition columns) and
        // evaluate interpreted — the directory count is log-metadata
        // sized, never data sized. Name resolution is CASE-INSENSITIVE
        // (under spark.sql.caseSensitive=false the analyzer-resolved
        // attribute can differ in case from the log schema), and a
        // filter that fails to bind falls back to NO pruning for the
        // whole listing: pruning is an optimization and must never be
        // able to fail a read.
        def fieldIdx(name: String): Option[Int] = {
          val i = partitionSchema.indexWhere(_.name == name)
          if (i >= 0) Some(i)
          else Some(partitionSchema.indexWhere(_.name.equalsIgnoreCase(name)))
            .filter(_ >= 0)
        }
        val attrs = partitionFilters.reduce(And).collect { case a: Attribute => a }
        if (attrs.exists(a => fieldIdx(a.name).isEmpty)) directories
        else {
          val bound = partitionFilters.reduce(And).transform {
            case a: Attribute =>
              val idx = fieldIdx(a.name).get
              BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
          }
          val predicate = Predicate.createInterpreted(bound)
          predicate.initialize(0)
          directories.filter { case (row, _) => predicate.eval(row) }
        }
      }
    pruned.map { case (row, fs) =>
      val kept =
        if (dataFilters.isEmpty) fs
        else fs.filter(e => dataFilters.forall(f => mayMatch(e, f)))
      PartitionDirectory(row, kept.map(_.status).toArray)
    }.filter(_.files.nonEmpty) // a fully-skipped scan is an empty listing
  }

  override def inputFiles: Array[String] = adds.map(_._1).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = adds.map(_._2).sum
}
