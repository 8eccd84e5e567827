package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated name filter — dev loop only;
    // the driver always passes two args and gets the full surface]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.build()
    // Fit to THIS fixture before any query runs or any oracle SQL is
    // dumped — explicit here so a filtered run that executes no deriving
    // query still dumps synced oracles.
    Session.fitTo(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // DuckDB oracle timestamps are tz-naive; Spark TimestampType writes
    // isAdjustedToUTC=true parquet (reads back tz-aware). Session TZ is
    // UTC, so casting to TIMESTAMP_NTZ is value-preserving and makes both
    // sides byte-comparable.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == TimestampType)
          d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else d
      }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release query-scoped persisted relations between queries
      graft.operators.Scratch.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
