package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Source/sink format breadth beyond parquet + JSON-lines: CSV and ORC
  * write→read roundtrips (the formats a reference user would hand this
  * engine next). Each op writes the fixture table in the target format
  * under scratch, reads it back schema-asserted (no inference scan),
  * and returns a checksum summary — the oracle computes the same
  * checksums from the original parquet, so a value corrupted anywhere
  * in the encode/decode path fails the hash compare. Timestamps carry
  * explicit µs formats in text formats; doubles round-trip exactly via
  * shortest-repr encoding. */
object FormatRoundtrips {

  private val P = 1000000007L
  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private def scratch(sfDir: String, fmt: String): String = {
    val tag = java.nio.file.Paths.get(sfDir).getFileName.toString
    s"${graft.Session.pipeDir}/fmt/${fmt}_$tag"
  }

  private def summarize(df: DataFrame, fmt: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(expr(s"o_orderkey % $P")).as("key_check"),
      sum(expr(s"unix_micros(o_orderdate) % $P")).as("time_check"),
      sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(lit(fmt).as("fmt"), col("n_rows"), col("key_check"),
        col("time_check"), col("price_check"))

  private def oracleFor(fmt: String): String =
    s"""SELECT '$fmt' AS fmt, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(epoch_us(o_orderdate) % $P)::BIGINT AS time_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders""".stripMargin

  /** CSV roundtrip (header + explicit µs timestamp format; read is
    * schema-asserted so no inference pass touches the files). */
  def opCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch(sfDir, "csv")
    Tables.orders(spark, sfDir).write.mode("overwrite")
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(dir)
    summarize(spark.read.schema(graft.Schemas.orders)
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(dir), "csv")
  }

  /** ORC roundtrip (columnar alternative to parquet; schema-asserted). */
  def opOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch(sfDir, "orc")
    Tables.orders(spark, sfDir).write.mode("overwrite").orc(dir)
    summarize(spark.read.schema(graft.Schemas.orders).orc(dir), "orc")
  }

  /** JSON-lines roundtrip — the reference's own interchange format
    * (reference pipeline/data.py:118 serializes ISO timestamps to
    * JSON-lines; [[graft.streaming.Ingest]] reads them streaming, this
    * entry proves the BATCH write+read round trip): explicit timestamp
    * format on both sides, schema-asserted read so no inference pass
    * touches the files, checksummed against the parquet fixture. */
  def opJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch(sfDir, "json")
    Tables.orders(spark, sfDir).write.mode("overwrite")
      .option("timestampFormat", TsFmt)
      .json(dir)
    summarize(spark.read.schema(graft.Schemas.orders)
      .option("timestampFormat", TsFmt)
      .json(dir), "json")
  }

  /** Hive-style partitioned layout + partition pruning: write orders
    * partitioned by order year, then read back with a partition
    * predicate — the scan must touch ONLY that year's directory
    * (PartitionFilters in the plan, asserted in PlanSpec), which at
    * 100 TB is the difference between scanning a day and scanning a
    * decade. The checksum oracle recomputes the same year's rows from
    * the unpartitioned fixture. */
  def opPartitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch(sfDir, "part")
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    prunedRead(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"unix_micros(o_orderdate) % $P")).as("time_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(lit("part1997").as("fmt"), col("n_rows"), col("key_check"),
        col("time_check"), col("price_check"))
  }

  /** The pruned scan itself (shared with the PlanSpec assertion). */
  def prunedRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).filter(col("o_year") === 1997)

  private val opPartitionedWriteSql: String =
    s"""SELECT 'part1997' AS fmt, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(epoch_us(o_orderdate) % $P)::BIGINT AS time_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders WHERE year(o_orderdate) = 1997""".stripMargin

  /** Schema evolution: a reader over files written under DIFFERENT
    * schema versions (v1 without, v2 with a later-added column), merged
    * with `mergeSchema` — the capability every long-lived ingestion
    * layout needs (the reference's staged tables would hit this on any
    * producer upgrade). The summary separates v1 rows (added column
    * must read as NULL) from v2 rows (values intact); the oracle
    * recomputes both populations from the base table, so wrong null
    * semantics or column misalignment fails the hash. */
  def opSchemaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch(sfDir, "evo")
    val orders = Tables.orders(spark, sfDir)
    // v1 producer: no o_totalprice yet; v2 producer: adds it.
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/v1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
    merged.agg(
      count(lit(1)).as("n_rows"),
      sum(expr(s"o_orderkey % $P")).as("key_check"),
      count(col("o_totalprice")).as("n_with_price"),
      sum(when(col("o_totalprice").isNull, expr(s"o_orderkey % $P"))).as("null_key_check"),
      sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(lit("evo").as("fmt"), col("n_rows"), col("key_check"),
        col("n_with_price"), col("null_key_check"), col("price_check"))
  }

  // the v2 population proxy is `o_orderkey % 2 = 1` AND a present
  // price: a v2 row whose o_totalprice is NULL in the base table reads
  // back NULL from the merged scan exactly like a v1 row, and the
  // engine's count(col)/isNull split classifies by VALUE presence, not
  // producer version (r10 null-jitter gate caught the proxy drift)
  private val opSchemaMergeSql: String =
    s"""SELECT 'evo' AS fmt, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  count(*) FILTER (o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL)::BIGINT
       |    AS n_with_price,
       |  sum(o_orderkey % $P) FILTER (o_orderkey % 2 = 0 OR o_totalprice IS NULL)::BIGINT
       |    AS null_key_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)
       |    FILTER (o_orderkey % 2 = 1)::BIGINT AS price_check
       |FROM orders""".stripMargin

  /** DYNAMIC PARTITION PRUNING — the 100 TB star-join capability on top
    * of [[opPartitionedWrite]]'s static form: the fact table is
    * partitioned by order year, and the dimension's filter is an
    * AGGREGATE property (years whose lineitem quantity exceeds 55% of
    * the max year — integer compare `q·100 > mx·55`, no static literal
    * Catalyst could propagate as a constraint), so the fact partitions
    * to read are only knowable at RUNTIME. Spark plans a
    * DynamicPruningExpression subquery into the fact scan's
    * PartitionFilters (asserted in PlanSpec via [[dppFact]]): the dim
    * side executes first, its broadcast is REUSED as the pruning filter,
    * and only the qualifying years' directories are ever listed/read —
    * on a decade-partitioned 100 TB fact this is the difference between
    * scanning the 4 qualifying years and all 10. The checksum oracle
    * recomputes the qualifying years and their rows from the
    * unpartitioned fixtures. */
  def opDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch(sfDir, "dpp")
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    dppFact(spark, sfDir, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(expr(s"o_orderkey % $P")).as("key_check"),
        sum(expr(s"unix_micros(o_orderdate) % $P")).as("time_check"),
        sum(expr(s"cast(round(o_totalprice * 100) as bigint) % $P")).as("price_check"))
      .select(lit("dpp").as("fmt"), col("n_rows"), col("key_check"),
        col("time_check"), col("price_check"))
  }

  /** The pruned fact join itself (shared with the PlanSpec DPP
    * assertion): partitioned fact ⋈ aggregate-filtered year dim. */
  def dppFact(spark: SparkSession, sfDir: String, dir: String): DataFrame = {
    val yearly = Tables.lineitem(spark, sfDir)
      .groupBy(year(col("l_shipdate")).as("y"))
      .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
    val dim = yearly
      .withColumn("mx", max(col("q")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("q") * 100 > col("mx") * 55)
      .select("y")
    spark.read.parquet(dir).join(dim, col("o_year") === col("y"))
  }

  private val opDppJoinSql: String =
    s"""WITH yearly AS (
       |  SELECT year(l_shipdate) AS y,
       |    sum(round(l_quantity * 100)::BIGINT)::BIGINT AS q
       |  FROM lineitem GROUP BY 1),
       |dim AS (
       |  SELECT y FROM (SELECT y, q, max(q) OVER () AS mx FROM yearly) t
       |  WHERE q * 100 > mx * 55)
       |SELECT 'dpp' AS fmt, count(*) AS n_rows,
       |  sum(o_orderkey % $P)::BIGINT AS key_check,
       |  sum(epoch_us(o_orderdate) % $P)::BIGINT AS time_check,
       |  sum(round(o_totalprice * 100)::BIGINT % $P)::BIGINT AS price_check
       |FROM orders JOIN dim ON year(o_orderdate) = dim.y""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "op_dpp_join" -> (opDppJoin _),
    "op_schema_merge" -> (opSchemaMerge _),
    "op_csv_roundtrip" -> (opCsvRoundtrip _),
    "op_orc_roundtrip" -> (opOrcRoundtrip _),
    "op_json_roundtrip" -> (opJsonRoundtrip _),
    "op_partitioned_write" -> (opPartitionedWrite _))

  val oracles: Map[String, String] = Map(
    "op_dpp_join" -> opDppJoinSql,
    "op_schema_merge" -> opSchemaMergeSql,
    "op_csv_roundtrip" -> oracleFor("csv"),
    "op_orc_roundtrip" -> oracleFor("orc"),
    "op_json_roundtrip" -> oracleFor("json"),
    "op_partitioned_write" -> opPartitionedWriteSql)
}
