package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-fixture generator for the measured scale proof (SCALE.md):
  * replicates every fixture table `copies`× with DISJOINT key spaces —
  * copy k remaps each entity key to `key + k·stride` where stride is
  * the key's domain size — so the scaled corpus models "10× more
  * customers/orders/documents behaving the same", not "the same keys
  * 10× hotter". Foreign keys remap with the same stride as their
  * referenced primary key, so join fan-outs and per-key group sizes are
  * PRESERVED (the per-order co-part graph, per-document shingle sets,
  * and per-key aggregates stay fixture-shaped; only their count grows).
  *
  * Content columns that drive similarity operators are deterministically
  * perturbed per copy — otherwise every document/vector would acquire
  * 9 artificial near-duplicates and candidate generation would grow
  * quadratically in copies rather than linearly in corpus size:
  *  - `documents.text`: copy k≥1 rewrites every 5th token (by position
  *    mod 5 ≡ k mod 5) with a copy-salted suffix — shingle Jaccard
  *    across copies collapses (nearly every 5-shingle touches a salted
  *    token) while within-copy structure (the fixture's intrinsic
  *    near-dup pairs) is untouched;
  *  - `embeddings.embedding`: copy k≥1 adds a small deterministic
  *    per-dimension offset, separating copies in cosine space.
  * Copy 0 is the original fixture byte-for-byte.
  *
  * The tiny dims (region, nation) copy unscaled, like TPC-H itself.
  *
  * Usage: MakeScale <srcSfDir> <dstDir> [copies=10] [dense-events]
  *
  * `dense-events` (r14) switches to [[buildDenseEvents]]: the
  * ORTHOGONAL scaling axis where per-user event density grows instead
  * of the user count.
  */
object MakeScale {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val dense = args.lift(3).contains("dense-events")
    // Session writes TIMESTAMP(MICROS), not the legacy INT96 default, so
    // downstream footer probes (Tables.events) and external readers see
    // the same logical type the shipped fixtures use
    val spark = graft.Session.build()
    if (dense) buildDenseEvents(spark, src, dst, copies)
    else build(spark, src, dst, copies)
    spark.stop()
  }

  private val k = col("__k")

  private def read(spark: SparkSession, src: String, name: String): DataFrame =
    spark.read.schema(graft.Schemas.byName(name)).parquet(s"$src/$name.parquet")

  private def stride(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1

  /** Cross-join with the copy index: ONE scan of the source feeds all
    * copies (a union of per-copy reads would scan `copies` times). */
  private def withCopies(spark: SparkSession, df: DataFrame, copies: Int): DataFrame =
    df.crossJoin(spark.range(copies).select(col("id").as("__k")))

  private def write(df: DataFrame, dst: String, name: String, files: Int): Unit = {
    // timestamps write NAIVE µs (timestamp_ntz -> isAdjustedToUTC=false),
    // byte-matching the shipped pyarrow fixtures' logical type: DuckDB then
    // reads the scaled fixture tz-naive exactly like /root/testdata, so
    // oracle outputs keep the dtype Verify's NTZ-cast outputs compare
    // against. (Values are identical under the engine-wide UTC session TZ.)
    val tsCols = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampType => f.name }
    val ntz = tsCols.foldLeft(df.drop("__k"))(
      (d, c) => d.withColumn(c, col(c).cast("timestamp_ntz")))
    ntz.repartition(files)
      .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    // scalastyle:off println
    println(s"[scale] wrote $name")
    // scalastyle:on println
  }

  def build(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val li = read(spark, src, "lineitem")
    val ord = read(spark, src, "orders")
    val cust = read(spark, src, "customer")
    val part = read(spark, src, "part")
    val sup = read(spark, src, "supplier")
    val okS = stride(ord, "o_orderkey")
    val ckS = stride(cust, "c_custkey")
    val pkS = stride(part, "p_partkey")
    val skS = stride(sup, "s_suppkey")

    def remap(c: String, s: Long): Column = (col(c) + k * s).as(c)

    write(withCopies(spark, li, copies).select(
      remap("l_orderkey", okS), remap("l_partkey", pkS), remap("l_suppkey", skS),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")), dst, "lineitem", 32)

    write(withCopies(spark, ord, copies).select(
      remap("o_orderkey", okS), remap("o_custkey", ckS), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      dst, "orders", 16)

    // c_name derives from the REMAPPED key (the fixture's own convention:
    // every c_name == printf('Customer#%09d', c_custkey)) rather than
    // copying verbatim — verbatim copies gave every customer `copies`
    // identical-name clones, so name-similarity operators (op_fuzzy_join)
    // grew quadratically in copies (202M result rows at x100, an
    // 11-billion-pair naive oracle) instead of linearly in corpus size:
    // the exact "same keys N× hotter" anti-model the header forbids, the
    // name analogue of the documents.text / embeddings salting above.
    write(withCopies(spark, cust, copies).select(
      remap("c_custkey", ckS),
      format_string("Customer#%09d", col("c_custkey") + k * ckS).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      dst, "customer", 8)

    write(withCopies(spark, part, copies).select(
      remap("p_partkey", pkS), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")), dst, "part", 8)

    write(withCopies(spark, sup, copies).select(
      remap("s_suppkey", skS), col("s_name"), col("s_nationkey"),
      col("s_acctbal")), dst, "supplier", 4)

    // events goes through the unit-probing loader (the source fixture's ts
    // may be µs- or ns-encoded); the scaled copy is always written as
    // Spark's native TimestampType → parquet TIMESTAMP(MICROS), so scaled
    // fixtures are uniformly µs regardless of the source generation.
    val ev = graft.sources.Tables.events(spark, src)
    val evS = stride(ev, "event_id")
    val usS = stride(ev, "user_id")
    write(withCopies(spark, ev, copies).select(
      remap("event_id", evS), col("ts"), remap("user_id", usS),
      col("event_type"), col("value"), col("props")), dst, "events", 16)

    val docs = read(spark, src, "documents")
    val docS = stride(docs, "doc_id")
    val salted = expr(
      """array_join(transform(split(text, ' '),
        |  (t, i) -> if(i % 5 = __k % 5, concat(t, '_', __k), t)), ' ')""".stripMargin)
    write(withCopies(spark, docs, copies).select(
      remap("doc_id", docS),
      when(k === 0, col("text")).otherwise(salted).as("text"),
      col("lang"), col("source"),
      when(k === 0, col("n_chars"))
        .otherwise(length(salted).cast("long")).as("n_chars")),
      dst, "documents", 8)

    val emb = read(spark, src, "embeddings")
    val vecS = stride(emb, "vec_id")
    val shifted = expr(
      "transform(embedding, (x, i) -> cast(x + 0.01d * ((__k * 31 + i) % 7 - 3) as float))")
    write(withCopies(spark, emb, copies).select(
      remap("vec_id", vecS),
      when(k === 0, col("embedding")).otherwise(shifted).as("embedding"),
      col("label")), dst, "embeddings", 8)

    for (t <- Seq("region", "nation"))
      write(read(spark, src, t).withColumn("__k", lit(0L)), dst, t, 1)
  }

  /** DENSE-EVENTS fixture (r14, verdict optional item 8): scale the
    * events table's PER-USER density one decade instead of the user
    * count. Copy k keeps `user_id` UNCHANGED, remaps `event_id` into a
    * disjoint space, and shifts `ts` by k·(span + 1 h) — each user
    * accumulates `copies`× the history (copies× the rows per
    * partitionBy(user_id) window/sort partition, copies× the sessions,
    * copies× the funnel/path/attribution candidates per user), while
    * every OTHER table copies byte-identically. [[build]] deliberately
    * preserves per-key group sizes ("more users behaving the same");
    * this is the orthogonal axis it cannot exercise — the per-user
    * state growth that stresses window sorts, sessionization state,
    * and streaming per-key stores. The ts shift places each copy's
    * epoch strictly after the last (plus an hour of silence), so
    * session boundaries, watermark semantics, and day-level rollups
    * inside each epoch keep the fixture's own shape. */
  def buildDenseEvents(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val ev = graft.sources.Tables.events(spark, src)
    val evS = stride(ev, "event_id")
    val span = ev.agg((unix_timestamp(max(col("ts"))) -
      unix_timestamp(min(col("ts")))).as("s")).head().getLong(0) + 3600L
    write(withCopies(spark, ev, copies).select(
      (col("event_id") + k * evS).as("event_id"),
      expr(s"timestampadd(SECOND, __k * $span, ts)").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props")),
      dst, "events", 16)
    val files = Map("region" -> 1, "nation" -> 1, "customer" -> 8, "supplier" -> 4,
      "part" -> 8, "orders" -> 16, "lineitem" -> 32, "documents" -> 8, "embeddings" -> 8)
    for ((t, n) <- files.toSeq.sortBy(_._1))
      write(read(spark, src, t).withColumn("__k", lit(0L)), dst, t, n)
  }
}
