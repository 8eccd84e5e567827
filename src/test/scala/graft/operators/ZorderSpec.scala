package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Proof that the z-order layout actually buys multi-dimensional data
  * skipping: write orders as 8 range-partitioned files under (1) the
  * z-value and (2) a plain single-column sort, read back each FILE's
  * min/max stats per dimension (exactly what a stats-aware reader —
  * Delta/Iceberg file stats, parquet row-group pruning — consults), and
  * count which files a 1/16-wide predicate slab could NOT skip. The
  * single-column layout prunes its own dimension and nothing else; the
  * z-layout prunes BOTH dimensions at once. */
class ZorderSpec extends SparkSpec {

  test("z-order files are prunable on BOTH dimensions; single-sort on one") {
    val base = s"${graft.Session.pipeDir}/zorder_test"
    val z = Relational.withZval(graft.sources.Tables.orders(spark, sf))
      .withColumn("days", datediff(col("o_orderdate"), lit("1970-01-01")).cast("bigint"))
      .select("o_orderkey", "o_custkey", "days", "zval")
    z.repartitionByRange(8, col("zval")).sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(s"$base/byz")
    z.repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$base/bykey")

    // fraction of files whose [min,max] intersects [lo,hi] — the files a
    // stats-aware reader must open
    def unprunable(dir: String, c: String, lo: Long, hi: Long): Double = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg(min(col(c)).as("l"), max(col(c)).as("h"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(spans.length == 8, s"expected 8 files, got ${spans.length}")
      spans.count { case (l, h) => h >= lo && l <= hi }.toDouble / spans.length
    }

    val (c0, c1) = {
      val m = z.agg(max("o_custkey")).first().getLong(0)
      (0L, m / 16)
    }
    val (d0, d1) = {
      val r = z.agg(min("days"), max("days")).first()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      (lo, lo + (hi - lo) / 16)
    }

    val zCust = unprunable(s"$base/byz", "o_custkey", c0, c1)
    val zDays = unprunable(s"$base/byz", "days", d0, d1)
    val kCust = unprunable(s"$base/bykey", "o_custkey", c0, c1)
    val kDays = unprunable(s"$base/bykey", "days", d0, d1)

    assert(kCust <= 0.5, s"single-sort should prune its own dimension, kept $kCust")
    assert(kDays >= 0.9, s"single-sort cannot prune the other dimension, kept $kDays")
    assert(zCust <= 0.75, s"z-order failed to prune custkey: kept $zCust of files")
    assert(zDays <= 0.75, s"z-order failed to prune days: kept $zDays of files")
  }
}
