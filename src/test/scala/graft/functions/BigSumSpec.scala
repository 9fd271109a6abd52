package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[BigSum]]'s contract: numerically identical to
  * `sum(CAST(x AS DECIMAL(38,0)))` on every input that exercises the long
  * fast path, the spill branch, the merge path, negatives, and NULLs.
  */
class BigSumSpec extends SparkSpec {

  private def decSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
    df.agg(sum(col("x").cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)

  private def bigSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
    df.agg(BigSum.of(col("x")).as("s")).head().getDecimal(0)

  test("matches decimal sum on values that stay inside the long buffer") {
    import spark.implicits._
    val df = (1L to 10000L).map(i => i * 1000003L).toDF("x").repartition(4)
    assert(bigSum(df).compareTo(decSum(df)) == 0)
  }

  test("spill branch: per-row addends near 2^53 force rollovers to decimal") {
    import spark.implicits._
    // ~4.6e18 threshold / 9.0e15 addend: spills about once per 512 rows,
    // and the true sum (~9e19) overflows a plain long sum
    val df = (1L to 10000L).map(i => (1L << 53) + i).toDF("x").repartition(8)
    val expected = new java.math.BigDecimal(
      (1L to 10000L).map(i => BigInt((1L << 53) + i)).sum.bigInteger)
    assert(bigSum(df).compareTo(expected) == 0)
  }

  test("negatives and cancellation match the decimal sum") {
    import spark.implicits._
    val df = (1L to 5000L)
      .flatMap(i => Seq(-(1L << 52) - i, (1L << 52) + 2 * i))
      .toDF("x").repartition(8)
    assert(bigSum(df).compareTo(decSum(df)) == 0)
  }

  test("NULLs count as zero and the empty input sums to zero") {
    import spark.implicits._
    val withNulls = Seq[Option[Long]](Some(7L), None, Some(-3L), None)
      .toDF("x")
    assert(bigSum(withNulls).longValueExact() == 4L)
    val empty = Seq.empty[Long].toDF("x")
    assert(bigSum(empty).longValueExact() == 0L)
  }

  test("addends beyond 2^62 (Long.MaxValue / Long.MinValue) sum exactly") {
    import spark.implicits._
    val xs = Seq(Long.MaxValue, Long.MaxValue, 3L, Long.MaxValue, 1L << 62,
      Long.MinValue, -(1L << 62), Long.MinValue, Long.MinValue, Long.MinValue,
      Long.MaxValue, (1L << 62) - 1, 42L)
    val expected = new java.math.BigDecimal(xs.map(BigInt(_)).sum.bigInteger)
    // one partition: every addend folds into the same buffer in order
    val oneBuffer = xs.toDF("x").coalesce(1)
    val result = oneBuffer.agg(BigSum.of(col("x")).as("s"))
    assert(result.schema("s").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    assert(result.head().getDecimal(0).compareTo(expected) == 0)
    assert(bigSum(xs.toDF("x").repartition(3)).compareTo(expected) == 0)
  }

  test("grouped aggregation (hash path with keys) matches decimal sum") {
    import spark.implicits._
    val df = (1L to 20000L).map(i => (i % 7, (1L << 50) + i)).toDF("g", "x")
      .repartition(8)
    val got = df.groupBy("g").agg(BigSum.of(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val want = df.groupBy("g").agg(sum(col("x").cast("decimal(38,0)")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v.compareTo(want(k)) == 0, s"group $k") }
  }
}
