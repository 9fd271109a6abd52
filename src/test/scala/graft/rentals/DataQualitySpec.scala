package graft.rentals

import graft.SparkSpec
import org.apache.spark.sql.Row

/** 1:1 port of the reference DQ tests (`tests/test_data_quality.py`). */
class DataQualitySpec extends SparkSpec {

  private def rent(rents: Seq[java.lang.Double]) =
    mkDf(Fixtures.dqSchema, Fixtures.dqRows(rents))

  private val D: Double => java.lang.Double = java.lang.Double.valueOf

  test("null pct: 1/20 nulls (5%) passes at threshold 0.10 (test_data_quality.py:39-48)") {
    val df = rent(Seq[java.lang.Double](null) ++ (1 to 19).map(i => D(1000.0 + i)))
    assert(DataQuality.nullPercentageCheck("rent", 0.10).checkFn(df))
  }

  test("null pct: 3/20 nulls (15%) fails at threshold 0.10 (test_data_quality.py:50-58)") {
    val df = rent(Seq[java.lang.Double](null, null, null) ++ (1 to 17).map(i => D(1000.0 + i)))
    assert(!DataQuality.nullPercentageCheck("rent", 0.10).checkFn(df))
  }

  test("null pct: empty DataFrame passes (data_quality.py:53-54)") {
    assert(DataQuality.nullPercentageCheck("rent", 0.10).checkFn(rent(Nil)))
  }

  test("row count: 20 rows passes at min 10 (test_data_quality.py:64-70)") {
    assert(DataQuality.rowCountCheck(10).checkFn(rent((1 to 20).map(i => D(i)))))
  }

  test("row count: 5 rows fails at min 10 (test_data_quality.py:72-77)") {
    assert(!DataQuality.rowCountCheck(10).checkFn(rent((1 to 5).map(i => D(i)))))
  }

  test("range: bounds are inclusive — 0 and 50000 pass (test_data_quality.py:83-93)") {
    val df = rent(Seq(D(0.0), D(50000.0), D(1234.5)))
    assert(DataQuality.rangeCheck("rent", 0.0, 50000.0).checkFn(df))
  }

  test("range: -100 and 50001 fail (test_data_quality.py:95-105)") {
    assert(!DataQuality.rangeCheck("rent", 0.0, 50000.0).checkFn(rent(Seq(D(-100.0), D(1000.0)))))
    assert(!DataQuality.rangeCheck("rent", 0.0, 50000.0).checkFn(rent(Seq(D(50001.0), D(1000.0)))))
  }

  test("range: nulls pass vacuously (data_quality.py:111)") {
    assert(DataQuality.rangeCheck("rent", 0.0, 50000.0).checkFn(rent(Seq(null, D(1000.0)))))
  }

  test("uniqueness: duplicate ids fail, severity warn (test_data_quality.py:111-124)") {
    val dup = mkDf(Fixtures.dqSchema,
      Seq(Row(1, "a", D(1.0)), Row(1, "a", D(1.0)), Row(2, "b", D(2.0))))
    val check = DataQuality.uniquenessCheck(Seq("id"))
    assert(!check.checkFn(dup))
    assert(check.severity === Warn)
    val ok = mkDf(Fixtures.dqSchema, Seq(Row(1, "a", D(1.0)), Row(2, "b", D(2.0))))
    assert(check.checkFn(ok))
  }

  test("runner: fail-severity raises DataQualityError naming '1 DQ check' (test_data_quality.py:130-137)") {
    val df = rent((1 to 5).map(i => D(i)))
    val failing = Seq(DataQuality.rowCountCheck(10)) // 5 < 10 -> fail
    val e = intercept[DataQualityError] {
      DataQuality.runQualityChecks(df, failing)
    }
    assert(e.getMessage.contains("1 DQ check"))
    assert(e.getMessage.contains("row_count"))
  }

  test("runner: warn-severity tallies but does not raise (test_data_quality.py:140-153)") {
    val dup = mkDf(Fixtures.dqSchema, Seq(Row(1, "a", D(1.0)), Row(1, "a", D(1.0))))
    val summary = DataQuality.runQualityChecks(dup, Seq(DataQuality.uniquenessCheck(Seq("id"))))
    assert(summary.total === 1)
    assert(summary.passed === 0)
    assert(summary.warnings === 1)
    assert(summary.failed === 0)
  }

  test("runner: all checks run even when an early one fails (deferred raise, data_quality.py:218-223)") {
    val df = rent((1 to 5).map(i => D(i)))
    val checks = Seq(
      DataQuality.rowCountCheck(10), // fails
      DataQuality.rangeCheck("rent", 0.0, 50000.0)) // passes, must still run
    val e = intercept[DataQualityError] { DataQuality.runQualityChecks(df, checks) }
    assert(e.getMessage.contains("1 DQ check"))
    val summary = DataQuality.summarize(df, checks)
    assert(summary.total === 2 && summary.passed === 1 && summary.failed === 1)
  }

  test("fused single-pass evaluation equals the per-check runner on all gate shapes") {
    val configs = Seq(
      PipelineConfig(minRows = 10), // healthy
      PipelineConfig(minRows = 1000), // row_count fails
      PipelineConfig(minRows = 10, rentMax = 2100.0), // range fails
      PipelineConfig(minRows = 10, nullPctThreshold = 0.01)) // null pct fails
    val raw = mkDf(Fixtures.longSchema, Fixtures.longRows) // has nulls + a dup
    configs.foreach { cfg =>
      val perCheck = DataQuality.summarize(raw, DataQuality.standardChecks(cfg))
      val fused = DataQuality.summarizeFused(raw, cfg)
      assert(fused === perCheck, s"mismatch for $cfg")
    }
  }

  test("fused gate: two range checks on one column with different bounds keep separate aggregates") {
    val df = rent(Seq(D(100.0), D(900.0)))
    val checks = Seq(
      DataQuality.rangeCheck("rent", 0.0, 1000.0), // passes
      DataQuality.rangeCheck("rent", 0.0, 500.0)) // 900 is out of range
    val summary = DataQuality.summarize(df, checks)
    assert(summary.details.map(_.passed) === Seq(true, false))
    assert(summary.details.map(_.passed) === checks.map(_.checkFn(df)))
  }

  test("fused gate: uniqueness on Seq(\"a_b\") and Seq(\"a\", \"b\") keep separate aggregates") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a_b", StringType), StructField("a", StringType),
      StructField("b", StringType)))
    // a_b unique; (a, b) repeats
    val df = mkDf(schema, Seq(Row("x", "k", "v"), Row("y", "k", "v")))
    val checks = Seq(
      DataQuality.uniquenessCheck(Seq("a_b")),
      DataQuality.uniquenessCheck(Seq("a", "b")))
    val summary = DataQuality.summarize(df, checks)
    assert(summary.details.map(_.passed) === Seq(true, false))
    assert(summary.warnings === 1)
    assert(summary.details.map(_.passed) === checks.map(_.checkFn(df)))
  }

  test("standard gate passes on the healthy pipeline output") {
    val healthy = mkDf(Fixtures.longSchema, Fixtures.longRows)
      .transform(Transforms.cleanNulls)
      .transform(Transforms.deduplicate)
    val summary = DataQuality.runQualityChecks(
      healthy, DataQuality.standardChecks(PipelineConfig(minRows = 10)))
    assert(summary.failed === 0)
  }
}
