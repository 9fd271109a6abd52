package graft.rentals

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 1:1 port of the reference transform tests (`tests/test_transform.py`) with
  * the same hand-computed golden values.
  */
class TransformsSpec extends SparkSpec {

  private def wide = mkDf(Fixtures.wideSchema, Fixtures.wideRows)
  private def long19 = mkDf(Fixtures.longSchema, Fixtures.longRows)

  test("unpivot shape & arity: rows = regions x month-columns, nulls kept (test_transform.py:62-70)") {
    val out = wide.transform(Transforms.enforceSchema).transform(Transforms.unpivotMonthly)
    assert(out.count() === 6) // 2 regions x 3 months, null row KEPT
    assert(out.columns.toSet === Set("RegionID", "RegionName", "StateName", "month", "median_rent"))
    val bySchema = out.schema.map(f => f.name -> f.dataType).toMap
    assert(bySchema("RegionID") === IntegerType)
    assert(bySchema("month") === DateType)
    assert(bySchema("median_rent") === DoubleType)
    // the SF 2024-03 null survives unpivot
    assert(out.filter(col("median_rent").isNull).count() === 1)
  }

  test("unpivot parses yyyy-MM, yyyy-MM-dd and invalid date-named headers; the parse is folded per column") {
    val schema = StructType(Seq("RegionID", "RegionName", "StateName", "2024-01", "2024-02-15", "2024-13")
      .map(StructField(_, StringType)))
    val out = mkDf(schema, Seq(Row("1", "r", "CA", "10", "20", "30")))
      .transform(Transforms.enforceSchema).transform(Transforms.unpivotMonthly)
    val months = out.collect().map(r => r.getDouble(4) -> Option(r.getDate(3))).toMap
    assert(months === Map(
      10.0 -> Some(java.sql.Date.valueOf("2024-01-01")),
      20.0 -> Some(java.sql.Date.valueOf("2024-02-15")),
      30.0 -> None))
    // no row-level date parse survives optimization: each header's month
    // is a literal argument of the Generate
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collectFirst { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.nonEmpty)
    val parses = plan.flatMap(_.expressions).flatMap(_.collect {
      case e if Set("gettimestamp", "to_date", "try_to_date").contains(e.prettyName) => e
    })
    assert(parses.isEmpty, s"per-row month parse left in the plan: $parses")
  }

  test("enforce_schema drops SizeRank/RegionType and casts strings (test_transform.py:40-48)") {
    val out = Transforms.enforceSchema(wide)
    assert(!out.columns.contains("SizeRank") && !out.columns.contains("RegionType"))
    assert(out.schema("RegionID").dataType === IntegerType)
    assert(out.schema("2024-01").dataType === DoubleType)
  }

  test("clean_nulls drops exactly the null-rent rows: 19 -> 17 (test_transform.py:73-78)") {
    assert(long19.count() === 19)
    assert(Transforms.cleanNulls(long19).count() === 17)
  }

  test("deduplicate drops the exact-duplicate row: 19 -> 18, keys distinct (test_transform.py:81-87)") {
    val out = Transforms.deduplicate(long19)
    assert(out.count() === 18)
    assert(out.select("RegionID", "month").distinct().count() === 18)
  }

  test("deduplicate survivor is deterministic when duplicate keys carry different values") {
    import spark.implicits._
    // same (RegionID, month) key, three different rents: the survivor must
    // be the minimum under the full-row sort (dropDuplicates' arbitrary
    // survivor would make reruns unstable); repartition(5) proves the
    // choice is partitioning-independent
    val df = Seq(
      (1, "r", "CA", java.sql.Date.valueOf("2024-01-01"), 3000.0),
      (1, "r", "CA", java.sql.Date.valueOf("2024-01-01"), 1000.0),
      (1, "r", "CA", java.sql.Date.valueOf("2024-01-01"), 2000.0),
      (1, "r", "CA", java.sql.Date.valueOf("2024-02-01"), 500.0)
    ).toDF("RegionID", "RegionName", "StateName", "month", "median_rent")
      .repartition(5)
    (1 to 3).foreach { _ =>
      val out = Transforms.deduplicate(df).orderBy("month")
        .select("median_rent").collect().map(_.getDouble(0)).toSeq
      assert(out === Seq(1000.0, 500.0))
    }
  }

  test("MoM golden values: 2000 -> 2100 -> 2079 gives null, 5.0, -1.0 (test_transform.py:90-108)") {
    val out = Transforms.addMomChange(mkDf(Fixtures.longSchema, Fixtures.momRows))
      .orderBy("month")
      .select("rent_change_mom")
      .collect()
      .map(r => Option(r.get(0)))
    assert(out === Seq(None, Some(5.0), Some(-1.0)))
  }

  test("state rank: desc rent, rank() tie semantics (test_transform.py:111-127)") {
    val out = Transforms.addStateRank(mkDf(Fixtures.longSchema, Fixtures.rankRows))
      .select("RegionName", "state_rent_rank")
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    assert(out === Map("New York" -> 1, "Albany" -> 2, "Buffalo" -> 3))
  }

  test("rank ties share rank with gaps (rank, not dense_rank)") {
    val rows = Seq(
      Row(1, "A", "NY", java.sql.Date.valueOf("2024-01-01"), 2000.0),
      Row(2, "B", "NY", java.sql.Date.valueOf("2024-01-01"), 2000.0),
      Row(3, "C", "NY", java.sql.Date.valueOf("2024-01-01"), 1500.0))
    val out = Transforms.addStateRank(mkDf(Fixtures.longSchema, rows))
      .select("RegionName", "state_rent_rank")
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    assert(out === Map("A" -> 1, "B" -> 1, "C" -> 3))
  }

  test("observed pipeline exposes arity + null metrics inside the single action") {
    val out = wide.transform(Transforms.runPipelineObserved)
    // collect() executes *this* QueryExecution (count() would plan a new
    // one, leaving these observed metrics empty)
    assert(out.collect().length === 5)
    val metrics = out.queryExecution.observedMetrics.get("unpivoted")
    assert(metrics.nonEmpty, "no observed metrics recorded")
    val m = metrics.get
    assert(m.getAs[Long]("n_rows") === 6L) // 2 regions x 3 months, nulls kept
    assert(m.getAs[Long]("n_nonnull_rent") === 5L) // one engineered null
  }

  test("full pipeline e2e: columns, no nulls, key uniqueness, first-month MoM null (test_transform.py:130-154)") {
    val out = wide.transform(Transforms.runPipeline)
    assert(out.columns.toSet === Set(
      "RegionID", "RegionName", "StateName", "month", "median_rent",
      "rent_change_mom", "state_rent_rank"))
    assert(out.filter(col("median_rent").isNull).count() === 0)
    assert(out.count() === out.select("RegionID", "month").distinct().count())
    // first month per region has null MoM (via row_number, as the reference does)
    val w = Window.partitionBy("RegionID").orderBy("month")
    val firsts = out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(firsts.filter(col("rent_change_mom").isNotNull).count() === 0)
  }

  test("LOCF gap fill: missing months carry the last observation forward, exact cents") {
    import spark.implicits._
    // region 1: Jan=10.00, gap Feb+Mar, Apr=20.00 -> filled total
    // = 1000 + 1000 + 1000 + 2000; region 2: no gaps
    val long = Seq(
      (1, "2024-01-01", 10.0), (1, "2024-04-01", 20.0),
      (2, "2024-06-01", 5.0), (2, "2024-07-01", 7.0))
      .toDF("RegionID", "month_str", "median_rent")
      .select(col("RegionID"), to_date(col("month_str")).as("month"), col("median_rent"))
    val out = RentalsDemo.locfFillOf(long).collect()
      .map(r => r.getAs[Int]("RegionID") ->
        ((r.getAs[Long]("n_months_total"), r.getAs[Long]("n_filled"),
          r.getAs[Long]("filled_total_cents")))).toMap
    assert(out(1) === ((4L, 2L, 5000L)))
    assert(out(2) === ((2L, 0L, 1200L)))
  }
}
