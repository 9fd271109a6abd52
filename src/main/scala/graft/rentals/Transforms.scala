package graft.rentals

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

/** The six pure `DataFrame => DataFrame` transforms of the rental pipeline,
  * re-designed from `jobs/transform.py` (PySpark) into Scala Spark. Each is a
  * pure function chained with `Dataset.transform` (`jobs/transform.py:174-181`,
  * `CLAUDE.md:18`); the whole pipeline stays one lazy Catalyst plan with a
  * single action at the sink.
  *
  * ANSI note: this engine keeps Spark 4's default `spark.sql.ansi.enabled=true`
  * (fail-fast beats silent corruption at 100 TB), so parse/divide use the
  * `try_`/null-guard forms to preserve the reference's null-on-bad-input
  * semantics exactly.
  */
object Transforms {

  /** Projecting cast-select (`enforce_schema`, `jobs/transform.py:37-56`):
    * keep `RegionID, RegionName, StateName` + every date-named column; drop
    * `SizeRank`, `RegionType`, and anything unknown; cast defensively (the
    * transform layer accepts an all-string input). Early manual projection is
    * also the right 100 TB behavior: the parquet/CSV scan then reads only the
    * needed columns.
    */
  def enforceSchema(df: DataFrame): DataFrame = {
    val dateCols = df.columns.filter(Schemas.isDateCol)
    val fixed = Seq(
      col("RegionID").cast(IntegerType),
      col("RegionName").cast(StringType),
      col("StateName").cast(StringType))
    val measures = dateCols.map(c => col(s"`$c`").cast(DoubleType))
    df.select(fixed ++ measures: _*)
  }

  /** Wide->long unpivot (`unpivot_monthly`, `jobs/transform.py:59-88`).
    *
    * Uses the same `stack(n, …, `c`, …)` Catalyst generator as the
    * reference (`jobs/transform.py:73-79`) — `stack` emits one row per
    * (region, date-column) *including null measures*; null-cleaning is a
    * separate, later op. `stack` is a narrow generator — no shuffle; output
    * rows = regions × month-columns.
    *
    * The month is the reference's parse,
    * `coalesce(try_to_date(c,'yyyy-MM-dd'), try_to_date(c,'yyyy-MM'))`
    * (`jobs/transform.py:82-86`; `yyyy-MM` yields first-of-month, an
    * invalid date-named header such as `2024-13` yields null), applied to
    * each column's literal header inside the `stack` arguments rather than
    * to a per-row month string: every argument is then a constant that
    * ConstantFolding evaluates once per column, so no row pays a parse.
    */
  def unpivotMonthly(df: DataFrame): DataFrame = {
    val idCols = Seq("RegionID", "RegionName", "StateName")
    val dateCols = df.columns.filterNot(idCols.contains).filter(Schemas.isDateCol)
    require(dateCols.nonEmpty, "no date-named measure columns to unpivot")
    val stackArgs = dateCols.map { c =>
      s"coalesce(try_to_date('$c', 'yyyy-MM-dd'), try_to_date('$c', 'yyyy-MM')), `$c`"
    }.mkString(", ")
    val stackExpr = s"stack(${dateCols.length}, $stackArgs) as (month, median_rent)"
    df.selectExpr(idCols :+ stackExpr: _*)
  }

  /** Null-measure filter (`clean_nulls`, `jobs/transform.py:91-104`). */
  def cleanNulls(df: DataFrame): DataFrame =
    df.filter(col("median_rent").isNotNull)

  /** Key-subset dedup (`deduplicate`, `jobs/transform.py:107-119`): one
    * surviving row per `(RegionID, month)`, exactly like the reference's
    * `dropDuplicates` (its fixtures only ever duplicate identical rows, so
    * survivor choice is unobservable there; here the survivor is the
    * deterministic minimum under the full-row sort — strictly stronger).
    *
    * Formulated as a window-internal duplicate filter rather than a
    * `Deduplicate` node on purpose: `dropDuplicates(RegionID, month)` forces
    * its own hash exchange on `(RegionID, month)` immediately before
    * [[addMomChange]] re-partitions on `RegionID` alone. Partitioning the
    * dedup window by `RegionID` and ordering by `(month, …tiebreaks)` makes
    * equal-key rows adjacent inside the exact exchange+sort the lag window
    * needs anyway — the whole clean→dedup→MoM chain rides ONE `RegionID`
    * exchange (6 → 5 exchanges on the flagship plan).
    *
    * Null months compare null-safely (`<=>`), matching `dropDuplicates`'
    * nulls-are-equal key semantics; the `row_number = 1` guard keeps the
    * partition's first row, whose `lag` is null.
    */
  def deduplicate(df: DataFrame): DataFrame = {
    val tiebreaks = df.columns.filterNot(Set("RegionID", "month")).sorted.map(col)
    val w = Window.partitionBy("RegionID").orderBy(col("month") +: tiebreaks.toSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__prev_month", lag(col("month"), 1).over(w))
      .filter(col("__rn") === 1 || !(col("__prev_month") <=> col("month")))
      .drop("__rn", "__prev_month")
  }

  /** Month-over-month % change (`add_mom_change`, `jobs/transform.py:122-140`):
    * `lag(median_rent) over (partition by RegionID order by month)`, then
    * `round(((cur - prev) / prev) * 100, 2)`; first month per region -> null.
    * The null-guard on `prev == 0` reproduces non-ANSI divide-by-zero -> null.
    */
  def addMomChange(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("RegionID").orderBy("month")
    val prev = lag(col("median_rent"), 1).over(w)
    val safePrev = when(prev === 0.0, lit(null).cast(DoubleType)).otherwise(prev)
    df.withColumn(
      "rent_change_mom",
      round(((col("median_rent") - safePrev) / safePrev) * 100, 2))
  }

  /** Per-(state, month) rent rank (`add_state_rank`, `jobs/transform.py:143-158`):
    * highest rent = 1; ties share rank with gaps (`rank`, not `dense_rank`).
    */
  def addStateRank(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("StateName", "month").orderBy(col("median_rent").desc)
    df.withColumn("state_rent_rank", rank().over(w))
  }

  /** Full chain in the reference's fixed order (`run_pipeline`,
    * `jobs/transform.py:161-181`). Order is semantic: nulls are removed before
    * `lag` (so MoM skips null months) and dedup runs before both windows.
    */
  def runPipeline(df: DataFrame): DataFrame =
    df.transform(enforceSchema)
      .transform(unpivotMonthly)
      .transform(cleanNulls)
      .transform(deduplicate)
      .transform(addMomChange)
      .transform(addStateRank)

  /** Pipeline with in-flight observability: `Dataset.observe` records
    * unpivot arity and null-drop counts *inside the single action* — the DQ
    * gate's row-count/null metrics at zero additional scans (vs the
    * reference's one `.count()` job per check). Read the metrics from the
    * completed query via `QueryExecutionListener` or
    * `df.queryExecution.observedMetrics`.
    */
  def runPipelineObserved(df: DataFrame): DataFrame =
    df.transform(enforceSchema)
      .transform(unpivotMonthly)
      .observe("unpivoted",
        count(lit(1)).as("n_rows"),
        count(col("median_rent")).as("n_nonnull_rent"))
      .transform(cleanNulls)
      .transform(deduplicate)
      .transform(addMomChange)
      .transform(addStateRank)
}
