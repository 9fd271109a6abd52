package graft.rentals

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality gate, re-designed from `jobs/data_quality.py`.
  *
  * Contract (C2-C4 in SURVEY.md §2.12): a check is a named pure predicate over
  * a DataFrame with a severity; the runner executes *all* checks eagerly,
  * tallies a summary, and only then throws `DataQualityError` if any
  * fail-severity check failed (`jobs/data_quality.py:161-225`). Warn-severity
  * failures never throw (`:156`).
  */
sealed trait Severity { def label: String }
case object Warn extends Severity { val label = "warn" }
case object Fail extends Severity { val label = "fail" }

/** `jobs/data_quality.py:24-38`.
  *
  * `fusedAggs`/`fusedEval` are the check's optional SINGLE-PASS form: the
  * named aggregate inputs it needs (aliases shared across checks are
  * computed once, so an alias must name ONE expression — it encodes every
  * parameter the expression depends on) and a predicate over their
  * values. When every check in a gate carries one, [[DataQuality.summarize]]
  * runs the whole gate as ONE aggregation job instead of one-to-two count
  * jobs per check — the same fusion [[DataQuality.summarizeFused]]
  * hand-writes for the standard set, available to any builder-made
  * combination. `checkFn` remains the semantic ground truth (and the
  * fallback when a custom check joins the list); DataQualitySpec asserts
  * the two forms agree.
  */
final case class DataQualityCheck(
    name: String,
    checkFn: DataFrame => Boolean,
    severity: Severity,
    description: String,
    fusedAggs: Seq[(String, org.apache.spark.sql.Column)] = Nil,
    fusedEval: Option[Map[String, Long] => Boolean] = None)

final case class CheckResult(
    name: String,
    passed: Boolean,
    severity: Severity,
    description: String)

final case class DataQualitySummary(
    total: Int,
    passed: Int,
    failed: Int,
    warnings: Int,
    details: Seq[CheckResult])

final class DataQualityError(msg: String) extends RuntimeException(msg)

object DataQuality {

  /** Null-fraction gate (`null_percentage_check`, `jobs/data_quality.py:41-66`):
    * passes when `nulls/total <= threshold`; an empty DataFrame passes
    * (`:53-54`). Severity: fail.
    */
  def nullPercentageCheck(column: String, threshold: Double): DataQualityCheck =
    DataQualityCheck(
      name = s"null_percentage_$column",
      checkFn = { df =>
        val total = df.count()
        if (total == 0L) true
        else {
          val nulls = df.filter(col(column).isNull).count()
          nulls.toDouble / total.toDouble <= threshold
        }
      },
      severity = Fail,
      description = s"Null fraction of `$column` must be <= $threshold",
      fusedAggs = Seq(
        "dq_total" -> count(lit(1)),
        s"dq_nulls_$column" -> count(when(col(column).isNull, 1))),
      fusedEval = Some(m => m("dq_total") == 0L ||
        m(s"dq_nulls_$column").toDouble / m("dq_total").toDouble <= threshold))

  /** Minimum-row-count gate (`row_count_check`, `jobs/data_quality.py:69-87`):
    * passes when `count >= minRows`. Severity: fail.
    */
  def rowCountCheck(minRows: Long): DataQualityCheck =
    DataQualityCheck(
      name = "row_count",
      checkFn = _.count() >= minRows,
      severity = Fail,
      description = s"Row count must be >= $minRows",
      fusedAggs = Seq("dq_total" -> count(lit(1))),
      fusedEval = Some(m => m("dq_total") >= minRows))

  /** Inclusive-range gate (`range_check`, `jobs/data_quality.py:90-120`):
    * passes when zero rows fall outside `[min, max]` (bounds inclusive; nulls
    * pass vacuously — a null comparison is filtered out, `:111`). Severity:
    * fail.
    */
  def rangeCheck(column: String, min: Double, max: Double): DataQualityCheck =
    DataQualityCheck(
      name = s"range_$column",
      checkFn = df => df.filter(col(column) < min || col(column) > max).count() == 0L,
      severity = Fail,
      description = s"All `$column` values must lie in [$min, $max]",
      // count(when(cond, 1)) skips null comparisons exactly like the
      // filter form: a null predicate row is neither < min nor > max. The
      // bounds are part of the alias: two range checks on one column with
      // different bounds are different aggregates
      fusedAggs = Seq(
        oobAlias(column, min, max) ->
          count(when(col(column) < min || col(column) > max, 1))),
      fusedEval = Some(m => m(oobAlias(column, min, max)) == 0L))

  private def oobAlias(column: String, min: Double, max: Double): String =
    s"dq_oob_${column}_${min}_$max"

  /** Key-uniqueness gate (`uniqueness_check`, `jobs/data_quality.py:123-158`):
    * passes when `total == distinct(keys)` — *exact* distinct, the DQ contract
    * is `duplicate_count == 0` (`:151`). Severity: **warn** (`:156`).
    */
  def uniquenessCheck(columns: Seq[String]): DataQualityCheck =
    DataQualityCheck(
      name = s"uniqueness_${columns.mkString("_")}",
      checkFn = { df =>
        val total = df.count()
        val distinct = df.select(columns.map(col): _*).distinct().count()
        total == distinct
      },
      severity = Warn,
      description = s"(${columns.mkString(", ")}) must be unique",
      fusedAggs = Seq(
        "dq_total" -> count(lit(1)),
        distinctAlias(columns) -> count_distinct(struct(columns.map(col): _*))),
      fusedEval = Some(m => m("dq_total") == m(distinctAlias(columns))))

  /** Length-prefixed key list: `Seq("a_b")` and `Seq("a", "b")` must not
    * share an alias (a plain `_` join maps both to `a_b`).
    */
  private def distinctAlias(columns: Seq[String]): String =
    "dq_distinct_" + columns.map(c => s"${c.length}:$c").mkString(",")

  /** The reference pipeline's standard gate set, built from config thresholds
    * (`dags/rental_pipeline_dag.py:137-142` + `config/pipeline.yaml:18-22`).
    */
  def standardChecks(config: PipelineConfig = PipelineConfig()): Seq[DataQualityCheck] = Seq(
    nullPercentageCheck("median_rent", config.nullPctThreshold),
    rowCountCheck(config.minRows),
    rangeCheck("median_rent", config.rentMin, config.rentMax),
    uniquenessCheck(config.uniqueKeys))

  /** Run-all-then-throw runner (`run_quality_checks`,
    * `jobs/data_quality.py:161-225`). Every check runs (and logs) even if an
    * earlier one failed; `DataQualityError` is raised only at the end, naming
    * the failed fail-severity checks (`:218-223`).
    *
    * The input is cached for the duration of the gate: the reference re-scans
    * its parquet input for every one of up to 6 count jobs
    * (`jobs/data_quality.py:41-158`) — at 100 TB that is 6 full scans; one
    * materialization + 6 cheap counts is the same contract, 6x less IO.
    */
  def runQualityChecks(
      df: DataFrame,
      checks: Seq[DataQualityCheck],
      cacheInput: Boolean = true): DataQualitySummary = {
    val summary = summarize(df, checks, cacheInput)
    if (summary.failed > 0) {
      val names = summary.details
        .filter(r => !r.passed && r.severity == Fail)
        .map(_.name)
      throw new DataQualityError(
        s"${summary.failed} DQ check(s) failed: ${names.mkString(", ")}")
    }
    summary
  }

  /** Fused single-pass evaluation of the standard gate (SURVEY.md §4's
    * sanctioned internal optimization): one aggregate computes every
    * predicate's inputs — total, nulls, out-of-range, distinct keys — so the
    * whole gate costs one scan + one shuffle (for the exact distinct)
    * instead of up to 6 count jobs. The per-check result contract (names,
    * severities, pass booleans) is identical to [[summarize]] with
    * [[standardChecks]]; DataQualitySpec asserts the equivalence.
    */
  def summarizeFused(df: DataFrame, config: PipelineConfig = PipelineConfig()): DataQualitySummary = {
    val rentCol = "median_rent"
    val row = df.agg(
      count(lit(1)).as("total"),
      count(when(col(rentCol).isNull, 1)).as("nulls"),
      count(when(col(rentCol) < config.rentMin || col(rentCol) > config.rentMax, 1)).as("oob"),
      count_distinct(struct(config.uniqueKeys.map(col): _*)).as("distinct_keys"))
      .head()
    val total = row.getAs[Long]("total")
    val nulls = row.getAs[Long]("nulls")
    val oob = row.getAs[Long]("oob")
    val distinctKeys = row.getAs[Long]("distinct_keys")
    val checks = standardChecks(config)
    val passed: Map[String, Boolean] = Map(
      s"null_percentage_$rentCol" ->
        (total == 0L || nulls.toDouble / total.toDouble <= config.nullPctThreshold),
      "row_count" -> (total >= config.minRows),
      s"range_$rentCol" -> (oob == 0L),
      s"uniqueness_${config.uniqueKeys.mkString("_")}" -> (total == distinctKeys))
    val details = checks.map(c => CheckResult(c.name, passed(c.name), c.severity, c.description))
    DataQualitySummary(
      total = details.size,
      passed = details.count(_.passed),
      failed = details.count(r => !r.passed && r.severity == Fail),
      warnings = details.count(r => !r.passed && r.severity == Warn),
      details = details)
  }

  /** Same evaluation without the terminal throw — for callers that want the
    * tally (e.g. the `dq_summary` driver query) rather than the gate.
    */
  def summarize(
      df: DataFrame,
      checks: Seq[DataQualityCheck],
      cacheInput: Boolean = true): DataQualitySummary = {
    // single-pass gate: when every check carries its fused form, the whole
    // list costs ONE aggregation job (shared inputs like dq_total computed
    // once) instead of 1-2 count jobs per check — same per-check results,
    // no input caching needed. Any error (e.g. a typo'd column name) falls
    // back to the per-check path, which records the offender as failed and
    // still runs the others, preserving the run-all-then-throw contract.
    // So does an alias two checks bind to DIFFERENT expressions: sharing
    // it would feed one check the other's value.
    val named = checks.flatMap(_.fusedAggs)
    val aliasesConsistent = named.groupBy(_._1).values
      .forall(_.map(_._2.toString).distinct.size == 1)
    if (checks.nonEmpty && checks.forall(_.fusedEval.isDefined) && aliasesConsistent) {
      try {
        val aggs = named.distinctBy(_._1)
        val row = df.agg(
          aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*).head()
        val vals = aggs.map { case (n, _) => n -> row.getAs[Long](n) }.toMap
        val details = checks.map(c =>
          CheckResult(c.name, c.fusedEval.get(vals), c.severity, c.description))
        return DataQualitySummary(
          total = details.size,
          passed = details.count(_.passed),
          failed = details.count(r => !r.passed && r.severity == Fail),
          warnings = details.count(r => !r.passed && r.severity == Warn),
          details = details)
      } catch {
        case e: Exception =>
          System.err.println(
            s"graft dq: fused gate threw ${e.getClass.getSimpleName}: " +
              s"${e.getMessage} — falling back to per-check evaluation")
      }
    }
    val target = if (cacheInput) df.persist() else df
    try {
      val details = checks.map { c =>
        // a THROWING check (typo'd column -> AnalysisException) is a
        // config bug, not a data failure — record it as failed but SAY SO
        // (the reference runner logs each check), or a Warn-severity
        // config bug would vanish without a trace
        val ok = try c.checkFn(target) catch {
          case e: Exception =>
            System.err.println(
              s"graft dq: check '${c.name}' threw ${e.getClass.getSimpleName}: " +
                s"${e.getMessage} — recorded as failed")
            false
        }
        CheckResult(c.name, ok, c.severity, c.description)
      }
      DataQualitySummary(
        total = details.size,
        passed = details.count(_.passed),
        failed = details.count(r => !r.passed && r.severity == Fail),
        warnings = details.count(r => !r.passed && r.severity == Warn),
        details = details)
    } finally {
      if (cacheInput) target.unpersist()
    }
  }
}
