package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expectation-suite data validation compiled to ONE aggregate pass.
  *
  * The reference validates every raw frame against a Great Expectations
  * JSON suite before staging (reference `local_runner.py:62-104`,
  * `great_expectations/expectations/<suite>.json`) and aborts on the first
  * violation. That interpreter runs one pandas scan per expectation; here
  * the whole suite compiles to a single `agg` over the DataFrame — one
  * scan, map-side partial aggregation, no matter how many checks — which
  * is the difference between N and 1 passes over 100 TB.
  *
  * Supported expectation types mirror the reference exactly (V1-V4 in
  * SURVEY §2.6): ordered column list, not-null, min-bound, regex match
  * (anchored at start, like pandas `.str.match`).
  */
object Expectations {

  sealed trait Expectation {
    def name: String
    /** Count of violating rows as an aggregate column (0 = pass). */
    def violations: Column
  }

  /** V2: expect_column_values_to_not_be_null. */
  final case class NotNull(column: String) extends Expectation {
    val name = s"${column}_not_null"
    def violations: Column = count(when(col(column).isNull, 1))
  }

  /** V3: expect_column_values_to_be_between (min bound — the reference
    * reads but never enforces max, local_runner.py:87-92). */
  final case class MinBound(column: String, min: Double) extends Expectation {
    val name = s"${column}_min"
    def violations: Column = count(when(col(column) < lit(min), 1))
  }

  /** V4: expect_column_values_to_match_regex (anchored at start). */
  final case class RegexMatch(column: String, regex: String) extends Expectation {
    val name = s"${column}_regex"
    def violations: Column =
      count(when(!col(column).cast("string").rlike("^" + regex), 1))
  }

  /** expect_column_values_to_be_unique / dbt's `unique` test. NULLs
    * don't count (dbt semantics): violations = non-null values minus
    * distinct non-null values — still one aggregate column, so the
    * whole-suite single-pass contract holds. */
  final case class Unique(column: String) extends Expectation {
    val name = s"${column}_unique"
    def violations: Column =
      (count(col(column)) - countDistinct(col(column))).cast("long")
  }

  /** expect_column_values_to_be_in_set / dbt's `accepted_values`.
    * NULLs pass (that's [[NotNull]]'s job, per dbt's test separation). */
  final case class AcceptedValues(column: String, values: Seq[String])
      extends Expectation {
    val name = s"${column}_accepted"
    def violations: Column =
      count(when(col(column).isNotNull &&
        !col(column).cast("string").isin(values: _*), 1))
  }

  /** V1: expect_table_columns_to_match_ordered_list — schema-level, no
    * data scan needed. */
  final case class ColumnsOrdered(expected: Seq[String])

  final case class Suite(
      name: String,
      columnsOrdered: Option[ColumnsOrdered],
      checks: Seq[Expectation],
      freshness: Option[FreshnessPolicy] = None)

  /** Evaluate a suite in a single aggregate pass; returns one row per
    * check: (check_name, violations). The schema check costs nothing
    * (driver-side metadata compare) and is emitted as a synthetic row. */
  def evaluate(df: DataFrame, suite: Suite): DataFrame = {
    val aggCols = suite.checks.map(c => c.violations.as(c.name))
    val schemaViolations: Long = suite.columnsOrdered match {
      case Some(ColumnsOrdered(exp)) => if (df.columns.toSeq == exp) 0L else 1L
      case None => 0L
    }
    val schemaRow = struct(
      lit("columns_ordered").as("check_name"),
      lit(schemaViolations).as("violations"))
    val checkRows = suite.checks.map(c =>
      struct(lit(c.name).as("check_name"), col(c.name).as("violations")))
    // dummy count keeps the agg valid (and exactly one row) when the
    // suite has only the schema-level check
    df.agg(count(lit(1)).as("__row_count"), aggCols: _*)
      .select(explode(array(schemaRow +: checkRows: _*)).as("r"))
      .select(col("r.check_name"), col("r.violations"))
      .orderBy("check_name")
  }

  /** One (domain, hours_since_load, status) row per policy — the
    * non-gating `dbt source freshness` shape: the reference runs
    * freshness as its own scheduled command, separate from build
    * gating (dbt/models/schema.yml:10-13).
    *
    * Non-gating means NOTHING here throws: a policy whose frame is
    * absent (its load failed upstream — exactly when monitoring
    * matters) reports as `error` with NaN hours, and an empty frame
    * reports `error` (no load time, as in [[freshnessStatus]]). All
    * domains evaluate in ONE Spark action ([[gate]]: per-domain
    * single-row aggregates unioned, one collect), not N sequential
    * driver round-trips. */
  def freshnessReport(frames: Map[String, DataFrame],
      policies: Map[String, FreshnessPolicy],
      asOf: Option[Column] = None): Seq[(String, Double, String)] = {
    val (present, missing) = policies.toSeq.sortBy(_._1)
      .partition { case (d, _) => frames.contains(d) }
    val evaluated =
      if (present.isEmpty) Seq.empty
      else present.zip(gate(present.map { case (d, p) =>
        (frames(d), Suite(d, None, Seq.empty, Some(p)), Seq.empty)
      }, asOf)).map { case ((d, _), v) =>
        val (status, hours) = v.freshness.get
        (d, hours, status)
      }
    (evaluated ++ missing.map { case (d, _) => (d, Double.NaN, "error") })
      .sortBy(_._1)
  }

  /** One frame's gate outcome: the suite's failed checks as
    * `name=count` (schema check first), its freshness `(status, hours)`
    * when the suite declares a policy, and the caller's extra
    * aggregates, in the order given. */
  private[graft] final case class Verdict(failed: Seq[String],
      freshness: Option[(String, Double)], extra: Seq[Long])

  /** The one evaluator behind every gate. Each (frame, suite, extra)
    * compiles to ONE single-row aggregate — every check's violation
    * count, the freshness aggregate, and `extra` long-valued aggregate
    * columns a caller folds into the same pass (TableLog's CHECK
    * constraints). The rows are unioned and collected in ONE Spark
    * action, so AQE runs the frames' scan stages concurrently instead
    * of one driver round-trip per frame. The schema check is
    * driver-side metadata. (The reference runs one pandas pass per
    * expectation plus a separate freshness command.) */
  private[graft] def gate(items: Seq[(DataFrame, Suite, Seq[Column])],
      asOf: Option[Column] = None): Seq[Verdict] = {
    require(items.nonEmpty, "nothing to validate")
    val rows = items.zipWithIndex.map { case ((df, suite, extra), i) =>
      val (hours, status) = suite.freshness
        .map(freshnessAggCols(_, asOf))
        .getOrElse((lit(null), lit(null)))
      // dummy count keeps the agg valid when the suite has no checks
      df.agg(count(lit(1)).as("__row_count"),
          array(suite.checks.map(_.violations) ++ extra: _*)
            .cast("array<bigint>").as("counts"),
          hours.cast("double").as("fresh_hours"),
          status.cast("string").as("fresh_status"))
        .select(lit(i).as("i"), col("counts"), col("fresh_hours"),
          col("fresh_status"))
    }.reduce(_ union _).collect().sortBy(_.getInt(0))
    items.zip(rows).map { case ((df, suite, _), row) =>
      val counts = row.getSeq[java.lang.Long](1).map(c => if (c == null) 0L else c.longValue)
      val (checked, extra) = counts.splitAt(suite.checks.size)
      val schemaFailed =
        suite.columnsOrdered.exists(c => df.columns.toSeq != c.expected)
      Verdict(
        (if (schemaFailed) Seq("columns_ordered=1") else Seq.empty) ++
          suite.checks.zip(checked).collect {
            case (c, n) if n > 0 => s"${c.name}=$n"
          },
        suite.freshness.map(_ => (row.getString(3),
          if (row.isNullAt(2)) Double.NaN else row.getDouble(2))),
        extra)
    }
  }

  /** Throws ONE IllegalStateException naming every refused suite, in
    * the order given: failed checks first, else a freshness `error`. */
  private[graft] def throwIfRefused(checked: Seq[(Suite, Verdict)]): Unit = {
    val refusals = checked.flatMap { case (suite, v) =>
      if (v.failed.nonEmpty)
        Some(s"Expectation suite '${suite.name}' failed: ${v.failed.mkString(", ")}")
      else v.freshness.collect { case ("error", hours) =>
        s"Source freshness for '${suite.name}': $hours h since load " +
          suite.freshness.flatMap(_.errorAfterHours)
            .fold("(no load time)")(b => s"exceeds error bound $b h")
      }
    }
    if (refusals.nonEmpty) throw new IllegalStateException(refusals.mkString("; "))
  }

  /** Fail-fast gate over several frames, matching the reference's
    * abort-on-violation semantics (local_runner.py:76-102), in ONE Spark
    * action ([[gate]]). A declared freshness policy follows dbt
    * semantics: `error` aborts, `warn` does not (it is surfaced to the
    * caller via the returned statuses, one per frame). */
  def validateAllOrThrow(frames: Seq[(DataFrame, Suite)]): Seq[Option[String]] = {
    val verdicts = gate(frames.map { case (df, suite) => (df, suite, Seq.empty) })
    throwIfRefused(frames.map(_._2).zip(verdicts))
    verdicts.map(_.freshness.map(_._1))
  }

  /** [[validateAllOrThrow]] for one frame: the whole gate — every
    * check's violation count AND the freshness aggregate — is one `agg`
    * and one scan. */
  def validateOrThrow(df: DataFrame, suite: Suite): Option[String] =
    validateAllOrThrow(Seq(df -> suite)).head

  /** dbt's `relationships` (referential-integrity) test: rows of
    * `child` whose `childCol` is non-null and absent from `parent`'s
    * `parentCol`. The one generic test that inherently needs TWO
    * tables, hence a join rather than a suite aggregate column — a
    * left-anti keyed on the FK, which Spark broadcasts when the parent
    * key set is small (dimensions usually are). Returns one row
    * (orphans). 0 = referentially intact. */
  def relationshipOrphans(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame =
    child
      .filter(col(childCol).isNotNull)
      .join(parent.select(col(parentCol).as(childCol)).distinct(),
        Seq(childCol), "left_anti")
      .agg(count(lit(1)).as("orphans"))

  /** V6: source freshness — hours since max(loadedAtCol), compared by the
    * caller against warn/error bounds (reference dbt/models/schema.yml:10-13). */
  def freshnessHours(df: DataFrame, loadedAtCol: String): DataFrame =
    df.agg(((unix_timestamp(current_timestamp()) -
      unix_timestamp(max(col(loadedAtCol)))) / 3600.0).as("hours_since_load"))

  /** dbt-style source-freshness policy: warn past `warnAfterHours`,
    * error past `errorAfterHours` since the newest `loadedAtCol` value
    * (reference `dbt/models/schema.yml:10-13` declares warn 12 h /
    * error 24 h on erp_orders). Either bound may be absent, like dbt's
    * optional warn_after/error_after. */
  final case class FreshnessPolicy(
      loadedAtCol: String,
      warnAfterHours: Option[Double],
      errorAfterHours: Option[Double])

  /** The freshness check as a pair of aggregate Columns
    * (hours_since_load, status) so callers can fold it into a wider
    * single-pass agg ([[gate]] does). */
  private[quality] def freshnessAggCols(policy: FreshnessPolicy,
      asOf: Option[Column]): (Column, Column) = {
    val now = asOf.getOrElse(current_timestamp())
    val maxLoaded = max(col(policy.loadedAtCol))
    val hours = ((unix_timestamp(now) - unix_timestamp(maxLoaded)) / 3600.0)
    def breached(bound: Option[Double]): Column =
      bound.map(b => hours > lit(b)).getOrElse(lit(false))
    // an EMPTY source has no load time at all — that is an error, not a
    // null that falls through to "pass" (dataless ≠ fresh)
    (round(hours, 4),
      when(maxLoaded.isNull, "error")
        .when(breached(policy.errorAfterHours), "error")
        .when(breached(policy.warnAfterHours), "warn")
        .otherwise("pass"))
  }

  /** Evaluate a freshness policy in one aggregate pass. Returns a single
    * row (hours_since_load, status) with status ∈ pass|warn|error.
    * `asOf` pins "now" for deterministic tests/oracles; production
    * leaves it None → wall clock, matching dbt's freshness snapshot. */
  def freshnessStatus(df: DataFrame, policy: FreshnessPolicy,
      asOf: Option[Column] = None): DataFrame = {
    val (hours, status) = freshnessAggCols(policy, asOf)
    df.agg(hours.as("hours_since_load"), status.as("status"))
  }
}
