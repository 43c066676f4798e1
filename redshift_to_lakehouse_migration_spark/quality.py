"""Data-quality framework (the reference's distinctive surface, SURVEY §2.11).

Re-expresses `silver/utils/data_quality_checks.py` and
`silver/utils/schema_validator.py` with one crucial scale fix: the reference
runs each check as its own Spark job (~10 jobs per table, SURVEY §3 entry 2 /
§7.3 risk 5). Here every column-level check compiles to an aggregate
expression, and ``run_checks`` fuses ALL of them into a single ``df.agg``
pass — one job, one scan, regardless of how many checks. At 100 TB that is
the difference between one table scan and ten.

Check results use the fixed schema of the reference's validation-results
table (`infrastructure/unity_catalog/setup_catalog.sql:32-49`).

Relationship (anti-join) checks can't be a pure aggregate; they run as one
broadcast-anti-join job each (`data_quality_checks.py:67-79`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import fits_broadcast

RESULT_SCHEMA = T.StructType([
    T.StructField("check_name", T.StringType(), False),
    T.StructField("table_name", T.StringType(), True),
    T.StructField("column_name", T.StringType(), True),
    T.StructField("passed", T.BooleanType(), False),
    T.StructField("failed_count", T.LongType(), True),
    T.StructField("total_count", T.LongType(), True),
    T.StructField("failed_pct", T.DoubleType(), True),
    T.StructField("details", T.StringType(), True),
])


@dataclass
class CheckResult:
    """Outcome of one DQ check (`data_quality_checks.py:18-25` shape)."""
    check_name: str
    table_name: str | None
    column_name: str | None
    passed: bool
    failed_count: int | None
    total_count: int | None
    details: str | None = None

    @property
    def failed_pct(self) -> float | None:
        if self.failed_count is None or not self.total_count:
            return None
        return 100.0 * self.failed_count / self.total_count

    def as_row(self) -> tuple:
        return (self.check_name, self.table_name, self.column_name,
                self.passed, self.failed_count, self.total_count,
                self.failed_pct, self.details)


@dataclass
class Check:
    """A named check that contributes one failed-count aggregate column.

    ``row_fail_cond`` (when the check is row-local) marks individual
    failing rows — the quarantine path uses it; set-level checks
    (unique/composite_unique) have none."""
    name: str
    column: str | None
    failed_expr: Column  # aggregate expr → number of failing rows
    details: str | None = None
    row_fail_cond: Column | None = None


# ---------------------------------------------------------------------------
# Check builders (each returns a Check whose expr is fused into one agg pass)
# ---------------------------------------------------------------------------

def not_null(column: str) -> Check:
    """`check_not_null` (`data_quality_checks.py:14-25`)."""
    return Check(
        f"not_null_{column}", column,
        F.sum(F.when(F.col(column).isNull(), 1).otherwise(0)).cast("long"),
        row_fail_cond=F.col(column).isNull(),
    )


def unique(column: str) -> Check:
    """`check_unique` (`data_quality_checks.py:28-40`): total − distinct.

    Total is ALL rows and NULL counts as one distinct value, exactly like
    the reference's ``df.count() − df.select(col).distinct().count()`` —
    so 5 NULL rows are 4 uniqueness failures. (A plain
    ``count(col) − countDistinct(col)`` would skip NULLs on both sides
    and let duplicate-NULL keys sail through.)"""
    return Check(
        f"unique_{column}", column,
        (F.count(F.lit(1)) - F.countDistinct(column)
         - F.coalesce(  # empty input: max() is NULL, not 0
             F.max(F.when(F.col(column).isNull(), 1).otherwise(0)),
             F.lit(0)))
        .cast("long"),
    )


def accepted_values(column: str, accepted: list[Any]) -> Check:
    """`check_accepted_values` (`data_quality_checks.py:43-64`)."""
    return Check(
        f"accepted_values_{column}", column,
        F.sum(F.when(F.col(column).isNotNull()
                     & ~F.col(column).isin(accepted), 1)
              .otherwise(0)).cast("long"),
        details=f"accepted={accepted}",
        row_fail_cond=F.col(column).isNotNull()
        & ~F.col(column).isin(accepted),
    )


def in_range(column: str, min_value: Any = None,
             max_value: Any = None) -> Check:
    """Numeric/date range check (generalizes `claim_amount >= 0`,
    `silver/clean_claims.py:34`)."""
    cond = F.lit(False)
    if min_value is not None:
        cond = cond | (F.col(column) < min_value)
    if max_value is not None:
        cond = cond | (F.col(column) > max_value)
    return Check(
        f"in_range_{column}", column,
        F.sum(F.when(cond, 1).otherwise(0)).cast("long"),
        details=f"range=[{min_value}, {max_value}]",
        row_fail_cond=cond,
    )


def cast_clean(column: str = "_cast_errors") -> Check:
    """Row had no raw-edge cast failure (engine addition; no reference
    twin — the reference's Spark-3 casts nulled silently with nothing to
    check). Pairs with silver's ``_cast_errors`` accounting: fused count
    of corrupt rows in `run_checks`, row-local routing in `quarantine`,
    where the failed-column names ride along for replay-after-fix."""
    return Check(
        f"cast_clean{'' if column == '_cast_errors' else '_' + column}",
        column,
        F.sum(F.when(F.col(column).isNotNull(), 1).otherwise(0))
        .cast("long"),
        row_fail_cond=F.col(column).isNotNull(),
    )


def composite_unique(columns: list[str]) -> Check:
    """`check_no_duplicates_on_composite_key` (`data_quality_checks.py:94-105`).

    Distinct over a STRUCT of the key columns — null-safe field equality,
    same semantics as the reference's ``df.select(cols).distinct()``. (An
    earlier string encoding collided: NULL vs the literal sentinel, and
    separator bytes inside values, could make distinct tuples compare
    equal.)"""
    key = F.struct(*[F.col(c) for c in columns])
    return Check(
        "composite_unique_" + "_".join(columns), ",".join(columns),
        (F.count(F.lit(1)) - F.countDistinct(key)).cast("long"),
    )


def expression_check(name: str, failing_condition: Column,
                     details: str | None = None) -> Check:
    """Escape hatch: any boolean row condition counted as failures."""
    return Check(
        name, None,
        F.sum(F.when(failing_condition, 1).otherwise(0)).cast("long"),
        details=details,
        row_fail_cond=failing_condition,
    )


# ---------------------------------------------------------------------------
# Runners
# ---------------------------------------------------------------------------

def run_checks(df: DataFrame, checks: list[Check],
               table_name: str | None = None) -> list[CheckResult]:
    """Run all column-level checks in ONE aggregate pass (single scan)."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, c in enumerate(checks):
        aggs.append(c.failed_expr.alias(f"__c{i}"))
    row = df.agg(*aggs).collect()[0]
    total = row["__total"]
    return [
        CheckResult(
            check_name=c.name, table_name=table_name, column_name=c.column,
            passed=(row[f"__c{i}"] or 0) == 0,
            failed_count=row[f"__c{i}"] or 0, total_count=total,
            details=c.details,
        )
        for i, c in enumerate(checks)
    ]


def quarantine(df: DataFrame, checks: list[Check]
               ) -> tuple[DataFrame, DataFrame]:
    """Split rows into (clean, quarantined) on the row-local checks — the
    production failure policy the reference names but defers
    (`silver/clean_policies.py:124-129` logs and continues; SURVEY §3
    entry 2 step 5). One lineage, two filters; quarantined rows carry a
    ``_failed_checks`` array naming every rule they broke, so the
    quarantine table is self-describing for replay after a fix.

    Set-level checks (unique/composite_unique) have no row-local
    condition and are skipped here — run_checks still reports them.
    """
    row_checks = [c for c in checks if c.row_fail_cond is not None]
    if not row_checks:
        return df, df.limit(0).withColumn(
            "_failed_checks", F.array().cast("array<string>"))
    failed = F.array_compact(F.array(*[
        F.when(c.row_fail_cond, F.lit(c.name)) for c in row_checks]))
    tagged = df.withColumn("_failed_checks", failed)
    clean = tagged.filter(F.size("_failed_checks") == 0) \
        .drop("_failed_checks")
    bad = tagged.filter(F.size("_failed_checks") > 0)
    return clean, bad


def _orphans(df: DataFrame, column: str, ref_df: DataFrame,
             ref_column: str) -> DataFrame:
    """Fact rows whose key is absent from the reference side (the plan
    behind :func:`check_relationships`; split out so tests can assert the
    anti-join shape).

    SIZE-CHECKED (VERDICT r9 #3): hint only when
    :func:`tables.fits_broadcast` says the PRE-distinct reference fits the
    session broadcast budget — a safe upper bound for the post-distinct
    key set the join actually broadcasts. An unknown size takes the
    shuffled anti-join (the graceful path for fact-sized references,
    ADVICE r5), which AQE can still turn into a broadcast at runtime. The
    r8/r9 sf8.0 probes proved an unconditional hint is a deferred OOM:
    ``F.broadcast`` bypasses the size check, so checking fact↔fact RI at
    100 TB would crash only once the reference outgrew the heap."""
    keys = ref_df.select(F.col(ref_column).alias(column)).distinct()
    if fits_broadcast(ref_df):
        keys = F.broadcast(keys)
    return (
        df.filter(F.col(column).isNotNull())
        .join(keys, on=column, how="left_anti")
    )


def check_relationships(df: DataFrame, column: str, ref_df: DataFrame,
                        ref_column: str,
                        table_name: str | None = None) -> CheckResult:
    """Referential integrity via LEFT ANTI join
    (`data_quality_checks.py:67-79`). One job; the reference side is
    broadcast only when Catalyst's size estimate fits the session
    broadcast budget (see :func:`_orphans` — the post-distinct key set is
    opaque to the auto-broadcast estimator, so the pre-distinct estimate
    is used as a safe upper bound). NULL fact keys are excluded (dbt
    relationships-test semantics; the reference's raw left_anti would
    count them as orphans, but it pairs the check with check_not_null on
    key columns)."""
    n = _orphans(df, column, ref_df, ref_column).count()
    return CheckResult(
        check_name=f"relationships_{column}", table_name=table_name,
        column_name=column, passed=n == 0, failed_count=n, total_count=None,
        details=f"ref={ref_column}",
    )


def row_count_range(df: DataFrame, min_rows: int, max_rows: int | None = None,
                    table_name: str | None = None) -> CheckResult:
    """`check_row_count_range` (`data_quality_checks.py:82-91`)."""
    n = df.count()
    ok = n >= min_rows and (max_rows is None or n <= max_rows)
    return CheckResult(
        check_name="row_count_range", table_name=table_name, column_name=None,
        passed=ok, failed_count=None, total_count=n,
        details=f"range=[{min_rows}, {max_rows}]",
    )


def results_df(spark: SparkSession,
               results: list[CheckResult]) -> DataFrame:
    """Materialize results with the reference's validation-log schema
    (`setup_catalog.sql:32-49`)."""
    return spark.createDataFrame([r.as_row() for r in results],
                                 RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# Schema validation (`silver/utils/schema_validator.py`)
# ---------------------------------------------------------------------------

@dataclass
class SchemaValidation:
    is_valid: bool
    missing_columns: list[str] = field(default_factory=list)
    extra_columns: list[str] = field(default_factory=list)
    type_mismatches: list[tuple[str, str, str]] = field(default_factory=list)


def validate_schema(df: DataFrame, expected: T.StructType,
                    strict: bool = False) -> SchemaValidation:
    """`validate_schema(df, expected, strict)` (`schema_validator.py:13-57`):
    missing/extra columns + type mismatches; strict mode fails on extras."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    exp = {f.name: f.dataType for f in expected.fields}
    missing = sorted(set(exp) - set(actual))
    extra = sorted(set(actual) - set(exp))
    mismatched = [
        (name, str(exp[name]), str(actual[name]))
        for name in sorted(set(exp) & set(actual))
        if exp[name] != actual[name]
    ]
    ok = not missing and not mismatched and (not strict or not extra)
    return SchemaValidation(ok, missing, extra, mismatched)


def compare_schemas(a: DataFrame, b: DataFrame,
                    ignore_metadata_cols: bool = True) -> SchemaValidation:
    """Drift report between two DataFrames (`schema_validator.py:60-94`);
    `_`-prefixed lineage columns excluded like the reconciliation harness
    (`migration_validation/reconciliation.py:140-141`)."""
    def cols(df: DataFrame) -> dict[str, T.DataType]:
        return {f.name: f.dataType for f in df.schema.fields
                if not (ignore_metadata_cols and f.name.startswith("_"))}
    ca, cb = cols(a), cols(b)
    missing = sorted(set(ca) - set(cb))
    extra = sorted(set(cb) - set(ca))
    mismatched = [
        (n, str(ca[n]), str(cb[n]))
        for n in sorted(set(ca) & set(cb)) if ca[n] != cb[n]
    ]
    return SchemaValidation(not missing and not extra and not mismatched,
                            missing, extra, mismatched)
