"""Pre-publish data validation: declarative checks gating the swap.

The reference publishes whatever the load produced — its only gate is
"did the SQL run" (load_dataset.py:341-370).  At 100 TB a bad upstream
file silently replacing a good table is the worst failure mode an
analytics engine has, and the staging-then-swap design (O1) gives us
the natural interception point for free: validate the *staging*
tables, and only swap when every check passes.  Readers keep the last
good version on failure — the same guarantee the temp-schema rollback
gives for crashes, extended to semantic corruption.

Cost model: all row-shaped checks on a table (non-null, accepted
values, key uniqueness, row count) fold into ONE aggregation pass —
one scan, partial aggs map-side, a scalar per check back to the
driver.  Nothing here collects data — only violation counts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CheckResult:
    check: str
    violations: int
    detail: str = ""

    @property
    def passed(self) -> bool:
        return self.violations == 0


class ValidationError(Exception):
    def __init__(self, table: str, failures: list[CheckResult]) -> None:
        self.table = table
        self.failures = failures
        lines = ", ".join(f"{f.check}({f.violations})" for f in failures)
        super().__init__(f"validation failed for {table}: {lines}")


@dataclass
class TableChecks:
    """Declarative check set for one table.

    - ``unique_key``: no two rows share these columns.
    - ``not_null``: each listed column has no NULLs.
    - ``accepted_values``: column value ∈ fixed domain (NULLs pass —
      combine with not_null to forbid them).
    - ``min_rows``: refuse suspiciously small results (an empty
      CREATE-TABLE-AS from a bad filter is the classic silent wipe).
    - ``predicates``: arbitrary named boolean columns that must hold
      for every row (violations = rows where the predicate is false
      or NULL).
    """

    unique_key: list[str] | None = None
    not_null: list[str] = field(default_factory=list)
    accepted_values: dict[str, list] = field(default_factory=dict)
    min_rows: int = 1
    predicates: dict[str, Column] = field(default_factory=dict)


def run_checks(df: DataFrame, checks: TableChecks) -> list[CheckResult]:
    """Evaluate every row-shaped check in ONE aggregation pass."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    if checks.unique_key:
        aggs.append(
            F.count_distinct(
                F.struct(*[F.col(c) for c in checks.unique_key])
            ).alias("__n_key")
        )
        null_key = None
        for c in checks.unique_key:
            cond = F.col(c).isNull()
            null_key = cond if null_key is None else (null_key | cond)
        # '__uk_null', not '__null_<c>' — a data column literally
        # named 'key' would otherwise collide with the not_null
        # probe's alias and silently cross-wire both checks.
        aggs.append(
            F.coalesce(
                F.sum(F.when(null_key, 1).otherwise(0)), F.lit(0)
            ).alias("__uk_null")
        )
    for c in checks.not_null:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"__null_{c}")
        )
    for c, dom in checks.accepted_values.items():
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(c).isNotNull() & ~F.col(c).isin(dom), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"__dom_{c}")
        )
    for name, pred in checks.predicates.items():
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)
                ),
                F.lit(0),
            ).alias(f"__pred_{name}")
        )

    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    out = [
        CheckResult(
            "min_rows",
            max(0, checks.min_rows - n),
            f"{n} rows < required {checks.min_rows}"
            if n < checks.min_rows
            else "",
        )
    ]
    if checks.unique_key:
        # duplicates (count_distinct treats equal NULL-bearing structs
        # as one value, so NULL groups dedupe like values) PLUS every
        # NULL-bearing key row — a key with NULLs is not a key.
        dups = (n - row["__n_key"]) + row["__uk_null"]
        out.append(
            CheckResult(
                f"unique_key({','.join(checks.unique_key)})", dups
            )
        )
    for c in checks.not_null:
        out.append(CheckResult(f"not_null({c})", row[f"__null_{c}"]))
    for c in checks.accepted_values:
        out.append(CheckResult(f"accepted_values({c})", row[f"__dom_{c}"]))
    for name in checks.predicates:
        out.append(CheckResult(f"predicate({name})", row[f"__pred_{name}"]))
    return out


def validate_or_raise(
    table: str,
    df: DataFrame,
    checks: TableChecks,
) -> list[CheckResult]:
    """Run all checks; raise :class:`ValidationError` on any failure.
    Call on STAGING tables before ``publish_tables`` — the swap never
    happens for a failing dataset, so readers keep the last good
    version."""
    results = run_checks(df, checks)
    failures = [r for r in results if not r.passed]
    if failures:
        raise ValidationError(table, failures)
    return results
