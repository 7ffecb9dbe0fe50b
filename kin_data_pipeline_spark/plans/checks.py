"""Declarative data-quality checks — the dbt-style test layer warehouse
pipelines attach to their models (the reference relies on Snowflake
constraints). One write-time contract enforces them: ``enforce`` folds a
model's row checks and a table's CHECK constraints alike into the written
projection, and the Catalog runs ``assert_unique`` on the written key
columns before it commits. ``run_checks``, ``assert_checks`` and
``violations`` are the standalone audit API over a stored table: one
aggregation pass of violation counts, or the offending rows lazily.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

@dataclass(frozen=True)
class Check:
    """One named rule. A row check's ``predicate`` is TRUE on a violating
    row (NULL passes, as in SQL CHECK); ``unique`` carries its key
    ``cols`` instead."""

    name: str
    predicate: Column | None = None
    cols: tuple[str, ...] = ()

def _any(conds) -> Column:
    return functools.reduce(lambda a, b: a | b, conds)

def not_null(*cols: str) -> Check:
    return Check(f"not_null({', '.join(cols)})", _any(F.col(c).isNull() for c in cols))

def unique(*cols: str) -> Check:
    # rows with a NULL key component are ignored; pair with not_null to
    # forbid NULL keys
    return Check(f"unique({', '.join(cols)})", cols=cols)

def accepted_values(col: str, values: Sequence) -> Check:
    # NULLs are always ignored (dbt semantics — pair with not_null to forbid
    # them), and None is stripped from the list: a NULL inside isin() turns
    # the whole predicate NULL under three-valued logic, which would make
    # the check vacuously pass on ANY value.
    vals = [v for v in values if v is not None]
    # Parameter values are part of the name: two accepted_values() on the
    # same column with different lists are DIFFERENT checks, and run_checks
    # keys its result dict by name.
    return Check(
        f"accepted_values({col}, {vals!r})",
        F.col(col).isNotNull() & ~F.col(col).isin(vals),
    )

def non_negative(*cols: str) -> Check:
    return Check(f"non_negative({', '.join(cols)})", _any(F.col(c) < 0 for c in cols))

def in_range(col: str, lo, hi) -> Check:
    return Check(f"in_range({col}, {lo}, {hi})", (F.col(col) < lo) | (F.col(col) > hi))

def enforce(
    df: DataFrame, checks: Sequence[Check], constraints: Mapping[str, str] | None = None
) -> DataFrame:
    """``df`` with every row check of ``checks`` and every CHECK
    constraint of ``constraints`` ({name: sql_expr}) evaluated per row
    while it is written: a task-side ``raise_error`` folded into the first
    projected column, so there is no separate validation pass and the job
    aborts on the first violation with the check's name and the row as
    JSON. A constraint violates only where its expression is FALSE (SQL
    CHECK semantics). ``unique`` checks are left to ``assert_unique``."""
    rows = [
        Check(f"CHECK constraint {n!r} ({e})", F.expr(e).eqNullSafe(F.lit(False)))
        for n, e in sorted((constraints or {}).items())
    ] + [c for c in checks if c.predicate is not None]
    if not rows or not df.columns:
        return df
    first = df.columns[0]
    row = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    wrapped = F.col(first)
    for c in reversed(rows):
        msg = F.concat(F.lit(f"{c.name} violated by row: "), row)
        wrapped = F.when(c.predicate, F.raise_error(msg)).otherwise(wrapped)
    return df.withColumn(first, wrapped)

def assert_unique(df: DataFrame, checks: Sequence[Check]) -> None:
    """Raise ``ValueError`` naming the check and one duplicated key if a
    ``unique`` check of ``checks`` has a key twice in ``df``. Keys with a
    NULL component are ignored."""
    for c in checks:
        if not c.cols:
            continue
        keyed = df.where(~_any(F.col(k).isNull() for k in c.cols))
        dup = keyed.groupBy(*c.cols).count().where("count > 1").limit(1).collect()
        if dup:
            key = json.dumps(dup[0].asDict(), default=str)
            raise ValueError(f"{c.name} violated by duplicated key: {key}")

def _violation_count(c: Check) -> Column:
    if c.predicate is not None:
        return F.sum(c.predicate.cast("long"))
    # duplicates = non-null-keyed rows beyond the first per key
    keyed = ~_any(F.col(k).isNull() for k in c.cols)
    return F.sum(keyed.cast("long")) - F.count_distinct(*[F.col(k) for k in c.cols])

def run_checks(df: DataFrame, checks: Sequence[Check]) -> dict[str, int]:
    """Evaluate all checks; returns {check_name: violation_count}.

    Row-predicate checks fuse into ONE aggregation pass over the table;
    uniqueness checks (which need distinct counting) are evaluated in the
    same single job as additional aggregate expressions — still one scan.
    """
    if not checks:
        return {}
    names = [c.name for c in checks]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        # A name collision would silently keep only the last count — a
        # violated earlier check could be masked in assert_checks.
        raise ValueError(f"duplicate check names: {dupes}")
    aggs = [
        F.coalesce(_violation_count(c), F.lit(0)).cast("long").alias(str(i))
        for i, c in enumerate(checks)
    ]
    row = df.agg(*aggs).collect()[0]
    return {c.name: int(row[str(i)]) for i, c in enumerate(checks)}

def violations(df: DataFrame, check: Check) -> DataFrame:
    """The violating rows for a row-predicate check (lazy; for debugging)."""
    if check.predicate is None:
        raise ValueError(f"{check.name} has no row-level predicate form")
    return df.filter(check.predicate)

def assert_checks(df: DataFrame, checks: Sequence[Check], table: str = "") -> None:
    """Raise with a per-check report if any check is violated."""
    results = run_checks(df, checks)
    bad = {k: v for k, v in results.items() if v > 0}
    if bad:
        detail = ", ".join(f"{k}: {v} rows" for k, v in bad.items())
        raise AssertionError(f"data-quality failures on {table or 'frame'}: {detail}")
