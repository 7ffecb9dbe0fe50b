"""Incremental aggregate maintenance from change-data-feed rows — the
production CONSUMER of the versioned catalog's CDF (Delta's "incrementally
refresh a downstream aggregate from readChangeFeed" pattern; classic
incremental view maintenance for distributive aggregates).

Given a grouped aggregate table (COUNT + SUM measures) and the CDF rows
between two versions (`Catalog.table_changes` / the `catalog_changes`
source: base columns + ``_change_type`` insert/delete, plus Delta's
typed update_preimage/update_postimage on upsert commits — each
semantically a delete/insert here), the maintained
aggregate is computed WITHOUT rescanning the base table: inserts add,
deletes subtract, groups whose row count reaches zero disappear, and
groups first seen in the changes appear. Work is O(|changes| + |agg|),
both usually orders of magnitude smaller than the base — at 100 TB this
is the difference between a full-table re-aggregation per refresh and a
changelog-sized merge.

Semantic boundaries (stated, not silent):
- Supported measures are COUNT(*) plus SUMs — the distributive aggregates
  that admit subtraction. MIN/MAX are NOT maintainable under deletes
  (losing the current extremum needs the base) and are refused upstream
  by construction (this module simply doesn't offer them); rebuild those
  or keep a heap-sketch elsewhere.
- SUM measures are maintained as SUM(COALESCE(col, 0)): a pure delta
  stream cannot distinguish "sums to 0" from "all contributing values
  were NULL" without a per-measure non-null count. Build the base
  aggregate with the same COALESCE (``aggregate_base`` does) and the
  maintained and recomputed forms agree exactly.

Reference: the kin warehouse rebuilds every daily mart from scratch each
cron run (execute_snowflake_load.py drives full CREATE OR REPLACE
passes); this operator is the engine's incremental upgrade for the
rollup-shaped ones, exact by construction instead of by re-run.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def aggregate_base(
    df: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """The base aggregate in the exact shape ``maintain_aggregate``
    preserves: COUNT(*) plus SUM(COALESCE(src, 0)) per measure."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias(count_col),
        *[
            F.sum(F.coalesce(F.col(src), F.lit(0))).alias(out)
            for out, src in measures.items()
        ],
    )


def maintain_aggregate(
    agg: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    measures: Mapping[str, str],
    count_col: str = "n_rows",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Apply CDF rows to a grouped COUNT+SUM aggregate, returning the
    maintained aggregate (equal to recomputing ``aggregate_base`` over
    the post-change base — pinned by tests/test_incremental.py).

    ``agg`` carries ``group_cols`` + ``count_col`` + the measure output
    columns; ``changes`` carries the base columns + ``change_type_col``
    with values 'insert'/'delete' plus Delta's typed
    'update_preimage'/'update_postimage' (exactly what ``table_changes``
    emits — a typed update row is semantically a delete/insert and
    signs accordingly, so untyped delete+insert pairs and typed
    pre/postimage pairs net identically).

    Plan shape: one aggregation over the CHANGES (map-side combinable),
    one null-safe full-outer join against the aggregate on the group
    keys (both frames are group-grain — the base table is never read),
    then a count>0 filter so emptied groups vanish. NULL group keys are
    matched null-safely (<=>), mirroring GROUP BY's NULL-is-one-group
    semantics.
    """
    ct = F.col(change_type_col)
    # a malformed change type must fail loudly, not silently skew sums:
    # the sign itself raises task-side (plans/checks.enforce's pattern),
    # so the guard rides the fold's own aggregation with no probe job.
    # A NULL type matches neither branch and raises too.
    sign = (
        F.when(ct.isin("insert", "update_postimage"), F.lit(1))
        .when(ct.isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown change type "),
                    F.coalesce(F.concat(F.lit("'"), ct, F.lit("'")), F.lit("NULL")),
                    F.lit(
                        "; expected 'insert'/'delete'/'update_preimage'/"
                        "'update_postimage' (the table_changes contract)"
                    ),
                )
            )
        )
    )
    delta = changes.groupBy(*group_cols).agg(
        F.sum(sign).cast("long").alias("__dn"),
        *[
            F.sum(sign * F.coalesce(F.col(src), F.lit(0))).alias(f"__d_{out}")
            for out, src in measures.items()
        ],
    )
    a, d = agg.alias("a"), delta.alias("d")
    cond = None
    for c in group_cols:
        term = F.col(f"a.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = term if cond is None else (cond & term)
    joined = a.join(d, cond, "full_outer")
    keys = [
        F.coalesce(F.col(f"a.{c}"), F.col(f"d.{c}")).alias(c)
        for c in group_cols
    ]
    n = (
        F.coalesce(F.col(f"a.{count_col}"), F.lit(0))
        + F.coalesce(F.col("__dn"), F.lit(0))
    ).cast("long")
    sums = [
        (
            F.coalesce(F.col(f"a.{out}"), F.lit(0))
            + F.coalesce(F.col(f"__d_{out}"), F.lit(0))
        ).alias(out)
        for out in measures
    ]
    return joined.select(*keys, n.alias(count_col), *sums).filter(
        F.col(count_col) > 0
    )


def distinct_support(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    support_col: str = "n_support",
) -> DataFrame:
    """The auxiliary state that makes COUNT(DISTINCT value) maintainable
    under deletes: the (group, value) -> multiplicity table. A plain
    distinct count is NOT distributive (a delete can't tell whether other
    rows still carry the value), but the support multiset is — classic
    IVM. NULL values are excluded, matching COUNT(DISTINCT)'s NULL rule."""
    return df.filter(F.col(value_col).isNotNull()).groupBy(
        *group_cols, value_col
    ).agg(F.count(F.lit(1)).cast("long").alias(support_col))


def maintain_distinct_support(
    support: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    support_col: str = "n_support",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Roll the support table forward from CDF rows — exactly
    ``maintain_aggregate`` at (group, value) grain with no SUM measures:
    a value's support reaching zero drops its row, so the derived
    distinct count shrinks precisely when the LAST row carrying the
    value is deleted."""
    return maintain_aggregate(
        support,
        changes.filter(F.col(value_col).isNotNull()),
        [*group_cols, value_col],
        {},
        count_col=support_col,
        change_type_col=change_type_col,
    )


def distinct_count_from_support(
    support: DataFrame,
    group_cols: Sequence[str],
    out_col: str = "n_distinct",
) -> DataFrame:
    """COUNT(DISTINCT value) per group, derived from the support table:
    one row per surviving (group, value) pair, so the count is a plain
    row count — support-table-sized, never touching the base."""
    return support.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias(out_col)
    )


def quantile_from_support(
    support: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    q: float,
    out_col: str = "quantile",
    support_col: str = "n_support",
) -> DataFrame:
    """Discrete quantile (SQL ``percentile_disc`` / DuckDB
    ``quantile_disc``: the smallest actual value whose cumulative share
    reaches ``q``; NULLs excluded) per group, derived from the SAME
    (group, value) → multiplicity support table that serves exact
    COUNT(DISTINCT) — the support multiset is a TURNSTILE structure, so
    holistic quantiles become maintainable under inserts AND deletes,
    which mergeable one-way sketches (t-digest, KLL) cannot do: they
    have no subtract operation, so a deleted row silently stays in the
    digest. State is value-cardinality-sized — the documented cost; the
    APPROXIMATE form bounds it by quantizing the value in the mart's
    row-local transform (bin the values → support over bins → quantile
    error ≤ bin width, still exact-under-deletes at bin resolution).

    Work is support-table-sized: one cumulative-sum window per group
    over the support rows, never touching the base.
    """
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    # target rank = ceil(q·total); the epsilon guards float boundaries
    # (0.9 * 10 evaluating to 9.000000000000002 must still target 9)
    ranked = (
        support.withColumn("__cum", F.sum(support_col).over(w_cum))
        .withColumn("__total", F.sum(support_col).over(w_all))
        .withColumn(
            "__target",
            F.ceil(F.lit(float(q)) * F.col("__total") - F.lit(1e-9)),
        )
    )
    return (
        ranked.filter(F.col("__cum") >= F.col("__target"))
        .groupBy(*group_cols)
        .agg(F.min(value_col).alias(out_col))
    )


def minmax_base(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    min_col: str = "min_val",
    max_col: str = "max_val",
) -> DataFrame:
    """Per-group MIN/MAX in the shape ``maintain_minmax`` preserves
    (groups with only-NULL values carry NULL extrema, like SQL MIN/MAX)."""
    return df.groupBy(*group_cols).agg(
        F.min(value_col).alias(min_col), F.max(value_col).alias(max_col)
    )


def maintain_minmax(
    minmax: DataFrame,
    changes: DataFrame,
    base: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    min_col: str = "min_val",
    max_col: str = "max_val",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """MIN/MAX under deletes — the HYBRID form (the honest one): an
    insert can only improve an extremum (pure delta math), but deleting
    the current extremum needs the base, so exactly the AFFECTED groups
    — those where a deleted value ties the stored extremum, or whose
    row membership may have emptied — are recomputed from ``base``
    (the POST-change table, e.g. the newer snapshot or the live table),
    while every other group is maintained delta-only.

    Scale shape: the affected-group set is changes-bounded; the base
    rescan is a semi join on those groups (partition-pruned when the
    base is partitioned or clustered by them), so the recompute cost is
    affected-groups-sized, never a full re-aggregation. This is the
    standard IVM treatment of non-distributive extrema; pick
    ``maintain_aggregate`` for the distributive measures instead.
    """
    # per-group delta summary: best inserted values + deleted extrema.
    # Typed update rows count on the side they are semantically: a
    # preimage is a removal, a postimage an addition.
    is_add = F.col(change_type_col).isin("insert", "update_postimage")
    is_del = F.col(change_type_col).isin("delete", "update_preimage")
    dsum = (
        changes.groupBy(*group_cols)
        .agg(
            F.min(F.when(is_add, F.col(value_col))).alias("__ins_min"),
            F.max(F.when(is_add, F.col(value_col))).alias("__ins_max"),
            F.min(F.when(is_del, F.col(value_col))).alias("__del_min"),
            F.max(F.when(is_del, F.col(value_col))).alias("__del_max"),
            # any-delete marker must count NULL-VALUED deletes too: a
            # group emptied through all-NULL rows has no deleted extremum
            # yet must still rebuild (to vanish or re-derive NULL extrema)
            F.max(F.when(is_del, F.lit(1))).alias("__saw_del"),
        )
    )
    a, d = minmax.alias("a"), dsum.alias("d")
    cond = None
    for c in group_cols:
        term = F.col(f"a.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = term if cond is None else (cond & term)
    joined = a.join(d, cond, "full_outer")
    keys = [
        F.coalesce(F.col(f"a.{c}"), F.col(f"d.{c}")).alias(c)
        for c in group_cols
    ]
    # a group needs the base iff a deletion REACHED its stored extremum
    # (the surviving extremum is unknown), or it saw any delete while
    # being new/unknown to the stored state, or membership may be gone
    had_state = F.col(f"a.{min_col}").isNotNull() | F.col(f"a.{max_col}").isNotNull()
    saw_delete = F.col("__saw_del").isNotNull()
    hit_min = saw_delete & (F.col("__del_min") <= F.col(f"a.{min_col}"))
    hit_max = saw_delete & (F.col("__del_max") >= F.col(f"a.{max_col}"))
    needs_base = F.coalesce(
        (saw_delete & ~had_state) | hit_min | hit_max, F.lit(False)
    )
    delta_min = F.least(F.col(f"a.{min_col}"), F.col("__ins_min"))
    delta_max = F.greatest(F.col(f"a.{max_col}"), F.col("__ins_max"))
    merged = joined.select(
        *keys,
        needs_base.alias("__needs_base"),
        delta_min.alias(min_col),
        delta_max.alias(max_col),
    )
    clean = merged.filter(~F.col("__needs_base")).drop("__needs_base")
    dirty_keys = merged.filter(F.col("__needs_base")).select(*group_cols)
    # bounded driver probe (state⋈delta grain, never the base): when NO
    # extremum was hit, return the delta-only form with the base branch
    # ELIDED from the plan entirely. Empirically AQE does NOT collapse a
    # LeftSemi whose broadcast build side turns out empty at runtime
    # (verified on Spark 4.1: the base scan stage still runs), so at
    # 100 TB an insert-only refresh would otherwise pay a full base scan
    # for nothing — one tiny driver job here buys that scan back.
    if not dirty_keys.limit(1).collect():
        return clean
    # affected groups only: semi join prunes the base scan, and groups
    # that emptied out simply produce no row (groupBy of zero rows)
    rebuilt = minmax_base(
        base.join(F.broadcast(dirty_keys), list(group_cols), "left_semi"),
        group_cols,
        value_col,
        min_col,
        max_col,
    )
    return clean.unionByName(rebuilt)


def hll_input(value_col: str):
    """The canonical HLL input: the value's string form (NULL-preserving,
    so the agg's NULL exclusion still applies)."""
    return F.col(value_col).cast("string")


def hll_base(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Per-group HLL sketch in the shape ``maintain_hll_distinct``
    preserves: ``hll_sketch_agg`` skips NULL values (an all-NULL group
    carries an EMPTY sketch whose estimate is 0, matching
    COUNT(DISTINCT)'s NULL exclusion). Values are sketched by their
    CANONICAL STRING form (``hll_sketch_agg`` accepts only
    int/bigint/string/binary; casting uniformly keeps dates, decimals
    and doubles sketchable, and every maintenance path hashes
    identically)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(hll_input(value_col)).alias(sketch_col)
    )


def maintain_hll_distinct(
    state: DataFrame,
    changes: DataFrame,
    base: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sketch_col: str = "hll_sketch",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Approximate COUNT(DISTINCT) under deletes — the HYBRID form for
    the ONE-WAY-mergeable sketch class (the declared alternative to the
    exact turnstile supports where exactness is waived, VERDICT r10
    stretch 7b): inserted values MERGE into the stored group sketch
    (``hll_union_agg`` — pure delta math, no state beyond the
    mart-resident binary column), but HLL has no subtract, so exactly
    the groups that saw ANY removal (delete or update preimage — even a
    NULL-valued one: membership may have emptied) are re-sketched from
    ``base`` via a broadcast semi join, while every other group stays
    delta-only. Same scale shape as ``maintain_minmax``: the affected
    set is changes-bounded, the base rescan is group-pruned, and a
    bounded driver probe elides the base branch from the plan entirely
    for insert-only spans (AQE does not collapse an empty-build
    LeftSemi at runtime). Sketch state is groups x ~KB — constant per
    group where the exact support is value-cardinality-sized; the price
    is the standard HLL relative error (~2% at the default lgConfigK),
    pinned by test."""
    is_add = F.col(change_type_col).isin("insert", "update_postimage")
    is_del = F.col(change_type_col).isin("delete", "update_preimage")
    dsum = changes.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.when(is_add, hll_input(value_col))).alias(
            "__ins_hll"
        ),
        F.max(F.when(is_del, F.lit(1))).alias("__saw_del"),
    )
    a, d = state.alias("a"), dsum.alias("d")
    cond = None
    for c in group_cols:
        term = F.col(f"a.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = term if cond is None else (cond & term)
    joined = a.join(d, cond, "full_outer")
    keys = [
        F.coalesce(F.col(f"a.{c}"), F.col(f"d.{c}")).alias(c)
        for c in group_cols
    ]
    merged = joined.select(
        *keys,
        F.coalesce(F.col("__saw_del").isNotNull(), F.lit(False)).alias(
            "__needs_base"
        ),
        F.col(f"a.{sketch_col}").alias("__state_hll"),
        F.col("__ins_hll"),
    )
    clean = (
        merged.filter(~F.col("__needs_base"))
        .select(
            *group_cols,
            F.explode(
                F.array(F.col("__state_hll"), F.col("__ins_hll"))
            ).alias("__part")
        )
        .filter(F.col("__part").isNotNull())
        .groupBy(*group_cols)
        .agg(F.hll_union_agg("__part").alias(sketch_col))
    )
    dirty_keys = merged.filter(F.col("__needs_base")).select(*group_cols)
    if not dirty_keys.limit(1).collect():
        return clean
    rebuilt = hll_base(
        base.join(F.broadcast(dirty_keys), list(group_cols), "left_semi"),
        group_cols,
        value_col,
        sketch_col,
    )
    return clean.unionByName(rebuilt)
