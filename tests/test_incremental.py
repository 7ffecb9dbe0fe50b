"""Incremental aggregate maintenance (operators/incremental.py): the
maintained aggregate must equal recomputing the base aggregate after the
changes — across inserts, deletes, updates (delete+insert pairs), group
disappearance and reappearance, NULL group keys and NULL measures — and
must compose with the REAL CDF the versioned catalog emits."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from kin_data_pipeline_spark.operators.incremental import (
    aggregate_base,
    maintain_aggregate,
)

DDL = "grp string, sub string, val long"


def _rows_of(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v if v is not None else 0) for v in t),
    )


def test_maintenance_equals_recompute_through_random_batches(spark):
    """Five random change batches over a 2-key aggregate (NULL keys and
    NULL measures included): after each batch the maintained aggregate
    matches a from-scratch recompute of the surviving base multiset."""
    import random

    rng = random.Random(8)
    grps = ["a", "b", None]
    subs = ["x", "y"]

    def rand_row():
        return (
            rng.choice(grps),
            rng.choice(subs),
            rng.choice([None, 0, 1, 5, -3, 100]),
        )

    base = [rand_row() for _ in range(40)]
    keys, measures = ["grp", "sub"], {"sum_val": "val"}
    agg = aggregate_base(spark.createDataFrame(base, DDL), keys, measures)
    for _ in range(5):
        deletes = rng.sample(base, k=min(len(base), rng.randrange(0, 15)))
        inserts = [rand_row() for _ in range(rng.randrange(0, 15))]
        for r in deletes:
            base.remove(r)
        base.extend(inserts)
        ch_rows = [(*r, "delete") for r in deletes] + [
            (*r, "insert") for r in inserts
        ]
        changes = spark.createDataFrame(
            ch_rows or [(None, None, None, "insert")],
            f"{DDL}, _change_type string",
        )
        if not ch_rows:
            changes = changes.limit(0)
        agg = maintain_aggregate(agg, changes, keys, measures)
        want = aggregate_base(spark.createDataFrame(base, DDL) if base else
                              spark.createDataFrame([], DDL), keys, measures)
        assert _rows_of(agg) == _rows_of(want)


def test_group_disappears_at_zero_and_reappears(spark):
    keys, measures = ["grp"], {"sum_val": "val"}
    agg = aggregate_base(
        spark.createDataFrame([("a", "x", 10), ("b", "x", 5)], DDL), keys, measures
    )
    gone = maintain_aggregate(
        agg,
        spark.createDataFrame([("a", "x", 10, "delete")], f"{DDL}, _change_type string"),
        keys,
        measures,
    )
    assert _rows_of(gone) == [("b", 1, 5)]
    back = maintain_aggregate(
        gone,
        spark.createDataFrame([("a", "y", 7, "insert")], f"{DDL}, _change_type string"),
        keys,
        measures,
    )
    assert _rows_of(back) == [("a", 1, 7), ("b", 1, 5)]


def test_malformed_change_type_raises(spark):
    agg = aggregate_base(
        spark.createDataFrame([("a", "x", 1)], DDL), ["grp"], {"sum_val": "val"}
    )
    # the guard is task-side (raise_error inside the fold's aggregation):
    # building the plan runs no job, evaluating it fails. A NULL type is
    # malformed too, not a row that sums as NULL.
    for bad, shown in (("upsert", "'upsert'"), (None, "NULL")):
        ch = spark.createDataFrame(
            [("a", "x", 1, bad)], f"{DDL}, _change_type string"
        )
        out = maintain_aggregate(agg, ch, ["grp"], {"sum_val": "val"})
        with pytest.raises(SparkRuntimeException, match=f"unknown change type {shown}"):
            out.collect()


def test_maintenance_composes_with_the_real_cdf(spark, tmp_path):
    """End-to-end with the versioned catalog: maintain a downstream
    aggregate from table_changes commit by commit (the changelog-derived
    path) and land exactly on the tip's recomputed aggregate — the CDF's
    production consumer loop."""
    from kin_data_pipeline_spark.plans.engine import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full(
        "t",
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)], ddl
        ),
        None,
    )
    cat.enable_versioning("t")  # v0
    keys, measures = ["grp"], {"sum_val": "val"}
    agg = aggregate_base(cat.table_at_version("t", 0), keys, measures)
    cat.write_append(
        "t", spark.createDataFrame([(4, "c", 40)], ddl), None
    )  # v1
    cat.upsert_by_key(
        "t", spark.createDataFrame([(2, "a", 99)], ddl), ["id"], None
    )  # v2: update surfaces as delete+insert
    cat.delete_by_keys("t", "grp", ["b"])  # v3: group 'b' empties out
    tip = cat.history("t")[-1]["version"]
    for v in range(1, tip + 1):
        agg = maintain_aggregate(
            agg, cat.table_changes("t", v - 1, v), keys, measures
        )
    want = aggregate_base(cat.table("t"), keys, measures)
    assert _rows_of(agg) == _rows_of(want)
    assert _rows_of(agg) == [("a", 2, 109), ("c", 1, 40)]


def test_distinct_count_maintenance_equals_recompute(spark, tmp_path):
    """COUNT(DISTINCT) via the maintained support multiset: the derived
    count equals a from-scratch recompute after every commit — including
    the case where deleting ONE of two rows carrying a value must NOT
    shrink the count, and deleting the last one must."""
    from kin_data_pipeline_spark.operators.incremental import (
        distinct_count_from_support,
        distinct_support,
        maintain_distinct_support,
    )
    from kin_data_pipeline_spark.plans.engine import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full(
        "t",
        spark.createDataFrame(
            # grp 'a' carries val 10 TWICE (ids 1 and 2)
            [(1, "a", 10), (2, "a", 10), (3, "a", 20), (4, "b", 30), (5, "b", None)],
            ddl,
        ),
        None,
    )
    cat.enable_versioning("t")  # v0
    sup = distinct_support(cat.table_at_version("t", 0), ["grp"], "val")
    cat.delete_by_keys("t", "id", ["1"])  # v1: (a,10) support 2 -> 1
    cat.delete_by_keys("t", "id", ["2"])  # v2: (a,10) support 1 -> 0
    cat.write_append(
        "t", spark.createDataFrame([(6, "b", 30), (7, "b", 40)], ddl), None
    )  # v3: (b,30) support up, (b,40) new
    for v in (1, 2, 3):
        sup = maintain_distinct_support(
            sup, cat.table_changes("t", v - 1, v), ["grp"], "val"
        )
        got = sorted(
            tuple(r)
            for r in distinct_count_from_support(sup, ["grp"]).collect()
        )
        want = sorted(
            tuple(r)
            for r in cat.table_at_version("t", v)
            .groupBy("grp")
            .agg(F.count_distinct("val").cast("long").alias("n_distinct"))
            .collect()
        )
        assert got == want, (v, got, want)
    assert got == [("a", 1), ("b", 2)]


def test_minmax_hybrid_maintenance_equals_recompute(spark, tmp_path):
    """MIN/MAX through random change batches: delta-only when deletes
    miss the extrema, base-assisted (affected groups only) when they hit
    them — always equal to the from-scratch recompute."""
    import random

    from kin_data_pipeline_spark.operators.incremental import (
        maintain_minmax,
        minmax_base,
    )

    rng = random.Random(88)

    def rand_val():
        # NULLs included: SQL MIN/MAX ignore them, and a group emptied
        # through all-NULL rows must still vanish from the maintained state
        return rng.choice([None, None, *range(0, 50, 7)]) if rng.random() < 0.3 else rng.randrange(0, 50)

    base = [
        (rng.choice(["a", "b", "c"]), "x", rand_val())
        for _ in range(30)
    ]
    mm = minmax_base(spark.createDataFrame(base, DDL), ["grp"], "val")
    for _ in range(6):
        deletes = rng.sample(base, k=rng.randrange(0, 14))
        inserts = [
            (rng.choice(["a", "b", "c", "d"]), "x", rand_val())
            for _ in range(rng.randrange(0, 8))
        ]
        for r in deletes:
            base.remove(r)
        base.extend(inserts)
        ch = spark.createDataFrame(
            [(*r, "delete") for r in deletes] + [(*r, "insert") for r in inserts]
            or [("z", "x", 0, "insert")],
            f"{DDL}, _change_type string",
        )
        if not deletes and not inserts:
            ch = ch.limit(0)
        post = spark.createDataFrame(base, DDL) if base else spark.createDataFrame([], DDL)
        mm = maintain_minmax(mm, ch, post, ["grp"], "val")
        want = minmax_base(post, ["grp"], "val")
        assert _rows_of(mm) == _rows_of(want)


def test_minmax_composes_with_the_real_cdf(spark, tmp_path):
    """End-to-end: MIN/MAX maintained from table_changes, the base
    argument being each step's post-change snapshot — deleting the
    current max forces the affected-group rebuild and lands on the
    recompute."""
    from kin_data_pipeline_spark.operators.incremental import (
        maintain_minmax,
        minmax_base,
    )
    from kin_data_pipeline_spark.plans.engine import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full(
        "t",
        spark.createDataFrame([(1, "a", 10), (2, "a", 99), (3, "b", 5)], ddl),
        None,
    )
    cat.enable_versioning("t")  # v0
    mm = minmax_base(cat.table_at_version("t", 0), ["grp"], "val")
    cat.delete_by_keys("t", "id", ["2"])  # v1: drops a's MAX
    cat.write_append(
        "t", spark.createDataFrame([(4, "b", 1)], ddl), None
    )  # v2: improves b's MIN (delta-only path)
    for v in (1, 2):
        mm = maintain_minmax(
            mm,
            cat.table_changes("t", v - 1, v),
            cat.table_at_version("t", v),
            ["grp"],
            "val",
        )
    assert _rows_of(mm) == _rows_of(minmax_base(cat.table("t"), ["grp"], "val"))
    assert _rows_of(mm) == [("a", 10, 10), ("b", 1, 5)]


def test_typed_update_rows_sign_like_delete_insert(spark):
    """Delta's typed update_preimage/update_postimage rows maintain
    exactly like the untyped delete+insert pair — COUNT+SUM and the
    hybrid MIN/MAX both land on the recompute (the postimage replacing a
    stored extremum's preimage exercises the rebuild branch)."""
    from kin_data_pipeline_spark.operators.incremental import (
        maintain_minmax,
        minmax_base,
    )

    keys, measures = ["grp"], {"sum_val": "val"}
    base = [("a", "x", 10), ("a", "y", 99), ("b", "x", 5)]
    post = [("a", "x", 10), ("a", "y", 7), ("b", "x", 5)]  # 99 -> 7
    typed = [("a", "y", 99, "update_preimage"), ("a", "y", 7, "update_postimage")]
    ch = spark.createDataFrame(typed, f"{DDL}, _change_type string")

    agg = maintain_aggregate(
        aggregate_base(spark.createDataFrame(base, DDL), keys, measures),
        ch, keys, measures,
    )
    assert _rows_of(agg) == _rows_of(
        aggregate_base(spark.createDataFrame(post, DDL), keys, measures)
    )

    mm = maintain_minmax(
        minmax_base(spark.createDataFrame(base, DDL), ["grp"], "val"),
        ch,
        spark.createDataFrame(post, DDL),
        ["grp"],
        "val",
    )
    # the preimage 99 tied group a's stored max -> rebuild path ran
    assert _rows_of(mm) == _rows_of(
        minmax_base(spark.createDataFrame(post, DDL), ["grp"], "val")
    )


def test_identical_reupsert_nets_to_zero_typed(spark, tmp_path):
    """Re-upserting a byte-identical row stages an EMPTY change set even
    under the typed split (preimage and postimage cancel in EXCEPT ALL),
    so the CDF stays silent — the idempotence the net contract promises."""
    from kin_data_pipeline_spark.plans.engine import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    ddl = "id long, grp string, val long"
    cat.write_full("t", spark.createDataFrame([(1, "a", 10)], ddl), None)
    cat.enable_versioning("t")  # v0
    cat.upsert_by_key(
        "t", spark.createDataFrame([(1, "a", 10)], ddl), ["id"], None
    )  # v1: identical row
    assert cat.table_changes("t", 0, 1).count() == 0


def test_minmax_insert_only_refresh_never_plans_the_base(spark, tmp_path):
    """When no delete reaches a stored extremum, maintain_minmax elides
    the rebuild branch entirely — the returned plan reads NO base file
    (AQE does not collapse an empty-build LeftSemi at runtime, so the
    bounded driver probe is what buys the base scan back at 100 TB)."""
    from kin_data_pipeline_spark.operators.incremental import (
        maintain_minmax,
        minmax_base,
    )

    base_path = str(tmp_path / "base")
    spark.createDataFrame(
        [("a", 1), ("a", 9), ("b", 5)], "grp string, val long"
    ).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    # the state is a MATERIALIZED mart in real use — write it out so the
    # returned plan's lineage can't reach the base through it
    mm_path = str(tmp_path / "mart")
    minmax_base(base, ["grp"], "val").write.parquet(mm_path)
    mm = spark.read.parquet(mm_path)
    ch = spark.createDataFrame(
        [("a", 4, "insert"), ("c", 7, "insert")],
        "grp string, val long, _change_type string",
    )
    out = maintain_minmax(mm, ch, base, ["grp"], "val")
    assert not any(base_path in f for f in out.inputFiles())
    assert sorted((r.grp, r.min_val, r.max_val) for r in out.collect()) == [
        ("a", 1, 9), ("b", 5, 5), ("c", 7, 7),
    ]
    # a delete that hits an extremum DOES bring the base back in —
    # the POST-change base, as the contract requires
    ch2 = spark.createDataFrame(
        [("a", 9, "delete")], "grp string, val long, _change_type string"
    )
    post_path = str(tmp_path / "post")
    spark.createDataFrame(
        [("a", 1), ("a", 4), ("b", 5), ("c", 7)], "grp string, val long"
    ).write.parquet(post_path)
    out2 = maintain_minmax(
        out, ch2, spark.read.parquet(post_path), ["grp"], "val"
    )
    assert any(post_path in f for f in out2.inputFiles())
    assert sorted((r.grp, r.min_val, r.max_val) for r in out2.collect()) == [
        ("a", 1, 4), ("b", 5, 5), ("c", 7, 7),
    ]
