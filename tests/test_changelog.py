"""Catalog.apply_changelog — the CDC-consumer merge: per-key latest-wins
compression of an I/U/D log, one anti-join + rewrite pass, idempotent
reapply, clone copy-on-write, layout preservation."""

from __future__ import annotations

import pytest

from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.engine import Catalog

def _catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))

def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id long, name string, v long",
    )

def _log(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, v long, op string, seq long")

def _rows(catalog, name):
    return sorted(
        (r.id, r.name, r.v) for r in catalog.table(name).collect()
    )

def test_changelog_insert_update_delete(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    log = _log(
        spark,
        [
            (5, "e", 50, "I", 1),  # fresh insert
            (2, "B", 21, "U", 2),  # update existing
            (3, None, None, "D", 3),  # delete existing
        ],
    )
    counts = c.apply_changelog("t", log, ["id"])
    assert counts == {"upserts": 2, "deletes": 1}
    assert _rows(c, "t") == [(1, "a", 10), (2, "B", 21), (4, "d", 40), (5, "e", 50)]

def test_changelog_latest_wins_per_key(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    log = _log(
        spark,
        [
            # key 1: updated twice then deleted — net effect is one delete
            (1, "a1", 11, "U", 1),
            (1, "a2", 12, "U", 2),
            (1, None, None, "D", 3),
            # key 9: deleted (no-op, absent) then re-inserted — insert wins
            (9, None, None, "D", 1),
            (9, "i", 90, "I", 2),
            # key 2: two updates — only the later lands
            (2, "old", 98, "U", 5),
            (2, "new", 99, "U", 7),
        ],
    )
    counts = c.apply_changelog("t", log, ["id"])
    assert counts == {"upserts": 2, "deletes": 1}
    assert _rows(c, "t") == [(2, "new", 99), (3, "c", 30), (4, "d", 40), (9, "i", 90)]

def test_changelog_reapply_is_idempotent(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    log = _log(spark, [(2, "B", 21, "u", 2), (3, None, None, "d", 3), (6, "f", 60, "i", 1)])
    c.apply_changelog("t", log, ["id"])
    once = _rows(c, "t")
    c.apply_changelog("t", log, ["id"])
    assert _rows(c, "t") == once

def test_changelog_bootstraps_missing_table(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    log = _log(spark, [(1, "a", 10, "I", 1), (2, None, None, "D", 1)])
    counts = c.apply_changelog("t", log, ["id"])
    assert counts == {"upserts": 1, "deletes": 1}
    assert _rows(c, "t") == [(1, "a", 10)]

def test_changelog_rejects_unknown_op_and_ambiguous_seq(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    with pytest.raises(ValueError, match="unknown changelog op"):
        c.apply_changelog("t", _log(spark, [(1, "a", 1, "X", 1)]), ["id"])
    with pytest.raises(ValueError, match="ambiguous"):
        c.apply_changelog(
            "t",
            _log(spark, [(1, "a", 1, "U", 7), (1, "b", 2, "D", 7)]),
            ["id"],
        )
    # failed applies must not have touched the table
    assert _rows(c, "t") == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]

def test_changelog_rejects_schema_drift(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    drifted = spark.createDataFrame(
        [(1, "a", "I", 1)], "id long, name string, op string, seq long"
    )
    with pytest.raises(ValueError, match="columns"):
        c.apply_changelog("t", drifted, ["id"])

def test_changelog_materializes_clone_copy_on_write(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("src", _base(spark), None)
    c.clone("t", "src")
    log = _log(spark, [(3, None, None, "D", 1)])
    c.apply_changelog("t", log, ["id"])
    # clone diverged; source untouched (Snowflake clone semantics)
    assert _rows(c, "t") == [(1, "a", 10), (2, "b", 20), (4, "d", 40)]
    assert _rows(c, "src") == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]

def test_changelog_preserves_date_partition_layout(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10), (2, "2024-01-02", 20)],
        "id long, d string, v long",
    ).selectExpr("id", "CAST(d AS DATE) AS d", "v")
    c.write_full("t", df, "d")
    log = spark.createDataFrame(
        [(3, "2024-01-03", 30, "I", 1)], "id long, d string, v long, op string, seq long"
    ).selectExpr("id", "CAST(d AS DATE) AS d", "v", "op", "seq")
    c.apply_changelog("t", log, ["id"], date_col="d")
    parts = set(_part_files(c, "t"))
    assert parts == {"d=2024-01-01", "d=2024-01-02", "d=2024-01-03"}
    assert sorted((r.id, r.v) for r in c.table("t").collect()) == [
        (1, 10),
        (2, 20),
        (3, 30),
    ]

def test_streaming_changelog_merge(spark, tmp_path):
    """foreachBatch CDC: ordered micro-batches merge through
    apply_changelog; replaying the stream with the same checkpoint is a
    no-op (the commit marker keeps stale batches from rolling back newer
    state)."""
    import os
    import time

    from kin_data_pipeline_spark.streaming import (
        ingest_changelog_to_catalog,
        last_committed_batch,
    )

    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    landing = tmp_path / "cdc_landing"
    b1 = _log(spark, [(2, "B", 21, "U", 1), (3, None, None, "D", 2), (5, "e", 50, "I", 3)])
    b2 = _log(spark, [(5, None, None, "D", 4), (1, "A", 11, "U", 5)])
    b1.coalesce(1).write.parquet(str(landing / "f1"))
    time.sleep(1.1)  # FileStreamSource orders batches by mtime
    b2.coalesce(1).write.parquet(str(landing / "f2"))

    def _stream():
        return (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing) + "/*")
        )

    ck = str(tmp_path / "cdc_ck")
    applied = ingest_changelog_to_catalog(
        _stream(), c, "t", ["id"], checkpoint_dir=ck, query_name="cdc_test"
    )
    assert [a["batch_id"] for a in applied] == [0, 1]
    assert applied[0] == {"upserts": 2, "deletes": 1, "batch_id": 0}
    assert applied[1] == {"upserts": 1, "deletes": 1, "batch_id": 1}
    want = [(1, "A", 11), (2, "B", 21), (4, "d", 40)]
    assert _rows(c, "t") == want
    assert last_committed_batch(ck, "t") == 1
    # replay: same checkpoint, no new files -> no batches, state unchanged
    applied2 = ingest_changelog_to_catalog(
        _stream(), c, "t", ["id"], checkpoint_dir=ck, query_name="cdc_test"
    )
    assert applied2 == []
    assert _rows(c, "t") == want

def test_changelog_random_logs_match_reference_fold(spark, tmp_path):
    """Seeded randomized sweep: arbitrary I/U/D logs over a small key space
    must land exactly where a sequential per-seq fold of the log lands —
    the latest-wins compression is an optimization, not a semantics
    change."""
    import random

    rng = random.Random(23)
    base_rows = [(k, f"n{k}", k * 10) for k in range(8)]
    for trial in range(3):
        c = Catalog(spark, str(tmp_path / f"wh_rand{trial}"))
        c.write_full(
            "t",
            spark.createDataFrame(base_rows, "id long, name string, v long"),
            None,
        )
        state = {k: (f"n{k}", k * 10) for k in range(8)}
        log_rows = []
        for seq in range(1, 41):
            k = rng.randrange(0, 12)
            op = rng.choice(["I", "U", "D"])
            if op == "D":
                log_rows.append((k, None, None, "D", seq))
                state.pop(k, None)
            else:
                name, v = f"s{trial}_{seq}", seq * 100 + k
                log_rows.append((k, name, v, op, seq))
                state[k] = (name, v)
        c.apply_changelog("t", _log(spark, log_rows), ["id"])
        want = sorted((k, n, v) for k, (n, v) in state.items())
        assert _rows(c, "t") == want, f"trial {trial} diverged"

def _part_files(c, name):
    """The table's live files, grouped by their ``d=`` partition dir."""
    out = {}
    for f in sorted(c.table(name).inputFiles()):
        part = next(seg for seg in f.split("/") if seg.startswith("d="))
        out.setdefault(part, []).append(f)
    return out

def _dated(spark, rows):
    return spark.createDataFrame(rows, "id long, d string, v long").selectExpr(
        "id", "CAST(d AS DATE) AS d", "v"
    )

def _dated_log(spark, rows):
    return spark.createDataFrame(
        rows, "id long, d string, v long, op string, seq long"
    ).selectExpr("id", "CAST(d AS DATE) AS d", "v", "op", "seq")

def test_scoped_changelog_rewrites_only_affected_partitions(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    base = _dated(
        spark,
        [
            (1, "2024-01-01", 10),
            (2, "2024-01-01", 20),
            (3, "2024-01-02", 30),
            (4, "2024-01-03", 40),
        ],
    )
    c.write_full("t", base, "d")
    before = _part_files(c, "t")
    log = _dated_log(
        spark,
        [
            (2, "2024-01-01", 21, "U", 1),  # rewrite d=2024-01-01
            (5, "2024-01-04", 50, "I", 2),  # NEW partition d=2024-01-04
            (4, None, None, "D", 3),  # empty out d=2024-01-03 entirely
        ],
    )
    counts = c.apply_changelog("t", log, ["id"], date_col="d", scope_partitions=True)
    assert counts["upserts"] == 2 and counts["deletes"] == 1
    assert counts["partitions_rewritten"] == 3
    after = _part_files(c, "t")
    # the untouched partition keeps the very same files
    assert after["d=2024-01-02"] == before["d=2024-01-02"]
    # the emptied partition has no files left; the new one has some
    assert "d=2024-01-03" not in after and "d=2024-01-04" in after
    got = sorted((r.id, r.d.isoformat(), r.v) for r in c.table("t").collect())
    assert got == [
        (1, "2024-01-01", 10),
        (2, "2024-01-01", 21),
        (3, "2024-01-02", 30),
        (5, "2024-01-04", 50),
    ]

def test_scoped_changelog_matches_full_apply(spark, tmp_path):
    import random

    rng = random.Random(7)
    base_rows = [
        (k, f"2024-01-{1 + k % 5:02d}", k * 10) for k in range(20)
    ]
    log_rows = []
    for seq in range(1, 31):
        k = rng.randrange(0, 26)
        op = rng.choice(["I", "U", "D"])
        if op == "D":
            log_rows.append((k, None, None, "D", seq))
        else:
            log_rows.append((k, f"2024-01-{1 + k % 7:02d}", seq * 100 + k, op, seq))
    ca = _catalog(spark, tmp_path / "a")
    cb = _catalog(spark, tmp_path / "b")
    for c in (ca, cb):
        c.write_full("t", _dated(spark, base_rows), "d")
    full = ca.apply_changelog("t", _dated_log(spark, log_rows), ["id"], date_col="d")
    scoped = cb.apply_changelog(
        "t", _dated_log(spark, log_rows), ["id"], date_col="d",
        scope_partitions=True,
    )
    assert scoped["upserts"] == full["upserts"]
    assert scoped["deletes"] == full["deletes"]
    ra = sorted((r.id, r.d, r.v) for r in ca.table("t").collect())
    rb = sorted((r.id, r.d, r.v) for r in cb.table("t").collect())
    assert ra == rb

def test_scoped_changelog_guards(spark, tmp_path):
    c = _catalog(spark, tmp_path)
    c.write_full("flat", _base(spark), None)  # not date-partitioned
    log = _log(spark, [(1, "x", 1, "U", 1)])
    with pytest.raises(ValueError, match="scope_partitions requires date_col"):
        c.apply_changelog("flat", log, ["id"], scope_partitions=True)
    # string-typed partition columns are refused outright: Spark escapes
    # special characters in partition dir names, so the scoped form's
    # f"{col}={str(v)}" reconstruction could miss a fully-deleted partition
    with pytest.raises(ValueError, match="date- or integer-typed"):
        c.apply_changelog(
            "flat", log, ["id"], date_col="name", scope_partitions=True
        )
    # date-typed but not physically partitioned by it
    c.write_full("unpart", _dated(spark, [(1, "2024-01-01", 10)]), None)
    with pytest.raises(ValueError, match="not physically partitioned"):
        c.apply_changelog(
            "unpart",
            _dated_log(spark, [(1, "2024-01-01", 11, "U", 1)]),
            ["id"],
            date_col="d",
            scope_partitions=True,
        )
    c.write_full("src", _dated(spark, [(1, "2024-01-01", 10)]), "d")
    c.clone("alias", "src")
    dlog = _dated_log(spark, [(1, "2024-01-01", 11, "U", 1)])
    with pytest.raises(ValueError, match="zero-copy clone"):
        c.apply_changelog(
            "alias", dlog, ["id"], date_col="d", scope_partitions=True
        )
    nulld = _dated_log(spark, [(9, None, 99, "I", 1)])
    c.write_full("t", _dated(spark, [(1, "2024-01-01", 10)]), "d")
    with pytest.raises(ValueError, match="NULL"):
        c.apply_changelog("t", nulld, ["id"], date_col="d", scope_partitions=True)

def test_scoped_changelog_clears_stale_staging(spark, tmp_path, crash):
    """A crash between a scoped apply's data write and its log entry
    leaves uncommitted files on disk; the next scoped apply completes
    cleanly without them, they never leak into the table, and vacuum
    removes them."""
    c = _catalog(spark, tmp_path)
    c.write_full("t", _dated(spark, [(1, "2024-01-01", 10), (2, "2024-01-02", 20)]), "d")
    stale = _dated_log(spark, [(9, "2024-01-09", 90, "I", 1)])
    with crash.at(txlog, "create"):
        c.apply_changelog("t", stale, ["id"], date_col="d", scope_partitions=True)
    crash.recover()
    log = _dated_log(spark, [(1, "2024-01-01", 11, "U", 1)])
    counts = c.apply_changelog("t", log, ["id"], date_col="d", scope_partitions=True)
    assert counts["partitions_rewritten"] == 1
    got = sorted((r.id, r.d.isoformat(), r.v) for r in c.table("t").collect())
    assert got == [(1, "2024-01-01", 11), (2, "2024-01-02", 20)]
    # the crashed apply's partition never leaked into the table
    assert "d=2024-01-09" not in _part_files(c, "t")
    assert crash.files_on_disk(c, "t") > crash.live_files(c, "t")
    c.vacuum("t", min_age_s=0.0)
    assert crash.files_on_disk(c, "t") == crash.live_files(c, "t")


def test_changelog_rejects_null_op(spark, tmp_path):
    """A NULL op must fail loudly: `~isin` is NULL for NULL input, so an
    unguarded filter would let the row through validation, count it as an
    upsert, yet exclude it from the survivors — silently deleting its key."""
    c = _catalog(spark, tmp_path)
    c.write_full("t", _base(spark), None)
    with pytest.raises(ValueError, match="unknown changelog op"):
        c.apply_changelog(
            "t", _log(spark, [(2, "b2", 22, None, 1)]), ["id"]
        )
    # the table is untouched — key 2 still present with its original row
    assert _rows(c, "t") == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]


def test_scoped_changelog_crash_mid_swap_rolls_forward(spark, tmp_path, crash):
    """VERDICT r4 ask #4: a scoped apply replaces several partitions in
    ONE log entry, so a crash at either crash point never leaves a mixed
    old/new table: before the entry every partition reads the old state,
    after it every partition reads the new one (the replaced files linger
    only until vacuum)."""
    base_rows = [
        (1, "2024-01-01", 10),
        (2, "2024-01-02", 20),
        (3, "2024-01-03", 30),
    ]
    log_rows = [
        (1, "2024-01-01", 11, "U", 1),  # rewrite d=2024-01-01
        (3, None, None, "D", 2),        # delete all of d=2024-01-03
        (4, "2024-01-04", 40, "I", 3),  # new d=2024-01-04
    ]
    # twin catalog: the expected post-apply state via the full-table path
    ct = _catalog(spark, tmp_path / "twin")
    ct.write_full("t", _dated(spark, base_rows), "d")
    ct.apply_changelog("t", _dated_log(spark, log_rows), ["id"], date_col="d")
    expected = sorted((r.id, r.d.isoformat(), r.v) for r in ct.table("t").collect())

    def rows(cat):
        return sorted((r.id, r.d.isoformat(), r.v) for r in cat.table("t").collect())

    c = _catalog(spark, tmp_path / "wh")
    c.write_full("t", _dated(spark, base_rows), "d")
    old = rows(c)

    def apply(cat):
        return cat.apply_changelog(
            "t", _dated_log(spark, log_rows), ["id"], date_col="d",
            scope_partitions=True,
        )

    with crash.at(txlog, "create"):
        apply(c)
    crash.recover()
    assert rows(_catalog(spark, tmp_path / "wh")) == old
    with crash.at(Catalog, "_delete_files"):
        apply(c)
    crash.recover()
    c2 = _catalog(spark, tmp_path / "wh")
    assert rows(c2) == expected
    c2.vacuum("t", min_age_s=0.0)
    assert crash.files_on_disk(c2, "t") == crash.live_files(c2, "t")
    assert rows(c2) == expected


def test_changelog_full_apply_crash_mid_publish_heals(spark, tmp_path, crash):
    """ADVICE r4: a crash in the non-scoped apply never leaves the table
    absent: before the log entry the pre-apply table is intact, after it
    the applied one is complete, and a reapply converges."""
    c = _catalog(spark, tmp_path / "wh")
    c.write_full("t", _base(spark), None)
    log = _log(spark, [(2, "B", 21, "U", 1), (5, "e", 50, "I", 2)])
    applied = [(1, "a", 10), (2, "B", 21), (3, "c", 30), (4, "d", 40), (5, "e", 50)]
    with crash.at(txlog, "create"):
        c.apply_changelog("t", log, ["id"])
    crash.recover()
    c2 = _catalog(spark, tmp_path / "wh")
    assert _rows(c2, "t") == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]
    with crash.at(Catalog, "_delete_files"):
        c2.apply_changelog("t", log, ["id"])
    crash.recover()
    assert _rows(c2, "t") == applied
    c2.apply_changelog("t", log, ["id"])
    assert _rows(c2, "t") == applied
    c2.vacuum("t", min_age_s=0.0)
    assert crash.files_on_disk(c2, "t") == crash.live_files(c2, "t")


def test_scoped_apply_refuses_dtype_drift(spark, tmp_path):
    """A widening changelog (int->long) through the SCOPED path would leave
    swapped partitions physically typed differently from untouched ones and
    from the recorded schema — it must raise, directing to the full rewrite."""
    import datetime

    import pytest as _pytest

    from kin_data_pipeline_spark.plans.engine import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, 10, datetime.date(2024, 1, 1)), (2, 20, datetime.date(2024, 1, 2))],
        "id long, amount int, date_key date",
    )
    catalog.write_full("t", base, "date_key")
    widened = spark.createDataFrame(
        [(1, 99, datetime.date(2024, 1, 1), "U", 1)],
        "id long, amount long, date_key date, op string, seq long",
    )
    with _pytest.raises(ValueError, match="column types"):
        catalog.apply_changelog(
            "t", widened, ["id"], date_col="date_key", scope_partitions=True
        )
    # the UNSCOPED path handles the same changelog (full rewrite re-records
    # the merged schema)
    counts = catalog.apply_changelog("t", widened, ["id"], date_col="date_key")
    assert counts["upserts"] == 1
    got = {r["id"]: r["amount"] for r in catalog.table("t").collect()}
    assert got == {1: 99, 2: 20}
