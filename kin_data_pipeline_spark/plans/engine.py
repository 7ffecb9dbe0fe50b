"""Materialization engine: warehouse catalog + DAG runner.

Re-expresses the reference's lifecycle (SURVEY.md §3):
- full refresh        = CREATE OR REPLACE TABLE AS   (execute_snowflake_load.py:89-91)
  → ``overwrite`` write, partitioned by the date column
- incremental append  = INSERT INTO … WHERE trunc(date) > watermark
  (incremental_anchor.sql:1-5, execute_snowflake_load.py:82-86,100)
  → read max(date_col) from the log's file stats, filter the freshly-built
  frame, append
- zero-copy clone     = CREATE TABLE … CLONE          (13 clone scripts)
  → a log entry naming the source table, resolved at read time
- date-keyed cleanup  = DELETE WHERE date_key >= X    (incremental_cleanup.py:78-88)
  → a commit that removes the date partitions' files (no data rewrite)

Every table is a commit log (plans/txlog.py) over immutable parquet
files: a mutation writes new files into its own directory, then publishes
the next numbered log entry exclusively. Reads, snapshots, time travel,
change feeds and the watermark are all reads of log entries, and a crash
at any point leaves the previous entry — and so the previous table —
intact. Data files are date-partitioned (`partitionBy(date_col)`), so
date-filtered reads prune and cleanup/backfill are partition-granular.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import os
import re
import shutil
import threading
import time
import uuid
import warnings
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kin_data_pipeline_spark.functions.compat import date_trunc
from kin_data_pipeline_spark.plans import txlog
from kin_data_pipeline_spark.plans.checks import Check, assert_unique, enforce
from kin_data_pipeline_spark.plans.model import CADENCE_UNITS, Model, topo_sort

#: Serializes the check-then-CREATE registration of bucketed tables in the
#: shared session catalog — two run_concurrent workers reading the same
#: bucketed upstream for the first time must not both issue the DDL (the
#: loser would abort its wave with TABLE_OR_VIEW_ALREADY_EXISTS). Same
#: discipline as sources.catalog's frame-cache lock.
_BUCKET_DDL_LOCK = threading.Lock()

_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()

#: snapshot tags: dot-separated words that cannot escape the tags dir
_TAG = re.compile(r"[A-Za-z0-9][A-Za-z0-9_-]*(\.[A-Za-z0-9][A-Za-z0-9_-]*)*")

#: props every data rewrite resets: the files are no longer an alias, no
#: longer bucket-named, and no longer the content an IVM refresh recorded
_REWRITTEN = {"clone_of": None, "buckets": None, "ivm": None}

#: props a mutation depends on whatever it does: a commit that lost the
#: race for its entry rebases only if no commit since its read changed them
_GUARDED = ("schema", "constraints", "clone_of", "buckets", "date_col", "history")


def _dim_fingerprint(proj: DataFrame) -> dict:
    """Content fingerprint of a dim enrichment projection: total row count
    + order-independent xor over the DEDUPED (row, multiplicity) pairs.

    Hashing the multiplicity WITH the row closes the even-parity blind
    spot of a plain xor over raw rows (swapping one duplicated row pair
    for another cancels in the xor — every hash appears an even number of
    times — but the (row, count) tuples differ, so this fingerprint
    moves). Columns are hashed in sorted-name order so the fingerprint is
    invariant to select order (the persisted dimstate and the live
    projection may not list columns identically). One bounded driver
    probe over a broadcast-small table; the groupBy is
    dim-cardinality-sized.
    """
    cols = ", ".join(f"`{c}`" for c in sorted(proj.columns))
    fp = (
        proj.groupBy(*proj.columns)
        .agg(F.count(F.lit(1)).alias("__kdp_mult"))
        .selectExpr(
            "sum(__kdp_mult) as n",
            f"bit_xor(xxhash64({cols}, __kdp_mult)) as x",
        )
        .collect()[0]
    )
    return {"n": int(fp["n"] or 0), "x": fp["x"]}


def _dim_projection(dim: DataFrame, keys: dict, select: dict | None) -> DataFrame:
    """A dim's enrichment projection: the join keys under their fact-side
    names (``keys``: fact col → dim col), then the ``select``ed columns
    (out → dim col; default: every non-key column)."""
    if select is None:
        picked = [(c, c) for c in dim.columns if c not in set(keys.values())]
    else:
        picked = list(select.items())
    return dim.select(
        *[F.col(src).alias(out) for out, src in keys.items()],
        *[F.col(src).alias(out) for out, src in picked],
    )


def _orderable_type(dt) -> bool:
    """Whether Spark can sort / set-op / hash the type: maps (and
    variant) cannot appear in ORDER BY, EXCEPT ALL, or xxhash64; arrays
    and structs are orderable iff their element/field types are."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType) or dt.typeName() == "variant":
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable_type(f.dataType) for f in dt.fields)
    return True


def _unorderable_cols(df: DataFrame) -> list[str]:
    return [
        c for c in df.columns if not _orderable_type(df.schema[c].dataType)
    ]


def _canon_cols(df: DataFrame, unord: Sequence[str]) -> DataFrame:
    """Replace each unorderable (map/variant) column with its to_json
    image — a deterministic string per stored row — so Spark's set
    operations and sorts apply. Pair with ``_uncanon_cols`` to restore
    the typed values. Two logically-equal maps with different entry
    order serialize differently, so a rewrite that only reorders map
    entries diffs as a delete+insert pair of equal-keyed rows — chatty,
    never wrong."""
    out = df
    for c in unord:
        out = out.withColumn(c, F.to_json(F.struct(F.col(c))))
    return out


def _uncanon_cols(df: DataFrame, types: dict, unord: Sequence[str]) -> DataFrame:
    """Inverse of ``_canon_cols``: ``types`` maps column → original Spark
    DataType (captured before canonicalization)."""
    from pyspark.sql import types as T

    out = df
    for c in unord:
        sch = T.StructType([T.StructField(c, types[c])])
        out = out.withColumn(c, F.from_json(F.col(c), sch)[c])
    return out


@contextlib.contextmanager
def _local_listing(spark: SparkSession, n_paths: int):
    """Let Spark resolve an explicit list of ``n_paths`` files in this
    process. Past ``parallelPartitionDiscovery.threshold`` (32) root paths
    Spark lists them with a distributed job — a second or more per read —
    although a file list taken from the log needs one status call per
    file. The threshold is raised for the duration of this read only."""
    with _LISTING_LOCK:
        prev = spark.conf.get(_LISTING_CONF)
        if n_paths <= int(prev):
            yield
            return
        spark.conf.set(_LISTING_CONF, str(n_paths))
        try:
            yield
        finally:
            spark.conf.set(_LISTING_CONF, prev)


def _schema(entry: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(entry["props"]["schema"])


def _paths(files: Sequence[dict]) -> list[str]:
    return [f["path"] for f in files]


class Catalog:
    """Filesystem-backed table catalog: one directory per table, whose
    state is its commit log (plans/txlog.py)."""

    #: distinct values per file the parquet bloom filters are sized for
    BLOOM_NDV = 100_000

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    # --- log access -----------------------------------------------------

    def _tip(self, name: str) -> dict | None:
        return txlog.tip(self.path(name))

    def _resolve(self, name: str) -> tuple[str, dict | None]:
        """Follow clone aliases to the physical table and its tip entry."""
        seen = set()
        entry = self._tip(name)
        while entry is not None and entry["props"].get("clone_of"):
            if name in seen:
                raise ValueError(f"clone cycle at {name}")
            seen.add(name)
            name = entry["props"]["clone_of"]
            entry = self._tip(name)
        return name, entry

    @staticmethod
    def _props(base: dict | None, **changes) -> dict:
        return {**(base["props"] if base else {}), **changes}

    @staticmethod
    def _entry(operation, base, files, props, changes, meta):
        old = set(_paths(base["files"])) if base else set()
        new = set(_paths(files))
        entry = {
            "n": 0 if base is None else base["n"] + 1,
            # strictly monotonic: TIMESTAMP AS OF resolves ties to the
            # later version, so two commits in one clock tick would make
            # the earlier one unreachable (Delta applies the same nudge)
            "ts": time.time() if base is None else max(time.time(), base["ts"] + 1e-6),
            "operation": operation,
            "files": list(files),
            "add": sorted(new - old),
            "remove": sorted(old - new),
            "changes": changes,
            "props": props,
        }
        if props.get("history"):
            prev = base.get("version") if base else None
            if meta:
                entry.update(version=prev, meta=True)
            else:
                entry["version"] = 0 if prev is None else prev + 1
        return entry

    def _commit(
        self,
        name: str,
        operation: str,
        base: dict | None,
        *,
        files: Sequence[dict],
        props: dict,
        changes: dict | None = None,
        meta: bool = False,
        rebase=None,
        reads: Sequence[str] = _GUARDED,
    ) -> dict:
        """Publish the next log entry of ``name`` on top of ``base``, the
        entry the mutation read. Losing the race for that number means
        another writer committed in between. A mutation that gives
        ``rebase`` (blind appends and prop changes) then recomputes
        ``(files, props, changes)`` as ``rebase(tip)`` and retries, as
        long as no entry committed since ``base`` changed what it read:
        the props named in ``reads`` and, if ``reads`` names ``"files"``,
        the file list. Otherwise the mutation raises ``CommitConflict``
        and discards its files. On a table without history the files this
        commit removed are deleted once it is published."""
        root = self.path(name)
        while True:
            entry = self._entry(operation, base, files, props, changes, meta)
            if txlog.create(root, entry):
                break
            tip = txlog.tip(root)
            if rebase is None or self._changed(root, base, entry, tip, reads):
                new = entry["add"] + _paths((changes or {}).get("files", ()))
                self._delete_files(name, new, set())
                raise txlog.CommitConflict(
                    f"{operation} on '{name}' read log entry "
                    f"{entry['n'] - 1} but entry {tip['n']} was committed "
                    "concurrently; the table is unchanged by this call"
                )
            base = tip
            files, props, changes = rebase(tip)
        if not entry["props"].get("history") and entry["remove"]:
            self._delete_files(name, entry["remove"], self._referenced(name, [entry]))
        return entry

    @staticmethod
    def _changed(root, base, entry, tip, reads: Sequence[str]) -> bool:
        """Whether an entry after ``base`` up to ``tip`` changed one of
        ``reads`` (props, or ``"files"``) — against the table ``entry``
        would have created when there was no ``base``. Schemas compare by
        column names and types: an append records its own nullability."""

        def view(entry):
            out = {k: entry["props"].get(k) for k in reads if k != "files"}
            if out.get("schema"):
                out["schema"] = {f["name"]: f["type"] for f in out["schema"]["fields"]}
            if "files" in reads:
                out["files"] = sorted(_paths(entry["files"]))
            return out

        first = view(base or entry)
        try:
            return any(
                view(txlog.read(root, n)) != first
                for n in range(entry["n"], tip["n"] + 1)
            )
        except FileNotFoundError:  # trimmed by vacuum: cannot tell
            return True

    def _set_props(self, name: str, operation: str, **changes) -> None:
        """A commit that changes table properties only. It read the
        table's content and the props it changes, so it rebases only over
        commits that changed neither."""
        base = self._tip(name)
        if base is None:
            raise ValueError(f"no table '{name}' in {self.warehouse_dir}")

        def rebase(tip):
            return tip["files"], self._props(tip, **changes), None

        self._commit(
            name, operation, base, files=base["files"],
            props=self._props(base, **changes), meta=True, rebase=rebase,
            reads=(*_GUARDED, *changes, "files"),
        )

    def _retained(self, name: str) -> list[dict]:
        """Log entries whose files are kept: all of them on a table that
        keeps history, only the tip otherwise."""
        entries = txlog.entries(self.path(name))
        if entries and not entries[-1]["props"].get("history"):
            return entries[-1:]
        return entries

    def _referenced(self, name: str, entries: Sequence[dict]) -> set[str]:
        """Files of ``name`` that ``entries`` or any tag still need."""
        out = txlog.tagged_files(self.warehouse_dir, name)
        for e in entries:
            out.update(_paths(e["files"]))
            out.update(_paths((e.get("changes") or {}).get("files", ())))
        return out

    def _delete_files(self, name: str, paths, keep: set[str]) -> None:
        """Delete the data files of ``name`` in ``paths`` that ``keep``
        does not name."""
        for p in set(paths) - keep:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.path(name), p))

    # --- reading ----------------------------------------------------------

    def _read(self, table: str, files: Sequence[str], schema) -> DataFrame:
        """A frame over exactly ``files`` of ``table`` under ``schema``.
        Partition columns come from the ``col=value`` directories below
        the table root; no files is an empty frame of the schema."""
        if not files:
            return self.spark.createDataFrame([], schema)
        root = self.path(table)
        reader = self.spark.read.schema(schema).option("basePath", root)
        with _local_listing(self.spark, len(files)):
            return reader.parquet(*[os.path.join(root, f) for f in files])

    def exists(self, name: str) -> bool:
        return self._tip(name) is not None

    def table(self, name: str) -> DataFrame:
        """Read a table as of its tip entry, under the recorded schema —
        which keeps empty tables readable and skips footer inference."""
        phys, entry = self._resolve(name)
        if entry is None:
            raise ValueError(f"no table '{name}' in {self.warehouse_dir}")
        # a bucketed table must be read through its session-catalog ident —
        # a plain parquet read returns the same rows but silently loses the
        # bucket metadata (and with it the shuffle-free join property)
        if entry["props"].get("buckets"):
            return self.bucketed_table(phys)
        return self._read(phys, _paths(entry["files"]), _schema(entry))

    def commit_stats(self, name: str) -> dict:
        """Rows, bytes and files the tip commit of ``name`` added."""
        entry = self._tip(name)
        added = set(entry["add"]) if entry else set()
        files = [f for f in (entry["files"] if entry else []) if f["path"] in added]
        return {
            "rows": sum(f["rows"] for f in files),
            "bytes": sum(f["bytes"] for f in files),
            "files": len(files),
        }

    def list_tables(self) -> list[str]:
        """All table names the catalog can serve, clone aliases included.
        A directory whose first write never committed is not a table."""
        return sorted(
            d for d in os.listdir(self.warehouse_dir)
            if txlog.numbers(self.path(d))
        )

    def publish_views(self, names: Sequence[str] | None = None, prefix: str = "") -> list[str]:
        """Expose catalog tables (clones resolved) to ``spark.sql`` as temp
        views — the reference's SQL-consumer surface (Metabase / the
        Postgres API). A view pins the file list of the tip it was
        published at, so publish AFTER each Runner pass.
        """
        published = []
        for n in names if names is not None else self.list_tables():
            self.table(n).createOrReplaceTempView(prefix + n)
            published.append(prefix + n)
        return published

    def high_watermark(self, name: str, date_col: str):
        """max(date_col) of the stored table — the incremental anchor
        (incremental_anchor.sql:3). On a table partitioned by ``date_col``
        it is the max of the log's file stats; no data is read."""
        from pyspark.sql import types as T

        phys, entry = self._resolve(name)
        if entry is None:
            return None
        props = entry["props"]
        parse = {
            T.DateType: datetime.date.fromisoformat,
            T.IntegerType: int,
            T.LongType: int,
            T.StringType: str,
        }.get(type(_schema(entry)[date_col].dataType))
        if props.get("date_col") == date_col and not props.get("buckets") and parse:
            vals = [parse(f["max"]) for f in entry["files"] if "max" in f]
            return max(vals, default=None)
        row = self.table(name).agg(F.max(date_col).alias("wm")).collect()[0]
        return row["wm"]

    # --- writing ----------------------------------------------------------

    def _write(
        self,
        name: str,
        df: DataFrame,
        bloom_cols: Sequence[str] = (),
        partition_by: Sequence[str] = (),
    ) -> str:
        """Write ``df`` into a fresh hidden staging directory of ``name``
        and return it. Each write owns its directory, so concurrent
        writers never share Spark's ``_temporary`` directory or delete each
        other's files; a failed write removes its own directory."""
        staging = f"_tmp-{uuid.uuid4().hex}"
        target = os.path.join(self.path(name), staging)
        w = df.write
        # parquet bloom filters for the declared point-lookup keys
        # (Model.bloom_filter_on); per-file bitsets, valid under append
        for c in bloom_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(self.BLOOM_NDV)
            )
        if partition_by:
            w = w.partitionBy(*partition_by)
        try:
            w.parquet(target)
        except Exception:
            shutil.rmtree(target, ignore_errors=True)
            raise
        return staging

    def _publish(self, name: str, staging: str, date_col: str | None) -> list[dict]:
        """Move a finished write's files into the table's layout and drop
        its staging directory; returns their log records."""
        files = txlog.publish(self.path(name), staging, date_col)
        shutil.rmtree(os.path.join(self.path(name), staging), ignore_errors=True)
        return files

    def _verify_unique(self, name: str, files: Sequence[dict], schema, checks) -> None:
        """Run the ``unique`` checks of ``checks`` over a write's published,
        uncommitted ``files``; on a duplicate, delete them and raise."""
        if not any(c.cols for c in checks):
            return
        try:
            assert_unique(self._read(name, _paths(files), schema), checks)
        except ValueError:
            self._delete_files(name, _paths(files), set())
            raise

    def _write_changes(
        self,
        name: str,
        inserts: DataFrame | None,
        deletes: DataFrame | None = None,
        update_pre: DataFrame | None = None,
        update_post: DataFrame | None = None,
    ) -> dict:
        """Write a mutation's NET row-level diff as typed change files for
        its commit, so ``table_changes`` and the streaming change feed
        serve the commit from changelog-sized files instead of re-diffing
        two snapshots. Mutators pass frames that are exactly ``new EXCEPT
        ALL old`` / ``old EXCEPT ALL new`` (each caller says why); those
        that know which removed/added rows pair up by key (upsert,
        changelog merge) pass them as Delta's typed ``update_preimage`` /
        ``update_postimage`` rows instead."""
        frame = _union([
            frame.withColumn("_change_type", F.lit(kind))
            for kind, frame in (
                ("insert", inserts),
                ("delete", deletes),
                ("update_preimage", update_pre),
                ("update_postimage", update_post),
            )
            if frame is not None
        ])
        return {"kind": "typed", "files": self._publish(name, self._write(name, frame), None)}

    @staticmethod
    def _shape_partitioned_write(df: DataFrame, date_col: str) -> DataFrame:
        """REBALANCE by the partition column before a partitioned write
        otherwise every task holds rows of every date and the
        write fans out to (#tasks × #dates) tiny files (480 files / 64 MB
        for one ~50k-row fact load at sf0.1). The AQE rebalance keeps
        files date-pure and splits a skewed date at the advisory size."""
        return df.hint("rebalance", date_col)

    def _bloom(self, name: str, props: dict, df: DataFrame, bloom_cols) -> list[str]:
        """Bloom columns for one write. ``None`` inherits the table's
        recorded declaration (so maintenance rewrites never strip the
        point-lookup bitsets); an explicit sequence, possibly empty,
        replaces it. Declared columns must exist in the frame — parquet
        silently ignores bloom options for unknown columns."""
        if bloom_cols is not None:
            missing = set(bloom_cols) - set(df.columns)
            if missing:
                raise ValueError(
                    f"bloom_filter_on columns {sorted(missing)} not in "
                    f"'{name}' frame columns {df.columns}"
                )
            return list(bloom_cols)
        cols = list(props.get("bloom") or ())
        missing = set(cols) - set(df.columns)
        if missing:
            # keep the declaration (a later write with the column restored
            # picks it back up) but write bitsets for present columns only
            warnings.warn(
                f"bloom declaration for '{name}' names column(s) "
                f"{sorted(missing)} absent from the frame being "
                "written; writing bitsets only for the present columns"
            )
        return [c for c in cols if c in set(df.columns)]

    # --- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT shape) -----
    # Declared per table in the log's props; enforced TASK-SIDE during
    # every write of incoming data by the same write-time contract as a
    # model's row checks (plans/checks.enforce: raise_error folded into the
    # written projection — one pass, no separate validation scan, the
    # same job-abort shape Delta's invariant checker uses). SQL CHECK
    # semantics: a row violates only when the expression evaluates to
    # FALSE; NULL passes. Rewrites of rows already in the table (key
    # erasure, compaction) skip the check. Clone aliases do not inherit
    # their source's constraints (a clone is a new table name).

    def constraints(self, name: str) -> dict[str, str]:
        """Declared CHECK constraints: {constraint_name: sql_expr}."""
        entry = self._tip(name)
        return dict((entry["props"].get("constraints") or {}) if entry else {})

    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """Declare a CHECK constraint. Like Delta's ADD CONSTRAINT, the
        table's EXISTING rows are scanned once and the declaration is
        refused if any violates (bounded probe: first violation only) —
        a constraint must never be born already broken."""
        cons = self.constraints(name)
        if cname in cons:
            raise ValueError(f"constraint {cname!r} already on '{name}'")
        bad = (
            self.table(name)
            .filter(F.expr(expr).eqNullSafe(F.lit(False)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"cannot add CHECK {cname!r} ({expr}) to '{name}': "
                f"existing row violates it: {tuple(bad[0])}"
            )
        self._set_props(name, "add_constraint", constraints={**cons, cname: expr})

    def drop_constraint(self, name: str, cname: str) -> bool:
        cons = self.constraints(name)
        if cname not in cons:
            return False
        del cons[cname]
        self._set_props(name, "drop_constraint", constraints=cons)
        return True

    # --- IVM refresh state ----------------------------------------------
    # An IVM-maintained mart (Model.ivm) records which source version its
    # content reflects; the next refresh reads table_changes(recorded,
    # tip) only. The state rides the mart's own commit, and every write
    # that lands OUTSIDE the IVM path resets it, so out-of-band mutation
    # of the mart forces the next IVM run back to a full rebuild instead
    # of maintaining on top of unknown content.

    def ivm_state(self, name: str) -> dict | None:
        """The mart's recorded refresh state ``{"source", "version"}``,
        or None when it has never been IVM-refreshed (or was invalidated
        by an out-of-band write)."""
        entry = self._tip(name)
        return entry["props"].get("ivm") if entry else None

    @staticmethod
    def _ivm_record(source, version, signature=None, versions=None) -> dict:
        """``signature`` captures the spec shape (grouping/measures) the
        content was built under — the Runner forces a rebuild when it no
        longer matches, so editing a model's IvmSpec can never silently
        maintain a stale shape. Union marts (IvmSpec.sources) anchor PER
        SOURCE via ``versions``; ``version`` then records the min as a
        compatibility summary."""
        payload = {"source": source, "version": int(version)}
        if versions is not None:
            payload["versions"] = {k: int(v) for k, v in versions.items()}
        if signature is not None:
            payload["signature"] = signature
        return payload

    def save_ivm_state(
        self,
        name: str,
        source: str,
        version: int,
        signature: dict | None = None,
        versions: dict | None = None,
    ) -> None:
        """Record the refresh state of an existing mart in its own commit."""
        self._set_props(
            name, "save_ivm_state",
            ivm=self._ivm_record(source, version, signature, versions),
        )

    def ivm_status(self, name: str) -> dict:
        """Operator-facing introspection of a maintained mart: recorded
        source + version, the source log's tip and the mart's LAG behind
        it, dim declarations and drift, and the files + bytes of each
        persisted COUNT(DISTINCT) support table (support growth is the
        known cost of exact distinct maintenance). A mart with no
        recorded state reports ``maintained: False``."""
        state = self.ivm_state(name)
        if state is None:
            return {"name": name, "maintained": False}
        src = state["source"]
        out: dict = {
            "name": name,
            "maintained": True,
            "source": src,
            "version": int(state["version"]),
        }

        def _leg(src_name: str, version: int) -> dict:
            leg = {"version": version}
            if self.is_versioned(src_name):
                hist = self.history(src_name)
                tip = int(hist[-1]["version"]) if hist else None
                leg["tip"] = tip
                leg["lag"] = None if tip is None else max(0, tip - version)
                # a recorded version no longer in the log cannot anchor a
                # change span — the next refresh rebuilds from the tip
                leg["vacuum_lapsed"] = not any(
                    int(e["version"]) == version for e in hist
                )
            else:
                leg["tip"] = leg["lag"] = None
                leg["vacuum_lapsed"] = True  # source lost its log entirely
            return leg

        if "versions" in state:
            # union mart: per-leg anchors; the top-level summary is the
            # worst leg (max lag, any lapse)
            legs = {s: _leg(s, int(v)) for s, v in state["versions"].items()}
            out["sources"] = legs
            lags = [leg["lag"] for leg in legs.values()]
            out["tip"] = None
            out["lag"] = None if any(x is None for x in lags) else max(lags)
            out["vacuum_lapsed"] = any(leg["vacuum_lapsed"] for leg in legs.values())
        else:
            out.update(_leg(src, out["version"]))
        sig = state.get("signature") or {}
        if sig.get("dims"):
            out["dims"] = sig["dims"]
            # dim drift: recompute each declared dim's enrichment
            # projection fingerprint from the catalog and compare with
            # what the mart's content was built under — True means the
            # next refresh performs the dim-delta scoped rebuild (or the
            # declared full rebuild when the grain omits a join key).
            # One bounded probe per broadcast-small dim.
            recorded_fps = sig.get("dim_fps") or []
            drift = []
            for i, d in enumerate(sig["dims"]):
                try:
                    cur = _dim_fingerprint(
                        _dim_projection(self.table(d["table"]), d["keys"], d.get("select"))
                    )
                    drift.append(i >= len(recorded_fps) or cur != recorded_fps[i])
                except Exception:
                    drift.append(True)  # unreadable dim: treat as drifted
            out["dim_drift"] = drift
        supports = {}
        for meas in [*(sig.get("distinct_counts") or {}), *(sig.get("quantiles") or {})]:
            sup = f"{name}__support_{meas}"
            entry = self._tip(sup)
            sup_state = entry["props"].get("ivm") if entry else None
            supports[meas] = {
                "table": sup,
                "files": len(entry["files"]) if entry else 0,
                "bytes": sum(f["bytes"] for f in entry["files"]) if entry else 0,
                "version": None if sup_state is None else int(sup_state["version"]),
            }
        if supports:
            out["supports"] = supports
        return out

    # --- mutators ---------------------------------------------------------

    def write_full(
        self,
        name: str,
        df: DataFrame,
        date_col: str | None,
        bloom_cols: Sequence[str] | None = None,
        shape_partitions: bool = True,
        checks: Sequence[Check] = (),
    ) -> None:
        """Replace the table with ``df``, which must pass ``checks`` and
        the table's CHECK constraints. A write that fails (a bad source,
        a violated check, an executor loss) commits nothing, so the
        previous table stays as it was."""
        self._write_full(name, df, date_col, bloom_cols, shape_partitions, checks)

    def _write_full(
        self,
        name: str,
        df: DataFrame,
        date_col: str | None,
        bloom_cols: Sequence[str] | None = None,
        shape_partitions: bool = True,
        checks: Sequence[Check] = (),
        ivm: dict | None = None,
    ) -> None:
        """``write_full`` that records ``ivm`` as the table's IVM refresh
        state in the same commit, so an IVM refresh lands its mart data
        and its refresh state together."""
        base = self._tip(name)
        schema = df.schema
        df = enforce(df, checks, self._props(base).get("constraints"))
        if date_col is not None and shape_partitions:
            df = self._shape_partitioned_write(df, date_col)
        cols = self._bloom(name, self._props(base), df, bloom_cols)
        staging = self._write(name, df, cols, [date_col] if date_col else [])
        files = self._publish(name, staging, date_col)
        self._verify_unique(name, files, schema, checks)
        props = self._props(
            base, schema=schema.jsonValue(), date_col=date_col,
            **{**_REWRITTEN, "ivm": ivm},
        )
        if bloom_cols is not None:
            props["bloom"] = list(bloom_cols)
        self._commit(name, "write_full", base, files=files, props=props)

    def write_append(
        self,
        name: str,
        df: DataFrame,
        date_col: str | None,
        bloom_cols: Sequence[str] | None = None,
        shape_partitions: bool = True,
        checks: Sequence[Check] = (),
    ) -> None:
        """Add ``df``'s rows to the table; only they must pass ``checks``
        and the table's CHECK constraints. The commit's change feed is its
        own added files (new = old ⊎ df, so new EXCEPT ALL old = df): one
        evaluation and one write, nothing re-diffed. Concurrent appends
        both land — the loser of the race for a log entry rebases its
        files onto the winner's. An append that raced a change of the
        schema, constraints, layout or clone source it checked against
        raises ``CommitConflict`` instead."""
        base = self._tip(name)
        if base is not None and base["props"].get("clone_of"):
            # Appending to a clone alias materializes it copy-on-write
            # FIRST (Snowflake clone semantics, same as upsert_by_key):
            # appending next to the alias would silently replace the
            # aliased data with just the delta.
            self.write_full(name, self.table(name), date_col, bloom_cols)
            base = self._tip(name)
        schema = df.schema
        df = enforce(df, checks, self._props(base).get("constraints"))
        # An append must never NARROW the recorded schema: reads apply it,
        # so recording a frame that lacks an existing column would drop
        # that column from every read of the older files. Appends may ADD
        # columns (older files null-fill through the explicit-schema read).
        if base is not None:
            missing = set(_schema(base).names) - set(df.columns)
            if missing:
                raise ValueError(
                    f"append to '{name}' lacks recorded columns "
                    f"{sorted(missing)}; appends may add columns, never drop"
                )
        if date_col is not None and shape_partitions:
            df = self._shape_partitioned_write(df, date_col)
        cols = self._bloom(name, self._props(base), df, bloom_cols)
        staging = self._write(name, df, cols, [date_col] if date_col else [])
        added = self._publish(name, staging, date_col)
        self._verify_unique(name, added, schema, checks)

        def on(tip):
            props = self._props(
                tip, schema=schema.jsonValue(), date_col=date_col,
                buckets=None, ivm=None,
            )
            if bloom_cols is not None:
                props["bloom"] = list(bloom_cols)
            changes = (
                {"kind": "insert", "files": added} if props.get("history") else None
            )
            return (tip["files"] if tip else []) + added, props, changes

        files, props, changes = on(base)
        self._commit(
            name, "write_append", base,
            files=files, props=props, changes=changes, rebase=on,
        )

    # --- bucketed tables (co-located joins) ----------------------------
    # Two tables bucketed into the same number of buckets on their join
    # key sort-merge-join WITHOUT a shuffle on either side. Spark tracks
    # bucket metadata only in the session catalog, so the layout is
    # recorded in the log and re-registered via DDL by a new session.

    def _bucket_ident(self, name: str) -> str:
        # session-catalog identifier; warehouse names are [a-z0-9_]
        return f"bucketed_{name}"

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: Sequence[str],
        n_buckets: int,
        sort_cols: Sequence[str] | None = None,
        checks: Sequence[Check] = (),
    ) -> None:
        """Overwrite ``name`` as a bucketed (optionally sort-within-bucket)
        parquet table whose rows pass ``checks`` and the table's CHECK
        constraints. ``sort_cols`` additionally pre-sorts each bucket
        file so a downstream sort-merge join skips its sort as well as
        its shuffle."""
        if self.is_versioned(name):
            # versioned reads are plain-parquet file lists — rewriting the
            # live table bucketed would make table_at_version silently lose
            # the co-location guarantee vs the live read (the same layout
            # conflict snapshot() refuses, from the other side)
            raise ValueError(
                f"'{name}' is versioned; a bucketed rewrite would fork the "
                "layout from its version history — drop versioning first"
            )
        base = self._tip(name)
        schema = df.schema
        df = enforce(df, checks, self._props(base).get("constraints"))
        ident = self._bucket_ident(name)
        self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        wid = f"w-{uuid.uuid4().hex}"
        w = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(self.path(name), wid))
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(ident)
        files = txlog.file_stats(self.path(name), wid, None)
        self._verify_unique(name, files, schema, checks)
        buckets = {
            "n_buckets": n_buckets,
            "bucket_cols": list(bucket_cols),
            "sort_cols": list(sort_cols or []),
            "dir": wid,
        }
        # exclusive layout: a bucketed rewrite replaces any bloom record
        props = self._props(
            base, schema=schema.jsonValue(), date_col=None, bloom=[],
            **{**_REWRITTEN, "buckets": buckets},
        )
        self._commit(name, "write_bucketed", base, files=files, props=props)

    def write_zordered(
        self,
        name: str,
        df: DataFrame,
        zorder_cols: Sequence[str],
        n_files: int = 16,
        checks: Sequence[Check] = (),
    ) -> None:
        """Overwrite ``name`` with the rows of ``df``, which must pass
        ``checks`` and the table's CHECK constraints, arranged along the
        Morton curve over two numeric columns (operators/layout.py), so both columns
        carry tight per-file min/max and 2-D box predicates prune from the
        parquet footers alone. Quantization bounds come from one bounds
        aggregate over the frame (a 1-row driver probe, same class as the
        watermark read); the frame is persisted so the bounds pass and the
        write share one computation of the builder's plan."""
        from kin_data_pipeline_spark.operators.layout import quantize, zorder_layout

        x, y = zorder_cols
        base = self._tip(name)
        schema = df.schema
        df = enforce(df, checks, self._props(base).get("constraints")).persist()
        try:
            b = df.agg(
                F.min(x).alias("xl"),
                F.max(x).alias("xh"),
                F.min(y).alias("yl"),
                F.max(y).alias("yh"),
            ).first()
            out = df  # empty frame: plain write, nothing to order
            if b["xl"] is not None:
                zx = quantize(F.col(x), float(b["xl"]), float(b["xh"]) + 1.0, 1 << 12)
                zy = quantize(F.col(y), float(b["yl"]), float(b["yh"]) + 1.0, 1 << 12)
                out = zorder_layout(df, zx, zy, n_files, bits=12)
            staging = self._write(name, out)
        finally:
            df.unpersist()
        files = self._publish(name, staging, None)
        self._verify_unique(name, files, schema, checks)
        # exclusive layout: a z-ordered rewrite replaces any bloom record
        props = self._props(
            base, schema=schema.jsonValue(), date_col=None, bloom=[], **_REWRITTEN
        )
        self._commit(name, "write_zordered", base, files=files, props=props)

    def bucketed_table(self, name: str) -> DataFrame:
        """Read a bucketed table WITH its bucket metadata (plain
        ``spark.read.parquet`` would see the same rows but lose the layout
        and reintroduce the shuffle). Re-registers the external table from
        the log if this session has never seen it."""
        entry = self._tip(name)
        meta = entry["props"].get("buckets") if entry else None
        if not meta:
            raise ValueError(f"{name} is not a bucketed table")
        ident = self._bucket_ident(name)
        location = os.path.join(self.path(name), meta["dir"])
        with _BUCKET_DDL_LOCK:
            if self.spark.catalog.tableExists(ident):
                # the session catalog is shared by every Catalog instance in
                # the session — a same-named table from ANOTHER warehouse dir
                # (or an older write of this one) must not be served
                # silently. Verify the registered location.
                loc_rows = [
                    r
                    for r in self.spark.sql(
                        f"DESCRIBE TABLE EXTENDED {ident}"
                    ).collect()
                    if r[0] == "Location"
                ]
                registered = loc_rows[0][1] if loc_rows else ""
                expected = "file:" + os.path.abspath(location)
                if registered.rstrip("/") != expected.rstrip("/"):
                    self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
            if not self.spark.catalog.tableExists(ident):
                cols = ", ".join(
                    f"`{fld.name}` {fld.dataType.simpleString()}"
                    for fld in _schema(entry).fields
                )
                bcols = ", ".join(f"`{c}`" for c in meta["bucket_cols"])
                sort_clause = (
                    " SORTED BY ("
                    + ", ".join(f"`{c}`" for c in meta["sort_cols"])
                    + ")"
                    if meta["sort_cols"]
                    else ""
                )
                self.spark.sql(
                    f"CREATE TABLE {ident} ({cols}) USING parquet "
                    f"CLUSTERED BY ({bcols}){sort_clause} "
                    f"INTO {meta['n_buckets']} BUCKETS "
                    f"LOCATION '{location}'"
                )
        return self.spark.table(ident)

    def clone(self, name: str, source: str) -> None:
        """Zero-copy publication: an alias resolved at read time — the Spark
        analogue of Snowflake CLONE without duplicating a byte."""
        self._commit(
            name, "clone", self._tip(name), files=[], props={"clone_of": source}
        )

    def _refuse_clone(self, base: dict | None, name: str, what: str) -> None:
        if base is not None and base["props"].get("clone_of"):
            raise ValueError(
                f"'{name}' is a zero-copy clone; {what} would mutate the "
                "clone's source. Materialize it first (upsert_by_key/"
                "write_full) or change the source table."
            )

    def _refuse_bucketed(self, base: dict | None, name: str, what: str) -> None:
        # a rewrite through the plain-parquet path would silently replace
        # the declared co-located-join layout
        if base is not None and base["props"].get("buckets"):
            raise ValueError(
                f"'{name}' is bucketed; {what} would rewrite it as plain "
                "parquet and drop the bucket layout — compact to a plain "
                "table first or rewrite through write_bucketed"
            )

    def upsert_by_key(
        self, name: str, df: DataFrame, key_cols: list[str], date_col: str | None
    ) -> None:
        """MERGE-style upsert: new rows replace existing rows sharing the
        key (anti-join survivors + incoming, rewritten) — the S6 fix SURVEY
        §4 notes for the reference's duplicate-id ingestion (§2.11).
        Upserting into a clone materializes it copy-on-write (Snowflake
        clone semantics).
        """
        bad_keys = [
            c
            for c in key_cols
            if not _orderable_type(df.schema[c].dataType)
        ]
        if bad_keys:
            raise ValueError(
                f"upsert_by_key({name}): key columns {bad_keys} have "
                "map/variant types, which Spark cannot compare"
            )
        base = self._tip(name)
        if base is None:
            self.write_full(name, df, date_col)
            return
        df = enforce(df, (), base["props"].get("constraints"))
        existing = self.table(name)  # resolves clone aliases → source data
        survivors = existing.join(
            df.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = survivors.select(*df.columns).unionByName(df)
        changes = None
        # CDF: new = survivors ⊎ df, old = survivors ⊎ replaced, so the
        # net change is df EXCEPT ALL replaced / replaced EXCEPT ALL df —
        # both upsert-sized. The key tells which rows pair, so matched-key
        # rows are TYPED update_preimage/update_postimage (Delta's upsert
        # CDF shape) and brand-new keys plain inserts. Delta pairs update
        # images strictly, so under duplicate keys rows pair per key up
        # to the smaller side's count and the surplus becomes plain
        # deletes/inserts (VERDICT r9 advice).
        if base["props"].get("history"):
            keys = list(key_cols)
            # map/variant columns ride as their to_json image through the
            # set operations (unorderable KEY columns were rejected above)
            unord = _unorderable_cols(df)
            utypes = {c: df.schema[c].dataType for c in unord}

            def _canon(frame: DataFrame) -> DataFrame:
                return _canon_cols(frame, unord).select(*df.columns)

            def _uncanon(frame: DataFrame) -> DataFrame:
                return _uncanon_cols(frame, utypes, unord).select(*df.columns)

            incoming_keys = df.select(*key_cols).distinct()
            replaced = _canon(
                existing.join(incoming_keys, key_cols, "left_semi")
            )
            existing_keys = existing.select(*key_cols).distinct()
            # a USING semi/anti join moves the key columns first —
            # re-select the original order, or the EXCEPT ALL below
            # aligns positionally against mismatched columns
            df_new = df.join(existing_keys, key_cols, "left_anti").select(
                *df.columns
            )
            df_upd = _canon(df.join(existing_keys, key_cols, "left_semi"))
            pre_net = replaced.exceptAll(df_upd)
            post_net = df_upd.exceptAll(replaced)
            order_cols = [c for c in df.columns if c not in set(keys)] or keys
            rn = F.row_number().over(
                Window.partitionBy(*keys).orderBy(*order_cols)
            )
            pre_n = pre_net.withColumn("_rn", rn)
            post_n = post_net.withColumn("_rn", rn)
            pre_cap = pre_n.groupBy(*keys).agg(F.max("_rn").alias("_cap"))
            post_cap = post_n.groupBy(*keys).agg(F.max("_rn").alias("_cap"))

            def _split(numbered, cap):
                j = numbered.join(cap, keys, "left")
                bound = F.coalesce(F.col("_cap"), F.lit(0))
                return (
                    j.where(F.col("_rn") <= bound).select(*df.columns),
                    j.where(F.col("_rn") > bound).select(*df.columns),
                )

            paired_pre, surplus_pre = _split(pre_n, post_cap)
            paired_post, surplus_post = _split(post_n, pre_cap)
            changes = self._write_changes(
                name,
                inserts=df_new.unionByName(_uncanon(surplus_post)),
                deletes=_uncanon(surplus_pre),
                update_pre=_uncanon(paired_pre),
                update_post=_uncanon(paired_post),
            )
        # the plan reads the files being replaced — safe, since a rewrite
        # only ever adds new files and the old ones go after the commit.
        # The table's recorded bloom declaration rides through the rewrite.
        cols = self._bloom(name, base["props"], merged, None)
        staging = self._write(name, merged, cols, [date_col] if date_col else [])
        props = self._props(
            base, schema=merged.schema.jsonValue(), date_col=date_col, **_REWRITTEN
        )
        self._commit(
            name, "upsert_by_key", base,
            files=self._publish(name, staging, date_col), props=props, changes=changes,
        )

    def compact(
        self,
        name: str,
        date_col: str | None,
        bloom_cols: Sequence[str] | None = None,
    ) -> tuple[int, int]:
        """Rewrite a table's fragmented files into one file per date
        partition; returns (files_before, files_after).

        Incremental appends and streaming micro-batches each add at least
        one file per partition per run — at 100 TB the small files
        dominate scan planning long before data size does. Explicit
        ``bloom_cols`` override the recorded declaration for this rewrite
        only. Refuses clone aliases (it would rewrite the source).
        """
        base = self._tip(name)
        if base is None:
            raise ValueError(f"no table '{name}' in {self.warehouse_dir}")
        self._refuse_clone(base, name, "compacting through it")
        if base["props"].get("buckets"):
            raise ValueError(
                f"'{name}' is bucketed; compaction would rewrite its files "
                "without bucket names and destroy the layout. Bucketed "
                "tables are rebuilt whole (write_bucketed) and never "
                "accumulate small files."
            )
        df = self.table(name)
        out = df.repartition(F.col(date_col)) if date_col is not None else df.coalesce(1)
        cols = self._bloom(name, base["props"], df, bloom_cols)
        staging = self._write(name, out, cols, [date_col] if date_col else [])
        files = self._publish(name, staging, date_col)
        # CDF: compaction rewrites files but changes no rows — record an
        # EMPTY change set so CDF readers skip the commit outright instead
        # of re-diffing two full (identical) snapshots to find nothing
        changes = {"kind": "typed", "files": []} if base["props"].get("history") else None
        self._commit(
            name, "compact", base, files=files,
            props=self._props(base, date_col=date_col), changes=changes,
        )
        return len(base["files"]), len(files)

    def delete_where_date_ge(self, name: str, date_col: str, cutoff) -> int:
        """Date-keyed cleanup: drop whole date partitions >= cutoff and
        return how many. The commit removes those partitions' files and
        rewrites nothing (incremental_cleanup.py:82 equivalent); on a
        versioned table the removed files ARE the commit's change feed
        (every row in them was deleted), so no Spark job runs at all.

        Refuses clone aliases: deleting through one would delete the
        SOURCE table's partitions, but the modeled semantic (Snowflake
        CLONE) is copy-on-write — mutating a clone must never touch its
        source.
        """
        base = self._tip(name)
        self._refuse_clone(base, name, "deleting through it")
        if base is None:
            return 0
        doomed = []
        for f in base["files"]:
            # NULL dates live in __HIVE_DEFAULT_PARTITION__ and are never
            # >= cutoff
            val = txlog.part_values(f["path"]).get(date_col)
            if val is not None and datetime.date.fromisoformat(val) >= cutoff:
                doomed.append(f)
        gone = set(_paths(doomed))
        history = base["props"].get("history")
        self._commit(
            name, "delete_where_date_ge", base,
            files=[f for f in base["files"] if f["path"] not in gone],
            props=self._props(base, ivm=None),
            changes={"kind": "delete", "files": doomed} if history else None,
        )
        return len({txlog.part_values(p)[date_col] for p in gone})

    def delete_by_keys(
        self, name: str, key_col: str, keys: DataFrame | Sequence
    ) -> int:
        """Key-based erasure — the right-to-be-forgotten primitive beside
        date cleanup: drop every row whose ``key_col`` appears in ``keys``
        (a 1-column frame or a plain sequence; policy-sized, so it
        broadcasts) in one rewrite pass. Refuses clone aliases, like
        ``delete_where_date_ge``. Returns the number of rows removed.
        """
        base = self._tip(name)
        self._refuse_clone(base, name, "deleting through it")
        self._refuse_bucketed(base, name, "key erasure")
        if isinstance(keys, DataFrame):
            df_keys = keys.select(F.col(keys.columns[0]).alias(key_col))
        else:
            df_keys = self.spark.createDataFrame(
                [(str(k),) for k in keys], f"{key_col} string"
            )
        live = self.table(name)
        if key_col not in live.columns:
            raise ValueError(f"'{name}' has no column {key_col!r}")
        key_cast = df_keys.select(
            F.col(key_col).cast(dict(live.dtypes)[key_col]).alias(key_col)
        )
        # SINGLE-PASS rewrite: ONE broadcast join + ONE write
        # job materializes both the survivors and the erased rows (the
        # commit's change feed) as sibling subtrees keyed by a synthetic,
        # directory-encoded flag. Keys are de-duplicated so the left join
        # cannot fan rows out, and a NULL key never matches.
        flag = "__cdf_deleted"
        marked = key_cast.distinct().withColumn(flag, F.lit(True))
        flagged = live.join(F.broadcast(marked), key_col, "left").withColumn(
            flag, F.coalesce(F.col(flag), F.lit(False))
        )
        props = base["props"]
        part_col = props.get("date_col")  # keep the partition layout
        # one file per (side, date) instead of one per (task, side, date)
        flagged = flagged.hint("rebalance", flag, *([part_col] if part_col else []))
        cols = self._bloom(name, props, live, None)
        staging = self._write(
            name, flagged, cols, [flag] + ([part_col] if part_col else [])
        )
        root = self.path(name)
        # removed-row accounting straight from the erased side's footers
        # (exact, no count job)
        erased = os.path.join(staging, f"{flag}=true")
        removed = sum(f["rows"] for f in txlog.file_stats(root, erased, None))
        changes = None
        if props.get("history"):
            # the erased rows' files are the commit's change feed verbatim
            changes = {
                "kind": "delete",
                "files": txlog.publish(root, erased, part_col, prefix="erased-"),
            }
        files = txlog.publish(root, os.path.join(staging, f"{flag}=false"), part_col)
        shutil.rmtree(os.path.join(root, staging), ignore_errors=True)
        self._commit(
            name, "delete_by_keys", base, files=files,
            props=self._props(base, ivm=None), changes=changes,
        )
        return removed

    def apply_changelog(
        self,
        name: str,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        seq_col: str = "seq",
        date_col: str | None = None,
        scope_partitions: bool = False,
    ) -> dict[str, int]:
        """Apply an insert/update/delete changelog in ONE merge pass — the
        CDC-consumer side of the warehouse (Debezium/binlog shape; the
        full-strength form of the S6 MERGE upgrade, which upsert_by_key
        covers only for I/U feeds).

        ``changes`` carries the table's data columns plus ``op_col``
        (I/U/D, case-insensitive) and ``seq_col`` (any type ordered like
        the log). Per key, the HIGHEST-``seq`` change wins: a trailing D
        removes the key, anything else replaces it, and earlier changes
        are compressed away on the changelog before the table is touched.
        Reapplying a changelog is idempotent. The table pays one broadcast
        anti join on the touched keys and one rewrite, like upsert_by_key;
        cloned targets materialize copy-on-write (MERGE is an
        upsert-family mutation).

        ``scope_partitions=True`` is the 100 TB form — replaceWhere: only
        the date partitions the changelog actually touches (partitions
        holding a touched key, plus partitions the upserts land in) are
        read, merged and rewritten; one commit swaps their files and every
        other partition's files stay as they are. Requires ``date_col`` on
        a date-partitioned table with non-null partition values, and
        refuses clone aliases (materialize the clone first). Returns an
        extra ``partitions_rewritten`` count in scoped mode.
        """
        for c in (op_col, seq_col):
            if c not in changes.columns:
                raise ValueError(f"changelog is missing column {c!r}")
        bad_keys = [
            c
            for c in key_cols
            if not _orderable_type(changes.schema[c].dataType)
        ]
        if bad_keys:
            raise ValueError(
                f"apply_changelog({name}): key columns {bad_keys} have "
                "map/variant types, which Spark cannot compare"
            )
        base = self._tip(name)
        self._refuse_bucketed(self._resolve(name)[1], name, "a changelog merge")
        data_cols = [c for c in changes.columns if c not in (op_col, seq_col)]
        op = F.upper(F.col(op_col))
        # NULL must be flagged explicitly: `~isin` evaluates to NULL for a
        # NULL op, so the row would pass a bare isin filter, count as an
        # upsert, yet be excluded from the survivors' anti join — a
        # malformed change silently deleting its key instead of raising.
        bad = (
            changes.filter(op.isNull() | ~op.isin("I", "U", "D"))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(f"unknown changelog op {bad[0][op_col]!r}")
        dup = (
            changes.groupBy(*key_cols, seq_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"changelog has multiple changes for one ({key_cols}, "
                f"{seq_col}) — log order is ambiguous: {tuple(dup[0])[:-1]}"
            )
        w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col))
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        counts = {
            r[0]: r[1]
            for r in latest.groupBy(op.alias("o")).count().collect()
        }
        n_deletes = int(counts.get("D", 0))
        n_upserts = sum(int(v) for k, v in counts.items() if k != "D")
        ups = latest.filter(op != "D").select(*data_cols)
        if base is None:
            self.write_full(name, ups, date_col)
            return {"upserts": n_upserts, "deletes": n_deletes}
        ups = enforce(ups, (), base["props"].get("constraints"))
        existing = self.table(name)
        if set(data_cols) != set(existing.columns):
            raise ValueError(
                f"changelog data columns {sorted(data_cols)} != table "
                f"columns {sorted(existing.columns)}"
            )
        touched = latest.select(*key_cols).distinct()
        cdf = None
        # CDF: survivors cancel in the multiset diff, so the commit's
        # change rows are changelog-sized (VERDICT r7 ask #3) and TYPED
        # by key and winning op: latest-D keys' rows → delete, upserts on
        # new keys → insert, matched-key upserts → update_preimage /
        # update_postimage. Key-disjointness makes the typed split
        # net-identical to the untyped delete+insert form.
        if base["props"].get("history"):
            touched_d = (
                latest.filter(op == "D").select(*key_cols).distinct()
            )
            deleted_rows = existing.join(
                F.broadcast(touched_d), key_cols, "left_semi"
            ).select(*data_cols)
            existing_keys = existing.select(*key_cols).distinct()
            # re-select after the USING joins: they move key columns
            # first, and the EXCEPT ALL pairing below is positional
            ups_new = ups.join(existing_keys, key_cols, "left_anti").select(
                *data_cols
            )
            ups_upd = ups.join(existing_keys, key_cols, "left_semi").select(
                *data_cols
            )
            touched_u = touched.exceptAll(touched_d)
            replaced_u = existing.join(
                F.broadcast(touched_u), key_cols, "left_semi"
            ).select(*data_cols)
            # map/variant payload columns: net the update images on their
            # to_json canonicalization (Spark cannot set-op those types),
            # restoring typed values before staging
            unord = _unorderable_cols(ups_upd)
            utypes = {c: ups_upd.schema[c].dataType for c in unord}
            upd_j = _canon_cols(ups_upd, unord).select(*data_cols)
            rep_j = _canon_cols(replaced_u, unord).select(*data_cols)
            cdf = self._write_changes(
                name,
                inserts=ups_new,
                deletes=deleted_rows,
                update_pre=_uncanon_cols(
                    rep_j.exceptAll(upd_j), utypes, unord
                ).select(*data_cols),
                update_post=_uncanon_cols(
                    upd_j.exceptAll(rep_j), utypes, unord
                ).select(*data_cols),
            )
        if scope_partitions:
            return self._apply_changelog_scoped(
                name, base, existing, touched, ups, data_cols, date_col,
                cdf, n_upserts, n_deletes,
            )
        survivors = existing.join(F.broadcast(touched), key_cols, "left_anti")
        merged = survivors.select(*data_cols).unionByName(ups)
        cols = self._bloom(name, base["props"], merged, None)
        staging = self._write(name, merged, cols, [date_col] if date_col else [])
        props = self._props(
            base, schema=merged.schema.jsonValue(), date_col=date_col, **_REWRITTEN
        )
        self._commit(
            name, "apply_changelog", base,
            files=self._publish(name, staging, date_col), props=props, changes=cdf,
        )
        return {"upserts": n_upserts, "deletes": n_deletes}

    def _apply_changelog_scoped(
        self,
        name: str,
        base: dict,
        existing: DataFrame,
        touched: DataFrame,
        ups: DataFrame,
        data_cols: list[str],
        date_col: str | None,
        cdf: dict | None,
        n_upserts: int,
        n_deletes: int,
    ) -> dict[str, int]:
        """Partition-scoped MERGE (replaceWhere): see apply_changelog. One
        commit replaces only the affected date partitions' files."""
        if date_col is None:
            raise ValueError("scope_partitions requires date_col")
        # Affected partitions are matched against the table's partition
        # values as str(v), which is how Spark renders dates and integers
        # in directory names; other types (strings are escaped, timestamps
        # zone-rendered) could miss a partition that must be replaced.
        from pyspark.sql.types import (
            ByteType, DateType, IntegerType, LongType, ShortType,
        )

        dt = existing.schema[date_col].dataType
        if not isinstance(dt, (DateType, IntegerType, LongType, ShortType, ByteType)):
            raise ValueError(
                f"scope_partitions requires a date- or integer-typed "
                f"partition column; {date_col!r} is {dt.simpleString()} "
                "(string values are escaped in partition dir names)"
            )
        # A scoped apply rewrites SOME partitions and leaves the rest — so
        # the changelog's dtypes must match the table's exactly. A widening
        # changelog (int→long) would leave rewritten partitions physically
        # typed differently from both the untouched ones and the recorded
        # schema; the UNSCOPED path is safe for that case because it
        # rewrites everything and re-records the merged schema.
        existing_types = dict(existing.select(*data_cols).dtypes)
        ups_types = dict(ups.select(*data_cols).dtypes)
        drift = {
            c: (existing_types[c], ups_types[c])
            for c in data_cols
            if existing_types[c] != ups_types[c]
        }
        if drift:
            raise ValueError(
                f"scoped apply to '{name}' would change column types "
                f"{drift}; use scope_partitions=False (full rewrite re-"
                "records the merged schema) or cast the changelog first"
            )
        self._refuse_clone(base, name, "a partition-scoped apply")
        part_of = {f["path"]: txlog.part_values(f["path"]) for f in base["files"]}
        if not any(date_col in v for v in part_of.values()):
            raise ValueError(
                f"'{name}' is not physically partitioned by {date_col!r}; "
                "use scope_partitions=False"
            )
        # affected = partitions holding a touched key ∪ partitions upserts
        # land in. Both frames are changelog-sized; the semi join prunes
        # with the touched-key broadcast before the distinct.
        affected_rows = (
            existing.join(F.broadcast(touched), list(touched.columns), "left_semi")
            .select(date_col)
            .union(ups.select(date_col))
            .distinct()
            .collect()
        )
        vals = [r[0] for r in affected_rows]
        if any(v is None for v in vals):
            raise ValueError(
                f"NULL {date_col!r} in the merge scope — partition values "
                "must be non-null for a scoped apply"
            )
        if not vals:  # changelog touched nothing present and inserts nothing
            return {
                "upserts": n_upserts, "deletes": n_deletes,
                "partitions_rewritten": 0,
            }
        scope = F.col(date_col).isin(vals)
        survivors = existing.filter(scope).join(
            F.broadcast(touched), list(touched.columns), "left_anti"
        )
        merged = survivors.select(*data_cols).unionByName(ups)
        cols = self._bloom(name, base["props"], merged, None)
        new = self._publish(name, self._write(name, merged, cols, [date_col]), date_col)
        # a fully-deleted partition has no new files but its old ones go
        affected = {str(v) for v in vals}
        kept = [
            f for f in base["files"] if part_of[f["path"]].get(date_col) not in affected
        ]
        self._commit(
            name, "apply_changelog", base, files=kept + new,
            props=self._props(base, **_REWRITTEN), changes=cdf,
        )
        return {
            "upserts": n_upserts, "deletes": n_deletes,
            "partitions_rewritten": len(affected),
        }

    # --- snapshots (tags) ------------------------------------------------
    # Named, immutable table states for "read last week's release" and
    # instant rollback (Iceberg tags). A tag copies the file list and
    # schema of the tip it names — no data — and the files it names are
    # kept until it is dropped, whatever later writes remove.

    def _tag(self, name: str, tag: str) -> dict:
        rec = txlog.read_tag(self.path(name), tag)
        if rec is None:
            raise ValueError(f"no snapshot '{name}@{tag}'")
        return rec

    def snapshot(self, name: str, tag: str) -> None:
        """Record the table's current state under ``tag``. Clone aliases
        resolve first (the snapshot captures the DATA the alias sees, so a
        later re-point of the alias cannot retroactively change history).
        Bucketed tables are refused: their layout lives in the session
        catalog, and a file-level snapshot would silently read back
        without the co-location guarantee the table was declared with."""
        if not _TAG.fullmatch(tag or ""):
            raise ValueError(f"invalid snapshot tag {tag!r}")
        phys, entry = self._resolve(name)
        if entry is None:
            raise ValueError(f"cannot snapshot missing table '{name}'")
        if entry["props"].get("buckets"):
            raise ValueError(
                f"'{name}' is bucketed; snapshot/restore would drop the "
                "bucket layout — compact to a plain table first"
            )
        rec = {
            "table": phys,
            "ts": time.time(),
            "files": entry["files"],
            "props": {k: entry["props"].get(k) for k in ("schema", "date_col")},
        }
        if not txlog.create_tag(self.path(name), tag, rec):
            raise ValueError(f"snapshot '{name}@{tag}' already exists")

    def list_snapshots(self, name: str) -> list[str]:
        return txlog.list_tags(self.path(name))

    def table_at(self, name: str, tag: str) -> DataFrame:
        """Read the table as of ``tag`` — same recorded-schema semantics as
        ``table()`` (empty snapshots stay readable)."""
        rec = self._tag(name, tag)
        return self._read(rec["table"], _paths(rec["files"]), _schema(rec))

    def restore(self, name: str, tag: str) -> None:
        """Roll the live table back to ``tag`` (the snapshot itself is
        kept) — one commit whose files are the tag's."""
        rec = self._tag(name, tag)
        base = self._tip(name)
        self._refuse_clone(base, name, "restoring through it")
        if rec["table"] != name:
            raise ValueError(
                f"snapshot '{name}@{tag}' holds files of '{rec['table']}'"
            )
        props = self._props(base, **{**_REWRITTEN, **rec["props"]})
        self._commit(name, "restore", base, files=rec["files"], props=props)

    def drop_snapshot(self, name: str, tag: str) -> None:
        rec = self._tag(name, tag)
        txlog.drop_tag(self.path(name), tag)
        table = rec["table"]
        self._delete_files(
            table, _paths(rec["files"]), self._referenced(table, self._retained(table))
        )

    def vacuum(
        self,
        name: str | None = None,
        keep_snapshots: int | None = None,
        min_age_s: float = 3600.0,
    ) -> dict:
        """Warehouse maintenance sweep — the lakehouse VACUUM analogue.

        Per table (all tables by default, including directories whose
        first write never committed): optionally drop all but the
        ``keep_snapshots`` newest tags, trim the log of a table without
        history to its tip, then delete every data file that no retained
        log entry and no tag references and that is older than
        ``min_age_s`` seconds, and the temporary files of log entries and
        tags that were never published. Unreferenced files are the remains
        of writes that never committed (a crash, a lost commit race) and
        of commits whose cleanup did not run. The age guard keeps the
        not-yet-committed files of a concurrent writer, like any VACUUM
        retention window.

        Returns ``{"files_removed": [...], "snapshots_dropped":
        {table: [tags]}}``; removed paths are relative to the warehouse.
        """
        if name is not None:
            targets: Sequence[str] = [name]
        else:
            targets = sorted(
                d for d in os.listdir(self.warehouse_dir)
                if os.path.isdir(self.path(d)) and not d.startswith((".", "_"))
            )
        report: dict = {"files_removed": [], "snapshots_dropped": {}}
        cutoff = time.time() - min_age_s
        for t in targets:
            root = self.path(t)
            if keep_snapshots is not None:
                tags = sorted(
                    self.list_snapshots(t),
                    key=lambda tg: self._tag(t, tg)["ts"],
                )
                for tg in tags[: max(0, len(tags) - keep_snapshots)]:
                    self.drop_snapshot(t, tg)
                    report["snapshots_dropped"].setdefault(t, []).append(tg)
            ns = txlog.numbers(root)
            if ns and not txlog.read(root, ns[-1])["props"].get("history"):
                txlog.delete_entries(root, ns[:-1])
            report["files_removed"] += [
                f"{t}/{p}" for p in txlog.sweep_temps(root, cutoff)
            ]
            keep = self._referenced(t, self._retained(t))
            for dirpath, dirs, names in os.walk(root, topdown=False):
                rel = os.path.relpath(dirpath, root)
                if rel.split(os.sep)[0] in (txlog.LOG, txlog.TAGS):
                    continue
                if rel.startswith("_tmp-"):  # staging of an uncommitted write
                    if os.sep not in rel and cutoff >= max(
                        (
                            os.path.getmtime(os.path.join(d, fn))
                            for d, _, fns in os.walk(dirpath)
                            for fn in fns
                        ),
                        default=os.path.getmtime(dirpath),
                    ):
                        shutil.rmtree(dirpath)
                        report["files_removed"].append(f"{t}/{rel}")
                    continue
                for n in names:
                    p = os.path.join(dirpath, n)
                    path = os.path.relpath(p, root).replace(os.sep, "/")
                    data = n.endswith(".parquet") and not n.startswith((".", "_"))
                    if data and path not in keep and os.path.getmtime(p) <= cutoff:
                        os.remove(p)
                        report["files_removed"].append(f"{t}/{path}")
                if dirpath != root and not any(
                    not n.startswith((".", "_")) for n in os.listdir(dirpath)
                ):
                    shutil.rmtree(dirpath)  # emptied, or only write markers left
            if os.path.isdir(root) and not os.listdir(root):
                os.rmdir(root)
        return report

    def diff_snapshot(self, name: str, tag: str) -> tuple[DataFrame, DataFrame]:
        """(added, removed) row sets of the LIVE table vs snapshot ``tag``
        — the release-audit question "what changed since we tagged?" as two
        distributed set differences (EXCEPT ALL, so duplicate-row
        multiplicity differences surface instead of vanishing). Columns are
        aligned by name first: an appended column (schema evolution) would
        otherwise make positional EXCEPT compare the wrong fields; columns
        present on only one side are a hard error — there is no meaningful
        row diff across disjoint schemas."""
        live = self.table(name)
        old = self.table_at(name, tag)
        if sorted(live.columns) != sorted(old.columns):
            raise ValueError(
                f"cannot diff '{name}' vs '{tag}': column sets differ "
                f"({sorted(live.columns)} vs {sorted(old.columns)})"
            )
        cols = sorted(live.columns)
        return _except_both(live.select(*cols), old.select(*cols))

    # --- versioned tables (Delta-style time travel) ---------------------
    # Tags above answer "read the release we named"; this layer answers
    # Delta Lake's VERSION AS OF / TIMESTAMP AS OF. On an opt-in table
    # every data commit is a numbered, immutable version with a commit
    # timestamp and the operation that produced it, and the files a
    # version reads are kept until vacuum_versions drops it. Versions are
    # log entries, so a version exists exactly when its data does.

    def is_versioned(self, name: str) -> bool:
        entry = self._tip(name)
        return bool(entry and entry["props"].get("history"))

    def enable_versioning(self, name: str) -> None:
        """Opt ``name`` into versioned writes. Records version 0 = the
        table's current state (Delta's convention: the log starts at the
        enable point; history before it was never captured). Refuses
        clone aliases (a version must pin DATA — the alias's source can
        be re-pointed or mutated independently) and bucketed tables (the
        same session-catalog-layout reason ``snapshot`` refuses them)."""
        base = self._tip(name)
        if base is None:
            raise ValueError(f"cannot version missing table '{name}'")
        if base["props"].get("history"):
            raise ValueError(f"'{name}' is already versioned")
        if base["props"].get("clone_of"):
            raise ValueError(
                f"'{name}' is a zero-copy clone; materialize it first "
                "(versions must pin data, not an alias)"
            )
        if base["props"].get("buckets"):
            raise ValueError(
                f"'{name}' is bucketed; versioned reads would drop the "
                "bucket layout — compact to a plain table first"
            )
        self._commit(
            name, "enable_versioning", base, files=base["files"],
            props=self._props(base, history=True),
        )

    def _versions(self, name: str) -> list[dict]:
        if not self.is_versioned(name):
            raise ValueError(f"'{name}' is not versioned")
        return txlog.versions(self.path(name))

    def _version(self, name: str, version: int) -> dict:
        by_v = {e["version"]: e for e in self._versions(name)}
        if int(version) not in by_v:
            raise ValueError(f"no version {version} of '{name}' (have {sorted(by_v)})")
        return by_v[int(version)]

    def history(self, name: str) -> list[dict]:
        """Commit log, oldest first: ``{"version", "ts", "operation",
        "changes"}``; ``changes`` says the commit stored its own change
        feed, and ``changes_insert_only`` / ``changes_delete_only`` that
        the feed is plain data files every row of which was inserted /
        deleted."""
        out = []
        for e in self._versions(name):
            h = {k: e[k] for k in ("version", "ts", "operation")}
            h["changes"] = e.get("changes") is not None
            kind = (e.get("changes") or {}).get("kind")
            if kind in ("insert", "delete"):
                h[f"changes_{kind}_only"] = True
            out.append(h)
        return out

    def table_at_version(self, name: str, version: int) -> DataFrame:
        """Read the table as of commit ``version`` (Delta VERSION AS OF)."""
        e = self._version(name, version)
        return self._read(name, _paths(e["files"]), _schema(e))

    def table_as_of(self, name: str, ts) -> DataFrame:
        """Read the latest version committed at or before ``ts`` (Delta
        TIMESTAMP AS OF). ``ts`` is an epoch float, ``datetime``, or ISO
        string; naive datetimes/strings are taken as LOCAL time, matching
        ``datetime.timestamp()``."""
        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        if isinstance(ts, datetime.datetime):
            ts = ts.timestamp()
        hist = self.history(name)
        eligible = [e for e in hist if e["ts"] <= float(ts)]
        if not eligible:
            raise ValueError(
                f"no version of '{name}' at or before {ts} "
                f"(earliest commit: {hist[0]['ts']})"
            )
        return self.table_at_version(name, eligible[-1]["version"])

    def _change_frame(self, name: str, entry: dict, schema) -> DataFrame:
        """One commit's stored change feed under the ``v_to`` data schema
        (columns a commit predates null-fill, the way the live table reads
        its own pre-evolution files). Typed files carry ``_change_type``;
        insert/delete files are data files whose type is the constant."""
        from pyspark.sql.types import StringType, StructField, StructType

        ch = entry["changes"]
        paths = _paths(ch["files"])
        if ch["kind"] == "typed":
            typed = StructType(
                list(schema.fields) + [StructField("_change_type", StringType())]
            )
            return self._read(name, paths, typed)
        return self._read(name, paths, schema).withColumn(
            "_change_type", F.lit(ch["kind"])
        )

    def table_changes(self, name: str, v_from: int, v_to: int) -> DataFrame:
        """Row-level changes between two committed versions — the Delta
        Change-Data-Feed read shape: the table's columns plus
        ``_change_type``, 'insert' for rows in ``v_to`` but not
        ``v_from`` and 'delete' for the reverse, multiplicity-aware
        (EXCEPT ALL). A single upsert/changelog-merge commit also carries
        Delta's typed ``update_preimage``/``update_postimage`` pairs; a
        multi-commit span nets them back to deletes/inserts. The diff is
        taken under ``v_to``'s schema with columns added since ``v_from``
        null-filled (Delta's read-with-latest-schema); a DROPPED column
        is a hard error.

        Scale path (VERDICT r7 ask #3): when EVERY commit in the span
        stored its own change feed, the answer nets those changelog-sized
        files (Σ inserts − Σ deletes per row) and never reads the
        versions' data; a span holding a full rewrite falls back to
        ``EXCEPT ALL`` of the two versions."""
        if v_from == v_to:
            raise ValueError("table_changes needs two distinct versions")
        by_v = {e["version"]: e for e in self._versions(name)}
        for v in (int(v_from), int(v_to)):
            if v not in by_v:
                raise ValueError(f"no version {v} of '{name}' (have {sorted(by_v)})")
        old_schema, new_schema = _schema(by_v[int(v_from)]), _schema(by_v[int(v_to)])
        dropped = set(old_schema.names) - set(new_schema.names)
        if dropped:
            raise ValueError(
                f"cannot diff '{name}' v{v_from} vs v{v_to}: columns "
                f"{sorted(dropped)} were dropped between the versions"
            )
        cols = sorted(new_schema.names)
        span = [by_v.get(v) for v in range(int(v_from) + 1, int(v_to) + 1)]
        if span and all(e is not None and e.get("changes") for e in span):
            ch = _union([self._change_frame(name, e, new_schema) for e in span])
            if len(span) == 1:
                # single commit: stored insert/delete sides are already
                # net-disjoint, so no combination pass is needed
                return ch.select(*cols, "_change_type")
            # netting across commits: a typed update row is semantically
            # a delete (preimage) / insert (postimage) — fold each onto
            # its side so updates participate in the multiset net (the
            # typing itself cannot survive a net across commits)
            ins = ch.filter(F.col("_change_type").isin("insert", "update_postimage"))
            dels = ch.filter(F.col("_change_type").isin("delete", "update_preimage"))
            return _net_changes(ins.select(*cols), dels.select(*cols))
        old = self.table_at_version(name, v_from)
        # additive evolution: null-fill the added columns on the old side,
        # typed from v_to, so unchanged rows compare equal under the new
        # schema (a row only surfaces when its VALUES changed)
        old_c = old.select(
            *[
                F.col(c) if c in old.columns
                else F.lit(None).cast(new_schema[c].dataType).alias(c)
                for c in cols
            ]
        )
        return _net_changes(self.table_at_version(name, v_to).select(*cols), old_c)

    def restore_version(self, name: str, version: int) -> int:
        """Roll the LIVE table back to a committed version (Delta RESTORE).

        History is never rewritten: the rollback is itself committed as a
        NEW version labeled ``restore(vK)`` whose files and schema are the
        target version's — an auditable event that later reads, diffs,
        and further restores can reference. Restoring the current tip is
        allowed and still commits (Delta's convention: RESTORE always
        records). Returns the new version number.
        """
        target = self._version(name, version)
        base = self._tip(name)
        props = self._props(
            base, schema=target["props"]["schema"],
            date_col=target["props"].get("date_col"), **_REWRITTEN,
        )
        entry = self._commit(
            name, f"restore(v{int(version)})", base,
            files=target["files"], props=props,
        )
        return entry["version"]

    def vacuum_versions(self, name: str, keep_last: int) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (the retention
        sweep): their log entries go first, then the files no retained
        entry or tag still references. Returns the dropped versions."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (never drop the tip)")
        vs = self._versions(name)
        if len(vs) <= keep_last:
            return []
        root = self.path(name)
        first_kept = vs[-keep_last]["n"]
        dropped = [e for e in txlog.entries(root) if e["n"] < first_kept]
        txlog.delete_entries(root, [e["n"] for e in dropped])
        self._delete_files(
            name, self._referenced(name, dropped), self._referenced(name, self._retained(name))
        )
        return [e["version"] for e in vs[:-keep_last]]


def _except_both(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(a EXCEPT ALL b, b EXCEPT ALL a)`` over name-aligned frames;
    map/variant columns cannot enter EXCEPT ALL, so they are diffed on
    their to_json image and restored after."""
    unord = _unorderable_cols(a)
    types = {c: a.schema[c].dataType for c in unord}
    a_j, b_j = _canon_cols(a, unord), _canon_cols(b, unord)
    return (
        _uncanon_cols(a_j.exceptAll(b_j), types, unord),
        _uncanon_cols(b_j.exceptAll(a_j), types, unord),
    )


def _net_changes(new: DataFrame, old: DataFrame) -> DataFrame:
    """``new EXCEPT ALL old`` as inserts plus ``old EXCEPT ALL new`` as
    deletes."""
    ins, dels = _except_both(new, old)
    return ins.withColumn("_change_type", F.lit("insert")).unionByName(
        dels.withColumn("_change_type", F.lit("delete"))
    )


def _union(frames: Sequence[DataFrame]) -> DataFrame:
    """UNION ALL by column name (a frame whose columns diverge fails
    loudly instead of pairing columns positionally)."""
    return functools.reduce(DataFrame.unionByName, frames)


def _legs(spec) -> list[tuple]:
    """An IVM spec's LEGS: (source, row-local transform) pairs. The
    single-source mart is the one-leg case; a union mart (IvmSpec.sources)
    is a rollup over UNION ALL of the legs' projections, which commutes
    with each source's multiset diff — so every leg anchors and folds its
    change span INDEPENDENTLY."""
    if spec.sources:
        return list(spec.sources.items())
    return [(spec.source, spec.row_transform)]


def _anchors(state: dict, hists: dict | None = None) -> dict | None:
    """Per-source versions a recorded IVM state anchors on. With the
    sources' ``hists``, None when any anchor is missing (the spec gained a
    source) or was vacuumed out of its log — Delta's readChangeFeed
    retention lapse: the refresh rebuilds from the tips instead."""
    if "versions" in state:
        rec = {k: int(v) for k, v in state["versions"].items()}
    else:
        rec = {state["source"]: int(state["version"])}
    for s, hist in (hists or {}).items():
        if rec.get(s) is None or not any(int(e["version"]) == rec[s] for e in hist):
            return None
    return rec


def _sig_no_fps(sig):
    """An IVM signature without its dim content fingerprints: equal
    shapes with unequal fps mean only dim CONTENT changed."""
    if isinstance(sig, dict):
        return {k: v for k, v in sig.items() if k != "dim_fps"}
    return sig


@dataclass
class BuildContext:
    spark: SparkSession
    catalog: Catalog
    run_date: datetime.date

    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

@dataclass
class RunResult:
    model: str
    action: str  # full | incremental | ivm | ivm_dim | noop | clone | failed
    rows_written: int | None = None
    duration_sec: float | None = None
    error: str | None = None
    bytes_written: int | None = None
    files_written: int | None = None

def write_run_report(
    results: Sequence[RunResult], path: str, run_date: datetime.date | None = None
) -> None:
    """Structured run log: the engine's replacement for the reference's
    per-model wall-clock prints and Slack success/failure webhook
    (execute_snowflake_load.py:78-79,123-143) — one JSON object with
    per-model action/duration/error, the rows, bytes and files its commit
    wrote, plus an overall ok flag, appended as a single line so operators
    can tail a runs file across invocations."""
    payload = {
        "run_date": run_date.isoformat() if run_date else None,
        "ok": all(r.error is None for r in results),
        "total_sec": round(
            sum(r.duration_sec or 0.0 for r in results), 3
        ),
        "models": [
            {
                "model": r.model,
                "action": r.action,
                "duration_sec": r.duration_sec,
                "rows_written": r.rows_written,
                "bytes_written": r.bytes_written,
                "files_written": r.files_written,
                **({"error": r.error} if r.error else {}),
            }
            for r in results
        ],
    }
    with open(path, "a") as f:
        f.write(json.dumps(payload) + "\n")

class Runner:
    """Dependency-ordered model materializer.

    ``run_date`` replaces the reference's ``current_date`` (determinism,
    SURVEY §1.4); the complete-day guard is each builder's responsibility
    via ``ctx.run_date``.
    """

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    def run(
        self,
        models: Sequence[Model],
        run_date: datetime.date,
        build_type: str = "incremental",  # incremental | full_refresh
        guard_plans: bool = True,
        report_path: str | None = None,
    ) -> list[RunResult]:
        ctx = BuildContext(self.spark, self.catalog, run_date)
        results: list[RunResult] = []
        for m in topo_sort(models):
            t0 = time.monotonic()
            try:
                self._run_one(ctx, m, build_type, guard_plans, results, t0)
            except Exception as exc:  # noqa: BLE001 — report, then propagate
                results.append(
                    RunResult(
                        m.name,
                        "failed",
                        duration_sec=round(time.monotonic() - t0, 3),
                        error=f"{type(exc).__name__}: {exc}",
                    )
                )
                if report_path:
                    write_run_report(results, report_path, run_date)
                raise
        if report_path:
            write_run_report(results, report_path, run_date)
        return results

    def _run_one(
        self,
        ctx: BuildContext,
        m: Model,
        build_type: str,
        guard_plans: bool,
        results: list[RunResult],
        t0: float,
    ) -> None:
        if m.clone_of is not None:
            self.catalog.clone(m.name, m.clone_of)
            results.append(
                self._result(m.name, "clone", t0, self.catalog.commit_stats(m.name))
            )
            return
        if m.ivm is not None:
            self._run_ivm(m, build_type, guard_plans, results, t0)
            return
        df = m.builder(ctx)
        if guard_plans:
            from kin_data_pipeline_spark.plans.guard import assert_scalable_plan

            # one Catalyst compile before any write: a degenerated join
            # (cartesian / undeclared nested loop) aborts here instead
            # of burning a cluster-day at 100 TB.
            assert_scalable_plan(df, m.name, m.allow_nested_loop)
        if m.order_by:
            # O1 clustering order; within-partition sort only (a global
            # orderBy would add an exchange for purely cosmetic order).
            # On a date-partitioned model the file-sizing repartition must
            # come BEFORE this sort (the writer's own rebalance would
            # destroy it — shape_partitions=False below hands layout
            # control to this branch).
            if m.date_col is not None and not m.bucket_by and not m.zorder_by:
                df = df.repartition(F.col(m.date_col))
            df = df.sortWithinPartitions(*m.order_by)
        action = "incremental"
        if (
            build_type == "full_refresh"
            or m.bucket_by  # bucketed layout cannot be appended to (Model.bucket_by)
            or m.zorder_by  # z-ordered layout is rebuilt whole (Model.zorder_by)
            or m.date_col is None  # no watermark axis — always a full rewrite
            or not self.catalog.exists(m.name)
        ):
            action = "full"
        else:
            wm = self.catalog.high_watermark(m.name, m.date_col)
            if wm is not None:
                unit = CADENCE_UNITS[m.cadence]
                # incremental_anchor semantics: only rows whose cadence-
                # truncated date is strictly past the stored watermark.
                df = df.filter(
                    date_trunc(unit, F.col(m.date_col)) > F.lit(wm)
                )
        # the write gates exactly the frame it lands on the model's checks:
        # the post-watermark delta on incremental runs (an old violation
        # can't block new appends), the full frame on refresh
        if m.bucket_by:
            self.catalog.write_bucketed(
                m.name, df, m.bucket_by, m.n_buckets, sort_cols=m.bucket_by,
                checks=m.checks,
            )
        elif m.zorder_by:
            self.catalog.write_zordered(
                m.name, df, m.zorder_by, m.n_zfiles, checks=m.checks
            )
        else:
            write = self.catalog.write_full if action == "full" else self.catalog.write_append
            write(
                m.name, df, m.date_col, bloom_cols=m.bloom_filter_on,
                shape_partitions=not m.order_by, checks=m.checks,
            )
        stats = self.catalog.commit_stats(m.name)
        if m.versioned and not self.catalog.is_versioned(m.name):
            # first materialization of a versioned model: start the
            # commit log at this content (Delta's enable-point
            # convention) so same-run IVM marts can anchor on it;
            # subsequent watermark appends commit changelog-sized
            # versions
            self.catalog.enable_versioning(m.name)
        results.append(self._result(m.name, action, t0, stats))

    @staticmethod
    def _result(name: str, action: str, t0: float, stats: dict) -> RunResult:
        return RunResult(
            name,
            action,
            rows_written=stats["rows"],
            duration_sec=round(time.monotonic() - t0, 3),
            bytes_written=stats["bytes"],
            files_written=stats["files"],
        )

    def _ivm_dim_projections(self, spec) -> tuple[list, list]:
        """Each declared dim's enrichment projection + its content
        fingerprint (count + multiplicity-aware order-independent hash —
        ``_dim_fingerprint``). One bounded driver probe per broadcast-
        small dim; mtimes/versions would false-positive on byte-identical
        rebuilds (the DAG rebuilds dims every run), content does not.
        Shared by the refresh itself and ``plan_refresh``, so the dry-run
        decision can never drift from the executed one."""
        cat = self.catalog
        dim_frames, dim_fps = [], []
        for d in spec.dims:
            proj = _dim_projection(cat.table(d.table), d.key_map(), d.select)
            dim_frames.append(proj)
            dim_fps.append(_dim_fingerprint(proj))
        return dim_frames, dim_fps

    def _ivm_signature(self, spec, dim_fps) -> dict:
        """The recorded-state signature of an IVM spec: structural shape
        + dim content. Editing any declared element (or the dims' rows —
        the explicit dim-change contract: delta-join maintenance is
        exact only while D is static) makes the next refresh a declared
        rebuild, scoped where possible."""
        legs = _legs(spec)
        mart_sig = {
            "group_by": list(spec.group_by),
            "count_col": spec.count_col,
            "measures": dict(spec.measures),
            "distinct_counts": dict(spec.distinct_counts),
            "minmax": {src: list(pair) for src, pair in spec.minmax.items()},
            "derived": dict(spec.derived),
        }
        if spec.dims:
            mart_sig["dims"] = [
                {
                    "table": d.table,
                    "keys": d.key_map(),
                    "select": dict(d.select) if d.select is not None else None,
                    "how": d.how,
                }
                for d in spec.dims
            ]
            mart_sig["dim_fps"] = dim_fps
        if spec.sources:
            # leg membership rides the signature: adding/removing a union
            # source makes the next refresh a declared full rebuild
            mart_sig["sources"] = sorted(s for s, _ in legs)
        if spec.quantiles:
            mart_sig["quantiles"] = {
                out: [qsrc, float(q)]
                for out, (qsrc, q) in dict(spec.quantiles).items()
            }
        if spec.approx_distinct:
            mart_sig["approx_distinct"] = dict(spec.approx_distinct)
        return mart_sig

    def plan_refresh(
        self,
        models: Sequence[Model],
        run_date: datetime.date,
        build_type: str = "incremental",
    ) -> list[dict]:
        """DRY-RUN of ``run()``: the action each model WOULD take, with
        the change spans an IVM refresh would fold (r10 VERDICT stretch
        7c). Runs no writes and no model code, only log reads and one
        content fingerprint per broadcast-small dim. Per entry:

        - ``action``: full | incremental | ivm | ivm_dim | noop | clone
          (plus ``reason`` when a maintained mart degrades to 'full');
        - IVM entries carry ``spans`` {source: {recorded, tip, lag,
          change_bytes}} — the bytes of stored change files the refresh
          would read;
        - 'ivm_dim' entries list ``changed_dims`` (dim table names).

        The decision reads the SAME state the refresh reads
        (``_ivm_signature`` / ``_ivm_dim_projections`` are shared)."""
        out: list[dict] = []
        for m in topo_sort(models):
            entry: dict = {"model": m.name}
            if m.clone_of is not None:
                entry.update(action="clone", source=m.clone_of)
            elif m.ivm is None:
                if (
                    build_type == "full_refresh"
                    or m.bucket_by
                    or m.zorder_by
                    or m.date_col is None
                    or not self.catalog.exists(m.name)
                ):
                    entry["action"] = "full"
                else:
                    entry["action"] = "incremental"
                    wm = self.catalog.high_watermark(m.name, m.date_col)
                    entry["watermark"] = None if wm is None else str(wm)
            else:
                entry.update(self._plan_ivm(m, build_type))
            out.append(entry)
        return out

    def _plan_ivm(self, m: Model, build_type: str) -> dict:
        spec = m.ivm
        cat = self.catalog
        legs = _legs(spec)
        for s, _ in legs:
            if not cat.is_versioned(s):
                return {
                    "action": "error",
                    "reason": f"source '{s}' is not versioned",
                }
        hists = {s: cat.history(s) for s, _ in legs}
        tips = {s: int(h[-1]["version"]) for s, h in hists.items()}
        state = cat.ivm_state(m.name)
        if build_type == "full_refresh":
            return {"action": "full", "reason": "full_refresh requested"}
        if state is None or not cat.exists(m.name):
            return {"action": "full", "reason": "never refreshed"}
        recorded = _anchors(state, hists)
        if recorded is None:
            return {"action": "full", "reason": "vacuum lapsed anchor"}
        spans = {
            s: {
                "recorded": recorded[s],
                "tip": tips[s],
                "lag": tips[s] - recorded[s],
                "change_bytes": txlog.change_bytes(
                    cat.path(s), recorded[s], tips[s]
                ),
            }
            for s, _ in legs
        }
        _, dim_fps = self._ivm_dim_projections(spec)
        sig = self._ivm_signature(spec, dim_fps)
        if state.get("signature") != sig:
            if _sig_no_fps(state.get("signature")) != _sig_no_fps(sig):
                return {
                    "action": "full",
                    "reason": "spec signature changed",
                    "spans": spans,
                }
            # dim content drift: scoped iff every drifted dim's persisted
            # projection is present and content-fresh (same checks the
            # refresh triage performs)
            recorded_fps = state["signature"].get("dim_fps") or []
            if len(recorded_fps) != len(spec.dims):
                return {
                    "action": "full",
                    "reason": "dim state shape mismatch",
                    "spans": spans,
                }
            changed = []
            for i, d in enumerate(spec.dims):
                if recorded_fps[i] == dim_fps[i]:
                    continue
                ds = f"{m.name}__dimstate_{i}"
                if not cat.exists(ds) or _dim_fingerprint(
                    cat.table(ds)
                ) != recorded_fps[i]:
                    return {
                        "action": "full",
                        "reason": "stale or missing dimstate",
                        "spans": spans,
                    }
                changed.append(d.table)
            return {
                "action": "ivm_dim",
                "changed_dims": changed,
                "spans": spans,
            }
        if all(recorded[s] == tips[s] for s, _ in legs):
            return {"action": "noop", "spans": spans}
        return {"action": "ivm", "spans": spans}

    def _run_ivm(
        self,
        m: Model,
        build_type: str,
        guard_plans: bool,
        results: list[RunResult],
        t0: float,
    ) -> None:
        """Materialize an IVM-declared mart (Model.ivm) from its versioned
        source's change feed.

        First run (or ``full_refresh``, or a missing/invalidated refresh
        state): the mart is built from the source TIP and the refreshed
        version recorded in the mart's own commit. Every later run reads
        ``table_changes(recorded, tip)`` — changelog-sized parquet — and
        rolls the agg-sized mart forward with ``maintain_aggregate``; the
        source's base data is never rescanned. A run at an unchanged tip
        is a no-op. Refresh cost is O(|changes| + |agg|) versus the
        reference's full re-aggregation per cron tick
        (execute_snowflake_load.py:89-91).
        """
        from kin_data_pipeline_spark.operators.incremental import (
            distinct_count_from_support,
            distinct_support,
            hll_input,
            maintain_aggregate,
            maintain_distinct_support,
            maintain_hll_distinct,
            maintain_minmax,
            quantile_from_support,
        )
        from kin_data_pipeline_spark.plans.guard import (
            assert_row_local,
            assert_scalable_plan,
        )

        spec = m.ivm
        cat = self.catalog
        legs = _legs(spec)
        src_id = spec.source or "union:" + "+".join(s for s, _ in legs)
        for s, _ in legs:
            if not cat.is_versioned(s):
                raise ValueError(
                    f"model {m.name}: ivm source '{s}' is not "
                    "versioned — enable_versioning on it first (the change "
                    "feed IS the refresh input)"
                )
        hists = {s: cat.history(s) for s, _ in legs}
        tips = {s: int(h[-1]["version"]) for s, h in hists.items()}
        state = cat.ivm_state(m.name)
        if state is not None and state.get("source") != src_id:
            raise ValueError(
                f"model {m.name}: recorded IVM state tracks "
                f"'{state.get('source')}' but the spec names "
                f"'{src_id}' — drop the mart or fix the spec"
            )
        recorded = None if state is None else _anchors(state, hists)
        if recorded is None:
            state = None
        for s, t in legs:
            if t is not None:
                # soundness gate on each leg's TRANSFORM alone: probe it
                # over an empty frame of that source's schema so the
                # feed's own plan nodes (the changelog union / snapshot
                # diff) aren't blamed
                probe = self.spark.createDataFrame([], _schema(cat._version(s, tips[s])))
                assert_row_local(t(probe), m.name)
        # Pre-aggregation dim enrichment (IvmSpec.dims): resolve each
        # dim's projection ONCE per refresh — base rows and change rows
        # must join the same dim content, and the fingerprint below
        # records exactly what they joined. The join itself is
        # engine-built (broadcast hash equi-join over declared keys), so
        # it needs no row-local gate: with the dim fixed it maps each
        # fact row independently, which commutes with the multiset diff.
        dim_frames, dim_fps = self._ivm_dim_projections(spec)

        def derive(df, t=None):
            out = t(df) if t is not None else df
            for d, dimf in zip(spec.dims, dim_frames):
                out = out.join(F.broadcast(dimf), list(d.key_map()), d.how)
            return out

        def union_legs(make):
            """UNION ALL of ``make(source, transform)`` across the legs."""
            return _union([derive(make(s, t), t) for s, t in legs])
        mart_sig = self._ivm_signature(spec, dim_fps)

        def span(anchors):
            """Each leg's own anchor→tip change feed, derived; a leg
            already at its tip contributes nothing (never replayed)."""
            changes = _union([
                derive(cat.table_changes(s, anchors[s], tips[s]), t)
                for s, t in legs
                if anchors[s] < tips[s]
            ])
            if "_change_type" not in changes.columns:
                raise ValueError(
                    f"model {m.name}: row_transform dropped the CDF's "
                    "'_change_type' column — derive columns additively "
                    "(withColumn/filter), never with a narrowing select"
                )
            return changes

        def fold(mart, changes):
            """Roll ``mart`` forward by ``changes``. COUNT/SUM fold
            algebraically. Exact MIN/MAX and HLL sketch columns are
            mart-resident state riding the mart's own commit: inserts merge
            delta-only, and only groups a delete reached re-derive from the
            live sources (== the tips) — elided entirely, by a bounded
            probe, when no stored extremum was hit."""
            out = maintain_aggregate(
                mart, changes, spec.group_by, spec.measures,
                count_col=spec.count_col,
            )
            if spec.minmax or spec.approx_distinct:
                live = union_legs(lambda ls, _t: cat.table(ls))
            for src, (mn, mx) in spec.minmax.items():
                mm = maintain_minmax(
                    mart.select(*spec.group_by, mn, mx), changes, live,
                    spec.group_by, src, min_col=mn, max_col=mx,
                )
                out = _join_at_group_grain(out, mm, [mn, mx])
            for o, src in spec.approx_distinct.items():
                sk = f"__hll_{o}"
                ad = maintain_hll_distinct(
                    mart.select(*spec.group_by, sk), changes, live,
                    spec.group_by, src, sketch_col=sk,
                )
                out = _join_at_group_grain(out, ad, [sk])
            return out

        def _join_at_group_grain(df_a, df_b, added_cols, fill_zero=False):
            """Null-safe LEFT join on the group keys (GROUP BY's NULL-is-
            one-group semantics), appending ``added_cols`` from df_b."""
            a, b = df_a.alias("a"), df_b.alias("b")
            cond = None
            for k in spec.group_by:
                term = F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
                cond = term if cond is None else (cond & term)
            picked = [
                (
                    F.coalesce(F.col(f"b.{c}"), F.lit(0))
                    if fill_zero
                    else F.col(f"b.{c}")
                ).alias(c)
                for c in added_cols
            ]
            return a.join(b, cond, "left").select(
                *[F.col(f"a.{x}") for x in df_a.columns], *picked
            )
        # --- dim-delta SCOPED refresh triage -----------------------------
        # A dim edit invalidates only the groups whose JOIN KEYS changed:
        # unaffected mart rows are kept verbatim and fold the ordinary
        # fact span, affected groups recompute from base ⋉ affected under
        # the new dim. A dim whose fact-side keys sit in the mart grain
        # marks at KEY grain with no base pass; a grain-omits-key dim
        # finds its affected GROUPS with one base ⋉ changed-keys pass
        # (old + new dim worlds). Cost O(affected base rows + changes +
        # agg) instead of a full rebuild per dim edit.
        #
        # The OLD dim content for the key diff is persisted per dim as
        # `{mart}__dimstate_{i}`; the scoped path requires its fingerprint
        # to equal the fps the mart's state recorded, so a stale dimstate
        # (crash between writes) degrades to the full rebuild, never a
        # wrong diff.
        def _dimstate_name(i: int) -> str:
            return f"{m.name}__dimstate_{i}"

        scoped_ctx = None
        scoped_persisted: list = []
        if (
            spec.dims
            and state is not None
            and build_type != "full_refresh"
            and cat.exists(m.name)
            and state.get("signature") != mart_sig
            and _sig_no_fps(state.get("signature")) == _sig_no_fps(mart_sig)
        ):
            recorded_fps = state["signature"].get("dim_fps") or []
            # (i, DimJoin, fact key cols, changed-keys frame, old proj)
            changed_dims = []
            ok = len(recorded_fps) == len(spec.dims)
            for i, d in enumerate(spec.dims):
                if not ok:
                    break
                if recorded_fps[i] == dim_fps[i]:
                    continue  # this dim's content is unchanged
                ds = _dimstate_name(i)
                if not cat.exists(ds):
                    ok = False  # pre-upgrade mart: no stored projection
                    break
                old_proj = cat.table(ds)
                if sorted(old_proj.columns) != sorted(dim_frames[i].columns):
                    ok = False
                    break
                if _dim_fingerprint(old_proj) != recorded_fps[i]:
                    ok = False  # stale dimstate (crash window) → rebuild
                    break
                kcols = list(d.key_map())
                changed = (
                    old_proj.exceptAll(dim_frames[i].select(*old_proj.columns))
                    .select(*kcols)
                    .unionByName(
                        dim_frames[i]
                        .select(*old_proj.columns)
                        .exceptAll(old_proj)
                        .select(*kcols)
                    )
                    .distinct()
                )
                changed_dims.append((i, d, kcols, changed, old_proj))
            if ok and changed_dims:
                # two flag kinds: a dim whose join keys sit in the grain
                # marks at KEY grain (no base pass — key determines group
                # membership); a grain-omits-key dim marks at GROUP grain
                # via one extra base ⋉ changed-keys pass at fact grain
                # (r10 VERDICT ask #5): the affected groups are those
                # holding a changed-key fact row in the OLD world (live
                # base ∪ span changes under the RECORDED dims — a span
                # delete of a changed-key row still dirties its old
                # group) or the NEW world (same rows under the current
                # dims — a relabel moves rows into fresh groups). Extra
                # groups from span-only rows recompute to their correct
                # (possibly absent) state — never wrong, only wider.
                affected = []  # (kind, join cols, distinct flag frame)
                grain = set(spec.group_by)
                out_of_grain = [
                    t for t in changed_dims if not set(t[2]) <= grain
                ]
                for _i, _d, kcols, changed, _op in changed_dims:
                    if set(kcols) <= grain:
                        affected.append(("key", kcols, changed))
                if out_of_grain:
                    old_frames = list(dim_frames)
                    for i, _d, _k, _c, old_proj in changed_dims:
                        old_frames[i] = old_proj
                    parts = []  # (raw frame, leg transform)
                    for ls, lt in legs:
                        parts.append((cat.table(ls), lt))
                        if recorded[ls] < tips[ls]:
                            parts.append(
                                (
                                    cat.table_changes(
                                        ls, recorded[ls], tips[ls]
                                    ),
                                    lt,
                                )
                            )

                    def _derive_with(df_, t_, frames_):
                        out = t_(df_) if t_ is not None else df_
                        for dd, dimf in zip(spec.dims, frames_):
                            out = out.join(
                                F.broadcast(dimf), list(dd.key_map()), dd.how
                            )
                        return out

                    gparts = []
                    for _i, _d, kcols, changed, _op in out_of_grain:
                        for fr, t_ in parts:
                            for frames_ in (old_frames, dim_frames):
                                gparts.append(
                                    _derive_with(fr, t_, frames_)
                                    .join(
                                        F.broadcast(changed),
                                        kcols,
                                        "left_semi",
                                    )
                                    .select(*spec.group_by)
                                )
                    gall = _union(gparts)
                    # persisted: the flag frame is joined into the keep/
                    # recompute/fold/support plans — without caching each
                    # consumer would redo the base pass
                    gframe = gall.distinct().persist()
                    scoped_persisted.append(gframe)
                    affected.append(("group", list(spec.group_by), gframe))

                def _mark(df_, _affected=affected):
                    """Append one left-join flag per changed dim; returns
                    (marked frame, any-affected predicate). Key flags
                    broadcast (changed-key frames are diff-sized); group
                    flags join null-safely (GROUP BY's NULL-is-one-group
                    semantics) without a forced broadcast — the affected
                    group set is mart-cardinality-bounded, AQE broadcasts
                    it when small. Callers re-select their original
                    columns after filtering (the USING joins move key
                    columns first)."""
                    out = df_
                    pred = F.lit(False)
                    for j, (kind, jcols, kdf) in enumerate(_affected):
                        flag = f"__aff{j}"
                        if kind == "key":
                            out = out.join(
                                F.broadcast(kdf.withColumn(flag, F.lit(1))),
                                jcols,
                                "left",
                            )
                        else:
                            lcols = out.columns
                            left = out.alias("l")
                            right = kdf.withColumn(flag, F.lit(1)).alias("r")
                            cond = None
                            for c in jcols:
                                term = F.col(f"l.{c}").eqNullSafe(
                                    F.col(f"r.{c}")
                                )
                                cond = term if cond is None else (cond & term)
                            out = left.join(right, cond, "left").select(
                                *[F.col(f"l.{x}") for x in lcols],
                                F.col(f"r.{flag}"),
                            )
                        pred = pred | (F.col(flag) == 1)
                    return out, pred

                scoped_ctx = {"mark": _mark}

        full = (
            scoped_ctx is None
            and (
                state is None
                or build_type == "full_refresh"
                or not cat.exists(m.name)
                or state.get("signature") != mart_sig
            )
        )
        # one fused aggregation pass shape shared by the full rebuild and
        # the dim-delta scoped recompute: aggregate_base's COUNT +
        # SUM(COALESCE) plus minmax_base's extrema, so neither path scans
        # its input twice
        fused_aggs = [F.count(F.lit(1)).cast("long").alias(spec.count_col)]
        fused_aggs += [
            F.sum(F.coalesce(F.col(src), F.lit(0))).alias(out)
            for out, src in spec.measures.items()
        ]
        fused_aggs += [
            x
            for src, (mn, mx) in spec.minmax.items()
            for x in (F.min(src).alias(mn), F.max(src).alias(mx))
        ]
        fused_aggs += [
            F.hll_sketch_agg(hll_input(src)).alias(f"__hll_{out}")
            for out, src in spec.approx_distinct.items()
        ]
        scoped_changes = None  # unaffected-rows change span (scoped path)
        scoped_base_aff = None  # affected-keys live-base slice (scoped path)
        if full:
            df = (
                union_legs(lambda src, _t: cat.table_at_version(src, tips[src]))
                .groupBy(*spec.group_by)
                .agg(*fused_aggs)
            )
            action = "full"
        elif scoped_ctx is not None:
            # dim-delta scoped refresh (see triage above): unaffected mart
            # rows survive verbatim and fold the ordinary fact span;
            # affected keys' groups recompute from base ⋉ changed-keys
            # under the NEW dims — the live base IS the tips
            mark = scoped_ctx["mark"]
            mart_now = cat.table(m.name)
            marked, pred = mark(mart_now)
            keep = marked.where(~F.coalesce(pred, F.lit(False))).select(
                *mart_now.columns
            )
            base_live = union_legs(lambda ls, _t: cat.table(ls))
            bmarked, bpred = mark(base_live)
            scoped_base_aff = bmarked.where(
                F.coalesce(bpred, F.lit(False))
            ).select(*base_live.columns)
            if any(recorded[ls] < tips[ls] for ls, _ in legs):
                call = span(recorded)
                cmarked, cpred = mark(call)
                scoped_changes = cmarked.where(
                    ~F.coalesce(cpred, F.lit(False))
                ).select(*call.columns)
                df = fold(keep, scoped_changes)
            else:
                # no fact commits since the record — the dim edit is the
                # whole delta; unaffected rows carry over untouched
                df = keep.select(
                    *spec.group_by,
                    spec.count_col,
                    *spec.measures,
                    *[c for pair in spec.minmax.values() for c in pair],
                    *[f"__hll_{out}" for out in spec.approx_distinct],
                )
            scoped_agg = scoped_base_aff.groupBy(*spec.group_by).agg(
                *fused_aggs
            )
            df = df.unionByName(scoped_agg)
            action = "ivm_dim"
        elif all(recorded[src] == tips[src] for src, _ in legs):
            results.append(
                RunResult(
                    m.name, "noop", duration_sec=round(time.monotonic() - t0, 3)
                )
            )
            return
        else:
            df = fold(cat.table(m.name), span(recorded))
            action = "ivm"
        # exact COUNT(DISTINCT) measures — the non-distributive class —
        # ride a PERSISTED (group, value) → multiplicity support table per
        # measure, state-tracked independently of the mart: each support
        # commits its content and state together BEFORE the mart, so a
        # crash between the commits recovers per table — a support
        # already at the tip is reused as-is instead of double-applying
        # the span. Steady state maintains each support from the
        # changelog only (the base is never rescanned).
        support_measures = [
            (out, src, None) for out, src in spec.distinct_counts.items()
        ] + [
            (out, qsrc, float(q))
            for out, (qsrc, q) in dict(spec.quantiles).items()
        ]
        for out, src, q in support_measures:
            sup_name = f"{m.name}__support_{out}"
            sup_state = cat.ivm_state(sup_name)
            sup_sig = {"group_by": list(spec.group_by), "value_col": src}
            if spec.dims:
                # the support multiset is computed over ENRICHED rows —
                # its validity tracks the same dim shape+content the mart
                # does (a dim change rebuilds supports alongside the mart)
                sup_sig["dims"] = mart_sig["dims"]
                sup_sig["dim_fps"] = dim_fps
            sup_rec: dict | None = None
            sup_exists_ok = (
                not full
                and sup_state is not None
                and cat.exists(sup_name)
                and sup_state.get("source") == src_id
            )
            if sup_exists_ok and sup_state.get("signature") == sup_sig:
                sup_rec = _anchors(sup_state, hists)
            scoped_sup = None
            if (
                sup_rec is None
                and scoped_ctx is not None
                and sup_exists_ok
                and _sig_no_fps(sup_state.get("signature"))
                == _sig_no_fps(sup_sig)
                and _anchors(sup_state, hists) == recorded
            ):
                # dim-delta scoped support update, mirroring the mart:
                # unaffected (group, value) rows survive verbatim (their
                # keys' dim rows are unchanged) and fold the unaffected
                # change span; affected keys' rows recompute from the
                # same base ⋉ changed-keys slice the mart aggregated
                st_tbl = cat.table(sup_name)
                smarked, spred = scoped_ctx["mark"](st_tbl)
                s_keep = smarked.where(
                    ~F.coalesce(spred, F.lit(False))
                ).select(*st_tbl.columns)
                if scoped_changes is not None:
                    s_keep = maintain_distinct_support(
                        s_keep, scoped_changes, spec.group_by, src
                    )
                scoped_sup = s_keep.unionByName(
                    distinct_support(scoped_base_aff, spec.group_by, src)
                )
            if scoped_sup is not None:
                sup = scoped_sup
            elif sup_rec is None:
                sup = distinct_support(
                    union_legs(
                        lambda ls, _t: cat.table_at_version(ls, tips[ls])
                    ),
                    spec.group_by,
                    src,
                )
            elif all(sup_rec[ls] == tips[ls] for ls, _ in legs):
                sup = None  # already advanced (crash recovery): reuse
            else:
                sup = maintain_distinct_support(
                    cat.table(sup_name), span(sup_rec), spec.group_by, src
                )
            if sup is not None:
                if guard_plans:
                    assert_scalable_plan(sup, sup_name, m.allow_nested_loop)
                record = cat._ivm_record(
                    src_id,
                    min(tips.values()),
                    signature=sup_sig,
                    versions=tips if spec.sources else None,
                )
                cat._write_full(sup_name, sup, None, ivm=record)
            if q is None:
                counts = distinct_count_from_support(
                    cat.table(sup_name), spec.group_by, out_col=out
                )
                # a group absent from the support has only NULL values —
                # COUNT(DISTINCT) = 0
                df = _join_at_group_grain(df, counts, [out], fill_zero=True)
            else:
                qcol = quantile_from_support(
                    cat.table(sup_name), spec.group_by, src, q, out_col=out
                )
                # percentile_disc over no non-NULL values is NULL
                df = _join_at_group_grain(df, qcol, [out])
        # algebraic measures: pure functions of the maintained columns,
        # recomputed per refresh (no state of their own); declaration
        # order, so later expressions may use earlier outputs
        # approximate distinct ESTIMATES: recomputed per refresh from the
        # mart-resident sketches (before `derived`, so derived SQL may
        # reference the estimate columns); an absent/NULL sketch is an
        # empty group — COUNT(DISTINCT) = 0
        for out in spec.approx_distinct:
            df = df.withColumn(
                out,
                F.coalesce(
                    F.hll_sketch_estimate(F.col(f"__hll_{out}")), F.lit(0)
                ).cast("long"),
            )
        for out, expr in spec.derived.items():
            df = df.withColumn(out, F.expr(expr))
        if guard_plans:
            assert_scalable_plan(df, m.name, m.allow_nested_loop)
        if m.order_by:
            df = df.sortWithinPartitions(*m.order_by)
        try:
            # the maintained plan lazily reads the mart's CURRENT files
            # while the new content lands in new files; the commit then
            # records the content and THIS refresh's state in one entry
            # (any other write of the mart resets the state)
            record = cat._ivm_record(
                src_id,
                min(tips.values()),
                signature=mart_sig,
                versions=tips if spec.sources else None,
            )
            cat._write_full(
                m.name, df, None, bloom_cols=m.bloom_filter_on, checks=m.checks,
                ivm=record,
            )
            stats = cat.commit_stats(m.name)
            # persist each dim's ENRICHMENT PROJECTION (broadcast-small)
            # beside the mart so the next dim edit can be key-diffed and
            # scoped; skipped when the recorded content already matches
            # (the fps check on read degrades a stale copy to a full
            # rebuild, so write order carries no crash hazard)
            if spec.dims:
                prior_fps = ((state or {}).get("signature") or {}).get(
                    "dim_fps"
                )
                for i, proj in enumerate(dim_frames):
                    ds = _dimstate_name(i)
                    if (
                        prior_fps is None
                        or i >= len(prior_fps)
                        or prior_fps[i] != dim_fps[i]
                        or not cat.exists(ds)
                    ):
                        cat.write_full(ds, proj, None)
        finally:
            for p in scoped_persisted:
                p.unpersist()
        results.append(self._result(m.name, action, t0, stats))

    def stream_ivm(
        self,
        m: Model,
        available_now: bool = True,
        processing_time: str = "10 seconds",
        checkpoint_dir: str | None = None,
        guard_plans: bool = True,
        results: list[RunResult] | None = None,
    ):
        """Continuously maintain an IVM-declared mart from its source's
        CDF STREAM — the productionized form of Delta's readChangeFeed +
        foreachBatch refresh loop.

        The stream is a COMMIT SIGNAL, not the data path: each
        micro-batch triggers one ``_run_ivm`` incremental refresh, which
        reads the stored change span (recorded version → log tip) itself.
        So the loop is idempotent — a replayed micro-batch finds the tip
        unchanged and is a no-op; ``checkpoint_dir`` only saves replay
        work after a restart. The mart is built first if it has never
        been refreshed, so the returned query only ever maintains.

        A UNION mart (``IvmSpec.sources``) gets one listener PER LEG (r10
        VERDICT ask #2), so no leg's commits wait on another's traffic;
        each trigger folds exactly the spans that moved. Triggers are
        serialized through one in-process lock (a refresh
        read-modify-writes the mart and its state).

        Returns the started ``StreamingQuery`` (single-source mart) or
        the list of per-leg queries (union mart); per-trigger
        ``RunResult`` rows accumulate into ``results`` (pass a list to
        observe them).
        """
        from kin_data_pipeline_spark.streaming.cdf_source import (
            stream_table_changes,
        )

        spec = m.ivm
        if spec is None:
            raise ValueError(f"model {m.name} has no ivm declaration")
        legs = _legs(spec)
        sink: list[RunResult] = results if results is not None else []
        if self.catalog.ivm_state(m.name) is None or not self.catalog.exists(
            m.name
        ):
            self._run_ivm(m, "incremental", guard_plans, sink, time.monotonic())
        state = self.catalog.ivm_state(m.name)
        starts = _anchors(state)
        refresh_lock = threading.Lock()

        def step(_batch_df, _batch_id):
            with refresh_lock:
                self._run_ivm(
                    m, "incremental", guard_plans, sink, time.monotonic()
                )

        queries = []
        for i, (src, _t) in enumerate(legs):
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in self.catalog.table(src).schema.fields
            )
            st = stream_table_changes(
                self.spark, self.catalog.warehouse_dir, src, ddl,
                starting_version=starts[src],
            )
            w = st.writeStream.foreachBatch(step)
            if checkpoint_dir is not None:
                # streams cannot share a checkpoint — suffix per leg
                ckpt = (
                    checkpoint_dir
                    if len(legs) == 1
                    else os.path.join(checkpoint_dir, f"leg_{i}_{src}")
                )
                w = w.option("checkpointLocation", ckpt)
            if available_now:
                w = w.trigger(availableNow=True)
            else:
                w = w.trigger(processingTime=processing_time)
            queries.append(w.start())
        return queries if spec.sources else queries[0]

    def run_concurrent(
        self,
        models: Sequence[Model],
        run_date: datetime.date,
        build_type: str = "incremental",
        max_workers: int = 4,
    ) -> list[RunResult]:
        """``run()`` with independent DAG branches materialized in parallel.

        Spark job submission is thread-safe, so sibling models (same
        dependency depth, no edge between them) can write concurrently:
        on a cluster this keeps executors saturated while one model's
        write stalls on I/O; locally the scheduler interleaves their
        stages. Models are grouped into waves by dependency depth — every
        model's upstream tables are fully written before its wave starts —
        and each wave fans out over a thread pool. Results are returned in
        (wave, name) order, so the sequence is as deterministic as
        ``run()``'s.
        """
        from concurrent.futures import ThreadPoolExecutor

        ordered = topo_sort(models)
        names = {m.name for m in ordered}
        depth: dict[str, int] = {}
        for m in ordered:  # topo order ⇒ deps already assigned
            ivm_inputs = (
                (
                    ([m.ivm.source] if m.ivm.source else [])
                    + list(m.ivm.sources)
                    + [d.table for d in m.ivm.dims]
                )
                if m.ivm
                else []
            )
            edges = [
                d
                for d in (*m.depends_on, m.clone_of or "", *ivm_inputs)
                if d in names
            ]
            depth[m.name] = 1 + max((depth[d] for d in edges), default=-1)
        waves: dict[int, list[Model]] = {}
        for m in ordered:
            waves.setdefault(depth[m.name], []).append(m)

        results: list[RunResult] = []
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for level in sorted(waves):
                wave = sorted(waves[level], key=lambda m: m.name)
                done = pool.map(
                    lambda m: self.run([m], run_date, build_type)[0], wave
                )
                results.extend(done)
        return results

    def cleanup(
        self, models: Sequence[Model], cutoff: datetime.date, skip: Sequence[str] = ()
    ) -> dict[str, int]:
        """Reprocessing entry point: drop date partitions >= cutoff so the
        next incremental run refills them (incremental_cleanup.py flow; the
        reference skips ``multi_create_impacted_accounts`` — callers pass
        ``skip`` for the same effect)."""
        out = {}
        for m in models:
            # models without a date axis (bucketed/z-ordered layouts,
            # IVM group-grain marts) have nothing date-keyed to drop —
            # their reprocessing path is a full/IVM rebuild, not a refill
            if m.name in skip or m.clone_of is not None or m.date_col is None:
                continue
            out[m.name] = self.catalog.delete_where_date_ge(
                m.name, m.date_col, cutoff
            )
        return out
