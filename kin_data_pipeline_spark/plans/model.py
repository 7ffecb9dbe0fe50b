"""Model registry: the engine's replacement for the reference's
filename-ordering "DAG" (execute_snowflake_load.py:34,69-71 encodes
dependencies as mart-list order + alphabetical sort — we make the edges
explicit and topologically sort).

A model is a named DataFrame builder with a cadence and explicit
dependencies; the Runner owns watermarking, DAG order, and writes
(SURVEY.md §3 E1 "Spark engine equivalent").
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

CADENCE_UNITS = {"daily": "day", "weekly": "week", "monthly": "month"}

@dataclass(frozen=True)
class DimJoin:
    """Pre-aggregation dimension enrichment for an IVM mart: ΔF ⨝ D.

    Declares that the mart's derivation joins the (small, broadcastable)
    catalog table ``table`` onto the fact rows BEFORE grouping — the
    fact⨝dim mart shape (the reference's ``dim_kin_app`` enrichment,
    daily_kin_transactions.sql:93-99). The Runner applies the SAME
    broadcast equi-join to base rows on rebuild and to change rows on
    every incremental refresh; with the dim held fixed, the join maps
    each fact row to a row set that depends only on that row, so it
    commutes with the change feed's multiset diff and delta-join
    maintenance (ΔF ⨝ D) is exact. Joined-in columns may serve as group
    keys (group by ``app_name``), measure sources, or filter inputs of a
    later dim's keys.

    Dim CHANGES are handled explicitly, not silently: the Runner
    fingerprints the enrichment projection's content (row count +
    multiplicity-aware order-independent hash) into the mart's recorded
    state. When it no longer matches, the refresh is a dim-delta SCOPED
    rebuild (action 'ivm_dim'): the persisted old projection
    (``{mart}__dimstate_{i}``, content-verified against the recorded
    fingerprint so a crash-stale copy degrades safely) is key-diffed
    against the new one, unaffected groups survive verbatim — their
    keys' dim rows are identical, so every dim-derived value of their
    fact rows is unchanged — and only the affected groups recompute
    from the live base. When the dim's fact-side KEYS sit in the mart
    grain (``group_by ⊇ keys``) the affected set is marked at key grain
    with no base pass: O(affected rows + changes + agg). When the grain
    OMITS a join key (e.g. group by the dim's label only), the affected
    groups are found through one extra base ⋉ changed-keys pass at fact
    grain, under both the old and the new dim content (a relabel moves
    rows into fresh groups; a span delete still dirties its old group)
    — one key-pruned base scan instead of a full shuffle+agg rebuild.
    Only an unreadable or crash-stale dimstate degrades to the declared
    FULL rebuild — still never a wrong mart.

    ``keys``: the equi-join keys — a sequence of column names present on
    both sides (post ``row_transform`` on the fact side), or a mapping
    fact column → dim column when the dim names them differently
    (``{"app_id": "id"}``). ``select`` maps appended output column → dim
    column (None = every non-key dim column, named as-is). ``how``:
    'left' (default — unmatched fact rows keep NULL dim columns) or
    'inner' (unmatched fact rows drop; a per-row decision under a fixed
    dim, so still sound).
    """

    table: str
    keys: Any  # Sequence[fact_col] | Mapping[fact_col, dim_col]
    select: Any = None  # Mapping[out_col, dim_col] | None
    how: str = "left"

    def key_map(self) -> dict:
        """Normalized fact column → dim column join keys."""
        from collections.abc import Mapping as _Mapping

        if isinstance(self.keys, _Mapping):
            return dict(self.keys)
        return {k: k for k in self.keys}

@dataclass(frozen=True)
class IvmSpec:
    """Incremental-view-maintenance refresh declaration for a rollup mart.

    A model carrying one is maintained from its VERSIONED source table's
    change feed (``Catalog.table_changes(last_refreshed, tip)`` →
    ``operators/incremental.py::maintain_aggregate``) instead of being
    rebuilt: per refresh the Runner reads changelog-sized parquet plus the
    agg-sized mart — the base table is never rescanned, so refresh cost is
    O(|changes| + |agg|) where the reference re-runs the full CREATE OR
    REPLACE aggregation every cron tick (execute_snowflake_load.py:89-91).

    ``row_transform`` is the mart's row-level derivation (projection,
    filters, unit scaling) applied identically to base rows and change
    rows. It must be ROW-LOCAL — per-row column math and filters only
    (both commute with the multiset diff the CDF carries); aggregation,
    joins, windows, sorts, or limits would not, and the Runner rejects
    such a plan before any write. It must also pass the CDF's
    ``_change_type`` column through when present (additive
    ``withColumn``/``filter`` style does so automatically).

    ``measures`` maps output SUM column → source column (post-transform);
    the maintained shape is COUNT(*) AS ``count_col`` plus
    SUM(COALESCE(src, 0)) per measure — exactly
    ``operators/incremental.py::aggregate_base``.

    ``distinct_counts`` maps output column → source column for exact
    COUNT(DISTINCT src) measures — the non-distributive class. Each one
    is maintained through a PERSISTED auxiliary support table
    ``{mart}__support_{out}`` holding the (group, value) → multiplicity
    multiset (``operators/incremental.py::distinct_support``), rolled
    forward from the same change feed; the mart's distinct-count column
    derives as a support row count. Support state is value-cardinality-
    sized — the known cost of EXACT distinct IVM (approximate
    alternatives live in the sketch tier).

    ``minmax`` maps source column → (min_out, max_out) for exact MIN/MAX
    measures — the hybrid class: inserts improve extrema delta-only, but
    a delete reaching a stored extremum rebuilds exactly the affected
    groups via a semi-join-scoped scan of the live source
    (``operators/incremental.py::maintain_minmax``). The extrema live in
    the mart's own columns, so their state rides the mart's single
    atomic write. Steady state without extremum deletes never reads the
    base: a bounded driver probe of the (state ⋈ delta)-grain dirty set
    elides the rebuild branch from the plan when it is empty (AQE does
    NOT collapse an empty-build LeftSemi at runtime — verified).

    ``derived`` maps output column → SQL expression over the mart's
    OWN columns (group keys, count_col, measures, distinct counts,
    extrema), recomputed after every refresh — the algebraic measures
    that need no extra state because they are pure functions of the
    maintained ones (AVG = sum/count is the classic; ratios, spreads).
    Evaluated in declaration order, so later expressions may reference
    earlier derived columns.
    """

    source: str | None = None
    group_by: Sequence[str] = field(default_factory=tuple)
    measures: Any = field(default_factory=dict)  # Mapping[out_col, src_col]
    count_col: str = "n_rows"
    row_transform: Callable[[Any], Any] | None = None
    distinct_counts: Any = field(default_factory=dict)  # Mapping[out, src]
    minmax: Any = field(default_factory=dict)  # Mapping[src, (min_out, max_out)]
    derived: Any = field(default_factory=dict)  # Mapping[out_col, sql_expr]
    # Pre-aggregation broadcast dim joins (ΔF ⨝ D), applied AFTER
    # row_transform in declaration order — see DimJoin.
    dims: Sequence[DimJoin] = field(default_factory=tuple)
    # MULTI-SOURCE form (exclusive with ``source``/``row_transform``):
    # the mart is a rollup over the UNION ALL of several versioned
    # sources' row-local projections — the reference's U1/U2
    # observation-union shapes (closing/average balance marts unioning
    # from/to/created streams). Maps source table → that leg's row-local
    # transform (None = identity); every leg must project the SAME
    # column surface (group keys, measure sources, and the CDF's
    # _change_type passthrough — unionByName raises on mismatch). The
    # union commutes with each source's multiset diff, so the refresh
    # folds each leg's change span independently, ANCHORED PER SOURCE in
    # the recorded state — one lagging source never blocks or replays
    # another's span. Dims apply after the leg transform, to the common
    # schema.
    sources: Any = field(default_factory=dict)  # Mapping[src, Callable|None]
    # Maintained HOLISTIC quantiles: output column → (source column, q).
    # Each rides a persisted (group, value) → multiplicity support table
    # (same turnstile structure as distinct_counts, one per output), so
    # the quantile is exact under inserts AND deletes — the capability
    # one-way mergeable sketches (t-digest/KLL) cannot provide, having no
    # subtract. Semantics are SQL percentile_disc (smallest actual value
    # whose cumulative share reaches q; NULLs excluded; NULL for empty
    # groups). State is value-cardinality-sized: for unbounded domains,
    # quantize the value in row_transform (bin width = error bound) —
    # the documented APPROXIMATE alternative to the exact-median builder
    # boundary.
    quantiles: Any = field(default_factory=dict)  # Mapping[out, (src, q)]
    # APPROXIMATE distinct counts (HLL sketch) — the declared alternative
    # to the exact turnstile supports where exactness is waived (r10
    # VERDICT stretch 7b): output column → source column. State is a
    # mart-resident binary sketch column (``__hll_{out}``, ~KB per group
    # — CONSTANT where the exact support is value-cardinality-sized, and
    # it rides the mart's single atomic write). Inserts merge into the
    # sketch delta-only; deletes re-sketch exactly the affected groups
    # from the live base (HLL has no subtract — the hybrid treatment,
    # same as minmax), with the base branch probe-elided on insert-only
    # spans. The estimate column is recomputed per refresh; standard HLL
    # relative error (~2% at the default lgConfigK), pinned by test.
    approx_distinct: Any = field(default_factory=dict)  # Mapping[out, src]

@dataclass(frozen=True)
class Model:
    """One materialized table.

    ``builder(ctx)`` receives a build context (``ctx.spark``, ``ctx.table``
    for upstream reads, ``ctx.run_date``) and returns the model DataFrame.
    ``clone_of`` models skip the builder entirely — they are catalog-level
    aliases (the zero-copy CLONE of the reference, S7).
    """

    name: str
    builder: Callable[[Any], Any] | None = None
    cadence: str = "daily"  # daily | weekly | monthly
    depends_on: Sequence[str] = field(default_factory=tuple)
    date_col: str = "date_key"
    clone_of: str | None = None
    # Opt the materialized table into versioned writes: the Runner calls
    # Catalog.enable_versioning right after the model's first write, so
    # downstream IVM-declared marts can name it as their change-feed
    # source within the same DAG. Subsequent watermark appends then
    # commit changelog-sized versions the IVM refresh consumes.
    versioned: bool = False
    # O1: the reference ORDER BYs on materialization (37 sites) — cosmetic
    # clustering of stored tables. Optional here; costs a sort before write.
    order_by: Sequence[str] = field(default_factory=tuple)
    # Data-quality contract (plans/checks.py): enforced by the write of
    # exactly the frame being landed (the delta on incremental runs), so a
    # violated contract fails the write and commits nothing.
    checks: Sequence[Any] = field(default_factory=tuple)
    # Plan-guard declaration (plans/guard.py): a model whose builder
    # INTENDS a broadcast nested-loop scan (linear corpus × tiny broadcast,
    # e.g. centroid assignment) opts in here; everything else aborts if one
    # appears in its compiled plan.
    allow_nested_loop: bool = False
    # Bucketed layout (Catalog.write_bucketed): tables that meet in
    # repeated equi-joins declare their join key here — downstream reads
    # then sort-merge-join with no shuffle on either side. Bucketed models
    # always FULL-refresh (appending unbucketed files would silently break
    # the layout; Spark's insertInto does not re-bucket) and are mutually
    # exclusive with date partitioning: pick the pruning axis (date_col)
    # OR the co-location axis (bucket_by) per table — declaring both
    # raises, because date-keyed cleanup/watermarking silently would not
    # apply to the bucketed layout.
    bucket_by: Sequence[str] = field(default_factory=tuple)
    n_buckets: int = 8
    # Z-order layout (Catalog.write_zordered): tables scanned with
    # selective predicates on TWO numeric columns declare them here; the
    # files are written along the Morton curve so both columns carry tight
    # per-file min/max and a 2-D box predicate prunes from footers alone.
    # Like bucket_by, the layout survives only full rewrites (an appended
    # file spans the whole space), so z-ordered models always full-refresh
    # and are exclusive with date partitioning AND with bucketing (one
    # layout axis per table).
    zorder_by: Sequence[str] = field(default_factory=tuple)
    n_zfiles: int = 16
    # Parquet bloom filters (Catalog write option): tables probed by
    # point-lookup equality on a high-cardinality key (wallet id, doc id)
    # declare it here — each written file carries a bloom bitset for the
    # column, and an `id = X` scan skips whole row groups from footers
    # alone, the third skipping axis beside date partitioning (range) and
    # z-order (2-D box). Unlike bucketing/z-order this COMPOSES with date
    # partitioning and appends: every file carries its own filter, so
    # incremental writes keep the layout valid (the Catalog records the
    # declaration in the table's log, so maintenance rewrites — upsert,
    # compaction, streaming micro-batch appends — inherit it instead of
    # silently stripping the bitsets). Exclusive with bucket_by/zorder_by
    # (those writers do not thread parquet options; declaring both
    # raises). Costs write-side space (~bits per distinct value per
    # file) — declare only for keys that are actually point-probed.
    bloom_filter_on: Sequence[str] = field(default_factory=tuple)
    # Incremental-view-maintenance refresh (IvmSpec): the Runner maintains
    # this mart from its versioned source's change feed instead of
    # rebuilding it. Replaces the builder (the derivation lives in the
    # spec's row_transform + group_by/measures so it can be applied to
    # change rows too); exclusive with date_col (the mart is group-grain —
    # the CDF, not a date watermark, is its delta axis) and with the
    # full-rewrite layouts (bucket_by / zorder_by).
    ivm: IvmSpec | None = None

    def __post_init__(self):
        if self.cadence not in CADENCE_UNITS:
            raise ValueError(f"bad cadence {self.cadence!r} for model {self.name}")
        declared = sum(
            x is not None for x in (self.builder, self.clone_of, self.ivm)
        )
        if declared != 1:
            raise ValueError(
                f"model {self.name}: exactly one of builder/clone_of/ivm "
                "required"
            )
        if self.ivm is not None:
            if self.date_col is not None:
                raise ValueError(
                    f"model {self.name}: ivm requires date_col=None — the "
                    "maintained mart is group-grain; its delta axis is the "
                    "source's change feed, not a date watermark"
                )
            if self.bucket_by or self.zorder_by:
                raise ValueError(
                    f"model {self.name}: ivm is exclusive with bucket_by/"
                    "zorder_by — those layouts force full rewrites, which "
                    "defeats changelog-sized maintenance"
                )
            if not self.ivm.group_by:
                raise ValueError(
                    f"model {self.name}: ivm.group_by must name at least "
                    "one grouping column"
                )
            if bool(self.ivm.source) == bool(self.ivm.sources):
                raise ValueError(
                    f"model {self.name}: ivm needs exactly one of source "
                    "(single-table rollup) or sources (union-of-legs)"
                )
            if self.ivm.sources and self.ivm.row_transform is not None:
                raise ValueError(
                    f"model {self.name}: with ivm.sources each leg "
                    "carries its own transform — row_transform must be "
                    "None"
                )
            mm_outs = [c for pair in self.ivm.minmax.values() for c in pair]
            outs = [
                self.ivm.count_col,
                *self.ivm.measures,
                *self.ivm.distinct_counts,
                *mm_outs,
                *self.ivm.quantiles,
                *self.ivm.approx_distinct,
                *self.ivm.derived,
            ]
            for out, (qsrc, q) in dict(self.ivm.quantiles).items():
                if not (0.0 < float(q) <= 1.0):
                    raise ValueError(
                        f"model {self.name}: ivm.quantiles[{out!r}] q "
                        f"must be in (0, 1], got {q!r}"
                    )
            dupes = sorted({o for o in outs if outs.count(o) > 1})
            if dupes:
                raise ValueError(
                    f"model {self.name}: ivm output columns collide: "
                    f"{dupes} (count_col, measures, distinct_counts and "
                    "minmax outputs must all be distinct)"
                )
            shadowed = sorted(set(outs) & set(self.ivm.group_by))
            if shadowed:
                raise ValueError(
                    f"model {self.name}: ivm output columns {shadowed} "
                    "shadow grouping keys — the refresh's withColumn/"
                    "select would silently overwrite the mart's keys"
                )
            for d in self.ivm.dims:
                if d.how not in ("left", "inner"):
                    raise ValueError(
                        f"model {self.name}: ivm dim '{d.table}' how must "
                        f"be 'left' or 'inner', got {d.how!r}"
                    )
                if not d.keys:
                    raise ValueError(
                        f"model {self.name}: ivm dim '{d.table}' needs at "
                        "least one join key"
                    )
                added = list(d.select) if d.select is not None else []
                hit = sorted(set(added) & set(outs))
                if hit:
                    raise ValueError(
                        f"model {self.name}: ivm dim '{d.table}' columns "
                        f"{hit} collide with maintained output columns"
                    )
            for src, pair in self.ivm.minmax.items():
                if len(tuple(pair)) != 2:
                    raise ValueError(
                        f"model {self.name}: ivm.minmax[{src!r}] must be "
                        "a (min_out, max_out) pair"
                    )
        if self.versioned and (self.clone_of or self.bucket_by):
            raise ValueError(
                f"model {self.name}: versioned=True is incompatible with "
                "clone_of/bucket_by — Catalog.enable_versioning refuses "
                "aliases and bucketed layouts (versions must pin data)"
            )
        if self.bucket_by and self.date_col is not None:
            raise ValueError(
                f"model {self.name}: bucket_by and date_col are mutually "
                "exclusive — the bucketed layout is not date-partitioned, so "
                "watermark/cleanup semantics would silently not apply. Set "
                "date_col=None for bucketed models."
            )
        if self.zorder_by:
            if len(self.zorder_by) != 2:
                raise ValueError(
                    f"model {self.name}: zorder_by takes exactly two numeric "
                    "columns (the Morton curve interleaves two dimensions)"
                )
            if self.bucket_by:
                raise ValueError(
                    f"model {self.name}: zorder_by and bucket_by are mutually "
                    "exclusive — pick the co-location axis or the 2-D "
                    "skipping axis per table"
                )
            if self.date_col is not None:
                raise ValueError(
                    f"model {self.name}: zorder_by requires date_col=None — "
                    "the z-ordered layout is rebuilt whole; date watermark/"
                    "cleanup semantics would silently not apply"
                )
        if self.bloom_filter_on and (self.bucket_by or self.zorder_by):
            # The bucketed/z-ordered writers do not thread parquet bloom
            # options; accepting the combination would silently ignore the
            # bloom declaration. Raise until those writers support it.
            raise ValueError(
                f"model {self.name}: bloom_filter_on is not supported "
                "together with bucket_by/zorder_by — the declaration would "
                "be silently ignored on those write paths"
            )

def topo_sort(models: Sequence[Model]) -> list[Model]:
    """Dependency-ordered build list; raises on cycles/unknown deps.

    Deterministic: ready models are emitted in name order (stable across
    runs, unlike the reference's path-sort which silently reorders when
    files move between marts).
    """
    by_name = {m.name: m for m in models}
    deps: dict[str, set[str]] = {}
    for m in models:
        edges = set(m.depends_on) | (
            {m.clone_of} if m.clone_of else set()
        )
        if m.ivm:
            # implicit IVM inputs: the change-feed source(s) and every
            # enrichment dim — a maintained mart must build after them
            # even when the author forgot the explicit depends_on
            if m.ivm.source:
                edges.add(m.ivm.source)
            edges |= set(m.ivm.sources)
            edges |= {d.table for d in m.ivm.dims}
        unknown = edges - by_name.keys()
        # External sources (raw tables) are legal dependencies — only edges
        # naming another registered model constrain ordering.
        deps[m.name] = edges - unknown
    out: list[Model] = []
    done: set[str] = set()
    while len(out) < len(models):
        ready = sorted(
            n for n, d in deps.items() if n not in done and d <= done
        )
        if not ready:
            cycle = sorted(set(deps) - done)
            raise ValueError(f"dependency cycle among models: {cycle}")
        for n in ready:
            out.append(by_name[n])
            done.add(n)
    return out

_REGISTRY: dict[str, Model] = {}

def model(
    name: str,
    cadence: str = "daily",
    depends_on: Sequence[str] = (),
    date_col: str = "date_key",
):
    """Decorator registering a model builder in the global registry."""

    def wrap(fn):
        _REGISTRY[name] = Model(
            name=name,
            builder=fn,
            cadence=cadence,
            depends_on=tuple(depends_on),
            date_col=date_col,
        )
        return fn

    return wrap

def registered_models() -> dict[str, Model]:
    return dict(_REGISTRY)
