"""Per-table commit log: the one record of a Catalog table's state.

A table ``<warehouse>/<name>/`` holds its data files in the Hive layout
(``<name>/<date_col>=<value>/part-<job uuid>...parquet``, or flat in the
root; a bucketed write keeps its own directory, the session catalog's
table location) and a log of numbered JSON entries in ``<name>/_log/``.
A write lands in its own hidden staging directory, so concurrent writers
never share Spark's ``_temporary`` directory, and its files are moved
into the layout before the commit; files no entry lists are invisible to
reads. Entry N is published exclusively and whole: it is written under a
temporary name, then hard-linked to its number, which fails if the
number is taken. So two writers that both read entry N-1 cannot both
commit N. The loser rebases onto the new tip when the entries committed
since its read left alone everything it depended on (a blind append,
say), and fails with ``CommitConflict`` otherwise. This is the Delta
Lake commit protocol (Armbrust et al., VLDB 2020) on a local filesystem.

Each entry carries the whole table state, so a read opens the tip only:

- ``files``: the live data files, each ``{"path", "rows", "bytes"}`` plus
  ``"min"``/``"max"`` of the table's date column when the file sits in a
  ``date_col=value`` directory (paths are relative to the table root);
- ``add`` / ``remove``: the paths this commit added and removed;
- ``changes``: the commit's change-data feed, or None when only a
  snapshot diff can answer it. ``kind`` is ``insert`` or ``delete`` when
  ``files`` are plain data files whose rows all changed that way, and
  ``typed`` when they carry a ``_change_type`` column;
- ``props``: schema, date column, bloom columns, CHECK constraints,
  bucket spec, clone source, IVM refresh state and whether history is kept;
- ``version``: on tables that keep history, the version number the table
  is at after this entry; ``meta`` marks entries that changed only props
  and so did not create a version.

Tags (named snapshots) live in ``<name>/_tags/<tag>.json`` and copy the
file list and schema of the entry they name; files a tag names are kept
until the tag is dropped. Everything that reads this layout — the Catalog,
the streaming change-feed source and the Runner's refresh planner — goes
through this module.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote

LOG = "_log"
TAGS = "_tags"
_TMP = ".tmp"


class CommitConflict(RuntimeError):
    """A rewrite lost the race for its log entry to a concurrent commit."""


def _entry_path(root: str, n: int) -> str:
    return os.path.join(root, LOG, f"{n:020d}.json")


def numbers(root: str) -> list[int]:
    """Entry numbers in the table's log, oldest first."""
    try:
        names = os.listdir(os.path.join(root, LOG))
    except OSError:
        return []
    return sorted(int(n[:-5]) for n in names if n.endswith(".json"))


def read(root: str, n: int) -> dict:
    with open(_entry_path(root, n)) as fh:
        return json.load(fh)


def tip(root: str) -> dict | None:
    ns = numbers(root)
    return read(root, ns[-1]) if ns else None


def entries(root: str) -> list[dict]:
    return [read(root, n) for n in numbers(root)]


def _create(path: str, payload: dict) -> bool:
    """Publish ``payload`` as ``path`` unless that name is taken. The
    payload is written and synced under a hidden temporary name, then
    hard-linked to ``path``: the link fails if the name exists, and the
    name appears with its whole content at once. A reader never sees a
    partly written entry, and a crash leaves no entry or a complete one
    (plus, at worst, a temporary file that ``sweep_temps`` removes)."""
    d, base = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex}{_TMP}")
    with open(tmp, "w") as fh:
        fh.write(json.dumps(payload))
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)
    return True


def sweep_temps(root: str, cutoff: float) -> list[str]:
    """Delete temporary entry and tag files (left by a crash inside
    ``_create``) last modified before ``cutoff``; returns their paths
    relative to ``root``."""
    out = []
    for sub in (LOG, TAGS):
        d = os.path.join(root, sub)
        names = os.listdir(d) if os.path.isdir(d) else []
        for n in names:
            p = os.path.join(d, n)
            if n.endswith(_TMP) and os.path.getmtime(p) <= cutoff:
                os.remove(p)
                out.append(f"{sub}/{n}")
    return out


def create(root: str, entry: dict) -> bool:
    """Publish ``entry`` as number ``entry["n"]``; False if it is taken."""
    return _create(_entry_path(root, entry["n"]), entry)


def delete_entries(root: str, ns) -> None:
    for n in ns:
        os.remove(_entry_path(root, n))


def versions(root: str) -> list[dict]:
    """Entries that created a version of a history-keeping table."""
    return [
        e for e in entries(root)
        if e.get("version") is not None and not e.get("meta")
    ]


def part_values(path: str) -> dict:
    """``col=value`` directory values of a data-file path (NULL → None)."""
    out = {}
    for seg in path.split("/")[:-1]:
        if "=" in seg:
            k, raw = seg.split("=", 1)
            out[k] = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
    return out


def _data_files(top: str):
    """Parquet data files under ``top``. Hidden files and dirs
    (``_SUCCESS``, checksums, an aborted ``_temporary``) are not data."""
    for dirpath, dirs, names in os.walk(top):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                yield os.path.join(dirpath, n)


def _record(root: str, rel: str, date_col: str | None) -> dict:
    """A file's entry record: rows from its footer, bytes, and the date
    column's value when the file is partitioned by it."""
    import pyarrow.parquet as pq

    p = os.path.join(root, rel)
    rec = {"path": rel, "rows": pq.read_metadata(p).num_rows, "bytes": os.path.getsize(p)}
    v = part_values(rel).get(date_col) if date_col else None
    if v is not None:
        rec["min"] = rec["max"] = v
    return rec


def file_stats(root: str, rel_dir: str, date_col: str | None) -> list[dict]:
    """Records of the data files under ``root/rel_dir``, left in place."""
    return sorted(
        (
            _record(root, os.path.relpath(p, root).replace(os.sep, "/"), date_col)
            for p in _data_files(os.path.join(root, rel_dir))
        ),
        key=lambda r: r["path"],
    )


def publish(root: str, src: str, date_col: str | None, prefix: str = "") -> list[dict]:
    """Move the data files a write left under ``root/src`` to the same
    relative places under ``root`` (file names carry the write job's
    UUID, so they never collide; ``prefix`` keeps apart two outputs of
    one job) and return their records."""
    out = []
    top = os.path.join(root, src)
    for p in _data_files(top):
        head, name = os.path.split(os.path.relpath(p, top))
        rel = os.path.join(head, prefix + name).replace(os.sep, "/")
        os.makedirs(os.path.join(root, head), exist_ok=True)
        os.rename(p, os.path.join(root, rel))
        out.append(_record(root, rel, date_col))
    return sorted(out, key=lambda r: r["path"])


def change_bytes(root: str, v_from: int, v_to: int) -> int:
    """Bytes of stored change files a ``(v_from, v_to]`` feed read opens."""
    return sum(
        f["bytes"]
        for e in versions(root)
        if v_from < e["version"] <= v_to and e.get("changes")
        for f in e["changes"]["files"]
    )


# --- tags -------------------------------------------------------------------


def _tag_path(root: str, tag: str) -> str:
    return os.path.join(root, TAGS, f"{tag}.json")


def create_tag(root: str, tag: str, record: dict) -> bool:
    return _create(_tag_path(root, tag), record)


def read_tag(root: str, tag: str) -> dict | None:
    try:
        with open(_tag_path(root, tag)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def list_tags(root: str) -> list[str]:
    try:
        names = os.listdir(os.path.join(root, TAGS))
    except OSError:
        return []
    return sorted(n[:-5] for n in names if n.endswith(".json"))


def drop_tag(root: str, tag: str) -> None:
    os.remove(_tag_path(root, tag))


def tagged_files(warehouse: str, table: str) -> set[str]:
    """Files of ``table`` that any tag in the warehouse names. A tag taken
    through a clone alias lives under the alias but pins source files."""
    out: set[str] = set()
    for d in os.listdir(warehouse):
        root = os.path.join(warehouse, d)
        for tag in list_tags(root):
            rec = read_tag(root, tag)
            if rec is not None and rec["table"] == table:
                out.update(f["path"] for f in rec["files"])
    return out
