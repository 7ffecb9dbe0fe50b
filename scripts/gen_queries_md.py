"""Regenerate QUERIES.md from the query registry.

    python scripts/gen_queries_md.py

`tests/test_registry_window.py::test_queries_md_matches_registry` fails
when the committed index differs from ``render()`` — a registry change, a
round bump or a recomposed window; run this to bring it back.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def render() -> str:
    """The QUERIES.md text for the current registry, round and window."""
    from kin_data_pipeline_spark.queries import CURRENT_WINDOW_HEAD, QUERIES, ROUND

    n_oracles = sum(1 for s in QUERIES.values() if s.oracle)
    lines = [
        "# QUERIES — the registered operator inventory",
        "",
        "Auto-generated from `kin_data_pipeline_spark/queries/` (regenerate with",
        "`python scripts/gen_queries_md.py`). One row per",
        "registered query: the driver runs the Spark callable and the DuckDB",
        "oracle side-by-side at sf0.01 and compares rows/schema/value-hash.",
        f"{len(QUERIES)} queries, {n_oracles} oracles"
        + (
            " (every registered query is oracle-checked; the sketch tier "
            "emits exact-value + within-error-bound terminals)."
            if n_oracles == len(QUERIES)
            else " (rows-only: "
            + ", ".join(f"`{n}`" for n, s in sorted(QUERIES.items()) if not s.oracle)
            + ")."
        ),
        f"Entries marked `[w]` sit in the round-{ROUND} driver window (first 50).",
        "",
        "| Query | In | Description |",
        "|---|---|---|",
    ]
    win = set(CURRENT_WINDOW_HEAD)
    for n, s in QUERIES.items():
        mark = "w" if n in win else ""
        doc = (s.doc or "").replace("|", "\\|")
        lines.append(f"| `{n}` | {mark} | {doc} |")
    return "\n".join(lines) + "\n"

def main() -> None:
    from kin_data_pipeline_spark.queries import QUERIES

    with open(os.path.join(REPO, "QUERIES.md"), "w") as fh:
        fh.write(render())
    print(f"wrote QUERIES.md with {len(QUERIES)} queries")

if __name__ == "__main__":
    main()
