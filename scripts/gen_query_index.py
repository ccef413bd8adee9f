#!/usr/bin/env python
"""Regenerate QUERIES.md — the browsable index of every registered
query/operator (name, module, one-line summary from the docstring,
oracle status). Run from the repo root: python scripts/gen_query_index.py
tests/test_registry.py checks that the committed file equals ``render()``.
"""
from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from distributed_query_engine_spark import registry  # noqa: E402
import distributed_query_engine_spark.plans  # noqa: F401,E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        i = text.find(stop)
        if i > 0:
            return text[: i + 1]
    return text[:160]


OUT = Path(__file__).resolve().parents[1] / "QUERIES.md"


def render() -> str:
    """The text of QUERIES.md for the registry as it stands."""
    rows = []
    for name, fn in sorted(registry._QUERIES.items()):
        mod = getattr(fn, "__module__", "?").rsplit(".", 1)[-1]
        # wrapped functions carry the original __doc__
        rows.append((name, mod, first_sentence(fn.__doc__)))
    lines = [
        "# Query / operator index",
        "",
        f"{len(rows)} registered queries — every one with a DuckDB oracle",
        "(regenerate with `python scripts/gen_query_index.py`).",
        "",
        "| query | module | summary |",
        "|---|---|---|",
    ]
    for name, mod, summary in rows:
        summary = summary.replace("|", "\\|")
        lines.append(f"| `{name}` | {mod} | {summary} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    OUT.write_text(render())
    print(f"wrote {OUT} ({len(registry._QUERIES)} queries)")


if __name__ == "__main__":
    main()
