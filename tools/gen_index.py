"""Generate the README operator index (round-12 verdict #5): 270
registry queries across ~20 modules need a navigable map — operator →
registry name → source file → whether EXPLAIN.md has a plan
section and SCALING.md a measured row.  The table is GENERATED from
the live registry (introspection, not hand-maintenance) and a test
pins README against a fresh render, so the index cannot drift.

Usage: ``python tools/gen_index.py`` rewrites the block between the
BEGIN/END markers in README.md.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BEGIN = "<!-- OPERATOR-INDEX:BEGIN (generated by tools/gen_index.py; do not edit by hand) -->"
END = "<!-- OPERATOR-INDEX:END -->"


def _explained_names() -> set[str]:
    try:
        with open(os.path.join(ROOT, "EXPLAIN.md")) as f:
            doc = f.read()
    except OSError:
        return set()
    return {m.group(1) for m in re.finditer(r"^## (\S+)", doc, re.M)}


def _scaling_names() -> set[str]:
    try:
        with open(os.path.join(ROOT, "SCALING.md")) as f:
            doc = f.read()
    except OSError:
        return set()
    return {
        m.group(1)
        for m in re.finditer(r"^\| (\S+) \|", doc, re.M)
        if m.group(1) not in ("query", "---")
    }


def render_index() -> str:
    from cassandra_extractor_spark.registry import QUERIES

    explained = _explained_names()
    scaled = _scaling_names()
    by_module: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        src = os.path.relpath(inspect.getsourcefile(fn), ROOT)
        by_module.setdefault(src, []).append(name)

    lines = [
        BEGIN,
        "",
        "## Operator index (generated)",
        "",
        f"All {len(QUERIES)} registry queries — every one is oracle-checked",
        "against DuckDB at sf0.01 (`tools/check.py`).  `plan` = a plan",
        "walkthrough exists in `EXPLAIN.md` (anchor = the query name);",
        "`scaling` = a measured row exists in `SCALING.md`.  Surfaces",
        "without a DuckDB oracle by design (streaming gates, sinks,",
        "control plane, live connectors) are inventoried in `SURVEY.md`",
        "§2 and covered by behavior tests instead.  Regenerate with",
        "`python tools/gen_index.py`; `tests/test_readme_index.py` fails",
        "on drift.",
        "",
    ]
    for src in sorted(by_module):
        entries = sorted(by_module[src])
        lines.append(f"### `{src}` — {len(entries)} queries")
        lines.append("")
        lines.append("| query | plan | scaling |")
        lines.append("|---|---|---|")
        for name in entries:
            p = "EXPLAIN" if name in explained else ""
            s = "SCALING" if name in scaled else ""
            lines.append(f"| {name} | {p} | {s} |")
        lines.append("")
    lines.append(END)
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(ROOT, "README.md")
    with open(path) as f:
        doc = f.read()
    block = render_index()
    if BEGIN in doc:
        pre = doc[: doc.index(BEGIN)]
        post = doc[doc.index(END) + len(END) :]
        doc = pre + block + post
    else:
        doc = doc.rstrip() + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(doc)
    print(f"wrote index: {len(block.splitlines())} lines")


if __name__ == "__main__":
    main()
