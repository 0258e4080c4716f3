"""The README operator index is generated (tools/gen_index.py) and
must match a fresh render of the live registry — a renamed, added, or
re-homed (moved to another module) query that skips regeneration fails
here, so the index cannot drift from the code.  Line numbers are not
part of the index, so an edit inside a module never stales it."""

from __future__ import annotations

import os

from tools.gen_index import BEGIN, END, render_index

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_index_is_current():
    with open(os.path.join(ROOT, "README.md")) as f:
        doc = f.read()
    assert BEGIN in doc and END in doc, "index block missing from README"
    current = doc[doc.index(BEGIN) : doc.index(END) + len(END)]
    assert current == render_index(), (
        "README operator index is stale — run `python tools/gen_index.py`"
    )


def test_readme_index_covers_every_registry_entry():
    from cassandra_extractor_spark.registry import QUERIES

    block = render_index()
    missing = [n for n in QUERIES if f"| {n} |" not in block]
    assert not missing, missing
