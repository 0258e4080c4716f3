"""No package code that no entry point reaches, beyond a named allowlist.

An AST walk (no Spark, no imports of the package) starts from the
entry points: ``__spark_entry__.py``, the bench, the benchmark harness,
the tools, and the registry / CLI / control-plane modules inside the
package.  A reached def reaches every package def whose name it
mentions: as a name, an attribute, an import alias or a non-docstring
string constant.  Module-level statements other than defs and imports
run on import and count as reached.  Resolving by bare name is coarse
on purpose: a name clash can only hide dead code, never flag live code.

The unreached set must equal ``ALLOWED_UNREACHED`` exactly, so a new
orphan fails this test, and so does an allowlisted def that became
reachable or was deleted (its entry must go too).
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = "cassandra_extractor_spark"

#: files outside the package whose every statement is reachable
ENTRY_GLOBS = ("bench.py", "__spark_entry__.py", "perfbench/*.py", "tools/*.py")
#: package modules whose every def is reachable
ENTRY_MODULES = ("registry.py", "app.py", "actuator.py")

#: defs no entry point reaches, kept on purpose (module → names)
ALLOWED_UNREACHED = {
    # the reference's JDBC sink and Cassandra source, not wired yet
    "sinks/jdbc.py": {
        "JdbcSinkConfig", "partition_ddl", "distinct_partition_values",
        "ensure_partitions", "write_jdbc",
    },
    "sources/cassandra.py": {"CassandraSource", "read_cassandra"},
    # the reference's JSON-array file sink, not wired yet
    "sinks/jsonl.py": {"write_json_array_file"},
    # public API of the four streaming stores, with what only it calls
    "streaming/cdc_stream.py": {"stream_cdc_apply", "merge_cdc_batch"},
    "streaming/posting_stream.py": {"stream_posting_ingest", "boolean_query_against_store"},
    "streaming/ann_stream.py": {"stream_ann_ingest"},
    "streaming/dedup_stream.py": {"stream_incremental_dedup"},
    # drop memoized table plans after rewriting a table directory in place
    "sources/catalog.py": {"invalidate_table_cache"},
    # reference implementations the tests check live operators against
    "operators/text.py": {"token_stream"},
    "operators/dedup.py": {"lsh_candidate_pairs"},
    "operators/similarity.py": {"lsh_bucket"},
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, *_DEF))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


class _File:
    def __init__(self, path: Path):
        self.tree = ast.parse(path.read_text(encoding="utf-8"))
        self.docstrings = _docstrings(self.tree)
        self.aliases = {
            a.asname: a.name
            for node in ast.walk(self.tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }

    def names(self, node: ast.AST) -> set[str]:
        """Every name ``node`` mentions, import aliases resolved."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(self.aliases.get(n.id, n.id))
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.isidentifier()
                and id(n) not in self.docstrings
            ):
                out.add(n.value)
        return out


def unreached_defs(root: Path) -> dict[str, set[str]]:
    """Module (relative to the package) → module-level defs no entry
    point reaches."""
    pkg = root / PACKAGE
    files = {p.relative_to(pkg).as_posix(): _File(p) for p in sorted(pkg.rglob("*.py"))}
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for mod, f in files.items():
        for node in f.tree.body:
            if isinstance(node, _DEF):
                defs.setdefault(node.name, []).append((mod, node))

    reached: set[tuple[str, str]] = set()
    todo: list[str] = []
    for pattern in ENTRY_GLOBS:
        for path in sorted(root.glob(pattern)):
            f = _File(path)
            todo += f.names(f.tree)
    for mod, f in files.items():
        for node in f.tree.body:
            if isinstance(node, _DEF) and mod in ENTRY_MODULES:
                todo.append(node.name)
            elif not isinstance(node, (*_DEF, ast.Import, ast.ImportFrom)):
                todo += f.names(node)

    while todo:
        for mod, node in defs.get(todo.pop(), ()):
            if (mod, node.name) not in reached:
                reached.add((mod, node.name))
                todo += files[mod].names(node)

    out: dict[str, set[str]] = {}
    for name, sites in defs.items():
        for mod, _ in sites:
            if (mod, name) not in reached:
                out.setdefault(mod, set()).add(name)
    return out


def test_unreached_defs_are_exactly_the_allowlist(repo_root):
    assert unreached_defs(repo_root) == ALLOWED_UNREACHED


def test_walk_finds_an_orphan(tmp_path):
    """The walk itself: a def only a docstring or a re-export names is
    unreached; one an entry module calls, and what that calls, is not."""
    pkg = tmp_path / PACKAGE
    (pkg / "operators").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from .operators.ops import orphan  # noqa: F401\n")
    (pkg / "operators" / "ops.py").write_text(
        "def used():\n    return helper()\n\n\n"
        "def helper():\n    return 1\n\n\n"
        "def orphan():\n    return 2\n"
    )
    (pkg / "registry.py").write_text(
        "from .operators.ops import used as u\n\n\n"
        "def query():\n    '''Unlike orphan, this runs.'''\n    return u()\n"
    )
    (tmp_path / "__spark_entry__.py").write_text("")
    assert unreached_defs(tmp_path) == {"operators/ops.py": {"orphan"}}
